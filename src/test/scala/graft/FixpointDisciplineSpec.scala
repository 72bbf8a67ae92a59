package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

/** Build gate for the min-label driver loop: staging, the changed count
  * and the cap derived from the row count live once, in
  * `util/Fixpoint.scala`. A hand-written copy can again stop at a
  * constant cap and return unconverged labels without saying so.
  *
  * Textual on purpose, like [[QuantizerDisciplineSpec]]: whitespace is
  * collapsed first, so a copy split across lines is still found. */
class FixpointDisciplineSpec extends AnyFunSuite {

  private val patterns = Seq("while (changed", "coalesce(sum(\"chg\")")

  test("every label-propagation loop runs through util/Fixpoint.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala") && rel != "graft/util/Fixpoint.scala") {
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        val text = try src.mkString.replaceAll("\\s+", " ") finally src.close()
        for (pat <- patterns; _ <- 1 to Pattern.quote(pat).r.findAllIn(text).size)
          found += ((rel, pat))
      }
    }
    assert(found.isEmpty, "driver fixpoint loops outside util/Fixpoint.scala — " +
      "call Fixpoint.labels instead:\n  " +
      found.map { case (f, p) => s"$f: `$p`" }.mkString("\n  "))
  }
}
