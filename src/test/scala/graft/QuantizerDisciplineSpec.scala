package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

/** Build gate for the oracle-parity number rules: each has one
  * definition in `util/Det.scala` (PARITY.md §2–§4). A hand-written copy
  * can drift from it unnoticed: a double-literal and an int-literal
  * spelling of the same quantize multiply a DECIMAL argument in
  * different types.
  * This scan fails on any copy outside Det.
  *
  * Textual on purpose, like [[WindowDisciplineSpec]]: whitespace is
  * collapsed first, so a copy split across lines is still found. */
class QuantizerDisciplineSpec extends AnyFunSuite {

  /** (pattern, the Det definition to call instead). */
  private val rules: Seq[(String, String)] = Seq(
    "lit(1000000.0) + lit(0.5)) / lit(1000000.0)" -> "Det.q6 (cast the argument to double)",
    "* 1000000 + lit(0.5)) / 1000000" -> "Det.q6",
    "* 1000000 + lit(0.5)).cast(\"long\")" -> "Det.micro",
    "* lit(1000000.0) + lit(0.5)).cast(\"long\")" -> "Det.micro",
    "DecimalType(24, 6)) * lit(1000000)).cast(\"long\")" -> "Det.microExact",
    "DecimalType(38, 0)" -> "Det.Dec0",
    "DecimalType(30, 12))).cast(\"double\")" -> "Det.dsumWide",
    "val qln =" -> "Det.qln",
    "def qln(" -> "Det.qln",
    "val q6 =" -> "Det.q6")

  /** (file, pattern) sites that look like a copy but implement a
    * different rule, each with its reason. */
  private val allowed: Seq[(String, String)] = Seq(
    // ln kept in DOUBLE (no DECIMAL(18,6) cast): the woe terms combine in IEEE
    ("graft/ops/Evaluation.scala", "val qln ="))

  test("every parity number rule is defined once, in util/Det.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala") && rel != "graft/util/Det.scala") {
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        val text = try src.mkString.replaceAll("\\s+", " ") finally src.close()
        for ((pat, _) <- rules; _ <- 1 to Pattern.quote(pat).r.findAllIn(text).size)
          found += ((rel, pat))
      }
    }
    val extra = found.toSeq.diff(allowed)
    val missing = allowed.diff(found.toSeq)
    assert(extra.isEmpty, "copies of a Det parity rule — call Det instead:\n  " +
      extra.map { case (f, p) => s"$f: `$p` -> ${rules.toMap.apply(p)}" }.mkString("\n  "))
    assert(missing.isEmpty, s"allowlist is stale — prune it:\n  ${missing.mkString("\n  ")}")
  }
}
