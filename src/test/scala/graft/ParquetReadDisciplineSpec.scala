package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

/** Build gate for the one Parquet reader: `Tables.parquet` infers each
  * table's schema once and declares it on every read, so a read runs no
  * schema-inference job. An inferred `read.parquet(` elsewhere runs that
  * job on every call. This scan fails on one outside `Tables.scala`.
  *
  * Textual on purpose, like [[QuantizerDisciplineSpec]]: whitespace is
  * removed first, so a read split across lines is still found. */
class ParquetReadDisciplineSpec extends AnyFunSuite {

  private val Pat = "read.parquet("

  /** Files that may read Parquet inferred, each with its reason. */
  private val allowed: Seq[String] = Seq(
    // dev tool: reads each source table once to write a rescaled fixture
    "graft/ScaleGen.scala")

  test("every Parquet read outside the dev tools goes through Tables.parquet") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala") && rel != "graft/Tables.scala") {
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        val text = try src.mkString.replaceAll("\\s+", "") finally src.close()
        for (_ <- 1 to Pattern.quote(Pat).r.findAllIn(text).size) found += rel
      }
    }
    val extra = found.toSeq.diff(allowed)
    val missing = allowed.diff(found.toSeq)
    assert(extra.isEmpty, "inferred Parquet reads — call Tables.parquet instead:\n  " +
      extra.mkString("\n  "))
    assert(missing.isEmpty, s"allowlist is stale — prune it:\n  ${missing.mkString("\n  ")}")
  }
}
