package graft

import org.scalatest.funsuite.AnyFunSuite

/** Build gate for the unpartitioned-window discipline (VERDICT round-8
  * item 5): `Window.orderBy(...)` with no `partitionBy`, an empty
  * `Window.partitionBy()`, and a splatted `partitionBy(keys: _*)` whose
  * key list can be empty all move ALL rows to one partition — safe only
  * when the windowed frame is DOMAIN-BOUNDED
  * (a calendar, a bucket grid, a distinct-value summary), never when it
  * is data-proportional. Every allowed site is enumerated below with its
  * bound; an edit that adds an unlisted unpartitioned window (or moves
  * one to an unvetted shape) fails this spec and must either partition
  * the window or register the new site WITH its domain bound.
  *
  * The scan is textual on purpose: it runs in milliseconds, needs no
  * Spark session, and catches the site at build time — the plan-level
  * complement is PlanBudgetSpec's exchange budgets.
  */
class WindowDisciplineSpec extends AnyFunSuite {

  /** (file, trimmed source line) for every allowed `Window.orderBy(`,
    * `Window.partitionBy()` and splatted `partitionBy(…: _*)` —
    * duplicates listed once per occurrence. The comment states the bound
    * that makes the single-partition sort safe at any input scale. */
  private val allowed: Seq[(String, String)] = Seq(
    // distinct metric values of a <=50-row summary frame (the rank
    // window and the frame total over the same frame)
    ("graft/ops/Aggregations.scala", """val w = Window.orderBy(metric)"""),
    ("graft/ops/Aggregations.scala", """.withColumn("n", sum("cnt").over(Window.partitionBy()))"""),
    // 10 quantile buckets
    ("graft/ops/Curation.scala", """val w = Window.orderBy(col("bucket").desc)"""),
    // p_size domain (<= 50 distinct values)
    ("graft/ops/Evaluation.scala", """val w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)"""),
    // 10 calibration bins
    ("graft/ops/Evaluation.scala", """val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)"""),
    // 10 gain deciles
    ("graft/ops/Evaluation.scala", """val wd = Window.orderBy(col("bin").desc)"""),
    // IV total over <= 10 score bins
    ("graft/ops/Evaluation.scala", """sum(ivTerm).over(Window.partitionBy()).cast("double"))"""),
    // distinct n_chars values of the scored summary (value domain)
    ("graft/ops/Evaluation.scala", """val w = Window.orderBy("v")"""),
    // 24 hours of day
    ("graft/ops/EventTime.scala", """val w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)"""),
    // top paths of a bounded trigram summary
    ("graft/ops/EventTime.scala", """val wr = Window.orderBy(col("n").desc, col("path").asc)"""),
    // one row per quantizer CELL (model-state frame: k centroids,
    // k << corpus by construction — the IVF broadcastable-state bound)
    ("graft/ops/Similarity.scala", """val wq = Window.orderBy(col("n_members").desc, col("cid").asc)"""),
    // one kilobyte-blob row per MONTH (calendar-bounded)
    ("graft/ops/Sketches.scala", """val w = org.apache.spark.sql.expressions.Window.orderBy("month")"""),
    // daily aggregates (calendar-bounded)
    ("graft/ops/Statistics.scala", """val wd = Window.orderBy("day")"""),
    ("graft/ops/Statistics.scala", """val wd = Window.orderBy("day")"""),
    ("graft/ops/Statistics.scala", """val w = Window.orderBy("day")"""),
    // distinct survival durations (value domain of a day count); the
    // risk-set total is the shared riskSet over the same frame
    ("graft/ops/Statistics.scala", """val wo = Window.orderBy("dur")"""),
    ("graft/ops/Statistics.scala", """.withColumn("n_total", sum("all_at").over(Window.partitionBy()))"""),
    ("graft/ops/Statistics.scala", """val wo = Window.orderBy("dur")"""),
    ("graft/ops/Statistics.scala", """Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)))"""),
    ("graft/ops/Statistics.scala", """Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)))"""),
    // q_emd_drift's <= 32-row bucket table (offsets + next-bucket min)
    ("graft/ops/Statistics.scala", """val wb = Window.orderBy("bkt")"""),
    ("graft/ops/Statistics.scala", """lead("bmin", 1).over(Window.orderBy("bkt")).as("nextmin"))"""),
    // distinct |diff| values of a day-level paired summary
    ("graft/ops/Statistics.scala", """val wo = Window.orderBy("adiff")"""),
    // distinct gap durations in days (calendar-bounded)
    ("graft/ops/Statistics.scala", """val w = Window.orderBy("dur_days")"""),
    // top-k terms of a df-capped vocabulary summary
    ("graft/ops/TextAnalysis.scala", """Window.orderBy(col("ct").desc, col("term").asc))))"""),
    ("graft/ops/TextAnalysis.scala", """val w = Window.orderBy(col("n").desc, col("pair").asc)"""),
    // <= |sources| rows (largest-remainder apportionment)
    ("graft/ops/TrainingPrep.scala", """val wr = Window.orderBy(col("rem").desc, col("source").asc)"""),
    // <= |sources| rows (source mixing order)
    ("graft/ops/TrainingPrep.scala", """row_number().over(Window.orderBy(col("t"), col("source"))).cast("long"))"""),
    // <= 50 candidate parts (bounded reservoir)
    ("graft/ops/TrainingPrep.scala", """val w = Window.orderBy(col("r").desc, col("l_partkey").asc)"""),
    // <= |event types| rows
    ("graft/ops/TrainingPrep.scala", """val wr = Window.orderBy(col("rem").desc, col("event_type").asc)"""),
    // distinct-token vocabulary rank (value-domain bounded lexicon);
    // staged since r12 (consumed by count + join)
    ("graft/ops/SuffixOps.scala", """.withColumn("vr", row_number().over(Window.orderBy("tok")) - 1))"""),
    // denseRank2's distinct-key offset prefix (<= 256 bucket rows)
    ("graft/ops/SuffixOps.scala", """val wb = Window.orderBy("bkt")"""),
    // Prefix.sums' per-bucket offset table: <= buckets rows per `part`
    // group, one partition when `part` is empty (every caller's bucket
    // grid is <= 256 rows)
    ("graft/util/Prefix.scala", """val wb = Window.partitionBy(part.map(col): _*).orderBy(bkt)"""),
    // Prefix.sums' row-level window: never unpartitioned, `keys` always
    // holds the bucket column
    ("graft/util/Prefix.scala", """val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)""")
  )

  /** A line opens an unpartitioned window, or may: a bare orderBy, an
    * empty partitionBy, or a splatted key list that can be empty. */
  private val splatted = """partitionBy\(.*: _\*\)""".r
  private def opensWindow(line: String): Boolean =
    line.contains("Window.orderBy(") || line.contains("Window.partitionBy()") ||
      splatted.findFirstIn(line).isDefined

  test("every unpartitioned Window.orderBy site is enumerated with a domain bound") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val rel = root.relativize(p).toString
        scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().foreach { line =>
          if (opensWindow(line)) found += ((rel, line.trim))
        }
      }
    }
    val fs = found.sorted.toSeq
    val as = allowed.sorted
    val extra = fs.diff(as)
    val missing = as.diff(fs)
    assert(extra.isEmpty,
      s"NEW unpartitioned window site(s) — partition them or register" +
        s" the site with its domain bound:\n  ${extra.mkString("\n  ")}")
    assert(missing.isEmpty,
      s"allowlist is stale (site removed or reshaped) — prune it:\n  " +
        missing.mkString("\n  "))
  }
}
