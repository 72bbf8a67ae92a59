package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, shiftleft}
import org.apache.spark.sql.types.StructType

/** Source/sink formats (SURVEY.md R1/R10/R11/R13).
  *
  * The reference ingests tab-separated text with a header and an inferred
  * all-string schema (`demo-etl-2a-notebook.py:25-35`) and persists Parquet
  * (`:86`). This module carries both the reference's inference path and the
  * production path (explicit `StructType` — at 100 TB schema inference is a
  * full extra pass over the data and is never what you want).
  */
object Formats {

  /** R1, reference-faithful: header + tab separator, all columns read as
    * strings via inference (Glue's csv DynamicFrame behavior). */
  def readTsvInferred(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").option("sep", "\t")
      .option("inferSchema", "true").csv(path)

  /** R1, production: explicit schema — single pass, no inference job. */
  def readTsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.option("header", "true").option("sep", "\t").schema(schema).csv(path)

  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("sep", "\t").csv(path)

  /** JSON-lines source with explicit schema (no inference pass). */
  def readJsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** JSONL with malformed-row capture — the ingestion contract a crawl
    * pipeline actually needs: PERMISSIVE mode parses what it can, and any
    * line that fails lands intact in `_corrupt_record` (schema must carry
    * that string column for capture to work) so bad rows are QUARANTINED
    * (counted, inspectable, re-processable) instead of silently dropped
    * (DROPMALFORMED) or killing the 100 TB job at row 3 billion
    * (FAILFAST). Row counts are conserved: parsed + corrupt = input
    * lines (`SourcesAndExtensionsSpec`). */
  def readJsonlQuarantine(s: SparkSession, path: String,
                          schema: StructType): DataFrame =
    s.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** R10/R13: columnar at rest. Read it back with [[graft.Tables.parquet]]. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** ORC round-trip — second columnar format for source breadth. */
  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet layout — the at-rest organization that
    * turns `WHERE lang = 'en'` into partition pruning (only matching
    * directories scanned) instead of a full-corpus scan. The default layout
    * choice for any 100 TB corpus with a low-cardinality filter column. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** 64-bit Morton (Z-order) value from two 32-bit keys — closed-form bit
    * spreading, all codegen'd builtins. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def spread(c: org.apache.spark.sql.Column) = {
      var x = c.bitwiseAND(lit(0xFFFFFFFFL))
      x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
      (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ordered parquet layout: range-partition + sort on the Morton value
    * of two filter columns, so each output file covers a small rectangle in
    * BOTH dimensions. Parquet min/max row-group stats then skip most files
    * for a predicate on either column — multi-dimensional data skipping,
    * where a plain sort only clusters its leading column. At 100 TB this is
    * the difference between reading one file and reading the table.
    *
    * Both columns are min/max-normalized to 16 bits before interleaving (a
    * cheap stats pass) — raw interleaving of unequal key ranges puts every
    * significant bit in one dimension and degenerates to a 1-D sort. */
  def writeZOrdered(df: DataFrame, path: String,
                    col1: String, col2: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax, floor}
    val r = df.agg(
      fmin(col(col1)).cast("double"), fmax(col(col1)).cast("double"),
      fmin(col(col2)).cast("double"), fmax(col(col2)).cast("double")).head
    def scale(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      floor((c.cast("double") - lit(lo)) / lit(math.max(hi - lo, 1e-12)) * 65535.0)
        .cast("long")
    val z = zValue(scale(col(col1), r.getDouble(0), r.getDouble(1)),
                   scale(col(col2), r.getDouble(2), r.getDouble(3)))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes`. Streaming ingestion and over-parallel
    * writers leave 100 TB corpora as millions of KB-sized files whose
    * open/footer overhead dominates scans; periodic compaction is part of
    * any production table's maintenance loop. File count derives from the
    * scan statistics (sum of file sizes), and the rewrite is a round-robin
    * repartition — no shuffle key, every output file near-equal size. */
  def compact(s: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L << 20): Int = {
    val df = graft.Tables.parquet(s, inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = math.max(1L,
      ((bytes + targetFileBytes - 1) / targetFileBytes).toLong).toInt
    df.repartition(parts).write.mode(SaveMode.Overwrite).parquet(outPath)
    parts
  }

  val FixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** R20 (SQL-over-Parquet, the reference's declared Athena analysis,
    * `reqdef.yaml:69-73`): register every fixture table as a temp view so
    * `spark.sql` works against the warehouse by name. */
  def registerAll(s: SparkSession, dir: String): Unit =
    FixtureTables.foreach { t =>
      val df = t match {
        case "events" => graft.Tables.events(s, dir)
        case _ => graft.Tables.parquet(s, s"$dir/$t.parquet")
      }
      df.createOrReplaceTempView(t)
    }
}
