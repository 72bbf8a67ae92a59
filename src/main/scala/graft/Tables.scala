package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (schemas in FIXTURES.md) and the engine's one
  * Parquet reader.
  *
  * Mirrors the reference's source stage — a Parquet scan
  * (`infra/scripts/process_tsv.py:62-64`) — generalized to the driver's
  * TPC-H-ish star schema. Keeping one accessor per table makes column
  * pruning / filter pushdown visible at each call site: callers `.select`
  * immediately, so the parquet reader only materializes needed columns.
  */
object Tables {

  /** (path, `*parquet*` session confs, leaf path:size:mtime list) →
    * inferred schema, memoized for the JVM's lifetime. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The engine's one Parquet reader. An inferred `read.parquet` runs a
    * Spark job to read footers, on every call; here Spark infers each
    * table's schema once and every read declares it, which runs no job.
    *
    * The schema is keyed by the path, the session's `*parquet*` SQL confs
    * (`spark.sql.legacy.parquet.nanosAsLong` changes what `events.ts`
    * infers to) and each leaf file's path, size and mtime, so a
    * table rewritten in place is inferred again. A path with no files
    * (missing, empty, a glob) is read inferred, so it fails as Spark's own
    * read does. */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        leaves += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
    }
    if (leaves.isEmpty) s.read.parquet(path)
    else {
      val confs = s.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
      val key = (Seq(path) ++ confs.map { case (k, v) => s"$k=$v" } ++ leaves.sorted).mkString("|")
      val st = schemaMemo.computeIfAbsent(key, _ => s.read.parquet(path).schema)
      s.read.schema(st).parquet(path)
    }
  }

  private def p(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = p(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = p(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = p(s, d, "embeddings")

  /** `events.ts` normalized to a session-timezone (UTC) microsecond
    * timestamp regardless of the fixture generation's physical layout:
    *
    *  - parquet timestamp[ns]: Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]), so we read the raw long
    *    (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to micros
    *    (`ts div 1000`) — the original fixture layout.
    *  - parquet timestamp[us] without isAdjustedToUTC: Spark infers
    *    TIMESTAMP_NTZ; cast to TimestampType is wall-clock-preserving
    *    under the UTC session timezone every entry point sets — the
    *    regenerated fixture layout.
    *
    * The DuckDB oracle reads the same file natively, so every oracled
    * query formats/truncates `ts` before it reaches a result column
    * (FIXTURES.md gotchas).
    *
    * [[LocalSession]] sets the conf when it builds the session, so there
    * the `set` below changes nothing and no memoized schema goes stale;
    * it stays for sessions built elsewhere.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(p(s, d, "events"))
  }

  /** See [[events]]; shared with the streaming source so both read shapes
    * produce the identical TimestampType column. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
}
