package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two-job pipeline, re-expressed (SURVEY.md R11/R12/R16/
  * R17/R18).
  *
  * Job A writes results + a `metadata.json` run manifest
  * (`demo-etl-2a-notebook.py:63-86`); Job B discovers the latest run by
  * manifest, reads it back, and batch-writes key-value items 25 at a time
  * via `foreachPartition` (`process_tsv.py:33-135`); the Glue workflow runs
  * B iff A succeeded, with retries (`demo2a-stack.ts:147-180`). Here the
  * stages are plain Scala with an intermediate Parquet handoff — state
  * passes only through storage, like the S3 handoff in the reference — and
  * the KV sink is a local partitioned-JSONL stand-in for DynamoDB (no AWS
  * in this environment).
  *
  * Scale notes: the sink keeps the reference's per-partition micro-batching
  * (25 items/batch, one client per partition — `process_tsv.py:73-101`), the
  * pattern that bounds request size regardless of executor count; the
  * manifest is driver-side metadata only (a few KB), never a data-plane
  * bottleneck.
  */
object Pipeline {

  /** `metadata.json` shape, per `demo-etl-2a-notebook.py:68`. */
  case class RunManifest(timestamp: String, input_files: Seq[String])

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped, so the literal never spans lines. The one
    * escaper behind the manifest and the KV sink. */
  private def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def manifestJson(m: RunManifest): String =
    s"""{"timestamp": ${jsonString(m.timestamp)}, "input_files": [${m.input_files.map(jsonString).mkString(", ")}]}"""

  /** Stage-A sink: results as Parquet + manifest beside them (R10+R11). */
  def writeWithManifest(df: DataFrame, runDir: String, manifest: RunManifest): Unit = {
    df.write.mode("overwrite").parquet(s"$runDir/word_counts")
    writeManifest(runDir, manifest)
  }

  /** Manifest-only writer (R11) for sinks whose payload isn't word_counts —
    * e.g. the materialized IVF quantizer ([[graft.ops.Similarity]]): write
    * the payload parquet first, then the manifest, so [[latestRun]] never
    * discovers a half-written run. */
  def writeManifest(runDir: String, manifest: RunManifest): Unit = {
    Files.createDirectories(Paths.get(runDir))
    Files.writeString(Paths.get(s"$runDir/metadata.json"), manifestJson(manifest))
  }

  /** Latest-run discovery (R12): list run dirs under `baseDir`, pick the one
    * whose manifest has the greatest timestamp (the reference sorts S3
    * objects by LastModified; manifest timestamps are the portable
    * equivalent). */
  def latestRun(baseDir: String): Option[Path] = {
    val base = Paths.get(baseDir)
    if (!Files.isDirectory(base)) None
    else Files.list(base).iterator().asScala
      .filter(p => Files.exists(p.resolve("metadata.json")))
      .maxByOption(p => Files.readString(p.resolve("metadata.json")))
  }

  /** Row→item transform (R17): `{id: "word_"+word, word, count:int}` —
    * wall-clock timestamp and static metadata intentionally excluded from
    * data columns for determinism (SURVEY.md §7.4). */
  def kvItems(wordCounts: DataFrame): DataFrame =
    wordCounts.select(
      concat(lit("word_"), col("word")).as("id"),
      col("word"),
      col("cnt").cast("int").as("count"))

  /** KV-store sink (R16): per-partition micro-batched writes, 25 items per
    * batch — a partitioned JSONL directory standing in for the DynamoDB
    * table. One "client" (file handle) per partition, like the boto3 client
    * per partition in `process_tsv.py:73-74`. */
  def kvSink(items: DataFrame, outDir: String, batchSize: Int = 25): Unit = {
    Files.createDirectories(Paths.get(outDir))
    items.select(col("id"), col("word"), col("count")).repartition(10)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = Files.newBufferedWriter(Paths.get(s"$outDir/part-$pid.jsonl"))
        try {
          it.grouped(batchSize).foreach { batch =>
            // one "BatchWriteItem" per group of 25
            batch.foreach { r =>
              out.write(s"""{"id": ${jsonString(r.getString(0))}, "word": ${jsonString(r.getString(1))}, "count": ${r.getInt(2)}}""")
              out.newLine()
            }
            out.flush()
          }
        } finally out.close()
      }
  }

  /** Retry wrapper (R18: Glue maxRetries=2). */
  def retry[T](attempts: Int)(f: => T): T =
    Try(f) match {
      case Success(v) => v
      case Failure(e) if attempts > 1 => retry(attempts - 1)(f)
      case Failure(e) => throw e
    }

  /** The whole two-stage workflow: A (word count → parquet + manifest) then,
    * iff A succeeded, B (latest-run discovery → KV sink), each with the
    * reference's 2 retries. Returns the number of KV items written. */
  def runWordCountPipeline(spark: SparkSession, sfDir: String, workDir: String,
                           runId: String): Long = {
    val runDir = s"$workDir/analysis_results/run_$runId"
    retry(3) {
      val wc = graft.ops.Relational.wordCount(spark, sfDir)
      writeWithManifest(wc, runDir,
        RunManifest(runId, Seq(s"$sfDir/documents.parquet")))
    }
    retry(3) {
      val latest = latestRun(s"$workDir/analysis_results")
        .getOrElse(sys.error("no completed run found")) // process_tsv.py:57-59
      val wc = spark.read.parquet(s"$latest/word_counts")
      // cache before the sink + count pair — the reference recomputes the
      // whole plan for its second count() (process_tsv.py:65,130), an
      // anti-pattern SURVEY.md §4 explicitly does not replicate
      val items = kvItems(wc).cache()
      try {
        kvSink(items, s"$workDir/kv_table")
        items.count()
      } finally items.unpersist()
    }
  }
}
