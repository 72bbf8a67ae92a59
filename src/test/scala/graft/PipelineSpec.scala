package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Two-stage manifest pipeline + KV sink + retry orchestration
  * (SURVEY.md R11/R12/R16/R17/R18). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf

  test("end-to-end word-count pipeline writes manifest, parquet, and KV items") {
    val work = Files.createTempDirectory("graft_pipeline").toString
    val n = Pipeline.runWordCountPipeline(spark, sf, work, runId = "20240101_000000")

    assert(Files.exists(Paths.get(s"$work/analysis_results/run_20240101_000000/metadata.json")))
    val wc = spark.read.parquet(s"$work/analysis_results/run_20240101_000000/word_counts")
    assert(wc.count() === n)

    val kvLines = Files.list(Paths.get(s"$work/kv_table")).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(kvLines.size.toLong === n)
    assert(kvLines.forall(_.contains("\"id\": \"word_")))
  }

  test("KV sink writes one valid JSON object per line for any token") {
    import spark.implicits._
    // split(" ") keeps quotes, backslashes, tabs, newlines and other
    // control characters inside tokens; each must stay one parseable line
    val text = "plain say\"hi back\\slash tab\tin line\nbreak bell\u0007 plain"
    val sfDir = Files.createTempDirectory("graft_kv_escape").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .write.parquet(s"$sfDir/documents.parquet")
    val work = Files.createTempDirectory("graft_kv_escape_work").toString
    val n = Pipeline.runWordCountPipeline(spark, sfDir, work, runId = "20240101_000000")

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    val items = Files.list(Paths.get(s"$work/kv_table")).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).map(mapper.readTree).toSeq
    val expected = text.split(" ").filter(_.nonEmpty).toSet
    assert(items.size.toLong === n && n === expected.size.toLong)
    val words = items.map(_.get("word").asText)
    assert(words.toSet === expected)
    assert(items.forall(i => i.get("id").asText == "word_" + i.get("word").asText))
    assert(items.find(_.get("word").asText == "plain").map(_.get("count").asInt) === Some(2))
  }

  test("latestRun picks the greatest manifest timestamp") {
    val work = Files.createTempDirectory("graft_latest").toString
    for (ts <- Seq("20240101_000000", "20240202_000000", "20231231_235959")) {
      val dir = Paths.get(s"$work/run_$ts")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("metadata.json"),
        s"""{"timestamp": "$ts", "input_files": []}""")
    }
    assert(Pipeline.latestRun(work).map(_.getFileName.toString) === Some("run_20240202_000000"))
  }

  test("latestRun closes its directory listing") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd to count open descriptors")
    val work = Files.createTempDirectory("graft_latest_fds").toString
    val dir = Paths.get(s"$work/run_20240101_000000")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("metadata.json"), """{"timestamp": "20240101_000000"}""")
    val before = fds.list().length
    for (_ <- 1 to 500) assert(Pipeline.latestRun(work).isDefined)
    val grown = fds.list().length - before
    assert(grown < 50, s"$grown descriptors left open by 500 latestRun calls")
  }

  private def manifests(json: (String, String)*): String = {
    val work = Files.createTempDirectory("graft_latest_ts").toString
    for ((run, manifest) <- json) {
      val dir = Paths.get(s"$work/$run")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("metadata.json"), manifest)
    }
    work
  }

  test("latestRun orders unpadded numeric timestamps numerically") {
    val work = manifests(
      "run_9" -> """{"timestamp": "9", "input_files": []}""",
      "run_10" -> """{"timestamp": "10", "input_files": []}""")
    assert(Pipeline.latestRun(work).map(_.getFileName.toString) === Some("run_10"))
  }

  test("latestRun ranks the timestamp field, not the manifest's spacing") {
    val work = manifests(
      "run_old" -> """{"timestamp":"20240101_000000","input_files":[]}""",
      "run_new" -> """{"timestamp": "20240202_000000", "input_files": []}""")
    assert(Pipeline.latestRun(work).map(_.getFileName.toString) === Some("run_new"))
  }

  test("retry retries transient failures and rethrows persistent ones") {
    var calls = 0
    val v = Pipeline.retry(3) {
      calls += 1
      if (calls < 3) sys.error("transient")
      42
    }
    assert(v === 42 && calls === 3)
    assertThrows[RuntimeException] {
      Pipeline.retry(2)(sys.error("always"))
    }
  }

  test("retry rethrows an AnalysisException on the first attempt") {
    val missing = Files.createTempDirectory("graft_retry").resolve("absent").toString
    var calls = 0
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.retry(3) {
        calls += 1
        spark.read.parquet(missing)
      }
    }
    assert(calls === 1)
  }

  test("KV sink leaves no partition file behind when its tasks fail") {
    import spark.implicits._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    // a NULL count fails every task at its first row
    val items = (1 to 200).map(i => (s"word_w$i", s"w$i", Option.empty[Int]))
      .toDF("id", "word", "count")
    val out = Files.createTempDirectory("graft_kv_fail").resolve("kv")
    intercept[Exception](Pipeline.kvSink(items, out.toString))
    // tasks still running when the job aborts finish on their own
    eventually(timeout(Span(10, Seconds))) {
      val left = scala.util.Using.resource(Files.list(out))(
        _.iterator().asScala.map(_.getFileName.toString).toList)
      assert(left.isEmpty, s"files left after a failed sink: ${left.mkString(", ")}")
    }
  }

  test("retry rethrows a data error (SQLSTATE class 22) on the first attempt") {
    import spark.implicits._
    // a NULL count fails the sink with ROW_VALUE_IS_NULL (22023) every time
    val items = (1 to 20).map(i => (s"word_w$i", s"w$i", Option.empty[Int]))
      .toDF("id", "word", "count")
    val out = Files.createTempDirectory("graft_retry_data").resolve("kv").toString
    var calls = 0
    intercept[Exception] {
      Pipeline.retry(3) {
        calls += 1
        Pipeline.kvSink(items, out)
      }
    }
    assert(calls === 1)
  }

  test("KV sink returns the number of JSONL lines it wrote") {
    import spark.implicits._
    val items = Pipeline.kvItems((1 to 137).map(i => (s"w$i", i.toLong)).toDF("word", "cnt"))
    val out = Files.createTempDirectory("graft_kv_count").resolve("kv")
    val n = Pipeline.kvSink(items, out.toString)
    val lines = scala.util.Using.resource(Files.list(out))(_.iterator().asScala
      .map(p => Files.readAllLines(p).size.toLong).sum)
    assert(n === lines && n === 137L)
  }

  test("stage A writes the word_counts schema stage B declares") {
    def fields(st: org.apache.spark.sql.types.StructType) = st.map(f => (f.name, f.dataType))
    assert(fields(graft.ops.Relational.wordCount(spark, sf).schema) === fields(Pipeline.WordCounts))
  }

  test("a warm word-count pipeline run takes 6 Spark jobs") {
    val work = Files.createTempDirectory("graft_pipeline_jobs").toString
    Pipeline.runWordCountPipeline(spark, sf, work, runId = "20240101_000000")
    val jobs = org.apache.spark.graftbridge.Jobs.count(spark.sparkContext) {
      Pipeline.runWordCountPipeline(spark, sf, work, runId = "20240102_000000")
    }
    assert(jobs === 6)
  }

  test("observe() collects pipeline metrics in the same pass as the action") {
    import org.apache.spark.sql.functions._
    // production shape: the ETL stage observes row counts / sums while
    // writing, so the run manifest records metrics with ZERO extra jobs
    val obs = org.apache.spark.sql.Observation("etl_metrics")
    val observed = Tables.lineitem(spark, sf)
      .observe(obs,
        count(lit(1)).as("rows_read"),
        sum(col("l_quantity").cast("decimal(24,6)")).cast("double").as("qty_sum"))
      .filter(col("l_quantity") > 10.0)
    val kept = observed.count()
    val metrics = obs.get
    val total = metrics("rows_read").asInstanceOf[Long]
    assert(total === Tables.lineitem(spark, sf).count())
    assert(kept < total)
    assert(metrics("qty_sum").asInstanceOf[Double] > 0.0)
  }
}
