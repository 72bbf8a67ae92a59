package graft

/** Dev-only probe main: drives the non-query library surfaces (pipeline,
  * streaming) end-to-end the way a consumer of the package would. Not part
  * of the driver contract.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val d = "/root/testdata/sf0.001"

    // two-stage manifest pipeline → KV sink
    val work = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val n = pipeline.Pipeline.runWordCountPipeline(spark, d, work, "20240101_120000")
    println(s"pipeline: $n kv items written under $work/kv_table")
    println("latest run: " + pipeline.Pipeline.latestRun(s"$work/analysis_results"))
    val kv = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/kv_table"))
    println("kv files: " + kv.count())

    // SQL surface of the native expressions
    GraftExtensions.register(spark)
    Tables.embeddings(spark, d).createOrReplaceTempView("emb")
    spark.sql("SELECT vec_id, round(float_dot(embedding, embedding), 4) AS sq FROM emb ORDER BY vec_id LIMIT 3").show()
    Tables.documents(spark, d).createOrReplaceTempView("docs")
    spark.sql("SELECT doc_id, ngrams_ws(split(text, ' '), 3)[1] AS first_trigram FROM docs ORDER BY doc_id LIMIT 3").show(truncate = false)

    // TSV ingestion path (reference R1): write then re-read with inference
    val tsvDir = work + "/docs_tsv"
    sources.Formats.writeTsv(Tables.documents(spark, d).select("doc_id", "lang"), tsvDir)
    val back = sources.Formats.readTsvInferred(spark, tsvDir)
    println("tsv roundtrip rows: " + back.count() + ", schema: " + back.schema.simpleString)

    // partitioning strategies: salted skew join + bucketed co-located join
    import org.apache.spark.sql.functions.col
    val ordersK = Tables.orders(spark, d).select(col("o_custkey").as("k"), col("o_orderkey"))
    val custK = Tables.customer(spark, d).select(col("c_custkey").as("k"), col("c_mktsegment"))
    println("salted join rows: " + ops.Partitioning.saltedJoin(ordersK, custK, "k", 4).count()
      + " (plain: " + ordersK.join(custK, Seq("k")).count() + ")")
    ops.Partitioning.writeBucketed(ordersK, "probe_orders", s"$work/bo", "k", 4)
    ops.Partitioning.writeBucketed(custK, "probe_cust", s"$work/bc", "k", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bj = ops.Partitioning.bucketedJoin(spark, "probe_orders", "probe_cust", "k")
    println("bucketed join rows: " + bj.count() + ", shuffle-free: "
      + !bj.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    // streaming tumbling counts via memory sink
    val q = streaming.Streams.tumblingCounts(streaming.Streams.eventsStream(spark, d))
      .writeStream.outputMode("complete").format("memory").queryName("probe_out").start()
    q.processAllAvailable(); q.stop()
    println("streaming rows: " + spark.table("probe_out").count())
    spark.table("probe_out").orderBy("hour_start", "event_type").show(5, truncate = false)

    spark.stop()
  }
}
