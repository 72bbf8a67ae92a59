package graft

import java.nio.file.Files

import org.apache.spark.graftbridge.Jobs
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet`, the one Parquet reader: a repeated read runs no
  * schema-inference job, a table rewritten in place is inferred again,
  * and reading `events` leaves every memoized schema valid. */
class ParquetReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf

  test("a second documents, embeddings or events build runs no Spark job") {
    val builds = Seq[(String, () => Any)](
      "documents" -> (() => Tables.documents(spark, sf)),
      "embeddings" -> (() => Tables.embeddings(spark, sf)),
      "events" -> (() => Tables.events(spark, sf)))
    for ((name, build) <- builds) {
      build()
      assert(Jobs.count(spark.sparkContext)(build()) === 0, name)
    }
  }

  test("a table rewritten at the same path with an extra column is read with it") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_reader").resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("id", "s"))
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "extra")
      .write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq === Seq("id", "s", "extra"))
    assert(df.orderBy("id").select("extra").as[Int].collect().toSeq === Seq(10, 20))
  }

  test("LocalSession sets nanosAsLong up front, so an events read leaves earlier schemas memoized") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val s = LocalSession(4)
    assert(s.conf.getOption(key).contains("true"))
    // a copy of the fixture tables at a new path, so no schema is memoized
    val dir = Files.createTempDirectory("graft_events_conf")
    for (t <- Seq("documents", "events"))
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    Tables.documents(s, dir.toString)
    Tables.events(s, dir.toString)
    assert(Jobs.count(s.sparkContext)(Tables.documents(s, dir.toString)) === 0)
  }
}
