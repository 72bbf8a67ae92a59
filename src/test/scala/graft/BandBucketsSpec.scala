package graft

import graft.functions.TextFeatures.{shingles3, words}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.bandBucketsOf`'s one compiled signature per document gives the
  * same (doc_id, bkey) incidence as the shingle explode + md5 + per-slice
  * string-minimum aggregate it replaced, which the DuckDB oracle still
  * states. */
class BandBucketsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf

  /** The replaced formulation, kept here as the reference. */
  private def explodeGroupBy(docs: DataFrame): DataFrame = {
    val sig = docs
      .select(col("doc_id"),
        explode(shingles3(words(col("text")), col("text"))).as("shingle"))
      .withColumn("h", md5(col("shingle")))
      .groupBy("doc_id")
      .agg(min(substring(col("h"), 1, 8)).as("mh0"),
        min(substring(col("h"), 9, 8)).as("mh1"),
        min(substring(col("h"), 17, 8)).as("mh2"),
        min(substring(col("h"), 25, 8)).as("mh3"))
    sig.select(col("doc_id"),
      explode(array(
        concat(lit("0|"), col("mh0"), col("mh1")),
        concat(lit("1|"), col("mh2"), col("mh3")))).as("bkey"))
  }

  private def rows(df: DataFrame): Seq[(Long, Option[String])] =
    df.select(col("doc_id").cast("long"), col("bkey")).collect().toSeq
      .map(r => (r.getLong(0), Option(r.getString(1)))).sorted

  test("bandBucketsOf equals the explode/groupBy formulation, edge texts included") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id").cast("long"), col("text"))
    val edge = Seq[(Long, String)](
      (-1L, null), (-2L, ""), (-3L, "one"), (-4L, "two words"),
      (-5L, "three words here"), (-6L, "a  b"), (-7L, "one")).toDF("doc_id", "text")
    val in = docs.unionByName(edge)
    for (spread <- Seq(true, false)) {
      val got = rows(ops.Dedup.bandBucketsOf(in, spreadInput = spread))
      assert(got === rows(explodeGroupBy(in)), s"spreadInput = $spread")
      assert(got.count(_._1 == -1L) === 2 && got.filter(_._1 == -1L).forall(_._2.isEmpty))
      assert(got.filter(_._1 == -3L).map(_._2) === got.filter(_._1 == -7L).map(_._2))
      assert(got.size === 2 * (docs.count() + edge.count()))
    }
  }

  test("the signature pass has no shuffle, sort or aggregate") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val plan = ops.Dedup.bandBucketsOf(docs, spreadInput = false)
      .queryExecution.executedPlan.toString
    for (op <- Seq("Exchange", "Sort", "Aggregate"))
      assert(!plan.contains(op), plan)
    assert(plan.contains("minhash4"), plan)
  }
}
