package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** [[util.Prefix.sums]] against the naive formulation it replaces: one
  * window per `part` group ordered by (bkt, order…) — the whole group in
  * one sort — must give the same running sums row for row. */
class PrefixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  /** (id, g, b, v, x): 3 outer groups; buckets 0, 3, 4 and 9 (so 1, 2, 5–8
    * are empty, and a bucket can be empty in one group but not another)
    * plus bucket 7 holding row 0 alone; v has ties, broken by id. */
  private def frame(seed: Int, n: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val buckets = Array(0, 3, 3, 4, 9, 9, 9)
    val rows = (0 until n).map { i =>
      (i.toLong, r.nextInt(3), if (i == 0) 7 else buckets(r.nextInt(buckets.length)),
        r.nextInt(6), (r.nextInt(14) - 3).toLong)
    }
    spark.createDataFrame(rows).toDF("id", "g", "b", "v", "x")
  }

  private def naive(df: DataFrame, part: Seq[String], bkt: String, order: Seq[String],
                    terms: (String, Column)*): DataFrame = {
    val w = Window.partitionBy(part.map(col): _*).orderBy((bkt +: order).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms.foldLeft(df) { case (acc, (n, t)) => acc.withColumn(n, sum(t).over(w)) }
  }

  private def byId(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select("id", cols: _*).orderBy("id").collect().toSeq.map(_.toSeq)

  test("running sums equal one window per outer group, across empty and single-row buckets") {
    for (seed <- 1 to 3) {
      val df = frame(seed, 300)
      val terms = Seq("cnt" -> lit(1L), "cx" -> col("x"))
      val got = util.Prefix.sums(df, Seq("g"), "b", Seq("v", "id"), terms: _*)
      val want = naive(df, Seq("g"), "b", Seq("v", "id"), terms: _*)
      assert(byId(got, "cnt", "cx") === byId(want, "cnt", "cx"), s"seed $seed")
      assert(got.schema("cnt").dataType === LongType)
      assert(got.columns.toSeq === Seq("g", "b", "id", "v", "x", "cnt", "cx"))
      // the single-row bucket 7 sits between buckets 4 and 9 of its group
      val row0 = got.filter(col("id") === 0).head
      val g0 = row0.getAs[Int]("g")
      assert(row0.getAs[Long]("cnt") ===
        df.filter(col("g") === g0 && col("b") < 7).count() + 1)
    }
  }

  test("the exclusive form cum - term is the sum over strictly earlier rows") {
    val df = frame(7, 200)
    val got = util.Prefix.sums(df, Seq("g"), "b", Seq("v", "id"), "cx" -> col("x"))
      .withColumn("prev", col("cx") - col("x"))
    val w = Window.partitionBy("g").orderBy("b", "v", "id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("prev", coalesce(sum("x").over(w), lit(0L)))
    assert(byId(got, "prev") === byId(want, "prev"))
  }

  test("a string bucket orders buckets as strings, with no outer group") {
    // "k10" < "k3" < "k9": the bucket order is the string order
    val df = frame(11, 250).withColumn("sb", concat(lit("k"), (col("b") + 1).cast("string")))
    val got = util.Prefix.sums(df, Nil, "sb", Seq("v", "id"), "cx" -> col("x"), "cnt" -> lit(1L))
    val want = naive(df, Nil, "sb", Seq("v", "id"), "cx" -> col("x"), "cnt" -> lit(1L))
    assert(byId(got, "cx", "cnt") === byId(want, "cx", "cnt"))
    assert(got.agg(max("cnt")).head.getLong(0) === 250L)
    assert(util.Prefix.sums(df.limit(0), Nil, "sb", Seq("v", "id"), "cnt" -> lit(1L))
      .count() === 0L)
  }
}
