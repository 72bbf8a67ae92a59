package graft

import graft.functions.VectorExpressions.doubleDot
import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared vector-clustering rules on crafted inputs the fixture
  * never produces: quantized-cosine ties in [[ops.Similarity]]'s cell
  * assignment, and a long path through [[util.Components.of]], whose
  * min-label loop joins the union-find roots across partitions. */
class ClusteringRulesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("nearestCell: quantized-cosine ties go to the lowest cid") {
    import spark.implicits._
    val cents = Seq(
      (2L, Array(1.0, 0.001)), (9L, Array(1.0, 0.0)),
      (5L, Array(0.0, 1.0)), (7L, Array(-1.0, 0.0)))
      .toDF("cid", "cv").withColumn("cn", sqrt(doubleDot(col("cv"), col("cv"))))
    val n = Seq(
      (1L, Array(1.0, 0.0)),   // cid 9 is exact, cid 2 is 0.9999995: both q4 to 1.0
      (2L, Array(0.0, 1.0)),   // no tie: cid 5
      (3L, Array(-1.0, 1.0)))  // cids 5 and 7 tie exactly at 0.7071
      .toDF("vec_id", "v").withColumn("norm", sqrt(doubleDot(col("v"), col("v"))))
    val got = Similarity.nearestCell(n, cents, doubleDot)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 1.0), (2L, 5L, 1.0), (3L, 5L, 0.7071)))
  }

  test("minLabelComponents: component minima, path halving beats the diameter") {
    import spark.implicits._
    val pathLen = 20 // vertices 0..19, diameter 19
    val path = (0 until pathLen - 1).map(i => (i.toLong, i + 1L))
    val small = Seq((105L, 101L), (101L, 103L))
    val isolated = 200L
    val vertices = (0L until pathLen) ++ Seq(101L, 103L, 105L, isolated)
    // the edge list as an incidence: a self row per vertex, a row per
    // edge; without coalescing the union-find runs over 4 partitions and
    // the label loop joins the roots across them
    val incidence = (vertices.map(v => (v, v)) ++ (path ++ small).map { case (a, b) => (b, a) })
      .toDF("vec_id", "key")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val c = util.Components.of(incidence, "vec_id", "key", "spec")
      val got = c.labels.as[(Long, Long)].collect().toMap
      val rounds = c.rounds
      info(s"${c.partitions} partitions, ${c.crossEdges} cross edges, $rounds rounds")
      val expected = (0L until pathLen).map(_ -> 0L).toMap ++
        Map(101L -> 101L, 103L -> 101L, 105L -> 101L, isolated -> isolated)
      assert(got === expected)
      assert(rounds < pathLen - 1, s"$rounds rounds: path halving did not shortcut the path")
    } finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      util.Ckpt.release(spark)
    }
  }
}
