package graft

import graft.ops.Dedup
import graft.util.Fixpoint
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The min-label driver loop [[util.Fixpoint.labels]]: it runs to the
  * fixpoint however long the chain, throws when a step does not settle
  * within its row count, and stops after one round on an empty map. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("dedupClustersFrom: a 40-doc chain of shared buckets is one cluster") {
    import spark.implicits._
    val docs = 40
    // doc i is in buckets b<i> and b<i+1>: each doc shares one bucket
    // with each neighbour, so the chain is one component of diameter 39
    val buckets = (0 until docs)
      .flatMap(i => Seq((i.toLong, s"b$i"), (i.toLong, s"b${i + 1}")))
      .toDF("doc_id", "bkey")
    val got = Dedup.dedupClustersFrom(buckets)
      .select("doc_id", "cluster", "is_dup").as[(Long, Long, Int)].collect()
    assert(got.map(_._2).distinct.toSeq === Seq(0L),
      s"${got.map(_._2).distinct.length} clusters, expected 1")
    assert(got.sortBy(_._1).toSeq ===
      (0 until docs).map(i => (i.toLong, 0L, if (i == 0) 0 else 1)))
    util.Ckpt.release(spark)
  }

  test("a step that never settles throws, naming its tag") {
    import spark.implicits._
    val init = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("vec_id", "label")
    val e = intercept[IllegalStateException] {
      Fixpoint.labels(init, "restless")(_.withColumn("chg", lit(1)))
    }
    assert(e.getMessage.contains("restless"), e.getMessage)
    assert(e.getMessage.contains("round 3"), e.getMessage)
    util.Ckpt.release(spark)
  }

  test("an empty label map settles after one round") {
    import spark.implicits._
    val init = Seq.empty[(Long, Long)].toDF("vec_id", "label")
    val (labels, rounds) =
      Fixpoint.labels(init, "empty")(_.withColumn("chg", lit(1)))
    assert(rounds === 1)
    assert(labels.columns.toSeq === Seq("vec_id", "label"))
    assert(labels.count() === 0L)
    util.Ckpt.release(spark)
  }
}
