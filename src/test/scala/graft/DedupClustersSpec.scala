package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[ops.Dedup.dedupClustersFrom]] against a driver-side union-find on
  * generated incidences. Every case runs twice: with adaptive partition
  * coalescing, which folds these small incidences into one union-find
  * partition, and without it, so the pass runs over the session's 4
  * shuffle partitions and the cross-partition edges and label rounds do
  * the joining. */
class DedupClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  /** (doc_id, cluster, is_dup) by doc_id: cluster = min doc_id of the
    * doc's component, rows with a NULL doc_id or bkey ignored. */
  private def reference(rows: Seq[(Option[Long], String)]): Seq[(Long, Long, Int)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    val kept = rows.collect { case (Some(d), k) if k != null => (d, k) }
    kept.foreach { case (d, _) => parent.getOrElseUpdate(d, d) }
    kept.groupBy(_._2).values.foreach { run =>
      val docs = run.map(_._1)
      docs.foreach { d =>
        val (a, b) = (find(docs.head), find(d))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    }
    parent.keys.toSeq.sorted.map { d =>
      val c = find(d)
      (d, c, if (c < d) 1 else 0)
    }
  }

  private def labels(buckets: DataFrame): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    Dedup.dedupClustersFrom(buckets)
      .select("doc_id", "cluster", "is_dup").as[(Long, Long, Int)].collect().toSeq
  }

  /** Runs `body` with and without coalescing, the conf unset afterwards;
    * returns (coalesced, uncoalesced). */
  private def bothModes[T](body: => T): (T, T) = {
    val coalesced = try body finally util.Ckpt.release(spark)
    spark.conf.set(Coalesce, "false")
    val spread = try body finally {
      spark.conf.unset(Coalesce)
      util.Ckpt.release(spark)
    }
    (coalesced, spread)
  }

  private def check(rows: Seq[(Option[Long], String)]): Unit = {
    import spark.implicits._
    val want = reference(rows)
    val (a, b) = bothModes(labels(rows.toDF("doc_id", "bkey")))
    assert(a === want, "coalesced")
    assert(b === want, "4 partitions")
  }

  test("generated incidences: docs in 1 and 3 buckets, repeated rows, NULLs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 300L).flatMap { d =>
        val ks = Seq.fill(1 + rnd.nextInt(3))(s"k${rnd.nextInt(180)}")
        val repeated = if (d % 7 == 0) ks.take(1) else Nil
        (ks ++ repeated).map(k => (Option(d), k))
      } ++ Seq(
        (Some(300L), null), (Some(301L), null), (Some(301L), null), // absent
        (Some(5L), null), // a NULL bkey beside real ones
        (None, "k1"), (None, null))
      val want = reference(rows)
      assert(!want.exists(_._1 >= 300L))
      assert(want.exists(_._3 == 1) && want.exists(r => r._2 == r._1))
      check(rows)
    }
  }

  test("one hot bucket holding half the docs") {
    val rows = (0L until 400L).flatMap { d =>
      val own = (Option(d), s"own${d / 3}")
      if (d % 2 == 1) Seq(own, (Option(d), "hot")) else Seq(own)
    }
    check(rows)
  }

  test("a 40-doc chain: 0 rounds in one partition, path-halving rounds across four") {
    import spark.implicits._
    // doc i is in buckets b<i> and b<i+1>: one component of diameter 39
    val rows = (0L until 40L).flatMap(i => Seq((Option(i), s"b$i"), (Option(i), s"b${i + 1}")))
    check(rows)
    val (one, four) = bothModes {
      val c = Dedup.closure(rows.toDF("doc_id", "bkey"))
      c.labels.count()
      (c.partitions, c.crossEdges, c.rounds)
    }
    assert(one === ((1, 0L, 0)))
    val (parts, edges, rounds) = four
    assert(parts === 4)
    assert(edges > 0)
    assert(rounds >= 1 && rounds <= 8, s"$rounds rounds")
  }

  test("fixture clusters are identical with and without coalescing") {
    val (a, b) = bothModes(
      Dedup.dedupClusters(spark, TestSpark.Sf).collect().toSeq.map(_.toSeq))
    assert(a.nonEmpty)
    assert(a === b)
  }
}
