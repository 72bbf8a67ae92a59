package graft

import org.apache.spark.graftbridge.Jobs
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets for the heaviest queries that use no Served artifact, and
  * for the benchmark's `q_dedup_clusters`: the Spark jobs one full build
  * + execution submits at sf0.001, pinned at the measured count. Both
  * benchmark workloads are bound by job count, not compute, so an extra
  * job per loop round fails here even when [[PlanBudgetSpec]]'s exchange
  * counts stay put. Budgets are upper bounds; lower one when a change
  * removes jobs.
  *
  * Six queries ran the same count in every run measured (9–11 each,
  * over several JVMs) and are pinned exactly. `q_dbscan` ran 161–162: adaptive
  * execution submits each query stage as its own job and re-plans as
  * stages finish, so around its staged rounds the number of stage jobs
  * depends on the order concurrent stages finish. Its budget is the
  * highest count seen plus that spread of 2; one extra job per round
  * (15 rounds) still fails it. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf

  private val budgets = Seq(
    "q_dedup_semantic" -> 160,
    "q_dbscan" -> (162 + 2),
    "q_ann_ivf_trained" -> 69,
    "q_kmeans_train" -> 59,
    "q_kcore_peel" -> 52,
    "q_drift_report" -> 36,
    "q_dedup_clusters" -> 3)

  for ((name, ceiling) <- budgets) test(s"$name runs at most $ceiling jobs") {
    // every table's schema is memoized first, so no inference job counts
    Seq(Tables.events _, Tables.region _, Tables.nation _, Tables.customer _,
      Tables.supplier _, Tables.part _, Tables.orders _, Tables.lineitem _,
      Tables.documents _, Tables.embeddings _).foreach(_(spark, sf))
    val fn = SparkEntry.queries(name)
    val jobs = try Jobs.count(spark.sparkContext)(Bench.sink(name, fn(spark, sf)))
      finally util.Ckpt.release(spark, blocking = true)
    info(s"$name: $jobs jobs")
    assert(jobs <= ceiling, s"$name ran $jobs jobs, budget $ceiling")
  }
}
