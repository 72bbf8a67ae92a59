package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s per-query step: it records the jobs the listener sees
  * for the measured run and PlanAudit's exchange counts of the query's
  * final plan, a throwing query is recorded and skipped, and its output is
  * JSON. */
class SweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  // a plain aggregate, a broadcast join and a staged label-propagation loop
  private val names = Seq("q_word_count", "q_join_broadcast", "q_dedup_clusters")

  test("recorded jobs equal the listener's count of the same run; exchanges equal PlanAudit's") {
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      Bench.measure(spark, sf, name, fn) // memoizes table schemas first
      // adaptive execution may submit a stage job more or less from run to
      // run, so the jobs are counted on the measured run itself: every job
      // that carries the counter's tag (measure drains the bus before it
      // returns)
      val seen = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("graft.jobs") != null)) seen.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val row = try Bench.measure(spark, sf, name, fn).toOption.get
        finally spark.sparkContext.removeSparkListener(listener)
      assert(row.jobs > 0 && row.jobs === seen.get, name)
      val plan = try Bench.sink(name, fn(spark, sf))
        finally util.Ckpt.release(spark, blocking = true)
      val all = PlanAudit.nodes(PlanAudit.finalPlan(plan))
      assert(row.shuffles === all.count(_.isInstanceOf[ShuffleExchangeLike]), name)
      assert(row.broadcasts === all.count(_.isInstanceOf[BroadcastExchangeLike]), name)
      assert(row.seconds > 0, name)
    }
  }

  test("a throwing query is recorded under errors and the next query still runs") {
    val boom: Bench.Query = (s, _) => s.range(3).selectExpr("raise_error('boom') AS x")
    val rs = Bench.sweep(spark, sf, Seq("q_boom" -> boom, names.head -> SparkEntry.queries(names.head)))
    assert(rs.map(_._1) === Seq("q_boom", names.head))
    assert(rs.head._2.left.exists(_.contains("boom")))
    assert(rs(1)._2.isRight)
    val t = json.readTree(Bench.table(sf, 4, rs))
    assert(t.path("errors").path("q_boom").asText.contains("boom"))
    assert(!t.path("queries").has("q_boom") && t.path("queries").has(names.head))
    assert(t.path("jobs").path(names.head).asInt === rs(1)._2.toOption.get.jobs)
  }

  test("the summary line parses as JSON") {
    val rs = Bench.sweep(spark, sf, Seq(names.head -> SparkEntry.queries(names.head)))
    val line = Bench.summary(sf, 4, "out \"x\".json", rs)
    assert(!line.contains('\n'))
    val s = json.readTree(line)
    assert(s.path("n_queries").asInt === 1 && s.path("n_errors").asInt === 0)
    assert(s.path("out").asText === "out \"x\".json")
    assert(s.path("jobs").asInt === rs.head._2.toOption.get.jobs)
  }
}
