package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.util.Using

import org.apache.spark.graftbridge.Jobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** The query sweep: runs every `SparkEntry.queries` entry once, in full,
  * in one session, and records per query its wall seconds (build +
  * execute), its Spark jobs and the shuffle and broadcast exchanges of
  * its final plan.
  *
  * Usage: Bench <sfDir> <out.json> [names…]
  *
  * `out.json` holds `queries` (name → seconds), `jobs`, `shuffles`,
  * `broadcasts`, `errors` (name → message), `sf` and `cores`;
  * `dev/check.py --benchdiff OLD NEW` compares two of them. Stdout gets
  * one short JSON summary line. A query that throws goes under `errors`
  * and the sweep goes on.
  *
  * The run gets a fresh `java.io.tmpdir`, so every Served artifact is
  * built inside the run rather than served from an earlier JVM's. */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  final case class Row(seconds: Double, jobs: Int, shuffles: Int, broadcasts: Int)

  /** Computes every row and column of `df` and discards it: the physical
    * plan is executed once, under its own SQL execution id, without
    * collecting anything to the driver. Returns the executed plan. */
  def sink(name: String, df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    val plan = qe.executedPlan
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      plan.execute().foreach(_ => ())
    }
    plan
  }

  /** Builds and sinks one query, then releases its staged blocks. Left is
    * the error message of a query that throws. */
  def measure(spark: SparkSession, sfDir: String, name: String, fn: Query): Either[String, Row] = {
    var secs = 0.0
    var result: Either[String, SparkPlan] = Left("not run")
    val jobs = Jobs.count(spark.sparkContext) {
      val t0 = System.nanoTime()
      result =
        try Right(sink(name, fn(spark, sfDir)))
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
      secs = (System.nanoTime() - t0) / 1e9
    }
    util.Ckpt.release(spark, blocking = true)
    result.map { plan =>
      val all = PlanAudit.nodes(PlanAudit.finalPlan(plan))
      Row(secs, jobs, all.count(_.isInstanceOf[ShuffleExchangeLike]),
        all.count(_.isInstanceOf[BroadcastExchangeLike]))
    }
  }

  def sweep(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Seq[(String, Either[String, Row])] =
    queries.map { case (name, fn) =>
      val r = measure(spark, sfDir, name, fn)
      r.left.foreach(e => System.err.println(s"[bench] FAILED $name: $e"))
      name -> r
    }

  // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
  private def r3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
  private val q = pipeline.Pipeline.jsonString _

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  /** The sweep table as one JSON object. */
  def table(sfDir: String, cores: Int, rs: Seq[(String, Either[String, Row])]): String = {
    val ok = rs.collect { case (n, Right(r)) => n -> r }
    def col(f: Row => String) = obj(ok.map { case (n, r) => n -> f(r) })
    obj(Seq(
      "sf" -> q(sfDir), "cores" -> cores.toString,
      "queries" -> col(r => r3(r.seconds)), "jobs" -> col(_.jobs.toString),
      "shuffles" -> col(_.shuffles.toString), "broadcasts" -> col(_.broadcasts.toString),
      "errors" -> obj(rs.collect { case (n, Left(e)) => n -> q(e) })))
  }

  /** One short JSON line: counts, totals and where the table went. */
  def summary(sfDir: String, cores: Int, out: String,
      rs: Seq[(String, Either[String, Row])]): String = {
    val ok = rs.collect { case (_, Right(r)) => r }
    obj(Seq("sf" -> q(sfDir), "cores" -> cores.toString,
      "n_queries" -> rs.size.toString, "n_errors" -> (rs.size - ok.size).toString,
      "seconds" -> r3(ok.map(_.seconds).sum), "jobs" -> ok.map(_.jobs).sum.toString,
      "out" -> q(out)))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out, names @ _*) = args
    val tmp = Files.createTempDirectory("graft_sweep")
    System.setProperty("java.io.tmpdir", tmp.toString)
    val cores = LocalSession.defaultCores
    val spark = LocalSession(cores)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    val rs = sweep(spark, sfDir, queries)
    spark.stop()
    Files.writeString(Paths.get(out), table(sfDir, cores, rs))
    Using.resource(Files.walk(tmp))(_.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p)))
    println(summary(sfDir, cores, out, rs))
  }
}
