package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.pipeline.Pipeline
import graft.util.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Settings handed over by `perfbench/run.py`. */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, corpus: String, work: String,
    expected: String, out: String, launchMs: Long, cores: Int,
    limitS: Double, words: Long, tokens: Long)

object Conf {
  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("corpus"), m("work"), m("expected"),
      m("out"), m("launch-ms").toLong, m("cores").toInt, m("limit-s").toDouble,
      m("words").toLong, m("tokens").toLong)
  }
}

/** One closed-loop operation. `id` names what it runs (a query, a pipeline
  * run); the loop adds the round to make each execution unique. */
final case class Task(id: String, run: () => Unit)

final case class OpResult(id: String, round: Int, traced: Boolean,
    seconds: Double, error: Option[String])

/** What the traced run records about one operation besides its spans.
  * RDDs the operation created have ids in (`rddFrom`, `rddTo`). */
final case class OpProbe(exchanges: Int, rddFrom: Int, rddTo: Int,
    kvItems: Long, writtenBytes: Long)

/** The benchmark process: one client thread drives one workload against
  * `local[cores]` through the engine's public functions. */
final class Bench(c: Conf, spark: SparkSession) {
  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val collector = new JobCollector
  if (c.trace) sc.addSparkListener(collector)

  /** Per traced operation (keyed "round:id"). */
  val probes = scala.collection.mutable.Map.empty[String, OpProbe]
  /** Durations of the benchmark's own `Tables.<t>(spark, dir)` calls. */
  val tablesResolve = ArrayBuffer.empty[Double]
  /** Wall time of the last query-function call (build side). */
  private var lastBuildS = 0.0
  private var currentOp = ""
  private var traceThisOp = false

  private def span[T](name: String)(body: => T): T =
    if (traceThisOp) tracer.span(name)(body) else body

  // ---- materialization ------------------------------------------------

  /** Computes every row and column of `df` and discards it: the physical
    * plan the query execution already built is executed once, under its
    * own SQL execution id, without collecting anything to the driver.
    * Planning is done (and timed) once, by `executedPlan`. */
  private def sink(name: String, df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    val plan = span("plans.plan")(qe.executedPlan)
    span("exec.run") {
      SQLExecution.withNewExecutionId(qe, Some(name)) {
        plan.execute().foreach(_ => ())
      }
    }
    plan
  }

  /** Shuffle and broadcast exchanges of the final (adaptive) plan, across
    * stage boundaries and into subqueries. */
  private def exchanges(p: SparkPlan): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var n = 0
    def go(x: SparkPlan): Unit = if (seen.add(x)) {
      x match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => n += 1
        case _ =>
      }
      x match {
        case q: QueryStageExec => go(q.plan)
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case _ =>
      }
      x.children.foreach(go)
      x.subqueries.foreach(go)
    }
    go(p)
    n
  }

  /** A fresh RDD id: every RDD created before this call has a smaller
    * one, every RDD created after it a larger one. */
  private def rddMark(): Int = sc.emptyRDD[Unit].id
  private var opRddFrom = 0

  private def release(): Unit = span("ckpt.release")(Ckpt.release(spark, blocking = true))

  def queryTask(name: String, fn: (SparkSession, String) => DataFrame): Task =
    Task(name, () => {
      try {
        val t0 = System.nanoTime()
        val df = span("ops.build")(fn(spark, c.data))
        lastBuildS = (System.nanoTime() - t0) / 1e9
        armLimit()
        if (collecting) warmRows = df.collect()
        else {
          val plan = sink(name, df)
          if (traceThisOp)
            probes(currentOp) = OpProbe(exchanges(plan), opRddFrom, rddMark(), 0L, 0L)
        }
      } finally release()
    })

  /** The first warm-up execution collects the full result instead of
    * sinking it, so the same execution serves as the run's output check. */
  private var collecting = false
  private var warmRows: Array[org.apache.spark.sql.Row] = null

  /** Collects a query's result for the output check, outside any timing. */
  def collectOnce(fn: (SparkSession, String) => DataFrame): Array[org.apache.spark.sql.Row] =
    try fn(spark, c.data).collect() finally Ckpt.release(spark, blocking = true)

  /** The rows the last warm-up execution collected (then forgotten). */
  def takeWarmRows(): Option[Array[org.apache.spark.sql.Row]] = {
    val r = Option(warmRows)
    warmRows = null
    r
  }

  // ---- the word-count pipeline ----------------------------------------

  private val results = s"${c.work}/analysis_results"
  private val kvDir = s"${c.work}/kv_table"
  private var etlRuns = 0
  private var lastItems = -1L

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  /** Job A then Job B into a fresh run id. Untraced it is exactly
    * `Pipeline.runWordCountPipeline`; traced it makes the same public
    * calls in the same order, so each stage can be timed on its own. */
  def etlTask: Task = Task("etl", () => try {
    etlRuns += 1
    val runId = f"$etlRuns%08d"
    if (!traceThisOp) {
      lastItems = Pipeline.runWordCountPipeline(spark, c.corpus, c.work, runId)
    } else {
      val runDir = s"$results/run_$runId"
      span("pipeline.stage_a") {
        val wc = span("ops.build")(graft.ops.Relational.wordCount(spark, c.corpus))
        span("exec.run")(Pipeline.writeWithManifest(wc, runDir,
          Pipeline.RunManifest(runId, Seq(s"${c.corpus}/documents.parquet"))))
      }
      val latest = span("pipeline.discover")(Pipeline.latestRun(results))
        .getOrElse(sys.error("no completed run found"))
      lastItems = span("pipeline.stage_b") {
        val items = Pipeline.kvItems(spark.read.parquet(s"$latest/word_counts")).cache()
        try span("exec.run") {
          Pipeline.kvSink(items, kvDir)
          items.count()
        } finally items.unpersist()
      }
      val written = dirBytes(new File(runDir)) + dirBytes(new File(kvDir))
      probes(currentOp) = OpProbe(0, opRddFrom, rddMark(), lastItems, written)
    }
  } finally release())

  /** Untimed output check of the run just made: KV items = distinct
    * words, Σ count = tokens, one JSONL line per item, and latest-run
    * discovery finds the newest run. */
  def checkEtl(): Option[String] = {
    val files = Option(new File(kvDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".jsonl"))
    var lines = 0L
    var total = 0L
    files.foreach { f =>
      Files.lines(f.toPath).iterator().asScala.foreach { l =>
        lines += 1
        total += l.substring(l.lastIndexOf(':') + 1, l.lastIndexOf('}')).trim.toLong
      }
    }
    val newest = Pipeline.latestRun(results).map(_.getFileName.toString)
    val want = f"run_$etlRuns%08d"
    Seq(
      (lastItems == c.words) -> s"kv items $lastItems != distinct words ${c.words}",
      (lines == lastItems) -> s"jsonl lines $lines != kv items $lastItems",
      (total == c.tokens) -> s"sum(count) $total != tokens ${c.tokens}",
      newest.contains(want) -> s"latestRun ${newest.getOrElse("none")} != $want",
    ).collectFirst { case (false, msg) => msg }
  }

  // ---- the closed loop ------------------------------------------------

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }
  private var opSeq = 0L

  private var armLimit: () => Unit = () => ()

  /** Runs `body` under a job group that is cancelled, with its future
    * jobs, once `limitS` has passed since the limit was armed: at once,
    * or (`armNow = false`) when a query task starts materializing, so a
    * warm-up's first Served builds run to completion. Returns (seconds,
    * error). */
  def limited(label: String, limitS: Double, armNow: Boolean = true)(
      body: => Unit): (Double, Option[String]) = {
    opSeq += 1
    val group = s"graftbench-$opSeq"
    sc.setJobGroup(group, label, interruptOnCancel = true)
    var timer: java.util.concurrent.ScheduledFuture[_] = null
    var armedAt = 0L
    armLimit = () => if (timer == null) {
      armedAt = System.nanoTime()
      timer = watchdog.schedule(new Runnable {
        def run(): Unit = sc.cancelJobGroupAndFutureJobs(group, "over the latency limit")
      }, (limitS * 1000).toLong, TimeUnit.MILLISECONDS)
    }
    if (armNow) armLimit()
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(200)}")
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (timer != null) timer.cancel(false)
    armLimit = () => ()
    sc.clearJobGroup()
    val overLimit =
      if (timer != null && (System.nanoTime() - armedAt) / 1e9 > limitS)
        Some(f"over the ${limitS}%.0f s latency limit")
      else None
    (dt, overLimit.orElse(err))
  }

  /** `warmUp` arms the latency limit only when a query materializes;
    * `collect` collects the full result for the output check. */
  def run(task: Task, round: Int, traced: Boolean, warmUp: Boolean = false,
      collect: Boolean = false): OpResult = {
    currentOp = s"$round:${task.id}"
    traceThisOp = traced
    collecting = collect
    if (traced) opRddFrom = rddMark()
    val (dt, err) = limited(task.id, c.limitS, armNow = !warmUp) {
      if (traced) tracer.operation(currentOp)(task.run()) else task.run()
    }
    traceThisOp = false
    collecting = false
    OpResult(task.id, round, traced, dt, err)
  }

  def lastBuildSeconds: Double = lastBuildS

  def stop(): Unit = watchdog.shutdownNow()

  /** Times one `Tables.<t>(spark, dir)` call per table the workload reads. */
  def resolveTables(dir: String, names: Seq[String]): Unit = names.foreach { t =>
    val t0 = System.nanoTime()
    t match {
      case "documents" => Tables.documents(spark, dir)
      case "embeddings" => Tables.embeddings(spark, dir)
    }
    tablesResolve += (System.nanoTime() - t0) / 1e9
  }
}

object Main {
  /** `llm_curation`: three stages of the corpus-curation chain, in chain
    * order: clustered dedup (staged, iterative driver loop), the
    * Heaps'-law fit and the served IVF index. */
  val curationStages: Seq[String] = Seq("q_dedup_clusters", "q_heaps_fit",
    "q_ann_ivf_served")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** VmHWM of this process, the JVM that is driver and executors at once. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Every artifact `graft.util.Served` published under `root`. */
  private def servedRuns(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_"))
      .flatMap(f => Option(f.listFiles()).toSeq.flatten)
      .flatMap(k => Option(k.listFiles()).toSeq.flatten)
      .filter(r => r.isDirectory && r.getName.startsWith("run_"))

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length

  /** The session every workload runs in: `local[cores]`, one shuffle
    * partition per core, UTC, the engine's SQL functions registered. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    spark
  }

  /** Order-sensitive digest of a full query result: SHA-256 over the
    * rendered rows, then the row count. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString + ":" + rows.length
  }

  def main(args: Array[String]): Unit = {
    val c = Conf.parse(args)
    val spark = session(c.cores, c.work)
    val b = new Bench(c, spark)
    val code =
      try { execute(c, spark, b); 0 }
      catch { case e: Throwable => e.printStackTrace(); 3 }
      finally b.stop()
    sys.exit(code)
  }

  private def execute(c: Conf, spark: SparkSession, b: Bench): Unit = {
    val rng = new scala.util.Random(c.seed)
    val all = SparkEntry.queries
    // (tasks of one round, warm-up rounds, minimum measured rounds, tables)
    val (roundTasks, warmRounds, minRounds, tables): (() => Seq[Task], Int, Int, Seq[String]) =
      c.workload match {
        case "etl_wordcount" => (() => Seq(b.etlTask), 6, 30, Seq("documents"))
        case "llm_curation" =>
          val qs = curationStages.map(n => b.queryTask(n, all(n)))
          // a fresh order each round, but never the same stage twice in a
          // row across a round boundary: a repeat runs faster than the
          // chain's stages do, and how often repeats fell would vary by seed
          var last = ""
          (() => {
            var order = rng.shuffle(qs)
            while (order.head.id == last) order = rng.shuffle(qs)
            last = order.last.id
            order
          }, 2, 6, Seq("documents", "embeddings"))
        case other => sys.error(s"unknown workload $other")
      }
    val tablesDir = if (c.workload == "etl_wordcount") c.corpus else c.data
    val expected: Map[String, String] =
      if (c.workload == "etl_wordcount") Map.empty
      else Files.readAllLines(Paths.get(c.expected)).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

    // ---- set-up: JVM, session and extensions are behind us; now the
    // fixed warm-up and every first Served build, with checks untimed
    val servedRoot = new File(System.getProperty("java.io.tmpdir"))
    var untimedS = 0.0
    val mismatch = scala.collection.mutable.Map.empty[String, String]
    val checked = scala.collection.mutable.Set.empty[String]
    var servedBuilds = 0
    var servedBuildS = 0.0
    val warmTimes = ArrayBuffer.empty[Seq[Double]]
    val warmOps = ArrayBuffer.empty[(Int, String, Double)]
    for (r <- 0 until warmRounds) {
      val times = roundTasks().map { t =>
        val before = servedRuns(servedRoot).size
        val res = b.run(t, -1 - r, traced = false, warmUp = true, collect = r == 0)
        val after = servedRuns(servedRoot).size
        if (after > before) {
          servedBuilds += after - before
          servedBuildS += b.lastBuildSeconds
        }
        val u0 = System.nanoTime()
        if (c.workload == "etl_wordcount") {
          b.checkEtl().orElse(res.error).foreach(m => mismatch(s"etl@warm$r") = m)
        } else b.takeWarmRows().filter(_ => checked.add(t.id)).foreach { rows =>
          // first complete execution in this run: compare its digest
          val got = digest(rows)
          val want = expected.getOrElse(t.id, "(no expected digest)")
          if (got != want) mismatch(t.id) = s"digest $got != expected $want"
        }
        untimedS += (System.nanoTime() - u0) / 1e9
        warmOps += ((r, t.id, res.seconds))
        res.seconds
      }
      warmTimes += times
    }
    val servedMb = servedRuns(servedRoot).map(bytesUnder).sum / 1e6
    val setupS = (System.currentTimeMillis() - c.launchMs) / 1e3 - untimedS
    mismatch.foreach { case (k, v) => System.err.println(s"[graftbench] MISMATCH $k: $v") }

    // ---- measured phase: whole rounds until --seconds have passed and
    // the workload's minimum rounds are done
    val ops = ArrayBuffer.empty[OpResult]
    val roundP50 = ArrayBuffer.empty[Double]
    var timedS = 0.0
    var round = 0
    // a traced run traces every other execution of each task (by its
    // place in the unshuffled round), over an even number of rounds, so
    // traced and untraced executions cover the same tasks equally
    val place = (if (c.workload == "etl_wordcount") Seq("etl") else curationStages)
      .sorted.zipWithIndex.toMap
    while (timedS < c.seconds || round < minRounds ||
        (c.trace && (round < 2 || round % 2 == 1))) {
      if (c.trace) b.resolveTables(tablesDir, tables)
      val rs = roundTasks().map { t =>
        val traced = c.trace && (place(t.id) + round) % 2 == 1
        val res = b.run(t, round, traced)
        timedS += res.seconds
        val u0 = System.nanoTime()
        if (c.workload != "etl_wordcount" && res.error.isEmpty && checked.add(t.id)) {
          // no complete warm-up execution to check: check this one's output
          var rows = Array.empty[org.apache.spark.sql.Row]
          val (_, err) = b.limited(s"check ${t.id}", c.limitS) { rows = b.collectOnce(all(t.id)) }
          val want = expected.getOrElse(t.id, "(no expected digest)")
          if (err.nonEmpty) mismatch(t.id) = s"check run failed: ${err.get}"
          else if (digest(rows) != want) mismatch(t.id) = s"digest ${digest(rows)} != expected $want"
        }
        val bad =
          if (c.workload == "etl_wordcount") b.checkEtl()
          else mismatch.get(t.id)
        untimedS += (System.nanoTime() - u0) / 1e9
        val out = res.copy(error = res.error.orElse(bad))
        if (out.error.nonEmpty && c.workload == "etl_wordcount" && bad.nonEmpty)
          mismatch(s"etl@$round") = bad.get
        out
      }
      ops ++= rs
      roundP50 += median(rs.map(_.seconds))
      round += 1
    }
    val peak = peakRssMb()
    val cores = c.cores
    spark.stop() // drains the listener bus before the trace is read

    // ---- end-to-end metrics (untraced operations only)
    val plain = ops.filter(!_.traced)
    val times = plain.map(_.seconds).sorted
    val n = times.size
    // the highest percentile with >= 10 operations beyond it; below 21
    // operations that percentile is under the median, and the slowest
    // operation is reported instead
    val k = if (n > 20) n - 11 else n - 1
    val tailPct = 100.0 * (k + 1) / n
    val failed = ops.count(_.error.nonEmpty)
    val ok = plain.count(_.error.isEmpty)
    val plainS = plain.map(_.seconds).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(times.toSeq), "s"),
      ("op_tail_s", times(k), "s"),
      ("ops_per_s", ok / plainS, "1/s"),
      ("ok_ratio", ok.toDouble / n, "ratio"),
      ("peak_rss_mb", peak, "MB"))

    // ---- per-layer metrics (traced operations only)
    val traced = ops.filter(_.traced)
    val spans = b.tracer.spans.toSeq
    val self = SelfTime.of(spans)
    val byOp = spans.groupBy(_.op)
    def perOp(name: String, f: Span => Double): Seq[Double] =
      traced.map(o => byOp.getOrElse(s"${o.round}:${o.id}", Nil).filter(_.name == name).map(f).sum).toSeq
    def jobsOf(name: String): Seq[JobTotals] =
      traced.map { o =>
        val t = new JobTotals
        byOp.getOrElse(s"${o.round}:${o.id}", Nil).filter(_.name == name)
          .foreach(s => b.collector.totalsOf(s.id).foreach(t.add))
        t
      }.toSeq
    val nt = math.max(1, traced.size).toDouble
    val ex = jobsOf("exec.run")
    val build = jobsOf("ops.build")
    val probes = traced.flatMap(o => b.probes.get(s"${o.round}:${o.id}")).toSeq
    val staged = probes.map(p => b.collector.storedBetween(p.rddFrom, p.rddTo))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val mb = 1e6
    val runS = perOp("exec.run", _.durS)
    val inputBytes = new File(s"${c.corpus}/documents.parquet").length.toDouble
    val tracedTimes = traced.map(_.seconds).toSeq
    val layers = Seq(
      ("tables.resolve_s", median(b.tablesResolve.toSeq), "s"),
      ("ops.build_s", median(perOp("ops.build", s => self(s.id))), "s"),
      ("ops.build_jobs", build.map(_.jobs).sum / nt, "count"),
      ("plans.plan_s", median(perOp("plans.plan", _.durS)), "s"),
      ("plans.exchanges", probes.map(_.exchanges).sum / nt, "count"),
      ("exec.run_s", median(runS), "s"),
      ("exec.jobs", ex.map(_.jobs).sum / nt, "count"),
      ("exec.stages", ex.map(_.stages).sum / nt, "count"),
      ("exec.tasks", ex.map(_.tasks).sum / nt, "count"),
      ("exec.task_run_s", ex.map(_.runMs).sum / 1e3 / nt, "s"),
      ("exec.task_cpu_s", ex.map(_.cpuNs).sum / 1e9 / nt, "s"),
      ("exec.gc_s", ex.map(_.gcMs).sum / 1e3 / nt, "s"),
      ("exec.core_util", if (runS.sum > 0) ex.map(_.runMs).sum / 1e3 / (runS.sum * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", ex.map(_.shuffleWrite).sum / mb / nt, "MB"),
      ("exec.shuffle_read_mb", ex.map(_.shuffleRead).sum / mb / nt, "MB"),
      ("exec.spill_mb", ex.map(_.spill).sum / mb / nt, "MB"),
      ("exec.input_mb", ex.map(_.input).sum / mb / nt, "MB"),
      ("exec.output_mb", ex.map(_.output).sum / mb / nt, "MB"),
      ("ckpt.staged_rdds", staged.map(_._1).sum / nt, "count"),
      ("ckpt.staged_mb", staged.map(_._2).sum / mb / nt, "MB"),
      ("ckpt.release_s", median(perOp("ckpt.release", _.durS)), "s"),
      ("served.builds", servedBuilds.toDouble, "count"),
      ("served.build_s", servedBuildS, "s"),
      ("served.mb", servedMb, "MB"),
      ("pipeline.stage_a_s", median(perOp("pipeline.stage_a", _.durS)), "s"),
      ("pipeline.discover_s", median(perOp("pipeline.discover", _.durS)), "s"),
      ("pipeline.stage_b_s", median(perOp("pipeline.stage_b", _.durS)), "s"),
      ("pipeline.kv_items", mean(probes.map(_.kvItems.toDouble)), "count"),
      ("pipeline.write_amp", if (c.workload == "etl_wordcount") mean(probes.map(_.writtenBytes / inputBytes)) else 0.0, "ratio"),
      ("trace.op_p50_s", median(tracedTimes), "s"),
      ("trace.overhead_s", median(tracedTimes) - median(times.toSeq), "s"))

    // ---- spans and per-layer self time, written at exit
    new File(c.out).mkdirs()
    val jobSpans = b.collector.jobs.asScala.toSeq.map { case (job, parent, s, e) =>
      Span(1000000000L + job, parent, "spark.job",
        spans.find(_.id == parent).map(_.op).getOrElse(""), s * 1000, e * 1000)
    }
    Files.write(Paths.get(s"${c.out}/spans.jsonl"), (spans ++ jobSpans).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${jstr(s.name)},"op":${jstr(s.op)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.asJava)
    val selfByLayer = spans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }

    def obj(xs: Seq[(String, Double, String)]): String =
      xs.map { case (k, v, u) => s"${jstr(k)}:{\"value\":${fmt(v)},\"unit\":${jstr(u)}}" }
        .mkString("{", ",", "}")
    val json = new StringBuilder()
      .append(s"""{"correct":${mismatch.isEmpty},"attempted":${ops.size},"failed":$failed,""")
      .append(s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)},""")
      .append(s""""details":{"workload":${jstr(c.workload)},"seed":${c.seed},"cores":$cores,""")
      .append(s""""tail_percentile":${fmt(tailPct)},"tail_samples":$n,"measured_rounds":$round,""")
      .append(s""""timed_s":${fmt(timedS)},"untimed_check_s":${fmt(untimedS)},"limit_s":${fmt(c.limitS)},""")
      .append(s""""warm_round_p50_s":${warmTimes.map(w => fmt(median(w.toSeq))).mkString("[", ",", "]")},""")
      .append(s""""round_p50_s":${roundP50.map(fmt).mkString("[", ",", "]")},""")
      .append(s""""op_median_s":${plain.groupBy(_.id).toSeq.sortBy(_._1).map { case (id, os) => s"${jstr(id)}:${fmt(median(os.map(_.seconds).toSeq))}" }.mkString("{", ",", "}")},""")
      .append(s""""op_s":${plain.map(o => s"[${o.round},${jstr(o.id)},${fmt(o.seconds)}]").mkString("[", ",", "]")},""")
      .append(s""""warm_op_s":${warmOps.map { case (r, id, v) => s"[$r,${jstr(id)},${fmt(v)}]" }.mkString("[", ",", "]")},""")
      .append(s""""self_s_by_layer":${selfByLayer.toSeq.sortBy(_._1).map { case (l, v) => s"${jstr(l)}:${fmt(v)}" }.mkString("{", ",", "}")},""")
      .append(s""""mismatches":${mismatch.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")},""")
      .append(s""""failures":${ops.filter(_.error.nonEmpty).groupBy(_.id).toSeq.sortBy(_._1).map { case (id, fs) => s"${jstr(id)}:{\"count\":${fs.size},\"error\":${jstr(fs.head.error.get)}}" }.mkString("{", ",", "}")}""")
      .append("}}")
    Files.writeString(Paths.get(s"${c.out}/result.json"), json.toString)
  }
}
