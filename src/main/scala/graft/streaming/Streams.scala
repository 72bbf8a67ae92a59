package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §1.1 "time-series/streaming" row).
  *
  * The reference never streams — its raw bucket has EventBridge enabled but
  * unwired (`demo2a-stack.ts:19`), so streaming is declared headroom. These
  * are the `readStream` formulations of the batch event-time queries in
  * [[graft.ops.EventTime]]: same logical plans, incremental execution, with
  * watermarked state cleanup so state size is bounded at 100 TB/day rates.
  * Verified in batch-equivalence smoke tests (memory sink +
  * `processAllAvailable`), per SURVEY.md §2b footer — the batch queries are
  * the oracle.
  */
object Streams {

  /** Streaming source over the events directory, ts normalized to a proper
    * microsecond timestamp. Streaming reads require an explicit schema; we
    * take it from a one-footer batch read of the same file so the stream
    * tracks the fixture's physical layout (int64 nanos in the original
    * generation, timestamp[us]/NTZ in the regenerated one — see
    * [[graft.Tables.events]]), then apply the same normalization the batch
    * loader uses so both shapes yield an identical TimestampType column.
    *
    * Failure mode (ADVICE r6): source binding is EAGER — the footer read
    * and FS stat run at stream construction, so a missing events.parquet
    * throws FileNotFoundException here rather than defining a stream that
    * silently emits nothing (the pre-layout-aware behavior). Loud-early is
    * intentional; callers expecting lazy binding should existence-check
    * the path first. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val table = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val physical = spark.read.parquet(table.toString).schema
    val reader = spark.readStream.schema(physical)
    // layout-aware (the embeddingsStream fix): when the table is a
    // DIRECTORY of part files (sharded sf1 layout) the stream must target
    // it directly — pathGlobFilter matches leaf FILE names only and would
    // silently read zero files; when it is a single file, the file-stream
    // source requires a directory, so parent dir + glob applies
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.Tables.normalizeTs(
      if (fs.getFileStatus(table).isDirectory) reader.parquet(table.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Streaming embeddings source — the file-stream formulation of the
    * embeddings table (new part files arriving become new micro-batches:
    * the "index newly ingested vectors" feed of an ANN service).
    *
    * Layout-aware (ADVICE round 5): when `embeddings.parquet` is a
    * DIRECTORY of part files (the sharded sf1 layout), the stream targets
    * that directory itself — the previous parent-dir + `pathGlobFilter`
    * formulation matched leaf FILE names only and silently read zero
    * files there. When it is a single file (the fixture layout), the
    * file-stream source requires a directory path, so the parent dir +
    * glob formulation applies. One driver-side FS stat at stream
    * construction picks the shape. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val table = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = spark.readStream.schema(schema)
    if (fs.getFileStatus(table).isDirectory) reader.parquet(table.toString)
    else reader.option("pathGlobFilter", "embeddings.parquet").parquet(dir)
  }

  /** Quantizer-cell assignment for one micro-batch of ingested embeddings
    * against a static (cid, cv array&lt;double&gt;, cn) centroid frame — e.g.
    * [[graft.ops.Similarity.kmeansTrain]]'s output reshaped to lists. Run
    * inside `foreachBatch`, where the batch is a plain DataFrame, so the
    * batch path's cell-assignment rule, [[graft.ops.Similarity.nearestCell]],
    * applies unchanged — the standard pattern for reusing batch logic on a
    * stream.
    * Stateless by design: no watermark, no state store; each vector's cell
    * depends only on its own row and the broadcast centroids, so the
    * streaming ingestion side of an IVF index scales with batch size, not
    * stream history. */
  def assignCells(batch: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.doubleDot
    val n = batch.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(doubleDot(col("v"), col("v"))))
    graft.ops.Similarity.nearestCell(n, cents, doubleDot)
  }

  /** Micro-batch PSI drift against a broadcast baseline histogram — the
    * streaming twin of [[graft.ops.Statistics.psiDrift]], completing the
    * monitoring-in-flight story: the batch stats job publishes yesterday's
    * histogram (bkt, cnt) over FIXED bin edges [lo, hi), and each
    * micro-batch inside `foreachBatch` scores its own value distribution
    * against it — an alarm fires while data is still landing, not at the
    * next batch audit.
    *
    * Same shape discipline as [[assignCells]]: stateless (no watermark, no
    * state store — each batch's PSI depends only on that batch and the
    * broadcast baseline), so the monitor scales with batch size, not
    * stream history. The PSI arithmetic is
    * [[graft.ops.Statistics.psiFromSmoothed]] — the SAME code path the
    * batch monitor runs, so batch and streaming scores are identical by
    * construction on identical input (pinned by `StreamingSpec`).
    *
    * Two deliberate deviations from the batch query's binning, both
    * forced by streaming semantics: edges come from the BASELINE (a
    * batch's own extent would make its bins incomparable to the
    * baseline's), and values below `lo` clamp into bin 0 (the batch
    * query never sees them — its extent is derived from the data;
    * a stream scoring against yesterday's edges can). */
  def psiVsBaseline(batch: DataFrame, baseline: DataFrame,
                    lo: Double, hi: Double): DataFrame = {
    val nb = graft.ops.Statistics.PsiBins
    val counts = batch.select(col("value"))
      .withColumn("bkt",
        when(lit(hi) === lit(lo), lit(0)).otherwise(
          least(lit(nb - 1), greatest(lit(0),
            floor((col("value") - lit(lo)) * nb / (lit(hi) - lit(lo))).cast("int")))))
      .groupBy("bkt").agg(count(lit(1)).as("r1"))
    val spine = batch.sparkSession.range(0, nb)
      .select(col("id").cast("int").as("bkt"))
    val binned = spine
      .join(counts, Seq("bkt"), "left")
      .join(broadcast(baseline.select(col("bkt"), col("cnt").as("r2"))),
        Seq("bkt"), "left")
      .select(col("bkt"),
        (coalesce(col("r1"), lit(0L)) + 1).as("o1"),
        (coalesce(col("r2"), lit(0L)) + 1).as("o2"))
    graft.ops.Statistics.psiFromSmoothed(binned)
      .select(col("bkt"),
        (col("o1") - 1).as("n_batch"), (col("o2") - 1).as("n_base"),
        col("contrib").cast("double").as("contrib"),
        col("psi_d").cast("double").as("psi"))
      .orderBy("bkt")
  }

  /** Micro-batch chi-square homogeneity against a broadcast baseline
    * label distribution — the categorical companion to [[psiVsBaseline]]
    * (PSI watches a numeric distribution in flight, this watches the
    * event-type/language/source mix). The baseline is (event_type, cnt)
    * from the batch stats job; each micro-batch's type counts become the
    * other sample of the two-sample test. Stateless like [[assignCells]];
    * the arithmetic is [[graft.ops.Statistics.chisqPerType]] — the SAME
    * code path the batch monitor runs, so scores are identical by
    * construction on identical input (pinned by `StreamingSpec`).
    * Types absent from one side get a zero cell via the full outer union
    * of the two key sets — both sides always score the same k cells.
    * Returns one row per type with (event_type, n_batch, n_base, contrib,
    * chi2, df). */
  def chisqVsBaseline(batch: DataFrame, baseline: DataFrame): DataFrame = {
    val counts = batch.groupBy("event_type").agg(count(lit(1)).as("o1"))
    val cells = counts
      .join(broadcast(baseline.select(col("event_type"), col("cnt").as("o2"))),
        Seq("event_type"), "full")
      .select(col("event_type"),
        coalesce(col("o1"), lit(0L)).as("o1"),
        coalesce(col("o2"), lit(0L)).as("o2"))
    val perType = graft.ops.Statistics.chisqPerType(cells)
    val chi2 = perType.agg(sum("contrib").as("chi2_d"), first("k").as("kk"))
    perType.crossJoin(broadcast(chi2))
      .select(col("event_type"),
        col("o1").as("n_batch"), col("o2").as("n_base"),
        col("contrib").cast("double").as("contrib"),
        col("chi2_d").cast("double").as("chi2"),
        (col("kk") - 1).as("df"))
      .orderBy("event_type")
  }

  /** Fixed-edge histogram of `value` over [lo, hi) with [[graft.ops.
    * Statistics.PsiBins]] bins — the baseline builder for
    * [[psiVsBaseline]] (the batch stats job publishes this alongside its
    * PSI report; same clamped binning expression as the streaming side). */
  def valueHistogram(events: DataFrame, lo: Double, hi: Double): DataFrame = {
    val nb = graft.ops.Statistics.PsiBins
    events.select(col("value"))
      .withColumn("bkt",
        when(lit(hi) === lit(lo), lit(0)).otherwise(
          least(lit(nb - 1), greatest(lit(0),
            floor((col("value") - lit(lo)) * nb / (lit(hi) - lit(lo))).cast("int")))))
      .groupBy("bkt").agg(count(lit(1)).as("cnt"))
  }

  /** Micro-batch embedding-centroid shift against a broadcast baseline —
    * the embedding-space companion to [[psiVsBaseline]] (numeric) and
    * [[chisqVsBaseline]] (categorical), and the streaming twin of
    * [[graft.ops.Statistics.embedDrift]]: the batch stats job publishes
    * per-(label, dim) micro-unit coordinate sums
    * ([[graft.ops.Statistics.dimSums]] — the mergeable sufficient
    * statistic), and each micro-batch's own dim-sums score against it,
    * flagging encoder retrains / semantic source shifts while vectors
    * are still landing. Stateless like the other monitors; the rollup is
    * [[graft.ops.Statistics.shiftRollup]] — the SAME integer-numerator
    * arithmetic the batch monitor runs, so scores are identical by
    * construction on identical input (pinned in `StreamingSpec`).
    * Labels absent from the baseline drop (no shift is defined).
    * Returns (label, n_ref, n_cur, max_shift, l1_shift). */
  def embedShiftVsBaseline(batch: DataFrame, baseline: DataFrame): DataFrame =
    graft.ops.Statistics.shiftRollup(
      graft.ops.Statistics.dimSums(batch)
        .select(col("label"), col("dim"), col("s").as("s1"), col("n").as("n1"))
        .join(broadcast(baseline
          .select(col("label"), col("dim"), col("s").as("s0"), col("n").as("n0"))),
          Seq("label", "dim")))

  /** PQ-encode one micro-batch of ingested embeddings against a static
    * codebook frame — the PQ half of streaming index maintenance
    * ([[assignCells]] is the IVF half): new vectors arriving on the
    * embeddings stream become CODES rows appended to the materialized
    * index that `Similarity.pqAdcServed`/`annIvfPqServed` serve from.
    * Run inside `foreachBatch`; the encode is
    * [[graft.ops.Similarity.pqEncodeOf]] — the SAME argmin the batch
    * index build runs, so streamed codes are bit-identical to a batch
    * re-encode (pinned in `StreamingSpec`). Stateless: each vector's
    * codes depend only on its own row and the broadcast codebook, so
    * ingestion scales with batch size, not stream history. */
  def encodePqBatch(batch: DataFrame, codebook: DataFrame): DataFrame =
    graft.ops.Similarity.pqEncodeOf(batch, codebook)

  /** Tumbling 1-hour counts with a 1-hour watermark — the streaming twin of
    * `EventTime.tumblingWindow`. Watermark bounds the state store: windows
    * older than (max event time − 1h) are finalized and evicted. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(24, 6))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** One micro-batch advance of the α=½ EWMA — the streaming twin of
    * [[graft.ops.EventTime.ewmaSmooth]], in the exact closed form that
    * query proves out: state per event type is (t, W) with
    * sₜ = Wₜ/2ᵗ⁺¹ and Wₜ₊₁ = Wₜ + nₜ₊₁·2ᵗ⁺¹ — so each day's advance is
    * ONE integer multiply-add per type, and the smoothed value stays
    * BIT-exact against the batch recomputation forever (pinned by
    * `StreamingSpec`'s fold-vs-batch tests, including a synthetic
    * missing-cell series). A type absent from a day advances with
    * n = 0 (its EWMA halves — the correct decay), and the batch query
    * zero-fills the same cells causally from each type's first
    * observed day (ADVICE r7), so the two decay identically; a type
    * first seen mid-stream seeds its own series (W = 4n, s = n) —
    * mirrored batch-side by starting the grid at the type's first day.
    *
    * Shape: the state frame is ≤ |event types| rows — a broadcast-scale
    * foldable the `foreachBatch` loop carries; each batch touches its
    * own rows once. The same BIGINT range edge as the batch query:
    * re-base the recurrence per ~40-day chunk. */
  def ewmaAdvance(state: DataFrame, day: DataFrame): DataFrame =
    state.select(col("event_type"), col("t"), col("w"))
      .join(day.select(col("event_type"), col("n")), Seq("event_type"), "full")
      .select(col("event_type"),
        coalesce(col("t"), lit(0)).as("t0"),
        coalesce(col("w"), lit(0L)).as("w0"),
        coalesce(col("n"), lit(0L)).as("n"))
      .select(col("event_type"), (col("t0") + 1).as("t"),
        when(col("t0") === 0, lit(4L) * col("n"))
          .otherwise(col("w0") +
            col("n") * expr("shiftleft(cast(1 as bigint), t0 + 1)")).as("w"))
      .withColumn("ewma", col("w").cast("double") /
        expr("shiftleft(cast(1 as bigint), t + 1)").cast("double"))

  /** One micro-batch (one day) advance of the Holt linear smoother per
    * event type — the in-flight twin of
    * [[graft.ops.EventTime.holtLinear]]: state (l, b) seeds at (x, 0) on
    * a type's FIRST sight (matching the batch grid, which starts at each
    * type's first observed day) and advances by the same two dyadic
    * half-steps lₜ = (x + l + b)·0.5, bₜ = ((lₜ − l) + b)·0.5; a type
    * in state but absent from a day advances with x = 0 (the batch
    * query's causal zero-fill — a silent day decays level AND trend). A
    * type with neither state nor events emits nothing (it does not exist
    * yet). Every step is the identical fixed op sequence the batch fold
    * performs, so fold-vs-batch is BIT-exact forever (`StreamingSpec`).
    *
    * Shape: state is ≤ |event types| rows, carried by a `foreachBatch`
    * loop; each batch touches its own rows once. */
  def holtAdvance(state: DataFrame, day: DataFrame): DataFrame =
    state.select(col("event_type"), col("l"), col("b"))
      .join(day.select(col("event_type"), col("n")), Seq("event_type"), "full")
      .select(col("event_type"),
        col("l").as("l0"), col("b").as("b0"),
        coalesce(col("n"), lit(0L)).as("n"))
      .filter(col("l0").isNotNull || col("n") > 0)
      .select(col("event_type"), col("n"),
        when(col("l0").isNull, col("n").cast("double"))
          .otherwise((col("n").cast("double") + col("l0") + col("b0")) * lit(0.5))
          .as("l"),
        when(col("l0").isNull, lit(0.0))
          .otherwise((((col("n").cast("double") + col("l0") + col("b0")) * lit(0.5))
            - col("l0") + col("b0")) * lit(0.5))
          .as("b"))
      .withColumn("forecast_next", col("l") + col("b"))

  /** One micro-batch (one day) advance of the ONLINE Page–Hinkley
    * detector per event type — the monitoring-in-flight twin of
    * [[graft.ops.Statistics.pageHinkley]]. The batch query is
    * retrospective (its x̄ is the WHOLE series' mean); the deployable
    * online form tests each day against the RUNNING mean:
    * m_t = Σ_{i≤t} (x_i − x̄_i − δ), PH_t = m_t − min(0, m_1..m_t),
    * alarm when PH clears λ.
    *
    * Determinism — the [[ewmaAdvance]] fold discipline: state per type
    * is (t, cum, m, runmin, best_ph, best_day) where t and cum are exact
    * BIGINTs, each day's deviation d = (x·t′ − cum′ − δµ·t′)/t′ is ONE
    * correctly-rounded division of exact integers, and m advances by ONE
    * IEEE add — the identical operation sequence a batch replay with an
    * ordered running window performs, so fold-vs-batch is BIT-exact
    * forever (`StreamingSpec`). A type absent from a day advances with
    * x = 0 (a vanishing type IS a downward shift); a type first seen
    * mid-stream seeds its own series.
    *
    * Shape: state is ≤ |event types| rows, carried by a `foreachBatch`
    * loop; each batch touches its own rows once. δµ = 0.05 value-units
    * in micro-units, λ = 5 value-units — the batch detector's constants. */
  def pageHinkleyAdvance(state: DataFrame, day: DataFrame): DataFrame = {
    val deltaMicro = 50000L
    val lambda = 5.0
    state.select(col("event_type"), col("t"), col("cum"), col("m"),
        col("runmin"), col("best_ph"), col("best_day"))
      .join(day.select(col("event_type"), col("day"), col("x")),
        Seq("event_type"), "full")
      .select(col("event_type"),
        (coalesce(col("t"), lit(0L)) + 1).as("t1"),
        (coalesce(col("cum"), lit(0L)) + coalesce(col("x"), lit(0L))).as("cum1"),
        coalesce(col("m"), lit(0.0)).as("m0"),
        coalesce(col("runmin"), lit(0.0)).as("rm0"),
        coalesce(col("best_ph"), lit(-1.0)).as("bp0"),
        col("best_day").as("bd0"),
        coalesce(col("x"), lit(0L)).as("x"),
        col("day"))
      .withColumn("d",
        (col("x") * col("t1") - col("cum1") - lit(deltaMicro) * col("t1"))
          .cast("double") / col("t1").cast("double"))
      .withColumn("m", col("m0") + col("d"))
      .withColumn("runmin", least(col("rm0"), col("m")))
      .withColumn("ph", col("m") - col("runmin"))
      .select(col("event_type"), col("t1").as("t"), col("cum1").as("cum"),
        col("m"), col("runmin"),
        when(col("ph") > col("bp0"), col("ph")).otherwise(col("bp0")).as("best_ph"),
        when(col("ph") > col("bp0"), col("day")).otherwise(col("bd0")).as("best_day"),
        (col("ph") > lit(lambda) * lit(1000000.0)).cast("int").as("alarm"))
  }

  /** One day's advance of the ONLINE x̄ control chart — the
    * monitoring-in-flight twin of [[graft.ops.Statistics.spcXbar]]. The
    * batch chart is retrospective (Phase I: every day tested against the
    * WHOLE series' center and sigma); the deployable online form is the
    * Phase-II chart: day t's milli-quantized mean md_t is tested against
    * the center and sigma of days 1..t−1 only — history judges the new
    * point, the new point never moves its own limits.
    *
    * Determinism — the [[ewmaAdvance]] fold discipline: state is ONE row
    * of exact integers (t days seen, Σmd, Σmd²); the 3σ gate is the
    * batch chart's pure-integer comparison — with s = Σmd, s2 = Σmd²
    * over the t₀ = t−1 historical days,
    * (t₀·md − s)²·(t₀−1) > 9·(t₀·s2 − s²)·t₀ ⟺ (md − m̄)² > 9·σ̂²
    * — every quantity DECIMAL(38,0)-exact, so fold-vs-batch-replay is
    * BIT-exact forever (`StreamingSpec`). Days with t₀ < 2 cannot be
    * judged (no sigma yet) and emit 0.
    *
    * Shape: state is ONE narrow row regardless of stream length; each
    * micro-batch folds in one multiply-add. */
  def spcXbarAdvance(state: DataFrame, day: DataFrame): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    state.select(col("t"), col("smd"), col("smd2"))
      .join(day.select(col("day"), col("md")), lit(true), "full")
      .select(col("day"), col("md"),
        coalesce(col("t"), lit(0L)).as("t0"),
        coalesce(col("smd"), lit(0L)).as("s"),
        coalesce(col("smd2"), lit(0L).cast(dec0)).as("s2"))
      .select(col("day"), col("md"),
        (col("t0") + 1).as("t"),
        (col("s") + col("md")).as("smd"),
        (col("s2") + col("md").cast(dec0) * col("md").cast(dec0)).as("smd2"),
        when(col("t0") < 2, lit(0)).otherwise(
          ((col("t0").cast(dec0) * col("md").cast(dec0) - col("s").cast(dec0)) *
            (col("t0").cast(dec0) * col("md").cast(dec0) - col("s").cast(dec0)) *
            (col("t0") - 1).cast(dec0) >
            lit(9).cast(dec0) *
              (col("t0").cast(dec0) * col("s2") -
                col("s").cast(dec0) * col("s").cast(dec0)) *
              col("t0").cast(dec0)).cast("int"))
          .as("out_of_control"))
  }

  /** Stream-static enrichment join: each micro-batch of events joins the
    * static customer dimension (broadcast per batch — the dimension never
    * shuffles the stream). The standard streaming join shape; stream-stream
    * joins add watermarked state on both sides and are out of the
    * reference's declared surface. */
  def enrichedStream(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(
        customers.select(col("c_custkey"), col("c_mktsegment"))),
      events("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment"))

  /** Stream-stream interval join: views matched to same-user clicks landing
    * within 30 minutes after the view. Both sides are watermarked, and the
    * join condition bounds click_ts relative to view_ts from BOTH
    * directions — that pair of constraints is what lets Spark compute a
    * state-eviction frontier for each side, so the join state stays bounded
    * no matter how long the streams run. An unbounded-condition
    * stream-stream join would accumulate state forever at 100 TB/day. */
  def viewClickJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "1 hour")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("click_id"), col("user_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Streaming anomaly alerts (the reference's declared SNS-on-anomaly
    * objective, `reqdef.yaml:11,15` — SURVEY.md R22, streaming shape):
    * events whose value exceeds a per-type threshold, delivered per
    * micro-batch through `foreachBatch` so any batch sink (the KV store,
    * a topic) can receive them. Thresholds arrive as a plain map — in
    * production they'd be refreshed from the batch stats job. */
  def anomalyAlerts(events: DataFrame, thresholds: Map[String, Double])
                   (onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val thresholdCol = thresholds.foldLeft(lit(Double.MaxValue)) {
      case (acc, (t, v)) => when(col("event_type") === t, lit(v)).otherwise(acc)
    }
    events
      .filter(col("value") > thresholdCol)
      .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      .writeStream
      .foreachBatch(onBatch)
  }

  /** Streaming robust-outlier alerts — the monitoring-in-flight twin of
    * `graft.ops.Statistics.outlierMad`: each micro-batch's rows are
    * gated against a BROADCAST per-type (median, threshold) frame
    * computed by the batch robust-stats job (median ± 3·1.4826·MAD),
    * flagging |value − med| > thr. Stateless and scan-local per batch —
    * the stats frame is the only state, refreshed out-of-band exactly
    * like [[psiVsBaseline]]'s baseline histogram. Batch-equivalence:
    * the flagged set over the unioned micro-batches equals the batch
    * gate's flagged set (pinned in `StreamingSpec`), because the gate
    * is a pure row-local predicate on identical doubles. */
  def robustAlerts(events: DataFrame, stats: DataFrame): DataFrame =
    events.join(broadcast(stats), "event_type")
      .filter(col("value").isNotNull &&
        abs(col("value") - col("med")) > col("thr"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("thr"), col("ts"))

  /** Streaming exact dedup: keep the first occurrence of each `event_id`,
    * with the watermark bounding the dedup state store (events older than
    * the watermark are evicted — at-least-once sources stay exactly-once
    * within the watermark horizon, the streaming twin of
    * `graft.ops.Dedup.dedupExact`). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming Count-Min frequency sketch over an event-type stream —
    * the monitoring-in-flight twin of `graft.ops.Sketches.cmsFreq`:
    * the same [[graft.functions.SketchAggs.CountMinAgg]] runs as a
    * complete-mode global aggregate, so the state store carries exactly
    * the 8 KiB counter table and every micro-batch folds in with the
    * aggregate's own elementwise-add merge. Because CM merge is
    * associative/commutative integer addition, the sketch after N
    * micro-batches is BIT-IDENTICAL to the batch build over the union
    * of the inputs (pinned in `StreamingSpec`) — the strongest
    * batch-equivalence claim any twin here makes. Downstream consumers
    * point-query the emitted blob with `cmEstimate` without touching
    * the stream. */
  def cmSketchStream(events: DataFrame): DataFrame =
    events.select(col("event_type"))
      .groupBy()
      .agg(graft.functions.SketchAggs.cmAgg(col("event_type")).as("sk"))

  /** Streaming Misra-Gries heavy hitters over an event-type stream — the
    * in-flight twin of `graft.ops.Sketches.heavyHitters` ("what's
    * trending NOW"), completing the sketch-pair with [[cmSketchStream]]
    * (MG answers top items; CM answers point frequencies). Same
    * complete-mode global-aggregate shape: the state store carries only
    * the bounded counter map, each micro-batch folds in via the
    * aggregate's own merge. In the exact regime (map capacity ≥ the
    * type alphabet, always true for the 5-type events stream) no purge
    * ever fires, so streamed estimates EQUAL the batch build over the
    * union of the inputs — asserted in `StreamingSpec`; the purged
    * regime's error bounds are `SketchSpec` territory. */
  def mgStream(events: DataFrame): DataFrame =
    events.select(col("event_type"))
      .groupBy()
      .agg(graft.functions.SketchAggs.freqAgg(col("event_type"), 10).as("sk"))

  /** The reference's whole ETL as one streaming job (Jobs A+B fused):
    * incremental word counts over a document stream in update mode, each
    * micro-batch's changed rows pushed through the KV-item transform into
    * the batched KV sink (`graft.pipeline.Pipeline.kvItems`/`kvSink`).
    * Complete-mode would rewrite the world every batch; update mode emits
    * only keys whose counts changed — the scalable contract for a KV store
    * that upserts. */
  def wordCountToKv(docs: DataFrame, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    counts.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.pipeline.Pipeline.kvSink(
          graft.pipeline.Pipeline.kvItems(batch), s"$outDir/batch_$batchId")
      }
  }

  case class UserEvent(user_id: Long, event_id: Long, tsMicros: Long)
  case class UserSessionState(sessionStartMicros: Long, lastMicros: Long, nEvents: Long)
  case class SessionSummary(user_id: Long, n_events: Long,
                            start_micros: Long, end_micros: Long)

  private val GapMicros = 1800L * 1000 * 1000

  /** Custom sessionization state machine via flatMapGroupsWithState — the
    * streaming twin of `EventTime.sessionWindow` (gap = 30 min). Emits a
    * summary each time a gap closes a session; with `idleTimeout` set, a
    * processing-time timeout flushes the trailing open session (production
    * mode — leave unset for deterministic batch-driven tests, where
    * timeout-due batches would keep `processAllAvailable` spinning). */
  def sessionize(events: Dataset[UserEvent],
                 idleTimeout: Option[String] = None): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSessionState, SessionSummary](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(st =>
              SessionSummary(userId, st.nEvents, st.sessionStartMicros, st.lastMicros))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { e =>
              st match {
                case null =>
                  st = UserSessionState(e.tsMicros, e.tsMicros, 1)
                case s if e.tsMicros - s.lastMicros > GapMicros =>
                  closed += SessionSummary(userId, s.nEvents, s.sessionStartMicros, s.lastMicros)
                  st = UserSessionState(e.tsMicros, e.tsMicros, 1)
                case s =>
                  st = s.copy(lastMicros = e.tsMicros, nEvents = s.nEvents + 1)
              }
            }
            if (st != null) {
              state.update(st)
              idleTimeout.foreach(state.setTimeoutDuration)
            }
            closed.result().iterator
          }
      }
  }

  case class TypedEvent(user_id: Long, event_id: Long, tsMicros: Long,
                        event_type: String)
  case class LastEventState(tsMicros: Long, event_id: Long, event_type: String)
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Exact cross-batch transition extraction — the streaming twin of
    * `EventTime.markovTransition`: each user's LAST event persists as
    * flatMapGroupsWithState state, so the first event of a new
    * micro-batch still pairs with the final event of the previous one —
    * the transition a stateless per-batch lead() would silently drop at
    * every batch boundary. Within a batch, events order by the batch
    * twin's exact (ts, event_id) tiebreak.
    *
    * Correctness contract (same as [[sessionize]]): micro-batches must
    * be per-user time-ordered — a later batch must not deliver earlier
    * events (guaranteed by any in-order source; enforce with a watermark
    * upstream otherwise). The batch-equivalence law — streamed
    * transition counts == one lead() pass over the union of all
    * batches — is asserted in `StreamingSpec`.
    *
    * Scale shape: state is ONE tiny record per active user (the
    * minimum possible for exact boundary handling); emission is
    * append-mode and downstream aggregation (count by (from, to)) stays
    * map-side over ≤ |types|² keys. */
  def transitions(events: Dataset[TypedEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEventState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[LastEventState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption.orNull
          sorted.foreach { e =>
            if (last != null) out += Transition(userId, last.event_type, e.event_type)
            last = LastEventState(e.tsMicros, e.event_id, e.event_type)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  case class Lateness(user_id: Long, event_id: Long, event_type: String,
      late_us: Long)

  /** Streaming out-of-order audit — the in-flight twin of
    * `graft.ops.EventTime.latenessAudit`: per user, track the running max
    * event-time over ARRIVAL order (event_id within a batch; batch order
    * across batches) and emit each event's lateness — how far its
    * event-time sits behind everything that already arrived. Feeding the
    * emitted frame into the same per-type aggregate reproduces the batch
    * audit exactly (the equivalence law `StreamingSpec` asserts), which is
    * the tool that sizes a watermark ON the live stream rather than in
    * nightly hindsight.
    *
    * Ordering contract: like [[transitions]], a later micro-batch must
    * not deliver earlier ARRIVALS of the same user (any in-order source);
    * within a batch, rows sort by event_id — the replay is then exactly
    * the batch window's.
    *
    * Scale shape: state is ONE long per active user (the running max);
    * emission is append-mode, one row per input row, and the downstream
    * per-type aggregate is map-side over |types| keys. */
  def latenessStream(events: Dataset[TypedEvent]): Dataset[Lateness] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Lateness](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(_.event_id)
          val out = Seq.newBuilder[Lateness]
          var maxT = state.getOption.getOrElse(Long.MinValue)
          sorted.foreach { e =>
            val late = if (maxT > e.tsMicros) maxT - e.tsMicros else 0L
            out += Lateness(userId, e.event_id, e.event_type, late)
            if (e.tsMicros > maxT) maxT = e.tsMicros
          }
          state.update(maxT)
          out.result().iterator
      }
  }

  case class UserRunning(user_id: Long, n_events: Long, max_value: Double)

  /** Per-user running statistics through `transformWithState` — Spark 4's
    * arbitrary-state operator (the successor to flatMapGroupsWithState:
    * typed named state slots, independent TTLs, timers). Emits the updated
    * (count, max) pair for each user touched by a micro-batch. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), which is also the
    * right store at 100 TB/day state sizes — changelog checkpointing and
    * out-of-heap state. */
  class RunningUserStats
      extends StatefulProcessor[Long, (Long, Double), UserRunning] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var maxV: org.apache.spark.sql.streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      maxV = getHandle.getValueState[Double]("max_value",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      var c = if (count.exists()) count.get() else 0L
      var m = if (maxV.exists()) maxV.get() else Double.NegativeInfinity
      rows.foreach { case (_, v) => c += 1; if (v > m) m = v }
      count.update(c)
      maxV.update(m)
      Iterator(UserRunning(key, c, m))
    }
  }

  /** `transformWithState` wiring for [[RunningUserStats]]: update-mode
    * per-user running (count, max) over a (user_id, value) stream. */
  def runningUserStats(events: Dataset[(Long, Double)]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new RunningUserStats,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }
}
