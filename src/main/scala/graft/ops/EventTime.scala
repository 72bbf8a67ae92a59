package graft.ops

import graft.util.Det
import graft.Tables
import graft.util.Det._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time analytics over the `events` fixture (SURVEY.md §2b:
  * q_tumbling_window, q_session_window, q_anomaly_filter).
  *
  * The reference declares but never implements event-driven processing
  * (raw bucket `eventBridgeEnabled: true`, `demo2a-stack.ts:19`; SNS anomaly
  * notification, `reqdef.yaml:11,15` — SURVEY.md R22). These are the batch
  * formulations with event-time semantics; `graft.streaming.Streams` carries
  * the Structured Streaming equivalents (watermark + windowed aggs).
  *
  * Session windows use the gaps-and-islands formulation (lag + cumulative
  * flag) rather than `session_window(...)` so the Spark plan and the DuckDB
  * oracle run the *same algorithm* — and it's one shuffle + one
  * per-partition sort, which also scales (no per-key state server needed in
  * batch). All timestamp comparisons happen at µs precision on both engines
  * (Spark truncates the ns fixtures on read; the oracle CASTs to µs).
  */
object EventTime {

  def tumblingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(24, 6))).cast("double").as("sum_value"))
      .select(
        fmtTs(col("window.start")).as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  private val GapMicros = 1800L * 1000 * 1000 // 30 min

  def sessionWindow(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          (unix_micros(col("ts")) - col("prev_us")) > GapMicros, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(wRun).cast("int"))
      .groupBy("user_id", "sess_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_end"))
      .orderBy("user_id", "sess_id")
  }

  /** R22: events whose value exceeds 3× the per-type mean — the "alerts"
    * DataFrame the reference's SNS notification objective implies. The
    * per-type stats are a 5-row broadcast, so the filter is one scan. */
  def anomalyFilter(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.events(s, d)
      .groupBy(col("event_type").as("t"))
      .agg(davg(col("value")).as("avg_v"))
    Tables.events(s, d)
      .join(broadcast(stats), col("event_type") === col("t"))
      .filter(col("value") > lit(3.0) * col("avg_v"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** Conversion funnel view → click → purchase: per user, the first view,
    * the first click at-or-after it, and the first purchase at-or-after
    * that click. Each stage is one conditional min over a key-partitioned
    * aggregate (counts-only shuffles); stage outputs are user-cardinality
    * and join back by key. The event-sequence analysis a training-data
    * pipeline runs over interaction logs. */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("first_view"))
    val c = ev.join(v, "user_id")
      .filter(col("event_type") === "click" && col("ts") >= col("first_view"))
      .groupBy("user_id").agg(min("ts").as("first_click"))
    val p = ev.join(c, "user_id")
      .filter(col("event_type") === "purchase" && col("ts") >= col("first_click"))
      .groupBy("user_id").agg(min("ts").as("first_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        fmtTs(col("first_view")).as("first_view"),
        fmtTs(col("first_click")).as("first_click"),
        fmtTs(col("first_purchase")).as("first_purchase"))
      .orderBy("user_id")
  }

  /** Time-interval self-join: same-user event pairs at most 2 hours apart —
    * the batch twin of a stream-stream interval join (and the shape of
    * sequence-mining / co-occurrence feature extraction). The equality key
    * (`user_id`) drives the hash join and the time band is a post-join
    * filter, so each user's events meet only each other — per-key bounded
    * work at any corpus size. Gap surfaces as exact integer microseconds
    * (both engines' µs-truncated timestamp domain). */
  def joinIntervalTime(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val a = e.select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
    val b = e.select(col("event_id").as("b_id"), col("user_id").as("u2"), col("ts").as("b_ts"))
    a.join(b, col("user_id") === col("u2") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
      .orderBy("a_id", "b_id")
  }

  /** Calendar-spine gap filling through a RECURSIVE CTE (Spark 4 SQL
    * surface): generate every month between the orders table's own min and
    * max order date — the bound rides along in the recursion so no
    * subquery appears in the recursive arm — and LEFT JOIN per-month order
    * counts so empty months surface as zeros. The spine is tiny (one row
    * per month) however large the fact table; the count side is one
    * partial-aggregated shuffle. */
  def recursiveCalendar(s: SparkSession, d: String): DataFrame = {
    val orders = graft.util.Views.forDir("orders_rc", d, Tables.orders(s, d))
    s.sql(
      s"""WITH RECURSIVE m(mon, last_mon) AS (
        |  SELECT date_trunc('month', min(o_orderdate)),
        |         date_trunc('month', max(o_orderdate))
        |  FROM $orders
        |  UNION ALL
        |  SELECT mon + INTERVAL 1 MONTH, last_mon FROM m WHERE mon < last_mon
        |), per AS (
        |  SELECT date_trunc('month', o_orderdate) AS mon, count(*) AS n_orders
        |  FROM $orders GROUP BY 1
        |)
        |SELECT date_format(m.mon, 'yyyy-MM-dd') AS month_start,
        |       coalesce(per.n_orders, 0) AS n_orders
        |FROM m LEFT JOIN per ON m.mon = per.mon
        |ORDER BY month_start""".stripMargin)
  }

  /** The [[graft.streaming.Streams.sessionize]] typed state machine
    * (flatMapGroupsWithState) run in BATCH mode over the events table —
    * proving the streaming session logic against a SQL oracle. Batch
    * execution delivers each user's full history in one group call; the
    * machine emits every session a gap CLOSED, and the trailing open
    * session stays in state — so the oracle is gaps-and-islands minus
    * each user's last island. */
  def sessionizeState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[graft.streaming.Streams.UserEvent]
    graft.streaming.Streams.sessionize(ev).toDF()
      .select(col("user_id"), col("n_events"),
        fmtTs(timestamp_micros(col("start_micros"))).as("sess_start"),
        fmtTs(timestamp_micros(col("end_micros"))).as("sess_end"))
      .orderBy("user_id", "sess_start")
  }

  /** Hopping (sliding) event-time window: 1-hour windows every 15 minutes,
    * so each event contributes to exactly 4 overlapping windows — the
    * smoothing aggregation dashboards run. Spark expands each row to its
    * windows and partial-aggregates before the shuffle (the shuffle
    * carries per-(window, type) partials, ~4× tumbling, never 4× rows).
    * Windows are epoch-aligned on the slide grid, matching DuckDB's
    * `time_bucket` in the oracle. */
  def hoppingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Det.q4(graft.util.Det.dsum(col("value"))).as("sum_value"))
      .select(fmtTs(col("window.start")).as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Cohort retention: users grouped by first-activity day, counted on
    * each later day they return — the (cohort, offset) retention matrix
    * (day grain: the fixture's whole event stream spans one month). Two
    * partial-aggregated shuffles (first-day per user, then matrix cells);
    * day arithmetic stays in integer epoch-day space so offsets are exact
    * in both engines. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("dd"))
    val firstD = ev.groupBy("user_id").agg(min(col("dd")).as("cohort_day"))
    val active = ev.distinct()
    active.join(firstD, "user_id")
      .groupBy(col("cohort_day"), (col("dd") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Cumulative distinct users by first-seen hour: each user counts once;
    * the running sum turns hourly first-appearances into the
    * cumulative-audience curve. The expensive distinct collapses to a
    * per-user aggregate; only the tiny per-hour series rides the final
    * single-partition window. */
  def cumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val firstHour = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(fmtTs(date_trunc("hour", col("ts")))).as("hour"))
    // unpartitioned running-sum window: runs AFTER the per-hour rollup,
    // over one row per DISTINCT HOUR — bounded by the calendar span of
    // the data (~9k rows/year), not by event or user cardinality, so the
    // single-partition sort is safe at any input scale
    val w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstHour.groupBy("hour").agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum(col("n_new_users")).over(w))
      .orderBy("hour")
  }

  /** Resample to a dense hourly grid + linear interpolation: per event
    * type, the observed hourly mean rides a generated hour spine (the
    * type's own [min, max] — interior gaps only, no extrapolation), and
    * missing hours are linearly interpolated between the surrounding
    * observations — the standard time-series regularization before any
    * windowed model sees the data. ~5% of hours are absent per type in
    * the fixture, so the interpolation path is genuinely exercised.
    *
    * Determinism: observed means are decimal-exact then rounded; the
    * interpolation is one IEEE expression over those rounded values and
    * integer epoch-second gaps — identical in any engine.
    *
    * Scale: one partial-aggregated shuffle to (type, hour) grain —
    * everything after runs on series-sized data (rows = hours × types,
    * independent of event volume); the spine explode is per type. The
    * LOCF/NOCB window pair is the gaps-and-islands formulation, not a
    * self-join. */
  def resampleInterp(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      // floor-quantize like the final value column, NOT round(): obs is a
      // double DIVISION result, and the engines' round() implementations
      // disagree by 1 ulp exactly at .00005 boundaries (observed at sf1);
      // floor(x·10⁴ + 0.5)/10⁴ is the same IEEE op sequence in both
      .agg((floor(graft.util.Det.davg(col("value")) * 10000 + lit(0.5)) / 10000).as("obs"))
    val spine = obs.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val wPrev = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(obs, Seq("event_type", "h"), "left")
      .withColumn("pv", last(col("obs"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("obs").isNotNull, col("h")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("obs"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("obs").isNotNull, col("h")), ignoreNulls = true).over(wNext))
      .withColumn("raw",
        when(col("obs").isNotNull, col("obs")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            ((unix_timestamp(col("h")) - unix_timestamp(col("ph"))) /
              (unix_timestamp(col("nh")) - unix_timestamp(col("ph"))))))
      .select(
        col("event_type"), fmtTs(col("h")).as("hour"),
        // explicit floor-quantize, NOT round(): the two engines' round()
        // implementations disagree by 1 ulp exactly at .00005 boundaries
        // of computed doubles; floor(x·10⁴ + 0.5)/10⁴ is the same IEEE
        // op sequence in both
        (floor(col("raw") * 10000 + 0.5) / 10000).as("value"),
        col("obs").isNull.cast("int").as("is_interp"))
      .orderBy("event_type", "hour")
  }

  /** Interval-overlap join with NO equi key, made scale-safe by RANGE
    * BINNING. The workload: match every event to the "hot windows" it
    * falls in (per hour, the ±30-minute window around that hour's peak
    * minute — windows are NOT hour-aligned, may dip into the previous
    * hour, and share no key with the probe side). The naive plan is a
    * broadcast-nested-loop over every (event, window) pair — quadratic,
    * a scale-killer once the window side outgrows a broadcast. The
    * binned plan: each window explodes into the ≤2 hour bins it covers,
    * events key by their own hour, and the non-equi overlap becomes an
    * equi join on bin plus a cheap residual — shuffle-partitionable on
    * both sides at any scale, candidate volume = windows × bins-spanned,
    * never |events| × |windows|.
    *
    * The DuckDB oracle runs the NAIVE formulation, so the driver's hash
    * compare proves the binned rewrite is semantics-preserving — same
    * discipline as `q_topk_native` vs the window form. */
  def joinRangeBinned(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("ts"))
    val hm = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), minute(col("ts")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("h").orderBy(col("cnt").desc, col("m").asc)
    val win = hm.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        (col("h") + expr("make_dt_interval(0, 0, m - 30, 0)")).as("ws"),
        (col("h") + expr("make_dt_interval(0, 0, m + 30, 0)")).as("we"))
    val binnedWin = win.select(col("ws"), col("we"),
      explode(sequence(
        date_trunc("hour", col("ws")),
        date_trunc("hour", col("we") - expr("INTERVAL 1 MICROSECOND")),
        expr("INTERVAL 1 HOUR"))).as("bin"))
    ev.withColumn("bin", date_trunc("hour", col("ts")))
      .join(binnedWin, "bin")
      .filter(col("ts") >= col("ws") && col("ts") < col("we"))
      .select(col("event_id"), fmtTs(col("ws")).as("window_start"))
      .orderBy("event_id", "window_start")
  }

  /** Half-life-decayed per-type value totals — the freshness-weighted
    * aggregate a recency-aware dashboard or source-reweighting policy
    * reads, with a determinism construction worth naming: the half-life
    * is 7 days, the decay exponent k = (days before the corpus's last
    * day) div 7 is an INTEGER, so the weight 2⁻ᵏ is a power of two and
    * `value / 2ᵏ` is an EXACT IEEE exponent shift — no pow(), no libm,
    * no rounding at all until the per-event result floor-quantizes to
    * micro-units; the per-type totals are then exact BIGINT sums
    * (order-independent), with one final /10⁶ division. `raw_sum` rides
    * beside it for the undecayed contrast. k clamps at 62 so the shift
    * stays in Long for arbitrarily old events.
    *
    * Scale shape: the anchor date is a 1-row broadcast; everything else
    * is row-local until the |types|-row aggregate — the events table
    * streams through once, map-side combined. */
  def timeDecay(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), to_date(col("ts")).as("dt"))
    val anchor = ev.agg(max("dt").as("anchor"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("k",
        least(lit(62L), expr("CAST(datediff(anchor, dt) AS BIGINT) div 7")))
      .withColumn("wq",
        micro(col("value") / expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) AS DOUBLE)")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("raw_sum"),
        sum("wq").as("swq"))
      .select(col("event_type"), col("n_events"), col("raw_sum"),
        (col("swq").cast("double") / lit(1000000.0)).as("decayed_sum"))
      .orderBy("event_type")
  }

  /** Daily click-through rate with a Wilson 95% score interval — the
    * rate monitor done right: the naive p̂ ± z·√(p̂q̂/n) interval
    * collapses or exits [0,1] on small/extreme days, the Wilson
    * interval doesn't, which is why rate dashboards use it. One row per
    * day: clicks / (clicks + views), the interval around it.
    *
    * Determinism: daily (clicks, n) are exact integers; p̂ and both
    * bounds are fixed trees of elementary IEEE ops on those integers,
    * mirrored with e0-pinned literals in the oracle (z = 1.96 folds to
    * the same double in both engines), rounded at 6 dp.
    *
    * Scale shape: one map-side-combined calendar-bounded aggregate;
    * bounds are row-local arithmetic. One pass, one shuffle. */
  def wilsonRate(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "click").cast("long")).as("c"),
        count(lit(1)).as("n"))
    val nd = col("n").cast("double")
    val p = col("c").cast("double") / nd
    val z = lit(1.96)
    val za = lit(1.96) * lit(1.96)
    val rad = sqrt(p * (lit(1.0) - p) / nd + za / (lit(4.0) * nd * nd))
    val ctr = p + za / (lit(2.0) * nd)
    val den = lit(1.0) + za / nd
    daily.select(fmtDate(col("day")).as("day"), col("n"), col("c").as("clicks"),
      Det.q6(p).as("p"),
      Det.q6((ctr - z * rad) / den).as("wilson_lo"),
      Det.q6((ctr + z * rad) / den).as("wilson_hi"))
      .orderBy("day")
  }

  /** Trailing 7-day rolling MEDIAN of the daily value total per event
    * type — the robust smoother an alerting baseline uses where a
    * rolling MEAN would chase the very spikes it should flag (the
    * [[graft.ops.Statistics.outlierMad]] robustness argument applied
    * along the time axis).
    *
    * Determinism: daily totals are exact BIGINT micro-units; each
    * trailing window's median is RANK-SELECTED (the two middle order
    * statistics of the ≤7 integer values, r = ⌊(k+1)/2⌋, ⌊(k+2)/2⌋ —
    * the q_outlier_mad discipline), summed exactly, and divided once at
    * the end — no quantile interpolation, no running float state.
    *
    * Scale shape: the corpus reduces to a (type, day) frame
    * (map-side-combined, calendar-bounded); the trailing window is a
    * range self-join with fan-out ≤ 7 on that tiny frame, and the
    * rank-selection window partitions by (type, anchor day) with ≤ 7
    * rows per partition. Nothing downstream of the daily aggregate ever
    * exceeds |types|·|days|·7 rows. */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("x")))
    val win = daily.select(col("event_type").as("t"), col("day").as("d0"))
      .join(daily.select(col("event_type").as("t"), col("day").as("db"), col("x")), Seq("t"))
      .filter(datediff(col("d0"), col("db")).between(0, 6))
    val w = Window.partitionBy("t", "d0").orderBy("x")
    val ranked = win.groupBy(col("t"), col("d0"), col("x")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("k", sum("cnt").over(Window.partitionBy("t", "d0")))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("r1", expr("(k + 1) div 2"))
      .withColumn("r2", expr("(k + 2) div 2"))
    ranked.groupBy(col("t").as("event_type"), col("d0"))
      .agg(max("k").as("n_days_in_window"),
        (sum(when(col("prev") < col("r1") && col("r1") <= col("cum"), col("x"))) +
          sum(when(col("prev") < col("r2") && col("r2") <= col("cum"), col("x"))))
          .as("m2"))
      .select(col("event_type"), fmtDate(col("d0")).as("day"),
        col("n_days_in_window"),
        (col("m2").cast("double") / lit(2000000.0)).as("rolling_med"))
      .orderBy("event_type", "day")
  }

  /** Day-of-week seasonality profile of the event stream — per weekday
    * (Spark numbering, 1 = Sunday): event count, decimal-exact value
    * total, mean value, and the seasonality index (weekday mean / overall
    * mean; 1.0 = flat) — the profile a scheduling or anomaly baseline
    * reads before interpreting a Monday dip.
    *
    * Determinism: per-dow sums stay DECIMAL (order-independent) through
    * the 7-row rollup — the overall mean derives from the SAME decimal
    * totals, so no double is ever re-summed; the two divisions and one
    * ratio are elementary IEEE ops mirrored in the oracle (whose
    * `dayofweek()+1` converts DuckDB's 0-Sunday to Spark's 1-Sunday).
    *
    * Scale shape: one map-side-combined 7-row aggregate; totals roll up
    * from those 7 rows and broadcast back. One pass over the stream. */
  def dowProfile(s: SparkSession, d: String): DataFrame = {
    val per = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(24, 6))).as("vs")))
    val tot = per.agg(sum("n_events").as("tn"), sum("vs").as("tv"))
    val avg = col("vs").cast("double") / col("n_events").cast("double")
    per.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_events"),
        Det.q4(col("vs").cast("double")).as("sum_value"),
        Det.q6(avg).as("avg_value"),
        Det.q6(avg / (col("tv").cast("double") / col("tn").cast("double"))).as("idx"))
      .orderBy("dow")
  }

  /** Additive trend/seasonal/residual decomposition of each daily
    * series — STL-lite: trend = centered 7-day mean, seasonal = the
    * day-of-week mean of the detrended series, residual = remainder.
    * The decomposition every monitoring stack runs before alerting so
    * weekly rhythm doesn't page the on-call ([[dowProfile]] exposes
    * the seasonal fingerprint; this removes it).
    *
    * Determinism: ENTIRELY integer — daily volumes are exact micro
    * BIGINTs; trend and seasonal are round-half-up integer means
    * (floor(sum/cnt + 0.5) on exact operands, one IEEE division each,
    * immediately floored back to BIGINT micro), so detrended and
    * residual values are exact integer subtractions with no float
    * accumulation anywhere.
    *
    * Scale shape: one map-side-combined (type, day) aggregate; the
    * trend window and the dow aggregate both run over calendar-bounded
    * frames. */
  def decomposeDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        dayofweek(col("ts")).as("dow"))
      .agg(sum(microExact(col("value"))).as("vol"))
    val wt = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend",
        floor(sum("vol").over(wt).cast("double") / count(lit(1)).over(wt).cast("double")
          + lit(0.5)).cast("long"))
      .withColumn("det", col("vol") - col("trend"))
    val seasonal = trended.groupBy("event_type", "dow")
      .agg(floor(sum("det").cast("double") / count(lit(1)).cast("double") + lit(0.5))
        .cast("long").as("seasonal"))
    trended.join(broadcast(seasonal), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("vol"), col("trend"),
        col("seasonal"), (col("det") - col("seasonal")).as("residual"))
      .orderBy("event_type", "day")
  }

  /** Median latency between funnel steps — how long the
    * view→click→purchase journey actually takes, not just whether it
    * completes ([[funnelSteps]]' companion): per user, the first click
    * after the first view and the first purchase after that click; per
    * step, the MEDIAN gap in whole seconds. Medians, because funnel
    * gaps are heavy-tailed — one user who clicks a week later drags a
    * mean into meaninglessness.
    *
    * Determinism: gaps are integer µs differences floored to seconds;
    * the median is the [[Statistics.medianX2]] rank selection over
    * (step, DISTINCT gap) aggregates — no interpolation, no
    * quantile_cont; the final ·0.5 scaling is exact.
    *
    * Scale shape: ONE scan and ONE exchange — a single per-user
    * aggregate collects the first view plus the (per-user bounded)
    * click/purchase timestamp lists, and the sequential first-after
    * selections are row-local array algebra (r14, guide §2.4: the
    * previous shape scanned the events table three times and re-joined
    * the legs twice for the same per-user scalars); then rank selection
    * over the distinct gap-value domain — bounded by the time horizon,
    * never the user count. */
  def funnelLatency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsl"))
    // vt = first view; ct = first click AFTER vt; pt = first purchase
    // AFTER ct — identical selections to the old three-leg join chain
    // (min over an inner join on user_id with a > filter ≡ array_min
    // over the filtered per-user list; a missing leg yields NULL and
    // drops the row exactly like the old inner joins dropped the user)
    val steps = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("tsl"))).as("vt"),
        collect_list(when(col("event_type") === "click", col("tsl"))).as("cls"),
        collect_list(when(col("event_type") === "purchase", col("tsl"))).as("pls"))
      .withColumn("ct", array_min(filter(col("cls"), x => x > col("vt"))))
      .withColumn("pt", array_min(filter(col("pls"), x => x > col("ct"))))
    val gaps = graft.util.Ckpt.stage(
      steps.select(expr(
        """stack(2, 'view->click',     (ct - vt) div 1000000,
          |         'click->purchase', (pt - ct) div 1000000) as (step, gap_s)"""
          .stripMargin))
        .filter(col("gap_s").isNotNull))
    val med = Statistics.medianX2(gaps, "step", "gap_s", "med2")
      .select(col("step").as("s2"), (col("med2") * lit(0.5)).as("median_gap_s"))
    gaps.groupBy("step").agg(count(lit(1)).as("n_users"))
      .join(broadcast(med), col("step") === col("s2"))
      .select(col("step"), col("n_users"), col("median_gap_s"))
      .orderBy("step")
  }

  /** Burstiness profile of each event stream — Fano factor (variance/
    * mean of daily counts; 1 = Poisson) and the Goh–Barabási
    * burstiness index B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 = periodic, 0 =
    * Poisson, →1 = heavy bursts). The traffic-shape diagnostic a
    * capacity planner and an anomaly-threshold tuner both read: a
    * bursty stream needs fatter rate limits and wider control bands
    * than its mean suggests ([[rateLimit]]'s companion statistic).
    *
    * Determinism: daily counts are exact integers, so the power sums
    * are exact BIGINTs (no decimal cast needed — counts ≤ 2³¹ keep
    * Σc² within BIGINT to ~4·10⁹ rows/day); variance, σ (one
    * correctly-rounded sqrt), Fano, and B are fixed IEEE trees on
    * identical integers, floor-quantized to 6 dp.
    *
    * Scale shape: one map-side-combined (type, day) aggregate, one
    * per-type reduce over calendar-bounded rows. */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
    val mean = col("sc").cast("double") / col("n_days").cast("double")
    val variance = (col("n_days") * col("scc") - col("sc") * col("sc")).cast("double") /
      (col("n_days").cast("double") * (col("n_days") - lit(1)).cast("double"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("c").as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .filter(col("n_days") >= 2)
      .select(col("event_type"), col("n_days"), col("sc").as("n_events"),
        q6(mean).as("mean_daily"),
        q6(variance / mean).as("fano"),
        q6((sqrt(variance) - mean) / (sqrt(variance) + mean)).as("burstiness"))
      .orderBy("event_type")
  }

  /** Daily OHLC (open/high/low/close) bars per event type — the
    * time-series downsampling every metrics store runs before charting
    * or anomaly detection: each (day, type) bucket keeps its first,
    * extreme, and last observations plus count and volume, collapsing
    * arbitrary event density to a fixed-width series.
    *
    * Determinism: open/close are rank-1 selections over (ts, event_id)
    * — event_id is unique, so equal timestamps cannot reorder
    * cross-engine (the [[markovTransition]] tiebreak); each rank-gated
    * MAX has exactly one non-null candidate; high/low are raw-value
    * extrema (no arithmetic); volume is the exact DECIMAL sum rounded
    * through the dowProfile convention.
    *
    * Scale shape: ONE exchange — the (day, type) window partition;
    * the bar aggregate reuses the same partitioning map-side. Bars per
    * partition are calendar-bounded. */
  def ohlcBars(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("ts"), col("event_id"), col("value"))
    val wA = Window.partitionBy("day", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wD = Window.partitionBy("day", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("ra", row_number().over(wA))
      .withColumn("rd", row_number().over(wD))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("ra") === 1, col("value"))).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"),
        Det.q4(sum(col("value").cast(DecimalType(24, 6))).cast("double")).as("volume"))
      .orderBy("day", "event_type")
  }

  /** Per-type daily lag/rolling feature frame — the feature-engineering
    * pass a forecasting or anomaly model consumes: yesterday's and
    * last week's volume, the trailing 7-day sum, and the day-over-day
    * change ratio, one row per observed (type, day).
    *
    * Determinism: daily volumes are exact micro-unit BIGINT sums;
    * lags and the rolling sum are integer window algebra; the change
    * ratio is ONE IEEE division of exact integers, floor-quantized to
    * 6 dp, NULL on the first day or a zero base.
    *
    * Scale shape: one map-side-combined (type, day) aggregate, then
    * calendar-bounded per-type windows — the events table is exchanged
    * once and the window frames never exceed the day count. */
  def lagFeatures(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(microExact(col("value"))).as("vol"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("lag1", lag("vol", 1).over(w))
      .withColumn("lag7", lag("vol", 7).over(w))
      .withColumn("roll7", sum("vol").over(w.rowsBetween(-6, 0)))
      .withColumn("pct_change",
        when(col("lag1").isNotNull && col("lag1") =!= 0,
          q6((col("vol") - col("lag1")).cast("double") / abs(col("lag1")).cast("double"))))
      .select(col("day"), col("event_type"), col("n_events"), col("vol"),
        col("lag1"), col("lag7"), col("roll7"), col("pct_change"))
      .orderBy("event_type", "day")
  }

  /** Fixed-point scale for [[markovAttribution]] probabilities
    * (1 unit = 10⁻¹², the Graph.pagerank discipline). */
  private[ops] val AttribScale = 1000000000000L
  /** Synchronous value-iteration passes; the chain mixes in far fewer
    * steps at the fixture's journey lengths, and the count keeps the
    * geometric tail below the 6-dp output quantum. */
  private[ops] val AttribIters = 12
  /** Touch channels eligible for removal (every non-converting type). */
  private[ops] val AttribChannels = Seq("click", "error", "signup", "view")

  /** Markov removal-effect attribution (Anderl et al.) — the
    * data-driven alternative to [[attribution]]'s first/last-touch
    * rules: model each (user, day) journey as a first-order Markov
    * chain over touch states with absorbing CONV (first purchase) and
    * NULL (journey ends unconverted) states, compute the chain's
    * conversion probability from START by value iteration, and credit
    * each channel by how much that probability drops when the channel
    * is removed (transitions into it redirected to NULL). Shares are
    * the normalized removal effects.
    *
    * Determinism: the whole chain runs in scaled fixed-point BIGINT
    * (probability × 10¹², floor division — the [[Graph]] PageRank
    * discipline): transition counts are exact, every iteration is
    * integer algebra, so all five chains (base + 4 removals) agree
    * bit-for-bit across engines. The only doubles are the final
    * presentation divisions on identical integers. Removal effects are
    * quantized to integer micro-units BEFORE the share normalization,
    * so the share denominator is an exact integer sum. Overflow-safe
    * while Σ_dst c·10¹² < 2⁶³, i.e. per-source transition counts below
    * ~9·10⁶ — beyond that, pre-aggregate counts to per-mille weights
    * (the same mitigation as chisqDrift's documented bound).
    *
    * Scale shape: one window pass over the events table (the per-user
    * partition), one bounded edge aggregate (≤ (|types|+1)² rows);
    * the five variants iterate TOGETHER as one ≤ 25-row state frame —
    * 12 tiny joins, never another pass over the data. */
  def markovAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
    val pm = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "day").agg(min("rn").as("pm"))
    val kept = ev.join(pm, Seq("user_id", "day"), "left")
      .filter(col("pm").isNull || col("rn") <= col("pm"))
      .withColumn("state",
        when(col("event_type") === "purchase", lit("CONV")).otherwise(col("event_type")))
    val w2 = Window.partitionBy("user_id", "day").orderBy("rn")
    val nx = kept.withColumn("nxt", lead("state", 1).over(w2))
    val internal = nx.filter(col("state") =!= "CONV" && col("nxt").isNotNull)
      .select(col("state").as("src"), col("nxt").as("dst"))
    val starts = nx.filter(col("rn") === 1)
      .select(lit("START").as("src"), col("state").as("dst"))
    val ends = nx.filter(col("state") =!= "CONV" && col("nxt").isNull)
      .select(col("state").as("src"), lit("NULL").as("dst"))
    // The edge matrix is BOUNDED by construction — ≤ (|types|+2)² rows,
    // model state, never corpus-proportional — so the value iteration
    // runs on the driver over the collected counts (guide §3: a bounded
    // small side belongs local/broadcast, not in a 12-round join loop;
    // VERDICT r13 item 2: the DataFrame loop was ~40 stages of pure
    // scheduling overhead that ANTI-scaled with core count, 1.24 s @8c
    // vs 9.15 s @32c). The arithmetic is the SAME scaled fixed-point
    // BIGINT ladder, term for term: Spark's `num div ctm` on
    // non-negative BIGINTs is truncating division = Scala Long `/`;
    // sum/max over the per-src group are exact Long algebra; so every
    // pv is bit-identical to the join-loop's and the oracle's.
    val edgeRows: Array[(String, String, Long)] =
      internal.unionByName(starts).unionByName(ends)
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ctBySrc: Map[String, Long] =
      edgeRows.groupBy(_._1).map { case (src, rs) => src -> rs.map(_._3).sum }
    val states = "START" +: AttribChannels
    val startPv: Seq[(String, Long)] = ("base" +: AttribChannels).map { v =>
      var p: Map[String, Long] = states.map(_ -> 0L).toMap
      for (_ <- 1 to AttribIters) {
        val pnew: Map[String, Long] = edgeRows.groupBy(_._1).map {
          case (src, rs) =>
            val num = rs.map { case (_, dst, c) =>
              val pval =
                if (dst == "CONV") AttribScale
                else if (dst == "NULL") 0L
                else if (dst == v) 0L
                else p.getOrElse(dst, 0L)
              c * pval
            }.sum
            src -> num / ctBySrc(src)
        }
        p = states.map(st =>
          st -> (if (st == v) 0L else pnew.getOrElse(st, 0L))).toMap
      }
      v -> p("START")
    }
    val f = startPv.toDF("variant", "pv")
    val base = f.filter(col("variant") === "base").select(col("pv").as("pb"))
    val q6p = (c: Column) => q6(c.cast("double") / lit(1.0e12))
    val r = f.filter(col("variant") =!= "base").crossJoin(broadcast(base))
      .withColumn("rem_i",
        micro(lit(1.0) - col("pv").cast("double") / col("pb").cast("double")))
    r.crossJoin(broadcast(r.agg(sum("rem_i").as("rtot"))))
      .select(col("variant").as("channel"),
        q6p(col("pb")).as("p_base"),
        q6p(col("pv")).as("p_removed"),
        (col("rem_i").cast("double") / lit(1000000.0)).as("removal_effect"),
        q6(col("rem_i").cast("double") / col("rtot").cast("double")).as("attrib_share"))
      .orderBy("channel")
  }

  /** Top user-journey trigrams — the sequence-mining companion to
    * [[markovTransition]]: where the transition matrix sees only one
    * step of memory, the 3-step path counts expose the actual flows a
    * product team reasons about (view→click→purchase vs
    * view→error→view), ranked by frequency. The path alphabet is the
    * event-type set, so the result frame is ≤ |types|³ no matter the
    * input scale.
    *
    * Determinism: consecutiveness is the (ts, event_id) window order
    * (unique tiebreak); counts are exact; ties in the ranking break on
    * the path string; top-10 by (count desc, path asc).
    *
    * Scale shape: ONE shuffle — the per-user window partition; the
    * trigram aggregate map-side-combines to the bounded grid; the rank
    * window runs over ≤ |types|³ rows. */
  def pathTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tri = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead("event_type", 1).over(w))
      .withColumn("t3", lead("event_type", 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws("->", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    val wr = Window.orderBy(col("n").desc, col("path").asc)
    tri.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("path"), col("n"))
      .orderBy("rank")
  }

  /** First-order Markov transition matrix of the per-user event journey —
    * for each ordered pair of consecutive events of one user, count the
    * (from_type → to_type) transition and report its row-normalized
    * probability. The user-journey model behind session simulation,
    * next-action prediction baselines, and bot detection (a scripted
    * client's transition matrix is near-degenerate where an organic
    * user's is diffuse).
    *
    * Determinism: consecutive = lead over (ts, event_id) — event_id is
    * unique, so equal timestamps cannot reorder cross-engine (the same
    * tiebreak rule as q_sessionize_state). Counts are exact longs; the
    * only double is the final per-row count/total division, one
    * correctly-rounded IEEE op on identical integers, rounded at 6 dp.
    *
    * Scale shape: ONE shuffle — the per-user window partition (users are
    * independent, so the partition count scales freely); the (from, to)
    * aggregate map-side-combines to ≤ |types|² rows and the row-total
    * frame broadcasts back. The events table is never exchanged again. */
  def markovTransition(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = graft.util.Ckpt.stage(pairs
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n")))
    val fromTot = counts.groupBy("from_type").agg(sum("n").as("n_from"))
    counts.join(broadcast(fromTot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        Det.q6(col("n").cast("double") / col("n_from").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Seasonal-naive forecast audit: predict each calendar hour's event
    * count with the count 168 hours (one week) earlier, and report the
    * per-type mean absolute error — the no-skill baseline every real
    * traffic forecaster must beat, and the cheapest load-anomaly monitor
    * (MAE jumping week-over-week = the weekly rhythm broke). The series
    * runs over the GENERATED calendar-hour spine (zero-event hours count
    * 0), because lagging the observed rows alone would misalign the
    * seasonal offset wherever an hour is empty.
    *
    * Determinism: counts are exact BIGINTs on a generated spine; SAE is
    * an integer sum; MAE is ONE IEEE division floor-quantized at 6 dp.
    * The spine is hour-truncated min..max — identical in both engines at
    * µs precision.
    *
    * Scale shape: one map-side-combined (hour, type) aggregate; the
    * spine×types grid is calendar-bounded (720 hours × single-digit
    * types at the fixture month — documented bound for the per-type lag
    * window); the events table is never shuffled wide. */
  def seasonalNaive(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
    val ext = ev.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = ext.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val types = ev.select("event_type").distinct()
    val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("c"))
    val series = spine.crossJoin(broadcast(types))
      .join(counts, Seq("h", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("h")
    series.withColumn("f", lag("c", 168).over(w))
      .filter(col("f").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("c").as("n_actual"),
        sum(abs(col("c") - col("f"))).as("sae"))
      .withColumn("mae",
        q6(col("sae").cast("double") / col("n_hours").cast("double")))
      .orderBy("event_type")
  }

  /** Forecast-error scorecard for the [[seasonalNaive]] forecaster — the
    * monitoring row that turns "we have a forecast" into "should we trust
    * it": per event type, WAPE (weighted absolute percentage error —
    * Σ|c−f|/Σc, the volume-weighted accuracy), mean sMAPE (symmetric
    * MAPE, 2|c−f|/(c+f) per hour, both-zero hours defined as exactly 0),
    * and MASE (Hyndman–Koehler: the seasonal forecast's absolute error
    * against the in-sample naive-1 baseline — MASE < 1 means the
    * seasonal model beats "predict the previous hour").
    *
    * Determinism: all error masses are exact BIGINT sums over the same
    * lag-aligned series as the forecaster; WAPE and MASE are ONE IEEE
    * division each of exact integers, 6-dp floor-quantized, null on zero
    * denominators (stated, never NaN/inf); each sMAPE term is one exact
    * division 6-dp-quantized, summed in DECIMAL(24,6) (order-free), then
    * one division by the hour count.
    *
    * Scale shape: the [[seasonalNaive]] plan — one hour-grain aggregate,
    * the type-partitioned lag windows (each type's series sorts in
    * parallel), one keyed reduce; the spine is time-extent-bounded. */
  def forecastError(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
    val ext = ev.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = ext.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val types = ev.select("event_type").distinct()
    val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("c"))
    val series = spine.crossJoin(broadcast(types))
      .join(counts, Seq("h", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("h")
    val fc = series
      .withColumn("f", lag("c", 168).over(w))
      .withColumn("f1", lag("c", 1).over(w))
      .filter(col("f").isNotNull)
    val smTerm = when(col("c") + col("f") === 0L, lit(0.0))
      .otherwise(q6((abs(col("c") - col("f")) * 2).cast("double")
        / (col("c") + col("f")).cast("double")))
    fc.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("c").as("n_actual"),
        sum(abs(col("c") - col("f"))).as("sae"),
        sum(abs(col("c") - col("f1"))).as("sae1"),
        sum(smTerm.cast(DecimalType(24, 6))).as("sm"))
      .select(col("event_type"), col("n_hours"), col("n_actual"), col("sae"),
        when(col("n_actual") === 0L, lit(null).cast("double"))
          .otherwise(q6(col("sae").cast("double")
            / col("n_actual").cast("double"))).as("wape"),
        q6(col("sm").cast("double") / col("n_hours").cast("double"))
          .as("smape"),
        when(col("sae1") === 0L, lit(null).cast("double"))
          .otherwise(q6(col("sae").cast("double")
            / col("sae1").cast("double"))).as("mase"))
      .orderBy("event_type")
  }

  /** SAX (Symbolic Aggregate approXimation) of each event type's
    * hour-of-day value profile: the 24 hourly value totals become a
    * 24-character string over the alphabet a..d, each hour's symbol its
    * within-type quartile — the standard symbolic compression that turns
    * time-series similarity into cheap string operations (two types with
    * equal SAX words have matching daily rhythms; Hamming distance on the
    * words is a shape distance).
    *
    * Determinism: the hourly totals are exact DECIMAL(24,6) sums (the
    * [[tumblingWindow]] discipline — value doubles are scale-6-exact per
    * the castscan sweep); quartile assignment is pure integer rank
    * algebra on row_number over (total, hour) — no breakpoint
    * arithmetic, no doubles anywhere; the word is assembled ordered by
    * hour in both engines.
    *
    * Scale shape: one map-side-combined (type, hour) aggregate, then
    * everything runs on a ≤ |types|·24-row frame (the documented bound
    * for its windows). */
  def saxSymbols(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(sum(col("value").cast(DecimalType(24, 6))).as("s0"))
    val w = Window.partitionBy("event_type").orderBy(col("s0"), col("h"))
    val n = Window.partitionBy("event_type")
    hourly
      .withColumn("rn", row_number().over(w))
      .withColumn("nh", count(lit(1)).over(n))
      .withColumn("sym",
        expr("substring('abcd', CAST((4 * (rn - 1)) div nh AS INT) + 1, 1)"))
      .groupBy("event_type")
      .agg(max("nh").as("n_hours"),
        array_join(transform(array_sort(collect_list(struct(col("h"), col("sym")))),
          x => x.getField("sym")), "").as("sax"))
      .orderBy("event_type")
  }

  /** First/last-touch attribution: each purchase is attributed to the
    * user's earliest AND latest view/click in the 24 hours before it,
    * reported as a (first_touch, last_touch) → purchase-count matrix
    * ('none' when the window is empty) — the marketing-attribution
    * primitive, and the event-time pattern (point event ← bounded
    * preceding context) behind label-attribution joins in training-data
    * builds.
    *
    * Determinism: the touch window is a pure µs-interval join (both
    * engines compare identical microsecond timestamps); first/last
    * selection orders by (ts, event_id) — event_id is unique, so equal
    * timestamps cannot reorder cross-engine; counts are exact.
    *
    * Scale shape: the join meets on user_id with fan-out bounded by one
    * user's touches in 24 h; the two rank windows partition by purchase
    * id over that bounded candidate set; output is a ≤ |types|²+1 grid.
    * The left join keeps untouched purchases without a second scan. */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("pid"), col("ts").as("pts"))
    val touch = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tu"), col("event_id").as("tid"),
        col("event_type").as("ttype"), col("ts").as("tts"))
    val j = purch.join(touch,
      col("pu") === col("tu") &&
        col("tts") < col("pts") &&
        col("tts") >= col("pts") - expr("INTERVAL 24 HOURS"), "left")
    val wf = Window.partitionBy("pid").orderBy(col("tts").asc, col("tid").asc)
    val wl = Window.partitionBy("pid").orderBy(col("tts").desc, col("tid").desc)
    j.withColumn("rf", row_number().over(wf))
      .withColumn("rl", row_number().over(wl))
      .groupBy("pid")
      .agg(max(when(col("rf") === 1, col("ttype"))).as("ft"),
        max(when(col("rl") === 1, col("ttype"))).as("lt"))
      .select(coalesce(col("ft"), lit("none")).as("first_touch"),
        coalesce(col("lt"), lit("none")).as("last_touch"))
      .groupBy("first_touch", "last_touch")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy("first_touch", "last_touch")
  }

  /** Zero-traffic gap islands per event type: consecutive runs of
    * calendar hours with no events, as (type, gap_start, gap_hours) rows
    * — the coverage-gap detector behind "did ingestion stall?" paging,
    * and the gaps-and-islands idiom applied to the GENERATED spine
    * (observed rows alone cannot see an absence). Island key = hour
    * index − row_number, the classic integer trick: consecutive zero
    * hours share a key, any present hour breaks the run.
    *
    * Determinism: everything is integer (hour indices from µs epoch
    * division, counts, row numbers); timestamps leave as formatted
    * strings. Scale shape: one (hour, type) aggregate; islands run on
    * the calendar-bounded spine×types grid (documented bound for its
    * per-type windows). */
  def gapIslands(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
    val ext = ev.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = ext.select(col("lo"),
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val types = ev.select("event_type").distinct()
    val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("c"))
    val zeros = spine.crossJoin(broadcast(types))
      .join(counts, Seq("h", "event_type"), "left")
      .filter(col("c").isNull)
      .withColumn("idx",
        ((unix_micros(col("h")) - unix_micros(col("lo"))) / lit(3600000000L)).cast("long"))
    val w = Window.partitionBy("event_type").orderBy("idx")
    zeros.withColumn("grp", col("idx") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(fmtTs(min(col("h"))).as("gap_start"), count(lit(1)).as("gap_hours"))
      .select("event_type", "gap_start", "gap_hours")
      .orderBy("event_type", "gap_start")
  }

  /** Sliding-window rate-limit audit: each user's PEAK events in any
    * trailing 1-hour window (the (t−1h, t] count evaluated at every
    * event), reporting users whose peak reaches the threshold — the
    * bot/abuse screen a rate limiter enforces online, run
    * retrospectively. A RANGE frame over microsecond longs makes the
    * trailing window exact (no bucketing approximation: a burst
    * straddling an hour boundary still counts).
    *
    * Determinism: window bounds are integer µs; counts and the per-user
    * max are exact. Scale shape: one user-keyed exchange; the RANGE
    * window sorts within a user's own events; the final aggregate
    * reduces to one row per flagged user. */
  def rateLimit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsl"))
    val w = Window.partitionBy("user_id").orderBy("tsl")
      .rangeBetween(-3599999999L, 0)
    ev.withColumn("c1h", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(max("c1h").as("peak_1h"), count(lit(1)).as("n_events"))
      .filter(col("peak_1h") >= 2)
      .orderBy("user_id")
  }

  /** Coverage horizon for [[intervalUnion]]: each event "covers" the 10
    * minutes after it fires (the attention/activity horizon an engagement
    * model assigns to an interaction). */
  private val CoverMicros = 600L * 1000 * 1000

  /** Sweep-line interval union: each event covers [ts, ts+10min); per user,
    * the total UNION length of those intervals in µs — overlapping covers
    * merge instead of double-counting (the classic "active time" metric:
    * 100 events in one burst ≈ 10 minutes of activity, not 1000). The
    * sweep is one pass: with events in (ts, event_id) order, the union
    * gained by an event is its end minus the running max of all previous
    * ends, clamped to its own span — the standard sweep-line recurrence
    * expressed as a window, no self-join over intervals.
    *
    * Determinism: everything is BIGINT µs (starts, ends, running max,
    * clamped differences, sums) — no division, no floats. The running-max
    * frame is order-dependent only up to ties in ts, where the event_id
    * tiebreak fixes a total order; max over a prefix is then
    * order-independent.
    *
    * Scale shape: one user-keyed exchange; the window sorts only within a
    * user's own events; output is user-cardinality. At 100 TB this is the
    * same shape as sessionization — no interval self-join (the naive
    * formulation) ever materializes. */
  def intervalUnion(s: SparkSession, d: String): DataFrame = {
    val wPrev = Window.partitionBy("user_id")
      .orderBy(col("tsl").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsl"))
      .withColumn("endl", col("tsl") + lit(CoverMicros))
      .withColumn("prev_max_end", max(col("endl")).over(wPrev))
      .withColumn("gain",
        greatest(lit(0L), col("endl") - greatest(col("tsl"), coalesce(col("prev_max_end"), col("tsl")))))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum("gain").as("covered_us"),
        sum((col("gain") === 0L).cast("long")).as("n_contained"))
      .orderBy("user_id")
  }

  /** Out-of-order arrival audit — the batch measurement that sizes a
    * streaming watermark: with arrival order proxied by the monotonic
    * ingest id (event_id) within each user, an event's lateness is how far
    * its event-time sits behind the running max event-time of everything
    * that arrived before it. `max(late)` is the smallest per-user watermark
    * delay that would have dropped nothing; the late-fraction says how much
    * state a tighter watermark sacrifices.
    *
    * Determinism: BIGINT µs end to end (running max, clamped differences,
    * counts) — no division, no floats; arrival order is the unique
    * event_id. Scale shape: one user-keyed exchange, per-user sorts,
    * then a 5-row per-type reduce — the events table is never globally
    * sorted (a GLOBAL arrival order would be a single-partition window;
    * per-key arrival is the shape a partitioned ingest actually has). */
  def latenessAudit(s: SparkSession, d: String): DataFrame = {
    val wPrev = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), unix_micros(col("ts")).as("tsl"))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(max(col("tsl")).over(wPrev), col("tsl")) - col("tsl")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum((col("late_us") > 0L).cast("long")).as("n_late"),
        max("late_us").as("max_late_us"),
        sum("late_us").as("sum_late_us"))
      .orderBy("event_type")
  }

  /** Exponentially-weighted moving average of daily event volume per
    * type, α = ½ — the standard trend smoother behind anomaly baselines
    * and freshness dashboards (yesterday counts half as much as today).
    *
    * Determinism — the recurrence sₜ = (nₜ + sₜ₋₁)/2 is sequential, but
    * with α = ½ it closes to an EXACT integer form: sₜ = Wₜ/2ᵗ⁺¹ where
    * Wₜ = 4·n₁ + Σᵢ₌₂..ₜ nᵢ·2ⁱ is an integer cumulative sum (each term
    * a count times a power of two), and the one division is by a power
    * of two — an exact IEEE operation, so the smoothed series is
    * BIT-exact cross-engine with NO quantization anywhere. This is why
    * α is ½ and not a parameter: any other α makes every step a rounded
    * multiply and the recurrence order-sensitive. Range edge: Wₜ wraps
    * BIGINT once max-daily-count · 2ᵗ exceeds 2⁶³ — t ≈ 40 at sf1
    * volumes; for longer windows re-base the recurrence per 30-day
    * chunk (the fixture spans one month).
    *
    * The daily frame is CAUSALLY ZERO-FILLED: from each type's first
    * observed day through the corpus's last day, absent cells enter as
    * n = 0 (the EWMA halves — a day with no events is a signal, not a
    * hole), which keeps the series bit-exact against the streaming
    * fold ([[graft.streaming.Streams.ewmaAdvance]]) even when a type
    * skips days.
    *
    * Scale shape: one map-side-combined (type, day) aggregate — the
    * only pass over events — then windows over the calendar-bounded
    * daily frame (the |days| × |types| grid is calendar-bounded too). */
  def ewmaSmooth(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), fmtDate(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // Causal zero-fill (ADVICE r7): a (type, day) cell absent from the
    // data must still DECAY the EWMA (n = 0 halves it) — exactly what the
    // streaming fold's full join does — or fold-vs-batch equivalence
    // holds only while every type appears on every day. The grid starts
    // at each type's FIRST observed day (a type does not exist before
    // the stream first sees it — matching the fold's seed-on-first-sight)
    // and runs through the corpus's last observed day.
    val firstDay = daily.groupBy("event_type").agg(min("day").as("d0"))
    val days = daily.select("day").distinct()
    val grid = days.crossJoin(broadcast(firstDay))
      .filter(col("day") >= col("d0"))
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    grid
      .withColumn("dn", row_number().over(w))
      .withColumn("term", col("n") *
        when(col("dn") === 1, lit(4L))
          .otherwise(expr("shiftleft(cast(1 as bigint), dn)")))
      .withColumn("wcum", sum("term").over(wc))
      .select(col("event_type"), col("day"), col("n"),
        (col("wcum").cast("double") /
          expr("shiftleft(cast(1 as bigint), dn + 1)").cast("double")).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Hampel filter over the per-type daily value series: each interior
    * day is judged against the MEDIAN and MAD of its centered 5-day
    * window — the rolling ROBUST outlier gate ([[Statistics.outlierMad]]
    * applies one global gate; Hampel localizes it, so a level shift
    * doesn't poison the threshold for the whole series). Flag when
    * |x − med| > 3·1.4826·mad; days without a full 5-day window abstain
    * (the standard boundary rule).
    *
    * Determinism: daily totals are exact micro BIGINTs; med and mad are
    * order STATISTICS of 5 integers (sorted-array element 3 — selection,
    * never interpolation: the q_outlier_mad lesson); the gate
    * dev > 3·1.4826·mad is stated as the integer comparison
    * dev·10⁴ > 44478·mad (3·1.4826 = 4.4478 exactly at 4 dp). No
    * floating-point anywhere — nothing to diverge.
    *
    * Scale shape: one map-side-combined (type, day) aggregate, then a
    * calendar-bounded per-type window carrying a 5-element array. */
  def hampelFilter(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), fmtDate(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-2, 2)
    daily
      .withColumn("win", collect_list("x").over(w))
      .filter(size(col("win")) === 5)
      .withColumn("med", element_at(sort_array(col("win")), 3))
      .withColumn("mad", element_at(sort_array(
        expr("transform(win, v -> abs(v - med))")), 3))
      .withColumn("dev", abs(col("x") - col("med")))
      .select(col("event_type"), col("day"), col("x"), col("med"),
        col("mad"), col("dev"),
        (col("dev") * lit(10000L) > lit(44478L) * col("mad")).cast("int")
          .as("is_outlier"))
      .orderBy("event_type", "day")
  }

  /** Holt linear (double-exponential) smoothing of daily event volume,
    * α = β = ½ — [[ewmaSmooth]] tracks LEVEL only and lags any steady
    * growth; Holt carries an explicit trend term, so `forecast = l + b`
    * is the one-step prediction a capacity dashboard actually plots:
    * lₜ = (xₜ + lₜ₋₁ + bₜ₋₁)/2, bₜ = ((lₜ − lₜ₋₁) + bₜ₋₁)/2, seeded
    * l₁ = x₁, b₁ = 0, over the same CAUSALLY ZERO-FILLED grid as the
    * EWMA (a silent day decays level and trend).
    *
    * Determinism: with α = β = ½ every update is additions of dyadic
    * rationals and one exact ·0.5 — the same closed-to-exact-IEEE trick
    * as [[ewmaSmooth]] — and even past the 53-bit dyadic bound the fold
    * is a FIXED sequence of correctly-rounded ops on identical operands,
    * so both engines stay bit-equal unconditionally. The Spark side
    * folds with the codegen'd `aggregate` higher-order function over the
    * per-type day-sorted array (calendar-bounded — ≤31 cells per type on
    * the fixture's one-month window; month-shard beyond); the oracle
    * replays the identical op sequence as a recursive CTE.
    *
    * Scale shape: one map-side-combined (type, day) aggregate, the
    * calendar-bounded grid fill, one per-type fold, one explode. */
  def holtLinear(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), fmtDate(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val firstDay = daily.groupBy("event_type").agg(min("day").as("d0"))
    val days = daily.select("day").distinct()
    val grid = days.crossJoin(broadcast(firstDay))
      .filter(col("day") >= col("d0"))
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    grid.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("xs"))
      .withColumn("st", expr(
        """aggregate(xs,
          |  cast(array() as array<struct<day:string,n:bigint,l:double,b:double>>),
          |  (acc, e) -> if(size(acc) = 0,
          |    array(named_struct('day', e.day, 'n', e.n,
          |                       'l', cast(e.n as double), 'b', 0.0d)),
          |    array_append(acc, named_struct('day', e.day, 'n', e.n,
          |      'l', (cast(e.n as double) + element_at(acc, -1).l
          |            + element_at(acc, -1).b) * 0.5d,
          |      'b', (((cast(e.n as double) + element_at(acc, -1).l
          |              + element_at(acc, -1).b) * 0.5d)
          |            - element_at(acc, -1).l + element_at(acc, -1).b) * 0.5d))))
          |""".stripMargin))
      .select(col("event_type"), explode(col("st")).as("e"))
      .select(col("event_type"), col("e.day").as("day"), col("e.n").as("n"),
        col("e.l").as("level"), col("e.b").as("trend"),
        (col("e.l") + col("e.b")).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** Inter-arrival gap statistics per event type — the latency-side view
    * of [[Statistics]]'s burstiness scalar: the distribution of the gap
    * between a user's consecutive events (assigned to the LATER event's
    * type — "how long since this user last did anything before this
    * click?"), summarized by rank-selected median / p90 / max. The
    * numbers that size session timeouts and watermark windows.
    *
    * Determinism: gaps are exact BIGINT µs differences within the
    * per-user (ts, event_id) order; median is the [[Statistics.medianX2]]
    * raw rank selection (×2 then one exact ·0.5), p90 is a DISCRETE
    * rank selection at ⌈0.9n⌉ = (9n+9) div 10 — no interpolation, no
    * float arithmetic beyond the one half.
    *
    * Scale shape: one user-keyed exchange for the lag window, then all
    * statistics on (type, distinct-gap) aggregates — bounded by the gap
    * domain; per-type stats broadcast nothing back (single pass). */
  def interarrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsl", "event_id")
    val gaps = graft.util.Ckpt.stage(Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsl"))
      .withColumn("prev", lag("tsl", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("tsl") - col("prev")).as("gap")))
    val med = Statistics.medianX2(gaps, "event_type", "gap", "med2")
    val wg = Window.partitionBy("event_type").orderBy("gap")
    val ranked = gaps.groupBy("event_type", "gap").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wg))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      .withColumn("r90", expr("(9 * n + 9) div 10"))
    val p90 = ranked.groupBy("event_type")
      .agg(sum(when(col("prev") < col("r90") && col("r90") <= col("cum"),
        col("gap"))).as("p90_us"))
    val base = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), max("gap").as("max_us"))
    base.join(med, "event_type").join(p90, "event_type")
      .select(col("event_type"), col("n_gaps"),
        (col("med2").cast("double") * lit(0.5)).as("median_us"),
        col("p90_us"), col("max_us"))
      .orderBy("event_type")
  }

  /** Synchronous power-iteration passes for [[markovSteady]]; unrolled
    * identically in the oracle. */
  private val SteadyIters = 4

  /** Stationary distribution of the [[markovTransition]] chain by
    * [[SteadyIters]] synchronous power-iteration passes from the uniform
    * start — the long-run attention share the one-step matrix implies
    * ("if users keep behaving like this, what fraction of events is each
    * type eventually?"), the reference point a funnel redesign is
    * measured against.
    *
    * Determinism: the transition probabilities are the 6-dp-quantized
    * one-division values of [[markovTransition]]; each pass's products
    * π(i)·p(i,j) are single multiplies quantized to 9 dp into
    * DECIMAL(18,9) BEFORE the per-state sum (a raw float sum over
    * in-edges would be order-dependent), and the new π is the exact
    * decimal sum 6-dp-quantized — the [[graft.ops.Similarity]] k-means
    * iterated-quantization rule. The oracle unrolls the same passes.
    *
    * Scale shape: the one lag-window pass of [[markovTransition]]
    * dominates; each iteration is a join + keyed aggregate over the
    * ≤|types|² probability grid with one ≤|types|-row state frame. */
  def markovSteady(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Both iteration inputs are BOUNDED model state (≤|types|² transition
    // probabilities, ≤|types| states), so the power iteration runs on the
    // driver over the collected matrix (r14, the markovAttribution
    // discipline) instead of 4 rounds of tiny joins. The arithmetic is
    // replicated STEP FOR STEP in the same exact domains:
    //  - term = floor(pi·p·10⁹ + 0.5)/10⁹ in IEEE doubles, then cast to
    //    DECIMAL(18,9) — Spark's double→decimal cast goes through the
    //    canonical Double.toString BigDecimal (java BigDecimal.valueOf),
    //    HALF_UP at scale 9; valueOf of a value that IS a 9-dp quotient
    //    round-trips exactly;
    //  - the per-state accumulation is exact decimal addition;
    //  - pi' = floor(acc.toDouble·10⁶ + 0.5)/10⁶ — decimal→double is
    //    BigDecimal.doubleValue in both engines.
    // The DuckDB oracle unrolls the same passes; any divergence in this
    // replication fails the hash compare loudly.
    val mtRows: Array[(String, String, Double)] =
      graft.util.Ckpt.stage(
        markovTransition(s, d).select("from_type", "to_type", "p"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val types: Array[String] = Tables.events(s, d)
      .select(col("event_type")).distinct()
      .collect().map(_.getString(0))
    var pi: Map[String, Double] = types.map(_ -> 0.2).toMap
    for (_ <- 1 to SteadyIters) {
      val acc = scala.collection.mutable.Map.empty[String, java.math.BigDecimal]
      mtRows.foreach { case (from, to, p) =>
        pi.get(from).foreach { pf =>
          val term = java.math.BigDecimal
            .valueOf(math.floor(pf * p * 1000000000.0 + 0.5) / 1000000000.0)
            .setScale(9, java.math.RoundingMode.HALF_UP)
          acc(to) = acc.get(to).fold(term)(_.add(term))
        }
      }
      pi = types.map { t =>
        val a = acc.getOrElse(t, java.math.BigDecimal.ZERO)
        t -> math.floor(a.doubleValue * 1000000.0 + 0.5) / 1000000.0
      }.toMap
    }
    types.toSeq.map(t => (t, pi(t))).toDF("event_type", "steady_p")
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interarrival" -> (interarrival _),
    "q_markov_steady" -> (markovSteady _),
    "q_hampel" -> (hampelFilter _),
    "q_holt_linear" -> (holtLinear _),
    "q_ewma_smooth" -> (ewmaSmooth _),
    "q_interval_union" -> (intervalUnion _),
    "q_lateness_audit" -> (latenessAudit _),
    "q_decompose_daily" -> (decomposeDaily _),
    "q_funnel_latency" -> (funnelLatency _),
    "q_burstiness" -> (burstiness _),
    "q_markov_attribution" -> (markovAttribution _),
    "q_path_trigrams" -> (pathTrigrams _),
    "q_ohlc_bars" -> (ohlcBars _),
    "q_lag_features" -> (lagFeatures _),
    "q_gap_islands" -> (gapIslands _),
    "q_rate_limit" -> (rateLimit _),
    "q_attribution" -> (attribution _),
    "q_seasonal_naive" -> (seasonalNaive _),
    "q_forecast_error" -> (forecastError _),
    "q_sax_symbols" -> (saxSymbols _),
    "q_dow_profile" -> (dowProfile _),
    "q_rolling_median" -> (rollingMedian _),
    "q_wilson_rate" -> (wilsonRate _),
    "q_markov_transition" -> (markovTransition _),
    "q_time_decay" -> (timeDecay _),
    "q_join_range_binned"  -> (joinRangeBinned _),
    "q_resample_interp"    -> (resampleInterp _),
    "q_cohort_retention"   -> (cohortRetention _),
    "q_cumulative_users"   -> (cumulativeUsers _),
    "q_hopping_window"     -> (hoppingWindow _),
    "q_sessionize_state"   -> (sessionizeState _),
    "q_recursive_cte"      -> (recursiveCalendar _),
    "q_join_interval_time" -> (joinIntervalTime _),
    "q_tumbling_window" -> (tumblingWindow _),
    "q_funnel"          -> (funnelSteps _),
    "q_session_window"  -> (sessionWindow _),
    "q_anomaly_filter"  -> (anomalyFilter _),
  )

  /** The attribution oracle unrolls [[AttribIters]] value-iteration
    * passes as generated CTEs from the same AttribScale constant as
    * the Spark loop (the Graph.pagerankOracle discipline). */
  private def markovAttributionOracle: String = {
    val vals = ("base" +: AttribChannels).map(v => s"('$v')").mkString(", ")
    val states = ("START" +: AttribChannels).map(st => s"('$st')").mkString(", ")
    val iters = (1 to AttribIters).map { k =>
      s"""p$k AS (
         |  SELECT g.variant, g.state,
         |    CASE WHEN g.state = g.variant THEN CAST(0 AS BIGINT)
         |         ELSE COALESCE(a.num // a.ctm, 0) END AS pv
         |  FROM sg g LEFT JOIN (
         |    SELECT v.variant, ew.src AS state,
         |           CAST(sum(ew.c * (CASE WHEN ew.dst = 'CONV' THEN $AttribScale
         |                                 WHEN ew.dst = 'NULL' THEN 0
         |                                 WHEN ew.dst = v.variant THEN 0
         |                                 ELSE COALESCE(p.pv, 0) END)) AS BIGINT) AS num,
         |           max(ew.ct) AS ctm
         |    FROM ew CROSS JOIN v
         |    LEFT JOIN p${k - 1} p ON p.variant = v.variant AND p.state = ew.dst
         |    GROUP BY 1, 2
         |  ) a ON a.variant = g.variant AND a.state = g.state
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ev AS (
       |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, epoch_us(ts) AS tsl,
       |         event_id, event_type
       |  FROM events
       |), rn AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, day
       |                               ORDER BY tsl, event_id) AS rn
       |  FROM ev
       |), pm AS (
       |  SELECT user_id, day, min(rn) AS pm FROM rn
       |  WHERE event_type = 'purchase' GROUP BY 1, 2
       |), kept AS (
       |  SELECT r.user_id, r.day, r.rn,
       |         CASE WHEN r.event_type = 'purchase' THEN 'CONV'
       |              ELSE r.event_type END AS state
       |  FROM rn r LEFT JOIN pm USING (user_id, day)
       |  WHERE pm.pm IS NULL OR r.rn <= pm.pm
       |), nx AS (
       |  SELECT *, lead(state, 1) OVER (PARTITION BY user_id, day ORDER BY rn) AS nxt
       |  FROM kept
       |), edges AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT state AS src, nxt AS dst FROM nx
       |    WHERE state <> 'CONV' AND nxt IS NOT NULL
       |    UNION ALL
       |    SELECT 'START', state FROM nx WHERE rn = 1
       |    UNION ALL
       |    SELECT state, 'NULL' FROM nx WHERE state <> 'CONV' AND nxt IS NULL
       |  ) GROUP BY 1, 2
       |), tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS ct FROM edges GROUP BY 1),
       |ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.c, t.ct FROM edges e JOIN tot t USING (src)),
       |v AS (SELECT * FROM (VALUES $vals) AS t(variant)),
       |sg AS (SELECT variant, state
       |       FROM v CROSS JOIN (VALUES $states) AS s(state)),
       |p0 AS (SELECT variant, state, CAST(0 AS BIGINT) AS pv FROM sg),
       |$iters,
       |f AS (SELECT variant, pv FROM p$AttribIters WHERE state = 'START'),
       |b AS (SELECT pv AS pb FROM f WHERE variant = 'base'),
       |r AS (
       |  SELECT variant AS channel, pv AS pr, pb,
       |    CAST(floor((1.0e0 - CAST(pv AS DOUBLE) / CAST(pb AS DOUBLE))
       |               * 1000000.0 + 0.5) AS BIGINT) AS rem_i
       |  FROM f, b WHERE variant <> 'base'
       |), rs AS (SELECT CAST(sum(rem_i) AS BIGINT) AS rtot FROM r)
       |SELECT channel,
       |  floor(CAST(pb AS DOUBLE) / 1.0e12 * 1000000.0 + 0.5) / 1000000.0 AS p_base,
       |  floor(CAST(pr AS DOUBLE) / 1.0e12 * 1000000.0 + 0.5) / 1000000.0 AS p_removed,
       |  CAST(rem_i AS DOUBLE) / 1000000.0 AS removal_effect,
       |  floor(CAST(rem_i AS DOUBLE) / CAST(rtot AS DOUBLE) * 1000000.0 + 0.5)
       |    / 1000000.0 AS attrib_share
       |FROM r, rs ORDER BY channel""".stripMargin
  }

  /** The [[markovSteady]] oracle unrolls [[SteadyIters]] passes with the
    * identical per-pass quantizers over the transition CTEs. */
  private def markovSteadyOracle: String = {
    val iters = (1 to SteadyIters).map { i =>
      s"""t$i AS (
         |  SELECT g.to_type,
         |    SUM(CAST(floor(pi${i - 1}.pi * g.p * 1000000000 + 0.5)
         |             / 1000000000 AS DECIMAL(18,9))) AS acc
         |  FROM g JOIN pi${i - 1} ON g.from_type = pi${i - 1}.event_type
         |  GROUP BY 1
         |), pi$i AS (
         |  SELECT ty.event_type,
         |    floor(CAST(COALESCE(t$i.acc, 0) AS DOUBLE) * 1000000 + 0.5)
         |      / 1000000 AS pi
         |  FROM ty LEFT JOIN t$i ON ty.event_type = t$i.to_type
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH pr AS (
       |  SELECT event_type AS from_type,
       |         LEAD(event_type) OVER (PARTITION BY user_id
       |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
       |  FROM events
       |), c AS (
       |  SELECT from_type, to_type, count(*) AS n
       |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), f AS (
       |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1
       |), g AS (
       |  SELECT c.from_type, c.to_type,
       |         floor((CAST(c.n AS DOUBLE) / CAST(f.n_from AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p
       |  FROM c JOIN f USING (from_type)
       |), ty AS (SELECT DISTINCT event_type FROM events),
       |pi0 AS (SELECT event_type, 0.2e0 AS pi FROM ty),
       |$iters
       |SELECT event_type, pi AS steady_p FROM pi$SteadyIters
       |ORDER BY event_type""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_markov_steady" -> markovSteadyOracle,
    // exact BIGINT microsecond gaps; median and p90 by discrete rank
    // selection over the per-type distinct-gap frame
    "q_interarrival" ->
      """WITH g0 AS (
        |  SELECT event_type,
        |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events
        |), gg AS (SELECT event_type, gap FROM g0 WHERE gap IS NOT NULL),
        |bv AS (
        |  SELECT event_type, gap, CAST(count(*) AS BIGINT) AS cnt
        |  FROM gg GROUP BY 1, 2
        |), rk AS (
        |  SELECT event_type, gap, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM bv
        |), st AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN cum - cnt < (n + 1) // 2
        |                   AND (n + 1) // 2 <= cum THEN gap END)
        |       + SUM(CASE WHEN cum - cnt < (n + 2) // 2
        |                   AND (n + 2) // 2 <= cum THEN gap END) AS BIGINT) AS med2,
        |    CAST(SUM(CASE WHEN cum - cnt < (9 * n + 9) // 10
        |                   AND (9 * n + 9) // 10 <= cum THEN gap END)
        |         AS BIGINT) AS p90_us
        |  FROM rk GROUP BY event_type
        |), base AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(max(gap) AS BIGINT) AS max_us
        |  FROM gg GROUP BY 1
        |)
        |SELECT b.event_type, b.n_gaps,
        |       CAST(st.med2 AS DOUBLE) * 0.5e0 AS median_us,
        |       st.p90_us, b.max_us
        |FROM base b JOIN st USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // pure integer order statistics over the 5-day window; the gate is
    // an exact integer comparison
    "q_hampel" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
        |              AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), wf AS (
        |  SELECT event_type, day, x,
        |    list(x) OVER (PARTITION BY event_type ORDER BY day
        |                  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS win
        |  FROM daily
        |), m AS (
        |  SELECT event_type, day, x, win, list_sort(win)[3] AS med
        |  FROM wf WHERE len(win) = 5
        |), mm AS (
        |  SELECT event_type, day, x, med,
        |         list_sort(list_transform(win, v -> abs(v - med)))[3] AS mad
        |  FROM m
        |)
        |SELECT event_type, day, x, med, mad, abs(x - med) AS dev,
        |  CAST(abs(x - med) * 10000 > 44478 * mad AS INTEGER) AS is_outlier
        |FROM mm ORDER BY event_type, day""".stripMargin,
    // the EWMA causal grid; the recursion replays the identical fixed
    // op sequence (adds of dyadic rationals + exact *0.5) step by step
    "q_holt_linear" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), days AS (SELECT DISTINCT day FROM daily),
        |f AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT f.event_type, days.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
        |  FROM f JOIN days ON days.day >= f.d0
        |  LEFT JOIN daily ON daily.event_type = f.event_type
        |                 AND daily.day = days.day
        |), g AS (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS dn
        |  FROM grid
        |), rec AS (
        |  SELECT event_type, day, n, dn, CAST(n AS DOUBLE) AS l, 0.0e0 AS b
        |  FROM g WHERE dn = 1
        |  UNION ALL
        |  SELECT g.event_type, g.day, g.n, g.dn,
        |    (CAST(g.n AS DOUBLE) + r.l + r.b) * 0.5e0 AS l,
        |    (((CAST(g.n AS DOUBLE) + r.l + r.b) * 0.5e0) - r.l + r.b) * 0.5e0 AS b
        |  FROM rec r JOIN g ON g.event_type = r.event_type AND g.dn = r.dn + 1
        |)
        |SELECT event_type, day, n, l AS level, b AS trend,
        |       l + b AS forecast_next
        |FROM rec ORDER BY event_type, day""".stripMargin,
    "q_ewma_smooth" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), days AS (SELECT DISTINCT day FROM daily),
        |f AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT f.event_type, days.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
        |  FROM f JOIN days ON days.day >= f.d0
        |  LEFT JOIN daily ON daily.event_type = f.event_type
        |                 AND daily.day = days.day
        |), r AS (
        |  SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |         AS INTEGER) AS dn
        |  FROM grid
        |), t AS (
        |  SELECT event_type, day, n, dn,
        |    n * (CASE WHEN dn = 1 THEN 4
        |              ELSE CAST(1 AS BIGINT) << dn END) AS term
        |  FROM r
        |), c AS (
        |  SELECT event_type, day, n, dn,
        |    CAST(sum(term) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS wcum
        |  FROM t
        |)
        |SELECT event_type, day, n,
        |  CAST(wcum AS DOUBLE) / CAST(CAST(1 AS BIGINT) << (dn + 1) AS DOUBLE) AS ewma
        |FROM c ORDER BY event_type, day""".stripMargin,
    "q_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsl,
        |         epoch_us(ts) + 600000000 AS endl
        |  FROM events
        |), sw AS (
        |  SELECT user_id, endl, tsl,
        |         max(endl) OVER (PARTITION BY user_id
        |                         ORDER BY tsl ASC, event_id ASC
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prev_max_end
        |  FROM e
        |), g AS (
        |  SELECT user_id,
        |         greatest(0, endl - greatest(tsl, coalesce(prev_max_end, tsl))) AS gain
        |  FROM sw
        |)
        |SELECT user_id,
        |       count(*) AS n_events,
        |       CAST(sum(gain) AS BIGINT) AS covered_us,
        |       CAST(sum(CAST(gain = 0 AS BIGINT)) AS BIGINT) AS n_contained
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_lateness_audit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsl FROM events
        |), sw AS (
        |  SELECT event_type, tsl,
        |         greatest(0, coalesce(max(tsl) OVER (PARTITION BY user_id
        |                    ORDER BY event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tsl)
        |                    - tsl) AS late_us
        |  FROM e
        |)
        |SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(late_us > 0 AS BIGINT)) AS BIGINT) AS n_late,
        |       max(late_us) AS max_late_us,
        |       CAST(sum(late_us) AS BIGINT) AS sum_late_us
        |FROM sw GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_decompose_daily" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         dayofweek(ts) + 1 AS dow,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT))
        |              AS BIGINT) AS vol
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
        |), t AS (
        |  SELECT *,
        |    CAST(floor(CAST(sum(vol) OVER w AS DOUBLE)
        |               / CAST(count(*) OVER w AS DOUBLE) + 0.5) AS BIGINT) AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), det AS (SELECT *, vol - trend AS det FROM t),
        |se AS (
        |  SELECT event_type, dow,
        |    CAST(floor(CAST(sum(det) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
        |         AS BIGINT) AS seasonal
        |  FROM det GROUP BY 1, 2
        |)
        |SELECT d.event_type, d.day, d.vol, d.trend, se.seasonal,
        |       d.det - se.seasonal AS residual
        |FROM det d JOIN se ON d.event_type = se.event_type AND d.dow = se.dow
        |ORDER BY d.event_type, d.day""".stripMargin,
    "q_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsl FROM events
        |), v AS (
        |  SELECT user_id, min(tsl) AS vt FROM ev WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, v.vt, min(e.tsl) AS ct
        |  FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.tsl > v.vt GROUP BY 1, 2
        |), p AS (
        |  SELECT c.user_id, c.ct, min(e.tsl) AS pt
        |  FROM ev e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.tsl > c.ct GROUP BY 1, 2
        |), g AS (
        |  SELECT 'view->click' AS step, (ct - vt) // 1000000 AS gap_s FROM c
        |  UNION ALL
        |  SELECT 'click->purchase', (pt - ct) // 1000000 FROM p
        |), bv AS (
        |  SELECT step, gap_s, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2
        |), r AS (
        |  SELECT step, gap_s, cnt,
        |    sum(cnt) OVER (PARTITION BY step ORDER BY gap_s) AS cum,
        |    sum(cnt) OVER (PARTITION BY step) AS n
        |  FROM bv
        |), m AS (
        |  SELECT step, CAST(max(n) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
        |                  THEN gap_s END)
        |       + sum(CASE WHEN cum - cnt < (n + 2) // 2 AND (n + 2) // 2 <= cum
        |                  THEN gap_s END) AS BIGINT) AS med2
        |  FROM r GROUP BY step
        |)
        |SELECT step, n_users, CAST(med2 AS DOUBLE) * 0.5e0 AS median_gap_s
        |FROM m ORDER BY step""".stripMargin,
    "q_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
        |  FROM daily GROUP BY event_type HAVING count(*) >= 2
        |), b AS (
        |  SELECT event_type, n_days, sc,
        |    CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
        |    CAST(n_days * scc - sc * sc AS DOUBLE)
        |      / (CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE)) AS var
        |  FROM a
        |)
        |SELECT event_type, n_days, sc AS n_events,
        |  floor(mean * 1000000.0 + 0.5) / 1000000.0 AS mean_daily,
        |  floor(var / mean * 1000000.0 + 0.5) / 1000000.0 AS fano,
        |  floor((sqrt(var) - mean) / (sqrt(var) + mean) * 1000000.0 + 0.5)
        |    / 1000000.0 AS burstiness
        |FROM b ORDER BY event_type""".stripMargin,
    "q_markov_attribution" -> markovAttributionOracle,
    "q_path_trigrams" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS tsl, event_id, event_type
        |  FROM events
        |), t AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsl, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY tsl, event_id) AS t3
        |  FROM o
        |), p AS (
        |  SELECT t1 || '->' || t2 || '->' || t3 AS path, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |  GROUP BY 1
        |), r AS (
        |  SELECT row_number() OVER (ORDER BY n DESC, path ASC) AS rank, path, n FROM p
        |)
        |SELECT rank, path, n FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q_ohlc_bars" ->
      """WITH ev AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |         epoch_us(ts) AS tsl, event_id, value
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY day, event_type
        |                       ORDER BY tsl ASC, event_id ASC) AS ra,
        |    row_number() OVER (PARTITION BY day, event_type
        |                       ORDER BY tsl DESC, event_id DESC) AS rd
        |  FROM ev
        |)
        |SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  floor((CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS volume
        |FROM r GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,
    "q_lag_features" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT))
        |              AS BIGINT) AS vol
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT day, event_type, n_events, vol,
        |    lag(vol, 1) OVER (PARTITION BY event_type ORDER BY day) AS lag1,
        |    lag(vol, 7) OVER (PARTITION BY event_type ORDER BY day) AS lag7,
        |    CAST(sum(vol) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7
        |  FROM daily
        |)
        |SELECT day, event_type, n_events, vol, lag1, lag7, roll7,
        |  CASE WHEN lag1 IS NOT NULL AND lag1 <> 0 THEN
        |    floor(CAST(vol - lag1 AS DOUBLE) / CAST(abs(lag1) AS DOUBLE)
        |          * 1000000.0 + 0.5) / 1000000.0 END AS pct_change
        |FROM f ORDER BY event_type, day""".stripMargin,
    "q_gap_islands" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
        |ext AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |spine AS (
        |  SELECT ext.lo, unnest(generate_series(ext.lo, ext.hi, INTERVAL '1 hour')) AS h
        |  FROM ext
        |), types AS (SELECT DISTINCT event_type FROM ev),
        |counts AS (SELECT h, event_type, count(*) AS c FROM ev GROUP BY h, event_type),
        |z AS (
        |  SELECT s.h, t.event_type,
        |         (epoch_us(s.h) - epoch_us(s.lo)) // 3600000000 AS idx
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
        |  WHERE c.c IS NULL
        |), g AS (
        |  SELECT event_type, h,
        |         idx - row_number() OVER (PARTITION BY event_type ORDER BY idx) AS grp
        |  FROM z
        |)
        |SELECT event_type, strftime(min(h), '%Y-%m-%d %H:%M:%S') AS gap_start,
        |       CAST(count(*) AS BIGINT) AS gap_hours
        |FROM g GROUP BY event_type, grp
        |ORDER BY event_type, gap_start""".stripMargin,
    "q_rate_limit" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tsl FROM events),
        |c AS (
        |  SELECT user_id,
        |         count(*) OVER (PARTITION BY user_id ORDER BY tsl
        |           RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS c1h
        |  FROM ev
        |)
        |SELECT user_id, CAST(max(c1h) AS BIGINT) AS peak_1h,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM c GROUP BY user_id HAVING max(c1h) >= 2
        |ORDER BY user_id""".stripMargin,
    "q_attribution" ->
      """WITH p AS (
        |  SELECT user_id AS pu, event_id AS pid, ts AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id AS tu, event_id AS tid, event_type AS ttype, ts AS tts
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT p.pid, t.ttype, t.tts, t.tid
        |  FROM p LEFT JOIN t
        |    ON p.pu = t.tu AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL '24 hours'
        |), r AS (
        |  SELECT pid, ttype,
        |    row_number() OVER (PARTITION BY pid ORDER BY tts ASC, tid ASC) AS rf,
        |    row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rl
        |  FROM j
        |), a AS (
        |  SELECT pid,
        |    COALESCE(max(CASE WHEN rf = 1 THEN ttype END), 'none') AS first_touch,
        |    COALESCE(max(CASE WHEN rl = 1 THEN ttype END), 'none') AS last_touch
        |  FROM r GROUP BY pid
        |)
        |SELECT first_touch, last_touch, CAST(count(*) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin,
    // the seasonal-naive series CTEs + the naive-1 baseline lag; error
    // masses are exact integer sums, each ratio one quantized division,
    // sMAPE terms quantized then DECIMAL-summed (order-free)
    "q_forecast_error" ->
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type FROM events
        |), ext AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |spine AS (
        |  SELECT unnest(generate_series(ext.lo, ext.hi, INTERVAL '1 hour')) AS h FROM ext
        |), types AS (SELECT DISTINCT event_type FROM ev),
        |counts AS (
        |  SELECT h, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY h, event_type
        |), series AS (
        |  SELECT s.h, t.event_type, COALESCE(c.c, 0) AS c
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
        |), fc AS (
        |  SELECT event_type, c,
        |         lag(c, 168) OVER (PARTITION BY event_type ORDER BY h) AS f,
        |         lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS f1
        |  FROM series
        |), g AS (
        |  SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(c) AS BIGINT) AS n_actual,
        |    CAST(sum(abs(c - f)) AS BIGINT) AS sae,
        |    CAST(sum(abs(c - f1)) AS BIGINT) AS sae1,
        |    sum(CAST(CASE WHEN c + f = 0 THEN 0.0
        |             ELSE floor(CAST(abs(c - f) * 2 AS DOUBLE)
        |                        / CAST(c + f AS DOUBLE)
        |                        * 1000000 + 0.5) / 1000000
        |             END AS DECIMAL(24,6))) AS sm
        |  FROM fc WHERE f IS NOT NULL
        |  GROUP BY event_type
        |)
        |SELECT event_type, n_hours, n_actual, sae,
        |  CASE WHEN n_actual = 0 THEN NULL
        |       ELSE floor(CAST(sae AS DOUBLE) / CAST(n_actual AS DOUBLE)
        |                  * 1000000 + 0.5) / 1000000 END AS wape,
        |  floor(CAST(sm AS DOUBLE) / CAST(n_hours AS DOUBLE)
        |        * 1000000 + 0.5) / 1000000 AS smape,
        |  CASE WHEN sae1 = 0 THEN NULL
        |       ELSE floor(CAST(sae AS DOUBLE) / CAST(sae1 AS DOUBLE)
        |                  * 1000000 + 0.5) / 1000000 END AS mase
        |FROM g ORDER BY event_type""".stripMargin,
    "q_seasonal_naive" ->
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type FROM events
        |), ext AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |spine AS (
        |  SELECT unnest(generate_series(ext.lo, ext.hi, INTERVAL '1 hour')) AS h FROM ext
        |), types AS (SELECT DISTINCT event_type FROM ev),
        |counts AS (
        |  SELECT h, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY h, event_type
        |), series AS (
        |  SELECT s.h, t.event_type, COALESCE(c.c, 0) AS c
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
        |), fc AS (
        |  SELECT event_type, c,
        |         lag(c, 168) OVER (PARTITION BY event_type ORDER BY h) AS f
        |  FROM series
        |)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(c) AS BIGINT) AS n_actual,
        |  CAST(sum(abs(c - f)) AS BIGINT) AS sae,
        |  floor(CAST(sum(abs(c - f)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS mae
        |FROM fc WHERE f IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sax_symbols" ->
      """WITH hourly AS (
        |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS h,
        |         sum(CAST(value AS DECIMAL(24,6))) AS s0
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type, hour(ts)
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY s0, h) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nh
        |  FROM hourly
        |), sy AS (
        |  SELECT event_type, h, nh,
        |         substring('abcd', CAST((4 * (rn - 1)) // nh AS INTEGER) + 1, 1) AS sym
        |  FROM r
        |)
        |SELECT event_type, CAST(max(nh) AS BIGINT) AS n_hours,
        |       string_agg(sym, '' ORDER BY h) AS sax
        |FROM sy GROUP BY event_type ORDER BY event_type""".stripMargin,
    // every literal e0-pinned; the bound trees mirror the Spark Columns
    // parenthesis-for-parenthesis
    "q_wilson_rate" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1
        |), b AS (
        |  SELECT day, n, c,
        |         CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         CAST(n AS DOUBLE) AS nd
        |  FROM daily
        |), w AS (
        |  SELECT day, n, c, p,
        |         sqrt(p * (1.0e0 - p) / nd + 1.96e0 * 1.96e0 / (4.0e0 * nd * nd)) AS rad,
        |         p + 1.96e0 * 1.96e0 / (2.0e0 * nd) AS ctr,
        |         1.0e0 + 1.96e0 * 1.96e0 / nd AS den
        |  FROM b
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n, c AS clicks,
        |       floor((p) * 1000000 + 0.5) / 1000000 AS p,
        |       floor(((ctr - 1.96e0 * rad) / den) * 1000000 + 0.5) / 1000000 AS wilson_lo,
        |       floor(((ctr + 1.96e0 * rad) / den) * 1000000 + 0.5) / 1000000 AS wilson_hi
        |FROM w
        |ORDER BY day""".stripMargin,
    "q_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), win AS (
        |  SELECT a.event_type AS t, a.day AS d0, b.x
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day - b.day BETWEEN 0 AND 6
        |), cg AS (
        |  SELECT t, d0, x, count(*) AS cnt FROM win GROUP BY 1, 2, 3
        |), cr AS (
        |  SELECT t, d0, x, cnt,
        |         SUM(cnt) OVER (PARTITION BY t, d0 ORDER BY x) AS cum,
        |         SUM(cnt) OVER (PARTITION BY t, d0) AS k
        |  FROM cg
        |)
        |SELECT t AS event_type,
        |       strftime(d0, '%Y-%m-%d') AS day,
        |       CAST(MAX(k) AS BIGINT) AS n_days_in_window,
        |       CAST((SUM(CASE WHEN cum - cnt < (k + 1) // 2 AND (k + 1) // 2 <= cum THEN x END)
        |           + SUM(CASE WHEN cum - cnt < (k + 2) // 2 AND (k + 2) // 2 <= cum THEN x END)) AS DOUBLE)
        |         / 2000000.0e0 AS rolling_med
        |FROM cr
        |GROUP BY t, d0
        |ORDER BY event_type, day""".stripMargin,
    "q_dow_profile" ->
      """WITH per AS (
        |  SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
        |         count(*) AS n_events,
        |         SUM(CAST(value AS DECIMAL(24,6))) AS vs
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(n_events) AS BIGINT) AS tn, SUM(vs) AS tv FROM per
        |)
        |SELECT CAST(per.dow AS INTEGER) AS dow,
        |       CAST(per.n_events AS BIGINT) AS n_events,
        |       floor((CAST(per.vs AS DOUBLE)) * 10000 + 0.5) / 10000 AS sum_value,
        |       floor((CAST(per.vs AS DOUBLE) / CAST(per.n_events AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS avg_value,
        |       floor(((CAST(per.vs AS DOUBLE) / CAST(per.n_events AS DOUBLE))
        |             / (CAST(tot.tv AS DOUBLE) / CAST(tot.tn AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS idx
        |FROM per, tot
        |ORDER BY dow""".stripMargin,
    "q_markov_transition" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), f AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1
        |)
        |SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n, f.n_from,
        |       floor((CAST(c.n AS DOUBLE) / CAST(f.n_from AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p
        |FROM c JOIN f USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_time_decay" ->
      """WITH ev AS (
        |  SELECT event_type, value, CAST(ts AS DATE) AS dt FROM events
        |), a AS (
        |  SELECT max(dt) AS anchor FROM ev
        |), w AS (
        |  SELECT event_type, value,
        |         least(62, date_diff('day', dt, anchor) // 7) AS k
        |  FROM ev, a
        |), q AS (
        |  SELECT event_type, value,
        |         CAST(floor(value / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)
        |                    * 1000000 + 0.5) AS BIGINT) AS wq
        |  FROM w
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS raw_sum,
        |       CAST(sum(wq) AS DOUBLE) / 1000000.0 AS decayed_sum
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the NAIVE range-join formulation on purpose: hash parity with the
    // binned Spark plan proves the rewrite preserves semantics
    "q_join_range_binned" ->
      """WITH e AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), hm AS (
        |  SELECT date_trunc('hour', ts) AS h, minute(ts) AS m, count(*) AS cnt
        |  FROM e GROUP BY 1, 2
        |), peak AS (
        |  SELECT h, m FROM (
        |    SELECT h, m,
        |           row_number() OVER (PARTITION BY h ORDER BY cnt DESC, m ASC) AS rn
        |    FROM hm) t
        |  WHERE rn = 1
        |), win AS (
        |  SELECT h + (m - 30) * INTERVAL 1 MINUTE AS ws,
        |         h + (m + 30) * INTERVAL 1 MINUTE AS we
        |  FROM peak
        |)
        |SELECT e.event_id,
        |       strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS window_start
        |FROM e JOIN win w ON e.ts >= w.ws AND e.ts < w.we
        |ORDER BY event_id, window_start""".stripMargin,
    "q_resample_interp" ->
      """WITH obs AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         floor((CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / count(value))
        |               * 10000 + 0.5) / 10000 AS obs
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM obs GROUP BY event_type
        |), j AS (
        |  SELECT s.event_type, s.h, o.obs
        |  FROM spine s LEFT JOIN obs o USING (event_type, h)
        |), f AS (
        |  SELECT *,
        |    last_value(obs IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN obs IS NOT NULL THEN h END IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(obs IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN obs IS NOT NULL THEN h END IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j
        |)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       floor((CASE WHEN obs IS NOT NULL THEN obs
        |              ELSE pv + (nv - pv) * ((epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph))) END)
        |             * 10000 + 0.5) / 10000 AS value,
        |       CAST(obs IS NULL AS INTEGER) AS is_interp
        |FROM f
        |ORDER BY event_type, hour""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dd
        |  FROM events
        |), f AS (
        |  SELECT user_id, min(dd) AS cohort_day FROM e GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT user_id, dd FROM e
        |)
        |SELECT cohort_day, dd - cohort_day AS day_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id,
        |         min(strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')) AS hour
        |  FROM events GROUP BY user_id
        |)
        |SELECT hour, count(*) AS n_new_users,
        |       CAST(sum(count(*)) OVER (
        |         ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM f GROUP BY hour
        |ORDER BY hour""".stripMargin,
    // size/slide = 4, so every event is in exactly the 4 windows whose
    // starts are its 15-min bucket minus 0..3 slides — no filter needed
    "q_hopping_window" ->
      """WITH e AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
        |), x AS (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS win_start,
        |         event_type, value
        |  FROM e, unnest([0, 1, 2, 3]) AS t(k)
        |)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       count(*) AS cnt,
        |       floor((CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS sum_value
        |FROM x
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_sessionize_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), g AS (
        |  SELECT *,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), st AS (
        |  SELECT *, SUM(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g
        |), sess AS (
        |  SELECT user_id, sess_id, COUNT(*) AS n_events,
        |         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end
        |  FROM st GROUP BY user_id, sess_id
        |)
        |SELECT user_id, n_events, sess_start, sess_end
        |FROM (SELECT *, max(sess_id) OVER (PARTITION BY user_id) AS last_sess FROM sess) t
        |WHERE sess_id < last_sess
        |ORDER BY user_id, sess_start""".stripMargin,
    "q_recursive_cte" ->
      """WITH RECURSIVE m(mon, last_mon) AS (
        |  SELECT date_trunc('month', min(o_orderdate)),
        |         date_trunc('month', max(o_orderdate))
        |  FROM orders
        |  UNION ALL
        |  SELECT mon + INTERVAL 1 MONTH, last_mon FROM m WHERE mon < last_mon
        |), per AS (
        |  SELECT date_trunc('month', o_orderdate) AS mon, count(*) AS n_orders
        |  FROM orders GROUP BY 1
        |)
        |SELECT strftime(m.mon, '%Y-%m-%d') AS month_start,
        |       CAST(coalesce(per.n_orders, 0) AS BIGINT) AS n_orders
        |FROM m LEFT JOIN per ON m.mon = per.mon
        |ORDER BY month_start""".stripMargin,
    "q_join_interval_time" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
        |ORDER BY a_id, b_id""".stripMargin,
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), v AS (
        |  SELECT user_id, min(ts) AS first_view FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS first_click
        |  FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.first_view
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS first_purchase
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
        |  GROUP BY e.user_id
        |)
        |SELECT v.user_id,
        |       strftime(v.first_view, '%Y-%m-%d %H:%M:%S') AS first_view,
        |       strftime(c.first_click, '%Y-%m-%d %H:%M:%S') AS first_click,
        |       strftime(p.first_purchase, '%Y-%m-%d %H:%M:%S') AS first_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,
    "q_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin,
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), g AS (
        |  SELECT *,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), st AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS sess_id
        |  FROM g
        |)
        |SELECT user_id, sess_id, COUNT(*) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end
        |FROM st
        |GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,
    "q_anomaly_filter" ->
      """SELECT event_id, event_type, value
        |FROM events
        |JOIN (SELECT event_type AS t,
        |             CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / COUNT(value) AS avg_v
        |      FROM events GROUP BY event_type) st
        |  ON event_type = t
        |WHERE value > 3.0 * avg_v
        |ORDER BY event_id""".stripMargin,
  )
}
