package graft.ops

import graft.util.Det
import graft.Tables
import graft.util.Det._
import graft.util.Prefix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Descriptive-statistics family beyond the univariate moments the engine
  * already ships (q_stats_moments, q_percentiles): bivariate correlation /
  * covariance / least-squares regression, and fixed-width histogram binning.
  *
  * Covers the reference's declared "pandas-comparable local stats" surface
  * (`reqdef.yaml:13,44-45`, SURVEY.md §2a R21) with the distributed
  * formulation: every statistic is derived from decimal-exact power sums
  * (Σx, Σy, Σx², Σy², Σxy), which partial-aggregate map-side, combine
  * order-independently, and reproduce bit-for-bit across engines — the
  * built-in `corr`/`covar_samp` fold doubles in partition order and would
  * not. One shuffle per query, final arithmetic in a codegen'd projection.
  */
object Statistics {

  private def p2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    sum((a * b).cast(DecimalType(30, 8))).cast("double")

  /** Pearson r, sample covariance, and OLS slope/intercept of
    * extendedprice ~ quantity per return flag. */
  def corrRegr(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val n = count(lit(1)).cast("double")
    val sx = dsum(x); val sy = dsum(y)
    val sxx = p2(x, x); val syy = p2(y, y); val sxy = p2(x, y)
    val covS = (sxy - sx * sy / n) / (n - lit(1.0))
    val r = (n * sxy - sx * sy) /
      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        n.cast("long").as("n"),
        Det.q4(r).as("corr_qty_price"),
        Det.q4(covS).as("covar_samp"),
        Det.q4(slope).as("slope"),
        Det.q4(icept).as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Fixed-width histogram of extendedprice (width_bucket-style binning by
    * floor division — the binning expression itself is the group key, so the
    * whole histogram is one hash aggregate). */
  def histogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 5000).cast("int").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        Det.q4(min(col("l_extendedprice"))).as("lo"),
        Det.q4(max(col("l_extendedprice"))).as("hi"))
      .orderBy("bucket")

  /** Equi-width bucketing via `width_bucket` (PostgreSQL semantics:
    * `[lo,hi)` split into n equal cells, bucket 0 / n+1 for out-of-range).
    * The fixture's quantities are integral 1..50, so every cell boundary is
    * exact in IEEE double and the oracle's floor-arithmetic emulation
    * (DuckDB ships no width_bucket) lands identically. */
  def widthBucket(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_quantity"), col("l_extendedprice"))
      .withColumn("bucket", expr("width_bucket(l_quantity, 1.0, 51.0, 10)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), Det.q4(dsum(col("l_extendedprice"))).as("sum_price"))
      .orderBy("bucket")

  /** Custom typed-Aggregator UDAF (graft.functions.WeightedAvg): quantity-
    * weighted mean unit price per return flag. Inputs are converted to the
    * integer domain (cents / whole units) at the scan so the custom
    * aggregation is exact and order-independent. */
  def weightedAvgUdaf(s: SparkSession, d: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg,
      org.apache.spark.sql.Encoders.product[graft.functions.WeightedItem])
    Tables.lineitem(s, d)
      .select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"),
        floor(col("l_quantity")).cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(Det.q4(wavg(col("pc"), col("q"))).as("w_unit_price"))
      .orderBy("l_returnflag")
  }

  /** Sum of the two middle order statistics (= 2·median) of the numeric
    * column `v` per `key` — the rank-selection discipline
    * (q_percentile_disc) applied to the continuous median: for n rows the
    * middle ranks are r1 = ⌊(n+1)/2⌋ and r2 = ⌊(n+2)/2⌋ (equal when n is
    * odd), and quantile_cont(0.5) = (v[r1] + v[r2]) / 2. Returning the
    * SUM m1+m2 avoids the half-way point: for BIGINT inputs it is exact;
    * for DOUBLE inputs each rank-selected SUM has exactly ONE non-null
    * term (the cumulative ranges partition the ranks), so the only IEEE
    * op is the final m1+m2 add — correctly rounded on identical inputs
    * in every engine, no interpolation anywhere. The per-key rank window
    * runs over DISTINCT values of `v` (bounded by the value domain, not
    * the row count), so the sort partition stays small even when the
    * fact table doesn't. */
  private[ops] def medianX2(df: DataFrame, key: String, v: String, out: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(v)
    val ranked = df.groupBy(col(key), col(v)).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy(key)))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("r1", expr("(n + 1) div 2"))
      .withColumn("r2", expr("(n + 2) div 2"))
    ranked.groupBy(key)
      .agg((sum(when(col("prev") < col("r1") && col("r1") <= col("cum"), col(v))) +
            sum(when(col("prev") < col("r2") && col("r2") <= col("cum"), col(v)))).as(out))
  }

  /** Robust (median/MAD) outlier detection per event type — the
    * mean/stddev gate `q_anomaly_filter` uses is itself dragged by the
    * outliers it hunts; median ± k·MAD is the standard robust alternative
    * (k·1.4826 rescales MAD to σ under normality).
    *
    * Cross-engine exactness: this family is the worst case for IEEE
    * parity — an even-count median of 2-dp data lands exactly on a
    * `x.xx5` half-way point, where `quantile_cont` interpolation and
    * even a double→DECIMAL(18,2) quantization cast can each flip on a
    * 1-ulp difference between engine BUILDS (the r6 driver's DuckDB
    * resolved at least one fixture value's cents differently from both
    * Spark and local DuckDB — the cast itself was the knife-edge). So
    * this path performs NO quantization at all: the raw parquet doubles
    * are the domain. The distinct-value group key is the exact double
    * (bit equality — both engines read identical bits from the same
    * file), the median is rank-selected as the two middle order
    * statistics m1, m2 (r1 = ⌊(n+1)/2⌋, r2 = ⌊(n+2)/2⌋; [[medianX2]]
    * returns m1+m2, one correctly-rounded IEEE add of identical
    * inputs), and every derived quantity is a single elementary IEEE
    * op on identical operands — med = (m1+m2)·0.5 (exact scaling),
    * dev = |v − med| (one subtraction), mad likewise rank-selected
    * from the exact dev doubles, thr = (3.0·1.4826)·mad (the constant
    * folds to the same double in both engines — the oracle pins DOUBLE
    * literals with `e0` so DuckDB cannot route through DECIMAL), and
    * the gate `dev > thr` compares identical bit patterns. IEEE-754
    * mandates correct rounding for each of +, −, ×, so no
    * engine-version freedom remains anywhere on the path.
    *
    * Round-8 postmortem — the r4–r7 reds were never arithmetic: the
    * oracle's `SUM(CASE …) AS n_outliers` returns HUGEINT in DuckDB,
    * which pandas renders as float64 while Spark writes int64; the
    * driver's hash distinguishes `123` from `123.0` even when every
    * value is equal (local gate normalized dtypes, so it could never
    * catch it). A dtype scan across all 296 oracles found exactly two
    * int64→float64 leaks — this column and q_kaplan_meier's n_risk —
    * matching the two red rows one-for-one. Fix: `CAST(… AS BIGINT)`
    * in the oracle; `dev/check.py` now fails on any int↔float dtype
    * leak.
    *
    * Scale shape: two rank-selection passes over (type, distinct-value)
    * aggregates, stats broadcast back — the events table is never
    * shuffled. */
  def outlierMad(s: SparkSession, d: String): DataFrame = {
    // NULLs excluded EXPLICITLY (mirrored in the oracle): rank selection
    // would count them into n — and Spark windows sort nulls first while
    // DuckDB sorts them last, so their mere presence would shift every
    // rank cross-engine
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value").as("v"))
    val med = medianX2(ev, "event_type", "v", "med2")
      .select(col("event_type").as("t"), (col("med2") * lit(0.5)).as("med"))
    // staged: dev feeds both the MAD rank-selection pass and the final
    // aggregate — without it the scan + median join runs per consumer
    val dev = graft.util.Ckpt.stage(
      ev.join(broadcast(med), col("event_type") === col("t"))
        .withColumn("dev", abs(col("v") - col("med"))))
    val mad = medianX2(dev, "event_type", "dev", "mad2")
      .select(col("event_type").as("t2"), (col("mad2") * lit(0.5)).as("mad"))
    dev.join(broadcast(mad), col("event_type") === col("t2"))
      .withColumn("thr", lit(3.0) * lit(1.4826) * col("mad"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        first("med").as("med"),
        first("mad").as("mad"),
        first("thr").as("thr"),
        sum((col("dev") > col("thr")).cast("long")).as("n_outliers"),
        max("dev").as("max_dev"))
      .orderBy("event_type")
  }

  /** Mood's median test between the click and view value distributions —
    * the nonparametric "same center?" question asked in its bluntest,
    * most assumption-free form ([[mannWhitney]] tests stochastic
    * dominance; Mood's test only asks which side of the POOLED median
    * each observation falls on, so heavy tails and weird shapes cannot
    * mislead it): a 2×2 table of (group × above/not-above pooled
    * median), χ²₁ = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)).
    *
    * Determinism — the [[outlierMad]] raw-double median discipline: the
    * pooled median rank-selects the two middle order statistics of the
    * exact doubles ([[medianX2]] — no interpolation, no decimal cast),
    * med = (m₁+m₂)·0.5 is one IEEE op, the above-median comparisons are
    * bit-identical, and χ² promotes its products to DECIMAL(38,0)/
    * HUGEINT (n·(ad−bc)² ~ n⁵ wraps BIGINT fast) with ONE final
    * division. A zero margin (all rows on one side) pins χ² to NULL on
    * both sides.
    *
    * Scale shape: rank selection over the pooled distinct-value domain;
    * the 1-row median broadcasts back; one 2-row group aggregate. */
  def moodMedian(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select(col("event_type").as("grp"), col("value").as("v"))
    val med = medianX2(ev.withColumn("k", lit(1)), "k", "v", "med2")
      .select((col("med2") * lit(0.5)).as("med"))
    val row = ev.crossJoin(broadcast(med))
      .groupBy()
      .agg(
        sum(when(col("grp") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("grp") === "click" && col("v") > col("med"), 1L)
          .otherwise(0L)).as("gt_click"),
        sum(when(col("grp") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("grp") === "view" && col("v") > col("med"), 1L)
          .otherwise(0L)).as("gt_view"),
        first("med").as("median"))
    val a = col("gt_click"); val b = col("n_click") - col("gt_click")
    val c = col("gt_view"); val dd = col("n_view") - col("gt_view")
    val n = col("n_click") + col("n_view")
    val det = a.cast(Dec0) * dd.cast(Dec0) - b.cast(Dec0) * c.cast(Dec0)
    val denom = col("n_click").cast(Dec0) * col("n_view").cast(Dec0) *
      (a + c).cast(Dec0) * (b + dd).cast(Dec0)
    row.select(col("n_click"), col("gt_click"), col("n_view"), col("gt_view"),
      col("median"),
      when(denom === lit(0), lit(null).cast("double"))
        .otherwise(Det.q6((n.cast(Dec0) * det * det).cast("double") /
          denom.cast("double"))).as("chi2"))
  }

  /** SPRT hypothesis band: H₀ p = 0.18 vs H₁ p = 0.22 purchase share,
    * α = β = 0.05 → log-boundaries ±ln(19). The three log constants are
    * pinned 6-dp literals (identical doubles both engines). */
  private val SprtLa = 0.200671   // ln(p1/p0)
  private val SprtLb = -0.05001   // ln((1-p1)/(1-p0))
  private val SprtBound = 2.944439 // ln((1-beta)/alpha) = ln(19)

  /** Sequential probability ratio test on the daily purchase share —
    * Wald's always-valid sequential monitor, the form an experimentation
    * platform runs DAILY where [[twoPropZ]] is the one-shot end-of-test
    * readout (peeking at a fixed-horizon z inflates false positives;
    * the SPRT's ±ln(19) band is valid at every look): each day adds
    * LLR = x·ln(p₁/p₀) + (m−x)·ln((1−p₁)/(1−p₀)) for x purchases out of
    * m events, and the first day the running LLR leaves the band decides.
    *
    * Determinism: daily (x, m) are exact BIGINTs; each day's LLR term is
    * two multiplies by PINNED 6-dp double literals and one add —
    * elementary ops on identical operands — 6-dp-quantized into
    * DECIMAL(18,6) so the running sum is exact and order-independent;
    * the decision CASE compares the exact decimal-backed cumulative
    * against the pinned boundary literals.
    *
    * Scale shape: one map-side-combined (day) aggregate, then a
    * calendar-bounded cumulative window. */
  def sprt(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "purchase").cast("long")).as("x"),
        count(lit(1)).as("m"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("llr_day", q6(col("x").cast("double") * lit(SprtLa) +
        (col("m") - col("x")).cast("double") * lit(SprtLb)).cast(DecimalType(18, 6)))
      .withColumn("llr_cum", sum("llr_day").over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x"), col("m"),
        col("llr_day").cast("double").as("llr_day"),
        col("llr_cum").cast("double").as("llr_cum"),
        when(col("llr_cum") >= lit(SprtBound), lit("accept_h1"))
          .when(col("llr_cum") <= lit(-SprtBound), lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
      .orderBy("day")
  }

  /** Q–Q plot points (deciles 1–9) of the click vs view value
    * distributions — the SHAPE diagnostic behind the drift family's
    * scalars ([[ksDrift]] says "the ECDFs differ by D"; the Q–Q table
    * says WHERE: parallel-off-diagonal = location shift, fanning =
    * scale change, bent tail = tail divergence — the plot an analyst
    * reads before choosing a correction).
    *
    * Determinism: each quantile is a DISCRETE rank selection over the
    * per-group distinct-value frame (value at rank ⌈k·n/10⌉ =
    * (k·n + 9) div 10 — the [[iqrOutlier]] percentile_disc rule; no
    * interpolation anywhere), so every output cell is a raw parquet
    * double; the gap is ONE IEEE subtraction.
    *
    * Scale shape: one map-side-combined (group, value) aggregate,
    * per-group cumulative windows over the distinct-value domain, a
    * 9-row decile join. */
  def qqPlot(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select(col("event_type").as("grp"), col("value").as("v"))
    val w = Window.partitionBy("grp").orderBy("v")
    val ranked = ev.groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("n", sum("cnt").over(Window.partitionBy("grp")))
    val ks = { import s.implicits._; (1 to 9).toDF("decile") }
    val picked = ranked.join(broadcast(ks),
        col("prev") < expr("(decile * n + 9) div 10") &&
          expr("(decile * n + 9) div 10") <= col("cum"))
      .groupBy("decile")
      .agg(
        min(when(col("grp") === "click", col("v"))).as("q_click"),
        min(when(col("grp") === "view", col("v"))).as("q_view"))
    picked
      .select(col("decile"), col("q_click"), col("q_view"),
        (col("q_click") - col("q_view")).as("gap"))
      .orderBy("decile")
  }

  /** Two-proportion z-test on user conversion (fired ≥1 'purchase'
    * event) between the user_id-parity A/B arms — the missing leg of
    * the A/B pre-flight ([[abSrm]] validates the split, [[abTtest]]
    * compares metric MEANS; this compares conversion RATES, the readout
    * most experiments actually ship): z = (p₀−p₁)/√(p̂(1−p̂)(1/n₀+1/n₁)).
    *
    * Determinism: with c = c₀+c₁, n = n₀+n₁, the algebra collapses to
    * z = [(c₀n₁ − c₁n₀)/(n₀n₁)] / √(c(n−c)/(n·n₀·n₁)) — two single
    * divisions of exact DECIMAL(38,0) integers, one sqrt, one final
    * division: a fixed tree of correctly-rounded ops, 6-dp-quantized.
    * Degenerate conversion (c = 0 or c = n) pins z to NULL both sides.
    *
    * Scale shape: one per-user conversion aggregate (map-side
    * combined), one 1-row arm reduce. */
  def twoPropZ(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase").cast("long")).as("conv"))
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    val row = per.groupBy().agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"))
    val c = col("c0") + col("c1"); val n = col("n0") + col("n1")
    val num = (col("c0").cast(Dec0) * col("n1").cast(Dec0) -
      col("c1").cast(Dec0) * col("n0").cast(Dec0)).cast("double") /
      (col("n0").cast(Dec0) * col("n1").cast(Dec0)).cast("double")
    val varr = (c.cast(Dec0) * (n - c).cast(Dec0)).cast("double") /
      (n.cast(Dec0) * col("n0").cast(Dec0) * col("n1").cast(Dec0)).cast("double")
    row.select(col("n0"), col("c0"), col("n1"), col("c1"),
      q6(col("c0").cast("double") / col("n0").cast("double")).as("p0"),
      q6(col("c1").cast("double") / col("n1").cast("double")).as("p1"),
      when(c === lit(0L) || c === n, lit(null).cast("double"))
        .otherwise(q6(num / sqrt(varr))).as("z"))
  }

  /** Shewhart x̄ control chart over the daily event-value means — the
    * classic SPC readout the drift family converges to in production
    * ("is today's mean inside the ±3σ band of the process?"), with σ
    * estimated from the day-to-day spread of the daily means themselves
    * (the x̄-chart convention — between-day variation is the process
    * noise a monitor should tolerate).
    *
    * Determinism: daily means are ONE division of exact micro/count
    * integers each; the center line is one division of the exact
    * totals; deviations milli-quantize to exact BIGINTs (the
    * [[jarqueBera]] recipe, over the calendar-bounded daily frame) and
    * the out-of-control gate is the PURE INTEGER comparison
    * dq²·(m−1) > 9·Σdq² ⟺ |x̄_d − C| > 3σ̂ — no sqrt, no float
    * comparison anywhere on the decision path; display columns are
    * 6-dp-quantized single trees.
    *
    * Scale shape: one map-side-combined (day) aggregate; everything
    * after runs on the ≤|days| frame with 1-row broadcasts. */
  def spcXbar(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("tot"), count(lit(1)).as("n"))
    val center = daily.agg(
      q6(sum("tot").cast("double") / sum("n").cast("double")).as("c"),
      count(lit(1)).as("m"))
    val dq = floor((col("tot").cast("double") / col("n").cast("double") /
      lit(1000000.0) - col("c")) * 1000 + lit(0.5)).cast("long")
    val dev = graft.util.Ckpt.stage(daily.crossJoin(broadcast(center))
      .withColumn("dq", dq))
    val s2 = dev.agg(sum(col("dq").cast(Dec0) * col("dq").cast(Dec0)).as("s2"))
    dev.crossJoin(broadcast(s2))
      .filter(col("m") > 1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("c").as("center"),
        q6(col("tot").cast("double") / col("n").cast("double") /
          lit(1000000.0)).as("xbar"),
        col("dq").as("dev_milli"),
        (col("dq").cast(Dec0) * col("dq").cast(Dec0) *
          (col("m") - 1).cast(Dec0) > lit(9).cast(Dec0) * col("s2"))
          .cast("int").as("out_of_control"))
      .orderBy("day")
  }

  /** Tukey-fence (IQR) outlier gate per event type — the boxplot
    * companion to [[outlierMad]]: quartiles instead of the median/MAD
    * pair, fences at Q1 − 1.5·IQR and Q3 + 1.5·IQR. Two robust gates
    * catching different tail shapes (MAD collapses under >50%
    * contamination of one value; IQR under asymmetric 25% tails).
    *
    * Determinism — the [[outlierMad]] raw-double discipline: quartiles
    * are DISCRETE rank selections (percentile_disc semantics — the
    * value at rank ⌈n/4⌉ = (n+3) div 4 and ⌈3n/4⌉ = (3n+3) div 4 —
    * never interpolated), each rank-selected SUM has exactly one
    * non-null term, and the fences are fixed trees of elementary IEEE
    * ops on identical doubles, compared bit-for-bit. NULLs excluded
    * explicitly (engines order them differently in rank windows).
    *
    * Scale shape: rank selection over (type, distinct-value) aggregates
    * — bounded by the value domain, not the row count; the 5-row fence
    * frame broadcasts back; the events table is scanned twice, never
    * shuffled wide. */
  def iqrOutlier(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("v")
    val ranked = ev.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("r25", expr("(n + 3) div 4"))
      .withColumn("r75", expr("(3 * n + 3) div 4"))
    val q = ranked.groupBy("event_type")
      .agg(max("n").as("n"),
        sum(when(col("prev") < col("r25") && col("r25") <= col("cum"), col("v"))).as("q1"),
        sum(when(col("prev") < col("r75") && col("r75") <= col("cum"), col("v"))).as("q3"))
    val f = q.select(col("event_type").as("t"), col("n"), col("q1"), col("q3"),
      (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
      (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    ev.join(broadcast(f), col("event_type") === col("t"))
      .groupBy("event_type")
      .agg(first("n").as("n"),
        first("q1").as("q1"),
        first("q3").as("q3"),
        (first("q3") - first("q1")).as("iqr"),
        sum((col("v") < col("lo") || col("v") > col("hi")).cast("long")).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov-Smirnov distance between the `value`
    * distributions of click vs view events — the drift test a pipeline
    * runs between yesterday's and today's feature distributions. The
    * supremum is taken over INTEGER-scaled ECDF gaps
    * (|cum1·n2 − cum2·n1|, exact in BIGINT), so the argmax is
    * order-independent and engine-exact; the one division happens once at
    * the end.
    *
    * Scale shape: a naive ECDF needs one globally-ordered cumulative
    * window — a single-partition sort of every distinct value. Here the
    * prefix sums are two-phase instead: values are range-bucketed by a
    * broadcast (min, max), per-bucket totals (KsBuckets rows) turn into
    * bucket prefix OFFSETS with a driver-scale window, and the big
    * cumulative window runs PER BUCKET (`partitionBy(bkt)`), so the
    * largest sort partition is one bucket, not the whole value space —
    * the distributed prefix-sum decomposition cum(v) = offset(bucket(v))
    * + within-bucket cum(v) ([[graft.util.Prefix.sums]]). */
  def ksDrift(s: SparkSession, d: String): DataFrame =
    ksFromAgg(graft.util.Ckpt.stage(clickViewCounts(s, d)))

  /** Per-distinct-value click and view counts (value, c1, c2) over the
    * non-NULL click/view `value`s — the input of every two-sample drift
    * and rank query. NULLs are excluded because windows sort them first
    * in Spark and last in DuckDB (PARITY.md §5). */
  private def clickViewCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .groupBy("value")
      .agg(
        sum((col("event_type") === "click").cast("long")).as("c1"),
        sum((col("event_type") === "view").cast("long")).as("c2"))

  /** `ev` plus its equal-width value bucket `bkt` in 0..nb−1 over the
    * broadcast (min, max) extent of `value`. */
  private def valueBuckets(ev: DataFrame, nb: Int): DataFrame = {
    val ext = ev.agg(min("value").as("lo"), max("value").as("hi"))
    ev.crossJoin(broadcast(ext))
      .withColumn("bkt",
        equalWidthBucket(col("value"), col("lo"), col("hi"), nb))
      .drop("lo", "hi")
  }

  /** [[ksDrift]] body downstream of the per-value count frame `ev`
    * (pre-staged (value, c1, c2)) — shared with [[driftReport]], which
    * derives `ev` from its single staged scan of events. */
  private def ksFromAgg(ev: DataFrame): DataFrame = {
    // staged input: ev feeds extent + bucketing + totals, gaps feeds the
    // argmax join twice — without staging each consumer re-runs the subtree
    val bucketed = valueBuckets(ev, KsBuckets)
    val tot = bucketed.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val gaps = graft.util.Ckpt.stage(
      Prefix.sums(bucketed, Nil, "bkt", Seq("value"),
        "cum1" -> col("c1"), "cum2" -> col("c2"))
        .crossJoin(broadcast(tot))
        .withColumn("gap", abs(col("cum1") * col("n2") - col("cum2") * col("n1"))))
    val dmax = gaps.groupBy("n1", "n2").agg(max("gap").as("d_scaled"))
    gaps.join(broadcast(dmax), Seq("n1", "n2"))
      .filter(col("gap") === col("d_scaled"))
      .groupBy("n1", "n2", "d_scaled")
      .agg(min("value").as("at_value"))
      .select(col("n1"), col("n2"), col("d_scaled"), col("at_value"),
        Det.q6(col("d_scaled").cast("double") / (col("n1") * col("n2")).cast("double"))
          .as("ks"))
  }

  /** Range-bucket count for [[ksDrift]]'s two-phase prefix sums: sized so
    * per-bucket sort partitions stay small while the offset table stays
    * trivially broadcastable. */
  private[ops] val KsBuckets = 32

  /** Equal-width bucket of `v` over [lo, hi] into 0..nb−1: v = hi lands in
    * the last bucket, and a degenerate range (hi = lo) puts every row in
    * bucket 0. `least` skips NULL in both engines, so a NULL `v` lands in
    * bucket nb−1; every caller filters NULL values first. SQL mirror: `CASE WHEN hi = lo THEN 0 ELSE
    * CAST(least(nb − 1, floor((v − lo) * nb / (hi − lo))) AS INT) END`. */
  private[graft] def equalWidthBucket(v: Column, lo: Column, hi: Column, nb: Int): Column =
    when(hi === lo, lit(0)).otherwise(
      least(lit(nb - 1), floor((v - lo) * nb / (hi - lo)).cast("int")))

  /** Two-sample Mann-Whitney U (Wilcoxon rank-sum) test between the
    * click and view `value` distributions — the nonparametric companion
    * to [[ksDrift]]: KS alarms on any ECDF gap, rank-sum alarms
    * specifically on a LOCATION shift (one distribution stochastically
    * dominating the other), the drift mode a feature pipeline cares
    * about most.
    *
    * Integer-exact rank algebra: per distinct value the midrank of a
    * tied group of c rows after `prev` earlier rows is prev + (c+1)/2,
    * so DOUBLED rank sums stay in BIGINT — 2·R₁ = Σ c₁·(2·prev + c + 1)
    * — and 2·U₁ = 2·R₁ − n₁(n₁+1), 2·U₂ = 2·n₁n₂ − 2·U₁ are exact
    * integers (the identity U₁+U₂ = n₁n₂ is asserted in the spec). The
    * tie-correction term T = Σ(c³−c) cubes in DECIMAL(38,0) (a BIGINT
    * cube wraps silently once one value carries ≥ ~2.1M rows — the
    * [[chisqPerType]] promotion discipline) before the final BIGINT
    * narrowing. The normal-approximation z-score is then a fixed tree
    * of elementary IEEE ops on identical integers, mirrored
    * parenthesis-for-parenthesis in the oracle, rounded at 6 dp.
    * Overflow edge: 2·R₁ ≤ 2n² exceeds BIGINT near n ≈ 2·10⁹ pooled
    * rows — the same documented edge as q_ks_drift's gap products;
    * partition by slice before that point.
    *
    * Scale shape: [[ksFromAgg]]'s two-phase prefix discipline — one
    * map-side-combined groupBy(value), broadcast extent, per-bucket
    * cumulative windows (largest sort partition = one bucket), offsets
    * from a ≤[[KsBuckets]]-row table, then a single global aggregate.
    * NULLs excluded explicitly: Spark windows sort them first, DuckDB
    * last, so their presence would shift every rank cross-engine. */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val ev = graft.util.Ckpt.stage(clickViewCounts(s, d))
    val c = col("c1") + col("c2")
    val t = Prefix.sums(valueBuckets(ev, KsBuckets), Nil, "bkt", Seq("value"), "cum" -> c)
      .withColumn("prev", col("cum") - c)
      .agg(
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c1") * (lit(2) * col("prev") + c + lit(1))).as("r1_x2"),
        (sum(c.cast(Dec0) * c.cast(Dec0) * c.cast(Dec0)) - sum(c))
          .cast("long").as("tie_t"))
    val u1 = col("r1_x2") - col("n1") * (col("n1") + 1)
    val n = col("n1") + col("n2")
    val z = (u1 - col("n1") * col("n2")).cast("double") /
      (lit(2.0) * sqrt(col("n1").cast("double") * col("n2").cast("double") / lit(12.0) *
        ((n + 1).cast("double") - col("tie_t").cast("double") / (n * (n - 1)).cast("double"))))
    t.select(col("n1"), col("n2"),
      u1.as("u1_x2"),
      (lit(2) * col("n1") * col("n2") - u1).as("u2_x2"),
      col("tie_t"),
      Det.q6(z).as("z"))
  }

  /** Cliff's delta effect size between the click and view value
    * distributions — the number [[mannWhitney]]'s z deliberately is not:
    * z says "the shift is not chance" (and grows with n even for a
    * trivial shift); δ = P(X>Y) − P(X<Y) ∈ [−1, 1] says how BIG the
    * dominance is, sample-size-free — the gate a dashboard puts next to
    * every significant rank test before anyone acts on it. Reported
    * with the standard Romano magnitude bands (negligible < 0.147 ≤
    * small < 0.33 ≤ medium < 0.474 ≤ large).
    *
    * Determinism: δ = (2·U₁ − n₁n₂)/(n₁n₂) comes straight off
    * [[mannWhitney]]'s doubled-rank integers (ties count ½ in U₁ and
    * cancel in δ) — ONE division of exact BIGINTs, 6-dp-quantized; the
    * band CASE compares the quantized value against exact literals in
    * both engines. Scale shape: identical to [[mannWhitney]] — the
    * shared two-phase bucketed rank aggregate, one final row. */
  def cliffDelta(s: SparkSession, d: String): DataFrame = {
    val base = mannWhitney(s, d)
      .select(col("n1"), col("n2"),
        (col("u1_x2") - col("n1") * col("n2")).as("num"))
    val delta = q6(col("num").cast("double") /
      (col("n1") * col("n2")).cast("double"))
    base.filter(col("n1") > 0 && col("n2") > 0)
      .select(col("n1"), col("n2"),
        delta.as("delta"),
        when(abs(delta) < 0.147, lit("negligible"))
          .when(abs(delta) < 0.33, lit("small"))
          .when(abs(delta) < 0.474, lit("medium"))
          .otherwise(lit("large")).as("magnitude"))
  }

  /** r×c contingency-table association between document source and
    * language — chi-square independence plus Cramér's V, the corpus
    * audit that answers "is language mix independent of source?" before
    * a per-source sampling policy bakes a language skew into the
    * training mix. Generalizes [[chisqDrift]]'s 2-column homogeneity
    * test to the full grid: the spine is the CROSS of observed row and
    * column margins (a structurally-zero cell still contributes
    * e = r·c/n, which the (o·n − r·c)²/(n·r·c) identity yields at o=0).
    *
    * Determinism: the [[chisqPerType]] discipline — integer numerator,
    * DECIMAL(38,0)-promoted denominator product (HUGEINT in the
    * oracle), one correctly-rounded division per cell quantized at
    * 6 dp into DECIMAL before summing; V = sqrt(χ²/(n·(min(r,c)−1)))
    * is two elementary IEEE ops on the decimal-exact total.
    *
    * Scale shape: one map-side-combined groupBy over (source, lang) —
    * the only pass over the corpus — then margins, spine, and all
    * chi-square arithmetic on the ≤ r·c-row grid (20×5 here; bounded by
    * the label domains, not the row count). */
  def contingencyAssoc(s: SparkSession, d: String): DataFrame = {
    val cells = graft.util.Ckpt.stage(Tables.documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("o")))
    val rw = cells.groupBy("source").agg(sum("o").as("r"))
    val cl = cells.groupBy("lang").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("source").as("nr"), countDistinct("lang").as("nc"))
    val grid = rw.crossJoin(broadcast(cl))
      .join(cells, Seq("source", "lang"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
    val num = (col("o") * col("n") - col("r") * col("c")).cast(Dec0)
    val den = col("n").cast(Dec0) * col("r").cast(Dec0) * col("c").cast(Dec0)
    val per = grid.withColumn("contrib",
      Det.q6((num * num).cast("double") / den.cast("double"))
        .cast(DecimalType(18, 6)))
    per.groupBy("n", "nr", "nc")
      .agg(sum("contrib").as("chi2_d"))
      .select(col("n"),
        col("nr").as("r"), col("nc").as("c"),
        ((col("nr") - 1) * (col("nc") - 1)).as("df"),
        col("chi2_d").cast("double").as("chi2"),
        Det.q6(sqrt(col("chi2_d").cast("double") /
          (col("n") * (least(col("nr"), col("nc")) - 1)).cast("double")))
          .as("cramers_v"))
  }

  /** Winsorized mean per document source: clamp `n_chars` into the exact
    * [P05, P95] band, report the mean before/after — the robust location
    * estimate quality dashboards track per corpus slice. Percentile
    * bounds are rounded to 4 dp before clamping (cross-engine
    * determinism); means are decimal-exact sums. One aggregate for the
    * bounds (broadcast back) + one for the means. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
    val bounds = docs.groupBy(col("source").as("src"))
      .agg(
        Det.q4(expr("percentile(n_chars, 0.05)")).as("p05"),
        Det.q4(expr("percentile(n_chars, 0.95)")).as("p95"))
    docs.join(broadcast(bounds), col("source") === col("src"))
      .withColumn("w",
        greatest(col("p05"), least(col("p95"), col("n_chars").cast("double"))))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        first("p05").as("p05"),
        first("p95").as("p95"),
        Det.q4(davg(col("n_chars"))).as("mean_raw"),
        Det.q4(davg(col("w"))).as("mean_wins"))
      .orderBy("source")
  }

  /** Two-sample chi-square homogeneity test of the event-type mix between
    * the early (day-of-month ≤ 15) and late halves of the event stream —
    * the categorical companion to [[ksDrift]]'s continuous two-sample
    * test: KS watches a numeric distribution drift, this watches a label
    * distribution drift (event mix, language mix, source mix — the
    * monitors every ingest pipeline runs between snapshots).
    *
    * Determinism: with e = r·c/N, each cell's (o−e)²/e equals
    * (o·N − r·c)² / (N·r·c) — an all-integer numerator and denominator.
    * The square AND the denominator product are exact in DECIMAL(38,0)
    * (HUGEINT in the oracle) — n³ would silently wrap a BIGINT product
    * past ~2.1M events, so the factors promote before multiplying. The
    * single division is one correctly-rounded IEEE op on integer-valued
    * operands (identical in both engines), and per-cell contributions are
    * 6-dp-quantized into DECIMAL before the total sums — no accumulated
    * float error anywhere.
    *
    * Scale shape: one map-side-combined groupBy over event_type (k ≤ 5
    * rows out regardless of input scale), a 1-row total broadcast back,
    * and all chi-square arithmetic on the k-row frame. The fact table is
    * scanned once and never shuffled wide. */
  def chisqDrift(s: SparkSession, d: String): DataFrame = {
    val perType = chisqPerType(graft.util.Ckpt.stage(
      Tables.events(s, d)
        .select(col("event_type"),
          (dayofmonth(col("ts")) <= 15).cast("long").as("early"))
        .groupBy("event_type")
        .agg(sum(col("early")).as("o1"),
          sum(lit(1L) - col("early")).as("o2"))))
    val chi2 = perType.agg(
      sum("contrib").as("chi2_d"), first("k").as("kk"))
    perType.crossJoin(broadcast(chi2))
      .select(col("event_type"),
        col("o1").as("n_early"), col("o2").as("n_late"),
        col("contrib").cast("double").as("contrib"),
        col("chi2_d").cast("double").as("chi2"),
        (col("kk") - 1).as("df"))
      .orderBy("event_type")
  }

  /** [[chisqDrift]]'s per-cell arithmetic over a pre-staged contingency
    * frame `cells` = (event_type, o1, o2) — shared with [[driftReport]]
    * and the streaming twin
    * ([[graft.streaming.Streams.chisqVsBaseline]]), so batch and
    * micro-batch monitors compute the statistic identically by
    * construction. Returns one row per event_type with (o1, o2, k,
    * contrib). */
  private[graft] def chisqPerType(cells: DataFrame): DataFrame = {
    val tot = cells.agg(
      sum("o1").as("c1"), sum("o2").as("c2"),
      sum(col("o1") + col("o2")).as("n"),
      count(lit(1)).as("k"))
    def contrib(o: Column, c: Column, n: Column, r: Column) = {
      val num = (o * n - r * c).cast(Dec0)
      // denominator factors promoted to DECIMAL(38,0) BEFORE multiplying
      // (ADVICE r6): a LongType product n·r·c wraps silently past ~2.1M
      // events (n³ > Long.MaxValue) while the oracle's HUGEINT product
      // stays exact — the decimal product keeps both engines exact and
      // loud at any input scale
      val den = n.cast(Dec0) * r.cast(Dec0) * c.cast(Dec0)
      Det.q6((num * num).cast("double") / den.cast("double"))
        .cast(DecimalType(18, 6))
    }
    cells.crossJoin(broadcast(tot))
      .withColumn("r", col("o1") + col("o2"))
      .withColumn("contrib",
        contrib(col("o1"), col("c1"), col("n"), col("r")) +
          contrib(col("o2"), col("c2"), col("n"), col("r")))
  }

  /** Population Stability Index of `value` between the same early/late
    * halves as [[chisqDrift]], over [[PsiBins]] equal-width bins of the
    * pooled extent — the score-drift monitor model-serving pipelines alarm
    * on (PSI < 0.1 stable, > 0.25 action). Counts are Laplace-smoothed
    * (+1 per bin) over the FULL 0..PsiBins−1 spine (ADVICE r6): a bin
    * empty in both halves still contributes its smoothed term whenever
    * n1' ≠ n2', exactly as the published fixed-bin smoothed PSI
    * prescribes — the spine is generated, not observed, so both engines
    * smooth the identical bin set by construction.
    *
    * Determinism: with smoothed counts o'ᵢ and totals n', each bin's
    * (p−q)·ln(p/q) factors as diff · L / (n1'·n2') where
    * diff = o1'·n2' − o2'·n1' (exact integer) and
    * L = ln((o1'·n2')/(o2'·n1')) is the log of one integer ratio —
    * 6-dp-quantized into DECIMAL, multiplied exactly, one final division.
    *
    * Scale shape: the [[ksDrift]] two-phase discipline — extent as a 1-row
    * broadcast, binning inside the first map-side-combined aggregate
    * (PsiBins rows out), all PSI arithmetic on the bin-count frame. NULL
    * values are excluded, as in every bucketed monitor. */
  def psiDrift(s: SparkSession, d: String): DataFrame =
    psiPerBin(s, graft.util.Ckpt.stage(
      Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("value"),
          (dayofmonth(col("ts")) <= 15).cast("long").as("early"))))
      .select(col("bkt"), (col("o1") - 1).as("n_early"), (col("o2") - 1).as("n_late"),
        col("contrib").cast("double").as("contrib"),
        col("psi_d").cast("double").as("psi"))
      .orderBy("bkt")

  /** [[psiDrift]] body over a pre-staged (value, early) frame `ev`. */
  private def psiPerBin(s: SparkSession, ev: DataFrame): DataFrame =
    psiPerBinW(s, ev.withColumn("c", lit(1L)))

  /** [[psiPerBin]] over PRE-COUNTED (value, early, c) rows — shared with
    * [[driftReport]], whose single staged grid carries counts instead of
    * raw rows (r14). With c ≡ 1 the weighted sums reduce to the original
    * row sums exactly (integer algebra). Returns one row per spine bin
    * with (bkt, o1, o2, contrib, psi_d). */
  private def psiPerBinW(s: SparkSession, ev: DataFrame): DataFrame = {
    val nb = PsiBins
    val counts = valueBuckets(ev, nb)
      .groupBy("bkt")
      .agg(sum(col("early") * col("c")).as("r1"),
        sum((lit(1L) - col("early")) * col("c")).as("r2"))
    // Laplace smoothing over the GENERATED 0..nb−1 spine: bins empty in
    // both halves still smooth to (1,1) and contribute whenever the
    // smoothed totals differ — the published fixed-bin metric. The spine
    // is a nb-row local range; the join is a broadcast hash join.
    val spine = s.range(0, nb).select(col("id").cast("int").as("bkt"))
    val binned = graft.util.Ckpt.stage(spine.join(counts, Seq("bkt"), "left")
      .select(col("bkt"),
        (coalesce(col("r1"), lit(0L)) + 1).as("o1"),
        (coalesce(col("r2"), lit(0L)) + 1).as("o2")))
    psiFromSmoothed(binned)
  }

  /** PSI arithmetic over an already-smoothed bin frame (bkt, o1, o2) —
    * the piece [[psiPerBin]] and the streaming twin
    * ([[graft.streaming.Streams.psiVsBaseline]]) share, so batch and
    * micro-batch monitors compute the metric identically by construction.
    * Returns one row per bin with (bkt, o1, o2, contrib, psi_d). */
  private[graft] def psiFromSmoothed(binned: DataFrame): DataFrame = {
    val tot = binned.agg(sum("o1").as("n1"), sum("o2").as("n2"))
    val perBin = binned.crossJoin(broadcast(tot))
      .withColumn("diff", col("o1") * col("n2") - col("o2") * col("n1"))
      .withColumn("lq",
        Det.q6(log((col("o1") * col("n2")).cast("double") /
          (col("o2") * col("n1")).cast("double"))).cast(DecimalType(18, 6)))
      .withColumn("contrib",
        Det.q6((col("diff").cast(DecimalType(38, 6)) * col("lq")).cast("double") /
          (col("n1") * col("n2")).cast("double")).cast(DecimalType(18, 6)))
    val psi = perBin.agg(sum("contrib").as("psi_d"))
    perBin.crossJoin(broadcast(psi))
  }

  /** Bin count for [[psiDrift]] — ten bins is the industry-standard PSI
    * decile convention; equal-width over the pooled extent keeps the bin
    * edges engine-exact (quantile edges would reopen the interpolation
    * knife-edge q_outlier_mad closed). */
  private[graft] val PsiBins = 10

  /** Composed drift report: the three monitors ([[ksDrift]] continuous,
    * [[chisqDrift]] categorical, [[psiDrift]] binned-score) reduced to one
    * row each — (monitor, n_a, n_b, stat) — off a SINGLE staged scan of
    * events, the way a scheduled snapshot-vs-snapshot check actually runs
    * (one pass over the day's partition, one alarm row per monitor;
    * mirrors q_dq_report's one-pass/many-checks design).
    *
    * Sharing shape: the staged base (event_type, value, early) feeds all
    * three derivations; each monitor's arithmetic is the SAME private
    * helper its standalone query uses ([[chisqPerType]], [[psiPerBin]],
    * [[ksFromAgg]]), so the composed stats are cell-identical to the
    * standalone queries' by construction, and the events table is read
    * once instead of three times. Every reduction below the base is over
    * constant-bounded frames (≤5 types, 10 bins, 32 buckets), so the
    * report's incremental cost over one events scan is trivial at any
    * input scale. */
  def driftReport(s: SparkSession, d: String): DataFrame = {
    // ONE events scan → ONE staged, value-domain-bounded count grid
    // (event_type × value × early), from which every monitor's
    // contingency frame derives by tiny weighted re-aggregation (r14,
    // guide §2.4: the previous shape staged the row-level base and
    // re-scanned it once per monitor — 4 staging jobs and 3 extra
    // events-sized scans for the same exact-integer counts)
    val grid = graft.util.Ckpt.stage(
      Tables.events(s, d).select(
        col("event_type"), col("value"),
        (dayofmonth(col("ts")) <= 15).cast("long").as("early"))
        .groupBy("event_type", "value", "early").agg(count(lit(1)).as("c")))
    val chi = chisqPerType(
      grid.groupBy("event_type")
        .agg(sum(when(col("early") === 1, col("c")).otherwise(0L)).as("o1"),
          sum(when(col("early") === 0, col("c")).otherwise(0L)).as("o2")))
      .agg(sum("o1").as("n_a"), sum("o2").as("n_b"),
        sum("contrib").cast("double").as("stat"))
      .select(lit("chisq").as("monitor"), col("n_a"), col("n_b"), col("stat"))
    val ks = ksFromAgg(
      grid.filter(col("event_type").isin("click", "view") && col("value").isNotNull)
        .groupBy("value")
        .agg(sum(when(col("event_type") === "click", col("c")).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "view", col("c")).otherwise(0L)).as("c2")))
      .select(lit("ks").as("monitor"),
        col("n1").as("n_a"), col("n2").as("n_b"), col("ks").as("stat"))
    // NULL values weigh 0 instead of being filtered: a filter on `value` is
    // pushed below the grid aggregate and splits the exchange the psi leg
    // shares with the chisq leg in unstaged plans
    val psi = psiPerBinW(s, grid.select(col("value"), col("early"),
        when(col("value").isNotNull, col("c")).otherwise(0L).as("c")))
      .agg(sum(col("o1") - 1).as("n_a"), sum(col("o2") - 1).as("n_b"),
        min("psi_d").cast("double").as("stat"))
      .select(lit("psi").as("monitor"), col("n_a"), col("n_b"), col("stat"))
    chi.unionByName(ks).unionByName(psi).orderBy("monitor")
  }

  /** Embedding-space drift monitor — per-label centroid shift between
    * the even-id reference half and the odd-id current half of the
    * corpus. Completes the drift family along the remaining axis:
    * [[ksDrift]]/[[psiDrift]] watch a scalar, [[chisqDrift]] the
    * categorical mix, this the EMBEDDING column (the signal that moves
    * when an upstream encoder is retrained or a data source shifts
    * semantically — invisible to every scalar monitor).
    *
    * Integer-exact by construction: each coordinate is floor-quantized
    * to BIGINT micro-units (floor(x·10⁶+0.5) — exact parquet floats in,
    * elementary correctly-rounded IEEE ops, engine-free), the per-dim
    * mean difference m_cur−m_ref = (s1·n0 − s0·n1)/(n0·n1) keeps its
    * numerator in exact BIGINT (per-(label,half) counts are
    * dim-independent, so the denominator factors out of the per-label
    * max/sum), and the only doubles are two final correctly-rounded
    * divisions per output cell. Overflow edge: s·n exceeds Long around
    * ~1.5M vectors per (label, half) at |x|≈4 (DuckDB's HUGEINT keeps
    * going; Spark would wrap) — document-scale fixtures are 3 orders of
    * magnitude below; shard labels before that point.
    *
    * Scale shape: one (label, dim) aggregate over posexploded
    * coordinates (map-side combinable, 64·|labels| result rows), then a
    * |labels|-row rollup — the corpus streams through once, nothing
    * else is exchanged. */
  def embedDrift(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).cast("int").as("half"),
        posexplode(col("embedding")))
      .select(col("label"), col("half"), col("pos").as("dim"),
        micro(col("col").cast("double")).as("xq"))
    shiftRollup(ex.groupBy("label", "dim").agg(
      coalesce(sum(when(col("half") === 0, col("xq"))), lit(0L)).as("s0"),
      count(when(col("half") === 0, lit(1))).as("n0"),
      coalesce(sum(when(col("half") === 1, col("xq"))), lit(0L)).as("s1"),
      count(when(col("half") === 1, lit(1))).as("n1")))
  }

  /** Per-(label, dim) micro-unit coordinate sums of a (label, embedding)
    * frame — the mergeable sufficient statistic the drift arithmetic runs
    * on, exposed so the streaming monitor builds its broadcast baseline
    * and scores micro-batches with the SAME code (the
    * valueHistogram/psiVsBaseline pattern). */
  private[graft] def dimSums(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        micro(col("col").cast("double")).as("xq"))
      .groupBy("label", "dim")
      .agg(sum("xq").as("s"), count(lit(1)).as("n"))

  /** Centroid-shift rollup over a per-(label, dim) (s0, n0, s1, n1)
    * frame — [[embedDrift]]'s arithmetic after the sufficient statistic,
    * shared verbatim with [[graft.streaming.Streams.embedShiftVsBaseline]]:
    * integer numerators |s1·n0 − s0·n1|, per-label max/sum, two final
    * correctly-rounded double divisions. */
  private[graft] def shiftRollup(bd: DataFrame): DataFrame = {
    val denom = when(col("n_ref") * col("n_cur") === 0, lit(null))
      .otherwise(col("n_ref") * col("n_cur"))
    bd.withColumn("num", abs(col("s1") * col("n0") - col("s0") * col("n1")))
      .groupBy("label").agg(
        max("n0").as("n_ref"), max("n1").as("n_cur"),
        max("num").as("max_num"), sum("num").as("sum_num"))
      .select(col("label"), col("n_ref"), col("n_cur"),
        (col("max_num").cast("double") / denom / lit(1000000.0)).as("max_shift"),
        (col("sum_num").cast("double") / denom / lit(1000000.0)).as("l1_shift"))
      .orderBy("label")
  }

  /** Welch two-sample t-test between the click and view `value`
    * distributions — the parametric member of the two-sample drift
    * family ([[ksDrift]] any-gap, [[mannWhitney]] location-rank, this
    * mean-difference with unequal variances): the A/B-test primitive
    * every experimentation pipeline runs, with the Welch-Satterthwaite
    * degrees of freedom.
    *
    * Determinism: the five sufficient statistics (two counts, two
    * decimal-exact sums, two decimal-exact square sums — the
    * [[corrRegr]] power-sum discipline) are order-independent and
    * engine-exact; everything after is one fixed tree of elementary
    * IEEE ops on those identical numbers, mirrored
    * parenthesis-for-parenthesis in the oracle, 6-dp rounded.
    *
    * Scale shape: ONE map-side-combined global aggregate over the
    * filtered stream — a 1-row result, no joins, no windows. */
  def abTtest(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(30, 8))
    val base = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .agg(
        sum((col("event_type") === "click").cast("long")).as("n1"),
        sum((col("event_type") === "view").cast("long")).as("n2"),
        sum(when(col("event_type") === "click", dec(col("value")))).cast("double").as("s1"),
        sum(when(col("event_type") === "view", dec(col("value")))).cast("double").as("s2"),
        sum(when(col("event_type") === "click", dec(col("value") * col("value")))).cast("double").as("q1"),
        sum(when(col("event_type") === "view", dec(col("value") * col("value")))).cast("double").as("q2"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val m1 = col("s1") / n1d
    val m2 = col("s2") / n2d
    val v1 = (col("q1") - col("s1") * col("s1") / n1d) / (n1d - lit(1.0))
    val v2 = (col("q2") - col("s2") * col("s2") / n2d) / (n2d - lit(1.0))
    val se1 = v1 / n1d
    val se2 = v2 / n2d
    val se = se1 + se2
    base.select(col("n1"), col("n2"),
      Det.q6(m1 - m2).as("mean_diff"),
      Det.q6((m1 - m2) / sqrt(se)).as("t"),
      Det.q6(se * se / (se1 * se1 / (n1d - lit(1.0)) + se2 * se2 / (n2d - lit(1.0))))
        .as("df"))
  }

  /** Equivalence margin for [[tost]] in value units — the click/view
    * means differ by ~tens on the fixture, so ±5 exercises both
    * rejection and non-rejection across fixture scales. */
  private val TostMargin = 5.0

  /** TOST equivalence test (two one-sided tests) between the click and
    * view value means — the INVERSE question of [[abTtest]]: a
    * non-significant t does NOT show equivalence; TOST does, by
    * rejecting BOTH "diff ≤ −δ" and "diff ≥ +δ" — the schuirmann
    * procedure every "the new data mix changes nothing" claim actually
    * needs. t_lower = (d̄+δ)/se, t_upper = (δ−d̄)/se; equivalent ⟺ both
    * clear the one-sided 5% normal critical value 1.645 (df is in the
    * thousands here, where t ≈ z — the constant is pinned, not computed).
    *
    * Determinism: the [[abTtest]] sufficient statistics (exact DECIMAL
    * sums cast once), the same Welch se tree, both t's one fixed tree
    * each, 6-dp-rounded; the flag compares the UNROUNDED doubles — the
    * identical tree in both engines.
    *
    * Scale shape: ONE map-side-combined aggregate to a single row. */
  def tost(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(30, 8))
    val base = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .agg(
        sum((col("event_type") === "click").cast("long")).as("n1"),
        sum((col("event_type") === "view").cast("long")).as("n2"),
        sum(when(col("event_type") === "click", dec(col("value")))).cast("double").as("s1"),
        sum(when(col("event_type") === "view", dec(col("value")))).cast("double").as("s2"),
        sum(when(col("event_type") === "click", dec(col("value") * col("value")))).cast("double").as("q1"),
        sum(when(col("event_type") === "view", dec(col("value") * col("value")))).cast("double").as("q2"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val m1 = col("s1") / n1d
    val m2 = col("s2") / n2d
    val se1 = ((col("q1") - col("s1") * col("s1") / n1d) / (n1d - lit(1.0))) / n1d
    val se2 = ((col("q2") - col("s2") * col("s2") / n2d) / (n2d - lit(1.0))) / n2d
    val se = sqrt(se1 + se2)
    val tLo = (m1 - m2 + lit(TostMargin)) / se
    val tHi = (lit(TostMargin) - (m1 - m2)) / se
    base.select(col("n1"), col("n2"),
      Det.q6(m1 - m2).as("mean_diff"),
      Det.q6(se).as("se"),
      Det.q6(tLo).as("t_lower"),
      Det.q6(tHi).as("t_upper"),
      (tLo > lit(1.645) && tHi > lit(1.645)).cast("int").as("equivalent"))
  }

  /** Benford first-significant-digit audit of `l_extendedprice` — the
    * fraud/synthetic-data forensic: organically-generated magnitudes
    * follow log₁₀(1+1/d); fabricated or truncated feeds don't. Reports
    * per-digit observed frequency beside the Benford expectation and
    * the deviation.
    *
    * Determinism: the leading digit is extracted from the STRING form of
    * exact integer cents (`round(price·100)` — the engine's established
    * exact quantization), never via log10 of a double (a libm call whose
    * rounding is not pinned by IEEE and genuinely differs across math
    * libraries). The only logs are `ln(1+1/d)/ln(10)` on the nine digit
    * constants, inside the engine's verified 6-dp quantization envelope
    * with the identical expression tree in the oracle.
    *
    * Scale shape: one map-side-combined 9-row aggregate; the 1-row total
    * broadcasts back. The fact table streams through once. */
  def benford(s: SparkSession, d: String): DataFrame = {
    val counts = graft.util.Ckpt.stage(Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n")))
    val tot = counts.agg(sum("n").as("tt"))
    counts.crossJoin(broadcast(tot))
      .withColumn("obs_p", Det.q6(col("n").cast("double") / col("tt").cast("double")))
      .withColumn("benford_p",
        Det.q6(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0))))
      .select(col("digit"), col("n"), col("obs_p"), col("benford_p"),
        Det.q6(col("obs_p") - col("benford_p")).as("dev"))
      .orderBy("digit")
  }

  /** CUSUM change-point detection on the daily event-value series — the
    * "WHEN did it drift" answer beside the family's "did it drift"
    * monitors ([[ksDrift]]/[[psiDrift]] compare two halves; this locates
    * the break): the day t maximizing |S_t|, S_t = Σ_{i≤t}(x_i − x̄),
    * the classic cumulative-sum change statistic.
    *
    * Integer-exact: daily totals are BIGINT micro-units ([[micro]]),
    * and the curve is computed SCALED — S'_t = nd·cum_t − t·T (both
    * terms exact BIGINT; x̄ never materializes) — so argmax and
    * tie-break (earliest day) are pure integer decisions; the one
    * double, s_max = |S'|/(nd·10⁶), divides at the very end. Overflow
    * edge: nd·cum stays under BIGINT until ~10¹² value-units·days —
    * far beyond any daily partition; shard by month first otherwise.
    *
    * Scale shape: one map-side-combined groupBy(day) (calendar-bounded
    * output), then all cumulative work on the ≤|days| frame — the
    * unpartitioned prefix window runs over days-of-history, never rows.
    * The 1-row total broadcasts. */
  def cusumDrift(s: SparkSession, d: String): DataFrame = {
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("x")))
    val tot = daily.agg(sum("x").as("tt"), count(lit(1)).as("nd"))
    val wd = Window.orderBy("day")
    val curve = graft.util.Ckpt.stage(daily.crossJoin(broadcast(tot))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("cum",
        sum("x").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s", col("nd") * col("cum") - col("t") * col("tt")))
    val mx = curve.agg(max(abs(col("s"))).as("s_abs"))
    curve.crossJoin(broadcast(mx))
      .filter(abs(col("s")) === col("s_abs"))
      .groupBy("nd", "s_abs")
      .agg(min(struct(col("day"), col("s"))).as("m"))
      .select(
        col("nd").as("n_days"),
        date_format(col("m.day"), "yyyy-MM-dd").as("cp_day"),
        col("m.s").as("s_scaled"),
        Det.q6(abs(col("m.s")).cast("double") /
          (col("nd").cast("double") * lit(1000000.0))).as("s_max"))
  }

  /** Lag-1 autocorrelation of the daily value series per event type —
    * the seasonality/momentum diagnostic a forecasting pipeline reads
    * before choosing model order (r₁ ≈ 0: noise; high |r₁|: trend or
    * alternation worth modeling). Calendar gaps are treated as
    * consecutive observations (the series is the observed days).
    *
    * Integer-exact centering: with daily micro-unit totals x_t, count
    * nd, and total T per type, the scaled deviation y_t = nd·x_t − T is
    * an exact integer (x̄ never materializes as a double); numerator
    * Σ y_t·y_{t+1} and denominator Σ y_t² multiply in DECIMAL(38,0)
    * (y² reaches ~10²⁵ at production day-volumes — BIGINT wraps, the
    * [[chisqPerType]] promotion rule), and r₁ is ONE correctly-rounded
    * division of the two exact sums, 6-dp rounded.
    *
    * Scale shape: one map-side-combined (type, day) aggregate, per-type
    * totals broadcast back, the lag window partitioned by type over
    * calendar-bounded day rows. The events table streams through once. */
  def autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("x")))
    val tt = daily.groupBy(col("event_type").as("t"))
      .agg(sum("x").as("tot"), count(lit(1)).as("nd"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.join(broadcast(tt), col("event_type") === col("t"))
      .withColumn("y",
        col("nd").cast(Dec0) * col("x").cast(Dec0) - col("tot").cast(Dec0))
      .withColumn("ynext", lead("y", 1).over(w))
      .groupBy("event_type")
      .agg(first("nd").as("n_days"),
        sum(col("y") * col("y")).as("den"),
        sum(when(col("ynext").isNotNull, col("y") * col("ynext"))).as("num"))
      .select(col("event_type"), col("n_days"),
        Det.q6(col("num").cast("double") / col("den").cast("double")).as("r1"))
      .orderBy("event_type")
  }

  /** 6-dp-quantized log2 of an integer-count column in DECIMAL — the
    * [[graft.ops.TextAnalysis]] `qln` discipline in bits: log2 over the
    * integer count domain is bit-identical at 6 dp across Spark and
    * DuckDB (verified there for counts ≤ 2M), and DECIMAL sums of the
    * quantized logs are order-independent and exact. */
  private def qlog2(c: Column): Column =
    Det.q6(log(2.0, c.cast("double"))).cast(DecimalType(18, 6))

  /** Mutual information between `lang` and `source` on documents — the
    * dependence audit behind stratification decisions: MI ≈ 0 means the
    * two label dimensions can be sampled independently; high NMI means a
    * per-source quota silently skews the language mix (and vice versa).
    * Complements [[contingencyAssoc]] (chi-square asks "is there ANY
    * association"; MI measures HOW MUCH, in bits).
    *
    * Identity used: n·MI_bits = Σc·log2 c − Σr·log2 r − Σs·log2 s
    * + n·log2 n over cell/row-margin/col-margin counts — every log is
    * [[qlog2]] of an INTEGER count (never of a ratio), every sum is
    * DECIMAL-exact, so T, Tr = n·H(lang), Ts = n·H(source) are exact to
    * 1e-6 and identical cross-engine; MI = T/n, NMI = T/min(Tr,Ts) are
    * each ONE IEEE division of identical operands, floor-quantized.
    *
    * Scale shape: one map-side-combined (lang, source) cell aggregate
    * (cells ≤ |lang|·|source|, a constant grid); margins and the total
    * reduce from the CELL frame, never rescanning documents; everything
    * downstream is a broadcast of ≤ grid-size frames. */
  def mutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = graft.util.Ckpt.stage(Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("c")))
    val sc = cells.agg(sum(col("c") * qlog2(col("c"))).as("scc"),
      sum("c").as("n"))
    val sr = cells.groupBy("lang").agg(sum("c").as("r"))
      .agg(sum(col("r") * qlog2(col("r"))).as("srr"), count(lit(1)).as("n_lang"))
    val ss = cells.groupBy("source").agg(sum("c").as("m"))
      .agg(sum(col("m") * qlog2(col("m"))).as("sss"), count(lit(1)).as("n_source"))
    sc.crossJoin(broadcast(sr)).crossJoin(broadcast(ss))
      .withColumn("nl", col("n") * qlog2(col("n")))
      .withColumn("t",  col("scc") - col("srr") - col("sss") + col("nl"))
      .withColumn("tr", col("nl") - col("srr"))
      .withColumn("ts", col("nl") - col("sss"))
      .select(col("n").as("n_docs"), col("n_lang"), col("n_source"),
        q6(col("t").cast("double") / col("n").cast("double")).as("mi_bits"),
        q6(col("tr").cast("double") / col("n").cast("double")).as("h_lang"),
        q6(col("ts").cast("double") / col("n").cast("double")).as("h_source"),
        q6(col("t").cast("double") / least(col("tr"), col("ts")).cast("double")).as("nmi"))
  }

  /** Spearman rank correlation of extendedprice ~ quantity per return
    * flag — the robust companion to [[corrRegr]]'s Pearson r: invariant
    * to monotone transforms and insensitive to the price outliers that
    * drag product-moment correlation. Ties get midranks (the standard
    * tie-corrected Spearman = Pearson over midranks).
    *
    * Determinism — all-integer rank algebra until three final IEEE ops:
    * DOUBLED midranks (2r = 2·prev + c + 1 per distinct value, the
    * [[mannWhitney]] identity) keep every rank an exact BIGINT; the five
    * power sums over doubled ranks accumulate in DECIMAL(38,0) (exact —
    * Σ(2r)² ≤ 4n³); scaling by 2 cancels in the correlation. Then
    * ρ = (n·Sxy − Sx·Sy)/(√vx·√vy): the variance terms are DECIMAL-exact
    * integers, cast double (correctly rounded), sqrt is an IEEE
    * CORRECTLY-ROUNDED basic op in both engines (unlike exp/ln), and the
    * final multiply+divide are single ops on identical doubles —
    * floor-quantized at 6 dp.
    *
    * Scale shape: two distinct-value rank frames (quantity: 50 values;
    * price: value-domain-bounded), the price-side rank join is a keyed
    * shuffle join (NOT broadcast — the price domain grows with data), one
    * map-side-combined power-sum aggregate per flag. Overflow edge:
    * DECIMAL(38,0) holds Σ(2r)³-scale sums to n ≈ 10¹¹ rows per flag. */
  def spearman(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
    def ranks(v: String): DataFrame = {
      val w = Window.partitionBy("flag").orderBy(v)
      li.groupBy(col("flag"), col(v)).agg(count(lit(1)).as("c"))
        .withColumn("prev", sum("c").over(w) - col("c"))
        .withColumn(s"r$v", lit(2) * col("prev") + col("c") + lit(1))
        .select(col("flag"), col(v), col(s"r$v"))
    }
    val joined = li.join(ranks("x"), Seq("flag", "x"))
      .join(ranks("y"), Seq("flag", "y"))
    joined.groupBy("flag")
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(Dec0)).as("sx"),
        sum(col("ry").cast(Dec0)).as("sy"),
        sum(col("rx").cast(Dec0) * col("rx").cast(Dec0)).as("sxx"),
        sum(col("ry").cast(Dec0) * col("ry").cast(Dec0)).as("syy"),
        sum(col("rx").cast(Dec0) * col("ry").cast(Dec0)).as("sxy"))
      .select(col("flag").as("l_returnflag"), col("n"),
        q6((col("n").cast(Dec0) * col("sxy") - col("sx") * col("sy")).cast("double") /
           (sqrt((col("n").cast(Dec0) * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n").cast(Dec0) * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("rho"))
      .orderBy("l_returnflag")
  }

  /** Sample-ratio-mismatch (SRM) check for a 50/50 experiment split:
    * users assigned by `user_id % 2`, observed arm sizes tested against
    * the expected half-half with the 1-df chi-square — the first gate
    * every A/B readout must pass (an SRM invalidates the experiment
    * before any metric is read). For two cells with expected n/2 the
    * statistic collapses algebraically to (n₀−n₁)²/n.
    *
    * Determinism: arm counts are exact BIGINTs over DISTINCT users; the
    * squared difference is BIGINT-exact (safe to ~3·10⁹ users); the
    * statistic is ONE IEEE division floor-quantized; the 5% flag
    * compares the already-quantized value against the χ²₁ critical
    * literal 3.841459 — identical doubles in both engines.
    *
    * Scale shape: one distinct-user aggregate, one 2-row reduce. */
  def abSrm(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d).select("user_id").distinct()
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    u.groupBy().agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      .withColumn("chi2",
        q6(((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double") /
          (col("n0") + col("n1")).cast("double")))
      .select(col("n0"), col("n1"), col("chi2"),
        (col("chi2") > lit(3.841459)).as("srm"))
  }

  /** CUPED variance reduction for the user-value metric: each user's
    * first-half-of-window value sum is the pre-period covariate X, the
    * second half is the metric Y, θ = cov(X,Y)/var(X) is fit pooled,
    * and each arm (user_id % 2) reports its raw and CUPED-adjusted mean
    * Ŷ = Ȳ − θ·(X̄ − X̄_grand) — the standard experimentation trick that
    * removes pre-existing user-level variance from the readout
    * (Deng et al.). Paired with [[abSrm]] this completes the A/B
    * pre-flight: SRM validates the split, CUPED sharpens the metric.
    *
    * Determinism: X and Y are DECIMAL(24,6) sums quantized to exact
    * micro-unit BIGINTs (scale-6-exact per the castscan sweep); all
    * power sums accumulate in DECIMAL(38,0) (the [[spearman]]
    * discipline); θ and the per-arm means are fixed trees of single
    * IEEE ops on identical operands, mirrored parenthesis-for-
    * parenthesis in the oracle, floor-quantized on output. The period
    * split is an integer µs midpoint — no calendar literals that a
    * fixture regeneration could invalidate.
    *
    * Scale shape: one per-user aggregate (map-side combined), one
    * 1-row pooled-θ reduce broadcast back, one 2-row arm rollup. */
  def cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tsl"),
        col("value").cast(DecimalType(24, 6)).as("v"))
    val ext = ev.agg(min("tsl").as("lo"), max("tsl").as("hi"))
    val per = graft.util.Ckpt.stage(
      ev.crossJoin(broadcast(ext))
        .withColumn("pre", col("tsl") < expr("(lo + hi) div 2"))
        .groupBy("user_id")
        .agg(
          (coalesce(sum(when(col("pre"), col("v"))),
            lit(0).cast(DecimalType(24, 6))) * lit(1000000))
            .cast("long").as("xq"),
          (coalesce(sum(when(!col("pre"), col("v"))),
            lit(0).cast(DecimalType(24, 6))) * lit(1000000))
            .cast("long").as("yq"))
        .withColumn("arm", pmod(col("user_id"), lit(2))))
    val pooled = per.agg(
      count(lit(1)).as("n"),
      sum(col("xq").cast(Dec0)).as("sx"),
      sum(col("yq").cast(Dec0)).as("sy"),
      sum(col("xq").cast(Dec0) * col("xq").cast(Dec0)).as("sxx"),
      sum(col("xq").cast(Dec0) * col("yq").cast(Dec0)).as("sxy"))
    val theta = (col("n").cast(Dec0) * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n").cast(Dec0) * col("sxx") - col("sx") * col("sx")).cast("double")
    val gx = col("sx").cast("double") / (col("n") * lit(1000000L)).cast("double")
    per.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("xq").cast(Dec0)).as("sxa"),
        sum(col("yq").cast(Dec0)).as("sya"))
      .crossJoin(broadcast(pooled))
      .withColumn("mean_y",
        col("sya").cast("double") / (col("n_users") * lit(1000000L)).cast("double"))
      .withColumn("mean_x",
        col("sxa").cast("double") / (col("n_users") * lit(1000000L)).cast("double"))
      .withColumn("th", theta)
      .select(col("arm"), col("n_users"),
        q6(col("mean_y")).as("mean_y"),
        q6(col("th")).as("theta"),
        q6(col("mean_y") - col("th") * (col("mean_x") - gx)).as("adj_mean"))
      .orderBy("arm")
  }

  /** Gini coefficient of the value distribution per event type — the
    * standard inequality measure a data platform reports beside HHI
    * ([[q_concentration]]'s market-share view): how unevenly the metric
    * mass is spread across rows (0 = uniform, →1 = one row carries all).
    *
    * Computed over DISTINCT values with tie-blocks, not per-row ranks:
    * for a run of c equal values x starting after cumulative count p in
    * ascending order, Σ_{i=p+1..p+c}(2i−n−1) collapses to c·(2p+c−n),
    * so the rank window runs over the (type, distinct-value) aggregate —
    * bounded by the value domain, never the row count (the [[medianX2]]
    * shape) — and the result is provably tie-order invariant.
    *
    * Determinism: values quantized to exact micro-unit BIGINTs
    * (DECIMAL(24,6) scale-6-exact per the castscan sweep); the weighted
    * sum accumulates in DECIMAL(38,0) (safe: |coef| ≤ n ≤ 2³¹, micro ≤
    * 2⁴⁰ → term ≤ 2⁷¹? no — n ≤ 10⁹ and micro ≤ 10¹² keep the product
    * ≤ 10²¹·c ≪ 10³⁸); Gini itself is ONE IEEE division of exact
    * integers, floor-quantized to 6 dp. Negative values are excluded
    * (Gini is defined on non-negative mass), mirrored in the oracle.
    *
    * Scale shape: one map-side-combined (type, value) aggregate, a rank
    * window over the distinct-value domain, one per-type reduce. */
  def gini(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("event_type"),
        microExact(col("value")).as("micro"))
    val byVal = ev.groupBy("event_type", "micro").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("micro")
    byVal
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
      .withColumn("p", col("cum") - col("c"))
      .withColumn("coef", lit(2) * col("p") + col("c") - col("n"))
      .groupBy("event_type")
      .agg(first("n").as("n"),
        sum(col("micro").cast(Dec0) * col("c").cast(Dec0)).as("sx"),
        sum(col("micro").cast(Dec0) * col("c").cast(Dec0) * col("coef").cast(Dec0))
          .as("wsum"))
      .select(col("event_type"), col("n"),
        q6(col("wsum").cast("double") / (col("n").cast(Dec0) * col("sx")).cast("double"))
          .as("gini"))
      .orderBy("event_type")
  }

  /** Lorenz curve (decile points) of the per-type value distribution —
    * the CURVE whose area [[gini]] compresses to one number: at each
    * population decile k, what share of total value do the bottom k/10
    * of rows hold? The plot a revenue-concentration or token-budget
    * review actually reads ("the bottom half of events carries 9% of
    * value") — and the decile grid is the standard x-axis.
    *
    * Determinism — rank selection, never interpolation (the
    * q_outlier_mad rule): decile k's point is the FIRST distinct value
    * whose cumulative row count reaches k·n/10, found by pure integer
    * interval cover (a row covers k iff 10·(cum−c) < k·n ≤ 10·cum —
    * the covering row is unique because the intervals partition
    * (0, 10n]); pop/value shares are exact integer ppm divisions plus
    * one quantized double division. Value sums ride DECIMAL(38,0)/
    * HUGEINT.
    *
    * Scale shape: the [[gini]] frame — one map-side-combined
    * (type, value) aggregate, windows over the per-type DISTINCT-value
    * domain, a ≤10-row explode per type. */
  def lorenzCurve(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("event_type"),
        microExact(col("value")).as("micro"))
    val byVal = ev.groupBy("event_type", "micro").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("micro")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("event_type")
    byVal
      .withColumn("cum", sum("c").over(w))
      .withColumn("cumv",
        sum(col("micro").cast(Dec0) * col("c").cast(Dec0)).over(w))
      .withColumn("n", sum("c").over(wp))
      .withColumn("tv",
        sum(col("micro").cast(Dec0) * col("c").cast(Dec0)).over(wp))
      .withColumn("klo", expr("(10 * (cum - c)) div n + 1"))
      .withColumn("khi", expr("least((10 * cum) div n, CAST(10 AS BIGINT))"))
      .filter(col("khi") >= col("klo"))
      .select(col("event_type"),
        explode(sequence(col("klo").cast("int"), col("khi").cast("int")))
          .as("decile"),
        col("cum"), col("cumv"), col("n"), col("tv"))
      .select(col("event_type"), col("decile"), col("cum").as("cum_rows"),
        expr("cum * 1000000 div n").as("pop_ppm"),
        expr("(cumv * 1000000) div tv").as("value_ppm"),
        q6(col("cumv").cast("double") / col("tv").cast("double"))
          .as("value_share"))
      .orderBy("event_type", "decile")
  }

  /** Customer lifetimes per `keys` group of `orders`: first and last
    * order date in µs (mn, mx), `dur` = whole days between them, and
    * `cens` = 1 when the last order falls in the final fifth of the study
    * window (plausibly still active, so censored rather than churned) —
    * the lifetime frame of [[kaplanMeier]], [[nelsonAalen]] and
    * [[logRankStat]]. Pure integer µs arithmetic, no calendar literals. */
  private def lifetimes(orders: DataFrame, keys: String*): DataFrame = {
    val per = orders.groupBy(keys.map(col): _*)
      .agg(min(unix_micros(col("o_orderdate").cast("timestamp"))).as("mn"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("mx"))
    val ext = per.agg(min("mn").as("lo"), max("mx").as("hi"))
    per.crossJoin(broadcast(ext))
      .withColumn("dur", expr("(mx - mn) div 86400000000"))
      .withColumn("cens", (col("mx") > expr("lo + ((hi - lo) * 4) div 5")).cast("long"))
  }

  /** `byDur` (one row per distinct lifetime `dur` with its customer count
    * `all_at`) plus the risk set `n_risk`: the customers whose lifetime is
    * at least `dur`. Both windows run over distinct durations only. */
  private def riskSet(byDur: DataFrame): DataFrame = {
    // distinct lifetimes in days: bounded by the study length
    val wo = Window.orderBy("dur")
    byDur
      .withColumn("n_total", sum("all_at").over(Window.partitionBy()))
      .withColumn("before", coalesce(
        sum("all_at").over(wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", col("n_total") - col("before"))
  }

  /** Kaplan–Meier survival estimate of customer relationship lifetime —
    * the estimator every retention analysis needs once censoring enters:
    * a customer's lifetime is last-order − first-order in whole days,
    * and customers whose last order falls in the final fifth of the
    * study window are CENSORED (plausibly still active at observation
    * end), not churn events — dropping or death-counting them (what
    * naive retention curves do) biases the curve down. S(t) =
    * Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over distinct churn times, with censored
    * customers leaving the risk set silently. (The events table's users
    * are all active through its 30-day window — no lifetime variation —
    * so the orders history is the survival-shaped fixture domain.)
    *
    * Determinism: lifetimes and the censoring cut are pure integer µs
    * arithmetic (the [[cuped]] midpoint discipline — no calendar
    * literals). Each factor's log is ln(nᵢ−dᵢ) − ln(nᵢ) — logs of
    * INTEGERS only, 6-dp-quantized into DECIMAL(18,6) (the TextAnalysis
    * qln discipline), so the cumulative sum is exact and
    * order-independent; survival is ONE exp() on the identical decimal
    * scalar, floor-quantized to 4 dp. If the whole risk set dies at one
    * time (nᵢ = dᵢ), log-survival is NULL and survival exactly 0.
    *
    * Round-8 postmortem on the r7 red: not the logs — the oracle's
    * window-SUM-derived `n_risk` was HUGEINT→float64 in pandas while
    * Spark wrote int64 (PARITY §1 dtype-leak class, same as
    * q_outlier_mad's n_outliers); fixed with `CAST(… AS BIGINT)`.
    *
    * Scale shape: one per-customer min/max aggregate (map-side
    * combined), a 1-row study-extent reduce broadcast back, then all
    * windows run over DISTINCT lifetimes — bounded by the study length
    * in days, never the customer count. */
  def kaplanMeier(s: SparkSession, d: String): DataFrame = {
    val byDur = lifetimes(Tables.orders(s, d), "o_custkey").groupBy("dur")
      .agg(count(lit(1)).as("all_at"),
        sum(lit(1) - col("cens")).as("d"),
        sum("cens").as("cens"))
    riskSet(byDur)
      .filter(col("d") > 0)
      .withColumn("lterm",
        when(col("n_risk") > col("d"), qln(col("n_risk") - col("d")) - qln(col("n_risk")))
          .otherwise(lit(null).cast(DecimalType(18, 6))))
      // first time the whole risk set dies (if any): survival is exactly 0
      // from there on and the log is undefined — SUM would silently skip
      // the NULL term in both engines, so the dead region is masked
      // explicitly instead of trusting the skip
      .withColumn("dead_at", min(when(col("n_risk") === col("d"), col("dur"))).over(
        Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum", sum("lterm").over(
        Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("dur").as("dur_days"), col("n_risk"), col("d").as("n_death"),
        col("cens").as("n_censor"),
        when(col("dead_at").isNotNull, lit(null).cast("double"))
          .otherwise(col("cum").cast("double")).as("log_surv"),
        when(col("dead_at").isNotNull, lit(0.0))
          .otherwise(floor(exp(col("cum").cast("double")) * lit(10000.0) + lit(0.5))
            / lit(10000.0)).as("surv"))
      .orderBy("dur_days")
  }

  /** Minimum detectable effect (power analysis) for the 50/50 user-split
    * experiment — the third leg of the A/B pre-flight beside [[abSrm]]
    * (is the split valid) and [[cuped]] (can the metric be sharpened):
    * given the observed per-user metric variance, the smallest true
    * lift a test at α = 0.05 (two-sided) with 80% power can detect is
    * MDE = (z₀.₉₇₅ + z₀.₈)·√(s²·(1/n₀ + 1/n₁)). Running an experiment
    * whose expected lift is below this number is the error this query
    * exists to prevent.
    *
    * Determinism: per-user totals are exact micro-unit BIGINTs; power
    * sums accumulate in DECIMAL(38,0); the pooled variance, the two z
    * constants (pinned 6-dp literals 1.959964 / 0.841621 — identical
    * doubles in both engines), and the MDE are a fixed tree of
    * elementary IEEE ops (sqrt is correctly rounded by spec) mirrored
    * parenthesis-for-parenthesis in the oracle, floor-quantized.
    *
    * Scale shape: one per-user aggregate (map-side combined), one
    * 2-row arm reduce, one 1-row combine. */
  def abMde(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg((sum(col("value").cast(DecimalType(24, 6))) * lit(1000000))
        .cast("long").as("yq"))
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    val arms = per.groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(col("yq").cast(Dec0)).as("sx"),
        sum(col("yq").cast(Dec0) * col("yq").cast(Dec0)).as("sxx"))
    // within-arm sum of squared deviations, micro² -> unit² via 1e12
    val ssd = (col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double")
      ) / lit(1.0e12)
    val armStats = arms.select(col("arm"), col("n"),
      (col("sx").cast("double") / (col("n") * lit(1000000L)).cast("double")).as("mean"),
      ssd.as("ssd"))
    armStats.groupBy()
      .agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("mean"))).as("m0"),
        max(when(col("arm") === 1, col("mean"))).as("m1"),
        sum("ssd").cast("double").as("ssd_tot"))
      .withColumn("sp2", col("ssd_tot") / (col("n0") + col("n1") - lit(2)).cast("double"))
      .withColumn("mde_abs",
        lit(1.959964 + 0.841621) * sqrt(col("sp2") *
          (lit(1.0) / col("n0").cast("double") + lit(1.0) / col("n1").cast("double"))))
      .select(col("n0"), col("n1"), q6(col("m0")).as("mean_ctl"),
        q6(col("m1")).as("mean_trt"),
        q6(sqrt(col("sp2"))).as("sd_pooled"),
        q6(col("mde_abs")).as("mde_abs"),
        q6(col("mde_abs") / ((col("m0") + col("m1")) / lit(2.0))).as("mde_rel"))
  }

  /** Chapman capture–recapture estimate of the true user universe —
    * the ecology estimator data platforms borrow to answer "how many
    * users exist that we have NOT observed": the two time halves are
    * the two capture occasions, the overlap m (users seen in both) is
    * the recapture count, and N̂ = (n₁+1)(n₂+1)/(m+1) − 1 estimates the
    * closed population. Observed/N̂ is then an instrumentation-coverage
    * metric: well below 1 means many users appear so rarely they were
    * caught in at most one half — sampling or tracking loss upstream.
    *
    * Determinism: the half split is the integer µs midpoint; all set
    * sizes are exact distinct counts; N̂ is pure BIGINT floor division;
    * the coverage ratio is ONE IEEE division floor-quantized.
    *
    * Scale shape: one per-user min/max aggregate (map-side combined,
    * carries both membership flags), one 1-row reduce. */
  def captureRecapture(s: SparkSession, d: String): DataFrame = {
    val ext = Tables.events(s, d)
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
    val per = Tables.events(s, d).crossJoin(broadcast(ext))
      .withColumn("pre", unix_micros(col("ts")) < expr("(lo + hi) div 2"))
      .groupBy("user_id")
      .agg(max(col("pre").cast("long")).as("in1"),
        max((!col("pre")).cast("long")).as("in2"))
    per.agg(
        sum("in1").as("n1"),
        sum("in2").as("n2"),
        sum(col("in1") * col("in2")).as("m"),
        count(lit(1)).as("observed"))
      .withColumn("n_hat", expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1"))
      .select(col("n1"), col("n2"), col("m"), col("observed"), col("n_hat"),
        q6(col("observed").cast("double") / col("n_hat").cast("double")).as("coverage"))
  }

  /** Single best changepoint per event stream — binary segmentation's
    * first split: the day t maximizing |mean(days ≤ t) − mean(days > t)|
    * over the daily-volume series, the offline complement to
    * [[cusumDrift]]'s sequential detector (CUSUM says THAT the level
    * shifted; this says WHERE to cut the series when backfilling a
    * model's training window).
    *
    * Determinism: daily volumes and their prefix sums are exact micro
    * BIGINTs; each candidate's score is a fixed IEEE tree (two
    * divisions, one subtraction, one abs) on identical integers, so
    * scores are bit-identical cross-engine and the argmax is
    * deterministic with the (score desc, day asc) tiebreak. Output
    * means/score floor-quantized to 6 dp.
    *
    * Scale shape: one map-side-combined (type, day) aggregate, then
    * calendar-bounded per-type windows — the candidate scan is over
    * days, never rows. */
  def changepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(microExact(col("value"))).as("vol"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wAll = Window.partitionBy("event_type")
    val meanL = col("cum").cast("double") / col("t").cast("double")
    val meanR = (col("tot") - col("cum")).cast("double") / (col("n") - col("t")).cast("double")
    val scored = daily
      .withColumn("t", row_number().over(w))
      .withColumn("cum", sum("vol").over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum("vol").over(wAll))
      .filter(col("t") < col("n"))
      .withColumn("score", abs(meanL - meanR))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("score").desc, col("day").asc)))
      .filter(col("rn") === 1)
    scored.select(col("event_type"), col("day").as("change_day"),
        col("t").as("n_days_before"), (col("n") - col("t")).as("n_days_after"),
        q6(meanL / lit(1000000.0)).as("mean_before"),
        q6(meanR / lit(1000000.0)).as("mean_after"),
        q6(col("score") / lit(1000000.0)).as("shift"))
      .orderBy("event_type")
  }

  /** Hill estimator of the value distribution's upper-tail index per
    * event type — the heavy-tail diagnostic behind capacity planning
    * and outlier-threshold choice (α ≤ 2 means infinite variance: mean
    * ± kσ gates like [[q_anomaly_filter]]'s stop meaning anything, and
    * the robust [[outlierMad]] gate becomes mandatory). α̂ = k / Σᵢ≤k
    * (ln xᵢ − ln x₍ₖ₎) over the top-k order statistics.
    *
    * Determinism: the top-k multiset is rank-selected over DISTINCT
    * micro-unit values with tie counts (the [[medianX2]] shape — no
    * per-row sort, boundary ties split by exact cumulative counts);
    * each log is a micro-quantized INTEGER log (floor(ln·10⁶ + ½) of
    * an integer argument), so the log spread accumulates as an exact
    * BIGINT sum and α is ONE IEEE division of exact integers,
    * floor-quantized; NULL when all top-k values are equal (zero
    * spread).
    *
    * Scale shape: one (type, distinct-value) aggregate; the rank
    * window runs over the value domain, never the row count. */
  def hillTail(s: SparkSession, d: String): DataFrame = {
    val k = 50
    // integer micro-log: ln of an exact integer, quantized to an exact
    // BIGINT — downstream arithmetic never touches a float until the end
    val lq = (c: Column) => micro(log(c.cast("double")))
    val bv = Tables.events(s, d)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(col("event_type"),
        microExact(col("value")).as("micro"))
      .groupBy("event_type", "micro").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy(col("micro").desc)
    val sel = bv
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("prev", col("cum") - col("cnt"))
      .filter(col("prev") < k)
      .withColumn("ncopies", least(col("cnt"), lit(k.toLong) - col("prev")))
    sel.groupBy("event_type")
      .agg(sum("ncopies").as("k_used"),
        min("micro").as("xk"),
        sum(col("ncopies") * lq(col("micro"))).as("slnx"))
      .withColumn("spread", col("slnx") - col("k_used") * lq(col("xk")))
      .select(col("event_type"), col("k_used").as("k"), col("xk").as("xk_micro"),
        when(col("spread") > 0,
          q6((col("k_used") * lit(1000000L)).cast("double")
            / col("spread").cast("double"))).as("alpha"))
      .orderBy("event_type")
  }

  /** One-way ANOVA F test of `value` across event types — the k-group
    * generalization of [[abTtest]]: does ANY event type's mean value
    * differ, before pairwise tests (with their multiple-comparison
    * burden) ask which. Reports F, both degrees of freedom, and η²
    * (SSB/SST — the effect size reviewers ask for next to every F).
    *
    * Determinism: values enter as exact centi-unit BIGINTs (the safe
    * micro cast, then an exact integer `div 10⁴` — never a scale-2
    * decimal cast, the q_outlier_mad knife-edge); the sufficient
    * statistics n_g, Σm, Σm² are exact integers in DECIMAL(38,0), and
    * each between-group term s_g²/n_g is ONE correctly-rounded division
    * of exact decimals FLOOR-quantized at integer (cent²) granularity —
    * sums of sq-cents stay ≤ ~10¹⁷ through sf100, inside both Spark's
    * `floor→LONG` range (floor of a micro²-scale double would silently
    * wrap Spark's LongType result while DuckDB's stays double — the
    * reason for the cent rescale) and exact-double territory. SSB/SSW
    * are then exact BIGINTs; F and η² are fixed trees of elementary
    * IEEE ops on them, mirrored parenthesis-for-parenthesis.
    *
    * Scale shape: ONE map-side-combined groupBy(event_type) is the only
    * pass over events; everything after runs on the k-row (≤ event-type
    * domain) frame. */
  def anovaF(s: SparkSession, d: String): DataFrame =
    anovaFromMeasure(
      Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          microExact(col("value")).as("micro"))
        .select(col("event_type"), expr("micro div 10000").as("m")),
      "f")

  /** The [[anovaF]] decomposition over a pre-derived (event_type, m)
    * measure frame with m an exact cent-scale BIGINT — shared with
    * [[levene]], which runs the identical F on |v − median| deviations
    * (Brown–Forsythe form). `statName` labels the F column. */
  private def anovaFromMeasure(ev: DataFrame, statName: String): DataFrame = {
    val g = ev.groupBy("event_type").agg(
      count(lit(1)).as("ng"),
      sum(col("m").cast(Dec0)).as("sg"),
      sum(col("m").cast(Dec0) * col("m").cast(Dec0)).as("qg"))
    val t = g.agg(
      count(lit(1)).as("k"),
      sum("ng").as("n"),
      sum("sg").as("stot"),
      sum("qg").as("qtot"),
      sum(floor((col("sg") * col("sg")).cast("double") / col("ng").cast("double"))).as("a"))
    val ssb = col("a") -
      floor((col("stot") * col("stot")).cast("double") / col("n").cast("double"))
    val sAgg = t.select(col("k"), col("n"),
      ssb.as("ssb"), (col("qtot").cast("long") - col("a")).as("ssw"))
    sAgg.select(
      col("k").cast("long").as("k"), col("n").cast("long").as("n"),
      (col("k") - 1).cast("long").as("df1"), (col("n") - col("k")).cast("long").as("df2"),
      q6((col("ssb").cast("double") / (col("k") - 1).cast("double")) /
        (col("ssw").cast("double") / (col("n") - col("k")).cast("double"))).as(statName),
      q6(col("ssb").cast("double") / (col("ssb") + col("ssw")).cast("double")).as("eta2"))
  }

  /** Brown–Forsythe/Levene homogeneity-of-variance test across event
    * types — the gate [[anovaF]]'s equal-variance assumption needs
    * checked against, and the robust (median-centered) form: W is the
    * one-way F statistic recomputed on the absolute deviations
    * |v − median(group)|, so heavy tails don't masquerade as unequal
    * variances the way they do in the mean-centered original.
    *
    * Determinism: group medians are [[medianX2]] rank selections over
    * raw doubles (the q_outlier_mad discipline — no quantization before
    * the two order statistics); each deviation is elementary IEEE ops
    * on identical operands, micro-quantized to exact BIGINTs and
    * cent-rescaled by integer division; the F machinery is the shared
    * [[anovaFromMeasure]] integer path.
    *
    * Scale shape: one rank selection over (type, distinct-value)
    * aggregates, medians broadcast back, one groupBy over the deviation
    * measure — events scanned twice, never shuffled wide. */
  def levene(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value").as("v"))
    val med = medianX2(ev, "event_type", "v", "med2")
      .select(col("event_type").as("t"), (col("med2") * lit(0.5)).as("med"))
    anovaFromMeasure(
      ev.join(broadcast(med), col("event_type") === col("t"))
        .select(col("event_type"),
          expr("floor(abs(v - med) * 1000000 + 0.5) div 10000").as("m")),
      "w")
  }

  /** 1-Wasserstein (earth-mover) distance between the click and view
    * `value` distributions — the integral companion to [[ksDrift]]'s
    * supremum: KS alarms on the single worst ECDF gap, EMD on the total
    * transported mass ∫|F₁−F₂|dx, so a broad small shift (which KS
    * under-weights) and a narrow spike (which EMD under-weights) each
    * have a monitor that catches them.
    *
    * Determinism: the ECDF gaps are the [[ksDrift]] integer-scaled
    * |cum₁·n₂ − cum₂·n₁| (exact BIGINT — same ~3·10⁹-row documented
    * overflow edge); each segment's term gap·(v′−v) is two
    * correctly-rounded IEEE multiplies on identical operands,
    * 6-dp-floor-quantized into DECIMAL(38,6) BEFORE the sum (a double
    * sum would be partition-order-dependent), and the final
    * normalization by n₁·n₂ is one division, floor-quantized.
    *
    * Scale shape: the [[ksFromAgg]] two-phase prefix discipline — the
    * cumulative window runs per range-bucket; the next-distinct-value
    * lookup is the in-bucket `lead` patched at bucket boundaries from
    * the ≤[[KsBuckets]]-row per-bucket-min table (broadcast), so no
    * global-sort window ever runs. */
  def emdDrift(s: SparkSession, d: String): DataFrame = {
    val nb = KsBuckets
    val dec6 = DecimalType(38, 6)
    val ev = graft.util.Ckpt.stage(clickViewCounts(s, d))
    val bucketed = graft.util.Ckpt.stage(valueBuckets(ev, nb))
    // not Prefix.sums: the lead patch needs each bucket's bmin beside its offsets
    val wb = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-bucket totals AND mins in one ≤nb-row frame: prefix offsets for
    // the two-phase cumsum, next-present-bucket min for the lead patch
    val offs = bucketed.groupBy("bkt")
      .agg(sum("c1").as("s1"), sum("c2").as("s2"), min("value").as("bmin"))
      .select(col("bkt"),
        (sum("s1").over(wb) - col("s1")).as("off1"),
        (sum("s2").over(wb) - col("s2")).as("off2"),
        lead("bmin", 1).over(Window.orderBy("bkt")).as("nextmin"))
    val tot = bucketed.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.partitionBy("bkt").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy("bkt").orderBy("value")
    val seg = bucketed
      .join(broadcast(offs), "bkt")
      .crossJoin(broadcast(tot))
      .withColumn("cum1", col("off1") + sum("c1").over(w))
      .withColumn("cum2", col("off2") + sum("c2").over(w))
      .withColumn("nv", coalesce(lead("value", 1).over(wl), col("nextmin")))
      .filter(col("nv").isNotNull)
      .withColumn("term",
        q6(abs(col("cum1") * col("n2") - col("cum2") * col("n1")).cast("double")
          * (col("nv") - col("value"))).cast(dec6))
    seg.groupBy("n1", "n2")
      .agg(sum("term").as("wsum"))
      .select(col("n1"), col("n2"),
        q6(col("wsum").cast("double") /
          (col("n1").cast(Dec0) * col("n2").cast(Dec0)).cast("double")).as("emd"))
  }

  /** Energy distance between the click and view value distributions —
    * the KERNEL two-sample test completing the drift family
    * (KS/χ²/PSI/EMD/CvM compare CDFs or bins; energy distance
    * D² = 2E|X−Y| − E|X−X'| − E|Y−Y'| is zero iff the distributions are
    * EQUAL and is rotation/translation-consistent, the Székely–Rizzo
    * statistic behind distance correlation). Reported with the scaled
    * test statistic n₁n₂/(n₁+n₂)·D².
    *
    * Determinism: all three pair sums close over EXACT integers — with
    * micro values m and per-distinct-value counts (a, b), the ordered
    * pair sum Σ|mᵢ−mⱼ| is Σ_k cnt_k·[(m_k·less − sumless) + (sumgreater
    * − m_k·greater)] over strictly-less/greater prefix integers, every
    * product DECIMAL(38,0); D² and the statistic are one fixed IEEE
    * tree on the three exact sums, 6-dp floor-quantized. V-statistic
    * convention (denominators n₁n₂, n₁², n₂² — self-pairs contribute 0).
    *
    * Scale shape: the [[emdDrift]] two-phase recipe — distinct-value
    * tie blocks, broadcast (min, max), per-bucket prefix offsets
    * (KsBuckets rows) turn the global cumsum into bucket-PARTITIONED
    * windows; one ≤3-integer reduce at the end. No global sort, no
    * unpartitioned window. */
  def energyDistance(s: SparkSession, d: String): DataFrame = {
    val ev = graft.util.Ckpt.stage(clickViewCounts(s, d)
      .withColumn("m", micro(col("value"))))
    val bucketed = graft.util.Ckpt.stage(valueBuckets(ev, KsBuckets))
    val cm1 = col("c1").cast(Dec0) * col("m").cast(Dec0)
    val cm2 = col("c2").cast(Dec0) * col("m").cast(Dec0)
    val tot = bucketed.agg(sum("c1").as("n1"), sum("c2").as("n2"),
      sum(cm1).as("t1"), sum(cm2).as("t2"))
    val seg = Prefix.sums(bucketed, Nil, "bkt", Seq("value"),
        "cum1" -> col("c1"), "cum2" -> col("c2"), "cms1" -> cm1, "cms2" -> cm2)
      .crossJoin(broadcast(tot))
    val md = col("m").cast(Dec0)
    // strictly-below / strictly-above integers per side (ties at the
    // row's own value contribute |m - m| = 0 and are excluded exactly)
    def bracket(less: Column, sumLess: Column, greater: Column, sumGr: Column) =
      (md * less.cast(Dec0) - sumLess) + (sumGr - md * greater.cast(Dec0))
    val terms = seg.select(
      (col("c1").cast(Dec0) * bracket(
        col("cum2") - col("c2"), col("cms2") - cm2,
        col("n2") - col("cum2"), col("t2") - col("cms2"))).as("xy"),
      (col("c1").cast(Dec0) * bracket(
        col("cum1") - col("c1"), col("cms1") - cm1,
        col("n1") - col("cum1"), col("t1") - col("cms1"))).as("xx"),
      (col("c2").cast(Dec0) * bracket(
        col("cum2") - col("c2"), col("cms2") - cm2,
        col("n2") - col("cum2"), col("t2") - col("cms2"))).as("yy"),
      col("n1"), col("n2"))
    val exy = col("sxy").cast("double") /
      (col("n1").cast(Dec0) * col("n2").cast(Dec0)).cast("double") / lit(1000000.0)
    val exx = col("sxx").cast("double") /
      (col("n1").cast(Dec0) * col("n1").cast(Dec0)).cast("double") / lit(1000000.0)
    val eyy = col("syy").cast("double") /
      (col("n2").cast(Dec0) * col("n2").cast(Dec0)).cast("double") / lit(1000000.0)
    val d2 = lit(2.0) * exy - exx - eyy
    terms.groupBy("n1", "n2")
      .agg(sum("xy").as("sxy"), sum("xx").as("sxx"), sum("yy").as("syy"))
      .select(col("n1"), col("n2"),
        q6(exy).as("e_xy"), q6(exx).as("e_xx"), q6(eyy).as("e_yy"),
        q6(d2).as("energy_dist"),
        q6((col("n1").cast(Dec0) * col("n2").cast(Dec0)).cast("double") /
          (col("n1") + col("n2")).cast("double") * d2).as("e_stat"))
  }

  /** Theil T inequality index of customer lifetime spend per market
    * segment — the decomposable companion to [[gini]]: T = Σ pᵢ·ln(n·pᵢ)
    * over spend shares pᵢ, the index whose between/within-group split is
    * exact, which is why corpus-budget and revenue-concentration audits
    * report it next to Gini.
    *
    * Determinism: spend totals are exact micro-unit BIGINTs; each
    * customer's share enters as pm = ⌊x·10⁶/S⌋ (exact integer division
    * of exact decimals — no float share anywhere) and its log factor as
    * ln((x·n)/S) of one exact-decimal ratio, 6-dp-rounded into
    * DECIMAL(18,6) (the ln-of-integer-ratio discipline — a transcendental
    * never lands on a rounding half-way); the per-customer product
    * pm·l and its sum are exact decimal arithmetic, with ONE final
    * division. Customers with pm = 0 (share < 10⁻⁶) contribute exactly
    * zero — documented truncation, identical in both engines.
    *
    * Scale shape: one orders aggregate (custkey-keyed), one broadcast
    * dim join for the segment, one segment-keyed reduce; the share/log
    * arithmetic runs per customer row against a broadcast ≤5-row
    * per-segment totals frame. */
  def theilIndex(s: SparkSession, d: String): DataFrame = {
    val x = Tables.orders(s, d)
      .select(col("o_custkey"),
        microExact(col("o_totalprice")).as("xm"))
      .groupBy("o_custkey").agg(sum("xm").as("x"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("x"))
    val t = x.groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x").cast(Dec0)).as("stot"))
    x.join(broadcast(t), "seg")
      .withColumn("pm", expr("CAST((CAST(x AS DECIMAL(38,0)) * 1000000) div stot AS BIGINT)"))
      .withColumn("l",
        Det.q6(log((col("x").cast(Dec0) * col("n").cast(Dec0)).cast("double") /
          col("stot").cast("double"))).cast(DecimalType(18, 6)))
      .groupBy("seg")
      .agg(max("n").as("n_cust"), sum(col("pm") * col("l")).as("tsum"))
      .select(col("seg").as("c_mktsegment"), col("n_cust"),
        q6(col("tsum").cast("double") / lit(1000000.0)).as("theil_t"))
      .orderBy("c_mktsegment")
  }

  /** Weighted median of `l_quantity` per return flag, weighted by
    * extended price — "the quantity at which half the REVENUE sits
    * below": the weighted order statistic sampling-weight pipelines
    * (DSIR weights, source-mix quotas) need, where the unweighted
    * [[medianX2]] answers the wrong question.
    *
    * Determinism — pure integer rank algebra, the [[medianX2]] shape
    * lifted to weights: weights are exact micro-unit BIGINTs, cumulative
    * weights are exact, and the lower/upper weighted medians are the
    * unique values with 2·prev < W ≤ 2·cum and 2·prev ≤ W < 2·cum (each
    * rank-selecting SUM has exactly one non-null term); the midpoint is
    * one IEEE add + halving of identical doubles. Doubled cumulative
    * weights stay in BIGINT to ~5·10¹⁸ total micro-weight (~ sf100 for
    * this column) — the [[mannWhitney]]-class documented edge.
    *
    * Scale shape: one map-side-combined (flag, distinct-quantity)
    * aggregate — 50-value domain — then rank windows over that domain
    * frame, never the row count. */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    val bv = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").as("q"),
        microExact(col("l_extendedprice")).as("wt"))
      .groupBy("l_returnflag", "q").agg(sum("wt").as("w"))
    val win = Window.partitionBy("l_returnflag").orderBy("q")
    bv
      .withColumn("cum", sum("w").over(win))
      .withColumn("tw", sum("w").over(Window.partitionBy("l_returnflag")))
      .withColumn("prev", col("cum") - col("w"))
      .groupBy("l_returnflag")
      .agg(max("tw").as("w_total"),
        (sum(when(lit(2) * col("prev") < col("tw") && col("tw") <= lit(2) * col("cum"),
          col("q"))) +
          sum(when(lit(2) * col("prev") <= col("tw") && col("tw") < lit(2) * col("cum"),
            col("q")))).as("wm2"))
      .select(col("l_returnflag"), col("w_total"),
        (col("wm2") * lit(0.5)).as("wmedian"))
      .orderBy("l_returnflag")
  }

  /** Kendall τ-b between the daily click and view volumes — the
    * rank-concordance companion to [[spearman]]: Spearman correlates
    * the rank VALUES (sensitive to a few large rank gaps), τ counts
    * concordant vs discordant day PAIRS (each pair votes once), the
    * more robust monotone-association measure for short operational
    * series. Tie-corrected (τ-b) because integer daily counts tie
    * routinely.
    *
    * Determinism: concordance is integer sign agreement over the
    * day-pair grid; C, D, and the tie terms are exact BIGINTs; τ is
    * (C−D) over the product of two correctly-rounded sqrts of exact
    * integers — three elementary IEEE ops, 6-dp floor-quantized.
    *
    * Scale shape: ONE (day) aggregate over events (map-side combined),
    * then an i<j self-join of the ≤|calendar|-row daily frame —
    * day-pair work is calendar², never row². */
  def kendallTau(s: SparkSession, d: String): DataFrame = {
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(fmtDate(col("ts")).as("day"))
      .agg(sum((col("event_type") === "click").cast("long")).as("c"),
        sum((col("event_type") === "view").cast("long")).as("v")))
    val a = daily.select(col("day").as("d1"), col("c").as("c1"), col("v").as("v1"))
    val b = daily.select(col("day").as("d2"), col("c").as("c2"), col("v").as("v2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .agg(
        count(lit(1)).as("n0"),
        sum((((col("c1") - col("c2")) > 0 && (col("v1") - col("v2")) > 0) ||
          ((col("c1") - col("c2")) < 0 && (col("v1") - col("v2")) < 0))
          .cast("long")).as("conc"),
        sum((((col("c1") - col("c2")) > 0 && (col("v1") - col("v2")) < 0) ||
          ((col("c1") - col("c2")) < 0 && (col("v1") - col("v2")) > 0))
          .cast("long")).as("disc"),
        sum((col("c1") === col("c2")).cast("long")).as("tc"),
        sum((col("v1") === col("v2")).cast("long")).as("tv"))
    pairs.select(col("n0"), col("conc"), col("disc"), col("tc"), col("tv"),
      q6((col("conc") - col("disc")).cast("double") /
        (sqrt((col("n0") - col("tc")).cast("double")) *
          sqrt((col("n0") - col("tv")).cast("double")))).as("tau_b"))
  }

  /** Wald–Wolfowitz runs test on the SIGN of day-over-day volume change
    * per event type — "is the daily series a random walk or does it
    * trend/oscillate?": too FEW runs of same-signed changes means
    * momentum, too many means mean-reversion; either invalidates the
    * independence assumption behind [[cusumDrift]]-style alarms.
    * Zero changes are excluded (standard practice, mirrored exactly).
    *
    * Determinism: signs, run boundaries, and n₊/n₋ are exact integers
    * from calendar-bounded windows; the normal z is a fixed elementary
    * IEEE tree over them (2n₊n₋ products ≤ ~10⁹ at any scale — the
    * day count, not the row count, bounds everything), 6-dp quantized.
    *
    * Scale shape: one (type, day) aggregate; lag windows over the
    * calendar-bounded daily frame; one per-type reduce. */
  def runsTest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), fmtDate(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("delta", col("n") - lag("n", 1).over(w))
      .filter(col("delta").isNotNull && col("delta") =!= 0)
      .withColumn("sgn", signum(col("delta")))
    val wd = Window.partitionBy("event_type").orderBy("day")
    val runs = daily
      .withColumn("brk",
        (col("sgn") =!= coalesce(lag("sgn", 1).over(wd), col("sgn") * -1))
          .cast("long"))
      .groupBy("event_type")
      .agg(sum((col("sgn") > 0).cast("long")).as("npos"),
        sum((col("sgn") < 0).cast("long")).as("nneg"),
        sum("brk").as("r"))
    val n = col("npos") + col("nneg")
    val two = lit(2.0) * col("npos").cast("double") * col("nneg").cast("double")
    val mu = two / n.cast("double") + lit(1.0)
    val sig2 = two * (two - n.cast("double")) /
      (n.cast("double") * n.cast("double") * (n - 1).cast("double"))
    // n > 2 (not n > 1): npos = nneg = 1 gives two = n = 2, so sig2 = 0
    // and z is 0/0 — Spark's floor→long maps NaN/Inf to 0/Long.MaxValue
    // while DuckDB keeps them (PARITY §4). 2ab = a+b has no other
    // solution with a,b ≥ 1, so sig2 > 0 ⟺ npos + nneg > 2 here.
    runs
      .filter(col("npos") > 0 && col("nneg") > 0 && n > 2)
      .select(col("event_type"), col("npos"), col("nneg"), col("r"),
        q6(mu).as("mu"),
        q6((col("r").cast("double") - mu) / sqrt(sig2)).as("z"))
      .orderBy("event_type")
  }

  /** Permutation entropy (order m = 3) of the daily volume series per
    * event type — the model-free complexity measure beside [[autocorr]]
    * (which only sees LINEAR structure): each consecutive day triple
    * maps to its ordinal pattern, and the Shannon entropy of the
    * pattern distribution separates trending (low H — one pattern
    * dominates) from noisy (H near ln 6) series. Ties break toward
    * "earlier day ranks lower" (the standard Bandt–Pompe convention),
    * stated as strict integer comparisons identical in both engines.
    *
    * Determinism: patterns are 3-bit codes from integer comparisons;
    * counts are exact; entropy follows the qln discipline — each
    * ln(cnt/N) is a 6-dp-rounded log of one integer ratio, multiplied
    * exactly by its count, summed in DECIMAL, ONE final division.
    *
    * Scale shape: one (type, day) aggregate; two lag windows over the
    * calendar-bounded frame; a ≤6-pattern-per-type reduce. */
  def permEntropy(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val tri = Tables.events(s, d)
      .groupBy(col("event_type"), fmtDate(col("ts")).as("day"))
      .agg(count(lit(1)).as("x3"))
      .withColumn("x2", lag("x3", 1).over(w))
      .withColumn("x1", lag("x3", 2).over(w))
      .filter(col("x1").isNotNull)
      // ordinal pattern of (x1, x2, x3), ties ranked by recency: strict
      // "greater" comparisons — identical semantics in both engines
      .withColumn("pat",
        (col("x1") > col("x2")).cast("int") * 4 +
          (col("x1") > col("x3")).cast("int") * 2 +
          (col("x2") > col("x3")).cast("int"))
    val cnts = tri.groupBy("event_type", "pat").agg(count(lit(1)).as("cnt"))
    val tot = cnts.groupBy("event_type")
      .agg(sum("cnt").as("nt"), count(lit(1)).as("n_patterns"))
    cnts.join(broadcast(tot), "event_type")
      .withColumn("l",
        Det.q6(log(col("cnt").cast("double") / col("nt").cast("double")))
          .cast(DecimalType(18, 6)))
      .groupBy("event_type")
      .agg(max("nt").as("n_triples"), max("n_patterns").as("n_patterns"),
        sum(col("cnt") * col("l")).as("hsum"))
      .select(col("event_type"), col("n_triples"), col("n_patterns"),
        q6(-col("hsum").cast("double") / col("n_triples").cast("double")).as("perm_entropy"))
      .orderBy("event_type")
  }

  /** Kruskal–Wallis H across ALL event types on `value` — the k-group
    * completion of [[mannWhitney]] (which compares exactly two): rank
    * every pooled observation once, and H measures how far the per-group
    * mean ranks sit from the pooled mean rank. The nonparametric
    * companion to [[anovaF]]: ANOVA assumes equal-variance normals
    * ([[levene]] gates that); Kruskal–Wallis only assumes exchangeability,
    * the robust default for skewed operational metrics.
    *
    * Determinism — the [[mannWhitney]] midrank algebra generalized: per
    * distinct value the DOUBLED midrank 2·prev + c + 1 is an exact
    * BIGINT, so each group's doubled rank sum r2ₜ = Σ c_tv·mid2(v) is
    * exact; r2ₜ² is promoted to DECIMAL(38,0) (HUGEINT in the oracle —
    * a BIGINT square wraps past r2 ≈ 3·10⁹, i.e. pooled n ≈ 4·10⁴ rows
    * in ONE group) and each group's Σ-term r2ₜ²/(4nₜ) is ONE
    * correctly-rounded division quantized at 6 dp into DECIMAL before
    * the order-independent sum. The tie term Σ(c³−c) cubes in
    * DECIMAL(38,0) ([[mannWhitney]]'s discipline); the final
    * H = (12S/(N(N+1)) − 3(N+1)) / (1 − T/(N³−N)) is a fixed elementary
    * IEEE tree over exact operands, mirrored parenthesis-for-parenthesis.
    *
    * Scale shape: ksFromAgg's two-phase prefix — map-side-combined
    * (value, type) and (value) aggregates, broadcast extent, per-bucket
    * cumulative windows, offsets from a ≤[[KsBuckets]]-row broadcast;
    * the midrank frame joins back to per-type counts ON the value key
    * (both sides already value-partitioned), then ONE k-row reduce. */
  def kruskalWallis(s: SparkSession, d: String): DataFrame = {
    val evt = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy("value", "event_type").agg(count(lit(1)).as("ct")))
    val ev = evt.groupBy("value").agg(sum("ct").as("c"))
    val ranked = graft.util.Ckpt.stage(
      Prefix.sums(valueBuckets(ev, KsBuckets), Nil, "bkt", Seq("value"), "cum" -> col("c"))
        .withColumn("mid2", lit(2) * (col("cum") - col("c")) + col("c") + lit(1))
        .select("value", "c", "mid2"))
    val perType = evt.join(ranked.select("value", "mid2"), "value")
      .groupBy("event_type")
      .agg(sum("ct").as("nt"), sum(col("ct") * col("mid2")).as("r2"))
    val glob = ranked.agg(sum("c").as("n"),
      (sum(col("c").cast(Dec0) * col("c").cast(Dec0) * col("c").cast(Dec0)) -
        sum(col("c"))).cast("long").as("tie_t"))
    // q6big, not q6: term ≈ r2²/(4·nt) grows with n² — past |x| ≥ 1e12
    // Spark's LONG floor would wrap (the r10 sf1 failure; PARITY §4)
    // while the 10⁻⁶ quantum is below the double's own ulp anyway
    val terms = perType.crossJoin(broadcast(glob))
      .withColumn("term",
        Det.q6big((col("r2").cast(Dec0) * col("r2").cast(Dec0)).cast("double") /
          (lit(4.0) * col("nt").cast("double"))).cast(DecimalType(38, 6)))
    val agg = terms.groupBy("n", "tie_t")
      .agg(count(lit(1)).as("k"), sum("term").as("sq"))
    val nD = col("n").cast("double")
    val h0 = lit(12.0) * col("sq").cast("double") /
      (nD * (col("n") + 1).cast("double")) - lit(3.0) * (col("n") + 1).cast("double")
    val corr = lit(1.0) - col("tie_t").cast("double") /
      (col("n").cast(Dec0) * col("n").cast(Dec0) * col("n").cast(Dec0) -
        col("n").cast(Dec0)).cast("double")
    agg.select(col("k"), col("n"), col("tie_t"), (col("k") - 1).as("df"),
      Det.q6(h0 / corr).as("h"))
  }

  /** Mann–Kendall trend test + Theil–Sen slope per event type over the
    * daily volume series — the trend-DETECTION companion to
    * [[kendallTau]] (same pair-vote algebra, but against TIME itself)
    * and the robust alternative to [[corrRegr]]'s OLS slope: S counts
    * up-pairs minus down-pairs (monotone trend of any shape), and the
    * Sen slope is the MEDIAN of all pairwise day-rate slopes — one
    * outlier day drags an OLS fit, but not a median of ~n²/2 slopes.
    *
    * Determinism: S and the tie-corrected variance
    * 18·Var = n(n−1)(2n+5) − Σ t(t−1)(2t+5) are exact BIGINTs over
    * calendar-bounded counts; the z-score's continuity correction
    * branches on the exact integer sign of S (CASE mirrored verbatim);
    * each pairwise slope is ONE IEEE division of exact integers
    * (identical bits both engines), and the median slope is
    * rank-selected from those raw doubles by [[medianX2]] — the
    * [[outlierMad]] no-quantization discipline, no interpolation
    * anywhere.
    *
    * Scale shape: one (type, day) aggregate over events (map-side
    * combined), then all pair work on the ≤|calendar|-row daily frame —
    * days², never rows²; the slope median ranks over distinct slope
    * values per type. */
  def mannKendall(s: SparkSession, d: String): DataFrame = {
    val wi = Window.partitionBy("event_type").orderBy("day")
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .groupBy(col("event_type"), fmtDate(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(wi)))
    val a = daily.select(col("event_type"), col("i").as("i1"), col("x").as("x1"))
    val b = daily.select(col("event_type").as("et2"), col("i").as("i2"), col("x").as("x2"))
    val pairs = graft.util.Ckpt.stage(
      a.join(b, col("event_type") === col("et2") && col("i1") < col("i2"))
        .select(col("event_type"), col("i1"), col("i2"), col("x1"), col("x2")))
    val sStat = pairs.groupBy("event_type")
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"))
    // tie groups on the VALUE (equal daily counts), per type
    val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum("t").as("nd"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie18"))
    val slopes = pairs.select(col("event_type"),
      ((col("x2") - col("x1")).cast("double") /
        (col("i2") - col("i1")).cast("double")).as("slope"))
    val sen = medianX2(slopes, "event_type", "slope", "sen2")
      .select(col("event_type").as("et3"), (col("sen2") * lit(0.5)).as("sen_slope"))
    val j = sStat.join(ties, "event_type")
      .join(sen, col("event_type") === col("et3"))
    val var18 = (col("nd") * (col("nd") - 1) * (lit(2) * col("nd") + 5) - col("tie18"))
    val sd = sqrt(var18.cast("double") / lit(18.0))
    j.select(col("event_type"), col("nd").as("n_days"), col("s_stat"),
      var18.as("var18"),
      Det.q6(when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sd)
        .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sd)
        .otherwise(lit(0.0))).as("z"),
      col("sen_slope"))
      .orderBy("event_type")
  }

  /** Two-sample Cramér–von Mises drift statistic between the click and
    * view `value` distributions — the INTEGRAL companion on the KS axis:
    * [[ksDrift]] alarms on the largest single ECDF gap (one sharp local
    * shift), CvM integrates the SQUARED gap over the whole pooled
    * sample, so many small distributed gaps — the "everything moved a
    * little" drift KS underweights — accumulate. With [[emdDrift]]
    * (which integrates the unsquared gap over value-space) the three
    * cover sup/L²(ranks)/L¹(values) of the same ECDF difference.
    *
    * T = Σ_v c_v·(cum1·n2 − cum2·n1)² / (N²·n1·n2), summed over distinct
    * pooled values. Determinism: cums are exact prefix integers (the
    * two-phase bucket discipline), each gap² product is promoted to
    * DECIMAL(38,0) (HUGEINT in the oracle — gap ≤ n1·n2 so gap²·c wraps
    * BIGINT from ~10⁵ pooled rows), the scaled sum is EXACT, and T is
    * one division of two correctly-rounded decimal→double casts,
    * 6-dp-rounded.
    *
    * Scale shape: identical to [[mannWhitney]] — (value) aggregate,
    * broadcast extent + ≤[[KsBuckets]]-row offsets, per-bucket windows,
    * one global reduce. Events are never globally sorted. */
  def cvmDrift(s: SparkSession, d: String): DataFrame = {
    val ev = graft.util.Ckpt.stage(clickViewCounts(s, d))
    val gap = col("cum1") * col("n2") - col("cum2") * col("n1")
    val t = Prefix.sums(valueBuckets(ev, KsBuckets), Nil, "bkt", Seq("value"),
        "cum1" -> col("c1"), "cum2" -> col("c2"))
      .crossJoin(broadcast(ev.agg(sum("c1").as("n1"), sum("c2").as("n2"))))
      .withColumn("wc", (col("c1") + col("c2")).cast(Dec0) *
        gap.cast(Dec0) * gap.cast(Dec0))
      .groupBy("n1", "n2")
      .agg(count(lit(1)).as("n_values"), sum("wc").as("t_scaled"))
    val n = col("n1") + col("n2")
    val den = n.cast(Dec0) * n.cast(Dec0) *
      col("n1").cast(Dec0) * col("n2").cast(Dec0)
    t.select(col("n1"), col("n2"), col("n_values"),
      Det.q6(col("t_scaled").cast("double") / den.cast("double")).as("cvm"))
  }

  /** Friedman test + Kendall's W over the day × event-type volume grid —
    * the repeated-measures companion to [[kruskalWallis]]: KW pools all
    * observations (and a high-volume DAY dominates), Friedman ranks the
    * k types WITHIN each day (each day is one block, voting once), so it
    * answers "do the types keep the same ordering day after day?" — the
    * stability question behind alert thresholds per type. Kendall's W =
    * χ²_F/(n(k−1)) rescales to [0,1] concordance.
    *
    * Determinism: the day grid is completed (observed days × observed
    * types, absent cells = exact 0) so blocks are complete in both
    * engines; within-day doubled midranks 2·prev + c + 1 are exact
    * integers over ≤k cells; the tie-corrected statistic
    * χ² = (k−1)·Σⱼ(R2ⱼ − n(k+1))² / (Σ mid2² − n·k·(k+1)²) has EXACT
    * BIGINT numerator and denominator (the doubled-rank form absorbs
    * the usual /4), leaving one correctly-rounded division each for χ²
    * and W, 6-dp-rounded; the degenerate all-tied grid (denominator 0)
    * pins both to 0 via the same CASE.
    *
    * Scale shape: one (day, type) aggregate over events; everything
    * after runs on the calendar×k grid — windows partition by day
    * (≤k rows each), reduces are k-row and 1-row. */
  def friedman(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(fmtDate(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val days = daily.select("day").distinct()
    val types = daily.select("event_type").distinct()
    val grid = graft.util.Ckpt.stage(days.crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), coalesce(col("x"), lit(0L)).as("x")))
    val wd = Window.partitionBy("day").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mid = grid.groupBy("day", "x").agg(count(lit(1)).as("c"))
      .withColumn("mid2", lit(2) * (sum("c").over(wd) - col("c")) + col("c") + lit(1))
    val cells = graft.util.Ckpt.stage(
      grid.join(mid.select("day", "x", "mid2"), Seq("day", "x")))
    val perType = cells.groupBy("event_type")
      .agg(sum("mid2").as("rj2"))
    val glob = cells.agg(
      sum(col("mid2") * col("mid2")).as("ssq2"),
      countDistinct("day").as("nd"),
      countDistinct("event_type").as("k"))
    val agg = perType.crossJoin(broadcast(glob))
      .withColumn("dev", col("rj2") - col("nd") * (col("k") + 1))
      .groupBy("nd", "k", "ssq2")
      .agg(sum(col("dev") * col("dev")).as("sdev2"))
    val denom = col("ssq2") - col("nd") * col("k") * (col("k") + 1) * (col("k") + 1)
    agg.select(col("k"), col("nd").as("n_days"), (col("k") - 1).as("df"),
      when(denom === 0, lit(0.0)).otherwise(
        Det.q6((col("k") - 1).cast("double") * col("sdev2").cast("double") /
          denom.cast("double"))).as("chi2_f"),
      when(denom === 0, lit(0.0)).otherwise(
        Det.q6(col("sdev2").cast("double") /
          (denom.cast("double") * col("nd").cast("double")))).as("kendall_w"))
  }

  /** Cumulative Poisson(1) inverse-CDF thresholds for [[bootstrapCi]]:
    * P(X ≤ k) = e⁻¹·Σ_{i≤k} 1/i!, written as shortest-repr double
    * literals so Scala and the oracle SQL parse the identical bits
    * (comparisons against them are then engine-exact). Truncated at 6 —
    * P(X > 6) ≈ 8·10⁻⁵ per draw biases replica sums negligibly and
    * identically in both engines. */
  private val PoissonCdf = Array(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183)

  private val BootB = 48 // divisible by 4: one md5 feeds 4 replica draws

  /** Poisson-bootstrap 95% confidence interval for the mean event value
    * per type — the bootstrap that actually runs at 100 TB: classical
    * resampling draws n rows WITH replacement per replica (a global
    * shuffle per replica, B times), while the Poisson bootstrap
    * (Chamandy et al., "Estimating uncertainty for massive data
    * streams", Google 2012) gives every (row, replica) an independent
    * Poisson(1) weight — one streaming pass, no resample exchange, and
    * the per-replica weighted sums partial-aggregate map-side down to a
    * |types|·B-row frame before the only shuffle.
    *
    * Determinism: the Poisson draw is the keyed-hash idiom
    * (q_sample_hash, q_dp_count) — u = (h+½)/2³², where h is one of the
    * FOUR independent 8-hex slices of md5('bs:' ‖ event_id ‖ ':' ‖ g),
    * g = replica group ⌊(b−1)/4⌋: md5's 128 bits are 4 independent
    * 32-bit uniforms, and the hash is the explode's dominant CPU, so
    * one md5 per 4 replicas quarters the scan cost (the slices are
    * static-offset substrings built in the same projection as the
    * hash — one evaluation per (row, g)). Each u steps through the
    * pinned [[PoissonCdf]] ladder, so every weight is an integer both
    * engines agree on exactly; replica sums are Σw and Σw·v_micro, both
    * exact BIGINTs (v_micro = floor(v·10⁶ + 0.5), the same elementary
    * IEEE tree in both engines — no DECIMAL arithmetic in the hot
    * aggregate); each replica mean is TWO IEEE ops on identical exact
    * integers; the CI endpoints are
    * rank-SELECTED replica means (row_number over the total order
    * (mean, b); ranks ⌈0.025·B⌉ = 2 and ⌈0.975·B⌉ = 47 of B = 48 —
    * percentile_disc semantics, no interpolation). An all-zero replica
    * would shift ranks, but P = e⁻ⁿ per replica is zero for any group
    * with ≥ 64 rows (the fixture's smallest type has ~200 at sf0.001).
    *
    * Scale shape: the B-way explode multiplies scan CPU (B/4 md5 calls
    * per row), not exchange volume — the groupBy(type, b) combines
    * map-side to |types|·B rows. B is a constant; the events table is
    * read once and never shuffled. */
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    def uOf(slice: Column): Column =
      (conv(slice, 16, 10).cast("long").cast("double") + lit(0.5)) /
        lit(4294967296.0)
    def wOf(u: Column): Column =
      PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.length): Column) {
        case ((c, k), rest) => when(u < lit(c), lit(k)).otherwise(rest)
      }
    val h = md5(concat(lit("bs:"), col("event_id").cast("string"),
      lit(":"), col("g").cast("string")))
    val rep = graft.util.Spread(
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("value")),
      col("event_id"))
      .withColumn("g", explode(sequence(lit(0), lit(BootB / 4 - 1))))
      // u0..u3 are MATERIALIZED columns: the 6-rung CDF ladder must
      // reference a column, not inline the conv+md5 subtree into every
      // WHEN condition (the first draft did, and 6 rungs × 4 slices
      // made the hash 24× per group-row — 4× slower than B separate
      // hashes). The 4 slice columns share one md5 via codegen
      // subexpression elimination; static substring offsets
      .withColumns((0 until 4).map(r =>
        s"u$r" -> uOf(substring(h, r * 8 + 1, 8))).toMap)
      .withColumn("ws", array((0 until 4).map(r =>
        wOf(col(s"u$r")).cast("long")): _*))
      // posexplode_OUTER: the array is always length 4, but the non-outer
      // Generate makes InferFiltersFromGenerate add a size(ws) > 0 filter
      // that PushDownPredicates then inlines as the FULL md5 ladder per
      // row (measured 3× slower); the outer variant is exempt from the
      // rule and identical here
      .select(col("event_type"), col("value"), col("g"),
        posexplode_outer(col("ws")).as(Seq("r", "w")))
      .withColumn("b", col("g") * 4 + col("r") + 1)
      // exact integer micro-units instead of per-row DECIMAL multiplies:
      // floor(v·10⁶ + 0.5) is the same elementary IEEE tree in both
      // engines (Spark floor returns LONG; magnitudes stay ≪ 2⁶³), and
      // the hot aggregation becomes two BIGINT sums — the replica mean
      // is then two IEEE ops on identical exact integers
      .withColumn("vm", micro(col("value")))
      .groupBy("event_type", "b")
      .agg(sum("w").as("sw"), sum(col("w") * col("vm")).as("swv"))
      .withColumn("mean_b",
        col("swv").cast("double") / (col("sw").cast("double") * lit(1000000.0)))
    val rk = Window.partitionBy("event_type").orderBy(col("mean_b").asc, col("b").asc)
    val ranked = rep.withColumn("rn", row_number().over(rk))
    val lo = ranked.filter(col("rn") === 2)
      .select(col("event_type"), col("mean_b").as("ci_lo"))
    val hi = ranked.filter(col("rn") === BootB - 1)
      .select(col("event_type").as("t2"), col("mean_b").as("ci_hi"))
    val base = Tables.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n"), davg(col("value")).as("mean"))
    base.join(broadcast(lo), "event_type")
      .join(broadcast(hi), col("event_type") === col("t2"))
      .select(col("event_type"), col("n"), col("mean"),
        lit(BootB).cast("long").as("n_replicas"), col("ci_lo"), col("ci_hi"))
      .orderBy("event_type")
  }

  /** Jarque–Bera normality test per event type — the distributional
    * pre-check a parametric monitor (t-test / CUSUM-with-Gaussian-λ)
    * should run before trusting its own thresholds: JB = n/6·(g₁² +
    * (g₂−3)²/4) blows up whenever skewness g₁ or excess kurtosis g₂−3
    * departs from the Gaussian (χ²₂ under H₀, so JB ≫ 6 ⇒ reject).
    *
    * Determinism — quantized central moments: the mean is 6-dp
    * floor-quantized from the exact decimal sum (identical doubles both
    * engines), each deviation is ONE IEEE subtraction then milli-unit
    * floor-quantized to an exact BIGINT, and the power sums Σd², Σd³,
    * Σd⁴ accumulate those integers in DECIMAL(38,0) — exact,
    * order-independent, identical cross-engine. Milli (not micro) units
    * keep Σd⁴ ≤ 6.25·10²² per row, inside DECIMAL(38) headroom to
    * ~10¹⁴ rows per type. The final g₁ = s₃√n/(s₂√s₂), g₂ = s₄·n/s₂²,
    * JB expressions are fixed trees of correctly-rounded elementary ops
    * on identical inputs, floor-quantized at 6 dp.
    *
    * Scale shape: two events scans (mean pass + deviation pass — the
    * sufficient statistic needs x̄ first), both map-side-combined to a
    * 5-row frame; the mean frame broadcasts. No row-level shuffle. */
  def jarqueBera(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val mu = ev.groupBy(col("event_type").as("t"))
      .agg(q6(davg(col("value"))).as("mu"))
    val dq = floor((col("value") - col("mu")) * 1000 + lit(0.5)).cast(Dec0)
    val sums = ev.join(broadcast(mu), col("event_type") === col("t"))
      .select(col("event_type"), dq.as("dq"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("dq") * col("dq")).cast("double").as("s2"),
        sum(col("dq") * col("dq") * col("dq")).cast("double").as("s3"),
        sum(col("dq") * col("dq") * col("dq") * col("dq")).cast("double").as("s4"))
    val nd = col("n").cast("double")
    val g1 = col("s3") * sqrt(nd) / (col("s2") * sqrt(col("s2")))
    val g2 = col("s4") * nd / (col("s2") * col("s2"))
    sums.filter(col("n") > 1 && col("s2") > 0)
      .select(col("event_type"), col("n"),
        q6(g1).as("skew"),
        q6(g2).as("kurtosis"),
        q6(nd * (g1 * g1 + (g2 - lit(3.0)) * (g2 - lit(3.0)) / lit(4.0)) / lit(6.0))
          .as("jb"))
      .orderBy("event_type")
  }

  /** Ljung–Box portmanteau test (lags 1–3) on the per-type daily value
    * series — "is this series white noise?" asked jointly rather than one
    * lag at a time ([[autocorr]] reports r₁ alone; a seasonal signal can
    * hide r₁ ≈ 0 while r₂, r₃ carry it): Q = n(n+2)·Σ_k r²_k/(n−k),
    * χ²₃ under H₀, so Q ≫ 7.8 ⇒ the series has structure worth modeling
    * (and a drift monitor assuming i.i.d. days is mis-calibrated).
    *
    * Determinism — the [[autocorr]] integer discipline at every lag:
    * scaled deviations y_t = nd·x_t − T are exact BIGINTs over micro-unit
    * daily totals, each lag's Σ y_t·y_{t+k} and the shared Σ y_t²
    * accumulate in DECIMAL(38,0), each r_k is ONE division of identical
    * doubles, 6-dp floor-quantized, and Q is a fixed tree on the
    * quantized r_k — no accumulated-float freedom anywhere.
    *
    * Scale shape: one map-side-combined (type, day) aggregate; per-type
    * totals broadcast back; the three lag windows share one
    * calendar-bounded sort partition per type. Events stream through
    * once. */
  /** (event_type, n_days, r1, r2, r3) — the 6-dp-quantized lag-1..3
    * autocorrelations of the per-type daily value series, shared by
    * [[ljungBox]] (joint whiteness) and [[pacf]] (Durbin–Levinson
    * partials). Expressions are byte-identical to the original
    * q_ljung_box body — the refactor moved, not changed, them. */
  private def lagCorr(s: SparkSession, d: String): DataFrame = {
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("x")))
    val tt = daily.groupBy(col("event_type").as("t"))
      .agg(sum("x").as("tot"), count(lit(1)).as("nd"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily.join(broadcast(tt), col("event_type") === col("t"))
      .withColumn("y",
        col("nd").cast(Dec0) * col("x").cast(Dec0) - col("tot").cast(Dec0))
      .withColumn("y1", lead("y", 1).over(w))
      .withColumn("y2", lead("y", 2).over(w))
      .withColumn("y3", lead("y", 3).over(w))
    val rk = (k: Int) => q6(col(s"num$k").cast("double") / col("den").cast("double"))
    lagged.groupBy("event_type")
      .agg(first("nd").as("n_days"),
        sum(col("y") * col("y")).as("den"),
        sum(when(col("y1").isNotNull, col("y") * col("y1"))).as("num1"),
        sum(when(col("y2").isNotNull, col("y") * col("y2"))).as("num2"),
        sum(when(col("y3").isNotNull, col("y") * col("y3"))).as("num3"))
      .filter(col("n_days") > 3 && col("den") > 0)
      .select(col("event_type"), col("n_days"),
        rk(1).as("r1"), rk(2).as("r2"), rk(3).as("r3"))
  }

  def ljungBox(s: SparkSession, d: String): DataFrame = {
    val nd = col("n_days").cast("double")
    lagCorr(s, d)
      .withColumn("q_lb", q6(nd * (nd + lit(2.0)) *
        (col("r1") * col("r1") / (nd - lit(1.0)) +
         col("r2") * col("r2") / (nd - lit(2.0)) +
         col("r3") * col("r3") / (nd - lit(3.0)))))
      .orderBy("event_type")
  }

  /** Partial autocorrelations at lags 1–3 via the Durbin–Levinson
    * recursion over the shared [[lagCorr]] frame — the model-order
    * diagnostic [[ljungBox]] motivates: r_k says "lag-k correlation
    * exists", φ_kk says "lag k carries signal BEYOND what lags < k
    * explain" (an AR(1) series has r2 ≠ 0 but φ22 ≈ 0), so the largest k
    * with |φ_kk| ≫ 2/√n is the AR order a forecasting monitor should
    * fit. φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²); φ21 = φ11 − φ22·φ11;
    * φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2).
    *
    * Determinism: the r_k are the 6-dp-quantized exact-integer ratios of
    * [[lagCorr]]; every Durbin–Levinson level quantizes its output
    * before the next level consumes it (the iterated-pipeline rule —
    * PARITY §3), so each level is a fixed tree of elementary IEEE ops on
    * identical 6-dp doubles. Zero denominators (|r1| = 1 exactly, or a
    * degenerate level-3 pivot) pin φ to NULL via the same CASE both
    * sides.
    *
    * Scale shape: identical to [[ljungBox]] — one map-side-combined
    * (type, day) aggregate, calendar-bounded lag windows, then ≤5-row
    * scalar algebra. */
  def pacf(s: SparkSession, d: String): DataFrame = {
    val base = lagCorr(s, d)
      .withColumn("den2", lit(1.0) - col("r1") * col("r1"))
      .withColumn("p2", when(col("den2") === lit(0.0), lit(null).cast("double"))
        .otherwise(q6((col("r2") - col("r1") * col("r1")) / col("den2"))))
      .withColumn("p21", q6(col("r1") - col("p2") * col("r1")))
      .withColumn("den3",
        lit(1.0) - col("p21") * col("r1") - col("p2") * col("r2"))
    base
      .withColumn("p3",
        when(col("p2").isNull || col("den3") === lit(0.0),
          lit(null).cast("double"))
          .otherwise(q6((col("r3") - col("p21") * col("r2") -
            col("p2") * col("r1")) / col("den3"))))
      .select(col("event_type"), col("n_days"),
        col("r1"), col("r2"), col("r3"),
        col("r1").as("pacf1"), col("p2").as("pacf2"), col("p3").as("pacf3"))
      .orderBy("event_type")
  }

  /** Grubbs' statistic per event type — the PARAMETRIC single-outlier
    * companion to [[outlierMad]]'s robust gate: G = max|x − x̄|/s asks
    * "how many sample standard deviations out is the worst point?", the
    * test of record when the base distribution is near-Gaussian (which
    * [[jarqueBera]] checks first — the two compose into a monitor
    * pre-flight). G beyond ~3–4 at these n flags a recording error
    * rather than a heavy tail.
    *
    * Determinism — the [[jarqueBera]] quantized-central-moment recipe:
    * 6-dp-quantized exact-decimal mean, ONE IEEE subtraction per
    * deviation, milli-unit floor-quantize to exact BIGINTs, Σd² in
    * DECIMAL(38,0), and max|d| an integer max; G = maxd/√(Σd²/(n−1)) is
    * a fixed tree of elementary ops on identical inputs (sqrt correctly
    * rounded by spec), 6-dp-quantized. n > 1 and Σd² > 0 guard the
    * degenerate constants both sides.
    *
    * Scale shape: two events scans (mean pass + deviation pass), both
    * map-side-combined to 5 rows; the mean frame broadcasts — byte-
    * identical shape to [[jarqueBera]]. */
  def grubbs(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val mu = ev.groupBy(col("event_type").as("t"))
      .agg(q6(davg(col("value"))).as("mu"))
    val dq = floor((col("value") - col("mu")) * 1000 + lit(0.5)).cast(Dec0)
    ev.join(broadcast(mu), col("event_type") === col("t"))
      .select(col("event_type"), dq.as("dq"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("dq") * col("dq")).as("s2"),
        max(abs(col("dq"))).cast("long").as("max_dev_milli"))
      .filter(col("n") > 1 && col("s2") > 0)
      .select(col("event_type"), col("n"), col("max_dev_milli"),
        q6(col("max_dev_milli").cast("double") /
          sqrt(col("s2").cast("double") / (col("n") - 1).cast("double")))
          .as("g_stat"))
      .orderBy("event_type")
  }

  /** Page–Hinkley drift allowance δ (micro-units: 0.05 value-units) and
    * alarm threshold λ (value-units) — δ absorbs slow wander so only a
    * sustained upward mean shift accumulates; λ is the alarm level on
    * the normalized PH statistic. */
  private val PhDeltaMicro = 50000L
  private val PhLambda = 5.0

  /** Page–Hinkley upward-shift detector on the daily event-value series —
    * the SEQUENTIAL companion to [[cusumDrift]] (CUSUM scans the whole
    * history for the single biggest break; Page–Hinkley is the
    * run-it-every-day form a production monitor deploys: alarm the first
    * day the running statistic clears λ): m_t = Σ_{i≤t}(x_i − x̄ − δ),
    * PH_t = m_t − min_{i≤t} m_i, alarm when PH_t/n > λ.
    *
    * Determinism — the [[cusumDrift]] scaled-integer discipline: with
    * micro-unit daily totals, nd·m_t = nd·cum_t − t·T − t·nd·δµ is an
    * exact BIGINT (x̄ never materializes; δµ is an integer constant), the
    * running min and the argmax/tie-break (earliest day) are pure integer
    * decisions, and the one double — ph = PH'/(nd·10⁶) — divides at the
    * very end. Overflow: nd·cum ≤ 10¹² value-unit·day² per partition —
    * month-shard beyond that (the cusum rule).
    *
    * Scale shape: one map-side-combined groupBy(day) to a
    * calendar-bounded frame; all cumulative work (prefix sum, running
    * min) on ≤|days| rows; the 1-row total broadcasts. */
  def pageHinkley(s: SparkSession, d: String): DataFrame = {
    val daily = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(micro(col("value"))).as("x")))
    val tot = daily.agg(sum("x").as("tt"), count(lit(1)).as("nd"))
    val wd = Window.orderBy("day")
    val curve = graft.util.Ckpt.stage(daily.crossJoin(broadcast(tot))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("cum",
        sum("x").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("m", col("nd") * col("cum") - col("t") * col("tt")
        - col("t") * col("nd") * lit(PhDeltaMicro))
      .withColumn("runmin",
        min("m").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ph", col("m") - col("runmin")))
    val mx = curve.agg(max(col("ph")).as("ph_best"))
    curve.crossJoin(broadcast(mx))
      .filter(col("ph") === col("ph_best"))
      .groupBy("nd", "ph_best")
      .agg(min(col("day")).as("alarm_day"))
      .select(
        col("nd").as("n_days"),
        date_format(col("alarm_day"), "yyyy-MM-dd").as("alarm_day"),
        col("ph_best").as("ph_scaled"),
        q6(col("ph_best").cast("double") / (col("nd").cast("double") * lit(1000000.0)))
          .as("ph"),
        (col("ph_best").cast("double") >
          (col("nd").cast("double") * lit(1000000.0) * lit(PhLambda))).cast("int")
          .as("alarm"))
  }

  /** Nelson–Aalen cumulative-hazard estimator over the same
    * customer-lifetime frame as [[kaplanMeier]] — the hazard-side view a
    * churn model trains against: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with Poisson
    * variance Σ dᵢ/nᵢ², additive where KM is multiplicative (so it
    * remains defined past a total-wipeout event time, where KM's
    * survival hits exact 0 and its log dies).
    *
    * Determinism: each increment dᵢ/nᵢ (and dᵢ/nᵢ²) is ONE division of
    * exact BIGINTs, floor-quantized at 9 dp (variance increments at
    * n ≈ 10³ are ~10⁻⁷ — 6 dp would zero them) and cast to
    * DECIMAL(18,9) (safe: the quantized double sits within one ulp of
    * k/10⁹, far from any cast tie), so the cumulative sums are exact
    * and order-independent; output casts back to double.
    *
    * Scale shape: identical to KM — per-customer aggregate, duration-
    * bounded byDur frame, windows over ≤|durations| rows; the lifetime
    * frame and risk set are KM's own ([[lifetimes]], [[riskSet]]). */
  def nelsonAalen(s: SparkSession, d: String): DataFrame = {
    val q9 = (c: Column) => (floor(c * lit(1000000000.0) + lit(0.5)) /
      lit(1000000000.0)).cast(DecimalType(18, 9))
    val byDur = lifetimes(Tables.orders(s, d), "o_custkey").groupBy("dur")
      .agg(count(lit(1)).as("all_at"), sum(lit(1) - col("cens")).as("d"))
    val wo = Window.orderBy("dur")
    val run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskSet(byDur)
      .filter(col("d") > 0)
      .withColumn("h_inc", q9(col("d").cast("double") / col("n_risk").cast("double")))
      .withColumn("v_inc", q9(col("d").cast("double") /
        (col("n_risk") * col("n_risk")).cast("double")))
      .select(col("dur").as("dur_days"), col("n_risk"), col("d").as("n_death"),
        col("h_inc").cast("double").as("h_inc"),
        sum("h_inc").over(run).cast("double").as("cum_hazard"),
        sum("v_inc").over(run).cast("double").as("cum_var"))
      .orderBy("dur_days")
  }

  /** Two-sample log-rank test between the AUTOMOBILE and BUILDING
    * customer segments over the [[kaplanMeier]] lifetime frame — the
    * inference step the survival pair ([[kaplanMeier]] curve,
    * [[nelsonAalen]] hazard) leads to: do the two segments churn at the
    * same rate, censoring handled correctly on both sides? At each
    * distinct churn time t: O−E accumulates d_A − d·n_A/n and the
    * hypergeometric variance d·n_A·(n−n_A)·(n−d)/(n²(n−1)); χ² =
    * (O−E)²/V is χ²₁ under equal hazards, so χ² ≫ 3.84 ⇒ the segments
    * need separate retention models.
    *
    * Determinism — the [[ksDrift]] scaled-integer recipe, not per-term
    * float sums: each expectation and variance term is an exact
    * INTEGER division (dt·n_A·10⁶ div n, and the variance product div
    * n²(n−1), DECIMAL(38,0) products so n ~ 10⁹ cannot wrap), summed as
    * exact BIGINTs — the statistic is DEFINED on the micro-unit lattice,
    * so there is no accumulated-float freedom and no quantize
    * knife-edge (a rational CAN land on floor(x·10⁶+0.5)'s half-way
    * point; integer div cannot). χ² is ONE division of exact integers.
    * Per-term div results are ≤ dt·10⁶, so the BIGINT sums hold to
    * ~10¹² customers.
    *
    * Scale shape: one per-customer aggregate (map-side combined), a
    * 1-row extent broadcast, then ALL log-rank work on the
    * duration-bounded (dur × 2 segments) grid — windows over ≤2·|durs|
    * rows, one final 1-row reduce. Customer count never enters a
    * window. */
  private def logRankStat(s: SparkSession, d: String): DataFrame = {
    val segA = "AUTOMOBILE"; val segB = "BUILDING"
    val life = lifetimes(Tables.orders(s, d)
      .join(Tables.customer(s, d).filter(col("c_mktsegment").isin(segA, segB))
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey")), "o_custkey", "seg")
    val byDurG = life.groupBy("dur", "seg")
      .agg(count(lit(1)).as("all_at"), sum(lit(1) - col("cens")).as("dth"))
    // zero-filled (dur × seg) grid: a segment with no row at a duration
    // still sits in the risk set there, so the cumulative window must
    // see an explicit 0 — the EWMA causal-grid lesson (ADVICE r7)
    val segs = { import s.implicits._; Seq(segA, segB).toDF("seg") }
    val grid = byDurG.select(col("dur")).distinct()
      .crossJoin(broadcast(segs))
      .join(byDurG, Seq("dur", "seg"), "left")
      .select(col("dur"), col("seg"),
        coalesce(col("all_at"), lit(0L)).as("all_at"),
        coalesce(col("dth"), lit(0L)).as("dth"))
    val wg = Window.partitionBy("seg").orderBy("dur")
    val cum = grid
      .withColumn("tot_g", sum("all_at").over(Window.partitionBy("seg")))
      .withColumn("before", coalesce(
        sum("all_at").over(wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", col("tot_g") - col("before"))
    val byTime = cum.groupBy("dur")
      .agg(sum(when(col("seg") === segA, col("dth"))).as("d1"),
        sum(when(col("seg") === segA, col("n_risk"))).as("n1"),
        sum(col("dth")).as("dt"),
        sum(col("n_risk")).as("n"))
      .filter(col("dt") > 0 && col("n") > 1)
      .withColumn("e_term",
        expr("CAST(dt AS DECIMAL(38,0)) * n1 * 1000000 div n"))
      .withColumn("e_term_b",
        expr("CAST(dt AS DECIMAL(38,0)) * (n - n1) * 1000000 div n"))
      .withColumn("v_term",
        expr("""CAST(dt AS DECIMAL(38,0)) * n1 * (n - n1) * (n - dt) * 1000000
               | div (CAST(n AS DECIMAL(38,0)) * n * (n - 1))""".stripMargin))
    val sizes = life.groupBy("seg").agg(count(lit(1)).as("n_cust"))
      .groupBy().pivot("seg", Seq(segA, segB)).sum("n_cust")
      .select(col(segA).as("n_a"), col(segB).as("n_b"))
    val stat = byTime.agg(
      sum("d1").as("o_a_long"),
      sum(col("dt") - col("d1")).as("o_b_long"),
      sum("e_term").as("e_micro"),
      sum("e_term_b").as("eb_micro"),
      sum("v_term").as("v_micro"))
    stat.crossJoin(broadcast(sizes))
  }

  /** The two-sample log-rank test — see [[logRankStat]] for the shared
    * O/E/V machinery; this emits the χ² readout. */
  def logRank(s: SparkSession, d: String): DataFrame = {
    val num = (col("o_a_long").cast(Dec0) * lit(1000000L).cast(Dec0) -
      col("e_micro").cast(Dec0))
    logRankStat(s, d)
      .select(
        lit("AUTOMOBILE").as("seg_a"), lit("BUILDING").as("seg_b"),
        col("n_a"), col("n_b"), col("o_a_long").as("o_a"),
        Det.q6(col("e_micro").cast("double") / lit(1000000.0)).as("e_a"),
        Det.q6(col("v_micro").cast("double") / lit(1000000.0)).as("v"),
        when(col("v_micro") === lit(0L), lit(null).cast("double"))
          .otherwise(Det.q6((num * num).cast("double") /
            (col("v_micro").cast(Dec0) * lit(1000000L).cast(Dec0)).cast("double"))).as("chi2"))
  }

  /** Hazard ratio between the two [[logRank]] segments, estimated the
    * O/E way: HR = (O_A/E_A)/(O_B/E_B) — the EFFECT SIZE the log-rank
    * χ² deliberately is not (χ² says "hazards differ"; HR says "segment
    * A churns 1.3× faster", the number a retention owner budgets
    * against). Reported with both groups' observed/expected so the
    * direction is auditable.
    *
    * Determinism: O and the micro-lattice E integers come from the
    * SHARED [[logRankStat]] aggregate (E_B uses the same exact integer
    * division with n−n₁); the E_A + E_B ≈ D identity is a spec law. HR
    * cross-multiplies to (O_A·E_Bµ)/(O_B·E_Aµ) — exact DECIMAL(38,0)
    * products, ONE division, 6-dp-rounded; a zero denominator (no B
    * deaths, or E_A = 0) pins NULL both sides.
    *
    * Scale shape: identical to [[logRank]] — the duration-bounded grid,
    * one extra integer column through the same aggregate. */
  def hazardRatio(s: SparkSession, d: String): DataFrame = {
    val num = col("o_a_long").cast(Dec0) * col("eb_micro").cast(Dec0)
    val den = col("o_b_long").cast(Dec0) * col("e_micro").cast(Dec0)
    logRankStat(s, d)
      .select(
        lit("AUTOMOBILE").as("seg_a"), lit("BUILDING").as("seg_b"),
        col("o_a_long").as("o_a"),
        Det.q6(col("e_micro").cast("double") / lit(1000000.0)).as("e_a"),
        col("o_b_long").as("o_b"),
        Det.q6(col("eb_micro").cast("double") / lit(1000000.0)).as("e_b"),
        when(den === lit(0), lit(null).cast("double"))
          .otherwise(Det.q6(num.cast("double") / den.cast("double")))
          .as("hazard_ratio"))
  }

  /** Wilcoxon signed-rank test on paired daily totals of the 'click' vs
    * 'view' event streams — the PAIRED companion to [[mannWhitney]]
    * (which compares independent samples): each day is its own control,
    * so day-level traffic swings cancel and only the within-day
    * click−view asymmetry accumulates. W⁺ sums the ranks of |diff| over
    * positive-diff days (midranks on ties, zero diffs dropped — the
    * standard Wilcoxon discipline); z normalizes by the tie-corrected
    * variance, so |z| ≫ 1.96 ⇒ one stream systematically out-earns the
    * other on matched days.
    *
    * Determinism: daily totals are exact micro-unit BIGINTs, diffs are
    * BIGINT subtraction, and midranks live on the half-integer lattice —
    * carried as 2×rank INTEGERS (tie group of size c starting at
    * 1-based position p has 2·avgrank = 2p + c − 1), so W2⁺ = Σ c⁺·r2,
    * the tie term Σ(c³−c), and var12 = 2n(n+1)(2n+1) − Σ(c³−c) are all
    * exact BIGINTs. z = (W2⁺ − n(n+1)/2) / sqrt(var12/12) is a fixed
    * tree of elementary IEEE ops on exact integers (sqrt correctly
    * rounded by spec), 6-dp floor-quantized; w_plus/w_minus divide the
    * exact 2× integers by 2.0 once. BIGINT bounds: Σ(c³) ≤ n³ — safe to
    * ~2·10⁶ paired days (calendar-bounded domain; a longer study
    * month-shards first).
    *
    * Scale shape: one map-side-combined (day) aggregate over the two
    * event streams; everything after runs on the calendar-bounded daily
    * frame (tie-group aggregate + one cumulative window + 1-row
    * reduce). */
  def wilcoxonSignedRank(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_type").isin("click", "view"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        coalesce(sum(when(col("event_type") === "click",
          micro(col("value")))), lit(0L)).as("sc"),
        coalesce(sum(when(col("event_type") === "view",
          micro(col("value")))), lit(0L)).as("sv"))
      .withColumn("diff", col("sc") - col("sv"))
      .filter(col("diff") =!= 0L)
    val ties = daily.groupBy(abs(col("diff")).as("adiff"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("cpos"))
    val wo = Window.orderBy("adiff")
    val ranked = ties
      .withColumn("cumBefore", coalesce(
        sum("c").over(wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2", lit(2L) * col("cumBefore") + col("c") + lit(1L))
    val agg = ranked.agg(
      sum("c").as("n"),
      sum(col("cpos") * col("r2")).as("w2p"),
      sum((col("c") - col("cpos")) * col("r2")).as("w2m"),
      sum(col("c") * col("c") * col("c") - col("c")).as("tie3"))
    val n = col("n").cast("double")
    val var12 = (lit(2L) * col("n") * (col("n") + 1L) * (lit(2L) * col("n") + 1L)
      - col("tie3")).cast("double")
    agg.filter(col("n") > 0 && var12 > 0)
      .select(col("n").as("n_pairs"),
        (col("w2p").cast("double") / lit(2.0)).as("w_plus"),
        (col("w2m").cast("double") / lit(2.0)).as("w_minus"),
        q6((col("w2p") - (col("n") * (col("n") + 1L)) / 2L).cast("double") /
          sqrt(var12 / lit(12.0))).as("z"))
  }

  /** Median survival time and curve tail off the [[kaplanMeier]] curve —
    * the two numbers a retention review quotes from the whole plot: the
    * first duration where S(t) drops to ≤ 0.5 (NULL when the curve never
    * reaches it — the standard "median not reached" readout under heavy
    * censoring), and the final surviving share.
    *
    * Determinism: a rank selection (min over a CASE) and a min over the
    * already-quantized monotone curve — no new arithmetic at all.
    * Scale shape: the KM lineage + a 1-row reduce. */
  def survMedian(s: SparkSession, d: String): DataFrame =
    kaplanMeier(s, d).agg(
      count(lit(1)).as("n_times"),
      sum("n_death").as("n_deaths"),
      min(when(col("surv") <= 0.5, col("dur_days"))).as("median_days"),
      min("surv").as("final_surv"))

  /** Restricted mean survival time (RMST) up to the last event time —
    * the AREA under the [[kaplanMeier]] step curve: the average
    * event-free days per customer inside the observation window, the
    * survival summary that stays defined when [[survMedian]]'s median is
    * never reached and the difference-in-RMST is the effect measure
    * survival comparisons report when hazards aren't proportional.
    *
    * Determinism: S(t) is constant between event times, so RMST is an
    * exact step sum Σ S(tᵢ₋₁)·(tᵢ − tᵢ₋₁) with S(t₀) = 1: each segment
    * is ONE multiply of the already-quantized surv by an exact BIGINT
    * day span, 6-dp-quantized into DECIMAL(18,6), summed exactly.
    * Scale shape: the KM lineage + one lag window over the
    * duration-bounded curve + a 1-row reduce. */
  def rmst(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("dur_days")
    kaplanMeier(s, d)
      .withColumn("prev_surv", lag("surv", 1, 1.0).over(w))
      .withColumn("prev_dur", lag("dur_days", 1, 0).over(w))
      .withColumn("seg",
        q6(col("prev_surv") * (col("dur_days") - col("prev_dur")))
          .cast(DecimalType(18, 6)))
      .agg(max("dur_days").as("t_max"),
        sum("seg").cast("double").as("rmst_days"))
  }

  /** Cohen's d and Hedges' g between every pair of event types — the
    * EFFECT-SIZE completion of the A/B and rank-test families (the
    * t/Mann–Whitney/ANOVA rows say whether a difference exists; d says
    * whether it is big enough to matter — the number a data-mixing or
    * filter-threshold decision actually needs): d = (x̄₁ − x̄₂)/s_pooled,
    * g = d·(1 − 3/(4(n₁+n₂) − 9)) (the small-sample bias correction).
    *
    * Determinism: per-type sufficient statistics are exact (n, Σm, Σm²)
    * with m the micro BIGINT; (n·Σm² − (Σm)²) is DECIMAL(38,0)-exact;
    * means, the pooled variance ((a₁/n₁ + a₂/n₂)/(n₁+n₂−2) — a = the
    * exact decimal, each division one IEEE op), d and g are one fixed
    * tree each, 6-dp floor-quantized.
    *
    * Scale shape: ONE map-side-combined per-type aggregate (≤|types|
    * rows), a broadcast self-join over the ≤|types|² pair grid —
    * the events table is scanned once and never shuffled. */
  def cohensD(s: SparkSession, d: String): DataFrame = {
    val st = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), micro(col("value")).as("m"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("m").as("sm"),
        sum(col("m").cast(Dec0) * col("m").cast(Dec0)).as("sm2"))
    val a = st.select(col("event_type").as("type_a"), col("n").as("n_a"),
      col("sm").as("sm_a"), col("sm2").as("sm2_a"))
    val b = st.select(col("event_type").as("type_b"), col("n").as("n_b"),
      col("sm").as("sm_b"), col("sm2").as("sm2_b"))
    val meanA = col("sm_a").cast("double") / col("n_a").cast("double")
    val meanB = col("sm_b").cast("double") / col("n_b").cast("double")
    val aA = (col("n_a").cast(Dec0) * col("sm2_a") -
      col("sm_a").cast(Dec0) * col("sm_a").cast(Dec0)).cast("double")
    val aB = (col("n_b").cast(Dec0) * col("sm2_b") -
      col("sm_b").cast(Dec0) * col("sm_b").cast(Dec0)).cast("double")
    val sp = sqrt((aA / col("n_a").cast("double") + aB / col("n_b").cast("double")) /
      (col("n_a") + col("n_b") - 2).cast("double"))
    val dEff = (meanA - meanB) / sp
    val corr = lit(1.0) - lit(3.0) /
      (lit(4.0) * (col("n_a") + col("n_b")).cast("double") - lit(9.0))
    a.join(broadcast(b), col("type_b") > col("type_a"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        q6(meanA / lit(1000000.0)).as("mean_a"),
        q6(meanB / lit(1000000.0)).as("mean_b"),
        q6(dEff).as("cohens_d"),
        q6(dEff * corr).as("hedges_g"))
      .orderBy("type_a", "type_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cohens_d" -> (cohensD _),
    "q_energy_dist" -> (energyDistance _),
    "q_tost" -> (tost _),
    "q_surv_median" -> (survMedian _),
    "q_rmst" -> (rmst _),
    "q_log_rank" -> (logRank _),
    "q_wilcoxon" -> (wilcoxonSignedRank _),
    "q_pacf" -> (pacf _),
    "q_grubbs" -> (grubbs _),
    "q_cliff_delta" -> (cliffDelta _),
    "q_lorenz" -> (lorenzCurve _),
    "q_mood_median" -> (moodMedian _),
    "q_two_prop_z" -> (twoPropZ _),
    "q_sprt" -> (sprt _),
    "q_qq_plot" -> (qqPlot _),
    "q_hazard_ratio" -> (hazardRatio _),
    "q_spc_xbar" -> (spcXbar _),
    "q_nelson_aalen" -> (nelsonAalen _),
    "q_jarque_bera" -> (jarqueBera _),
    "q_ljung_box" -> (ljungBox _),
    "q_page_hinkley" -> (pageHinkley _),
    "q_friedman" -> (friedman _),
    "q_kruskal_wallis" -> (kruskalWallis _),
    "q_mann_kendall" -> (mannKendall _),
    "q_cvm_drift" -> (cvmDrift _),
    "q_kendall_tau" -> (kendallTau _),
    "q_runs_test" -> (runsTest _),
    "q_perm_entropy" -> (permEntropy _),
    "q_levene" -> (levene _),
    "q_anova_f" -> (anovaF _),
    "q_emd_drift" -> (emdDrift _),
    "q_theil_index" -> (theilIndex _),
    "q_weighted_median" -> (weightedMedian _),
    "q_changepoint" -> (changepoint _),
    "q_hill_tail" -> (hillTail _),
    "q_capture_recapture" -> (captureRecapture _),
    "q_ab_mde" -> (abMde _),
    "q_gini" -> (gini _),
    "q_kaplan_meier" -> (kaplanMeier _),
    "q_bootstrap_ci" -> (bootstrapCi _),
    "q_cuped" -> (cuped _),
    "q_ab_srm" -> (abSrm _),
    "q_mutual_info" -> (mutualInfo _),
    "q_spearman" -> (spearman _),
    "q_ab_ttest" -> (abTtest _),
    "q_benford" -> (benford _),
    "q_cusum_drift" -> (cusumDrift _),
    "q_autocorr" -> (autocorr _),
    "q_embed_drift" -> (embedDrift _),
    "q_corr_regr" -> (corrRegr _),
    "q_histogram" -> (histogram _),
    "q_width_bucket" -> (widthBucket _),
    "q_weighted_avg_udaf" -> (weightedAvgUdaf _),
    "q_outlier_mad" -> (outlierMad _),
    "q_outlier_iqr" -> (iqrOutlier _),
    "q_ks_drift" -> (ksDrift _),
    "q_chisq_drift" -> (chisqDrift _),
    "q_psi_drift" -> (psiDrift _),
    "q_drift_report" -> (driftReport _),
    "q_mannwhitney" -> (mannWhitney _),
    "q_contingency_assoc" -> (contingencyAssoc _),
    "q_winsorize" -> (winsorize _),
  )

  /** The [[lagCorr]] oracle body through CTE `r(event_type, n_days, r1,
    * r2, r3)` — shared by the q_ljung_box and q_pacf oracles (byte-moved
    * from the original q_ljung_box SQL). */
  // lazy: interpolated by `oracle` entries during object initialization
  private lazy val LagCorrCtes: String =
    """daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE value IS NOT NULL
      |  GROUP BY 1, 2
      |), tt AS (
      |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS nd
      |  FROM daily GROUP BY 1
      |), y AS (
      |  SELECT d.event_type, tt.nd,
      |         CAST(tt.nd AS HUGEINT) * d.x - tt.tot AS y,
      |         LEAD(CAST(tt.nd AS HUGEINT) * d.x - tt.tot, 1)
      |           OVER (PARTITION BY d.event_type ORDER BY d.day) AS y1,
      |         LEAD(CAST(tt.nd AS HUGEINT) * d.x - tt.tot, 2)
      |           OVER (PARTITION BY d.event_type ORDER BY d.day) AS y2,
      |         LEAD(CAST(tt.nd AS HUGEINT) * d.x - tt.tot, 3)
      |           OVER (PARTITION BY d.event_type ORDER BY d.day) AS y3
      |  FROM daily d JOIN tt ON d.event_type = tt.event_type
      |), sums AS (
      |  SELECT event_type, CAST(MIN(nd) AS BIGINT) AS n_days,
      |         SUM(y * y) AS den,
      |         SUM(CASE WHEN y1 IS NOT NULL THEN y * y1 END) AS num1,
      |         SUM(CASE WHEN y2 IS NOT NULL THEN y * y2 END) AS num2,
      |         SUM(CASE WHEN y3 IS NOT NULL THEN y * y3 END) AS num3
      |  FROM y GROUP BY event_type
      |), r AS (
      |  SELECT event_type, n_days,
      |         floor(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) * 1000000 + 0.5) / 1000000 AS r1,
      |         floor(CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE) * 1000000 + 0.5) / 1000000 AS r2,
      |         floor(CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE) * 1000000 + 0.5) / 1000000 AS r3
      |  FROM sums WHERE n_days > 3 AND den > 0
      |)""".stripMargin

  /** The shared two-segment log-rank oracle body through `stat` and
    * `sizes` (byte-moved from the original q_log_rank entry, plus the
    * group-B observed/expected columns) — used by q_log_rank and
    * q_hazard_ratio. */
  // lazy: interpolated by `oracle` entries during object initialization
  private lazy val LogRankCtes: String =
    """per AS (
      |  SELECT o.o_custkey, c.c_mktsegment AS seg,
      |         min(epoch_us(o_orderdate)) AS mn,
      |         max(epoch_us(o_orderdate)) AS mx
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |  GROUP BY 1, 2
      |), ext AS (SELECT min(mn) AS lo, max(mx) AS hi FROM per),
      |life AS (
      |  SELECT seg, (mx - mn) // 86400000000 AS dur,
      |         CASE WHEN mx > lo + ((hi - lo) * 4) // 5 THEN 1 ELSE 0 END AS cens
      |  FROM per, ext
      |), bydurg AS (
      |  SELECT dur, seg, CAST(count(*) AS BIGINT) AS all_at,
      |         CAST(sum(1 - cens) AS BIGINT) AS dth
      |  FROM life GROUP BY 1, 2
      |), grid AS (
      |  SELECT dd.dur, ss.seg,
      |         COALESCE(b.all_at, 0) AS all_at, COALESCE(b.dth, 0) AS dth
      |  FROM (SELECT DISTINCT dur FROM bydurg) dd
      |  CROSS JOIN (VALUES ('AUTOMOBILE'), ('BUILDING')) ss(seg)
      |  LEFT JOIN bydurg b ON b.dur = dd.dur AND b.seg = ss.seg
      |), cum AS (
      |  SELECT dur, seg, dth,
      |    sum(all_at) OVER (PARTITION BY seg)
      |      - COALESCE(sum(all_at) OVER (PARTITION BY seg ORDER BY dur
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM grid
      |), bytime AS (
      |  SELECT dur,
      |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN dth END) AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN n_risk END) AS BIGINT) AS n1,
      |    CAST(sum(dth) AS BIGINT) AS dt,
      |    CAST(sum(n_risk) AS BIGINT) AS n
      |  FROM cum GROUP BY dur
      |), terms AS (
      |  SELECT d1, dt, (CAST(dt AS HUGEINT) * n1 * 1000000) // n AS e_term,
      |    (CAST(dt AS HUGEINT) * (n - n1) * 1000000) // n AS e_term_b,
      |    (CAST(dt AS HUGEINT) * n1 * (n - n1) * (n - dt) * 1000000)
      |      // (CAST(n AS HUGEINT) * n * (n - 1)) AS v_term
      |  FROM bytime WHERE dt > 0 AND n > 1
      |), stat AS (
      |  SELECT CAST(sum(d1) AS BIGINT) AS o_a,
      |         CAST(sum(dt - d1) AS BIGINT) AS o_b,
      |         CAST(sum(e_term) AS BIGINT) AS e_micro,
      |         CAST(sum(e_term_b) AS BIGINT) AS eb_micro,
      |         CAST(sum(v_term) AS BIGINT) AS v_micro
      |  FROM terms
      |), sizes AS (
      |  SELECT CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_b
      |  FROM life
      |)""".stripMargin

  /** The full [[kaplanMeier]] oracle SQL (byte-moved from the original
    * q_kaplan_meier entry) — shared by q_kaplan_meier itself and the
    * q_surv_median / q_rmst reductions over the same curve. */
  // lazy: interpolated by `oracle` entries during object initialization
  private lazy val KmOracleSql: String =
    """WITH per AS (
      |  SELECT o_custkey, min(epoch_us(o_orderdate)) AS mn,
      |         max(epoch_us(o_orderdate)) AS mx
      |  FROM orders GROUP BY o_custkey
      |), ext AS (SELECT min(mn) AS lo, max(mx) AS hi FROM per),
      |life AS (
      |  SELECT (mx - mn) // 86400000000 AS dur,
      |         CASE WHEN mx > lo + ((hi - lo) * 4) // 5 THEN 1 ELSE 0 END AS cens
      |  FROM per, ext
      |), bd AS (
      |  SELECT dur, CAST(count(*) AS BIGINT) AS all_at,
      |         CAST(sum(1 - cens) AS BIGINT) AS d,
      |         CAST(sum(cens) AS BIGINT) AS cens
      |  FROM life GROUP BY dur
      |), rk AS (
      |  SELECT dur, d, cens,
      |         CAST(sum(all_at) OVER () -
      |         COALESCE(sum(all_at) OVER (ORDER BY dur
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |  FROM bd
      |), lt AS (
      |  SELECT dur, n_risk, d, cens,
      |    CASE WHEN n_risk > d THEN
      |      CAST(floor((ln(n_risk - d)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
      |      - CAST(floor((ln(n_risk)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) END AS lterm
      |  FROM rk WHERE d > 0
      |), c AS (
      |  SELECT dur, n_risk, d, cens,
      |    min(CASE WHEN n_risk = d THEN dur END) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead_at,
      |    sum(lterm) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM lt
      |)
      |SELECT dur AS dur_days, n_risk, d AS n_death, cens AS n_censor,
      |  CASE WHEN dead_at IS NULL THEN CAST(cum AS DOUBLE) END AS log_surv,
      |  CASE WHEN dead_at IS NOT NULL THEN 0.0
      |       ELSE floor(exp(CAST(cum AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
      |  END AS surv
      |FROM c ORDER BY dur_days""".stripMargin

  val oracle: Map[String, String] = Map(
    // the same exact ordered-pair sums off strictly-less/greater prefix
    // integers (plain windows here — the oracle needs no bucket phase),
    // the same fixed final tree
    "q_energy_dist" ->
      """WITH ev AS (
        |  SELECT value, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY value
        |), cums AS (
        |  SELECT m, c1, c2,
        |         sum(c1) OVER (ORDER BY value) AS cum1,
        |         sum(c2) OVER (ORDER BY value) AS cum2,
        |         sum(CAST(c1 AS HUGEINT) * m) OVER (ORDER BY value) AS cms1,
        |         sum(CAST(c2 AS HUGEINT) * m) OVER (ORDER BY value) AS cms2,
        |         sum(c1) OVER () AS n1, sum(c2) OVER () AS n2,
        |         sum(CAST(c1 AS HUGEINT) * m) OVER () AS t1,
        |         sum(CAST(c2 AS HUGEINT) * m) OVER () AS t2
        |  FROM ev
        |), terms AS (
        |  SELECT n1, n2,
        |    sum(c1 * (CAST(m AS HUGEINT) * (cum2 - c2) - (cms2 - CAST(c2 AS HUGEINT) * m)
        |            + (t2 - cms2) - CAST(m AS HUGEINT) * (n2 - cum2))) AS sxy,
        |    sum(c1 * (CAST(m AS HUGEINT) * (cum1 - c1) - (cms1 - CAST(c1 AS HUGEINT) * m)
        |            + (t1 - cms1) - CAST(m AS HUGEINT) * (n1 - cum1))) AS sxx,
        |    sum(c2 * (CAST(m AS HUGEINT) * (cum2 - c2) - (cms2 - CAST(c2 AS HUGEINT) * m)
        |            + (t2 - cms2) - CAST(m AS HUGEINT) * (n2 - cum2))) AS syy
        |  FROM cums GROUP BY n1, n2
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  floor(CAST(sxy AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) / 1000000.0
        |        * 1000000.0 + 0.5) / 1000000.0 AS e_xy,
        |  floor(CAST(sxx AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) / 1000000.0
        |        * 1000000.0 + 0.5) / 1000000.0 AS e_xx,
        |  floor(CAST(syy AS DOUBLE) / CAST(n2 * n2 AS DOUBLE) / 1000000.0
        |        * 1000000.0 + 0.5) / 1000000.0 AS e_yy,
        |  floor((2.0 * (CAST(sxy AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) / 1000000.0)
        |         - CAST(sxx AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) / 1000000.0
        |         - CAST(syy AS DOUBLE) / CAST(n2 * n2 AS DOUBLE) / 1000000.0)
        |        * 1000000.0 + 0.5) / 1000000.0 AS energy_dist,
        |  floor(CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
        |        * (2.0 * (CAST(sxy AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) / 1000000.0)
        |           - CAST(sxx AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) / 1000000.0
        |           - CAST(syy AS DOUBLE) / CAST(n2 * n2 AS DOUBLE) / 1000000.0)
        |        * 1000000.0 + 0.5) / 1000000.0 AS e_stat
        |FROM terms""".stripMargin,
    // exact HUGEINT sufficient stats per type, the same fixed IEEE tree
    // for d and the Hedges correction, 6-dp floor-quantized
    "q_cohens_d" ->
      """WITH st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sm,
        |         sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS HUGEINT)
        |             * CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS sm2
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       a.n AS n_a, b.n AS n_b,
        |       floor(CAST(a.sm AS DOUBLE) / CAST(a.n AS DOUBLE) / 1000000.0
        |             * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
        |       floor(CAST(b.sm AS DOUBLE) / CAST(b.n AS DOUBLE) / 1000000.0
        |             * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
        |       floor((CAST(a.sm AS DOUBLE) / CAST(a.n AS DOUBLE)
        |              - CAST(b.sm AS DOUBLE) / CAST(b.n AS DOUBLE))
        |             / sqrt((CAST(a.n * a.sm2 - CAST(a.sm AS HUGEINT) * a.sm AS DOUBLE) / CAST(a.n AS DOUBLE)
        |                     + CAST(b.n * b.sm2 - CAST(b.sm AS HUGEINT) * b.sm AS DOUBLE) / CAST(b.n AS DOUBLE))
        |                    / CAST(a.n + b.n - 2 AS DOUBLE))
        |             * 1000000.0 + 0.5) / 1000000.0 AS cohens_d,
        |       floor((CAST(a.sm AS DOUBLE) / CAST(a.n AS DOUBLE)
        |              - CAST(b.sm AS DOUBLE) / CAST(b.n AS DOUBLE))
        |             / sqrt((CAST(a.n * a.sm2 - CAST(a.sm AS HUGEINT) * a.sm AS DOUBLE) / CAST(a.n AS DOUBLE)
        |                     + CAST(b.n * b.sm2 - CAST(b.sm AS HUGEINT) * b.sm AS DOUBLE) / CAST(b.n AS DOUBLE))
        |                    / CAST(a.n + b.n - 2 AS DOUBLE))
        |             * (1.0 - 3.0 / (4.0 * CAST(a.n + b.n AS DOUBLE) - 9.0))
        |             * 1000000.0 + 0.5) / 1000000.0 AS hedges_g
        |FROM st a JOIN st b ON b.event_type > a.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    // the shared lag frame; each Durbin-Levinson level quantized before
    // the next consumes it, zero pivots pinned to NULL
    "q_pacf" ->
      s"""WITH $LagCorrCtes,
        |l2 AS (
        |  SELECT event_type, n_days, r1, r2, r3,
        |    CASE WHEN 1.0e0 - r1 * r1 = 0 THEN NULL
        |         ELSE floor((r2 - r1 * r1) / (1.0e0 - r1 * r1)
        |                    * 1000000 + 0.5) / 1000000
        |    END AS p2
        |  FROM r
        |), l2b AS (
        |  SELECT event_type, n_days, r1, r2, r3, p2,
        |    floor((r1 - p2 * r1) * 1000000 + 0.5) / 1000000 AS p21
        |  FROM l2
        |), l3 AS (
        |  SELECT event_type, n_days, r1, r2, r3, p2, p21,
        |    CASE WHEN p2 IS NULL
        |           OR 1.0e0 - p21 * r1 - p2 * r2 = 0 THEN NULL
        |         ELSE floor((r3 - p21 * r2 - p2 * r1)
        |                    / (1.0e0 - p21 * r1 - p2 * r2)
        |                    * 1000000 + 0.5) / 1000000
        |    END AS p3
        |  FROM l2b
        |)
        |SELECT event_type, n_days, r1, r2, r3,
        |       r1 AS pacf1, p2 AS pacf2, p3 AS pacf3
        |FROM l3 ORDER BY event_type""".stripMargin,
    // exact integer daily means; the +-3 sigma gate is the pure integer
    // comparison dq^2*(m-1) > 9*sum(dq^2)
    "q_spc_xbar" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), ctr AS (
        |  SELECT floor(CAST(SUM(tot) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
        |               * 1000000 + 0.5) / 1000000 AS c,
        |         CAST(count(*) AS BIGINT) AS m
        |  FROM daily
        |), dev AS (
        |  SELECT day, n, tot, c, m,
        |    CAST(floor((CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 - c)
        |               * 1000 + 0.5) AS HUGEINT) AS dq
        |  FROM daily, ctr
        |), s2 AS (SELECT SUM(dq * dq) AS s2 FROM dev)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n, c AS center,
        |  floor(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |        * 1000000 + 0.5) / 1000000 AS xbar,
        |  CAST(dq AS BIGINT) AS dev_milli,
        |  CAST(dq * dq * (m - 1) > 9 * s2 AS INTEGER) AS out_of_control
        |FROM dev, s2 WHERE m > 1
        |ORDER BY day""".stripMargin,
    // pinned 6-dp log constants; per-day LLR quantized into DECIMAL so
    // the running sum is exact; decisions compare cumulative to pinned
    // boundary literals
    "q_sprt" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT day, x, m,
        |    CAST(floor((CAST(x AS DOUBLE) * 0.200671e0
        |                + CAST(m - x AS DOUBLE) * -0.05001e0)
        |               * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS llr_day
        |  FROM daily
        |), c AS (
        |  SELECT day, x, m, llr_day,
        |    SUM(llr_day) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr_cum
        |  FROM t
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, x, m,
        |  CAST(llr_day AS DOUBLE) AS llr_day,
        |  CAST(llr_cum AS DOUBLE) AS llr_cum,
        |  CASE WHEN llr_cum >= 2.944439e0 THEN 'accept_h1'
        |       WHEN llr_cum <= -2.944439e0 THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM c ORDER BY day""".stripMargin,
    // discrete rank selection at ranks ceil(k*n/10) per group — raw
    // parquet doubles out, one IEEE subtraction for the gap
    "q_qq_plot" ->
      """WITH ev AS (
        |  SELECT event_type AS grp, value AS v FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |), bv AS (
        |  SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY 1, 2
        |), rk AS (
        |  SELECT grp, v, cnt,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS n
        |  FROM bv
        |), ks AS (SELECT unnest(range(1, 10)) AS decile),
        |p AS (
        |  SELECT ks.decile,
        |    MIN(CASE WHEN grp = 'click' THEN v END) AS q_click,
        |    MIN(CASE WHEN grp = 'view' THEN v END) AS q_view
        |  FROM rk JOIN ks ON cum - cnt < (ks.decile * n + 9) // 10
        |                  AND (ks.decile * n + 9) // 10 <= cum
        |  GROUP BY ks.decile
        |)
        |SELECT CAST(decile AS INTEGER) AS decile, q_click, q_view,
        |       q_click - q_view AS gap
        |FROM p ORDER BY decile""".stripMargin,
    // the outlierMad raw-double rank-selected pooled median; 2x2 chi2
    // in HUGEINT with one final division
    "q_mood_median" ->
      """WITH ev AS (
        |  SELECT event_type AS grp, value AS v FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |), bv AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY v
        |), rk AS (
        |  SELECT v, cnt,
        |    SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS n
        |  FROM bv
        |), m AS (
        |  SELECT (SUM(CASE WHEN cum - cnt < (n + 1) // 2
        |                    AND (n + 1) // 2 <= cum THEN v END)
        |        + SUM(CASE WHEN cum - cnt < (n + 2) // 2
        |                    AND (n + 2) // 2 <= cum THEN v END)) * 0.5e0 AS med
        |  FROM rk
        |), t AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_click,
        |    CAST(SUM(CASE WHEN grp = 'click' AND v > med THEN 1 ELSE 0 END)
        |      AS BIGINT) AS gt_click,
        |    CAST(SUM(CASE WHEN grp = 'view' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_view,
        |    CAST(SUM(CASE WHEN grp = 'view' AND v > med THEN 1 ELSE 0 END)
        |      AS BIGINT) AS gt_view,
        |    MIN(med) AS median
        |  FROM ev, m
        |), x AS (
        |  SELECT n_click, gt_click, n_view, gt_view, median,
        |    CAST(gt_click AS HUGEINT) * (n_view - gt_view)
        |      - CAST(n_click - gt_click AS HUGEINT) * gt_view AS det,
        |    CAST(n_click AS HUGEINT) * n_view
        |      * (gt_click + gt_view)
        |      * ((n_click - gt_click) + (n_view - gt_view)) AS denom
        |  FROM t
        |)
        |SELECT n_click, gt_click, n_view, gt_view, median,
        |  CASE WHEN denom = 0 THEN NULL
        |       ELSE floor((CAST(CAST(n_click + n_view AS HUGEINT) * det * det
        |                       AS DOUBLE) / CAST(denom AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS chi2
        |FROM x""".stripMargin,
    // per-user conversion flags; z as two exact-integer divisions, one
    // sqrt, one final division
    "q_two_prop_z" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS conv
        |  FROM events GROUP BY user_id
        |), t AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM per
        |)
        |SELECT n0, c0, n1, c1,
        |  floor(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS p0,
        |  floor(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS p1,
        |  CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL
        |       ELSE floor((CAST(CAST(c0 AS HUGEINT) * n1
        |                        - CAST(c1 AS HUGEINT) * n0 AS DOUBLE)
        |                   / CAST(CAST(n0 AS HUGEINT) * n1 AS DOUBLE))
        |                  / sqrt(CAST(CAST(c0 + c1 AS HUGEINT)
        |                              * (n0 + n1 - c0 - c1) AS DOUBLE)
        |                         / CAST(CAST(n0 + n1 AS HUGEINT) * n0 * n1
        |                                AS DOUBLE))
        |                  * 1000000 + 0.5) / 1000000
        |  END AS z
        |FROM t""".stripMargin,
    // the mannwhitney rank prefix; delta is one division of exact
    // integers; bands compare the quantized value to double literals
    "q_cliff_delta" ->
      """WITH ev AS (
        |  SELECT value,
        |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |         SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS c2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY value
        |), r AS (
        |  SELECT c1, c2,
        |         SUM(c1 + c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - (c1 + c2) AS prev
        |  FROM ev
        |), t AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |         CAST(SUM(c2) AS BIGINT) AS n2,
        |         CAST(SUM(c1 * (2 * prev + c1 + c2 + 1)) AS BIGINT) AS r1_x2
        |  FROM r
        |), dx AS (
        |  SELECT n1, n2,
        |    floor(CAST((r1_x2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE)
        |          / CAST(n1 * n2 AS DOUBLE) * 1000000 + 0.5) / 1000000 AS delta
        |  FROM t WHERE n1 > 0 AND n2 > 0
        |)
        |SELECT n1, n2, delta,
        |  CASE WHEN abs(delta) < 0.147e0 THEN 'negligible'
        |       WHEN abs(delta) < 0.33e0  THEN 'small'
        |       WHEN abs(delta) < 0.474e0 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM dx""".stripMargin,
    // the gini value frame; decile cover by exact integer intervals;
    // shares are integer ppm divisions + one quantized double division
    "q_lorenz" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS micro
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |), bv AS (
        |  SELECT event_type, micro, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2
        |), cw AS (
        |  SELECT event_type, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY micro
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(CAST(micro AS HUGEINT) * c) OVER (PARTITION BY event_type
        |      ORDER BY micro
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv,
        |    SUM(c) OVER (PARTITION BY event_type) AS n,
        |    SUM(CAST(micro AS HUGEINT) * c) OVER (PARTITION BY event_type) AS tv
        |  FROM bv
        |), ex AS (
        |  SELECT event_type,
        |    unnest(generate_series(CAST((10 * (cum - c)) // n + 1 AS BIGINT),
        |                           CAST(least((10 * cum) // n, 10) AS BIGINT)))
        |      AS decile,
        |    cum, cumv, n, tv
        |  FROM cw
        |  WHERE least((10 * cum) // n, 10) >= (10 * (cum - c)) // n + 1
        |)
        |SELECT event_type, CAST(decile AS INTEGER) AS decile,
        |  CAST(cum AS BIGINT) AS cum_rows,
        |  CAST(cum * 1000000 // n AS BIGINT) AS pop_ppm,
        |  CAST(cumv * 1000000 // tv AS BIGINT) AS value_ppm,
        |  floor(CAST(cumv AS DOUBLE) / CAST(tv AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS value_share
        |FROM ex ORDER BY event_type, decile""".stripMargin,
    // the q_jarque_bera quantized-central-moment recipe: milli-unit
    // integer deviations, HUGEINT power sum, one fixed IEEE tree
    "q_grubbs" ->
      """WITH mu AS (
        |  SELECT event_type AS t,
        |         floor(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
        |               / COUNT(value) * 1000000 + 0.5) / 1000000 AS mu
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), dv AS (
        |  SELECT e.event_type,
        |         CAST(floor((e.value - mu.mu) * 1000 + 0.5) AS HUGEINT) AS dq
        |  FROM events e JOIN mu ON e.event_type = mu.t
        |  WHERE e.value IS NOT NULL
        |), agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         SUM(dq * dq) AS s2,
        |         CAST(MAX(abs(dq)) AS BIGINT) AS max_dev_milli
        |  FROM dv GROUP BY event_type
        |)
        |SELECT event_type, n, max_dev_milli,
        |  floor(CAST(max_dev_milli AS DOUBLE)
        |        / sqrt(CAST(s2 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |        * 1000000 + 0.5) / 1000000 AS g_stat
        |FROM agg WHERE n > 1 AND s2 > 0
        |ORDER BY event_type""".stripMargin,
    // the two-segment KM lifetime frame; expectation/variance terms as
    // exact HUGEINT integer divisions on the micro lattice, summed in
    // BIGINT; chi-square is one division of exact integers
    "q_log_rank" ->
      s"""WITH $LogRankCtes
        |SELECT 'AUTOMOBILE' AS seg_a, 'BUILDING' AS seg_b, n_a, n_b, o_a,
        |  floor((CAST(e_micro AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000 AS e_a,
        |  floor((CAST(v_micro AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000 AS v,
        |  CASE WHEN v_micro = 0 THEN NULL
        |       ELSE floor((CAST((CAST(o_a AS HUGEINT) * 1000000 - e_micro)
        |                       * (CAST(o_a AS HUGEINT) * 1000000 - e_micro)
        |                       AS DOUBLE)
        |                  / CAST(CAST(v_micro AS HUGEINT) * 1000000 AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS chi2
        |FROM stat, sizes""".stripMargin,
    // the shared O/E frame; HR cross-multiplies to one exact division
    "q_hazard_ratio" ->
      s"""WITH $LogRankCtes
        |SELECT 'AUTOMOBILE' AS seg_a, 'BUILDING' AS seg_b, o_a,
        |  floor((CAST(e_micro AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000 AS e_a,
        |  o_b,
        |  floor((CAST(eb_micro AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000 AS e_b,
        |  CASE WHEN CAST(o_b AS HUGEINT) * e_micro = 0 THEN NULL
        |       ELSE floor((CAST(CAST(o_a AS HUGEINT) * eb_micro AS DOUBLE)
        |                  / CAST(CAST(o_b AS HUGEINT) * e_micro AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS hazard_ratio
        |FROM stat, sizes""".stripMargin,
    // paired daily click/view micro totals; 2x midranks on the integer
    // lattice; z as a fixed IEEE tree on exact integers
    "q_wilcoxon" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(COALESCE(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT) END), 0)
        |      AS BIGINT) AS sc,
        |    CAST(COALESCE(sum(CASE WHEN event_type = 'view'
        |      THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT) END), 0)
        |      AS BIGINT) AS sv
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        |  GROUP BY 1
        |), diffs AS (
        |  SELECT sc - sv AS diff FROM daily WHERE sc - sv <> 0
        |), ties AS (
        |  SELECT abs(diff) AS adiff, CAST(count(*) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
        |  FROM diffs GROUP BY 1
        |), ranked AS (
        |  SELECT c, cpos,
        |    2 * COALESCE(sum(c) OVER (ORDER BY adiff
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
        |  FROM ties
        |), agg AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |         CAST(sum(cpos * r2) AS BIGINT) AS w2p,
        |         CAST(sum((c - cpos) * r2) AS BIGINT) AS w2m,
        |         CAST(sum(c * c * c - c) AS BIGINT) AS tie3
        |  FROM ranked
        |)
        |SELECT n AS n_pairs,
        |  CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
        |  CAST(w2m AS DOUBLE) / 2.0 AS w_minus,
        |  floor((w2p - n * (n + 1) / 2.0)
        |        / sqrt((2 * n * (n + 1) * (2 * n + 1) - tie3) / 12.0)
        |        * 1000000 + 0.5) / 1000000 AS z
        |FROM agg
        |WHERE n > 0 AND 2 * n * (n + 1) * (2 * n + 1) - tie3 > 0""".stripMargin,
    // the KM lifetime frame; 9-dp-quantized hazard increments summed in
    // DECIMAL(18,9) — exact and order-independent
    "q_nelson_aalen" ->
      """WITH per AS (
        |  SELECT o_custkey, min(epoch_us(o_orderdate)) AS mn,
        |         max(epoch_us(o_orderdate)) AS mx
        |  FROM orders GROUP BY o_custkey
        |), ext AS (SELECT min(mn) AS lo, max(mx) AS hi FROM per),
        |life AS (
        |  SELECT (mx - mn) // 86400000000 AS dur,
        |         CASE WHEN mx > lo + ((hi - lo) * 4) // 5 THEN 1 ELSE 0 END AS cens
        |  FROM per, ext
        |), bd AS (
        |  SELECT dur, CAST(count(*) AS BIGINT) AS all_at,
        |         CAST(sum(1 - cens) AS BIGINT) AS d
        |  FROM life GROUP BY dur
        |), rk AS (
        |  SELECT dur, d,
        |         CAST(sum(all_at) OVER () -
        |         COALESCE(sum(all_at) OVER (ORDER BY dur
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM bd
        |), h AS (
        |  SELECT dur, n_risk, d,
        |    CAST(floor(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |               * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS h_inc,
        |    CAST(floor(CAST(d AS DOUBLE) / CAST(n_risk * n_risk AS DOUBLE)
        |               * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS v_inc
        |  FROM rk WHERE d > 0
        |)
        |SELECT dur AS dur_days, n_risk, d AS n_death,
        |  CAST(h_inc AS DOUBLE) AS h_inc,
        |  CAST(sum(h_inc) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_hazard,
        |  CAST(sum(v_inc) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_var
        |FROM h ORDER BY dur_days""".stripMargin,
    // quantized central moments: 6-dp mean, milli-unit integer deviations,
    // HUGEINT power sums; g1/g2/JB trees mirrored op-for-op
    "q_jarque_bera" ->
      """WITH mu AS (
        |  SELECT event_type,
        |         floor(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
        |               / COUNT(value) * 1000000 + 0.5) / 1000000 AS mu
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), dv AS (
        |  SELECT e.event_type,
        |         CAST(floor((e.value - mu.mu) * 1000 + 0.5) AS HUGEINT) AS dq
        |  FROM events e JOIN mu USING (event_type)
        |  WHERE e.value IS NOT NULL
        |), sums AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(dq * dq) AS DOUBLE) AS s2,
        |         CAST(SUM(dq * dq * dq) AS DOUBLE) AS s3,
        |         CAST(SUM(dq * dq * dq * dq) AS DOUBLE) AS s4
        |  FROM dv GROUP BY 1
        |)
        |SELECT event_type, n,
        |       floor(s3 * sqrt(CAST(n AS DOUBLE)) / (s2 * sqrt(s2))
        |             * 1000000 + 0.5) / 1000000 AS skew,
        |       floor(s4 * CAST(n AS DOUBLE) / (s2 * s2)
        |             * 1000000 + 0.5) / 1000000 AS kurtosis,
        |       floor(CAST(n AS DOUBLE) *
        |             (s3 * sqrt(CAST(n AS DOUBLE)) / (s2 * sqrt(s2))
        |              * (s3 * sqrt(CAST(n AS DOUBLE)) / (s2 * sqrt(s2)))
        |              + (s4 * CAST(n AS DOUBLE) / (s2 * s2) - 3.0e0)
        |                * (s4 * CAST(n AS DOUBLE) / (s2 * s2) - 3.0e0) / 4.0e0)
        |             / 6.0e0 * 1000000 + 0.5) / 1000000 AS jb
        |FROM sums WHERE n > 1 AND s2 > 0
        |ORDER BY event_type""".stripMargin,
    // the q_autocorr scaled-deviation discipline at lags 1-3; Q from the
    // 6-dp-quantized r_k with the identical fixed tree
    "q_ljung_box" ->
      s"""WITH $LagCorrCtes
        |SELECT event_type, n_days, r1, r2, r3,
        |       floor(CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0e0) *
        |             (r1 * r1 / (CAST(n_days AS DOUBLE) - 1.0e0) +
        |              r2 * r2 / (CAST(n_days AS DOUBLE) - 2.0e0) +
        |              r3 * r3 / (CAST(n_days AS DOUBLE) - 3.0e0))
        |             * 1000000 + 0.5) / 1000000 AS q_lb
        |FROM r ORDER BY event_type""".stripMargin,
    // the q_cusum_drift scaled-integer curve with the delta allowance and
    // a running min; argmax and tie-break are integer decisions
    "q_page_hinkley" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(x) AS BIGINT) AS tt, CAST(COUNT(*) AS BIGINT) AS nd FROM daily
        |), curve AS (
        |  SELECT d.day, tot.nd, tot.tt,
        |         CAST(row_number() OVER (ORDER BY d.day) AS BIGINT) AS t,
        |         SUM(x) OVER (ORDER BY d.day
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily d, tot
        |), mm AS (
        |  SELECT day, nd, nd * cum - t * tt - t * nd * 50000 AS m FROM curve
        |), ph AS (
        |  SELECT day, nd, m,
        |         m - MIN(m) OVER (ORDER BY day
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
        |  FROM mm
        |), best AS (SELECT MAX(ph) AS ph_best FROM ph)
        |SELECT CAST(MIN(nd) AS BIGINT) AS n_days,
        |       strftime(MIN(day), '%Y-%m-%d') AS alarm_day,
        |       CAST(MIN(ph_best) AS BIGINT) AS ph_scaled,
        |       floor(CAST(MIN(ph_best) AS DOUBLE)
        |             / (CAST(MIN(nd) AS DOUBLE) * 1000000.0e0)
        |             * 1000000 + 0.5) / 1000000 AS ph,
        |       CAST(CAST(MIN(ph_best) AS DOUBLE) >
        |            CAST(MIN(nd) AS DOUBLE) * 1000000.0e0 * 5.0e0 AS INTEGER) AS alarm
        |FROM ph, best WHERE ph.ph = best.ph_best""".stripMargin,
    // Poisson weights from the keyed-hash u with PINNED double CDF
    // thresholds (shortest-repr literals parse to identical bits in
    // both engines); replica sums exact; CI endpoints rank-selected
    "q_bootstrap_ci" ->
      """WITH draw AS (
        |  SELECT event_type, value, g * 4 + r + 1 AS b,
        |    (CAST(CAST('0x' || substring(md5('bs:' || event_id || ':' || g),
        |                                 r * 8 + 1, 8)
        |          AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        |  FROM events, (SELECT unnest(range(0, 12)) AS g) tg,
        |               (SELECT unnest(range(0, 4)) AS r) tr
        |), wt AS (
        |  SELECT event_type, value, b,
        |    CASE WHEN u < 0.36787944117144233e0 THEN 0
        |         WHEN u < 0.7357588823428847e0 THEN 1
        |         WHEN u < 0.9196986029286058e0 THEN 2
        |         WHEN u < 0.9810118431238462e0 THEN 3
        |         WHEN u < 0.9963401531726563e0 THEN 4
        |         WHEN u < 0.9994058151824183e0 THEN 5
        |         ELSE 6 END AS w
        |  FROM draw
        |), rep AS (
        |  SELECT event_type, b, CAST(sum(w) AS BIGINT) AS sw,
        |         CAST(SUM(w * CAST(floor(value * 1000000.0e0 + 0.5e0) AS BIGINT))
        |              AS BIGINT) AS swv
        |  FROM wt GROUP BY event_type, b
        |), m AS (
        |  SELECT event_type, b,
        |    CAST(swv AS DOUBLE) / (CAST(sw AS DOUBLE) * 1000000.0e0) AS mean_b,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(swv AS DOUBLE) / (CAST(sw AS DOUBLE) * 1000000.0e0) ASC,
        |               b ASC) AS rn
        |  FROM rep
        |), base AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / count(value) AS mean
        |  FROM events GROUP BY 1
        |)
        |SELECT base.event_type, n, mean, CAST(48 AS BIGINT) AS n_replicas,
        |       lo.mean_b AS ci_lo, hi.mean_b AS ci_hi
        |FROM base
        |JOIN m lo ON lo.event_type = base.event_type AND lo.rn = 2
        |JOIN m hi ON hi.event_type = base.event_type AND hi.rn = 47
        |ORDER BY base.event_type""".stripMargin,
    "q_friedman" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), days AS (SELECT DISTINCT day FROM daily),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |grid AS (
        |  SELECT days.day, types.event_type, COALESCE(daily.x, 0) AS x
        |  FROM days CROSS JOIN types
        |  LEFT JOIN daily ON days.day = daily.day AND types.event_type = daily.event_type
        |), cnt AS (
        |  SELECT day, x, CAST(count(*) AS BIGINT) AS c FROM grid GROUP BY 1, 2
        |), mid AS (
        |  SELECT day, x,
        |    2 * (SUM(c) OVER (PARTITION BY day ORDER BY x
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
        |      + c + 1 AS mid2
        |  FROM cnt
        |), cells AS (
        |  SELECT g.day, g.event_type, m.mid2
        |  FROM grid g JOIN mid m ON g.day = m.day AND g.x = m.x
        |), pt AS (
        |  SELECT event_type, CAST(SUM(mid2) AS BIGINT) AS rj2 FROM cells GROUP BY 1
        |), gl AS (
        |  SELECT CAST(SUM(mid2 * mid2) AS BIGINT) AS ssq2,
        |         CAST(count(DISTINCT day) AS BIGINT) AS nd,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |  FROM cells
        |), a AS (
        |  SELECT nd, k, ssq2,
        |    CAST(SUM((rj2 - nd * (k + 1)) * (rj2 - nd * (k + 1))) AS BIGINT) AS sdev2
        |  FROM pt CROSS JOIN gl GROUP BY nd, k, ssq2
        |)
        |SELECT k, nd AS n_days, k - 1 AS df,
        |  CASE WHEN ssq2 - nd * k * (k + 1) * (k + 1) = 0 THEN 0.0e0
        |       ELSE floor((CAST(k - 1 AS DOUBLE) * CAST(sdev2 AS DOUBLE)
        |                  / CAST(ssq2 - nd * k * (k + 1) * (k + 1) AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS chi2_f,
        |  CASE WHEN ssq2 - nd * k * (k + 1) * (k + 1) = 0 THEN 0.0e0
        |       ELSE floor((CAST(sdev2 AS DOUBLE)
        |                  / (CAST(ssq2 - nd * k * (k + 1) * (k + 1) AS DOUBLE)
        |                     * CAST(nd AS DOUBLE))) * 1000000 + 0.5) / 1000000
        |  END AS kendall_w
        |FROM a""".stripMargin,
    "q_kruskal_wallis" ->
      """WITH evt AS (
        |  SELECT value, event_type, CAST(count(*) AS BIGINT) AS ct
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), ev AS (
        |  SELECT value, CAST(sum(ct) AS BIGINT) AS c FROM evt GROUP BY 1
        |), r AS (
        |  SELECT value, c,
        |    2 * (SUM(c) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
        |      + c + 1 AS mid2
        |  FROM ev
        |), pt AS (
        |  SELECT event_type, CAST(SUM(ct) AS BIGINT) AS nt,
        |         CAST(SUM(ct * mid2) AS BIGINT) AS r2
        |  FROM evt JOIN r USING (value) GROUP BY event_type
        |), g AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n,
        |         CAST(SUM(CAST(c AS HUGEINT) * c * c) - SUM(c) AS BIGINT) AS tie_t
        |  FROM r
        |), terms AS (
        |  SELECT n, tie_t,
        |    CAST(CASE WHEN abs(CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE)
        |                       / (4.0e0 * CAST(nt AS DOUBLE))) < 1e12
        |              THEN floor((CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE)
        |                         / (4.0e0 * CAST(nt AS DOUBLE))) * 1000000 + 0.5) / 1000000
        |              ELSE CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE)
        |                   / (4.0e0 * CAST(nt AS DOUBLE))
        |         END AS DECIMAL(38,6)) AS term
        |  FROM pt CROSS JOIN g
        |), a AS (
        |  SELECT n, tie_t, CAST(count(*) AS BIGINT) AS k, SUM(term) AS sq
        |  FROM terms GROUP BY n, tie_t
        |)
        |SELECT k, n, tie_t, k - 1 AS df,
        |  floor(((12.0e0 * CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |         - 3.0e0 * CAST(n + 1 AS DOUBLE))
        |        / (1.0e0 - CAST(tie_t AS DOUBLE)
        |           / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS h
        |FROM a""".stripMargin,
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT event_type, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
        |  FROM daily
        |), pr AS (
        |  SELECT a.event_type, a.i AS i1, b.i AS i2, a.x AS x1, b.x AS x2
        |  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i < b.i
        |), s AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN x2 > x1 THEN 1 WHEN x2 < x1 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM pr GROUP BY event_type
        |), tg AS (
        |  SELECT event_type, x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2
        |), ties AS (
        |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS nd,
        |         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM tg GROUP BY event_type
        |), sl AS (
        |  SELECT event_type, CAST(x2 - x1 AS DOUBLE) / CAST(i2 - i1 AS DOUBLE) AS slope
        |  FROM pr
        |), sr AS (
        |  SELECT event_type, slope, CAST(count(*) AS BIGINT) AS cnt
        |  FROM sl GROUP BY 1, 2
        |), rk AS (
        |  SELECT event_type, slope, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY slope
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS nn
        |  FROM sr
        |), sen AS (
        |  SELECT event_type,
        |    (SUM(CASE WHEN cum - cnt < (nn + 1) // 2 AND (nn + 1) // 2 <= cum THEN slope END)
        |     + SUM(CASE WHEN cum - cnt < (nn + 2) // 2 AND (nn + 2) // 2 <= cum THEN slope END))
        |    * 0.5e0 AS sen_slope
        |  FROM rk GROUP BY event_type
        |), vz AS (
        |  SELECT s.event_type, s_stat, nd,
        |         nd * (nd - 1) * (2 * nd + 5) - tie18 AS var18
        |  FROM s JOIN ties USING (event_type)
        |)
        |SELECT vz.event_type, nd AS n_days, s_stat, var18,
        |  floor((CASE
        |    WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0e0)
        |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0e0)
        |    ELSE 0.0e0 END) * 1000000 + 0.5) / 1000000 AS z,
        |  sen_slope
        |FROM vz JOIN sen USING (event_type) ORDER BY event_type""".stripMargin,
    "q_cvm_drift" ->
      """WITH ev AS (
        |  SELECT value,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY value
        |), r AS (
        |  SELECT c1, c2,
        |    SUM(c1) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    SUM(c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM ev
        |), tot AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM ev
        |), t AS (
        |  SELECT n1, n2, CAST(count(*) AS BIGINT) AS n_values,
        |    SUM(CAST(c1 + c2 AS HUGEINT)
        |        * (cum1 * n2 - cum2 * n1) * (cum1 * n2 - cum2 * n1)) AS t_scaled
        |  FROM r CROSS JOIN tot GROUP BY n1, n2
        |)
        |SELECT n1, n2, n_values,
        |  floor((CAST(t_scaled AS DOUBLE) /
        |        CAST(CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * n1 * n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS cvm
        |FROM t""".stripMargin,
    "q_kendall_tau" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1
        |), p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN ((a.c - b.c) > 0 AND (a.v - b.v) > 0)
        |                    OR ((a.c - b.c) < 0 AND (a.v - b.v) < 0)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(sum(CASE WHEN ((a.c - b.c) > 0 AND (a.v - b.v) < 0)
        |                    OR ((a.c - b.c) < 0 AND (a.v - b.v) > 0)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        |    CAST(sum(CASE WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT) AS tc,
        |    CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS tv
        |  FROM daily a JOIN daily b ON a.day < b.day
        |)
        |SELECT n0, conc, disc, tc, tv,
        |  floor(CAST(conc - disc AS DOUBLE)
        |        / (sqrt(CAST(n0 - tc AS DOUBLE)) * sqrt(CAST(n0 - tv AS DOUBLE)))
        |        * 1000000.0 + 0.5) / 1000000.0 AS tau_b
        |FROM p""".stripMargin,
    "q_runs_test" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), dd AS (
        |  SELECT event_type, day,
        |    n - lag(n) OVER (PARTITION BY event_type ORDER BY day) AS delta
        |  FROM daily
        |), sg AS (
        |  SELECT event_type, day, sign(delta) AS sgn
        |  FROM dd WHERE delta IS NOT NULL AND delta <> 0
        |), br AS (
        |  SELECT event_type, sgn,
        |    CASE WHEN sgn <> COALESCE(
        |      lag(sgn) OVER (PARTITION BY event_type ORDER BY day), sgn * -1)
        |    THEN 1 ELSE 0 END AS brk
        |  FROM sg
        |), agg AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
        |    CAST(sum(CASE WHEN sgn < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nneg,
        |    CAST(sum(brk) AS BIGINT) AS r
        |  FROM br GROUP BY event_type
        |), st AS (
        |  SELECT event_type, npos, nneg, r,
        |    2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE) AS two,
        |    npos + nneg AS n
        |  FROM agg WHERE npos > 0 AND nneg > 0 AND npos + nneg > 2
        |)
        |SELECT event_type, npos, nneg, r,
        |  floor((two / CAST(n AS DOUBLE) + 1.0) * 1000000.0 + 0.5) / 1000000.0 AS mu,
        |  floor((CAST(r AS DOUBLE) - (two / CAST(n AS DOUBLE) + 1.0))
        |        / sqrt(two * (two - CAST(n AS DOUBLE))
        |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                  * CAST(n - 1 AS DOUBLE)))
        |        * 1000000.0 + 0.5) / 1000000.0 AS z
        |FROM st ORDER BY event_type""".stripMargin,
    "q_perm_entropy" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(count(*) AS BIGINT) AS x3
        |  FROM events GROUP BY 1, 2
        |), tri AS (
        |  SELECT event_type,
        |    lag(x3, 2) OVER w AS x1, lag(x3, 1) OVER w AS x2, x3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |), pat AS (
        |  SELECT event_type,
        |    (CASE WHEN x1 > x2 THEN 1 ELSE 0 END) * 4 +
        |    (CASE WHEN x1 > x3 THEN 1 ELSE 0 END) * 2 +
        |    (CASE WHEN x2 > x3 THEN 1 ELSE 0 END) AS pat
        |  FROM tri WHERE x1 IS NOT NULL
        |), cnts AS (
        |  SELECT event_type, pat, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pat GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS nt,
        |         CAST(count(*) AS BIGINT) AS n_patterns
        |  FROM cnts GROUP BY event_type
        |), terms AS (
        |  SELECT c.event_type, t.nt, t.n_patterns,
        |    c.cnt * CAST(floor((ln(CAST(c.cnt AS DOUBLE) / CAST(t.nt AS DOUBLE))) * 1000000 + 0.5) / 1000000
        |                 AS DECIMAL(18,6)) AS term
        |  FROM cnts c JOIN tot t ON c.event_type = t.event_type
        |)
        |SELECT event_type, CAST(max(nt) AS BIGINT) AS n_triples,
        |  CAST(max(n_patterns) AS BIGINT) AS n_patterns,
        |  floor(-CAST(sum(term) AS DOUBLE) / CAST(max(nt) AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS perm_entropy
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_levene" ->
      """WITH ev0 AS (
        |  SELECT event_type, value AS v
        |  FROM events WHERE value IS NOT NULL
        |), cg AS (
        |  SELECT event_type, v, count(*) AS cnt FROM ev0 GROUP BY 1, 2
        |), cr AS (
        |  SELECT event_type, v, cnt,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS nn
        |  FROM cg
        |), m AS (
        |  SELECT event_type AS t,
        |         (SUM(CASE WHEN cum - cnt < (nn + 1) // 2 AND (nn + 1) // 2 <= cum THEN v END)
        |        + SUM(CASE WHEN cum - cnt < (nn + 2) // 2 AND (nn + 2) // 2 <= cum THEN v END)) * 0.5e0 AS med
        |  FROM cr GROUP BY 1
        |), ev AS (
        |  SELECT ev0.event_type,
        |    CAST(floor(abs(ev0.v - m.med) * 1000000 + 0.5) AS BIGINT) // 10000 AS m
        |  FROM ev0 JOIN m ON ev0.event_type = m.t
        |), g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(m) AS HUGEINT) AS sg,
        |         sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS qg
        |  FROM ev GROUP BY event_type
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |         CAST(sum(sg) AS HUGEINT) AS stot,
        |         CAST(sum(qg) AS HUGEINT) AS qtot,
        |         CAST(sum(CAST(floor(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE))
        |               AS BIGINT)) AS BIGINT) AS a
        |  FROM g
        |), s AS (
        |  SELECT k, n,
        |    a - CAST(floor(CAST(stot * stot AS DOUBLE) / CAST(n AS DOUBLE))
        |          AS BIGINT) AS ssb,
        |    CAST(qtot AS BIGINT) - a AS ssw
        |  FROM t
        |)
        |SELECT k, n, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
        |  floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |        / (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
        |        * 1000000.0 + 0.5) / 1000000.0 AS w,
        |  floor(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS eta2
        |FROM s""".stripMargin,
    "q_anova_f" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT) // 10000 AS m
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(m) AS HUGEINT) AS sg,
        |         sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS qg
        |  FROM ev GROUP BY event_type
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |         CAST(sum(sg) AS HUGEINT) AS stot,
        |         CAST(sum(qg) AS HUGEINT) AS qtot,
        |         CAST(sum(CAST(floor(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE))
        |               AS BIGINT)) AS BIGINT) AS a
        |  FROM g
        |), s AS (
        |  SELECT k, n,
        |    a - CAST(floor(CAST(stot * stot AS DOUBLE) / CAST(n AS DOUBLE))
        |          AS BIGINT) AS ssb,
        |    CAST(qtot AS BIGINT) - a AS ssw
        |  FROM t
        |)
        |SELECT k, n, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
        |  floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |        / (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
        |        * 1000000.0 + 0.5) / 1000000.0 AS f,
        |  floor(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS eta2
        |FROM s""".stripMargin,
    "q_emd_drift" ->
      """WITH ev AS (
        |  SELECT value,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY value
        |), c AS (
        |  SELECT value,
        |    CAST(sum(c1) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
        |    CAST(sum(c2) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2,
        |    lead(value) OVER (ORDER BY value) AS nv,
        |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(c2) OVER () AS BIGINT) AS n2
        |  FROM ev
        |), seg AS (
        |  SELECT n1, n2,
        |    CAST(floor(CAST(abs(cum1 * n2 - cum2 * n1) AS DOUBLE)
        |          * (nv - value) * 1000000.0 + 0.5) / 1000000.0
        |         AS DECIMAL(38,6)) AS term
        |  FROM c WHERE nv IS NOT NULL
        |)
        |SELECT n1, n2,
        |  floor(CAST(sum(term) AS DOUBLE)
        |        / CAST(CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS emd
        |FROM seg GROUP BY n1, n2""".stripMargin,
    "q_theil_index" ->
      """WITH x AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(24,6)) * 1000000 AS BIGINT))
        |              AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey
        |), xs AS (
        |  SELECT c.c_mktsegment AS seg, x.x
        |  FROM x JOIN customer c ON x.o_custkey = c.c_custkey
        |), t AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS HUGEINT) AS stot
        |  FROM xs GROUP BY seg
        |), p AS (
        |  SELECT xs.seg, t.n,
        |    CAST((CAST(xs.x AS HUGEINT) * 1000000) // t.stot AS BIGINT) AS pm,
        |    CAST(floor((ln(CAST(CAST(xs.x AS HUGEINT) * CAST(t.n AS HUGEINT) AS DOUBLE)
        |           / CAST(t.stot AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS l
        |  FROM xs JOIN t ON xs.seg = t.seg
        |)
        |SELECT seg AS c_mktsegment, CAST(max(n) AS BIGINT) AS n_cust,
        |  floor(CAST(sum(pm * l) AS DOUBLE) / 1000000.0
        |        * 1000000.0 + 0.5) / 1000000.0 AS theil_t
        |FROM p GROUP BY seg ORDER BY c_mktsegment""".stripMargin,
    "q_weighted_median" ->
      """WITH bv AS (
        |  SELECT l_returnflag, l_quantity AS q,
        |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(24,6)) * 1000000 AS BIGINT))
        |              AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT l_returnflag, q, w,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
        |  FROM bv
        |), k AS (
        |  SELECT l_returnflag, q, w, cum, tw, cum - w AS prev FROM r
        |)
        |SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS w_total,
        |  (sum(CASE WHEN 2 * prev < tw AND tw <= 2 * cum THEN q END) +
        |   sum(CASE WHEN 2 * prev <= tw AND tw < 2 * cum THEN q END)) * 0.5 AS wmedian
        |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT))
        |              AS BIGINT) AS vol
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), c AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    CAST(sum(vol) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(vol) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM daily
        |), sc AS (
        |  SELECT *,
        |    abs(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
        |        - CAST(tot - cum AS DOUBLE) / CAST(n - t AS DOUBLE)) AS score
        |  FROM c WHERE t < n
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |                               ORDER BY score DESC, day ASC) AS rn
        |  FROM sc
        |)
        |SELECT event_type, day AS change_day,
        |  t AS n_days_before, n - t AS n_days_after,
        |  floor(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) / 1000000.0
        |        * 1000000.0 + 0.5) / 1000000.0 AS mean_before,
        |  floor(CAST(tot - cum AS DOUBLE) / CAST(n - t AS DOUBLE) / 1000000.0
        |        * 1000000.0 + 0.5) / 1000000.0 AS mean_after,
        |  floor(score / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS shift
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q_hill_tail" ->
      """WITH bv AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS micro,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL AND value > 0
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY micro DESC)
        |         AS BIGINT) AS cum
        |  FROM bv
        |), sel AS (
        |  SELECT event_type, micro,
        |         least(cnt, 50 - (cum - cnt)) AS ncopies
        |  FROM r WHERE cum - cnt < 50
        |), a AS (
        |  SELECT event_type,
        |    CAST(sum(ncopies) AS BIGINT) AS k_used,
        |    min(micro) AS xk,
        |    CAST(sum(ncopies * CAST(floor(ln(micro) * 1000000.0 + 0.5) AS BIGINT))
        |         AS BIGINT) AS slnx
        |  FROM sel GROUP BY event_type
        |), f AS (
        |  SELECT *,
        |    slnx - k_used * CAST(floor(ln(xk) * 1000000.0 + 0.5) AS BIGINT) AS spread
        |  FROM a
        |)
        |SELECT event_type, k_used AS k, xk AS xk_micro,
        |  CASE WHEN spread > 0 THEN
        |    floor(CAST(k_used * 1000000 AS DOUBLE) / CAST(spread AS DOUBLE)
        |          * 1000000.0 + 0.5) / 1000000.0 END AS alpha
        |FROM f ORDER BY event_type""".stripMargin,
    "q_capture_recapture" ->
      """WITH ext AS (
        |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
        |), per AS (
        |  SELECT user_id,
        |    max(CASE WHEN epoch_us(ts) < (lo + hi) // 2 THEN 1 ELSE 0 END) AS in1,
        |    max(CASE WHEN epoch_us(ts) < (lo + hi) // 2 THEN 0 ELSE 1 END) AS in2
        |  FROM events, ext GROUP BY user_id
        |), a AS (
        |  SELECT CAST(sum(in1) AS BIGINT) AS n1, CAST(sum(in2) AS BIGINT) AS n2,
        |         CAST(sum(in1 * in2) AS BIGINT) AS m,
        |         CAST(count(*) AS BIGINT) AS observed
        |  FROM per
        |)
        |SELECT n1, n2, m, observed,
        |  ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS n_hat,
        |  floor(CAST(observed AS DOUBLE)
        |        / CAST(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS coverage
        |FROM a""".stripMargin,
    "q_ab_mde" ->
      """WITH per AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |         CAST(sum(CAST(value AS DECIMAL(24,6))) * 1000000 AS BIGINT) AS yq
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id
        |), arms AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(yq AS HUGEINT)) AS sx,
        |         sum(CAST(yq AS HUGEINT) * CAST(yq AS HUGEINT)) AS sxx
        |  FROM per GROUP BY arm
        |), st AS (
        |  SELECT arm, n,
        |    CAST(sx AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS mean,
        |    (CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 1.0e12 AS ssd
        |  FROM arms
        |), c AS (
        |  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
        |         max(CASE WHEN arm = 1 THEN n END) AS n1,
        |         max(CASE WHEN arm = 0 THEN mean END) AS m0,
        |         max(CASE WHEN arm = 1 THEN mean END) AS m1,
        |         CAST(sum(ssd) AS DOUBLE) AS ssd_tot
        |  FROM st
        |), m AS (
        |  SELECT *, ssd_tot / CAST(n0 + n1 - 2 AS DOUBLE) AS sp2 FROM c
        |), f AS (
        |  SELECT *,
        |    (1.959964e0 + 0.841621e0)
        |      * sqrt(sp2 * (1.0e0 / CAST(n0 AS DOUBLE) + 1.0e0 / CAST(n1 AS DOUBLE)))
        |      AS mde_abs
        |  FROM m
        |)
        |SELECT n0, n1,
        |  floor(m0 * 1000000.0 + 0.5) / 1000000.0 AS mean_ctl,
        |  floor(m1 * 1000000.0 + 0.5) / 1000000.0 AS mean_trt,
        |  floor(sqrt(sp2) * 1000000.0 + 0.5) / 1000000.0 AS sd_pooled,
        |  floor(mde_abs * 1000000.0 + 0.5) / 1000000.0 AS mde_abs,
        |  floor(mde_abs / ((m0 + m1) / 2.0e0) * 1000000.0 + 0.5) / 1000000.0 AS mde_rel
        |FROM f""".stripMargin,
    "q_gini" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS micro
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |), bv AS (
        |  SELECT event_type, micro, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY event_type, micro
        |), r AS (
        |  SELECT event_type, micro, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY micro) - c AS p,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM bv
        |), a AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |         sum(CAST(micro AS HUGEINT) * CAST(c AS HUGEINT)) AS sx,
        |         sum(CAST(micro AS HUGEINT) * CAST(c AS HUGEINT)
        |             * CAST(2 * p + c - n AS HUGEINT)) AS wsum
        |  FROM r GROUP BY event_type
        |)
        |SELECT event_type, n,
        |  floor(CAST(wsum AS DOUBLE) / CAST(n * sx AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS gini
        |FROM a ORDER BY event_type""".stripMargin,
    "q_kaplan_meier" -> KmOracleSql,
    // the KM curve reduced to its two headline scalars; median survival
    // is a rank selection over the already-quantized monotone curve
    "q_surv_median" ->
      s"""WITH kmr AS (
         |$KmOracleSql
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_times,
         |  CAST(sum(n_death) AS BIGINT) AS n_deaths,
         |  min(CASE WHEN surv <= 0.5e0 THEN dur_days END) AS median_days,
         |  min(surv) AS final_surv
         |FROM kmr""".stripMargin,
    // step-function area under the KM curve: per-interval products
    // quantized into DECIMAL(18,6), exact order-independent sum
    "q_rmst" ->
      s"""WITH kmr AS (
         |$KmOracleSql
         |), sg AS (
         |  SELECT dur_days, surv,
         |    lag(surv, 1, 1.0e0) OVER (ORDER BY dur_days) AS prev_surv,
         |    lag(dur_days, 1, 0) OVER (ORDER BY dur_days) AS prev_dur
         |  FROM kmr
         |), q AS (
         |  SELECT dur_days,
         |    CAST(floor(prev_surv * (dur_days - prev_dur) * 1000000 + 0.5)
         |         / 1000000 AS DECIMAL(18,6)) AS seg
         |  FROM sg
         |)
         |SELECT CAST(max(dur_days) AS BIGINT) AS t_max,
         |       CAST(sum(seg) AS DOUBLE) AS rmst_days
         |FROM q""".stripMargin,
    "q_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsl, CAST(value AS DECIMAL(24,6)) AS v
        |  FROM events WHERE value IS NOT NULL
        |), ext AS (SELECT min(tsl) AS lo, max(tsl) AS hi FROM ev),
        |per AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    CAST(COALESCE(sum(CASE WHEN tsl < (lo + hi) // 2 THEN v END),
        |                  CAST(0 AS DECIMAL(24,6))) * 1000000 AS BIGINT) AS xq,
        |    CAST(COALESCE(sum(CASE WHEN NOT (tsl < (lo + hi) // 2) THEN v END),
        |                  CAST(0 AS DECIMAL(24,6))) * 1000000 AS BIGINT) AS yq
        |  FROM ev, ext
        |  GROUP BY user_id, lo, hi
        |), pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
        |         sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS sxx,
        |         sum(CAST(xq AS HUGEINT) * CAST(yq AS HUGEINT)) AS sxy
        |  FROM per
        |), arms AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |         sum(CAST(xq AS HUGEINT)) AS sxa, sum(CAST(yq AS HUGEINT)) AS sya
        |  FROM per GROUP BY arm
        |), c AS (
        |  SELECT arm, n_users,
        |    CAST(sya AS DOUBLE) / CAST(n_users * 1000000 AS DOUBLE) AS mean_y,
        |    CAST(sxa AS DOUBLE) / CAST(n_users * 1000000 AS DOUBLE) AS mean_x,
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS th,
        |    CAST(sx AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS gx
        |  FROM arms, pooled
        |)
        |SELECT arm, n_users,
        |  floor(mean_y * 1000000.0 + 0.5) / 1000000.0 AS mean_y,
        |  floor(th * 1000000.0 + 0.5) / 1000000.0 AS theta,
        |  floor((mean_y - th * (mean_x - gx)) * 1000000.0 + 0.5) / 1000000.0 AS adj_mean
        |FROM c ORDER BY arm""".stripMargin,
    "q_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (
        |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM u
        |), c AS (
        |  SELECT n0, n1,
        |    floor(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
        |          * 1000000.0 + 0.5) / 1000000.0 AS chi2
        |  FROM a
        |)
        |SELECT n0, n1, chi2, chi2 > 3.841459 AS srm FROM c""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY lang, source
        |), sc AS (
        |  SELECT sum(CAST(floor((log2(c)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * c) AS scc,
        |         CAST(sum(c) AS BIGINT) AS n
        |  FROM cells
        |), sr AS (
        |  SELECT sum(CAST(floor((log2(r)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * r) AS srr,
        |         CAST(count(*) AS BIGINT) AS n_lang
        |  FROM (SELECT CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY lang) t
        |), ss AS (
        |  SELECT sum(CAST(floor((log2(m)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * m) AS sss,
        |         CAST(count(*) AS BIGINT) AS n_source
        |  FROM (SELECT CAST(sum(c) AS BIGINT) AS m FROM cells GROUP BY source) t
        |), u AS (
        |  SELECT n, n_lang, n_source,
        |         scc - srr - sss + CAST(floor((log2(n)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * n AS t2,
        |         CAST(floor((log2(n)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * n - srr AS tr,
        |         CAST(floor((log2(n)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * n - sss AS ts
        |  FROM sc, sr, ss
        |)
        |SELECT n AS n_docs, n_lang, n_source,
        |  floor(CAST(t2 AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mi_bits,
        |  floor(CAST(tr AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS h_lang,
        |  floor(CAST(ts AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS h_source,
        |  floor(CAST(t2 AS DOUBLE) / CAST(least(tr, ts) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS nmi
        |FROM u""".stripMargin,
    "q_spearman" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem
        |), rx AS (
        |  SELECT flag, x,
        |    2 * (sum(c) OVER (PARTITION BY flag ORDER BY x) - c) + c + 1 AS rx
        |  FROM (SELECT flag, x, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY flag, x) t
        |), ry AS (
        |  SELECT flag, y,
        |    2 * (sum(c) OVER (PARTITION BY flag ORDER BY y) - c) + c + 1 AS ry
        |  FROM (SELECT flag, y, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY flag, y) t
        |), j AS (
        |  SELECT li.flag, CAST(rx.rx AS HUGEINT) AS rx, CAST(ry.ry AS HUGEINT) AS ry
        |  FROM li
        |  JOIN rx ON li.flag = rx.flag AND li.x = rx.x
        |  JOIN ry ON li.flag = ry.flag AND li.y = ry.y
        |), a AS (
        |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |         sum(rx) AS sx, sum(ry) AS sy,
        |         sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
        |  FROM j GROUP BY flag
        |)
        |SELECT flag AS l_returnflag, n,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |         sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS rho
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q_embed_drift" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), ex AS (
        |  SELECT label, CAST(vec_id % 2 AS INTEGER) AS half, dim,
        |         CAST(floor(v[CAST(dim AS INTEGER) + 1] * 1000000 + 0.5) AS BIGINT) AS xq
        |  FROM v, (SELECT unnest(range(0, 64)) AS dim)
        |), bd AS (
        |  SELECT label, dim,
        |         CAST(COALESCE(sum(CASE WHEN half = 0 THEN xq END), 0) AS BIGINT) AS s0,
        |         CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n0,
        |         CAST(COALESCE(sum(CASE WHEN half = 1 THEN xq END), 0) AS BIGINT) AS s1,
        |         CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n1
        |  FROM ex GROUP BY label, dim
        |), nm AS (
        |  SELECT label, dim, n0, n1, abs(s1 * n0 - s0 * n1) AS num FROM bd
        |)
        |SELECT label,
        |       max(n0) AS n_ref, max(n1) AS n_cur,
        |       CAST(max(num) AS DOUBLE) / NULLIF(max(n0) * max(n1), 0) / 1000000.0 AS max_shift,
        |       CAST(sum(num) AS DOUBLE) / NULLIF(max(n0) * max(n1), 0) / 1000000.0 AS l1_shift
        |FROM nm GROUP BY label ORDER BY label""".stripMargin,
    "q_corr_regr" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag,
        |       CAST(n AS BIGINT) AS n,
        |       floor(((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 10000 + 0.5) / 10000 AS corr_qty_price,
        |       floor(((sxy - sx * sy / n) / (n - 1.0)) * 10000 + 0.5) / 10000 AS covar_samp,
        |       floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 10000 + 0.5) / 10000 AS slope,
        |       floor(((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n) * 10000 + 0.5) / 10000 AS intercept
        |FROM s
        |ORDER BY l_returnflag""".stripMargin,
    "q_width_bucket" ->
      """SELECT CAST(floor((l_quantity - 1.0) / 5.0) AS BIGINT) + 1 AS bucket,
        |       count(*) AS n,
        |       floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS sum_price
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_weighted_avg_udaf" ->
      """SELECT l_returnflag,
        |       floor(((SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0)
        |             / SUM(CAST(floor(l_quantity) AS BIGINT))) * 10000 + 0.5) / 10000 AS w_unit_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS INTEGER) AS bucket,
        |       count(*) AS n,
        |       floor((min(l_extendedprice)) * 10000 + 0.5) / 10000 AS lo,
        |       floor((max(l_extendedprice)) * 10000 + 0.5) / 10000 AS hi
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    // NOTE the e0 suffixes: 0.5e0/3.0e0/1.4826e0 force DOUBLE literals in
    // DuckDB (a bare 1.4826 parses as DECIMAL(5,4), whose product with
    // 3.0 would round through decimal arithmetic and need not equal the
    // IEEE double fl(3.0*1.4826) Spark's constant folding produces)
    "q_outlier_mad" ->
      """WITH ev AS (
        |  SELECT event_type, value AS v
        |  FROM events WHERE value IS NOT NULL
        |), cg AS (
        |  SELECT event_type, v, count(*) AS cnt FROM ev GROUP BY 1, 2
        |), cr AS (
        |  SELECT event_type, v, cnt,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM cg
        |), m AS (
        |  SELECT event_type AS t,
        |         (SUM(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum THEN v END)
        |        + SUM(CASE WHEN cum - cnt < (n + 2) // 2 AND (n + 2) // 2 <= cum THEN v END)) * 0.5e0 AS med
        |  FROM cr GROUP BY 1
        |), dv AS (
        |  SELECT ev.event_type, ev.v, m.med, abs(ev.v - m.med) AS dev
        |  FROM ev JOIN m ON ev.event_type = m.t
        |), dg AS (
        |  SELECT event_type, dev, count(*) AS cnt FROM dv GROUP BY 1, 2
        |), dr AS (
        |  SELECT event_type, dev, cnt,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM dg
        |), md AS (
        |  SELECT event_type AS t2,
        |         (SUM(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum THEN dev END)
        |        + SUM(CASE WHEN cum - cnt < (n + 2) // 2 AND (n + 2) // 2 <= cum THEN dev END)) * 0.5e0 AS mad
        |  FROM dr GROUP BY 1
        |)
        |SELECT dv.event_type,
        |       count(*) AS n,
        |       min(dv.med) AS med,
        |       min(md.mad) AS mad,
        |       min(3.0e0 * 1.4826e0 * md.mad) AS thr,
        |       CAST(SUM(CASE WHEN dv.dev > 3.0e0 * 1.4826e0 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       max(dv.dev) AS max_dev
        |FROM dv JOIN md ON dv.event_type = md.t2
        |GROUP BY dv.event_type
        |ORDER BY dv.event_type""".stripMargin,
    // percentile_disc rank selection over raw doubles; fences mirror the
    // Spark tree with e0-pinned DOUBLE literals (q_outlier_mad rules)
    "q_outlier_iqr" ->
      """WITH ev AS (
        |  SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
        |), cg AS (
        |  SELECT event_type, v, count(*) AS cnt FROM ev GROUP BY 1, 2
        |), cr AS (
        |  SELECT event_type, v, cnt,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM cg
        |), q AS (
        |  SELECT event_type AS t, CAST(MAX(n) AS BIGINT) AS n,
        |         SUM(CASE WHEN cum - cnt < (n + 3) // 4 AND (n + 3) // 4 <= cum THEN v END) AS q1,
        |         SUM(CASE WHEN cum - cnt < (3 * n + 3) // 4 AND (3 * n + 3) // 4 <= cum THEN v END) AS q3
        |  FROM cr GROUP BY 1
        |), f AS (
        |  SELECT t, n, q1, q3,
        |         q1 - 1.5e0 * (q3 - q1) AS lo,
        |         q3 + 1.5e0 * (q3 - q1) AS hi
        |  FROM q
        |)
        |SELECT ev.event_type,
        |       min(f.n) AS n,
        |       min(f.q1) AS q1,
        |       min(f.q3) AS q3,
        |       min(f.q3) - min(f.q1) AS iqr,
        |       CAST(SUM(CASE WHEN ev.v < f.lo OR ev.v > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ev JOIN f ON ev.event_type = f.t
        |GROUP BY ev.event_type
        |ORDER BY ev.event_type""".stripMargin,
    "q_ks_drift" ->
      """WITH ev AS (
        |  SELECT value,
        |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |         SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS c2
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL GROUP BY value
        |), g AS (
        |  SELECT value,
        |         SUM(c1) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |         SUM(c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        |         SUM(c1) OVER () AS n1,
        |         SUM(c2) OVER () AS n2
        |  FROM ev
        |), gg AS (
        |  SELECT *, abs(cum1 * n2 - cum2 * n1) AS gap FROM g
        |), d AS (
        |  SELECT n1, n2, max(gap) AS d_scaled FROM gg GROUP BY 1, 2
        |)
        |SELECT CAST(gg.n1 AS BIGINT) AS n1,
        |       CAST(gg.n2 AS BIGINT) AS n2,
        |       CAST(d.d_scaled AS BIGINT) AS d_scaled,
        |       min(gg.value) AS at_value,
        |       floor((CAST(d.d_scaled AS DOUBLE) / CAST(gg.n1 * gg.n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS ks
        |FROM gg JOIN d ON gg.n1 = d.n1 AND gg.n2 = d.n2 AND gg.gap = d.d_scaled
        |GROUP BY gg.n1, gg.n2, d.d_scaled""".stripMargin,
    "q_chisq_drift" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END) AS o1,
        |         SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 0 ELSE 1 END) AS o2
        |  FROM events GROUP BY event_type
        |), tot AS (
        |  SELECT SUM(o1) AS c1, SUM(o2) AS c2, SUM(o1 + o2) AS n, COUNT(*) AS k FROM cells
        |), per AS (
        |  SELECT event_type, o1, o2, k,
        |         CAST(floor((CAST(CAST(o1*n - (o1+o2)*c1 AS HUGEINT) * CAST(o1*n - (o1+o2)*c1 AS HUGEINT) AS DOUBLE)
        |                    / CAST(CAST(n AS HUGEINT) * (o1+o2) * c1 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |       + CAST(floor((CAST(CAST(o2*n - (o1+o2)*c2 AS HUGEINT) * CAST(o2*n - (o1+o2)*c2 AS HUGEINT) AS DOUBLE)
        |                    / CAST(CAST(n AS HUGEINT) * (o1+o2) * c2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
        |  FROM cells, tot
        |), t2 AS (SELECT SUM(contrib) AS chi2_d, min(k) AS kk FROM per)
        |SELECT per.event_type,
        |       CAST(per.o1 AS BIGINT) AS n_early,
        |       CAST(per.o2 AS BIGINT) AS n_late,
        |       CAST(per.contrib AS DOUBLE) AS contrib,
        |       CAST(t2.chi2_d AS DOUBLE) AS chi2,
        |       CAST(per.k - 1 AS BIGINT) AS df
        |FROM per, t2
        |ORDER BY per.event_type""".stripMargin,
    "q_psi_drift" ->
      """WITH ev AS (
        |  SELECT value,
        |         CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END AS early
        |  FROM events WHERE value IS NOT NULL
        |), ext AS (SELECT min(value) AS lo, max(value) AS hi FROM ev
        |), b AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |              ELSE least(9, CAST(floor((value - lo) * 10 / (hi - lo)) AS INT)) END AS bkt,
        |         SUM(early) AS r1, SUM(1 - early) AS r2
        |  FROM ev, ext GROUP BY 1
        |), sp AS (SELECT CAST(i AS INT) AS bkt FROM range(10) t(i)
        |), sm AS (
        |  SELECT sp.bkt, COALESCE(b.r1, 0) + 1 AS o1, COALESCE(b.r2, 0) + 1 AS o2
        |  FROM sp LEFT JOIN b ON sp.bkt = b.bkt
        |), tot AS (SELECT SUM(o1) AS n1, SUM(o2) AS n2 FROM sm
        |), per AS (
        |  SELECT bkt, o1, o2,
        |         CAST(floor((CAST(CAST(o1*n2 - o2*n1 AS DECIMAL(38,6))
        |                         * CAST(floor((ln(CAST(o1*n2 AS DOUBLE) / CAST(o2*n1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)
        |                    / CAST(n1 * n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
        |  FROM sm, tot
        |), t AS (SELECT SUM(contrib) AS psi_d FROM per)
        |SELECT per.bkt,
        |       CAST(per.o1 - 1 AS BIGINT) AS n_early,
        |       CAST(per.o2 - 1 AS BIGINT) AS n_late,
        |       CAST(per.contrib AS DOUBLE) AS contrib,
        |       CAST(t.psi_d AS DOUBLE) AS psi
        |FROM per, t
        |ORDER BY per.bkt""".stripMargin,
    // scalar reductions of the SAME CTE bodies as the three standalone
    // monitor oracles — the composed report must be cell-identical to its
    // parts, so the SQL reuses their arithmetic verbatim
    "q_drift_report" ->
      """WITH cells AS (
        |  SELECT event_type,
        |         SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END) AS o1,
        |         SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 0 ELSE 1 END) AS o2
        |  FROM events GROUP BY event_type
        |), ctot AS (
        |  SELECT SUM(o1) AS c1, SUM(o2) AS c2, SUM(o1 + o2) AS n FROM cells
        |), cper AS (
        |  SELECT o1, o2,
        |         CAST(floor((CAST(CAST(o1*n - (o1+o2)*c1 AS HUGEINT) * CAST(o1*n - (o1+o2)*c1 AS HUGEINT) AS DOUBLE)
        |                    / CAST(CAST(n AS HUGEINT) * (o1+o2) * c1 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |       + CAST(floor((CAST(CAST(o2*n - (o1+o2)*c2 AS HUGEINT) * CAST(o2*n - (o1+o2)*c2 AS HUGEINT) AS DOUBLE)
        |                    / CAST(CAST(n AS HUGEINT) * (o1+o2) * c2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
        |  FROM cells, ctot
        |), c_row AS (
        |  SELECT CAST(SUM(o1) AS BIGINT) AS n_a, CAST(SUM(o2) AS BIGINT) AS n_b,
        |         CAST(SUM(contrib) AS DOUBLE) AS stat
        |  FROM cper
        |), kev AS (
        |  SELECT value,
        |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |         SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS c2
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL GROUP BY value
        |), kg AS (
        |  SELECT SUM(c1) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |         SUM(c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        |         SUM(c1) OVER () AS n1,
        |         SUM(c2) OVER () AS n2
        |  FROM kev
        |), k_row AS (
        |  SELECT CAST(min(n1) AS BIGINT) AS n_a, CAST(min(n2) AS BIGINT) AS n_b,
        |         floor((CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |               / CAST(min(n1) * min(n2) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS stat
        |  FROM kg
        |), pev AS (
        |  SELECT value,
        |         CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END AS early
        |  FROM events WHERE value IS NOT NULL
        |), pext AS (SELECT min(value) AS lo, max(value) AS hi FROM pev
        |), pb AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |              ELSE least(9, CAST(floor((value - lo) * 10 / (hi - lo)) AS INT)) END AS bkt,
        |         SUM(early) AS r1, SUM(1 - early) AS r2
        |  FROM pev, pext GROUP BY 1
        |), psp AS (SELECT CAST(i AS INT) AS bkt FROM range(10) t(i)
        |), psm AS (
        |  SELECT psp.bkt, COALESCE(pb.r1, 0) + 1 AS o1, COALESCE(pb.r2, 0) + 1 AS o2
        |  FROM psp LEFT JOIN pb ON psp.bkt = pb.bkt
        |), ptot AS (SELECT SUM(o1) AS n1, SUM(o2) AS n2 FROM psm
        |), pper AS (
        |  SELECT o1, o2,
        |         CAST(floor((CAST(CAST(o1*n2 - o2*n1 AS DECIMAL(38,6))
        |                         * CAST(floor((ln(CAST(o1*n2 AS DOUBLE) / CAST(o2*n1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)
        |                    / CAST(n1 * n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
        |  FROM psm, ptot
        |), p_row AS (
        |  SELECT CAST(SUM(o1 - 1) AS BIGINT) AS n_a, CAST(SUM(o2 - 1) AS BIGINT) AS n_b,
        |         CAST(SUM(contrib) AS DOUBLE) AS stat
        |  FROM pper
        |)
        |SELECT 'chisq' AS monitor, n_a, n_b, stat FROM c_row
        |UNION ALL SELECT 'ks', n_a, n_b, stat FROM k_row
        |UNION ALL SELECT 'psi', n_a, n_b, stat FROM p_row
        |ORDER BY monitor""".stripMargin,
    // every division/sqrt below acts on the SAME decimal-exact power sums
    // with an identical parse tree to the Spark Column expression
    // the abTtest sufficient-statistic CTE, the two one-sided t trees,
    // the pinned 1.645 critical value compared on the UNROUNDED doubles
    "q_tost" ->
      """WITH a AS (
        |  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(30,8)) END) AS DOUBLE) AS s1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN CAST(value AS DECIMAL(30,8)) END) AS DOUBLE) AS s2,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value * value AS DECIMAL(30,8)) END) AS DOUBLE) AS q1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN CAST(value * value AS DECIMAL(30,8)) END) AS DOUBLE) AS q2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |), b AS (
        |  SELECT n1, n2,
        |         s1 / CAST(n1 AS DOUBLE) AS m1,
        |         s2 / CAST(n2 AS DOUBLE) AS m2,
        |         sqrt(((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0e0)) / CAST(n1 AS DOUBLE)
        |              + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0e0)) / CAST(n2 AS DOUBLE)) AS se
        |  FROM a
        |)
        |SELECT n1, n2,
        |       floor((m1 - m2) * 1000000 + 0.5) / 1000000 AS mean_diff,
        |       floor((se) * 1000000 + 0.5) / 1000000 AS se,
        |       floor(((m1 - m2 + 5.0e0) / se) * 1000000 + 0.5) / 1000000 AS t_lower,
        |       floor(((5.0e0 - (m1 - m2)) / se) * 1000000 + 0.5) / 1000000 AS t_upper,
        |       CAST((m1 - m2 + 5.0e0) / se > 1.645e0
        |            AND (5.0e0 - (m1 - m2)) / se > 1.645e0 AS INTEGER) AS equivalent
        |FROM b""".stripMargin,
    "q_ab_ttest" ->
      """WITH a AS (
        |  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(30,8)) END) AS DOUBLE) AS s1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN CAST(value AS DECIMAL(30,8)) END) AS DOUBLE) AS s2,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value * value AS DECIMAL(30,8)) END) AS DOUBLE) AS q1,
        |         CAST(SUM(CASE WHEN event_type = 'view'  THEN CAST(value * value AS DECIMAL(30,8)) END) AS DOUBLE) AS q2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |), b AS (
        |  SELECT n1, n2,
        |         s1 / CAST(n1 AS DOUBLE) AS m1,
        |         s2 / CAST(n2 AS DOUBLE) AS m2,
        |         ((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0e0)) / CAST(n1 AS DOUBLE) AS se1,
        |         ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0e0)) / CAST(n2 AS DOUBLE) AS se2
        |  FROM a
        |)
        |SELECT n1, n2,
        |       floor((m1 - m2) * 1000000 + 0.5) / 1000000 AS mean_diff,
        |       floor(((m1 - m2) / sqrt(se1 + se2)) * 1000000 + 0.5) / 1000000 AS t,
        |       floor(((se1 + se2) * (se1 + se2)
        |             / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0e0)
        |                + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0e0))) * 1000000 + 0.5) / 1000000 AS df
        |FROM b""".stripMargin,
    // leading digit from exact integer cents as STRING — no log10 on the
    // data path; the only logs are over the nine digit constants
    "q_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM lineitem
        |  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
        |), c AS (
        |  SELECT digit, count(*) AS n FROM dg GROUP BY digit
        |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM c)
        |SELECT c.digit, CAST(c.n AS BIGINT) AS n,
        |       floor((CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS obs_p,
        |       floor((ln(1.0e0 + 1.0e0 / CAST(c.digit AS DOUBLE)) / ln(10.0e0)) * 1000000 + 0.5) / 1000000 AS benford_p,
        |       floor((floor((CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |             - floor((ln(1.0e0 + 1.0e0 / CAST(c.digit AS DOUBLE)) / ln(10.0e0)) * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) / 1000000 AS dev
        |FROM c, t
        |ORDER BY c.digit""".stripMargin,
    "q_cusum_drift" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(x) AS BIGINT) AS tt, CAST(COUNT(*) AS BIGINT) AS nd FROM daily
        |), curve AS (
        |  SELECT day,
        |         nd * CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - CAST(row_number() OVER (ORDER BY day) AS BIGINT) * tt AS s,
        |         nd
        |  FROM daily, tot
        |), mx AS (SELECT CAST(MAX(abs(s)) AS BIGINT) AS s_abs FROM curve
        |), am AS (
        |  SELECT min(day) AS cp FROM curve, mx WHERE abs(s) = s_abs
        |)
        |SELECT c.nd AS n_days,
        |       strftime(am.cp, '%Y-%m-%d') AS cp_day,
        |       CAST(c.s AS BIGINT) AS s_scaled,
        |       floor((CAST(abs(c.s) AS DOUBLE) / (CAST(c.nd AS DOUBLE) * 1000000.0e0)) * 1000000 + 0.5) / 1000000 AS s_max
        |FROM curve c, am, mx
        |WHERE c.day = am.cp""".stripMargin,
    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |), tt AS (
        |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM daily GROUP BY 1
        |), y AS (
        |  SELECT d.event_type, tt.nd,
        |         CAST(tt.nd AS HUGEINT) * d.x - tt.tot AS y,
        |         LEAD(CAST(tt.nd AS HUGEINT) * d.x - tt.tot)
        |           OVER (PARTITION BY d.event_type ORDER BY d.day) AS ynext
        |  FROM daily d JOIN tt ON d.event_type = tt.event_type
        |)
        |SELECT event_type,
        |       CAST(MIN(nd) AS BIGINT) AS n_days,
        |       floor((CAST(SUM(CASE WHEN ynext IS NOT NULL THEN y * ynext END) AS DOUBLE)
        |             / CAST(SUM(y * y) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS r1
        |FROM y
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the z tree is mirrored parenthesis-for-parenthesis with the Spark
    // Column expression; e0 literals pin DOUBLE (the q_outlier_mad rule)
    "q_mannwhitney" ->
      """WITH ev AS (
        |  SELECT value,
        |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |         SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS c2
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY value
        |), r AS (
        |  SELECT c1, c2,
        |         SUM(c1 + c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - (c1 + c2) AS prev
        |  FROM ev
        |), t AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |         CAST(SUM(c2) AS BIGINT) AS n2,
        |         CAST(SUM(c1 * (2 * prev + c1 + c2 + 1)) AS BIGINT) AS r1_x2,
        |         CAST(SUM(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)) - SUM(c1 + c2) AS BIGINT) AS tie_t
        |  FROM r
        |)
        |SELECT n1, n2,
        |       r1_x2 - n1 * (n1 + 1) AS u1_x2,
        |       2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
        |       tie_t,
        |       floor((CAST((r1_x2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE) /
        |             (2.0e0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0e0 *
        |               (CAST(n1 + n2 + 1 AS DOUBLE)
        |                - CAST(tie_t AS DOUBLE) / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))))) * 1000000 + 0.5) / 1000000 AS z
        |FROM t""".stripMargin,
    "q_contingency_assoc" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
        |), rw AS (
        |  SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1
        |), cl AS (
        |  SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n,
        |         CAST(COUNT(DISTINCT source) AS BIGINT) AS nr,
        |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS nc
        |  FROM cells
        |), grid AS (
        |  SELECT rw.r, cl.c, COALESCE(cells.o, 0) AS o
        |  FROM rw CROSS JOIN cl
        |  LEFT JOIN cells ON rw.source = cells.source AND cl.lang = cells.lang
        |), per AS (
        |  SELECT CAST(floor((CAST(CAST(o*n - r*c AS HUGEINT) * CAST(o*n - r*c AS HUGEINT) AS DOUBLE)
        |                    / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
        |  FROM grid, tot
        |)
        |SELECT tot.n, tot.nr AS r, tot.nc AS c,
        |       (tot.nr - 1) * (tot.nc - 1) AS df,
        |       CAST(SUM(contrib) AS DOUBLE) AS chi2,
        |       floor((sqrt(CAST(SUM(contrib) AS DOUBLE)
        |                  / CAST(tot.n * (least(tot.nr, tot.nc) - 1) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cramers_v
        |FROM per, tot
        |GROUP BY tot.n, tot.nr, tot.nc""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT source AS src,
        |         floor((quantile_cont(n_chars, 0.05)) * 10000 + 0.5) / 10000 AS p05,
        |         floor((quantile_cont(n_chars, 0.95)) * 10000 + 0.5) / 10000 AS p95
        |  FROM documents GROUP BY 1
        |)
        |SELECT d.source,
        |       count(*) AS n,
        |       min(b.p05) AS p05,
        |       min(b.p95) AS p95,
        |       floor((CAST(SUM(CAST(d.n_chars AS DECIMAL(24,6))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_raw,
        |       floor((CAST(SUM(CAST(greatest(b.p05, least(b.p95, CAST(d.n_chars AS DOUBLE))) AS DECIMAL(24,6))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_wins
        |FROM documents d JOIN b ON d.source = b.src
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin,
  )
}
