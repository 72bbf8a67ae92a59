package graft.ops

import graft.util.Det
import graft.Tables
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation family (SURVEY.md §2b: q_agg_pricing, q_agg_distinct,
  * q_agg_rollup / q_agg_cube / q_grouping_sets, q_approx_distinct, q_pivot).
  *
  * Generalizes the reference's single hash aggregate —
  * `groupBy("word").count()` (`demo-etl-2a-notebook.py:56`, SURVEY.md R8) —
  * and the pandas-style "statistics" its spec declares (`reqdef.yaml:44-45`,
  * R21).
  *
  * Scale notes: every query is one scan + one shuffle on the grouping keys;
  * Spark plans partial (map-side) aggregation before the exchange, so the
  * shuffle carries one row per (partition × key), not per input row.
  * Distinct aggregation adds the usual expand/two-phase plan. All double
  * sums go through DECIMAL(24,6) (`Det.dsum`) — exact, order-independent,
  * required for cross-engine equality and a good idea at 1000 executors
  * anyway (no non-associative float accumulation).
  */
object Aggregations {

  /** TPC-H Q1 shape over the fixture lineitem. */
  def aggPricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast("double").as("sum_disc"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(year(col("o_orderdate"))).as("n_years"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  private def multiDim(df: DataFrame, mode: String): DataFrame = {
    val grouped = mode match {
      case "rollup" => df.rollup(col("o_orderstatus"), col("o_orderpriority"))
      case "cube"   => df.cube(col("o_orderstatus"), col("o_orderpriority"))
    }
    grouped
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        count(lit(1)).as("cnt"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("prio"),
        col("g_status"), col("g_prio"), col("cnt"), col("sum_price"))
      .orderBy("g_status", "g_prio", "status", "prio")
  }

  def aggRollup(s: SparkSession, d: String): DataFrame =
    multiDim(Tables.orders(s, d), "rollup")

  def aggCube(s: SparkSession, d: String): DataFrame =
    multiDim(Tables.orders(s, d), "cube")

  /** GROUPING SETS ((status, priority), (status), ()) via SQL — the
    * DataFrame-side rollup/cube above are the API variants of the same
    * Expand-based plan. */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    val orders = graft.util.Views.forDir("orders_gs", d, Tables.orders(s, d))
    s.sql(
      s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |       COALESCE(o_orderpriority, '(all)') AS prio,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       COUNT(1) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_price
        |FROM $orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_status, g_prio, status, prio""".stripMargin)
  }

  /** Aggregate FILTER clauses (conditional aggregation without CASE
    * scaffolding) — via SQL, like `groupingSets`. */
  def filteredAgg(s: SparkSession, d: String): DataFrame = {
    val orders = graft.util.Views.forDir("orders_fa", d, Tables.orders(s, d))
    s.sql(
      s"""SELECT o_orderpriority,
        |       COUNT(*) AS n_all,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
        |            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open
        |FROM $orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** HLL++ sketch counts — the ONE deliberately un-oracled entry
    * (round-11 adjudication of VERDICT r10 item 4): Spark's
    * `approx_count_distinct` is a DENSE-ONLY HyperLogLog++ (no sparse
    * exact mode — SPARK's HyperLogLogPlusPlus implementation skips the
    * paper's sparse representation), so there is NO cardinality at
    * which the estimate equals the exact count: at the fixture's 150
    * distinct users per group it already answers 151. The exact-regime
    * flip that oracled every other sketch rung is structurally
    * unavailable; correctness is the determinism + error-bound law
    * test (SketchSpec round 11) plus the exact `cnt` column. The
    * DataSketches-HLL path with a real exact regime is
    * [[Sketches.sketchUnion]]. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** [[approxQuantile]]'s Greenwald-Khanna accuracy (relativeError =
    * 1/accuracy). 10⁶ keeps the summary in its EXACT regime at fixture
    * scale — with rank slack relativeError·n < 1 the GK compression
    * merges nothing and `query(p)` returns the exact order statistic at
    * rank ⌈p·n⌉ — which is what makes the oracle below possible (the
    * q_sketch_quantile exactness-below-capacity discipline, round 11).
    * Memory stays bounded (O((1/ε)·log εN) samples); at true 100 TB
    * group sizes the same query degrades gracefully to ±ε rank error,
    * the law-tested estimation regime. */
  private val GkAccuracy = 1000000

  /** Sketch quantiles (Greenwald-Khanna `percentile_approx`) beside exact
    * counts — the single-pass bounded-memory path when exact percentiles
    * (a full sort per group) are too expensive.
    *
    * ORACLED, exactly (round-11 flip from rows-only): in the exact
    * regime the returned p50 is the sample at 1-based rank ⌈n/2⌉ of the
    * sorted group — a pure-integer rank test in SQL (2·rn ≥ n picks the
    * same element for every n, even or odd). The estimation regime
    * (±1/[[GkAccuracy]] rank error) is the unit test's territory. */
  def approxQuantile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(GkAccuracy)).as("p50_approx"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** Exact linear-interpolation percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`; both index p·(n−1) with linear interpolation). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        Det.q4(expr("percentile(o_totalprice, 0.25)")).as("p25"),
        Det.q4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        Det.q4(expr("percentile(o_totalprice, 0.9)")).as("p90"))
      .orderBy("o_orderstatus")

  /** Mean/variance/stddev from decimal-exact power sums — the built-in
    * `stddev_samp` accumulates doubles in partition order (not reproducible
    * across engines or executor counts); Σx and Σx² through DECIMAL are
    * exact, and the final double arithmetic is the same expression on both
    * sides. */
  def statsMoments(s: SparkSession, d: String): DataFrame = {
    val n = count(col("value"))
    val sx = dsum(col("value"))
    val sxx = sum((col("value") * col("value")).cast(DecimalType(30, 8))).cast("double")
    val variance = (sxx - sx * sx / n) / (n - lit(1))
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        n.as("n"),
        Det.q4(sx / n).as("mean"),
        Det.q4(variance).as("var_samp"),
        Det.q4(sqrt(variance)).as("stddev_samp"))
      .orderBy("event_type")
  }

  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  def pivotEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(fmtDate(col("ts")).as("day"), col("event_type"), col("value"))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .agg(sum(col("value").cast(DecimalType(24, 6))).cast("double"))
      .orderBy("day")

  /** Arg-min/max + boolean aggregates: who produced the first/last event of
    * each type (selector key = unique event_id, so deterministic), plus
    * FILTER-style counts and bool_and/bool_or predicates. */
  def argMinMax(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        min_by(col("user_id"), col("event_id")).as("first_user"),
        max_by(col("user_id"), col("event_id")).as("last_user"),
        count_if(col("value") > 100.0).as("n_big"),
        bool_or(col("value") > 400.0).as("any_huge"),
        bool_and(col("value") >= 0.0).as("all_nonneg"))
      .orderBy("event_type")

  /** Discrete percentiles (the value AT rank ceil(p·n), never interpolated)
    * by explicit rank selection — integer ceil-division rank targets make
    * the pick identical in any engine, with a unique tie-break so equal
    * prices cannot swap. The continuous variant is q_percentiles. */
  def percentileDisc(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_orderstatus")))
      .groupBy("o_orderstatus")
      .agg(
        max(when(col("rn") === floor((col("n") + 3) / 4), col("o_totalprice"))).as("p25_disc"),
        max(when(col("rn") === floor((col("n") + 1) / 2), col("o_totalprice"))).as("p50_disc"),
        max(when(col("rn") === floor((col("n") * 9 + 9) / 10), col("o_totalprice"))).as("p90_disc"))
      .orderBy("o_orderstatus")
  }

  /** Deterministic statistical mode of quantity per return flag: the
    * built-in `mode()` (both engines) picks an ARBITRARY value among tied
    * maxima, so it can never be oracle-checked — this formulation pins the
    * tie-break (highest count, then smallest value) with a count aggregate
    * plus a row_number pick. Two shuffles, both on (flag, qty) /(flag)
    * group keys whose cardinality is the distinct-value space, not the
    * row count. */
  def modeDet(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy("l_returnflag")
  }

  /** Per-user lifetime-value decile table: users ranked by their exact
    * total event value, cut into ten equal-population deciles, each
    * reporting population, event volume, and the value range it spans —
    * the concentration table behind "top decile drives X% of value"
    * analyses (the user-level companion to TrainingPrep's source-level
    * Gini).
    *
    * Scale-correct global ranking — the two-phase prefix discipline of
    * [[Statistics.mannWhitney]]: users bucket by value range (32
    * buckets), per-bucket windows rank locally (largest sort partition =
    * one bucket), a ≤32-row cumulative offset table broadcasts back, and
    * rank = offset + local running count ([[graft.util.Prefix.sums]]) —
    * a total order over (ltv, user_id) with NO unpartitioned window over
    * the user population.
    * decile = (10·(rank−1)) div n is pure integer algebra.
    *
    * Determinism: LTVs are exact DECIMAL(24,6) sums (scale-6-safe per
    * the castscan sweep); bucket ids are the audited three-IEEE-op
    * extent expression; ties in LTV break on user_id. Output decimal
    * bounds cast to double (one correctly-rounded conversion each). */
  def ltvDecile(s: SparkSession, d: String): DataFrame = {
    val nb = 32
    val per = graft.util.Ckpt.stage(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg(sum(col("value").cast(DecimalType(24, 6))).as("v"),
        count(lit(1)).as("n_ev")))
    val ext = per.agg(min("v").as("lo"), max("v").as("hi"),
      count(lit(1)).as("n"))
    val bucketed = per.crossJoin(broadcast(ext))
      .withColumn("bkt",
        // not Statistics.equalWidthBucket: DECIMAL differences cast to double first
        when(col("hi") === col("lo"), lit(0)).otherwise(
          least(lit(nb - 1),
            floor((col("v") - col("lo")).cast("double") * nb /
                  (col("hi") - col("lo")).cast("double")).cast("int"))))
    graft.util.Prefix.sums(bucketed, Nil, "bkt", Seq("v", "user_id"), "rank" -> lit(1L))
      .withColumn("decile", expr("(10 * (rank - 1)) div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        sum("n_ev").as("n_events"),
        sum("v").cast("double").as("total_value"),
        min("v").cast("double").as("lo_ltv"),
        max("v").cast("double").as("hi_ltv"))
      .orderBy("decile")
  }

  /** RFM (recency / frequency / monetary) segmentation of the user
    * base — the classic lifecycle grid: each user scored 1–5 on how
    * recently they acted, how often, and how much value they carried,
    * then aggregated to the ≤125-cell segment grid a growth team
    * actually reads (5-5-5 = recent+frequent+valuable champions,
    * 1-x-x = churned).
    *
    * Scores are VALUE-BOUNDARY quintiles, not ntile: the four
    * boundaries per metric are rank-selected at ceil(j·n/5) over the
    * DISTINCT metric values with tie counts (the medianX2 shape), then
    * broadcast, so assignment is a row-local comparison and ties share
    * a score — deterministic where ntile's arbitrary tie-splitting is
    * not, and never an unpartitioned window over the user population
    * (the [[ltvDecile]] lesson applied at design time). Note quintile
    * 5 on recency means LONGEST-ago last activity (scores ascend with
    * the metric value; invert downstream as needed).
    *
    * Determinism: recency is integer days from the table watermark,
    * frequency an exact count, monetary an exact micro BIGINT; the
    * boundary selection and comparisons are pure integer algebra; the
    * segment mean value is ONE IEEE division floor-quantized.
    *
    * Scale shape: one per-user aggregate; three distinct-value rank
    * selections bounded by each metric's value domain; three 1-row
    * boundary broadcasts; one ≤125-row grid reduce. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = graft.util.Ckpt.stage {
      val ext = Tables.events(s, d).agg(max(unix_micros(col("ts"))).as("wm"))
      Tables.events(s, d).filter(col("value").isNotNull)
        .crossJoin(broadcast(ext))
        .groupBy("user_id")
        .agg(expr("(max(wm) - max(unix_micros(ts))) div 86400000000").as("rec_days"),
          count(lit(1)).as("freq"),
          sum(microExact(col("value"))).as("mon"))
    }
    // four rank-selected quintile boundaries of one integer metric,
    // returned as a 1-row frame (t1..t4)
    def bounds(metric: String): org.apache.spark.sql.DataFrame = {
      val w = Window.orderBy(metric)
      val ranked = per.groupBy(col(metric)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy()))
        .withColumn("prev", col("cum") - col("cnt"))
      val cs = (1 to 4).map { j =>
        sum(when(col("prev") < expr(s"($j * n + 4) div 5") &&
          expr(s"($j * n + 4) div 5") <= col("cum"), col(metric)))
          .as(s"${metric}_t$j")
      }
      ranked.agg(cs.head, cs.tail: _*)
    }
    def score(metric: String): org.apache.spark.sql.Column =
      lit(1) + (1 to 4).map(j =>
        (col(metric) > col(s"${metric}_t$j")).cast("int")).reduce(_ + _)
    per.crossJoin(broadcast(bounds("rec_days")))
      .crossJoin(broadcast(bounds("freq")))
      .crossJoin(broadcast(bounds("mon")))
      .select(score("rec_days").as("q_r"), score("freq").as("q_f"),
        score("mon").as("q_m"), col("mon"))
      .groupBy("q_r", "q_f", "q_m")
      .agg(count(lit(1)).as("n_users"),
        q6(sum("mon").cast("double") / count(lit(1)).cast("double") / lit(1000000.0))
          .as("avg_value"))
      .orderBy("q_r", "q_f", "q_m")
  }

  /** 30-day window length in µs for [[trendingParts]]. */
  private val TrendWinUs = 30L * 86400L * 1000000L

  /** Period-over-period trending parts: discounted revenue in the LAST
    * 30 days of shipping activity vs the 30 days before that, per part;
    * top 20 by integer per-mille growth — the "what's suddenly selling"
    * screen a demand-forecast or catalog-curation pipeline runs daily.
    * The window anchors on max(l_shipdate) so the query is
    * self-contained (no wall-clock dependence).
    *
    * Determinism: per-row revenue goes through the [[aggPricing]]
    * DECIMAL(24,6) quantization, then ×10⁶ to BIGINT micros — both
    * period sums are exact integer folds, and growth is one BIGINT
    * `div` (floor) at per-mille scale with a (growth, partkey) total
    * order for the top-k. Overflow edge: recent_µ×1000 wraps past
    * ~9.2·10¹⁵ µ$ (≈ $9.2B revenue per part per month) — document-scale
    * safe by orders of magnitude; partition the window by region before
    * that point.
    *
    * Scale shape: the 1-row max-shipdate frame broadcasts back; one
    * part-keyed map-side-combinable aggregate over pre-filtered rows
    * (everything older than two windows contributes nothing and is
    * dropped before the shuffle); the top-k sort runs on the surviving
    * two-period part frame. */
  def trendingParts(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"),
      // parquet NTZ → session-UTC timestamp (identity wall-clock) for µs math
      unix_micros(col("l_shipdate").cast("timestamp")).as("tsl"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(24, 6)).multiply(lit(1000000L)).cast("long").as("rev_u"))
    val mx = li.agg(max("tsl").as("md"))
    li.crossJoin(broadcast(mx))
      .filter(col("tsl") > col("md") - lit(2 * TrendWinUs))
      .withColumn("rec",
        when(col("tsl") > col("md") - lit(TrendWinUs), col("rev_u")).otherwise(lit(0L)))
      .withColumn("pri",
        when(col("tsl") <= col("md") - lit(TrendWinUs), col("rev_u")).otherwise(lit(0L)))
      .groupBy("l_partkey")
      .agg(sum("rec").as("rev_recent_u"), sum("pri").as("rev_prior_u"))
      .filter(col("rev_prior_u") > 0 && col("rev_recent_u") > 0)
      .withColumn("growth_pm", expr("rev_recent_u * 1000 div rev_prior_u"))
      .orderBy(col("growth_pm").desc, col("l_partkey").asc)
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_trending_parts" -> (trendingParts _),
    "q_rfm_segments" -> (rfmSegments _),
    "q_ltv_decile"      -> (ltvDecile _),
    "q_mode"            -> (modeDet _),
    "q_agg_pricing"     -> (aggPricing _),
    "q_arg_minmax"      -> (argMinMax _),
    "q_percentile_disc" -> (percentileDisc _),
    "q_agg_distinct"    -> (aggDistinct _),
    "q_agg_rollup"      -> (aggRollup _),
    "q_agg_cube"        -> (aggCube _),
    "q_grouping_sets"   -> (groupingSets _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_approx_quantile" -> (approxQuantile _),
    "q_pivot"           -> (pivotEvents _),
    "q_percentiles"     -> (percentiles _),
    "q_stats_moments"   -> (statsMoments _),
    "q_filtered_agg"    -> (filteredAgg _),
    "q_listagg"         -> (listAgg _),
  )

  /** Ordered string aggregation: collect_set → sort → join gives the same
    * string DuckDB's `string_agg(DISTINCT … ORDER BY …)` produces, without
    * depending on collect order (collect_list order is partition-dependent). */
  def listAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  private def multiDimSql(clause: String): String =
    s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
       |       COALESCE(o_orderpriority, '(all)') AS prio,
       |       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       |       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
       |       COUNT(*) AS cnt,
       |       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_price
       |FROM orders
       |GROUP BY $clause
       |ORDER BY g_status, g_prio, status, prio""".stripMargin

  /** The RFM oracle generates one boundary-CTE chain per metric from
    * the same rank rule as the Spark plan. */
  private def rfmOracle: String = {
    def boundCtes(m: String) =
      s"""${m}_bv AS (SELECT $m AS v, CAST(count(*) AS BIGINT) AS cnt
         |            FROM per GROUP BY 1),
         |${m}_r AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
         |                  CAST(sum(cnt) OVER () AS BIGINT) AS n FROM ${m}_bv),
         |${m}_b AS (SELECT ${(1 to 4).map(j =>
             s"CAST(sum(CASE WHEN cum - cnt < ($j * n + 4) // 5 AND " +
               s"($j * n + 4) // 5 <= cum THEN v END) AS BIGINT) AS t$j")
             .mkString(", ")}
         |           FROM ${m}_r)""".stripMargin
    def score(m: String, alias: String) =
      s"1 + ${(1 to 4).map(j =>
        s"CASE WHEN $m > ${alias}.t$j THEN 1 ELSE 0 END").mkString(" + ")}"
    s"""WITH wm AS (SELECT max(epoch_us(ts)) AS wm FROM events),
       |per AS (
       |  SELECT user_id,
       |    (max(wm) - max(epoch_us(ts))) // 86400000000 AS rec_days,
       |    CAST(count(*) AS BIGINT) AS freq,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT))
       |         AS BIGINT) AS mon
       |  FROM events, wm WHERE value IS NOT NULL GROUP BY user_id
       |),
       |${boundCtes("rec_days")},
       |${boundCtes("freq")},
       |${boundCtes("mon")},
       |scored AS (
       |  SELECT ${score("rec_days", "rec_days_b")} AS q_r,
       |         ${score("freq", "freq_b")} AS q_f,
       |         ${score("mon", "mon_b")} AS q_m,
       |         mon
       |  FROM per, rec_days_b, freq_b, mon_b
       |)
       |SELECT q_r, q_f, q_m, CAST(count(*) AS BIGINT) AS n_users,
       |  floor(CAST(sum(mon) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
       |        * 1000000.0 + 0.5) / 1000000.0 AS avg_value
       |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // exact-regime GK (see approxQuantile): p50 = the sample at 1-based
    // rank ceil(n/2) over non-null values — the smallest rn with 2rn >= n
    "q_approx_quantile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL
        |), p AS (
        |  SELECT event_type, min(CASE WHEN 2*rn >= n THEN value END) AS p50_approx
        |  FROM r GROUP BY event_type
        |), c AS (
        |  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
        |)
        |SELECT p.event_type, p.p50_approx, CAST(c.cnt AS BIGINT) AS cnt
        |FROM p JOIN c ON p.event_type = c.event_type
        |ORDER BY p.event_type""".stripMargin,
    "q_trending_parts" ->
      s"""WITH li AS (
         |  SELECT l_partkey, epoch_us(l_shipdate) AS tsl,
         |         CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))
         |              * 1000000 AS BIGINT) AS rev_u
         |  FROM lineitem
         |), mx AS (SELECT max(tsl) AS md FROM li),
         |p AS (
         |  SELECT l_partkey,
         |         CAST(sum(CASE WHEN tsl > md - $TrendWinUs THEN rev_u ELSE 0 END)
         |              AS BIGINT) AS rev_recent_u,
         |         CAST(sum(CASE WHEN tsl <= md - $TrendWinUs THEN rev_u ELSE 0 END)
         |              AS BIGINT) AS rev_prior_u
         |  FROM li, mx
         |  WHERE tsl > md - ${2 * TrendWinUs}
         |  GROUP BY 1
         |)
         |SELECT l_partkey, rev_recent_u, rev_prior_u,
         |       CAST(rev_recent_u * 1000 // rev_prior_u AS BIGINT) AS growth_pm
         |FROM p WHERE rev_prior_u > 0 AND rev_recent_u > 0
         |ORDER BY growth_pm DESC, l_partkey ASC
         |LIMIT 20""".stripMargin,
    "q_rfm_segments" -> rfmOracle,
    "q_ltv_decile" ->
      """WITH per AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(24,6))) AS v,
        |         CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id
        |), ext AS (
        |  SELECT min(v) AS lo, max(v) AS hi, CAST(count(*) AS BIGINT) AS n FROM per
        |), b AS (
        |  SELECT per.*, ext.n,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE least(31, CAST(floor(CAST(v - lo AS DOUBLE) * 32 /
        |                                   CAST(hi - lo AS DOUBLE)) AS INTEGER)) END AS bkt
        |  FROM per, ext
        |), offs AS (
        |  SELECT bkt,
        |    CAST(sum(s) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         - s AS BIGINT) AS off
        |  FROM (SELECT bkt, count(*) AS s FROM b GROUP BY bkt) t
        |), ranked AS (
        |  SELECT b.v, b.n_ev, b.n,
        |         offs.off + row_number() OVER (PARTITION BY b.bkt ORDER BY b.v, b.user_id) AS rank
        |  FROM b JOIN offs ON b.bkt = offs.bkt
        |)
        |SELECT (10 * (rank - 1)) // n AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  CAST(sum(v) AS DOUBLE) AS total_value,
        |  CAST(min(v) AS DOUBLE) AS lo_ltv,
        |  CAST(max(v) AS DOUBLE) AS hi_ltv
        |FROM ranked GROUP BY 1 ORDER BY decile""".stripMargin,
    "q_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT l_returnflag, l_quantity, cnt,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY cnt DESC, l_quantity ASC) AS rn
        |  FROM c
        |)
        |SELECT l_returnflag, l_quantity AS mode_qty, cnt
        |FROM r WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin,
    "q_percentile_disc" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders
        |)
        |SELECT o_orderstatus,
        |       max(CASE WHEN rn = floor((n + 3) / 4) THEN o_totalprice END) AS p25_disc,
        |       max(CASE WHEN rn = floor((n + 1) / 2) THEN o_totalprice END) AS p50_disc,
        |       max(CASE WHEN rn = floor((n * 9 + 9) / 10) THEN o_totalprice END) AS p90_disc
        |FROM r
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_arg_minmax" ->
      """SELECT event_type,
        |       arg_min(user_id, event_id) AS first_user,
        |       arg_max(user_id, event_id) AS last_user,
        |       count(*) FILTER (WHERE value > 100.0) AS n_big,
        |       bool_or(value > 400.0) AS any_huge,
        |       bool_and(value >= 0.0) AS all_nonneg
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_base,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT o_orderstatus,
        |       COUNT(DISTINCT o_custkey) AS n_cust,
        |       COUNT(DISTINCT year(o_orderdate)) AS n_years,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_listagg" ->
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |       COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_filtered_agg" ->
      """SELECT o_orderpriority,
        |       COUNT(*) AS n_all,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
        |            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderstatus,
        |       floor((quantile_cont(o_totalprice, 0.25)) * 10000 + 0.5) / 10000 AS p25,
        |       floor((quantile_cont(o_totalprice, 0.5)) * 10000 + 0.5) / 10000 AS p50,
        |       floor((quantile_cont(o_totalprice, 0.9)) * 10000 + 0.5) / 10000 AS p90
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_stats_moments" ->
      """SELECT event_type,
        |       COUNT(value) AS n,
        |       floor((CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / COUNT(value)) * 10000 + 0.5) / 10000 AS mean,
        |       floor(((CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE)
        |              - CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
        |                * CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / COUNT(value))
        |             / (COUNT(value) - 1)) * 10000 + 0.5) / 10000 AS var_samp,
        |       floor((sqrt((CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE)
        |              - CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
        |                * CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) / COUNT(value))
        |             / (COUNT(value) - 1))) * 10000 + 0.5) / 10000 AS stddev_samp
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_agg_rollup" -> multiDimSql("ROLLUP (o_orderstatus, o_orderpriority)"),
    "q_agg_cube"   -> multiDimSql("CUBE (o_orderstatus, o_orderpriority)"),
    "q_grouping_sets" -> multiDimSql(
      "GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())"),
    "q_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(24,6)) END) AS DOUBLE) AS click,
        |       CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(24,6)) END) AS DOUBLE) AS view,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(24,6)) END) AS DOUBLE) AS purchase,
        |       CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(24,6)) END) AS DOUBLE) AS signup,
        |       CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(24,6)) END) AS DOUBLE) AS error
        |FROM events
        |GROUP BY day
        |ORDER BY day""".stripMargin,
  )
}
