package graft.ops

import graft.util.Det
import graft.Tables
import graft.util.Det.dsum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DecimalType}

/** Scale-pattern operators surfaced as queries: the physical-rewrite tricks a
  * 100 TB deployment leans on, each with a logically-identical plain
  * formulation the DuckDB oracle states. The reference's ETL
  * (`infra/scripts/demo-etl-2a-notebook.py:53-56`) has no skew or
  * runtime-filter handling — at its 149k-row scale none is needed; these are
  * the forms its two jobs take once inputs stop fitting a G.1X worker pair.
  *
  * - [[saltedAgg]]: two-phase (salted) aggregation, the skew-proof shape
  *   demonstrated on a 5-key table. For combinable aggregates like the
  *   count/sum here, Spark's partial aggregation already collapses each
  *   map partition to ≤ 5 rows, so the salt is not load-bearing — it
  *   becomes load-bearing when per-key reduce state does NOT collapse
  *   map-side (exact distinct sets, collect_list/percentile state), where
  *   a single hot key's state must be split across reducers and merged in
  *   a second phase. The query pins the pattern and its result-invariance.
  *
  * - [[bloomPrejoin]]: runtime-filter join. The selective dimension's join
  *   keys are sketched into a Bloom filter (driver-side, ~100 KB — the same
  *   broadcast economics as a runtime filter), and the fact side is
  *   pre-filtered through the codegen'd Catalyst
  *   [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
  *   predicate *before* the join shuffle. False positives only leak extra
  *   rows into the exact join, so the result is identical to the plain join
  *   — which is what the oracle asserts. This is what
  *   `spark.sql.optimizer.runtime.bloomFilter.enabled` injects automatically
  *   when stats expose the selectivity; the explicit form pins the behavior
  *   independent of stats quality.
  */
object ScaleOps {

  /** Phase-1 salt count. At 100 TB this would be sized to
    * (hot-key bytes / target partition bytes); 16 is plenty for local[32]. */
  private val Salts = 16

  /** Skew-resistant two-phase aggregation over the 5-key `events` table:
    * count + exact value sum per event_type, partials split over 16 salts.
    * The salt is a deterministic function of a unique key (not `rand()`),
    * so retried tasks re-produce identical partials — required for
    * exactly-once semantics under speculative execution. */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("value"), pmod(hash(col("event_id")), lit(Salts)).as("salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(24, 6))).as("pv"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("pn")).as("n_events"),
        sum(col("pv")).cast("double").as("total_value"))
      .withColumn("total_value", Det.q4(col("total_value")))
      .orderBy("event_type")

  /** `mightContain` over a driver-built key sketch, as a native codegen'd
    * predicate (no UDF): the probe column is evaluated against the
    * serialized filter bytes inlined as a foldable binary literal. */
  private def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    Bridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), Bridge.expression(key)))

  /** High-value orders (top ~3.5% by totalprice) joined to their lineitems,
    * revenue per order priority. The fact scan is pre-filtered through the
    * dimension-key Bloom sketch so only ~3% of lineitem rows reach the join
    * shuffle; the join itself stays exact. */
  def bloomPrejoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_totalprice") > 480000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    // capacity sized to the *filtered* dimension (~3.5% of orders), not the
    // table: an oversized sketch just inflates the literal every task
    // deserializes. ~120 KB at fpp 0.01; a real deployment would size from
    // the filter's observed cardinality.
    val bf = dim.stat.bloomFilter("o_orderkey", expectedNumItems = 100000L, fpp = 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .filter(mightContain(bytes, col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        Det.q4(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Join-key skew diagnosis — the report run before sizing a shuffle: the
    * top-10 heaviest o_custkey values on the orders fact, each with its
    * share of the table and its ratio to the mean key load. One partial-
    * aggregating shuffle on the key plus a 10-row global top-k; the numbers
    * decide between AQE skew handling and an explicit salted join. */
  def keySkew(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val totals = perKey.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
    perKey.crossJoin(broadcast(totals))
      .withColumn("share", Det.q6(col("cnt") / col("total")))
      // divide by the mean key load rather than multiplying cnt * n_keys:
      // the integer product can exceed Long range at the very scales this
      // diagnostic exists for (Spark would wrap silently in non-ANSI mode)
      .withColumn("skew",
        Det.q4(col("cnt") / (col("total") / col("n_keys").cast("double"))))
      .select(col("o_custkey"), col("cnt"), col("share"), col("skew"))
      .orderBy(col("cnt").desc, col("o_custkey").asc)
      .limit(10)
  }

  /** Incremental aggregate maintenance — the materialized-view pattern a
    * 100 TB deployment uses instead of full recompute: yesterday's BASE
    * aggregate (here: the first time half) merged with today's DELTA
    * (the second half) by pure partial-state addition, then audited
    * against a from-scratch recompute. Count and sum are commutative
    * monoids, so base+delta merge is exact — the audit column proves it
    * row-for-row (avg/quantiles would need their decomposed states; see
    * [[graft.functions.SketchAggs]] for the mergeable-sketch versions).
    *
    * Determinism: the half split is the integer µs midpoint (no calendar
    * literals); counts and micro-unit sums are exact BIGINTs end to end.
    *
    * Scale shape: two map-side-combined keyed aggregates + one keyed
    * outer merge over the ≤|event_type| state frame; in production the
    * base never recomputes — only the delta scan runs per ingest, which
    * is the entire point. */
  def incrAgg(s: SparkSession, d: String): DataFrame = {
    val ext = Tables.events(s, d)
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
    val ev = Tables.events(s, d).crossJoin(broadcast(ext))
      .select(col("event_type"),
        (unix_micros(col("ts")) < expr("(lo + hi) div 2")).as("pre"),
        coalesce(Det.microExact(col("value")), lit(0L)).as("micro"))
    def half(pre: Boolean, cn: String, vn: String): DataFrame =
      ev.filter(if (pre) col("pre") else !col("pre"))
        .groupBy("event_type")
        .agg(count(lit(1)).as(cn), sum("micro").as(vn))
    val merged = half(pre = true, "cnt_base", "sum_base")
      .join(half(pre = false, "cnt_delta", "sum_delta"), Seq("event_type"), "full")
      .select(col("event_type"),
        coalesce(col("cnt_base"), lit(0L)).as("cnt_base"),
        coalesce(col("cnt_delta"), lit(0L)).as("cnt_delta"),
        (coalesce(col("cnt_base"), lit(0L)) + coalesce(col("cnt_delta"), lit(0L)))
          .as("cnt_merged"),
        (coalesce(col("sum_base"), lit(0L)) + coalesce(col("sum_delta"), lit(0L)))
          .as("sum_merged"))
    val full = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt_full"), sum("micro").as("sum_full"))
    merged.join(full, "event_type")
      .select(col("event_type"), col("cnt_base"), col("cnt_delta"),
        col("cnt_merged"), col("sum_merged"),
        (col("cnt_merged") === col("cnt_full") &&
          col("sum_merged") === col("sum_full")).as("matches"))
      .orderBy("event_type")
  }

  /** Join-cardinality estimation audit — the optimizer's own
    * containment-assumption formula |L⋈R| ≈ |L|·|R| / max(ndv_L, ndv_R)
    * checked against the true join size for the two central fact joins.
    * This is the statistic a CBO's join reorder runs on; surfacing the
    * estimate/actual ratio as a query is how a platform validates its
    * ANALYZE stats before trusting plan choices at 100 TB (a ratio far
    * from 1 means stale ndv stats or key-correlation the formula can't
    * see — exactly when a broadcast-vs-shuffle decision goes wrong).
    *
    * Determinism: counts and exact distinct counts are BIGINTs; the
    * estimate is integer floor-division in DECIMAL(38,0) (overflow-free
    * for any |L|·|R| < 10³⁸); the ratio is ONE IEEE division
    * floor-quantized to 6 dp.
    *
    * Scale shape: per join pair, two 1-row side-stat aggregates
    * (broadcast) + the actual join count — the join itself is the cost;
    * in production `actual` comes from the last run's metrics, not a
    * probe join. */
  def joinCardEst(s: SparkSession, d: String): DataFrame = {
    def audit(name: String, l: DataFrame, lk: String, r: DataFrame, rk: String): DataFrame = {
      val ls = l.agg(count(lit(1)).as("n_l"), count_distinct(col(lk)).as("ndv_l"))
      val rs = r.agg(count(lit(1)).as("n_r"), count_distinct(col(rk)).as("ndv_r"))
      val actual = l.join(r, col(lk) === col(rk)).agg(count(lit(1)).as("actual"))
      ls.crossJoin(broadcast(rs)).crossJoin(broadcast(actual))
        .select(lit(name).as("join_pair"), col("n_l"), col("n_r"),
          col("ndv_l"), col("ndv_r"),
          expr("CAST((CAST(n_l AS DECIMAL(38,0)) * n_r) div greatest(ndv_l, ndv_r) AS BIGINT)")
            .as("est_rows"),
          col("actual"))
    }
    val li = Tables.lineitem(s, d).select(col("l_orderkey"))
    val ord = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    audit("lineitem_orders", li, "l_orderkey", ord.select(col("o_orderkey")), "o_orderkey")
      .unionByName(audit("orders_customer", ord.select(col("o_custkey")), "o_custkey",
        cust.select(col("c_custkey")), "c_custkey"))
      .withColumn("err_ratio",
        Det.q6(col("est_rows").cast("double") / col("actual").cast("double")))
      .orderBy("join_pair")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_agg"      -> (incrAgg _),
    "q_join_card_est" -> (joinCardEst _),
    "q_agg_salted"    -> (saltedAgg _),
    "q_bloom_prejoin" -> (bloomPrejoin _),
    "q_key_skew"      -> (keySkew _),
  )

  val oracle: Map[String, String] = Map(
    "q_incr_agg" ->
      """WITH ext AS (
        |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
        |), ev AS (
        |  SELECT event_type, epoch_us(ts) < (lo + hi) // 2 AS pre,
        |         COALESCE(CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT), 0) AS micro
        |  FROM events, ext
        |), b AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt_base,
        |         CAST(sum(micro) AS BIGINT) AS sum_base
        |  FROM ev WHERE pre GROUP BY event_type
        |), dl AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt_delta,
        |         CAST(sum(micro) AS BIGINT) AS sum_delta
        |  FROM ev WHERE NOT pre GROUP BY event_type
        |), m AS (
        |  SELECT COALESCE(b.event_type, dl.event_type) AS event_type,
        |         COALESCE(cnt_base, 0) AS cnt_base, COALESCE(cnt_delta, 0) AS cnt_delta,
        |         COALESCE(cnt_base, 0) + COALESCE(cnt_delta, 0) AS cnt_merged,
        |         COALESCE(sum_base, 0) + COALESCE(sum_delta, 0) AS sum_merged
        |  FROM b FULL JOIN dl ON b.event_type = dl.event_type
        |), f AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt_full,
        |         CAST(sum(micro) AS BIGINT) AS sum_full
        |  FROM ev GROUP BY event_type
        |)
        |SELECT m.event_type, cnt_base, cnt_delta, cnt_merged, sum_merged,
        |       cnt_merged = cnt_full AND sum_merged = sum_full AS matches
        |FROM m JOIN f ON m.event_type = f.event_type
        |ORDER BY m.event_type""".stripMargin,
    "q_join_card_est" ->
      """WITH lo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_l,
        |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_l FROM lineitem
        |), ro AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_r,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_r FROM orders
        |), ao AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), lc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_l,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_l FROM orders
        |), rc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_r,
        |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv_r FROM customer
        |), ac AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |), u AS (
        |  SELECT 'lineitem_orders' AS join_pair, n_l, n_r, ndv_l, ndv_r,
        |         CAST(CAST(n_l AS HUGEINT) * n_r // greatest(ndv_l, ndv_r) AS BIGINT) AS est_rows,
        |         actual
        |  FROM lo, ro, ao
        |  UNION ALL
        |  SELECT 'orders_customer', n_l, n_r, ndv_l, ndv_r,
        |         CAST(CAST(n_l AS HUGEINT) * n_r // greatest(ndv_l, ndv_r) AS BIGINT),
        |         actual
        |  FROM lc, rc, ac
        |)
        |SELECT join_pair, n_l, n_r, ndv_l, ndv_r, est_rows, actual,
        |  floor(CAST(est_rows AS DOUBLE) / CAST(actual AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS err_ratio
        |FROM u ORDER BY join_pair""".stripMargin,
    // The salt is physical-only: the logical result is the plain GROUP BY.
    "q_agg_salted" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       floor((CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_key_skew" ->
      """WITH k AS (
        |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
        |), t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM k
        |)
        |SELECT o_custkey, cnt,
        |       floor((cnt / CAST(total AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS share,
        |       floor((cnt / (CAST(total AS DOUBLE) / n_keys)) * 10000 + 0.5) / 10000 AS skew
        |FROM k, t
        |ORDER BY cnt DESC, o_custkey ASC
        |LIMIT 10""".stripMargin,
    // The Bloom prefilter only drops rows the exact join would drop anyway.
    "q_bloom_prejoin" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_items,
        |       floor((CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 480000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
  )
}
