package graft.ops

import graft.util.Det
import graft.Tables
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join family (SURVEY.md §2b: inner / broadcast / left / full / semi /
  * anti / theta-range / as-of).
  *
  * The reference never joins (SURVEY.md §2a negative findings) — this family
  * implements the relational surface its Athena spec (`reqdef.yaml:69-73`)
  * licenses, sized for Spark's join strategies:
  *
  *  - dimension tables (region/nation/supplier, and the literal band table)
  *    are `broadcast()` — no shuffle of the fact side;
  *  - fact⋈fact equi-joins shuffle both sides on the key (sort-merge or
  *    shuffled-hash under AQE) — correct plan at 100 TB;
  *  - the as-of join deliberately avoids the O(|events|·|orders per user|)
  *    blow-up of a naive range join: it is a tagged union + one window pass,
  *    i.e. a single shuffle on the key and a per-partition sort — the
  *    scalable formulation of "nearest prior timestamp".
  */
object Joins {

  def joinInner(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"), col("o_totalprice"))
      .orderBy("o_orderkey")

  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"), col("r_name"))
      .orderBy("s_suppkey")

  /** LEFT join against the 'P'-status subset so unmatched rows (nulls)
    * actually occur; null join columns sort NULLS FIRST explicitly on both
    * engines (Spark's ASC default, but NOT DuckDB's). */
  def joinLeft(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)

  /** FULL join of per-customer 'F' vs 'P' order counts. */
  def joinFull(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("fk")).agg(count(lit(1)).as("f_cnt"))
    val p = o.filter(col("o_orderstatus") === "P")
      .groupBy(col("o_custkey").as("pk")).agg(count(lit(1)).as("p_cnt"))
    f.join(p, col("fk") === col("pk"), "full")
      .select(coalesce(col("fk"), col("pk")).as("custkey"), col("f_cnt"), col("p_cnt"))
      .orderBy("custkey")
  }

  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")

  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")

  /** Non-equi band join against a tiny literal dimension — broadcast
    * nested-loop with a 4-row build side, the only sane plan for a theta
    * join at scale. */
  def joinThetaRange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (0.0, 10.0, "low"), (10.0, 25.0, "mid"),
      (25.0, 40.0, "high"), (40.0, 100.0, "xl")).toDF("lo", "hi", "band")
    Tables.lineitem(s, d)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("band")
  }

  /** As-of join: for each event, the most recent order date of the same
    * customer at-or-before the event timestamp. Implemented as a tagged
    * union + running `last(ignoreNulls)` window — one shuffle on the key,
    * no row explosion (SURVEY.md §7.4). Order rows sort before event rows
    * at equal timestamps (tag 0 < 1) giving inclusive `<=` semantics, which
    * is what the naive oracle join computes. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val od = Tables.orders(s, d).select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"),
      lit(null).cast("long").as("event_id"),
      col("o_orderdate").as("odate"), lit(0).as("tag"))
    val ev = Tables.events(s, d).select(
      col("user_id").as("k"), col("ts").as("t"),
      col("event_id"),
      lit(null).cast("timestamp").as("odate"), lit(1).as("tag"))
    val w = Window.partitionBy("k")
      .orderBy(col("t").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    od.unionByName(ev)
      .withColumn("asof", last(col("odate"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), fmtTs(col("asof")).as("asof_date"))
      .orderBy("event_id")
  }

  /** Forward as-of (pandas `merge_asof(direction='forward')`): for each
    * event, the EARLIEST order date of the same customer at-or-after the
    * event timestamp. Same tagged-union shape as [[joinAsof]] scanned from
    * the other END of time: descending sort with the running
    * `last(ignoreNulls)` over (unbounded preceding, current row) — the
    * O(m) growing frame; a (current row, unbounded following) frame would
    * re-scan the partition tail per row, O(m²) on a hot key. Order rows
    * sort before event rows at equal timestamps so `>=` stays inclusive. */
  def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val od = Tables.orders(s, d).select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"),
      lit(null).cast("long").as("event_id"),
      col("o_orderdate").as("odate"), lit(0).as("tag"))
    val ev = Tables.events(s, d).select(
      col("user_id").as("k"), col("ts").as("t"),
      col("event_id"),
      lit(null).cast("timestamp").as("odate"), lit(1).as("tag"))
    val w = Window.partitionBy("k")
      .orderBy(col("t").desc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    od.unionByName(ev)
      .withColumn("asof", last(col("odate"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), fmtTs(col("asof")).as("next_date"))
      .orderBy("event_id")
  }

  /** Nearest as-of (pandas `merge_asof(direction='nearest')`) — the last
    * missing direction beside backward ([[joinAsof]]), forward
    * ([[joinAsofForward]]) and tolerance-bounded: for each event, the
    * order date of the same customer with the SMALLEST absolute time
    * distance, ties resolved backward (the pandas convention). Both
    * candidates come from ONE tagged union shuffled once on the key —
    * the ascending and descending running-`last` windows share the
    * partitioning, so the second direction costs a sort, not an
    * exchange, and there is still no row explosion.
    *
    * Determinism: the tie-break compares exact µs BIGINTs
    * (`unix_micros`), and the equal-timestamp inclusivity matches both
    * single-direction queries (order rows outrank event rows at equal
    * t in BOTH scan directions), so at distance 0 both sides name the
    * same date and the 'prev' label is stable. The oracle is the naive
    * pair of aggregate joins — it proves the semantics, not the
    * mechanism. */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val od = Tables.orders(s, d).select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"),
      lit(null).cast("long").as("event_id"),
      col("o_orderdate").as("odate"), lit(0).as("tag"))
    val ev = Tables.events(s, d).select(
      col("user_id").as("k"), col("ts").as("t"),
      col("event_id"),
      lit(null).cast("timestamp").as("odate"), lit(1).as("tag"))
    val wPrev = Window.partitionBy("k")
      .orderBy(col("t").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("k")
      .orderBy(col("t").desc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = od.unionByName(ev)
      .withColumn("pd", last(col("odate"), ignoreNulls = true).over(wPrev))
      .withColumn("nd", last(col("odate"), ignoreNulls = true).over(wNext))
      .filter(col("tag") === 1)
      .withColumn("pdiff", unix_micros(col("t")) - unix_micros(col("pd")))
      .withColumn("ndiff", unix_micros(col("nd")) - unix_micros(col("t")))
    picked.select(col("event_id"),
      when(col("pd").isNotNull && (col("nd").isNull || col("pdiff") <= col("ndiff")),
        fmtTs(col("pd")))
        .when(col("nd").isNotNull, fmtTs(col("nd")))
        .otherwise(lit(null).cast("string")).as("near_date"),
      when(col("pd").isNotNull && (col("nd").isNull || col("pdiff") <= col("ndiff")),
        lit("prev"))
        .when(col("nd").isNotNull, lit("next"))
        .otherwise(lit(null).cast("string")).as("side"))
      .orderBy("event_id")
  }

  /** The same as-of semantics through the native custom operator
    * ([[graft.plans.AsOfJoin]]: logical node + strategy + streaming-merge
    * physical plan) — checked against the identical DuckDB oracle as
    * `q_join_asof`, which proves the custom operator end-to-end. */
  def joinAsofNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val od = Tables.orders(s, d).select(col("o_custkey"), col("o_orderdate"))
    graft.plans.AsOfJoin.nearestPrior(ev, od, "user_id", "ts", "o_custkey", "o_orderdate")
      .select(col("event_id"), fmtTs(col("asof_t")).as("asof_date"))
      .orderBy("event_id")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): null keys
    * match EACH OTHER instead of vanishing — the semantics a dimension
    * join over a nullable column actually needs (a plain `=` silently
    * drops every null-keyed row). Joined over deduplicated key sets, so
    * the null⋈null match is a single row, not a cross blow-up. */
  def joinNullSafe(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.events(s, d)
      .select(nullif(col("event_type"), lit("error")).as("k"))
    val a = keyed.distinct().withColumnRenamed("k", "ka")
    val b = keyed.distinct().withColumnRenamed("k", "kb")
    a.join(b, col("ka") <=> col("kb"))
      .select(coalesce(col("ka"), lit("(null)")).as("matched_key"))
      .orderBy("matched_key")
  }

  /** Explicit cartesian product — only ever sane when one side is tiny, and
    * then it should be the broadcast side (BroadcastNestedLoopJoin, no
    * shuffle). Region×nation grid with a membership flag. */
  def crossJoinGrid(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .crossJoin(broadcast(Tables.region(s, d)))
      .select(col("n_name"), col("r_name"),
        (col("n_regionkey") === col("r_regionkey")).as("is_home"))
      .orderBy("n_name", "r_name")

  /** Skew-salted join surfaced as a query: events (the skewed fact — only 5
    * distinct event_type keys) against a per-type dimension, through
    * [[graft.ops.Partitioning.saltedJoin]]. Salting randomizes only the
    * physical placement; the logical result is exactly the plain inner
    * join, which is what the oracle states. */
  def joinSalted(s: SparkSession, d: String): DataFrame = {
    val typeDim = Tables.events(s, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("type_cnt"))
    Partitioning.saltedJoin(Tables.events(s, d), typeDim, "event_type", salts = 8)
      .select(col("event_id"), col("event_type"), col("type_cnt"))
      .orderBy("event_id")
  }

  /** Tolerance-bounded as-of join through the native operator: the nearest
    * prior order counts only if it landed within 9131 days (~25 years —
    * the fixture's order/event epochs are decades apart, so this horizon
    * genuinely splits the population) of the event, pandas
    * `merge_asof(tolerance=...)` semantics. Same merge pass, one extra
    * comparison — the oracle nulls matches beyond the horizon. */
  def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val od = Tables.orders(s, d).select(col("o_custkey"), col("o_orderdate"))
    val toleranceMicros = 9131L * 86400 * 1000 * 1000
    graft.plans.AsOfJoin.nearestPrior(ev, od, "user_id", "ts",
        "o_custkey", "o_orderdate", toleranceMicros = Some(toleranceMicros))
      .select(col("event_id"), fmtTs(col("asof_t")).as("asof_date"))
      .orderBy("event_id")
  }

  /** TPC-H Q3-shaped 3-way pipeline: selective dimension filter broadcast
    * against two fact tables, aggregate, top-10. The filtered customer side
    * is broadcast explicitly (it is the selective side); orders⋈lineitem is
    * the fact⋈fact shuffle on the order key. Revenue goes through the
    * decimal-exact sum so the top-10 cutoff is reproducible. */
  def joinPipelineTop(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .withColumn("revenue", Det.q4(col("revenue")))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)

  /** TPC-H Q5-shaped 6-way star: broadcast dimension chains
    * (supplier→nation→region) hanging off an orders⋈lineitem fact spine,
    * grouped by nation. True dimensions carry explicit broadcast hints;
    * customer (which scales with the facts) is left to AQE. */
  def joinStarSchema(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      // no broadcast hint on customer: it scales with the fact side, so the
      // right plan is SF-dependent — AQE broadcasts it while it fits and
      // falls back to a shuffled join beyond that
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .withColumn("revenue", Det.q4(col("revenue")))
      .orderBy("n_name")

  /** Grid-bucketed spatial k-nearest-neighbors — the join pattern Spark
    * lacks natively: points land in 10°×10° grid cells, each query point
    * probes only its 3×3 cell neighborhood, and the kNN ranking runs on
    * that bounded candidate set — the spatial analogue of the LSH-bucket
    * and IVF-cell candidate generation the dedup/ANN families use, and
    * the scale shape a billion-point spatial join needs (the naive
    * all-pairs distance join is the thing this query exists to avoid).
    * Coordinates are hash-derived from the customer key (the engine's
    * seeded-randomness idiom) on a flat degree grid — a bucketing-plan
    * demo, not geodesy; a real deployment swaps in geohash cells and
    * haversine without changing the plan.
    *
    * Determinism: coordinates are fixed IEEE trees over exact md5-derived
    * integers; cell ids are floor divisions; distances are elementary-op
    * trees over identical operand pairs, ranked with a (dist, key)
    * total-order tiebreak; the output distance quantizes at 6 dp.
    * Neighborhoods do not wrap at the ±180° seam (documented — a wrap
    * adds a modular offset to the probe list, same plan).
    *
    * Scale shape: the corpus is bucketed once; queries explode ×9 (their
    * neighbor cells) and broadcast; the join is a cell-key equi-join, so
    * per-query work is bounded by neighborhood occupancy, never corpus
    * size. */
  def geoGridKnn(s: SparkSession, d: String): DataFrame = {
    def u(salt: String) =
      (conv(substring(md5(concat(lit(salt), col("c_custkey").cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val pts = graft.util.Ckpt.stage(Tables.customer(s, d)
      .select(col("c_custkey"),
        (u("lat:") * lit(180.0) - lit(90.0)).as("lat"),
        (u("lon:") * lit(360.0) - lit(180.0)).as("lon"))
      .withColumn("cx", floor(col("lon") / lit(10.0)).cast("long"))
      .withColumn("cy", floor(col("lat") / lit(10.0)).cast("long")))
    val probes = pts.filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey").as("qid"), col("lat").as("qlat"), col("lon").as("qlon"),
        explode(expr("flatten(transform(sequence(-1, 1), " +
          "dx -> transform(sequence(-1, 1), dy -> struct(dx, dy))))")).as("o"),
        col("cx"), col("cy"))
      .select(col("qid"), col("qlat"), col("qlon"),
        (col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"))
    val w = Window.partitionBy("qid").orderBy(col("dist2").asc, col("c_custkey").asc)
    broadcast(probes).join(pts, Seq("cx", "cy"))
      .filter(col("c_custkey") =!= col("qid"))
      .withColumn("dist2",
        (col("qlat") - col("lat")) * (col("qlat") - col("lat")) +
          (col("qlon") - col("lon")) * (col("qlon") - col("lon")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("c_custkey").as("neighbor"),
        q6(sqrt(col("dist2"))).as("dist_deg"))
      .orderBy("qid", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_geo_grid_knn" -> (geoGridKnn _),
    "q_join_inner"       -> (joinInner _),
    "q_join_asof_tol"    -> (joinAsofTolerance _),
    "q_join_salted"      -> (joinSalted _),
    "q_join_cross"       -> (crossJoinGrid _),
    "q_join_null_safe"   -> (joinNullSafe _),
    "q_join_pipeline_top" -> (joinPipelineTop _),
    "q_join_star"        -> (joinStarSchema _),
    "q_join_asof_native" -> (joinAsofNative _),
    "q_join_broadcast"   -> (joinBroadcast _),
    "q_join_left"        -> (joinLeft _),
    "q_join_full"        -> (joinFull _),
    "q_join_semi"        -> (joinSemi _),
    "q_join_anti"        -> (joinAnti _),
    "q_join_theta_range" -> (joinThetaRange _),
    "q_join_asof"        -> (joinAsof _),
    "q_join_asof_fwd"    -> (joinAsofForward _),
    "q_join_asof_near"   -> (joinAsofNearest _),
  )

  val oracle: Map[String, String] = Map(
    "q_geo_grid_knn" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    ((CAST(CAST('0x' || substring(md5('lat:' || c_custkey), 1, 8) AS BIGINT)
        |       AS DOUBLE) + 0.5) / 4294967296.0) * 180.0 - 90.0 AS lat,
        |    ((CAST(CAST('0x' || substring(md5('lon:' || c_custkey), 1, 8) AS BIGINT)
        |       AS DOUBLE) + 0.5) / 4294967296.0) * 360.0 - 180.0 AS lon
        |  FROM customer
        |), cells AS (
        |  SELECT c_custkey, lat, lon,
        |    CAST(floor(lon / 10.0) AS BIGINT) AS cx,
        |    CAST(floor(lat / 10.0) AS BIGINT) AS cy
        |  FROM pts
        |), probes AS (
        |  SELECT c_custkey AS qid, lat AS qlat, lon AS qlon,
        |         cx + dx.x AS cx, cy + dy.y AS cy
        |  FROM cells,
        |       (SELECT unnest(range(-1, 2)) AS x) dx,
        |       (SELECT unnest(range(-1, 2)) AS y) dy
        |  WHERE c_custkey % 100 = 0
        |), cand AS (
        |  SELECT p.qid,
        |    (p.qlat - c.lat) * (p.qlat - c.lat)
        |      + (p.qlon - c.lon) * (p.qlon - c.lon) AS dist2,
        |    c.c_custkey
        |  FROM probes p JOIN cells c ON p.cx = c.cx AND p.cy = c.cy
        |  WHERE c.c_custkey <> p.qid
        |), rk AS (
        |  SELECT qid, c_custkey, dist2,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY dist2 ASC, c_custkey ASC) AS rn
        |  FROM cand
        |)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, c_custkey AS neighbor,
        |  floor(sqrt(dist2) * 1000000.0 + 0.5) / 1000000.0 AS dist_deg
        |FROM rk WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "q_join_pipeline_top" ->
      """SELECT o_orderkey, o_orderpriority,
        |       floor((CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q_join_star" ->
      """SELECT n_name,
        |       floor((CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue,
        |       COUNT(*) AS n_items
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT s_suppkey, s_name, n_name, r_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        |  ON c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q_join_full" ->
      """SELECT COALESCE(f.fk, p.pk) AS custkey, f.f_cnt, p.p_cnt
        |FROM (SELECT o_custkey AS fk, COUNT(*) AS f_cnt FROM orders
        |      WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
        |FULL JOIN (SELECT o_custkey AS pk, COUNT(*) AS p_cnt FROM orders
        |      WHERE o_orderstatus = 'P' GROUP BY o_custkey) p
        |  ON f.fk = p.pk
        |ORDER BY custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_theta_range" ->
      """SELECT band, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'),
        |             (25.0, 40.0, 'high'), (40.0, 100.0, 'xl')) AS b(lo, hi, band)
        |  ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band
        |ORDER BY band""".stripMargin,
    "q_join_asof_native" ->
      """SELECT e.event_id,
        |       strftime(max(o.o_orderdate), '%Y-%m-%d %H:%M:%S') AS asof_date
        |FROM events e
        |LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |GROUP BY e.event_id
        |ORDER BY e.event_id""".stripMargin,
    "q_join_null_safe" ->
      """WITH k AS (
        |  SELECT DISTINCT nullif(event_type, 'error') AS k FROM events
        |)
        |SELECT coalesce(a.k, '(null)') AS matched_key
        |FROM k a JOIN k b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY matched_key""".stripMargin,
    "q_join_cross" ->
      """SELECT n_name, r_name, n_regionkey = r_regionkey AS is_home
        |FROM nation CROSS JOIN region
        |ORDER BY n_name, r_name""".stripMargin,
    "q_join_salted" ->
      """SELECT e.event_id, e.event_type, t.type_cnt
        |FROM events e
        |JOIN (SELECT event_type, count(*) AS type_cnt
        |      FROM events GROUP BY event_type) t USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    "q_join_asof_tol" ->
      """SELECT e.event_id,
        |       strftime(
        |         CASE WHEN max(o.o_orderdate) >= CAST(e.ts AS TIMESTAMP) - INTERVAL 9131 DAY
        |              THEN max(o.o_orderdate) END,
        |         '%Y-%m-%d %H:%M:%S') AS asof_date
        |FROM events e
        |LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |GROUP BY e.event_id, e.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_join_asof" ->
      """SELECT e.event_id,
        |       strftime(max(o.o_orderdate), '%Y-%m-%d %H:%M:%S') AS asof_date
        |FROM events e
        |LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |GROUP BY e.event_id
        |ORDER BY e.event_id""".stripMargin,
    // CAST truncates the ns event ts to µs exactly as the Spark read path
    // does — required here because flooring ts can flip `>=` (it can never
    // flip the backward join's `<=`)
    "q_join_asof_fwd" ->
      """SELECT e.event_id,
        |       strftime(min(o.o_orderdate), '%Y-%m-%d %H:%M:%S') AS next_date
        |FROM events e
        |LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate >= CAST(e.ts AS TIMESTAMP)
        |GROUP BY e.event_id
        |ORDER BY e.event_id""".stripMargin,
    // the naive two-direction formulation; tie (pdiff = ndiff, exact µs
    // BIGINTs) resolves backward like pandas merge_asof nearest
    "q_join_asof_near" ->
      """WITH prevd AS (
        |  SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts,
        |         max(o.o_orderdate) AS pd
        |  FROM events e
        |  LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  GROUP BY 1, 2
        |), nextd AS (
        |  SELECT e.event_id, min(o.o_orderdate) AS nd
        |  FROM events e
        |  LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate >= CAST(e.ts AS TIMESTAMP)
        |  GROUP BY 1
        |)
        |SELECT p.event_id,
        |  CASE WHEN pd IS NOT NULL AND (nd IS NULL OR
        |            epoch_us(p.ts) - epoch_us(pd) <= epoch_us(nd) - epoch_us(p.ts))
        |       THEN strftime(pd, '%Y-%m-%d %H:%M:%S')
        |       WHEN nd IS NOT NULL THEN strftime(nd, '%Y-%m-%d %H:%M:%S')
        |  END AS near_date,
        |  CASE WHEN pd IS NOT NULL AND (nd IS NULL OR
        |            epoch_us(p.ts) - epoch_us(pd) <= epoch_us(nd) - epoch_us(p.ts))
        |       THEN 'prev'
        |       WHEN nd IS NOT NULL THEN 'next'
        |  END AS side
        |FROM prevd p JOIN nextd n ON p.event_id = n.event_id
        |ORDER BY p.event_id""".stripMargin,
  )
}
