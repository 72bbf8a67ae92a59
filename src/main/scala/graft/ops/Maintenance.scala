package graft.ops

import graft.util.Det
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators: the data-quality gate and the snapshot
  * upsert every production pipeline runs between ingest and training
  * (alongside `sources.Formats.compact`, the small-file compactor).
  *
  * The reference's pipeline has no quality gate and rebuilds its output
  * wholesale per run (`process_tsv.py` reloads the full word_counts table);
  * these are the two operators that change that story at 100 TB — validate
  * before publish, merge instead of rewrite.
  */
object Maintenance {

  /** Data-quality report over orders: one row per check, computed in a
    * single aggregate pass (never one job per check) and reshaped long. A
    * publish gate reads this and fails the run on any non-zero violation. */
  def dqReport(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .agg(
        count(lit(1)).as("row_count"),
        count_if(col("o_custkey").isNull).as("null_custkey"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
        count_if(col("o_totalprice") <= 0.0).as("nonpositive_price"),
        count_if(col("o_orderdate") > lit("2002-01-01").cast("timestamp")).as("future_orderdate"))
      .unpivot(Array.empty, "metric", "value")
      .orderBy("metric")

  /** +10% in integer cents — round(x*1.1, 2) disagrees across engines on
    * half-cent doubles; floor over exact integer arithmetic never does. */
  private def bump(price: org.apache.spark.sql.Column) =
    floor(round(price * 100) * 11 / 10) / 100.0

  /** SCD-1 upsert: merge an incoming batch into the current snapshot —
    * incoming rows overwrite matching keys, unmatched incoming rows insert,
    * everything else carries over, with a provenance tag. Expressed as one
    * key-partitioned FULL OUTER join (both sides shuffle once on the key),
    * the vanilla-Spark MERGE INTO. The incoming batch is derived
    * deterministically from the fixture: every 'P' order re-priced +10%,
    * plus the same rows re-keyed past the key space as fresh inserts. */
  def upsertSnapshot(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val p = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
    val incoming = p
      .select(col("o_orderkey").as("uk"), bump(col("o_totalprice")).as("uprice"))
      .unionByName(p.select((col("o_orderkey") + 10000000L).as("uk"),
        bump(col("o_totalprice")).as("uprice")))
    base.join(incoming, col("k") === col("uk"), "full")
      .select(
        coalesce(col("k"), col("uk")).as("o_orderkey"),
        coalesce(col("uprice"), col("price")).as("price"),
        when(col("k").isNull, lit("inserted"))
          .when(col("uk").isNull, lit("kept"))
          .otherwise(lit("updated")).as("provenance"))
      .orderBy("o_orderkey")
  }

  /** SCD Type-2 dimension build: the per-customer order-status history
    * compressed to effective-dated versions — consecutive same-status
    * orders collapse, each surviving change opens a version row
    * [valid_from, valid_to) with the successor's start as the close and
    * NULL (is_current=1) on the latest. Two key-partitioned window passes
    * over (custkey | orderdate, orderkey) — one exchange on the customer
    * key, no joins; at 100 TB the change-filter drops most rows BEFORE the
    * second pass materializes version numbers. Validity bounds are emitted
    * as formatted strings so both engines hash identically. */
  def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val day = (c: org.apache.spark.sql.Column) => date_format(c, "yyyy-MM-dd")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
      .withColumn("prev", lag("o_orderstatus", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .withColumn("valid_to", day(lead("o_orderdate", 1).over(w)))
      .withColumn("version", row_number().over(w))
      .select(col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        day(col("o_orderdate")).as("valid_from"),
        col("valid_to"), col("version"),
        col("valid_to").isNull.cast("int").as("is_current"))
      .orderBy("custkey", "version")
  }

  /** Per-column profile of the events table — one row per column with
    * count / null-count / distinct-count plus type-appropriate extrema
    * (numeric bounds for numeric columns, lexicographic bounds for
    * strings, formatted bounds for timestamps) — the table-stats pass a
    * catalog ANALYZE runs, surfaced as a queryable frame (null-rate
    * regressions and distinct-count collapses are the first symptoms of
    * an upstream schema break).
    *
    * Determinism: counts are exact; numeric extrema are raw parquet
    * values (no arithmetic); string extrema compare ASCII fixture
    * strings identically in both engines; timestamps format through the
    * shared fmtTs pattern. Doubles never pass through string formatting
    * (engine-dependent repr) — numeric and string extrema live in
    * SEPARATE typed columns.
    *
    * Scale shape: one pass per profiled column (5 map-side-combined
    * aggregates unioned over a 5-row result); at 100 TB you'd fuse the
    * non-distinct stats into one scan and keep a distinct-count
    * aggregate per column — count_distinct here is exact by contract
    * with the oracle, where the real pipeline would use the HLL sketch
    * column ([[graft.ops.Sketches]]). */
  def columnProfile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def num(c: String): DataFrame = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(col(c).isNull.cast("long")).as("n_null"),
      count_distinct(col(c)).as("n_distinct"),
      min(col(c)).cast("double").as("min_num"),
      max(col(c)).cast("double").as("max_num"),
      lit(null).cast("string").as("min_str"),
      lit(null).cast("string").as("max_str"))
      .select(lit(c).as("column_name"), col("*"))
    def str(c: String): DataFrame = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(col(c).isNull.cast("long")).as("n_null"),
      count_distinct(col(c)).as("n_distinct"),
      lit(null).cast("double").as("min_num"),
      lit(null).cast("double").as("max_num"),
      min(col(c)).as("min_str"),
      max(col(c)).as("max_str"))
      .select(lit(c).as("column_name"), col("*"))
    def ts(c: String): DataFrame = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(col(c).isNull.cast("long")).as("n_null"),
      count_distinct(col(c)).as("n_distinct"),
      lit(null).cast("double").as("min_num"),
      lit(null).cast("double").as("max_num"),
      graft.util.Det.fmtTs(min(col(c))).as("min_str"),
      graft.util.Det.fmtTs(max(col(c))).as("max_str"))
      .select(lit(c).as("column_name"), col("*"))
    num("event_id").unionByName(num("user_id")).unionByName(num("value"))
      .unionByName(str("event_type")).unionByName(ts("ts"))
      .orderBy("column_name")
  }

  /** Column-level profile DRIFT between the two time halves of the
    * events stream — [[columnProfile]] run twice and diffed, which is
    * how a catalog actually consumes profiles: not "what are the stats"
    * but "did yesterday's ingest change them". Per column: row/null/
    * distinct counts per half, the null-rate delta, and the ndv ratio —
    * a null-rate jump or an ndv collapse is the first symptom of an
    * upstream schema break (a field going silently optional, an enum
    * collapsing to one value, an id column starting to repeat).
    *
    * Determinism: the half split is the integer µs midpoint (the cuped
    * discipline — no calendar literals); all counts exact BIGINTs;
    * distinct-over-doubles groups bit-identical parquet values; the two
    * derived ratios are fixed trees of IEEE divisions floor-quantized
    * to 6 dp; ndv_ratio is NULL if a half saw no values at all.
    *
    * Scale shape: one conditional aggregate per profiled column (the
    * [[columnProfile]] union plan) — each is map-side combined, the
    * split predicate evaluates scan-local against the broadcast 1-row
    * extent; at 100 TB the halves would be partition-pruned reads and
    * the distinct counts HLL sketches merged per partition. */
  def schemaDrift(s: SparkSession, d: String): DataFrame = {
    val ext = Tables.events(s, d)
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
    val ev = Tables.events(s, d).crossJoin(broadcast(ext))
      .withColumn("pre", unix_micros(col("ts")) < expr("(lo + hi) div 2"))
    def prof(c: String): DataFrame = ev.agg(
      sum(col("pre").cast("long")).as("n_a"),
      sum((!col("pre")).cast("long")).as("n_b"),
      sum((col("pre") && col(c).isNull).cast("long")).as("null_a"),
      sum((!col("pre") && col(c).isNull).cast("long")).as("null_b"),
      count_distinct(when(col("pre"), col(c))).as("ndv_a"),
      count_distinct(when(!col("pre"), col(c))).as("ndv_b"))
      .select(lit(c).as("column_name"), col("*"))
    prof("event_id").unionByName(prof("user_id")).unionByName(prof("value"))
      .unionByName(prof("event_type")).unionByName(prof("props"))
      .withColumn("null_rate_delta",
        Det.q6(col("null_b").cast("double") / col("n_b").cast("double")
          - col("null_a").cast("double") / col("n_a").cast("double")))
      .withColumn("ndv_ratio",
        when(col("ndv_a") > 0,
          Det.q6(col("ndv_b").cast("double") / col("ndv_a").cast("double"))))
      .orderBy("column_name")
  }

  /** Per-stream freshness audit — the SLA dashboard every ingest runs:
    * each event type's latest arrival versus the table's global
    * watermark, its staleness in whole hours, and a 24-hour breach
    * flag. A silently-stalled upstream shows up here hours before it
    * shows up as drift anywhere else.
    *
    * Determinism: timestamps compare as integer µs; staleness is
    * integer floor division; the boundary is formatted through the
    * shared fmtTs pattern (timestamps never leave as raw doubles).
    *
    * Scale shape: one map-side-combined per-type max + a 1-row global
    * reduce broadcast back; at 100 TB the per-type max comes from
    * partition metadata, not a scan. */
  def freshness(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d).groupBy("event_type")
      .agg(max(unix_micros(col("ts"))).as("last_us"), count(lit(1)).as("n_events"))
    val wm = per.agg(max("last_us").as("wm"))
    per.crossJoin(broadcast(wm))
      .select(col("event_type"), col("n_events"),
        graft.util.Det.fmtTs(timestamp_micros(col("last_us"))).as("last_seen"),
        expr("(wm - last_us) div 3600000000").as("staleness_hours"),
        (col("wm") - col("last_us") > lit(86400000000L)).as("stale_24h"))
      .orderBy("event_type")
  }

  /** One FK relation's integrity triple for [[riAudit]]: child rows,
    * NULL foreign keys, and orphans (non-null FK with no parent). The
    * parent side is deduped to its key set first so a (hypothetically)
    * duplicated parent key can never inflate the child count. */
  private def fkCheck(rel: String, child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    child.select(col(fk).as("__fk"))
      .join(broadcast(parent.select(col(pk).as("__pk")).distinct()),
        col("__fk") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(col("__fk").isNull.cast("long")).as("n_null_fk"),
        sum((col("__fk").isNotNull && col("__pk").isNull).cast("long")).as("n_orphans"))
      .select(lit(rel).as("relation"), col("n_child"), col("n_null_fk"), col("n_orphans"))

  /** Referential-integrity audit across every FK relation in the star —
    * the pre-load contract check a warehouse runs before a partition
    * swap: orphaned children mean a late-arriving or dropped dimension
    * load, and catching them HERE costs one pass instead of a fanout of
    * wrong join results downstream. One row per relation with child,
    * null-FK, and orphan counts (integers — trivially engine-exact).
    *
    * Scale shape: each relation is one left join against the parent's
    * deduped KEY SET (keys only — parent payloads never move). Dimension
    * parents broadcast; the one big-parent relation (lineitem→orders)
    * also broadcasts its key set here, but at 100 TB that side flips to
    * a shuffled anti-join shape automatically once the key set exceeds
    * the broadcast threshold — the query is written against keys, not
    * plans. The child tables are each scanned once, projected to the FK
    * column at the scan. */
  def riAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val checks = Seq(
      fkCheck("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      fkCheck("lineitem.l_orderkey->orders", li, "l_orderkey",
        Tables.orders(s, d), "o_orderkey"),
      fkCheck("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey"),
      fkCheck("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"),
      fkCheck("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey",
        Tables.region(s, d), "r_regionkey"),
      fkCheck("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"),
      fkCheck("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey"))
    checks.reduce(_.union(_)).orderBy("relation")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ri_audit" -> (riAudit _),
    "q_freshness" -> (freshness _),
    "q_schema_drift" -> (schemaDrift _),
    "q_column_profile" -> (columnProfile _),
    "q_dq_report" -> (dqReport _),
    "q_upsert"    -> (upsertSnapshot _),
    "q_scd2_dim"  -> (scd2Dim _),
  )

  val oracle: Map[String, String] = Map(
    "q_ri_audit" -> {
      def blk(rel: String, childTbl: String, fk: String,
          parentTbl: String, pk: String) =
        s"""SELECT '$rel' AS relation,
           |  CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(sum(CASE WHEN c.$fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
           |  CAST(sum(CASE WHEN c.$fk IS NOT NULL AND p.$pk IS NULL
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
           |FROM $childTbl c LEFT JOIN (SELECT DISTINCT $pk FROM $parentTbl) p
           |  ON c.$fk = p.$pk""".stripMargin
      Seq(
        blk("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        blk("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        blk("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        blk("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        blk("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        blk("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        blk("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },
    "q_freshness" ->
      """WITH per AS (
        |  SELECT event_type, max(epoch_us(ts)) AS last_us,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY event_type
        |), wm AS (SELECT max(last_us) AS wm FROM per)
        |SELECT event_type, n_events,
        |  strftime(make_timestamp(last_us), '%Y-%m-%d %H:%M:%S') AS last_seen,
        |  (wm - last_us) // 3600000000 AS staleness_hours,
        |  wm - last_us > 86400000000 AS stale_24h
        |FROM per, wm ORDER BY event_type""".stripMargin,
    "q_schema_drift" -> {
      val per = Seq("event_id", "user_id", "value", "event_type", "props").map { c =>
        s"""  SELECT '$c' AS column_name,
           |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |    CAST(sum(CASE WHEN pre AND $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_a,
           |    CAST(sum(CASE WHEN NOT pre AND $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_b,
           |    CAST(count(DISTINCT CASE WHEN pre THEN $c END) AS BIGINT) AS ndv_a,
           |    CAST(count(DISTINCT CASE WHEN NOT pre THEN $c END) AS BIGINT) AS ndv_b
           |  FROM ev""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ext AS (
         |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
         |), ev AS (
         |  SELECT e.*, epoch_us(ts) < (lo + hi) // 2 AS pre FROM events e, ext
         |), p AS (
         |$per
         |)
         |SELECT column_name, n_a, n_b, null_a, null_b, ndv_a, ndv_b,
         |  floor((CAST(null_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |         - CAST(null_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |        * 1000000.0 + 0.5) / 1000000.0 AS null_rate_delta,
         |  CASE WHEN ndv_a > 0 THEN
         |    floor(CAST(ndv_b AS DOUBLE) / CAST(ndv_a AS DOUBLE)
         |          * 1000000.0 + 0.5) / 1000000.0 END AS ndv_ratio
         |FROM p ORDER BY column_name""".stripMargin
    },
    "q_column_profile" ->
      """SELECT * FROM (
        |  SELECT 'event_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |    CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num,
        |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT user_id) AS BIGINT),
        |    CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT value) AS BIGINT),
        |    min(value), max(value),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT event_type) AS BIGINT),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    min(event_type), max(event_type)
        |  FROM events
        |  UNION ALL
        |  SELECT 'ts', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT ts) AS BIGINT),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    strftime(min(ts), '%Y-%m-%d %H:%M:%S'), strftime(max(ts), '%Y-%m-%d %H:%M:%S')
        |  FROM events
        |) t ORDER BY column_name""".stripMargin,
    "q_dq_report" ->
      """WITH a AS (
        |  SELECT count(*) AS row_count,
        |         count(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
        |         count(*) - count(DISTINCT o_orderkey) AS dup_orderkey,
        |         count(*) FILTER (WHERE o_totalprice <= 0.0) AS nonpositive_price,
        |         count(*) FILTER (WHERE o_orderdate > TIMESTAMP '2002-01-01') AS future_orderdate
        |  FROM orders
        |)
        |SELECT 'dup_orderkey' AS metric, dup_orderkey AS value FROM a
        |UNION ALL SELECT 'future_orderdate', future_orderdate FROM a
        |UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM a
        |UNION ALL SELECT 'null_custkey', null_custkey FROM a
        |UNION ALL SELECT 'row_count', row_count FROM a
        |ORDER BY metric""".stripMargin,
    "q_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders
        |), incoming AS (
        |  SELECT o_orderkey AS uk,
        |         floor(round(o_totalprice * 100) * 11 / 10) / 100.0 AS uprice
        |  FROM orders WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT o_orderkey + 10000000,
        |         floor(round(o_totalprice * 100) * 11 / 10) / 100.0
        |  FROM orders WHERE o_orderstatus = 'P'
        |)
        |SELECT coalesce(k, uk) AS o_orderkey,
        |       coalesce(uprice, price) AS price,
        |       CASE WHEN k IS NULL THEN 'inserted'
        |            WHEN uk IS NULL THEN 'kept'
        |            ELSE 'updated' END AS provenance
        |FROM base FULL JOIN incoming ON k = uk
        |ORDER BY o_orderkey""".stripMargin,
    "q_scd2_dim" ->
      """WITH h AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |         lag(o_orderstatus) OVER
        |           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders
        |), c AS (
        |  SELECT * FROM h WHERE prev IS NULL OR prev <> o_orderstatus
        |)
        |SELECT o_custkey AS custkey, o_orderstatus AS status,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       strftime(lead(o_orderdate) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d') AS valid_to,
        |       row_number() OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS version,
        |       CASE WHEN lead(o_orderdate) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL
        |         THEN 1 ELSE 0 END AS is_current
        |FROM c
        |ORDER BY custkey, version""".stripMargin,
  )
}
