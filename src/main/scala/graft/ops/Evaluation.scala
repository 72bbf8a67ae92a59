package graft.ops

import graft.util.Det
import graft.util.Det.Dec0
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation / data-layout operators the reference's "local stats
  * comparison" capability (reqdef.yaml:69-73) implies but never ships:
  * ranking metrics (AUC), probability calibration, Pareto frontiers,
  * co-occurrence mining, and multi-dimensional layout keys. Every query is
  * oracled cell-exact; every computed double follows the repo's
  * floor-quantize discipline (PARITY.md): `floor(x·1e6 + 0.5)/1e6` is a
  * fixed tree of individually-correctly-rounded IEEE ops, so both engines
  * produce identical bits — unlike `round()`, whose half-way handling on
  * doubles is engine-internal.
  *
  * Scale design notes per operator in each scaladoc; the common theme is
  * the [[Statistics.outlierMad]] discipline — aggregate to a
  * distinct-value or key-bounded frame FIRST, run windows over that
  * bounded frame, broadcast scalars back — so the fact tables are scanned
  * but never shuffled wide.
  */
object Evaluation {

  /** Exact ROC-AUC of `n_chars` as a ranking score for the binary label
    * `lang = 'en'`, per source — the standard offline-eval primitive for
    * any quality/classifier score a curation pipeline produces. AUC is
    * computed by the Mann-Whitney identity AUC = U₁/(n₁·n₂) with midrank
    * tie handling, entirely in BIGINT rank algebra (the
    * [[Statistics.mannWhitney]] doubled-rank discipline): per distinct
    * score value with c rows after `prev` earlier rows, the doubled
    * midrank is 2·prev + c + 1, so 2·R₁ = Σ c₁·(2·prev + c + 1) is an
    * exact integer, 2·U₁ = 2·R₁ − n₁(n₁+1), and the single IEEE division
    * (2·U₁)/(2·n₁·n₂) is correctly rounded on identical integers in both
    * engines before the 6-dp floor-quantize.
    *
    * Scale shape: one map-side-combined groupBy(source, value) — bounded
    * by the per-source score domain, not the row count — a per-source
    * cumulative window over that bounded frame, one keyed aggregate. The
    * documents table is never shuffled; overflow edge 2·R₁ ≤ 2n² needs
    * n < ~2·10⁹ rows per source (partition the eval beyond that). */
  def qualityAuc(s: SparkSession, d: String): DataFrame = {
    val vc = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"))
    val w = Window.partitionBy("source").orderBy("v")
    val r = vc.withColumn("prev", sum("c").over(w) - col("c"))
    val a = r.groupBy("source").agg(
      sum("c1").as("n_pos"),
      sum(col("c") - col("c1")).as("n_neg"),
      sum(col("c1") * (lit(2) * col("prev") + col("c") + lit(1))).as("r1x2"))
    a.select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          Det.q6((col("r1x2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
             (lit(2) * col("n_pos") * col("n_neg")).cast("double"))).as("auc"))
      .orderBy("source")
  }

  /** Reliability (calibration) bins for a rank-percentile score: each doc's
    * score is its percent-rank of `n_chars` (min-rank convention:
    * prev/(n−1), a single IEEE division of exact integers), binned into 10
    * equal-width bins; per bin the observed `lang='en'` rate is compared
    * to the mean score — the reliability-diagram table behind any
    * calibration audit (a well-calibrated score has gap ≈ 0 per bin).
    *
    * Determinism: the mean score never sums doubles (double summation
    * order is partition-dependent in Spark) — Σ prev is an exact BIGINT
    * per bin, so mean_score = Σ(c·prev) / ((n−1)·n_bin) is ONE division of
    * exact integers. pos_rate likewise. The bin id floor((prev/(n−1))·10)
    * is two correctly-rounded IEEE ops then an exact floor — identical
    * cross-engine. gap subtracts two already-quantized doubles (exact).
    *
    * Scale shape: the window runs over the DISTINCT n_chars frame (value
    * domain, ≤ a few thousand rows at any corpus size; bound documented
    * here per the unpartitioned-window rule), everything after is keyed
    * aggregation. Overflow: Σ c·prev ≤ n², (n−1)·n_bin ≤ n² — BIGINT-safe
    * to n ≈ 3·10⁹ docs. */
  /** The rank-percentile scored frame (c, c1, prev, nt, bin) shared by
    * [[calibrationBins]], [[woeIv]], and [[cumulativeGains]] —
    * expressions byte-moved from the original calibration body. The
    * window runs over the DISTINCT n_chars frame (value domain —
    * bounded; see [[calibrationBins]]'s scaladoc). */
  private def scoredFrame(s: SparkSession, d: String): DataFrame = {
    val vc = Tables.documents(s, d)
      .groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"))
    val n = vc.agg(sum("c").as("nt"))
    // bounded: distinct n_chars values only (see scaladoc)
    val w = Window.orderBy("v")
    val r = vc.withColumn("prev", sum("c").over(w) - col("c"))
      .crossJoin(broadcast(n))
    r.withColumn("score",
        col("prev").cast("double") / (col("nt") - 1).cast("double"))
      .withColumn("bin", least(lit(9L), floor(col("score") * lit(10)).cast("long")))
  }

  def calibrationBins(s: SparkSession, d: String): DataFrame = {
    scoredFrame(s, d).groupBy("bin")
      .agg(sum("c").as("n_bin"), sum("c1").as("n_pos"),
        sum(col("c") * col("prev")).as("sp"), first("nt").as("nt"))
      .withColumn("pos_rate", Det.q6(col("n_pos").cast("double") / col("n_bin").cast("double")))
      .withColumn("mean_score",
        Det.q6(col("sp").cast("double") / ((col("nt") - 1) * col("n_bin")).cast("double")))
      .select(col("bin"), col("n_bin"), col("n_pos"), col("pos_rate"),
        col("mean_score"), (col("pos_rate") - col("mean_score")).as("gap"))
      .orderBy("bin")
  }

  /** 2-D skyline (Pareto frontier) of the part table: parts not dominated
    * on (minimize p_size, maximize p_retailprice) — the multi-objective
    * selection primitive (cheapest-per-capability part, best
    * quality-per-length doc, …). A part is dominated iff some part has
    * ≤ size and ≥ price with one strict; equal (size, price) pairs do not
    * dominate each other, so ties all survive.
    *
    * Algorithm — the classic sorted sweep, but over the AGGREGATED
    * per-size frame: groupBy(size) → max(price) (distinct sizes: the
    * p_size domain, ≤ 50 rows — bound for the unpartitioned window), then
    * one running strict-predecessor max over that frame; a size's maximum
    * survives iff it exceeds every smaller size's maximum, and the
    * surviving (size, max-price) pairs broadcast back to select frontier
    * rows. No arithmetic anywhere — pure comparisons on raw parquet
    * doubles, so cross-engine parity is bit-trivial.
    *
    * Scale shape: one map-side-combined aggregate + a ≤50-row window +
    * one broadcast semi-join back; the part table is never shuffled. */
  def skyline2d(s: SparkSession, d: String): DataFrame = {
    val m = Tables.part(s, d).groupBy("p_size").agg(max("p_retailprice").as("mp"))
    val w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)
    val f = m.withColumn("smax", max("mp").over(w))
      .filter(col("smax").isNull || col("mp") > col("smax"))
      .select(col("p_size").as("fs"), col("mp"))
    Tables.part(s, d).select("p_partkey", "p_size", "p_retailprice")
      .join(broadcast(f),
        col("p_size") === col("fs") && col("p_retailprice") === col("mp"))
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_size", "p_partkey")
  }

  /** Frequent event-type pairs (2-itemsets over per-user baskets) with
    * support and lift — the association-mining primitive behind
    * co-occurrence features and funnel hypothesis generation. Basket =
    * the set of event types a user ever fired; support(a,b) = users with
    * both / all users; lift = P(a,b)/(P(a)·P(b)).
    *
    * Determinism: all counts are exact BIGINTs; support and lift are each
    * ONE IEEE division of exact integer products (n_both·N and nₐ·n_b are
    * BIGINT-exact to N ≈ 3·10⁹ users), floor-quantized at 6 dp.
    *
    * Scale shape: distinct (user, type) first — the self-join then meets
    * on user_id with per-user fan-out bounded by T² (T = event-type
    * domain, single digits), never an all-pairs row join; the singles and
    * total frames broadcast. */
  def itemsets2(s: SparkSession, d: String): DataFrame = {
    val ut = Tables.events(s, d).select("user_id", "event_type").distinct()
    val n = ut.agg(countDistinct("user_id").as("nu"))
    val singles = ut.groupBy(col("event_type")).agg(count(lit(1)).as("ns"))
    val pairs = ut.withColumnRenamed("event_type", "type_a")
      .join(ut.withColumnRenamed("event_type", "type_b"), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"), col("ns").as("na"))), "type_a")
      .join(broadcast(singles.select(col("event_type").as("type_b"), col("ns").as("nb"))), "type_b")
      .crossJoin(broadcast(n))
      .select(col("type_a"), col("type_b"), col("n_both"),
        Det.q6(col("n_both").cast("double") / col("nu").cast("double")).as("support"),
        Det.q6((col("n_both") * col("nu")).cast("double") /
           (col("na") * col("nb")).cast("double")).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** Bits 0..4 of `c` spread to even bit positions 0,2,4,6,8 — the Morton
    * interleave half, using only add/multiply/divide/modulo integer
    * arithmetic so the identical expression runs in DuckDB (no
    * engine-specific bit operators). */
  private def spread5(c: Column): Column =
    (0 until 5).map { i =>
      (c.cast("long") / lit(1L << i)).cast("long") % lit(2L) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** The same spread as [[spread5]], rendered as oracle SQL. */
  private def spread5Sql(c: String): String =
    (0 until 5).map { i =>
      s"(CAST($c AS BIGINT) // ${1L << i}) % 2 * ${1L << (2 * i)}"
    }.mkString("(", " + ", ")")

  /** Z-order (Morton) layout key over events: interleave a 5-bit value
    * bucket with the 5-bit hour-of-day, report per-tile (z div 16) row
    * counts and the bounding box each tile covers in (value-bucket, hour)
    * space. This is the multi-dimensional clustering key behind
    * Delta/Iceberg Z-ORDER file layout: sorting 100 TB of events by `z`
    * and cutting files every N rows yields files whose min/max on BOTH
    * dims are tight — a range predicate on either dimension prunes most
    * files, which a single-column sort only achieves for its own column.
    * The bounding-box output makes the locality measurable: fixing the
    * top 6 of 10 bits confines a tile to a 4×4 block, so every span
    * column is ≤ 3 by construction (asserted in EvaluationSpec).
    *
    * Determinism: the value bucket is the [[Statistics.mannWhitney]]
    * extent-bucket shape — floor((v−lo)·32/(hi−lo)) capped at 31, three
    * correctly-rounded IEEE ops then exact floor on identical doubles;
    * the interleave is pure integer +/·/div/% mirrored token-for-token
    * in the oracle; hour() reads the same UTC wall clock both engines.
    *
    * Scale shape: one broadcast 1-row extent, one map-side-combined
    * groupBy(tile) — ≤ 64 groups; the events table is never shuffled
    * (the z key itself would be the REPARTITION/sort key at write time,
    * not a shuffle here). */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("value"), col("ts"))
    val ext = ev.agg(min("value").as("lo"), max("value").as("hi"))
    val keyed = ev.crossJoin(broadcast(ext))
      .withColumn("bx",
        // not Statistics.equalWidthBucket: BIGINT bucket ids for spread5
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(31L),
            floor((col("value") - col("lo")) * lit(32) / (col("hi") - col("lo"))).cast("long"))))
      .withColumn("by", hour(col("ts")).cast("long"))
      .withColumn("z", spread5(col("bx")) + lit(2L) * spread5(col("by")))
      .withColumn("tile", (col("z").cast("long") / lit(16L)).cast("long"))
    keyed.groupBy("tile")
      .agg(count(lit(1)).as("n_rows"),
        min("bx").as("bx_lo"), max("bx").as("bx_hi"),
        min("by").as("by_lo"), max("by").as("by_hi"))
      .withColumn("bx_span", col("bx_hi") - col("bx_lo"))
      .withColumn("by_span", col("by_hi") - col("by_lo"))
      .orderBy("tile")
  }

  /** File-pruning effectiveness: z-order vs single-column layout — the
    * number [[zorderLayout]]'s bounding boxes imply, made explicit. Both
    * layouts cut the SAME keyed rows into 256-row files (row_number in
    * layout order, `(rn−1) div 256`), keep per-file min/max zone maps on
    * both dimensions (exactly what Parquet row-group stats / Delta
    * file stats store), and evaluate the 2-D range predicate
    * TWO range predicates — one on the leading sort dimension
    * (bx ∈ [8,15]) and one on the NON-leading dimension (by ∈ [8,11]):
    * a file is SKIPPED when its zone map misses the box on either
    * dimension. The 2×2 grid tells the honest trade: the value-sorted
    * layout prunes its own column perfectly but scans EVERY file for
    * the hour-only predicate (each file spans all hours), while the
    * Morton layout keeps both spans tight — it prunes the hour query
    * hard and gives up only a little on the leading-column query
    * (`Round8OpsSpec` asserts exactly that asymmetry, plus identical
    * matched-row counts across layouts per predicate).
    *
    * Determinism: integer bx/by from [[zorderLayout]]'s keyed frame;
    * file assignment by global rank over the TOTAL order
    * (layout key, event_id); zone maps and the skip test are exact
    * integer min/max algebra. The global rank is range-partitioned
    * (VERDICT round-8 item 3): `repartitionByRange` on the layout key +
    * an in-partition sort + `monotonically_increasing_id`, with
    * per-partition (count, min id) — a ≤32-row metadata frame —
    * broadcast back to turn partition-local offsets into global ranks.
    * The rank depends only on the total order, never on where the range
    * boundaries fall, so the output is invariant to partitioning.
    *
    * Scale shape: ONE range shuffle, exactly the one-time global range
    * sort the z-order WRITER performs (Delta OPTIMIZE ZORDER is exactly
    * this shuffle) — never a single-partition window; everything
    * downstream is a ≤⌈n/256⌉-row zone-map aggregate and a 2-row
    * reduce. */
  def zorderPruning(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("value"), col("ts"), col("event_id"))
    val ext = ev.agg(min("value").as("lo"), max("value").as("hi"))
    val keyed = graft.util.Ckpt.stage(ev.crossJoin(broadcast(ext))
      .withColumn("bx",
        // not Statistics.equalWidthBucket: BIGINT bucket ids for spread5
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(31L),
            floor((col("value") - col("lo")) * lit(32) / (col("hi") - col("lo"))).cast("long"))))
      .withColumn("by", hour(col("ts")).cast("long"))
      .withColumn("z", spread5(col("bx")) + lit(2L) * spread5(col("by")))
      .select(col("event_id"), col("bx"), col("by"), col("z")))
    // (pred, box) grid: leading-dimension box vs non-leading-dimension box
    import s.implicits._
    val preds = Seq(("bx_8_15", 8L, 15L, 0L, 23L), ("by_8_11", 0L, 31L, 8L, 11L))
      .toDF("pred", "x_lo", "x_hi", "y_lo", "y_hi")
    def layout(name: String, key: Column): DataFrame = {
      // staged so monotonically_increasing_id is computed ONCE — the
      // offsets aggregate and the main branch must see identical ids
      val parted = graft.util.Ckpt.stage(keyed
        .repartitionByRange(32, key, col("event_id"))
        .sortWithinPartitions(key, col("event_id"))
        .withColumn("pid", spark_partition_id())
        .withColumn("mid", monotonically_increasing_id()))
      // per-partition row counts + min id → global offset of each range
      // partition (≤32-row metadata frame; the cumulative sum is a
      // triangular self-join so the bench tail carries NO unpartitioned
      // window from this query)
      val cnts = parted.groupBy("pid")
        .agg(count(lit(1)).as("cnt"), min("mid").as("mid0"))
      val offs = cnts
        .join(broadcast(cnts.select(col("pid").as("p2"), col("cnt").as("c2"))),
          col("p2") < col("pid"), "left")
        .groupBy(col("pid"), col("mid0"))
        .agg(coalesce(sum("c2"), lit(0L)).as("off"))
        .select("pid", "mid0", "off")
      parted
        .join(broadcast(offs), "pid")
        .withColumn("f", ((col("off") + col("mid") - col("mid0")) / lit(256))
          .cast("long"))
        .withColumn("hit_bx", col("bx").between(8, 15).cast("long"))
        .withColumn("hit_by", col("by").between(8, 11).cast("long"))
        .groupBy("f")
        .agg(count(lit(1)).as("n_rows"),
          sum("hit_bx").as("n_hit_bx"), sum("hit_by").as("n_hit_by"),
          min("bx").as("x0"), max("bx").as("x1"),
          min("by").as("y0"), max("by").as("y1"))
        .crossJoin(broadcast(preds))
        .withColumn("scan",
          (!(col("x1") < col("x_lo") || col("x0") > col("x_hi") ||
             col("y1") < col("y_lo") || col("y0") > col("y_hi"))).cast("long"))
        .withColumn("n_hit",
          when(col("pred") === "bx_8_15", col("n_hit_bx")).otherwise(col("n_hit_by")))
        .groupBy("pred")
        .agg(count(lit(1)).as("n_files"),
          sum("scan").as("files_scanned"),
          sum(col("scan") * col("n_rows")).as("rows_scanned"),
          sum("n_hit").as("rows_matched"))
        .select(lit(name).as("layout"), col("pred"), col("n_files"),
          col("files_scanned"), col("rows_scanned"), col("rows_matched"))
    }
    layout("value_sorted", col("bx")).unionByName(layout("zorder", col("z")))
      .orderBy("layout", "pred")
  }

  /** Expected + maximum calibration error over the [[calibrationBins]]
    * frame — the one-number summaries a model card reports beside the
    * reliability diagram: ECE = Σ (n_b/N)·|gap_b|, MCE = max_b |gap_b|.
    *
    * Determinism: each bin's |gap| re-quantizes to an exact integer ppm
    * (gaps are differences of 6-dp-quantized doubles, so the floor
    * recovers the same integer in both engines), the weighted sum is
    * BIGINT-exact, and ECE/MCE are one final division each,
    * floor-quantized. Scale shape: everything after the (already
    * bounded) bins frame is a 10-row aggregate. */
  def ece(s: SparkSession, d: String): DataFrame =
    calibrationBins(s, d)
      .select(col("n_bin"), col("gap"))
      .withColumn("gm", Det.micro(abs(col("gap"))))
      .agg(count(lit(1)).as("n_bins"), sum("n_bin").as("n_total"),
        sum(col("n_bin") * col("gm")).as("wsum"), max("gm").as("mg"))
      .select(col("n_bins"), col("n_total"),
        Det.q6(col("wsum").cast("double") /
          (col("n_total").cast("double") * lit(1000000.0))).as("ece"),
        (col("mg").cast("double") / lit(1000000.0)).as("mce"))

  /** Isotonic (PAV) calibration fit over the [[calibrationBins]] frame
    * via the minimax identity — the calibration REPAIR beside the
    * audit: the nondecreasing fit ŷ_i = max_{j≤i} min_{k≥i} wavg(j..k)
    * equals what pool-adjacent-violators computes, but as a closed-form
    * min/max over contiguous-block weighted means — no sequential
    * pooling loop, so it runs as three joins over the 10-row bin frame
    * and is trivially oracle-mirrorable.
    *
    * Determinism: block means are single divisions of exact prefix-sum
    * differences (BIGINT); min/max compare identical doubles; the fit
    * is 6-dp floor-quantized only at output. Scale shape: the bins
    * frame is constant-bounded (10 rows → ≤220 triples); the heavy
    * lifting stays in [[calibrationBins]]'s bounded aggregates. */
  def isotonicFit(s: SparkSession, d: String): DataFrame = {
    val bins = graft.util.Ckpt.stage(calibrationBins(s, d)
      .select(col("bin"), col("n_bin"), col("n_pos"), col("pos_rate")))
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      .withColumn("cn", sum("n_bin").over(w))
      .withColumn("cp", sum("n_pos").over(w))
    val jSide = pre.select(col("bin").as("j"),
      (col("cn") - col("n_bin")).as("nj"), (col("cp") - col("n_pos")).as("pj"))
    val kSide = pre.select(col("bin").as("k"), col("cn").as("nk"), col("cp").as("pk"))
    val pairs = jSide.crossJoin(broadcast(kSide)).filter(col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("pk") - col("pj")).cast("double") /
         (col("nk") - col("nj")).cast("double")).as("avgjk"))
    val iSide = bins.select(col("bin").as("i"))
    val iso = pairs.crossJoin(broadcast(iSide))
      .filter(col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min("avgjk").as("mk"))
      .groupBy("i").agg(max("mk").as("iso"))
    bins.join(broadcast(iso), col("bin") === col("i"))
      .select(col("bin"), col("n_bin"), col("n_pos"), col("pos_rate"),
        Det.q6(col("iso")).as("iso"))
      .orderBy("bin")
  }

  /** Average precision (area under the precision-recall curve, step
    * form) of `n_chars` ranking the `lang = 'en'` label per source —
    * the PR-side companion to [[qualityAuc]]: AUC is insensitive to
    * class skew, AP is what matters when positives are rare (the usual
    * curation regime). AP = (1/n_pos)·Σ_{hits k} P@k over the ranked
    * list, ranked by (n_chars desc, doc_id) — a total order, so every
    * P@k is well-defined.
    *
    * Determinism: each P@k is ONE division of exact integers
    * (cumulative hits / rank), 6-dp floor-quantized and summed in
    * DECIMAL (order-independent, exact), then one final division.
    * Scale shape: one per-source ranking window over (source)-
    * partitioned rows, one keyed aggregate; ranks never leave their
    * partition. */
  def avgPrecision(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id").asc)
    val ranked = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        (col("lang") === "en").cast("long").as("rel"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cumrel", sum("rel").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.filter(col("rel") === 1)
      .withColumn("p_at_k", Det.q6(col("cumrel").cast("double") / col("k").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pos"), sum("p_at_k").as("sp"))
      .select(col("source"), col("n_pos"),
        Det.q6(col("sp").cast("double") / col("n_pos").cast("double")).as("avg_precision"))
      .orderBy("source")
  }

  /** Weight-of-evidence / information value of the rank-percentile score
    * against the `lang='en'` label, per decile bin — the credit-scoring
    * feature-strength dashboard ([[qualityAuc]] gives one global number;
    * WOE says WHERE in the score range the separation lives, and IV
    * ≈ 0.02/0.1/0.3 are the weak/medium/strong thresholds every
    * feature-selection checklist quotes): WOE_i = ln((g_i/G)/(b_i/B)),
    * IV = Σ (g_i/G − b_i/B)·WOE_i, bins with either class empty excluded
    * (standard practice — their WOE is ±∞).
    *
    * Determinism: counts are exact BIGINTs; WOE expands to ln(g) − ln(G)
    * − ln(b) + ln(B) — logs of exact INTEGERS only, each 6-dp-rounded
    * (the [[Statistics.kaplanMeier]] log discipline), combined by three
    * elementary IEEE ops. Each IV term multiplies ONE exact-integer
    * division (g·B − b·G)/(G·B) by that woe, is 6-dp-quantized into
    * DECIMAL(18,6), and the total is an exact decimal sum — order-
    * independent (never a raw double sum).
    *
    * Scale shape: the [[scoredFrame]] value-domain window, a ≤10-row bin
    * aggregate, a 1-row totals broadcast, and a ≤10-row window for the
    * total. */
  def woeIv(s: SparkSession, d: String): DataFrame = {
    // not Det.qln: these logs stay DOUBLE, the woe terms combine in IEEE
    val qln = (c: Column) => Det.q6(log(c.cast("double")))
    val b = scoredFrame(s, d).groupBy("bin")
      .agg(sum("c").as("n_bin"), sum("c1").as("g"),
        sum(col("c") - col("c1")).as("b"))
    val tot = b.agg(sum("g").as("gt"), sum("b").as("bt"))
    val woe = qln(col("g")) - qln(col("gt")) - qln(col("b")) + qln(col("bt"))
    val ivTerm = Det.q6(((col("g") * col("bt") - col("b") * col("gt"))).cast("double") /
      (col("gt") * col("bt")).cast("double") * col("woe"))
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
    b.crossJoin(broadcast(tot))
      .filter(col("g") > 0 && col("b") > 0)
      .withColumn("woe", woe)
      .withColumn("iv_term", ivTerm.cast("double"))
      .withColumn("iv",
        sum(ivTerm).over(Window.partitionBy()).cast("double"))
      .select(col("bin"), col("n_bin"), col("g").as("n_pos"),
        col("b").as("n_neg"), col("woe"), col("iv_term"), col("iv"))
      .orderBy("bin")
  }

  /** Cumulative gains / lift by score decile (top decile first) — the
    * campaign-targeting readout of the same ranking [[qualityAuc]]
    * scores: "reading the top k deciles of the score captures what share
    * of all positives, at what multiple of random?" gain_k = cumpos/G,
    * lift_k = (cumpos·N)/(cumn·G); lift at decile 1 is the headline
    * precision multiple, gain's curve shape IS the Lorenz view of the
    * ranking.
    *
    * Determinism: cumulative counts are exact BIGINT window sums over
    * the ≤10-row decile frame; gain divides exact integers once; lift's
    * numerator/denominator are exact BIGINT products (≤ N² — safe to
    * ~3·10⁹ docs) with one division; both 6-dp-quantized.
    *
    * Scale shape: the [[scoredFrame]] value-domain window, a ≤10-row
    * aggregate, ≤10-row cumulative windows. */
  def cumulativeGains(s: SparkSession, d: String): DataFrame = {
    val b = scoredFrame(s, d).groupBy("bin")
      .agg(sum("c").as("n_bin"), sum("c1").as("g"))
    val tot = b.agg(sum("g").as("gt"), sum("n_bin").as("nt"))
    val wd = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.crossJoin(broadcast(tot))
      .withColumn("decile", lit(10L) - col("bin"))
      .withColumn("cum_n", sum("n_bin").over(wd))
      .withColumn("cum_pos", sum("g").over(wd))
      .select(col("decile"), col("n_bin"), col("cum_n"), col("cum_pos"),
        Det.q6(col("cum_pos").cast("double") / col("gt").cast("double")).as("gain"),
        when(col("cum_n") * col("gt") === 0, lit(null).cast("double"))
          .otherwise(Det.q6((col("cum_pos") * col("nt")).cast("double") /
            (col("cum_n") * col("gt")).cast("double"))).as("lift"))
      .orderBy("decile")
  }

  /** Empirical-Bayes (Beta–binomial, method-of-moments) shrinkage of the
    * per-source `lang='en'` rate — the James–Stein move every per-segment
    * rate dashboard needs: a source with 3/4 English docs should NOT
    * outrank one with 290/400; shrinking each rate toward the corpus
    * prior by its own sample size ((c+α)/(n+α+β)) is the standard fix,
    * with (α, β) fit from the across-source mean/variance of the raw
    * rates.
    *
    * Determinism: raw rates enter the integer domain as EXACT micro
    * rates rµ = (c·10⁶) div n; the prior moments mµ = Σrµ div k and
    * A = k·Σrµ² − (Σrµ)² are exact DECIMAL(38,0) integers; m, v, α+β,
    * α, β are a fixed tree of single IEEE ops on those integers with α
    * and β 6-dp-quantized BEFORE the per-source shrink (the iterated
    * rule), and each shrunk rate is one more fixed tree. Degenerate
    * priors (zero variance, or v ≥ m(1−m) where the Beta fit fails) fall
    * back to the raw rate via the same CASE both sides.
    *
    * Scale shape: one map-side-combined source aggregate, a 1-row prior
    * reduce broadcast back, row-local shrink. */
  def ebShrink(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c"))
      .withColumn("r", expr("(c * 1000000) div n"))
    val prior0 = per.agg(
      count(lit(1)).as("k"),
      sum("r").as("sr"),
      sum(col("r").cast(Dec0) * col("r").cast(Dec0)).as("sr2"))
    val m = expr("(sr div k)").cast("double") / lit(1000000.0)
    val aNum = (col("k").cast(Dec0) * col("sr2") -
      col("sr").cast(Dec0) * col("sr").cast(Dec0)).cast("double")
    val vDen = (col("k") * (col("k") - 1)).cast("double") *
      lit(1000000000000.0)
    val v = aNum / vDen
    val ab = m * (lit(1.0) - m) / v - lit(1.0)
    val fitOk = v > 0.0 && ab > 0.0
    val prior = prior0.select(col("k"),
      when(fitOk, Det.q6(m * ab)).as("alpha"),
      when(fitOk, Det.q6((lit(1.0) - m) * ab)).as("beta"),
      fitOk.as("fit_ok"))
    per.crossJoin(broadcast(prior))
      .select(col("source"), col("n"), col("c").as("n_en"),
        Det.q6(col("c").cast("double") / col("n").cast("double")).as("raw_rate"),
        col("alpha"), col("beta"),
        when(!col("fit_ok"),
          Det.q6(col("c").cast("double") / col("n").cast("double")))
          .otherwise(Det.q6((col("c").cast("double") + col("alpha")) /
            (col("n").cast("double") + col("alpha") + col("beta"))))
          .as("shrunk_rate"))
      .orderBy("source")
  }

  /** Brier score of the rank-percentile score against the `lang='en'`
    * label, with its calibration/refinement split — the PROPER scoring
    * rule the reliability table ([[calibrationBins]]/[[ece]]) motivates:
    * Brier = mean (s − y)² penalizes both miscalibration and lack of
    * sharpness at once, and the reported reference Brier of the
    * constant base-rate forecast says whether the score beats "always
    * predict the prevalence" (skill = 1 − BS/BS_ref).
    *
    * Determinism: on the [[scoredFrame]] distinct-value rows the per-row
    * contribution closes over exact integers — Σ(s−y)² for a value with
    * c rows (c₁ positive) is c₁·(s−1)² + (c−c₁)·s² with s = prev/(n−1)
    * ONE division — a fixed tree of elementary ops, 9-dp-quantized into
    * DECIMAL(18,9) before the exact sum (micro² contributions need the
    * finer quantum), one final division by n; BS_ref = p̄(1−p̄) is a
    * fixed tree on two exact-integer divisions.
    *
    * Scale shape: the [[scoredFrame]] value-domain window + a 1-row
    * reduce. */
  def brier(s: SparkSession, d: String): DataFrame = {
    val q9d = (c: Column) => (floor(c * lit(1000000000.0) + lit(0.5)) /
      lit(1000000000.0)).cast(org.apache.spark.sql.types.DecimalType(18, 9))
    val sc = col("prev").cast("double") / (col("nt") - 1).cast("double")
    val term = q9d(col("c1").cast("double") * (sc - lit(1.0)) * (sc - lit(1.0)) +
      (col("c") - col("c1")).cast("double") * sc * sc)
    val agg = scoredFrame(s, d)
      .select(col("c"), col("c1"), term.as("t"))
      .agg(sum("c").as("n"), sum("c1").as("n_pos"), sum("t").as("se"))
    val pbar = col("n_pos").cast("double") / col("n").cast("double")
    agg.select(col("n"), col("n_pos"),
      Det.q6(col("se").cast("double") / col("n").cast("double")).as("brier"),
      Det.q6(pbar * (lit(1.0) - pbar)).as("brier_ref"),
      Det.q6(lit(1.0) - (col("se").cast("double") / col("n").cast("double")) /
        (pbar * (lit(1.0) - pbar))).as("skill"))
  }

  /** Split-conformal prediction intervals per event type — the
    * DISTRIBUTION-FREE calibration layer over any point predictor (here
    * the train-split per-type mean): nonconformity s = |x − µ̂| on a
    * held-out calibration split, q̂ = the ⌈0.9·(n+1)⌉-th smallest
    * calibration score, interval µ̂ ± q̂ — guaranteed ≥ 90% coverage on
    * exchangeable data with NO distributional assumption, the model-card
    * number a quality-score or reward-model pipeline reports beside ECE.
    *
    * Determinism: values enter as exact micro BIGINTs; µ̂ is one integer
    * division (positive operands — `div` ≡ `//`); scores are exact
    * integer |differences|; q̂ is a DISCRETE rank selection at
    * k = ⌈0.9(n+1)⌉ computed in pure integers ((9(n+1)+9) div 10) over
    * (type, score) distinct-value tie blocks — never interpolated; the
    * empirical coverage is the selected row's own cumulative count, one
    * quantized division.
    *
    * Scale shape: two map-side-combined aggregates (train stats; score
    * tie blocks), the 5-row train frame broadcast onto the calibration
    * scan, rank windows over the VALUE DOMAIN per type, a ≤|types|-row
    * result. */
  def conformal(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        Det.micro(col("value")).as("m"))
    val tr = ev.filter(col("event_id") % 5 =!= 0)
      .groupBy("event_type")
      // loud guard (ADVICE r9): Spark `div` truncates toward zero, DuckDB
      // `//` floors — identical ONLY for non-negative operands. The
      // events.value domain is non-negative; if that ever changes this
      // must fail, not silently desync from the oracle.
      .agg(count(lit(1)).as("n_train"), expr(
        "CASE WHEN sum(m) < 0 THEN raise_error(" +
          "'conformal: negative micro sum — div/floor-division diverge') " +
        "ELSE sum(m) div count(1) END").as("mu"))
    val cal = ev.filter(col("event_id") % 5 === 0)
      .join(broadcast(tr), "event_type")
      .select(col("event_type"), col("n_train"), col("mu"),
        abs(col("m") - col("mu")).as("sc"))
    val byScore = cal
      .groupBy(col("event_type"), col("n_train"), col("mu"), col("sc"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("sc")
    val ranked = byScore
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n_cal", sum("cnt").over(Window.partitionBy("event_type")))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("k", least(expr("(9 * (n_cal + 1) + 9) div 10"), col("n_cal")))
    ranked
      .groupBy(col("event_type"), col("n_train"), col("mu"), col("n_cal"))
      .agg(
        sum(when(col("prev") < col("k") && col("k") <= col("cum"), col("sc")))
          .as("qhat"),
        sum(when(col("prev") < col("k") && col("k") <= col("cum"), col("cum")))
          .as("n_cover"))
      .select(col("event_type"), col("n_train"), col("n_cal").as("n_calib"),
        (col("mu").cast("double") / lit(1000000.0)).as("mu"),
        col("qhat").as("qhat_micro"),
        ((col("mu") - col("qhat")).cast("double") / lit(1000000.0)).as("lo"),
        ((col("mu") + col("qhat")).cast("double") / lit(1000000.0)).as("hi"),
        Det.q6(col("n_cover").cast("double") / col("n_cal").cast("double")).as("coverage"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_conformal" -> (conformal _),
    "q_brier" -> (brier _),
    "q_eb_shrink" -> (ebShrink _),
    "q_woe_iv" -> (woeIv _),
    "q_gains" -> (cumulativeGains _),
    "q_zorder_pruning" -> (zorderPruning _),
    "q_quality_auc" -> (qualityAuc _),
    "q_calibration" -> (calibrationBins _),
    "q_skyline_2d" -> (skyline2d _),
    "q_itemsets2" -> (itemsets2 _),
    "q_zorder_key" -> (zorderLayout _),
    "q_ece" -> (ece _),
    "q_isotonic_fit" -> (isotonicFit _),
    "q_avg_precision" -> (avgPrecision _),
  )

  /** The [[calibrationBins]] oracle body through CTE `q(bin, n_bin,
    * n_pos, pos_rate, mean_score)` — shared by the calibration, ECE, and
    * isotonic-fit oracles so the bin arithmetic lives in one place. */
  // lazy: interpolated by `oracle` entries during object initialization
  private lazy val CalibrationCtes: String =
    """vc AS (
      |  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM documents GROUP BY n_chars
      |), n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM vc),
      |r AS (
      |  SELECT v, c, c1, CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT) AS prev, nt
      |  FROM vc, n
      |), scored AS (
      |  SELECT c, c1, prev, nt,
      |    least(9, CAST(floor(CAST(prev AS DOUBLE) / CAST(nt - 1 AS DOUBLE) * 10) AS BIGINT)) AS bin
      |  FROM r
      |), b AS (
      |  SELECT bin, CAST(sum(c) AS BIGINT) AS n_bin, CAST(sum(c1) AS BIGINT) AS n_pos,
      |         CAST(sum(c * prev) AS BIGINT) AS sp, CAST(min(nt) AS BIGINT) AS nt
      |  FROM scored GROUP BY bin
      |), q AS (
      |  SELECT bin, n_bin, n_pos,
      |    floor(CAST(n_pos AS DOUBLE) / CAST(n_bin AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS pos_rate,
      |    floor(CAST(sp AS DOUBLE) / CAST((nt - 1) * n_bin AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_score
      |  FROM b
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same integer micro scores, the same pure-integer rank k, the same
    // tie-block selection and quantized coverage division
    "q_conformal" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m
        |  FROM events WHERE value IS NOT NULL
        |), tr AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
        |         CAST(sum(m) // count(*) AS BIGINT) AS mu
        |  FROM ev WHERE event_id % 5 <> 0 GROUP BY event_type
        |), cal AS (
        |  SELECT e.event_type, tr.n_train, tr.mu, abs(e.m - tr.mu) AS sc
        |  FROM ev e JOIN tr USING (event_type) WHERE e.event_id % 5 = 0
        |), bs AS (
        |  SELECT event_type, n_train, mu, sc, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cal GROUP BY 1, 2, 3, 4
        |), rk AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY sc) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_cal
        |  FROM bs
        |), sel AS (
        |  SELECT event_type, n_train, mu, n_cal,
        |         CAST(sum(CASE WHEN cum - cnt < k AND k <= cum THEN sc END) AS BIGINT) AS qhat,
        |         CAST(sum(CASE WHEN cum - cnt < k AND k <= cum THEN cum END) AS BIGINT) AS n_cover
        |  FROM (SELECT *, least((9 * (n_cal + 1) + 9) // 10, n_cal) AS k FROM rk) t
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT event_type, n_train, n_cal AS n_calib,
        |       CAST(mu AS DOUBLE) / 1000000.0 AS mu,
        |       qhat AS qhat_micro,
        |       CAST(mu - qhat AS DOUBLE) / 1000000.0 AS lo,
        |       CAST(mu + qhat AS DOUBLE) / 1000000.0 AS hi,
        |       floor(CAST(n_cover AS DOUBLE) / CAST(n_cal AS DOUBLE) * 1000000.0 + 0.5)
        |         / 1000000.0 AS coverage
        |FROM sel ORDER BY event_type""".stripMargin,
    // per-value squared-error contributions close over exact integers,
    // 9-dp-quantized into DECIMAL before the exact sum; one division
    "q_brier" ->
      s"""WITH $CalibrationCtes,
         |tx AS (
         |  SELECT c, c1,
         |    CAST(floor((CAST(c1 AS DOUBLE) * (sc - 1.0e0) * (sc - 1.0e0)
         |                + CAST(c - c1 AS DOUBLE) * sc * sc)
         |               * 1000000000 + 0.5) / 1000000000
         |         AS DECIMAL(18,9)) AS t
         |  FROM (SELECT c, c1,
         |          CAST(prev AS DOUBLE) / CAST(nt - 1 AS DOUBLE) AS sc
         |        FROM scored) x
         |), a AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |         CAST(sum(c1) AS BIGINT) AS n_pos,
         |         SUM(t) AS se
         |  FROM tx
         |)
         |SELECT n, n_pos,
         |  floor(CAST(se AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
         |    / 1000000 AS brier,
         |  floor((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         |        * (1.0e0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         |        * 1000000 + 0.5) / 1000000 AS brier_ref,
         |  floor((1.0e0 - (CAST(se AS DOUBLE) / CAST(n AS DOUBLE))
         |                 / ((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         |                    * (1.0e0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))))
         |        * 1000000 + 0.5) / 1000000 AS skill
         |FROM a""".stripMargin,
    // exact micro rates; prior moments in HUGEINT; alpha/beta quantized
    // before the row-local shrink; degenerate fit falls back to raw
    "q_eb_shrink" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM documents GROUP BY source
        |), pr AS (
        |  SELECT source, n, c, (c * 1000000) // n AS r FROM per
        |), p0 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(r) AS BIGINT) AS sr,
        |         sum(CAST(r AS HUGEINT) * r) AS sr2
        |  FROM pr
        |), p1 AS (
        |  SELECT k,
        |    CAST(sr // k AS DOUBLE) / 1000000.0 AS m,
        |    CAST(CAST(k AS HUGEINT) * sr2 - CAST(sr AS HUGEINT) * sr AS DOUBLE)
        |      / (CAST(k * (k - 1) AS DOUBLE) * 1000000000000.0) AS v
        |  FROM p0
        |), p2 AS (
        |  SELECT k, m, v, m * (1.0e0 - m) / v - 1.0e0 AS ab FROM p1
        |), prior AS (
        |  SELECT k,
        |    CASE WHEN v > 0.0e0 AND ab > 0.0e0
        |         THEN floor(m * ab * 1000000 + 0.5) / 1000000 END AS alpha,
        |    CASE WHEN v > 0.0e0 AND ab > 0.0e0
        |         THEN floor((1.0e0 - m) * ab * 1000000 + 0.5) / 1000000 END AS beta,
        |    (v > 0.0e0 AND ab > 0.0e0) AS fit_ok
        |  FROM p2
        |)
        |SELECT source, n, c AS n_en,
        |  floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS raw_rate,
        |  alpha, beta,
        |  CASE WHEN NOT fit_ok
        |       THEN floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |                  * 1000000 + 0.5) / 1000000
        |       ELSE floor((CAST(c AS DOUBLE) + alpha)
        |                  / (CAST(n AS DOUBLE) + alpha + beta)
        |                  * 1000000 + 0.5) / 1000000
        |  END AS shrunk_rate
        |FROM pr, prior
        |ORDER BY source""".stripMargin,
    // logs of exact integers 6-dp-rounded; IV terms quantized into
    // DECIMAL(18,6) so the total is an exact order-independent sum
    "q_woe_iv" ->
      s"""WITH $CalibrationCtes,
         |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS gt,
         |               CAST(sum(n_bin - n_pos) AS BIGINT) AS bt FROM b),
         |wx AS (
         |  SELECT bin, n_bin, n_pos AS g, n_bin - n_pos AS b_cnt, gt, bt
         |  FROM b, tot WHERE n_pos > 0 AND n_bin - n_pos > 0
         |), wy AS (
         |  SELECT bin, n_bin, g, b_cnt, gt, bt,
         |    floor((ln(CAST(g AS DOUBLE))) * 1000000 + 0.5) / 1000000 - floor((ln(CAST(gt AS DOUBLE))) * 1000000 + 0.5) / 1000000
         |      - floor((ln(CAST(b_cnt AS DOUBLE))) * 1000000 + 0.5) / 1000000
         |      + floor((ln(CAST(bt AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS woe
         |  FROM wx
         |), wz AS (
         |  SELECT bin, n_bin, g, b_cnt, woe,
         |    CAST(floor(CAST(g * bt - b_cnt * gt AS DOUBLE)
         |               / CAST(gt * bt AS DOUBLE) * woe * 1000000 + 0.5)
         |         / 1000000 AS DECIMAL(18,6)) AS ivq
         |  FROM wy
         |)
         |SELECT bin, n_bin, g AS n_pos, b_cnt AS n_neg, woe,
         |  CAST(ivq AS DOUBLE) AS iv_term,
         |  CAST(SUM(ivq) OVER () AS DOUBLE) AS iv
         |FROM wz ORDER BY bin""".stripMargin,
    // exact BIGINT cumulative counts over the decile frame; gain and
    // lift are single divisions of exact integers
    "q_gains" ->
      s"""WITH $CalibrationCtes,
         |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS gt,
         |               CAST(sum(n_bin) AS BIGINT) AS ntot FROM b),
         |cx AS (
         |  SELECT 10 - bin AS decile, n_bin,
         |    CAST(sum(n_bin) OVER (ORDER BY bin DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         |    CAST(sum(n_pos) OVER (ORDER BY bin DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
         |    gt, ntot
         |  FROM b, tot
         |)
         |SELECT decile, n_bin, cum_n, cum_pos,
         |  floor(CAST(cum_pos AS DOUBLE) / CAST(gt AS DOUBLE)
         |        * 1000000 + 0.5) / 1000000 AS gain,
         |  CASE WHEN cum_n * gt = 0 THEN NULL
         |       ELSE floor(CAST(cum_pos * ntot AS DOUBLE)
         |                  / CAST(cum_n * gt AS DOUBLE) * 1000000 + 0.5) / 1000000
         |  END AS lift
         |FROM cx ORDER BY decile""".stripMargin,
    "q_quality_auc" ->
      """WITH vc AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM documents GROUP BY source, n_chars
        |), r AS (
        |  SELECT source, c, c1,
        |         CAST(sum(c) OVER (PARTITION BY source ORDER BY v) - c AS BIGINT) AS prev
        |  FROM vc
        |), a AS (
        |  SELECT source,
        |         CAST(sum(c1) AS BIGINT) AS n_pos,
        |         CAST(sum(c - c1) AS BIGINT) AS n_neg,
        |         CAST(sum(c1 * (2 * prev + c + 1)) AS BIGINT) AS r1x2
        |  FROM r GROUP BY source
        |)
        |SELECT source, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    floor(CAST(r1x2 - n_pos * (n_pos + 1) AS DOUBLE) /
        |          CAST(2 * n_pos * n_neg AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |  END AS auc
        |FROM a ORDER BY source""".stripMargin,
    "q_calibration" ->
      s"""WITH $CalibrationCtes
         |SELECT bin, n_bin, n_pos, pos_rate, mean_score, pos_rate - mean_score AS gap
         |FROM q ORDER BY bin""".stripMargin,
    // |gap| re-quantized to exact ppm integers; weighted sum BIGINT-exact
    "q_ece" ->
      s"""WITH $CalibrationCtes,
         |g AS (
         |  SELECT n_bin,
         |         CAST(floor(abs(pos_rate - mean_score) * 1000000.0 + 0.5) AS BIGINT) AS gm
         |  FROM q
         |), a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(n_bin) AS BIGINT) AS n_total,
         |         CAST(sum(n_bin * gm) AS BIGINT) AS wsum, CAST(max(gm) AS BIGINT) AS mg
         |  FROM g
         |)
         |SELECT n_bins, n_total,
         |       floor(CAST(wsum AS DOUBLE) / (CAST(n_total AS DOUBLE) * 1000000.0)
         |             * 1000000.0 + 0.5) / 1000000.0 AS ece,
         |       CAST(mg AS DOUBLE) / 1000000.0 AS mce
         |FROM a""".stripMargin,
    // block means from prefix-sum differences; the minimax (PAV) identity
    // as three joins over the 10-row bin frame
    "q_isotonic_fit" ->
      s"""WITH $CalibrationCtes,
         |pre AS (
         |  SELECT bin, n_bin, n_pos, pos_rate,
         |         CAST(SUM(n_bin) OVER (ORDER BY bin) AS BIGINT) AS cn,
         |         CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
         |  FROM q
         |), pairs AS (
         |  SELECT j.bin AS j, k.bin AS k,
         |         CAST(k.cp - (j.cp - j.n_pos) AS DOUBLE)
         |           / CAST(k.cn - (j.cn - j.n_bin) AS DOUBLE) AS avgjk
         |  FROM pre j JOIN pre k ON j.bin <= k.bin
         |), t AS (
         |  SELECT i.bin AS i, p.j, min(p.avgjk) AS mk
         |  FROM pairs p JOIN pre i ON p.j <= i.bin AND p.k >= i.bin
         |  GROUP BY 1, 2
         |), iso AS (SELECT i AS bin, max(mk) AS iso FROM t GROUP BY 1)
         |SELECT q.bin, q.n_bin, q.n_pos, q.pos_rate,
         |       floor(iso.iso * 1000000.0 + 0.5) / 1000000.0 AS iso
         |FROM q JOIN iso USING (bin) ORDER BY bin""".stripMargin,
    // per-source total-order ranking; each P@k one exact division,
    // quantized then DECIMAL-summed (order-independent)
    "q_avg_precision" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(lang = 'en' AS BIGINT) AS rel,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS k,
        |         CAST(SUM(CAST(lang = 'en' AS BIGINT))
        |              OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumrel
        |  FROM documents
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pos,
        |       floor(CAST(SUM(CAST(floor(CAST(cumrel AS DOUBLE) / CAST(k AS DOUBLE)
        |                                 * 1000000.0 + 0.5) / 1000000.0
        |                           AS DECIMAL(18,6))) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS avg_precision
        |FROM ranked WHERE rel = 1
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q_skyline_2d" ->
      """WITH m AS (SELECT p_size, max(p_retailprice) AS mp FROM part GROUP BY p_size),
        |f AS (
        |  SELECT p_size, mp,
        |         max(mp) OVER (ORDER BY p_size ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax
        |  FROM m
        |)
        |SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p JOIN f ON p.p_size = f.p_size AND p.p_retailprice = f.mp
        |WHERE f.smax IS NULL OR f.mp > f.smax
        |ORDER BY p.p_size, p.p_partkey""".stripMargin,
    "q_itemsets2" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM ut),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ns FROM ut GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT p.type_a, p.type_b, p.n_both,
        |  floor(CAST(p.n_both AS DOUBLE) / CAST(n.nu AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS support,
        |  floor(CAST(p.n_both * n.nu AS DOUBLE) / CAST(sa.ns * sb.ns AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM p
        |JOIN s sa ON sa.event_type = p.type_a
        |JOIN s sb ON sb.event_type = p.type_b
        |CROSS JOIN n
        |ORDER BY p.type_a, p.type_b""".stripMargin,
    "q_zorder_pruning" ->
      s"""WITH ev AS (
         |  SELECT value, ts, event_id FROM events WHERE value IS NOT NULL
         |), ext AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
         |keyed AS (
         |  SELECT event_id,
         |    CASE WHEN hi = lo THEN 0
         |         ELSE least(31, CAST(floor((value - lo) * 32 / (hi - lo)) AS BIGINT)) END AS bx,
         |    CAST(hour(ts) AS BIGINT) AS by
         |  FROM ev, ext
         |), zk AS (
         |  SELECT event_id, bx, by, ${spread5Sql("bx")} + 2 * ${spread5Sql("by")} AS z
         |  FROM keyed
         |), fa AS (
         |  SELECT bx, by,
         |    (row_number() OVER (ORDER BY bx, event_id) - 1) // 256 AS f_lin,
         |    (row_number() OVER (ORDER BY z, event_id) - 1) // 256 AS f_z
         |  FROM zk
         |), fl AS (
         |  SELECT 'value_sorted' AS layout, f_lin AS f,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN bx BETWEEN 8 AND 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_bx,
         |    CAST(sum(CASE WHEN by BETWEEN 8 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_by,
         |    min(bx) AS x0, max(bx) AS x1, min(by) AS y0, max(by) AS y1
         |  FROM fa GROUP BY 2
         |  UNION ALL
         |  SELECT 'zorder', f_z,
         |    CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN bx BETWEEN 8 AND 15 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN by BETWEEN 8 AND 11 THEN 1 ELSE 0 END) AS BIGINT),
         |    min(bx), max(bx), min(by), max(by)
         |  FROM fa GROUP BY 2
         |), pr AS (
         |  SELECT * FROM (VALUES ('bx_8_15', 8, 15, 0, 23),
         |                        ('by_8_11', 0, 31, 8, 11))
         |         AS t(pred, x_lo, x_hi, y_lo, y_hi)
         |)
         |SELECT fl.layout, pr.pred, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN NOT (x1 < x_lo OR x0 > x_hi OR y1 < y_lo OR y0 > y_hi)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         |  CAST(sum(CASE WHEN NOT (x1 < x_lo OR x0 > x_hi OR y1 < y_lo OR y0 > y_hi)
         |                THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         |  CAST(sum(CASE WHEN pr.pred = 'bx_8_15' THEN n_hit_bx ELSE n_hit_by END)
         |       AS BIGINT) AS rows_matched
         |FROM fl CROSS JOIN pr
         |GROUP BY fl.layout, pr.pred
         |ORDER BY layout, pred""".stripMargin,
    "q_zorder_key" ->
      s"""WITH ev AS (SELECT value, ts FROM events WHERE value IS NOT NULL),
         |ext AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
         |keyed AS (
         |  SELECT
         |    CASE WHEN hi = lo THEN 0
         |         ELSE least(31, CAST(floor((value - lo) * 32 / (hi - lo)) AS BIGINT)) END AS bx,
         |    CAST(hour(ts) AS BIGINT) AS by
         |  FROM ev, ext
         |), z AS (
         |  SELECT bx, by, ${spread5Sql("bx")} + 2 * ${spread5Sql("by")} AS zv
         |  FROM keyed
         |)
         |SELECT CAST(zv // 16 AS BIGINT) AS tile, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(bx) AS bx_lo, max(bx) AS bx_hi, min(by) AS by_lo, max(by) AS by_hi,
         |  max(bx) - min(bx) AS bx_span, max(by) - min(by) AS by_span
         |FROM z GROUP BY 1 ORDER BY tile""".stripMargin,
  )
}
