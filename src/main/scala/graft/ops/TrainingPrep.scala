package graft.ops

import graft.util.Det
import graft.util.Det.{Dec0, qln}
import graft.Tables
import graft.functions.TextFeatures.{bigrams, words}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-set preparation: the two corpus-level transforms that sit
  * between a cleaned document store and a pretraining run (north-star
  * extension per `/root/repo/BASELINE.json` — the reference's corpus stage
  * stops at per-word frequencies, `infra/scripts/demo-etl-2a-notebook.py:
  * 53-56`; these are the next steps a training pipeline runs on the same
  * documents).
  *
  * - [[sourceMix]]: temperature-scaled source mixing — the multinomial
  *   sampling weights (wᵢ ∝ nᵢ^α) data recipes use to keep giant crawl
  *   slices from drowning small high-quality sources. α = 0.5 so the
  *   up-weighting goes through IEEE `sqrt` (correctly rounded, identical
  *   in every engine — `pow(x, 0.7)` would be libm-dependent); the
  *   normalizing sum runs in DECIMAL so it is order-independent.
  *
  * - [[tokenPack]]: greedy sequence packing — assign each document a shard
  *   and offset inside a fixed token budget, by running token count in
  *   stable doc order. Packing is per-source (each source's cumsum is an
  *   independent window partition), the hierarchical layout that keeps the
  *   running sum parallel at corpus scale — a single global cumsum would
  *   funnel 100 TB through one partition.
  *
  * Both are pure integer/decimal arithmetic end-to-end: byte-stable across
  * engines, partition counts, and retries.
  */
object TrainingPrep {

  /** Tokens per packed training shard. */
  private val ShardTokens = 8192L

  /** Per-source doc/token counts and α=0.5 temperature-scaled sampling
    * weights, plus the expected per-source draw count of a 10k-doc epoch. */
  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(words(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("ws", sqrt(col("n_docs")).cast(DecimalType(24, 6)))
    val tot = per.agg(sum(col("ws")).as("tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("weight", Det.q6(col("ws").cast("double") / col("tot").cast("double")))
      .withColumn("epoch_docs", floor(col("weight") * 10000).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"), col("epoch_docs"))
      .orderBy("source")
  }

  /** Greedy in-order packing: each doc's shard id and token offset within
    * its source's 8192-token shard sequence. */
  def tokenPack(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(words(col("text"))).as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
      .withColumn("shard", expr(s"cum_before div $ShardTokens"))
      .withColumn("offset_in_shard", col("cum_before") % ShardTokens)
      .orderBy("doc_id")
  }

  /** Bin capacity for [[binPack]] (tokens per training sequence). */
  private val PackCap = 256L

  /** Row shapes for [[binPack]]'s typed per-partition fold. */
  private[ops] case class PackIn(doc_id: Long, source: String, n_tokens: Long)
  private[ops] case class PackOut(doc_id: Long, source: String,
                                  n_tokens: Long, bin: Long, fill_after: Long)

  /** Document-boundary-preserving greedy next-fit packing — the packer
    * an actual pretraining run uses when documents must NOT straddle
    * sequence boundaries (cf. [[tokenPack]], the contiguous-stream
    * layout where they may): scan each source's docs in stable doc_id
    * order; if the current bin cannot fit the next doc, seal it and open
    * a new one. A doc longer than [[PackCap]] occupies a bin alone.
    *
    * This is the engine's one genuinely sequential-fold operator: the
    * bin id is a running state with carry (`fill`), which no window
    * frame or prefix sum expresses — builder-prompt preference (d),
    * `mapPartitions`, is the CORRECT tool here, not a fallback. The
    * distributed shape is exactly how a production packer runs:
    * repartition on the packing key (source) so each source's fold is
    * one partition-local linear scan, `sortWithinPartitions` for the
    * stable order, zero further exchanges. The DuckDB oracle replays
    * the same fold as a recursive CTE — all-integer state, so parity
    * is unconditional.
    *
    * Scale shape: one shuffle (the source repartition), then linear
    * per-partition work; a 100 TB corpus packs as
    * sources × (docs/source) independent scans. The packing key is the
    * parallelism unit — a skewed giant source is re-keyed by
    * (source, doc_id div B) upstream exactly like the salted-join
    * recipe, sealing at block edges. */
  def binPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .as[PackIn]
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .mapPartitions { it =>
        var src: String = null
        var bin = 0L
        var fill = 0L
        it.map { r =>
          if (r.source != src) { src = r.source; bin = 0L; fill = 0L }
          if (fill > 0 && fill + r.n_tokens > PackCap) { bin += 1; fill = 0L }
          fill += r.n_tokens
          PackOut(r.doc_id, r.source, r.n_tokens, bin, fill)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Hash-feature space for [[dsirWeights]]: bigrams bucketed to 1024
    * slots via an md5-prefix hash (the repo's standard cross-engine-exact
    * hash construction). */
  private val DsirBuckets = 1024L

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling — hashed n-gram features scored target-vs-raw): each
    * document's log importance weight log w = Σ_f ln p̂_target(f)/p̂_raw(f)
    * over its hashed-bigram feature occurrences, with add-one smoothing
    * over the [[DsirBuckets]] buckets. The `en` slice plays the target
    * distribution, the whole corpus the raw distribution — the selection
    * pass a pretraining recipe runs to up-sample data that "looks like"
    * a high-quality reference set.
    *
    * Determinism: per-occurrence log ratios are quantized to
    * DECIMAL(18,6) before the per-doc sum (exact, order-independent);
    * `selected` compares the exact decimal sum against zero. Scale shape:
    * the bucket-stats table is exactly 1024 rows — broadcast back to the
    * feature stream — and the only corpus-wide exchange is the bucket
    * groupBy, which partial-aggregates to ≤1024 rows per map partition. */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    // staged once (r14): both consumers (bucket stats and the join-back)
    // previously re-ran the tokenize + bigram + md5 pass; the staged
    // frame is NARROW — the bigram string is dropped after hashing, so
    // the materialization carries (doc_id, lang, bucket) only
    val feats = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(bigrams(words(col("text")))).as("bg"))
      .withColumn("bucket",
        conv(substring(md5(col("bg")), 1, 6), 16, 10).cast("long") % DsirBuckets)
      .select(col("doc_id"), col("lang"), col("bucket")))
    val stats = feats.groupBy("bucket").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct_t"),
      count(lit(1)).as("ct_r"))
    val tot = stats.agg(sum("ct_t").as("n_t"), sum("ct_r").as("n_r"))
    // each smoothed ratio's log splits into logs of INTEGERS, quantized to
    // 6 dp before the decimal-exact combination — ratio-double ln differs
    // across engine libms by ulps that can straddle a rounding boundary
    // at corpus scale (observed at sf1); integer-domain ln is verified
    // bit-identical at 6 dp across Spark and DuckDB for counts ≤ 2M
    val ratio =
      (qln(col("ct_t") + 1) - qln(col("n_t") + DsirBuckets)) -
        (qln(col("ct_r") + 1) - qln(col("n_r") + DsirBuckets))
    feats
      .join(broadcast(stats.crossJoin(tot).select(col("bucket"), ratio.as("lr"))),
        "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("lsum"))
      .select(col("doc_id"), col("n_feats"),
        // lsum is an exact multiple of 1e-6 — round in DECIMAL (identical
        // in both engines), never through double (x.xxxx50 boundaries are
        // common for quantized-log sums)
        Det.q4(col("lsum")).cast("double").as("log_w"),
        (col("lsum") > 0).cast("int").as("selected"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling (Efraimidis–Spirakis A-Res): each
    * doc draws u ~ Uniform(0,1) from a content-seeded hash and ranks by
    * u^(1/w), w = n_chars — the top 5 keys per source are the sample, and
    * P(doc in sample) ∝ w. This is the weighted variant of
    * `q_sample_hash`'s uniform hash-threshold sampling: the selection a
    * data recipe runs when longer/higher-quality documents should be
    * proportionally favored, reproducible across runs and engines because
    * the "randomness" is md5(doc_id).
    *
    * Ranking uses the monotone transform ln(u)/w (u^(1/w) and ln(u)/w
    * order identically since ln is increasing), and ln(u) with
    * u = (h+½)/2³² reduces to ln(2h+1) − ln(2³³) — logs of INTEGERS,
    * quantized at 6 dp like every log in the engine, combined exactly in
    * DECIMAL, then one deterministic double division by the weight.
    *
    * Scale shape: the key is row-local; per-source top-5 runs through the
    * native bounded-heap TopKPerGroup operator, so the selection shuffle
    * carries ≤ 5 rows per source per map partition — never the corpus. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val hv = conv(substring(md5(concat(lit("ws:"), col("doc_id"))), 1, 8), 16, 10)
      .cast("long")
    // n_chars > 0 guard (ADVICE round 4): a zero-length document would
    // divide by zero — NULL under Spark non-ANSI, version-dependent in
    // DuckDB. Weight-0 docs are never sampled under A-Res anyway, so the
    // filter (mirrored in the oracle) changes no sampled output.
    val scored = Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars"), hv.as("hv"))
      .withColumn("skey",
        (qln(lit(2L) * col("hv") + lit(1L)) - qln(lit(1L << 33))).cast("double")
          / col("n_chars"))
      .select("source", "doc_id", "n_chars", "skey")
    graft.plans.TopKPerGroup
      .topK(scored, Seq("source"), Seq("skey" -> true, "doc_id" -> false), 5)
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"), col("skey"))
      .orderBy("source", "rn")
  }

  /** Token budget apportioned in [[tokenApportion]]. */
  private val ApportionBudget = 1000000L

  /** Audit-sample budget (rows) split by [[neymanAlloc]]. */
  private val NeymanBudget = 1000L

  /** Largest-remainder (Hamilton) apportionment of a fixed token budget
    * across sources, weighted by each source's token share — the exact
    * integer answer to "this run trains on 1M tokens; how many come from
    * each source?" that a float share × budget never gives (floats
    * under/overshoot the budget by a few tokens; the remainder
    * distribution restores Σ alloc = budget EXACTLY).
    *
    * Pure integer arithmetic end to end: quota = (budget·tokensᵢ) div
    * total, remainder rank by (budget·tokensᵢ) mod total with a source
    * tie-break, and the top (budget − Σ quota) sources get +1 — nothing
    * to quantize, bit-equal in any engine.
    *
    * Scale shape: one map-side-combined per-source aggregate (tens of
    * rows), a 1-row total broadcast back, and the remainder rank runs on
    * the source-bounded frame — the unpartitioned window is over ≤
    * |sources| rows by construction, never data-scale. */
  def tokenApportion(s: SparkSession, d: String): DataFrame = {
    val b = ApportionBudget
    val per = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(words(col("text"))).cast("long")).as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("total"))
    val quotas = per.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($b * n_tokens) div total"))
      .withColumn("rem", expr(s"($b * n_tokens) % total"))
    val short = quotas.agg((lit(b) - sum("quota")).as("r"))
    // bounded global window: exactly one row per SOURCE (≤ tens), never
    // corpus rows — the remainder rank is constant-size by construction
    val wr = Window.orderBy(col("rem").desc, col("source").asc)
    quotas.crossJoin(broadcast(short))
      .withColumn("rr", row_number().over(wr))
      .withColumn("extra", (col("rr") <= col("r")).cast("long"))
      .select(col("source"), col("n_tokens"), col("quota"), col("extra"),
        (col("quota") + col("extra")).as("alloc"))
      .orderBy("source")
  }

  /** Deterministic train/val/test split with a per-source audit — the
    * assignment every training run makes before anything else, done the
    * only way that survives re-ingestion: by KEY HASH, not by row order
    * or `rand()`. Each document's split is `md5("split:" || doc_id)`
    * against fixed hex thresholds ("05" → ~2.0% test, "0a" → next ~2.0%
    * val, rest train), so the assignment is a pure row-local projection —
    * stable across engines, runs, partitionings, and appends (a new
    * ingest can't move an old document between splits, which would leak
    * eval data into training). In production the hash key is the
    * DEDUP-FAMILY key (URL/domain/cluster id) rather than the raw doc id,
    * so near-duplicates land in the same split; the fixture has no family
    * key, so doc_id stands in.
    *
    * The output is the audit a pipeline actually gates on: per
    * source × split document and character counts plus each split's share
    * within its source — imbalance here means a source's key space
    * correlates with the hash (it must not).
    *
    * Scale shape: assignment is scan-local (inside whole-stage codegen,
    * no exchange); the audit is one map-side-combined groupBy to
    * ≤ |sources|·3 rows plus a per-source total broadcast join on that
    * constant-bounded frame. At 100 TB the split column is written with
    * the shard, and this query is its (free) verification. */
  /** The split-assignment rule shared by [[trainSplit]] and
    * [[splitLeakage]]: fixed hex thresholds over md5 of the salted key —
    * one expression, so the audit and the leakage check can never
    * disagree about where a document lives. */
  private def splitOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = md5(concat(lit("split:"), key.cast("string")))
    when(h < "05", lit("test")).when(h < "0a", lit("val")).otherwise(lit("train"))
  }

  def trainSplit(s: SparkSession, d: String): DataFrame = {
    val split = Tables.documents(s, d)
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val per = split.groupBy(col("source").as("src"))
      .agg(sum("n_docs").as("n_src"))
    split.join(broadcast(per), col("source") === col("src"))
      .select(col("source"), col("split"), col("n_docs"), col("n_chars"),
        Det.q4(col("n_docs").cast("double") / col("n_src").cast("double"))
          .as("frac"))
      .orderBy("source", "split")
  }

  /** Near-duplicate leakage across the train/val/test boundary — the
    * eval-contamination audit: if two near-identical documents land in
    * different splits, held-out metrics are inflated by memorization, so
    * the split gate counts LSH candidate pairs whose endpoints disagree
    * on [[splitOf]]. Uses the SAME banding as the dedup family
    * ([[Dedup.bandBucketsOf]]: 3-shingle minhash, 2 bands) and the SAME
    * split rule as [[trainSplit]], so the audit can never drift from
    * either producer. Any row with split_a ≠ split_b is a leak; the fix
    * is hashing the dedup-cluster key instead of the doc id (see
    * [[trainSplit]]'s scaladoc).
    *
    * Scale shape: identical to dedup candidate generation — band-bucket
    * equi-join over narrow (doc_id, bkey) rows, never all-pairs, never
    * bodies; split labels attach by doc-key join; output is ≤ 9 rows
    * (split-pair grid). The leakage audit costs what the dedup pass
    * already costs. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val b = Dedup.bandBucketsOf(Tables.documents(s, d))
    val pairs = b.as("x").join(b.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .distinct()
    pairs
      .withColumn("split_a", splitOf(col("ida")))
      .withColumn("split_b", splitOf(col("idb")))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"), min("ida").as("example_a"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        (col("split_a") =!= col("split_b")).cast("int").as("is_leak"),
        col("example_a"))
      .orderBy("split_a", "split_b")
  }

  /** Cluster-keyed train/val/test split — the FIX [[splitLeakage]]'s
    * scaladoc prescribes, shipped as an operator: hash the document's
    * dedup-CLUSTER label (connected-component representative from
    * [[Dedup.dedupClusters]]) instead of its own id, so every
    * near-duplicate family lands on ONE side of the boundary by
    * construction. The query also recomputes the leakage audit under
    * the cluster rule — `cross_pairs` is the proof column: every LSH
    * candidate pair is intra-cluster, so it must be 0 (asserted in the
    * spec; here it is COMPUTED, not assumed, so a future change to the
    * candidate generator that breaks the invariant goes red in the
    * driver gate, not just in a unit test).
    *
    * Determinism: cluster labels are the exact min-id fixpoint (oracle
    * replays it via WITH RECURSIVE); the split rule is [[splitOf]]'s
    * fixed hex thresholds on md5 — identical in both engines; all
    * outputs are integer counts and one ppm integer division.
    *
    * Scale shape: [[Dedup.dedupClusters]]'s union-find closure cost (the
    * split is a free column once clusters exist — which a dedup'd corpus
    * already has); the audit re-uses the band-bucket equi-join; rollups
    * are 3-row. */
  def clusterSplit(s: SparkSession, d: String): DataFrame = {
    // ONE staged bucket incidence feeds BOTH the cluster closure and the
    // audit's candidate self-join (r14, guide §2.4): previously the
    // shingle+minhash pass ran twice — once inside dedupClusters, once
    // for the audit pairs. Spread, unlike dedupClusters: its doc_id hash
    // layout serves the audit's doc_id joins (bandBucketsOf scaladoc).
    val b = graft.util.Ckpt.stage(Dedup.bandBucketsOf(Tables.documents(s, d)))
    val cl = graft.util.Ckpt.stage(Dedup.closure(b).labels
      .withColumn("split", splitOf(col("cluster"))))
    val pairs = b.as("x").join(b.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .distinct()
    val cross = pairs
      .join(cl.select(col("doc_id").as("ida"), col("split").as("sa")), "ida")
      .join(cl.select(col("doc_id").as("idb"), col("split").as("sb")), "idb")
      .agg(coalesce(sum((col("sa") =!= col("sb")).cast("long")), lit(0L))
        .as("cross_pairs"))
    val tot = cl.agg(count(lit(1)).as("n"))
    cl.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("cluster").as("n_clusters"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(cross))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        expr("n_docs * 1000000 div n").as("docs_ppm"), col("cross_pairs"))
      .orderBy("split")
  }

  /** Corpus concentration report over per-source token counts — Gini
    * coefficient, Herfindahl index, and top-source share in one row:
    * the "is one crawl slice drowning the mix" dashboard number that
    * motivates [[sourceMix]]'s temperature scaling in the first place
    * (α-scaling is the cure; this is the diagnosis).
    *
    * Integer-exact: with per-source token counts t₁≤…≤tₙ (ties broken
    * by source id — equal values commute, so the tiebreak cannot change
    * either statistic), Gini = (2·Σ i·tᵢ − (n+1)·T)/(n·T) and
    * HHI = Σ tᵢ²/T² keep their numerators in DECIMAL(38,0)/HUGEINT
    * (t² wraps BIGINT past ~3·10⁹ tokens in one source); each statistic
    * is then one correctly-rounded division of exact integers, 6-dp
    * rounded.
    *
    * Scale shape: ONE pass over the corpus (the map-side-combined
    * source aggregate); everything after runs on the |sources|-row
    * frame — the unpartitioned rank window is bounded by the source
    * domain (20 here), never the corpus. */
  def concentration(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(words(col("text"))).cast("long")).as("t"))
    val ranked = per.withColumn("i",
      row_number().over(Window.orderBy(col("t"), col("source"))).cast("long"))
    ranked.agg(
      count(lit(1)).as("n_sources"),
      sum("t").as("total_tokens"),
      sum(col("t").cast(Dec0) * col("t").cast(Dec0)).as("sum_sq"),
      max("t").as("t_max"),
      sum(col("i").cast(Dec0) * col("t").cast(Dec0)).as("sum_it"))
      .select(
        col("n_sources"), col("total_tokens"),
        Det.q6(col("sum_sq").cast("double") /
          (col("total_tokens").cast("double") * col("total_tokens").cast("double")))
          .as("hhi"),
        Det.q6((lit(2) * col("sum_it") -
          (col("n_sources") + 1).cast(Dec0) * col("total_tokens").cast(Dec0)).cast("double") /
          (col("n_sources").cast("double") * col("total_tokens").cast("double")))
          .as("gini"),
        Det.q6(col("t_max").cast("double") / col("total_tokens").cast("double"))
          .as("top_share"))
  }

  /** ABC (Pareto) classification of parts by line-item revenue — the
    * inventory-side completion of [[concentration]]: HHI says revenue is
    * concentrated; ABC names the members — class A = the head parts
    * covering the first 80% of cumulative revenue, B = the next 15%,
    * C = the long tail — the standard split behind stocking policy and,
    * in the data-curation reading, behind per-source curation effort
    * (polish the A sources by hand, automate the C tail).
    *
    * Determinism: revenue enters the integer domain as micro-units via
    * the rounding-mode-independent DECIMAL(24,6) cast (scale 6 > the
    * data's 2 dp — never the knife-edge DECIMAL(18,2) cast, PARITY §4);
    * the cumulative order is (revenue DESC, partkey ASC) — exact
    * integers; the 80/95 boundaries are stated as the integer
    * comparisons cum·5 ≤ tot·4 and cum·20 ≤ tot·19 in DECIMAL(38,0)/
    * HUGEINT; shares are integer ppm divisions. Nothing floats.
    *
    * Scale shape: one map-side-combined part aggregate over lineitem
    * (the only pass over the fact table), then a window over the PART
    * domain — a dimension-sized frame (documented bound: |part|, ~1/30
    * of lineitem rows; past broadcast scale the prefix sum becomes the
    * ksDrift two-phase bucketed form), and a 3-row class aggregate. */
  def abcClass(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        Det.microExact(col("l_extendedprice")).as("micro"))
      .groupBy("l_partkey").agg(sum(col("micro").cast(Dec0)).as("r"))
    val tot = rev.agg(sum("r").as("tot"))
    val w = Window.orderBy(col("r").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum", sum("r").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum") * lit(5) <= col("tot") * lit(4), lit("A"))
          .when(col("cum") * lit(20) <= col("tot") * lit(19), lit("B"))
          .otherwise(lit("C")))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        sum("r").cast("long").as("revenue_micro"),
        expr("CAST((sum(r) * 1000000) div first(tot) AS BIGINT)")
          .as("revenue_ppm"))
      .orderBy("cls")
  }

  /** Neyman-optimal stratified sample allocation over event types: a
    * fixed audit budget of [[NeymanBudget]] rows is split across strata
    * ∝ N_h·S_h (stratum size × stratum standard deviation) — the
    * allocation that minimizes the variance of the estimated mean for a
    * fixed sample size (Neyman 1934). Proportional allocation (what
    * [[Curation]]'s stratified sample does) over-samples big
    * low-variance strata; this is the correction every at-scale data
    * audit applies once per-stratum variances are known.
    *
    * Determinism: S_h comes from DECIMAL power sums (the
    * `Statistics.corrRegr` discipline) with ONE correctly-rounded IEEE
    * sqrt; the weight N_h·S_h is floor-quantized to an exact micro-unit
    * BIGINT, and the budget is split by largest-remainder apportionment
    * over those integer weights (the [[tokenApportion]] machinery), so
    * Σ alloc = budget EXACTLY and every intermediate is integer.
    *
    * Scale shape: one map-side-combined stratum aggregate; the
    * apportionment runs on the ≤|event_type| weight frame with a
    * constant-bounded rank window. */
  def neymanAlloc(s: SparkSession, d: String): DataFrame = {
    val b = NeymanBudget
    val dec = DecimalType(30, 8)
    val per = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_h"),
        sum(col("value").cast(DecimalType(24, 6))).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(dec)).cast("double").as("sxx"))
      .withColumn("sd", sqrt(
        (col("n_h") * col("sxx") - col("sx") * col("sx")) /
          (col("n_h").cast("double") * (col("n_h") - lit(1)).cast("double"))))
      .withColumn("w", Det.micro(col("n_h") * col("sd")))
    val tot = per.agg(sum("w").as("total"))
    val quotas = per.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($b * w) div total"))
      .withColumn("rem", expr(s"($b * w) % total"))
    val short = quotas.agg((lit(b) - sum("quota")).as("r"))
    // bounded global window: one row per event type (≤ tens)
    val wr = Window.orderBy(col("rem").desc, col("event_type").asc)
    quotas.crossJoin(broadcast(short))
      .withColumn("rr", row_number().over(wr))
      .select(col("event_type"), col("n_h"),
        Det.q6(col("sd")).as("sd"),
        col("w"),
        (col("quota") + (col("rr") <= col("r")).cast("long")).as("alloc"))
      .orderBy("event_type")
  }

  /** Leave-one-out target encoding of the event-type categorical — the
    * standard high-cardinality feature transform for tabular models:
    * each row's category is replaced by the mean target over all OTHER
    * rows of that category ((Σ_cat − own) / (n_cat − 1)), which is what
    * prevents the naive mean encoding from leaking each row's own
    * label into its feature.
    *
    * Determinism: the category sums are exact micro-unit BIGINTs, the
    * per-row numerator is one integer subtraction, and the encoding is
    * ONE IEEE division of exact integers, floor-quantized to 6 dp;
    * singleton categories encode NULL (no "other rows" exist).
    *
    * Scale shape: one map-side-combined category aggregate broadcast
    * back onto the scan — the fact rows are never shuffled; the only
    * full-width exchange is the deterministic presentation sort (keyed
    * output would skip it in production). */
  def targetEncode(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        Det.microExact(col("value")).as("micro"))
    val stats = ev.groupBy("event_type")
      .agg(sum("micro").as("tot"), count(lit(1)).as("cnt"))
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        // mean over the other rows in micro units, quantized to an
        // integer micro count, then ONE exact-operand scaling division
        when(col("cnt") > 1,
          floor((col("tot") - col("micro")).cast("double") /
            (col("cnt") - 1).cast("double") + lit(0.5))
            / lit(1000000.0)).as("loo_enc"))
      .orderBy("event_id")
  }

  /** Hashing-trick featurization audit (Weinberger et al. 2009) — the
    * fixed-width sparse featurizer that makes unbounded vocabularies
    * trainable at corpus scale: every token maps to one of 64 buckets
    * via bucket = md5(word) mod 64 with a ±1 sign from an independent
    * md5 nibble (the signed hashing trick keeps collision bias
    * zero-mean). The query reports the per-bucket load the model
    * would see — distinct terms hashed in (collision pressure), total
    * token mass, and the signed sum (how much of the mass survives
    * sign cancellation).
    *
    * Determinism: bucket and sign are integer functions of md5 hex
    * (the engine-wide keyed-hash idiom); every output is a BIGINT
    * count/sum — no floats anywhere.
    *
    * Scale shape: one tokenize pass; the feature space is a CONSTANT
    * 64 buckets regardless of vocabulary size — the aggregate
    * map-side-combines to ≤64 rows before the only exchange. That
    * fixed width is the entire point at 100 TB: model dimensionality
    * and shuffle volume stay flat as the crawl vocabulary grows. */
  def featureHash(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("bucket",
        conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long") % 64)
      .withColumn("sgn",
        when(conv(substring(md5(col("word")), 9, 1), 16, 10).cast("long") % 2 === 0,
          lit(1L)).otherwise(lit(-1L)))
    toks.groupBy("bucket")
      .agg(count_distinct(col("word")).as("n_terms"),
        count(lit(1)).as("n_tokens"),
        sum("sgn").as("signed_sum"))
      .orderBy("bucket")
  }

  /** Curriculum data ordering — the TRAINING-ORDER layer between the
    * split and the packer: documents are phased easy → hard (short →
    * long by n_chars, the standard length curriculum) and SHUFFLED
    * within each phase by a keyed hash (a sorted-by-difficulty stream
    * would feed the model pathological mini-batches; the curriculum
    * literature shuffles within stages). The emitted `position` is the
    * global training order a loader consumes.
    *
    * Determinism: phases are fixed-threshold buckets of n_chars against
    * the broadcast (min, max) extent — scan-local, no rank windows; the
    * within-phase shuffle key is md5(doc_id) with a doc_id tie-break (a
    * total order); global positions come from per-phase local ranks +
    * broadcast phase offsets (the 3-row triangular cumsum — the
    * q_zorder_pruning offsets recipe, never an unpartitioned window).
    *
    * Scale shape: one extent broadcast, ONE phase-partitioned rank
    * window (3 partitions spanning the corpus — at 100 TB each phase
    * sorts in parallel across its executors), a 3-row offsets frame
    * broadcast back. */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val ext = docs.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
    val phased = graft.util.Ckpt.stage(docs.crossJoin(broadcast(ext))
      .withColumn("phase",
        // not Statistics.equalWidthBucket: the +1 keeps n_chars = hi below 3
        when(col("hi") === col("lo"), lit(0)).otherwise(
          least(lit(2), floor((col("n_chars") - col("lo")) * 3 /
            (col("hi") - col("lo") + 1)).cast("int"))))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .drop("lo", "hi"))
    val cnts = phased.groupBy("phase").agg(count(lit(1)).as("cnt"))
    val offs = cnts
      .join(broadcast(cnts.select(col("phase").as("p2"), col("cnt").as("c2"))),
        col("p2") < col("phase"), "left")
      .groupBy("phase")
      .agg(coalesce(sum("c2"), lit(0L)).as("off"))
    val w = Window.partitionBy("phase").orderBy("h", "doc_id")
    phased
      .withColumn("lrn", row_number().over(w).cast("long"))
      .join(broadcast(offs), "phase")
      .select(col("doc_id"), col("n_chars"), col("phase"),
        (col("off") + col("lrn")).as("position"))
      .orderBy("position")
  }

  /** Epochs audited by [[epochOrder]]. */
  private[ops] val EpochCount = 3
  /** Sample stride: positions are audited for doc_id ≡ 0 (mod 97). */
  private[ops] val EpochSampleMod = 97L

  /** Deterministic per-epoch training order — the REPRODUCIBILITY
    * contract of the data loader: epoch e presents the corpus ordered
    * by h = md5("ep" ‖ e ‖ ":" ‖ doc_id), a keyed hash, so (a) every
    * epoch is a different pseudo-random permutation (no order
    * memorization), (b) any worker can recompute any document's
    * position from the key alone — no shuffle files, no seed state, and
    * re-ingesting the corpus reproduces the exact order (the
    * q_train_split stability argument applied to ordering). The query
    * audits the contract: for the deterministic sample
    * doc_id ≡ 0 (mod [[EpochSampleMod]]), the 1-based global position in
    * each of [[EpochCount]] epochs — the positions visibly differ across
    * epochs while each is exactly reproducible.
    *
    * Determinism: position = 1 + |{(h', id') < (h, id)}| in the same
    * epoch — a total order on (hex string, id) realized as a two-phase
    * bucketed rank; no arithmetic freedom (the bucket key is a string
    * PREFIX of h, so (bkt, h, id) order IS (h, id) order).
    *
    * Scale shape: the two-phase global-rank discipline of
    * [[Aggregations.ltvDecile]] (VERDICT r10 item 2 — the previous
    * broadcast-nested-loop against the sample was O(n) broadcast and
    * O(n²/97) comparisons per epoch): rows bucket by the first two hex
    * chars of h (256 uniform buckets), per-(epoch, bucket) windows rank
    * locally (largest sort partition = one bucket = n/256), and a
    * 256·epochs-row cumulative offset table — partition-count-sized,
    * never corpus-sized — broadcasts back; pos = offset + local running
    * count ([[graft.util.Prefix.sums]]). This IS the q_zorder_pruning
    * materialization recipe, so the audited position function and the
    * 100 TB layout job now share one plan shape. */
  def epochOrder(s: SparkSession, d: String): DataFrame = {
    val epochs = explode(sequence(lit(0), lit(EpochCount - 1))).as("epoch")
    val keyed = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(col("doc_id"), epochs)
      .withColumn("h", md5(concat(lit("ep"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("bkt", substring(col("h"), 1, 2)))
    graft.util.Prefix.sums(keyed, Seq("epoch"), "bkt", Seq("h", "doc_id"), "pos" -> lit(1L))
      .filter(col("doc_id") % EpochSampleMod === 0)
      .select(col("epoch"), col("doc_id"), col("h"), col("pos"))
      .orderBy("epoch", "pos")
  }

  /** Spearman-footrule displacement between CONSECUTIVE epochs'
    * positions of the [[epochOrder]] sample — the audit that the
    * per-epoch permutations are actually independent-looking, not
    * near-identical (a buggy loader that reuses one seed shows
    * ratio_random ≈ 0): per epoch pair (e, e+1), the summed |Δpos|, the
    * mean displacement, and its ratio to the ≈ n/3 expectation for two
    * independent uniform permutations (Diaconis–Graham). Ratios near 1
    * say "as shuffled as random"; near 0 say "orders are correlated".
    *
    * Determinism: positions are [[epochOrder]]'s exact ranks; footrule
    * is an exact BIGINT sum; each reported double is ONE IEEE division
    * of exact integers. Scale shape: rides [[epochOrder]] (sample
    * broadcast counts), one sample-sized self-join, one 1-row corpus
    * count broadcast. */
  def epochShift(s: SparkSession, d: String): DataFrame = {
    val ord = graft.util.Ckpt.stage(
      epochOrder(s, d).select(col("epoch"), col("doc_id"), col("pos")))
    val nxt = ord.select((col("epoch") - 1).as("epoch"), col("doc_id"),
      col("pos").as("pos_next"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    ord.join(nxt, Seq("epoch", "doc_id"))
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_docs"),
        sum(abs(col("pos") - col("pos_next"))).as("footrule"))
      .crossJoin(broadcast(n))
      .select(col("epoch"), col("n_docs"), col("footrule"),
        (col("footrule").cast("double") / col("n_docs")).as("mean_disp"),
        ((col("footrule") * 3).cast("double")
          / (col("n_docs") * col("n")).cast("double")).as("ratio_random"))
      .orderBy("epoch")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_epoch_order" -> (epochOrder _),
    "q_epoch_shift" -> (epochShift _),
    "q_curriculum" -> (curriculum _),
    "q_feature_hash" -> (featureHash _),
    "q_target_encode" -> (targetEncode _),
    "q_neyman_alloc" -> (neymanAlloc _),
    "q_concentration" -> (concentration _),
    "q_abc_class" -> (abcClass _),
    "q_source_mix" -> (sourceMix _),
    "q_token_pack" -> (tokenPack _),
    "q_pack_greedy" -> (binPack _),
    "q_token_apportion" -> (tokenApportion _),
    "q_dsir_weights" -> (dsirWeights _),
    "q_weighted_sample" -> (weightedSample _),
    "q_train_split" -> (trainSplit _),
    "q_split_leakage" -> (splitLeakage _),
    "q_split_cluster_safe" -> (clusterSplit _),
  )

  private val WordsSql = "string_split(text, ' ')"
  private val BigramsSql =
    s"list_transform(range(1, len($WordsSql)), i -> $WordsSql[i] || ' ' || $WordsSql[i+1])"

  /** The [[epochOrder]] oracle: the same keyed hash and the same strict
    * (h, doc_id) total order; the join-count form mirrors the engine's
    * broadcast count exactly. A def so [[epochShift]]'s oracle can embed
    * it verbatim (the q_ndcg composition discipline). */
  private def epochOrderOracle: String =
      s"""WITH ep AS (
         |  SELECT CAST(unnest(range(0, $EpochCount)) AS INTEGER) AS epoch
         |), k AS (
         |  SELECT epoch, doc_id,
         |         md5('ep' || epoch || ':' || doc_id) AS h
         |  FROM documents, ep
         |), s AS (
         |  SELECT epoch, doc_id, h FROM k WHERE doc_id % $EpochSampleMod = 0
         |), b AS (
         |  SELECT s.epoch, s.doc_id, CAST(count(*) AS BIGINT) AS nb
         |  FROM s JOIN k ON k.epoch = s.epoch
         |    AND (k.h < s.h OR (k.h = s.h AND k.doc_id < s.doc_id))
         |  GROUP BY 1, 2
         |)
         |SELECT s.epoch, s.doc_id, s.h,
         |       COALESCE(b.nb, 0) + 1 AS pos
         |FROM s LEFT JOIN b USING (epoch, doc_id)
         |ORDER BY epoch, pos""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_epoch_order" -> epochOrderOracle,
    // footrule over consecutive-epoch positions of the SAME sample; both
    // position frames are the epoch-order oracle embedded verbatim
    "q_epoch_shift" ->
      s"""WITH eo AS (
         |$epochOrderOracle
         |), p AS (
         |  SELECT a.epoch, a.doc_id, a.pos, b.pos AS pos_next
         |  FROM eo a JOIN eo b
         |    ON b.epoch = a.epoch + 1 AND b.doc_id = a.doc_id
         |), n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
         |)
         |SELECT p.epoch, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(abs(p.pos - p.pos_next)) AS BIGINT) AS footrule,
         |       CAST(sum(abs(p.pos - p.pos_next)) AS DOUBLE) / count(*)
         |         AS mean_disp,
         |       CAST(3 * sum(abs(p.pos - p.pos_next)) AS DOUBLE)
         |         / CAST(count(*) * n.n AS DOUBLE) AS ratio_random
         |FROM p, n GROUP BY p.epoch, n.n ORDER BY p.epoch""".stripMargin,
    // fixed-threshold phases against the extent, md5 shuffle key,
    // per-phase row_number + offsets — the same total order
    "q_curriculum" ->
      """WITH ext AS (
        |  SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents
        |), ph AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN e.hi = e.lo THEN 0
        |              ELSE least(2, CAST(floor(CAST((n_chars - e.lo) * 3 AS DOUBLE)
        |                                       / (e.hi - e.lo + 1)) AS INTEGER)) END AS phase,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents, ext e
        |), offs AS (
        |  SELECT a.phase, CAST(coalesce(sum(b.cnt), 0) AS BIGINT) AS off
        |  FROM (SELECT phase, count(*) AS cnt FROM ph GROUP BY phase) a
        |  LEFT JOIN (SELECT phase, count(*) AS cnt FROM ph GROUP BY phase) b
        |    ON b.phase < a.phase
        |  GROUP BY a.phase
        |)
        |SELECT ph.doc_id, ph.n_chars, ph.phase,
        |       offs.off + row_number() OVER (PARTITION BY ph.phase
        |                                     ORDER BY ph.h, ph.doc_id) AS position
        |FROM ph JOIN offs USING (phase)
        |ORDER BY position""".stripMargin,
    "q_feature_hash" ->
      """WITH toks AS (
        |  SELECT word,
        |    CAST('0x' || substring(md5(word), 1, 8) AS BIGINT) % 64 AS bucket,
        |    CASE WHEN CAST('0x' || substring(md5(word), 9, 1) AS BIGINT) % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |  WHERE len(word) > 0
        |)
        |SELECT bucket, CAST(count(DISTINCT word) AS BIGINT) AS n_terms,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(sgn) AS BIGINT) AS signed_sum
        |FROM toks GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_target_encode" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |         CAST(CAST(value AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS micro
        |  FROM events WHERE value IS NOT NULL
        |), st AS (
        |  SELECT event_type, CAST(sum(micro) AS BIGINT) AS tot,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY event_type
        |)
        |SELECT event_id, ev.event_type,
        |  CASE WHEN cnt > 1 THEN
        |    floor(CAST(tot - micro AS DOUBLE) / CAST(cnt - 1 AS DOUBLE) + 0.5)
        |    / 1000000.0 END AS loo_enc
        |FROM ev JOIN st ON ev.event_type = st.event_type
        |ORDER BY event_id""".stripMargin,
    "q_neyman_alloc" ->
      s"""WITH per AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
         |    CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) AS sxx
         |  FROM events WHERE value IS NOT NULL GROUP BY event_type
         |), w AS (
         |  SELECT event_type, n_h,
         |    sqrt((n_h * sxx - sx * sx)
         |         / (CAST(n_h AS DOUBLE) * CAST(n_h - 1 AS DOUBLE))) AS sd_raw
         |  FROM per
         |), wq AS (
         |  SELECT event_type, n_h, sd_raw,
         |    CAST(floor(n_h * sd_raw * 1000000.0 + 0.5) AS BIGINT) AS w
         |  FROM w
         |), t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM wq),
         |q AS (
         |  SELECT event_type, n_h, sd_raw, w,
         |    ($NeymanBudget * w) // total AS quota,
         |    ($NeymanBudget * w) % total AS rem
         |  FROM wq, t
         |), sh AS (SELECT $NeymanBudget - CAST(sum(quota) AS BIGINT) AS r FROM q)
         |SELECT event_type, n_h,
         |  floor(sd_raw * 1000000.0 + 0.5) / 1000000.0 AS sd, w,
         |  CAST(quota + CASE WHEN row_number() OVER
         |    (ORDER BY rem DESC, event_type ASC) <= r THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM q, sh
         |ORDER BY event_type""".stripMargin,
    "q_split_cluster_safe" ->
      s"""${Dedup.ClustersCteSql}, spl AS (
         |  SELECT doc_id, cluster,
         |         CASE WHEN md5('split:' || cluster) < '05' THEN 'test'
         |              WHEN md5('split:' || cluster) < '0a' THEN 'val'
         |              ELSE 'train' END AS split
         |  FROM clusters
         |), pr AS (
         |  SELECT DISTINCT a.doc_id AS ida, c.doc_id AS idb
         |  FROM b a JOIN b c USING (bkey) WHERE a.doc_id < c.doc_id
         |), cx AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS cross_pairs
         |  FROM pr JOIN spl sa ON pr.ida = sa.doc_id
         |          JOIN spl sb ON pr.idb = sb.doc_id
         |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM spl)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
         |       CAST(count(*) * 1000000 // max(tot.n) AS BIGINT) AS docs_ppm,
         |       max(cx.cross_pairs) AS cross_pairs
         |FROM spl, tot, cx GROUP BY split ORDER BY split""".stripMargin,
    "q_split_leakage" ->
      s"""WITH ${Dedup.bandBucketsCteBodyFrom("documents")}, pr AS (
         |  SELECT DISTINCT a.doc_id AS ida, c.doc_id AS idb
         |  FROM b a JOIN b c USING (bkey) WHERE a.doc_id < c.doc_id
         |), lab AS (
         |  SELECT ida, idb,
         |         CASE WHEN md5('split:' || ida) < '05' THEN 'test'
         |              WHEN md5('split:' || ida) < '0a' THEN 'val'
         |              ELSE 'train' END AS split_a,
         |         CASE WHEN md5('split:' || idb) < '05' THEN 'test'
         |              WHEN md5('split:' || idb) < '0a' THEN 'val'
         |              ELSE 'train' END AS split_b
         |  FROM pr
         |)
         |SELECT split_a, split_b, count(*) AS n_pairs,
         |       CAST(split_a <> split_b AS INTEGER) AS is_leak,
         |       min(ida) AS example_a
         |FROM lab
         |GROUP BY split_a, split_b
         |ORDER BY split_a, split_b""".stripMargin,
    "q_train_split" ->
      """WITH sp AS (
        |  SELECT source, n_chars,
        |         CASE WHEN md5('split:' || doc_id) < '05' THEN 'test'
        |              WHEN md5('split:' || doc_id) < '0a' THEN 'val'
        |              ELSE 'train' END AS split
        |  FROM documents
        |), g AS (
        |  SELECT source, split, count(*) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM sp GROUP BY 1, 2
        |), per AS (
        |  SELECT source AS src, CAST(SUM(n_docs) AS BIGINT) AS n_src
        |  FROM g GROUP BY 1
        |)
        |SELECT g.source, g.split, g.n_docs, g.n_chars,
        |       floor((CAST(g.n_docs AS DOUBLE) / CAST(per.n_src AS DOUBLE)) * 10000 + 0.5) / 10000 AS frac
        |FROM g JOIN per ON g.source = per.src
        |ORDER BY g.source, g.split""".stripMargin,
    "q_token_apportion" ->
      s"""WITH per AS (
         |  SELECT source, CAST(SUM(len($WordsSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per
         |), q AS (
         |  SELECT source, n_tokens,
         |         (1000000 * n_tokens) // total AS quota,
         |         (1000000 * n_tokens) % total AS rem
         |  FROM per, tot
         |), sh AS (SELECT CAST(1000000 - SUM(quota) AS BIGINT) AS r FROM q
         |), rr AS (
         |  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rn FROM q
         |)
         |SELECT rr.source, rr.n_tokens,
         |       CAST(rr.quota AS BIGINT) AS quota,
         |       CAST(CASE WHEN rr.rn <= sh.r THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |       CAST(rr.quota + CASE WHEN rr.rn <= sh.r THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM rr, sh
         |ORDER BY rr.source""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH h AS (
         |  SELECT source, doc_id, n_chars,
         |         CAST('0x' || substring(md5('ws:' || doc_id), 1, 8) AS BIGINT) AS hv
         |  FROM documents WHERE n_chars > 0
         |), k AS (
         |  SELECT source, doc_id, n_chars,
         |         CAST(CAST(floor((ln(CAST(2 * hv + 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |            - CAST(floor((ln(CAST(${1L << 33} AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)
         |           / n_chars AS skey
         |  FROM h
         |), r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY skey DESC, doc_id) AS INTEGER) AS rn
         |  FROM k
         |)
         |SELECT source, rn, doc_id, n_chars, skey FROM r WHERE rn <= 5
         |ORDER BY source, rn""".stripMargin,
    "q_dsir_weights" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang, unnest($BigramsSql) AS bg FROM documents
         |), fb AS (
         |  SELECT doc_id, lang,
         |         CAST('0x' || substring(md5(bg), 1, 6) AS BIGINT) % $DsirBuckets AS bucket
         |  FROM f
         |), st AS (
         |  SELECT bucket,
         |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct_t,
         |         count(*) AS ct_r
         |  FROM fb GROUP BY bucket
         |), tot AS (
         |  SELECT CAST(sum(ct_t) AS BIGINT) AS n_t,
         |         CAST(sum(ct_r) AS BIGINT) AS n_r FROM st
         |), lr AS (
         |  SELECT bucket,
         |         (CAST(floor((ln(CAST(ct_t + 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |           - CAST(floor((ln(CAST(n_t + $DsirBuckets AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))
         |         - (CAST(floor((ln(CAST(ct_r + 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |           - CAST(floor((ln(CAST(n_r + $DsirBuckets AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS lr
         |  FROM st, tot
         |)
         |SELECT doc_id, count(*) AS n_feats,
         |       CAST(floor((sum(lr)) * 10000 + 0.5) / 10000 AS DOUBLE) AS log_w,
         |       CAST(sum(lr) > 0 AS INTEGER) AS selected
         |FROM fb JOIN lr USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // micro-unit revenue via the scale-6 decimal cast; Pareto boundaries
    // as exact HUGEINT comparisons; shares as integer ppm divisions
    "q_abc_class" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(24,6)) * 1000000
        |                       AS BIGINT)) AS HUGEINT) AS r
        |  FROM lineitem GROUP BY 1
        |), tot AS (SELECT SUM(r) AS tot FROM rev),
        |cw AS (
        |  SELECT r,
        |    SUM(r) OVER (ORDER BY r DESC, l_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    tot
        |  FROM rev, tot
        |), cls AS (
        |  SELECT r, tot,
        |    CASE WHEN cum * 5 <= tot * 4 THEN 'A'
        |         WHEN cum * 20 <= tot * 19 THEN 'B'
        |         ELSE 'C' END AS cls
        |  FROM cw
        |)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(r) AS BIGINT) AS revenue_micro,
        |  CAST((SUM(r) * 1000000) // MIN(tot) AS BIGINT) AS revenue_ppm
        |FROM cls GROUP BY cls ORDER BY cls""".stripMargin,
    "q_concentration" ->
      s"""WITH per AS (
         |  SELECT source, CAST(sum(len($WordsSql)) AS BIGINT) AS t
         |  FROM documents GROUP BY source
         |), r AS (
         |  SELECT t, row_number() OVER (ORDER BY t, source) AS i FROM per
         |), a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
         |         CAST(SUM(t) AS BIGINT) AS total_tokens,
         |         SUM(CAST(t AS HUGEINT) * t) AS sum_sq,
         |         CAST(MAX(t) AS BIGINT) AS t_max,
         |         SUM(CAST(i AS HUGEINT) * t) AS sum_it
         |  FROM r
         |)
         |SELECT n_sources, total_tokens,
         |       floor((CAST(sum_sq AS DOUBLE)
         |             / (CAST(total_tokens AS DOUBLE) * CAST(total_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS hhi,
         |       floor((CAST(2 * sum_it - CAST(n_sources + 1 AS HUGEINT) * total_tokens AS DOUBLE)
         |             / (CAST(n_sources AS DOUBLE) * CAST(total_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS gini,
         |       floor((CAST(t_max AS DOUBLE) / CAST(total_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS top_share
         |FROM a""".stripMargin,
    "q_source_mix" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(len($WordsSql)) AS BIGINT) AS n_tokens,
         |         CAST(sqrt(count(*)) AS DECIMAL(24,6)) AS ws
         |  FROM documents GROUP BY source
         |), t AS (SELECT sum(ws) AS tot FROM per)
         |SELECT source, n_docs, n_tokens,
         |       floor((CAST(ws AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS weight,
         |       CAST(floor(floor((CAST(ws AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 * 10000) AS BIGINT) AS epoch_docs
         |FROM per, t
         |ORDER BY source""".stripMargin,
    "q_pack_greedy" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, source, CAST(len($WordsSql) AS BIGINT) AS n_tokens,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, source, n_tokens, rn,
         |         CAST(0 AS BIGINT) AS bin, n_tokens AS fill_after
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.source, d.n_tokens, d.rn,
         |         CASE WHEN p.fill_after + d.n_tokens > 256
         |              THEN p.bin + 1 ELSE p.bin END,
         |         CASE WHEN p.fill_after + d.n_tokens > 256
         |              THEN d.n_tokens ELSE p.fill_after + d.n_tokens END
         |  FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
         |)
         |SELECT doc_id, source, n_tokens, bin, fill_after
         |FROM p ORDER BY doc_id""".stripMargin,
    "q_token_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(len($WordsSql) AS INTEGER) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (
         |           PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM d
         |)
         |SELECT doc_id, source, n_tokens, cum_before,
         |       cum_before // $ShardTokens AS shard,
         |       cum_before % $ShardTokens AS offset_in_shard
         |FROM c
         |ORDER BY doc_id""".stripMargin,
  )
}
