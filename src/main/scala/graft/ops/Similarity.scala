package graft.ops

import graft.Tables
import graft.functions.VectorExpressions.{doubleDot, floatDot}
import graft.util.Det
import graft.util.Det.Dec0
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (north-star:
  * brute-force cosine top-k baseline + LSH-bucketed scale path +
  * embedding near-dup).
  *
  * Vector arithmetic runs through the codegen'd
  * [[graft.functions.FloatVectorDot]] Catalyst expression (floats widened to
  * double, left-to-right accumulation — no UDFs, no interpreted lambdas).
  * Results order by the *rounded* cosine (4dp) with a vec_id tie-break so
  * rank order is robust to last-ulp summation differences across engines.
  *
  * Scale design: the brute-force path broadcasts only the query set (top-k
  * per query is a window over candidates, never a global collect). The LSH
  * path buckets the corpus by sign bits — at 100 TB the corpus side
  * shuffles once on the bucket key and each query only meets its bucket,
  * the standard hash-partitioned ANN layout (a custom Catalyst strategy is
  * deliberately unnecessary — SURVEY.md §7.5).
  */
object Similarity {

  /** Dot product via the codegen'd [[graft.functions.FloatVectorDot]]
    * expression — bit-identical to the interpreted
    * `aggregate(zip_with(...))` fold it replaces (floats widened to double,
    * left-to-right accumulation) but stays inside WholeStageCodegen. */
  private def dot(a: Column, b: Column): Column = floatDot(a, b)

  /** DuckDB mirror of [[Det.q4]]: `floor(x·10⁴+0.5)/10⁴` — the same IEEE
    * op sequence in both engines (PARITY.md §3). Every oracle string in
    * this file quantizes with this, never `round(x, 4)` (whose half-way
    * tie-break is Spark BigDecimal HALF_UP vs DuckDB C-double — the r9
    * q_jl_transform driver-red class). */
  private[ops] def q4s(e: String): String = s"floor(($e) * 10000 + 0.5) / 10000"

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Materialize a subtree used by several plan branches exactly once.
    * Without it Spark recomputes the scan+norm per branch (the corpus is
    * read 3× in the IVF query); also truncates lineage — reliable mode
    * via spark.graft.checkpoint.dir (graft.util.Ckpt). */
  private def once(df: DataFrame): DataFrame = graft.util.Ckpt.stage(df)

  /** Layout-preserving variant of [[once]] for NON-loop frames
    * ([[graft.util.Ckpt.share]]): the materialized frame keeps its
    * outputPartitioning/Ordering, so consumers keyed the same way skip
    * the re-Exchange a localCheckpoint would force (VERDICT r13 item 1).
    * Loop-carried frames stay on [[once]] — persist does not truncate
    * lineage. */
  private def keep(df: DataFrame): DataFrame = graft.util.Ckpt.share(df)

  /** The deterministic coarse sample: every 100th vector seeds the IVF
    * quantizer ([[seedCentroids]]) and the PQ codebooks ([[pqCodebook]]). */
  private val SeedRow: Column = col("vec_id") % 100 === 0

  /** The seed coarse quantizer: the [[SeedRow]] sample of a (vec_id, v,
    * norm) frame as the (cid, cv, cn) frame [[nearestCell]] and
    * [[probeCells]] read. */
  private def seedCentroids(n: DataFrame): DataFrame =
    n.filter(SeedRow)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))

  /** THE cell-assignment rule: each (vec_id, v, norm) row joins its
    * highest quantized-cosine centroid of a broadcast (cid, cv, cn)
    * frame, ties going to the lowest cid. Returns (vec_id, `carry`…,
    * cid, ccos). `dot` is the caller's oracle parity: [[dot]] (float) or
    * [[graft.functions.VectorExpressions.doubleDot]] (trained quantizer).
    *
    * Scale shape: centroids broadcast (k ≪ corpus); the argmax is
    * max(struct(ccos, -cid)) over NARROW (vec_id, ccos, cid) rows, map-side
    * combinable, so vectors never ride the shuffle — the window
    * formulation would carry the payload once per centroid. */
  private[graft] def nearestCell(n: DataFrame, cents: DataFrame,
                                 dot: (Column, Column) => Column,
                                 carry: Seq[String] = Nil): DataFrame = {
    val keys = col("vec_id") +: carry.map(col)
    n.crossJoin(broadcast(cents))
      .select(keys ++ Seq(
        Det.q4(dot(col("v"), col("cv")) / (col("norm") * col("cn"))).as("ccos"),
        col("cid")): _*)
      .groupBy(keys: _*)
      .agg(max(struct(col("ccos"), (-col("cid")).as("negcid"))).as("b"))
      .select(keys ++ Seq((-col("b.negcid")).as("cid"), col("b.ccos").as("ccos")): _*)
  }

  /** THE probe rule: each query row (qid, qv, qn, …) keeps its 2 nearest
    * cells of a broadcast (cid, cv, cn) frame by (quantized cosine desc,
    * cid asc). Returns the query columns plus cid, two rows per qid. */
  private def probeCells(q: DataFrame, cents: DataFrame,
                         dot: (Column, Column) => Column): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("ccos", Det.q4(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= 2)
      .select(q.columns.map(col) :+ col("cid"): _*)
  }

  /** [[cosineTopk]]'s query stride: every [[CosineStride]]-th vector is a
    * query. Named (ADVICE r10) because [[rboRankings]]' b-leg filters
    * cosineTopk output with `qid % MaxSimStride`, which selects the right
    * queries ONLY while the MaxSim stride is a multiple of this one —
    * asserted below so changing either fails loudly instead of silently
    * emptying the rbo leg. */
  private[ops] val CosineStride = 50

  /** Every [[CosineStride]]-th vector is a query; brute-force cosine
    * against the full corpus, top-10 per query. */
  def cosineTopk(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)))
    val q = n.filter(col("vec_id") % CosineStride === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    n.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("qid", "rn")
  }

  private[ops] val MaxSimSubs = 8
  private[ops] val MaxSimSubDim = 8
  private[ops] val MaxSimStride = 200
  private[ops] val MaxSimTopK = 5
  require(MaxSimStride % CosineStride == 0,
    s"MaxSim queries must be a subset of cosine queries (q_rbo's b-leg " +
      s"filters cosineTopk output with qid % $MaxSimStride): MaxSimStride " +
      s"$MaxSimStride must be a multiple of CosineStride $CosineStride")

  /** Multi-vector late-interaction retrieval (ColBERT-style MaxSim): each
    * 64-dim embedding is treated as [[MaxSimSubs]] token-level sub-vectors
    * of [[MaxSimSubDim]] dims, and the query–document score is
    * Σᵢ maxⱼ cos(qᵢ, dⱼ) — every query token finds its best-matching
    * document token, the interaction single-vector cosine collapses away.
    * Every [[MaxSimStride]]-th vector is a query; top-[[MaxSimTopK]] per
    * query. The fixture's flat vectors stand in for true per-token
    * matrices; the operator shape (sub-vector slicing, per-(i,j) cosine,
    * row-local max-then-sum, per-query top-k) is the production one.
    *
    * Determinism: each sub-cosine is the FloatVectorDot fold (floats
    * widened to double, left-to-right — DuckDB's `list_dot_product` order)
    * over row-local slices, divided by two sqrt-exact sub-norms; each
    * per-i max is over bit-identical doubles, 6-dp floor-quantized; the
    * sum over i is a left-to-right fold of the quantized terms, mirrored
    * in the oracle as explicit left-associative addition. Zero sub-norms
    * raise loudly (the [[rpFeatures]] guard discipline) rather than emit
    * NaN rankings.
    *
    * Scale shape: identical to [[cosineTopk]] — the query set broadcasts,
    * the corpus is scanned ONCE and never exchanged (all 64 sub-cosines
    * are row-local array math inside the scan projection), and the only
    * shuffle is the per-query top-k window over candidates. The
    * production scale path composes this scorer behind an ANN shortlist
    * ([[annIvf]]/[[pqRerank]]): retrieve coarse, re-score MaxSim. */
  /** (vec_id, v, sn) with the dimension guard and per-row sub-vector
    * norms — the shared front end of [[maxsim]] and [[maxsimRerank]]. */
  private def maxsimFeatures(s: SparkSession, d: String): DataFrame = {
    val subNorms = expr(
      s"""transform(sequence(0, ${MaxSimSubs - 1}), i ->
         |  sqrt(aggregate(slice(v, i * $MaxSimSubDim + 1, $MaxSimSubDim),
         |    CAST(0.0 AS DOUBLE),
         |    (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin)
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      .withColumn("v",
        when(size(col("v")) === RpDim, col("v")).otherwise(raise_error(concat(
          lit(s"maxsim expects $RpDim-dim embeddings, got "),
          size(col("v")).cast("string")))))
      .withColumn("sn", subNorms)
      .withColumn("sn",
        when(array_min(col("sn")) > 0.0, col("sn")).otherwise(
          raise_error(lit("maxsim: zero sub-vector norm"))))
  }

  /** The row-local MaxSim score over (qv, qsn) × (v, sn): left-to-right
    * fold over i of the 6-dp-quantized max-over-j sub-cosine.
    *
    * Production path: the codegen'd
    * [[graft.functions.MaxSimScore]] expression (compiled subs×subs
    * double loop inside WholeStageCodegen). The interpreted HOF
    * formulation below is retained as the REFERENCE SEMANTICS — the
    * spec asserts the two are bit-equal on the full fixture
    * (Round11OpsSpec), the same discipline as [[FloatVectorDot]]. */
  private def maxsimScore: Column =
    graft.functions.VectorExpressions.maxsimScore(
      col("qv"), col("qsn"), col("v"), col("sn"), MaxSimSubs, MaxSimSubDim)

  private[graft] def maxsimScoreExpr: Column = expr(
    s"""aggregate(sequence(0, ${MaxSimSubs - 1}), CAST(0.0 AS DOUBLE),
       |  (acc, i) -> acc +
       |    floor(array_max(transform(sequence(0, ${MaxSimSubs - 1}), j ->
       |      aggregate(zip_with(slice(qv, i * $MaxSimSubDim + 1, $MaxSimSubDim),
       |                         slice(v,  j * $MaxSimSubDim + 1, $MaxSimSubDim),
       |                         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       |                CAST(0.0 AS DOUBLE), (a, t) -> a + t)
       |      / (element_at(qsn, i + 1) * element_at(sn, j + 1))))
       |    * 1000000 + 0.5) / 1000000)""".stripMargin)

  def maxsim(s: SparkSession, d: String): DataFrame = {
    val n = once(maxsimFeatures(s, d))
    val q = n.filter(col("vec_id") % MaxSimStride === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("sn").as("qsn"))
    val w = Window.partitionBy("qid").orderBy(col("maxsim").desc, col("vec_id").asc)
    n.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("maxsim", maxsimScore)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MaxSimTopK)
      .select(col("qid"), col("rn"), col("vec_id"), col("maxsim"))
      .orderBy("qid", "rn")
  }

  /** RBO weights (1−p)·p^(d−1) at p = 0.9, scaled ×10⁶ — exact integers
    * by repeated ·9/10 (each step divides a multiple of 10). */
  private[ops] val RboW: Seq[Long] = Seq(100000L, 90000L, 81000L, 72900L, 65610L)
  /** Per-first-common-depth contribution: an id pair whose LATER rank is
    * m contributes to every prefix depth d ≥ m, so its total scaled
    * weight is C(m) = Σ_{d=m..5} W(d)·(60/d) — the 60 = lcm(1..5) clears
    * the 1/d prefix-overlap denominators, keeping the whole score in
    * exact BIGINT. */
  private[ops] val RboC: Seq[Long] =
    (1 to 5).map(m => (m to 5).map(d => RboW(d - 1) * (60 / d)).sum)
  /** Perfect-agreement score (identical top-5 rankings) = Σ C(m). */
  private[ops] val RboMax: Long = RboC.sum

  /** Rank-biased overlap (Webber et al. 2010) between the [[maxsim]]
    * late-interaction top-5 and the single-vector [[cosineTopk]] top-5,
    * per query — the label-free ranking-agreement audit that says HOW
    * MUCH the multi-vector interaction changes retrieval (NDCG/recall
    * need a ground truth; RBO compares two rankings directly, weighting
    * agreement at the top). Truncated RBO@5 at p = 0.9, normalized by
    * its own perfect-agreement mass so identical rankings score 1.0.
    *
    * Determinism: the per-pair contribution table [[RboC]] is exact
    * integers (the q_ndcg scaled-weight discipline — no p^d float pow on
    * the data path); the score is one BIGINT sum over the rank join; the
    * normalized RBO is ONE IEEE division by the integer maximum.
    *
    * Scale shape: both legs are the audited queries themselves
    * (≤ 5·|queries| rows each); the rank join keys on (qid, vec_id). */
  def rboRankings(s: SparkSession, d: String): DataFrame = {
    val a = maxsim(s, d).select(col("qid"), col("vec_id"), col("rn").as("ra"))
    val b = cosineTopk(s, d)
      .filter(col("rn") <= MaxSimTopK && col("qid") % MaxSimStride === 0)
      .select(col("qid"), col("vec_id"), col("rn").as("rb"))
    a.join(b, Seq("qid", "vec_id"), "left")
      .withColumn("contrib", when(col("rb").isNull, lit(0L))
        .otherwise(element_at(array(RboC.map(lit): _*),
          greatest(col("ra"), col("rb")))))
      .groupBy("qid")
      .agg(sum(col("rb").isNotNull.cast("long")).as("n_common"),
        sum("contrib").as("score_scaled"))
      .withColumn("rbo",
        col("score_scaled").cast("double") / lit(RboMax.toDouble))
      .orderBy("qid")
  }

  /** Bucket bits for [[maxsimRerank]]'s coarse retrieval stage — 4 sign
    * bits (16 buckets): coarser than [[annLsh]]'s 8 so the shortlist the
    * precise scorer re-ranks stays populated. */
  private[ops] val MaxSimRerankBits = 4

  /** Retrieve-then-re-rank with late interaction — the production
    * composition [[maxsim]]'s scaladoc promises: a cheap sign-bit LSH
    * stage ([[annLsh]]'s recipe at [[MaxSimRerankBits]] bits) shortlists
    * candidates, and ONLY the shortlist pays the 64-sub-cosine MaxSim
    * score. This is the two-tower → late-interaction serving ladder
    * (coarse ANN recall, precise re-rank precision) in one query.
    *
    * Determinism: bucket bits are sign tests on raw float components
    * (exact in both engines); the score, quantize, fold order, and
    * (score DESC, vec_id) ranking are [[maxsim]]'s.
    *
    * Scale shape: the corpus is scanned once and never exchanged — the
    * bucket is scan-local, the query set broadcasts, candidates
    * materialize through the bucket equi-join (never all-pairs), and the
    * expensive MaxSim expression evaluates on the shortlist only. At
    * 100 TB the bucket join replaces this query's broadcast with the
    * banded-LSH shuffle — the [[bandedPairs]] shape — unchanged
    * downstream. */
  /** Recall@[[MaxSimTopK]] of [[maxsimRerank]] against the brute
    * [[maxsim]] ranking — the audit that makes the retrieve-then-re-rank
    * rung falsifiable (the [[annRecall]] pattern applied to the late-
    * interaction ladder): per query, how many of the true MaxSim top-k
    * survive the coarse bucket stage. A query whose shortlist came up
    * empty is absent — stated by absence, mirrored in the oracle.
    *
    * Determinism: hit counts are exact integer joins of the two (already
    * deterministic) rankings; recall is ONE IEEE division by
    * least(k, |exact list|) — the per-query exact-ranking size caps the
    * denominator (ADVICE r10) so a corpus smaller than k+1 scores
    * recall of what was actually retrievable, not an understated /k.
    * Scale shape: both legs are the audited queries themselves; the
    * exact top-k (≤ 5·|queries| rows) is staged once and broadcasts. */
  def maxsimRecall(s: SparkSession, d: String): DataFrame = {
    val ms = once(maxsim(s, d))
    val exact = ms
      .select(col("qid").as("eqid"), col("vec_id").as("evid"), lit(1L).as("hit"))
    val exactN = ms.groupBy(col("qid").as("nqid"))
      .agg(count(lit(1)).as("n_exact"))
    maxsimRerank(s, d).select(col("qid"), col("vec_id"))
      .join(broadcast(exact),
        col("qid") === col("eqid") && col("vec_id") === col("evid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .join(broadcast(exactN), col("qid") === col("nqid"))
      .select(col("qid"), col("n_cand"), col("n_hits"),
        (col("n_hits").cast("double") /
          least(lit(MaxSimTopK.toLong), col("n_exact")).cast("double"))
          .as("recall"))
      .orderBy("qid")
  }

  /** Top terms per learned embedding cell — the CROSS-MODAL curation op
    * (cluster labeling): documents are assigned to quantizer cells
    * through the fixture's 1:1 vec_id = doc_id bridge (the familyFlags
    * correspondence, `ops/Dedup.scala`), and each cell is labeled by the
    * χ² keyness of its doc-presence terms — the human-readable answer to
    * "what IS this embedding cluster?" that semantic-dedup and
    * cluster-sampling reports need before anyone trusts them. Cells are
    * [[nearestCell]] over the [[seedCentroids]] quantizer; scoring is
    * [[TextAnalysis.termChi2]]'s 2×2 presence χ², keyed by cell instead
    * of language; top-3 terms per cell.
    *
    * Determinism: the assignment is [[nearestCell]]'s quantized-cosine
    * argmax; all margins are exact BIGINTs; the χ²
    * value is the termChi2 expression verbatim (DECIMAL(38,0) cross
    * products, one IEEE division, 6-dp floor-quantize, undiscriminating
    * margins defined as exactly 0).
    *
    * Scale shape: centroids broadcast (model state, k ≪ corpus); the
    * corpus is scanned once for assignment; the word explode is
    * scan-local with a distinct on (doc, word); margins are keyed
    * aggregates; the per-cell top-3 is a cell-partitioned window. */
  def clusterTopics(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    val asg = once(nearestCell(n, seedCentroids(n), dot).select("vec_id", "cid"))
    val dw = once(Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .join(asg, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("cid"), col("word")))
    val cellTot = asg.groupBy("cid").agg(count(lit(1)).as("nc"))
    val tot = asg.agg(count(lit(1)).as("nn"))
    val wordTot = dw.groupBy("word").agg(count(lit(1)).as("nw"))
    val cell = dw.groupBy("word", "cid").agg(count(lit(1)).as("n11"))
    val scored = cell
      .join(broadcast(cellTot), "cid")
      .join(wordTot, "word")
      .crossJoin(broadcast(tot))
      .withColumn("det",
        (col("n11") * (col("nn") - col("nc") - (col("nw") - col("n11")))
          - (col("nc") - col("n11")) * (col("nw") - col("n11"))).cast(Dec0))
      .withColumn("chi2",
        // the termChi2 margin guards: an everywhere-term or a
        // single-cell corpus is undiscriminating — exactly 0
        when(col("nw") < col("nn") && col("nc") < col("nn"),
          Det.q6((col("nn").cast(Dec0) * col("det") * col("det")).cast("double") /
            (col("nw").cast(Dec0) * (col("nn") - col("nw")).cast(Dec0) *
              col("nc").cast(Dec0) * (col("nn") - col("nc")).cast(Dec0)).cast("double")))
          .otherwise(lit(0.0)))
    val w = Window.partitionBy("cid")
      .orderBy(col("chi2").desc, col("word").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("cid"), col("rn"), col("word"), col("n11"),
        col("nw").as("n_word"), col("nc").as("n_cell"), col("chi2"))
      .orderBy("cid", "rn")
  }

  def maxsimRerank(s: SparkSession, d: String): DataFrame = {
    val bucket = concat((1 to MaxSimRerankBits).map(i =>
      when(element_at(col("v"), i) >= 0f, lit("1")).otherwise(lit("0"))): _*)
    val n = once(maxsimFeatures(s, d).withColumn("bucket", bucket))
    val q = n.filter(col("vec_id") % MaxSimStride === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("sn").as("qsn"),
        col("bucket").as("qb"))
    val w = Window.partitionBy("qid").orderBy(col("maxsim").desc, col("vec_id").asc)
    n.join(broadcast(q), col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .withColumn("maxsim", maxsimScore)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MaxSimTopK)
      .select(col("qid"), col("rn"), col("vec_id"), col("maxsim"))
      .orderBy("qid", "rn")
  }

  private val LshBits = 8

  /** Sign-bit LSH bucketing (random-hyperplane LSH specialized to axis
    * planes): bucket = sign pattern of the first 8 dimensions; queries only
    * compare within their bucket. The scale path for `cosineTopk`. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val bucket = concat((1 to LshBits).map(i =>
      when(element_at(col("embedding"), i) >= 0f, lit("1")).otherwise(lit("0"))): _*)
    val base = once(Tables.embeddings(s, d).withColumn("bucket", bucket)
      .select(col("vec_id"), col("embedding").as("v"), col("bucket"))
      .withColumn("norm", sqrt(dot(col("v"), col("v")))))
    val q = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"), col("bucket").as("qb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    base.join(broadcast(q), col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("qid", "rn")
  }

  private val RpBits = 8
  private val RpDim = 64

  /** Seeded random hyperplanes for [[annLshRp]]: RpBits planes of RpDim
    * small-integer coordinates. Integer entries are exact in both float and
    * double, so each projection term is an exact IEEE product in BOTH
    * engines and the only cross-engine freedom is summation rounding —
    * removed by the 4-dp floor-quantize before the sign is taken (the same recipe
    * every cosine query uses). Generated once from a fixed seed; the DuckDB
    * oracle states the identical literal matrix. */
  private[graft] val rpPlanes: Array[Array[Int]] = {
    val rng = new scala.util.Random(2026)
    Array.fill(RpBits)(Array.fill(RpDim)(rng.nextInt(9) - 4))
  }

  private def rpProj(v: Column, i: Int): Column =
    Det.q4(dot(v, array(rpPlanes(i).map(x => lit(x.toFloat)): _*)))

  /** `bucket` with the bit at 1-based `pos` flipped. */
  private def flipAt(bucket: Column, pos: Column): Column =
    concat(bucket.substr(lit(1), pos - 1),
      when(bucket.substr(pos, lit(1)) === "1", lit("0")).otherwise(lit("1")),
      bucket.substr(pos + 1, lit(RpBits) - pos))

  /** Adds to a (…, v, …) frame: `bucket` (the RpBits sign-bit string of the
    * hyperplane projections) and `flip_wi` (the bucket with the
    * weakest-margin bit — the projection of smallest |value| — flipped:
    * the single most likely neighboring bucket, i.e. classic multi-probe
    * with probe budget 2). */
  private[graft] def rpFeatures(df: DataFrame): DataFrame = {
    // dimension guard (ADVICE round-3): FloatVectorDot silently truncates
    // to min(length) on a mismatch while the DuckDB oracle's
    // list_dot_product hard-errors — fail loudly here too, so a fixture
    // or schema drift can never produce a silently wrong projection
    val guarded = df.withColumn("v",
      when(size(col("v")) === RpDim, col("v")).otherwise(raise_error(concat(
        lit(s"rp-LSH expects $RpDim-dim embeddings, got "), size(col("v")).cast("string")))))
    val keep = df.columns.map(col)
    val withP = guarded.select(keep ++ (0 until RpBits).map(i => rpProj(col("v"), i).as(s"p$i")): _*)
    val bucket = concat((0 until RpBits).map(i =>
      when(col(s"p$i") >= 0, lit("1")).otherwise(lit("0"))): _*)
    val absArr = array((0 until RpBits).map(i => abs(col(s"p$i"))): _*)
    withP
      .withColumn("bucket", bucket)
      .withColumn("wi", array_position(absArr, array_min(absArr)).cast("int"))
      .withColumn("flip_wi", flipAt(col("bucket"), col("wi")))
      .drop("wi")
      .drop((0 until RpBits).map(i => s"p$i"): _*)
  }

  /** All probe buckets within Hamming distance 1 (bucket + every
    * single-bit flip) — the wider probe set the recall harness uses. */
  private[graft] def rpProbesRadius1(bucket: Column): Column =
    array(bucket +: (1 to RpBits).map(i => flipAt(bucket, lit(i))): _*)

  /** Random-hyperplane multi-probe LSH ANN (VERDICT round-2 item 2): the
    * corpus is bucketed by the sign pattern of 8 seeded hyperplane
    * projections (unbiased under rotation, unlike the axis-aligned
    * [[annLsh]] which keys on correlated raw coordinates); each query
    * probes its own bucket plus its weakest-margin flip. At 100 TB the
    * corpus shuffles once on the bucket key and each query meets only its
    * 2 probed buckets — candidate volume is probes/2^bits of the corpus,
    * tunable entirely by (bits, probes). [[RpLshRecallSpec]] measures
    * recall against brute-force ground truth. */
  def annLshRp(s: SparkSession, d: String): DataFrame = {
    val base = once(rpFeatures(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))))
    val q = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"),
        explode(array(col("bucket"), col("flip_wi"))).as("qb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    base.join(broadcast(q), col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("qid", "rn")
  }

  private val JlDim = 16

  /** Seeded projection planes for [[jlTransform]]: JlDim planes of RpDim
    * small-integer coordinates (the [[rpPlanes]] recipe, independent
    * seed) — exact in float and double, stated as a literal matrix in
    * the oracle. */
  private[graft] val jlPlanes: Array[Array[Int]] = {
    val rng = new scala.util.Random(2028)
    Array.fill(JlDim)(Array.fill(RpDim)(rng.nextInt(9) - 4))
  }

  /** Johnson–Lindenstrauss random projection 64 → 16 dims with its
    * distance-preservation audit — the embedding-compression primitive
    * between full vectors and PQ codes (`q_embed_pq`): a seeded
    * small-integer projection matrix maps every vector row-locally to 16
    * components, and the audit compares full-dimension cosine against
    * projected cosine on a FIXED 50-vector panel (vec_id < 50 — bounded
    * by construction, so the pairwise audit is ≤ 1225 rows at any corpus
    * scale; the transform itself is a scan-local codegen projection over
    * the whole corpus).
    *
    * Determinism: each projected component is one [[FloatVectorDot]]
    * against exact-integer planes, floor-quantized to 4 dp ([[Det.q4]] —
    * NOT `round(x,4)`, whose half-way tie-break diverges between Spark's
    * BigDecimal HALF_UP and DuckDB's C-double round, PARITY.md §3; this
    * was round 9's one driver-red row); the projected cosine is a fixed
    * left-to-right 16-term product sum over those quantized components,
    * one division, floor-quantized — the same tree in the DuckDB
    * oracle's literal-matrix SQL. */
  def jlTransform(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d))
      .filter(col("vec_id") < 50).select("vec_id", "v", "norm"))
    val proj = (0 until JlDim).map(i =>
      Det.q4(dot(col("v"), array(jlPlanes(i).map(x => lit(x.toFloat)): _*)))
        .as(s"p$i"))
    val p = once(n.select(Seq(col("vec_id"), col("v"), col("norm")) ++ proj: _*))
    val a = p.select(p.columns.map(c => col(c).as(s"a_$c")): _*)
    val b = p.select(p.columns.map(c => col(c).as(s"b_$c")): _*)
    val dotP = (0 until JlDim).map(i => col(s"a_p$i") * col(s"b_p$i")).reduce(_ + _)
    val ssqA = (0 until JlDim).map(i => col(s"a_p$i") * col(s"a_p$i")).reduce(_ + _)
    val ssqB = (0 until JlDim).map(i => col(s"b_p$i") * col(s"b_p$i")).reduce(_ + _)
    a.join(broadcast(b), col("b_vec_id") > col("a_vec_id"))
      .select(col("a_vec_id").as("id1"), col("b_vec_id").as("id2"),
        Det.q4(dot(col("a_v"), col("b_v")) / (col("a_norm") * col("b_norm")))
          .as("cos_full"),
        Det.q4(dotP / (sqrt(ssqA) * sqrt(ssqB))).as("cos_proj"))
      .withColumn("abs_err",
        floor(abs(col("cos_full") - col("cos_proj")) * 10000 + lit(0.5)) / 10000)
      .orderBy("id1", "id2")
  }

  /** Banding parameters for [[bandedPairs]]: L = [[NeardupBands]] hash
    * tables of b = [[NeardupBandBits]] sign bits each. The S-curve is
    * P(collide) = 1 − (1 − p^b)^L with p = 1 − θ/π per hyperplane: at
    * cosine 0.95 a pair collides with p ≈ 0.9999, at 0.9 ≈ 0.998, at
    * 0.77 ≈ 0.95 — true near-duplicates meet with near-certainty at ANY
    * id distance, the property the old id-window front end lacked. At
    * 100 TB, b scales with log₂(corpus) to keep per-bucket occupancy
    * (and thus candidate volume) bounded; L buys recall back. */
  private[graft] val NeardupBands = 12
  private[graft] val NeardupBandBits = 6

  /** Seeded hyperplanes for [[bandedPairs]]: NeardupBands·NeardupBandBits
    * planes of RpDim small-integer coordinates, exact in float and double
    * (the [[rpPlanes]] recipe, independent seed). The DuckDB oracle
    * states the identical literal matrix. */
  private[graft] val neardupPlanes: Array[Array[Int]] = {
    val rng = new scala.util.Random(2027)
    Array.fill(NeardupBands * NeardupBandBits)(Array.fill(RpDim)(rng.nextInt(9) - 4))
  }

  /** Cosine threshold for [[embedNeardup]] and the [[graft.ops.Dedup]]
    * family's embedding flag — interpolated into every generated oracle
    * (never restated as a literal, so Spark and DuckDB cannot desync). */
  private[ops] val NeardupThresh = 0.3

  /** Embedding near-dup: pairs whose cosine exceeds [[NeardupThresh]], candidates from
    * the banded RP-LSH front end of [[bandedPairs]] — GEOMETRY-driven
    * recall (the fixture corpus has no planted vector dups — max pairwise
    * cosine ≈ 0.51 — so the threshold is calibrated to flag the heavy
    * tail; on real corpora the interesting regime is cosine ≥ 0.9 where
    * the band S-curve is ≈ 1). */
  def embedNeardup(s: SparkSession, d: String): DataFrame =
    bandedPairs(once(withNorm(Tables.embeddings(s, d))), NeardupThresh)
      .orderBy("id1", "id2")

  /** The banded-LSH similarity-pair frame behind [[embedNeardup]]
    * (threshold 0.3), [[dbscan]] ([[DbEps]]) and [[semanticDedup]]:
    * every vector hashes to [[NeardupBands]] band keys (the sign pattern
    * of [[NeardupBandBits]] seeded hyperplane projections per band); a
    * pair is a candidate iff it collides in ≥ 1 band, then the exact
    * 4-dp floor-quantized cosine verifies against the threshold. Takes the
    * (vec_id, label, v, norm) frame as input so the recall harness
    * ([[graft.DedupRecallSpec]]) can plant duplicates at arbitrary id
    * distance.
    *
    * Scale shape: the corpus shuffles once on (band, bkey) — L replicas
    * of each row ride the exchange, never an all-pairs product;
    * candidate volume per bucket is bounded by bucket occupancy (2^b
    * buckets per band, b tuned to log₂ N). The cosine is computed per
    * colliding band-pair (≤ L redundant codegen'd dot products for a
    * pair colliding in every band) and duplicates collapse in one
    * DISTINCT over the already-thresholded output.
    *
    * MEASURED against the dedup-then-fetch alternative (r10, VERDICT r9
    * item 5: emit (vec_id, packed-int band key) only — 12 B/replica vs
    * ~3 KB — DISTINCT the colliding id pairs, then fetch vectors with
    * two narrow joins): the slim exchange was SLOWER at both measured
    * scales — sf0.1 {neardup 1.58→1.77 s, dbscan 3.97→5.90, semantic
    * 3.83→4.10, compare 3.83→4.96} and sf1 {7.3→45.7, 13.7→54.1,
    * 10.6→48.0, 12.0→51.7 s} — because at the fixture's fixed b=6 the
    * mean bucket occupancy is ~N/64 (≈312 at sf1 ⇒ ~37 M collision
    * rows), so the pre-threshold DISTINCT plus two corpus-wide fetch
    * joins on tens of millions of pair rows cost far more than the
    * payload they save, while this shape streams each collision through
    * one whole-stage-codegen dot and thresholds BEFORE any exchange-
    * heavy dedup. The slim variant wins only when b is scaled so bucket
    * occupancy is O(1–10) (the 100 TB configuration); at that point the
    * exchange payload dominates and the same measurement should be
    * repeated before flipping this implementation. */
  private[graft] def bandedPairs(n: DataFrame, thresh: Double): DataFrame = {
    val nb = NeardupBands * NeardupBandBits
    // same loud dimension guard as rpFeatures: FloatVectorDot silently
    // truncates on a length mismatch, the DuckDB oracle hard-errors
    val guarded = n.withColumn("v",
      when(size(col("v")) === RpDim, col("v")).otherwise(raise_error(concat(
        lit(s"banded LSH expects $RpDim-dim embeddings, got "),
        size(col("v")).cast("string")))))
    // each plane as ONE typed literal node, not a 64-child CreateArray:
    // 72 planes × 64 scalar literals cost measurable per-execution
    // analysis/optimization time (the q_media_phash basis finding, r14);
    // values are bit-identical, only the expression-tree shape changes
    val withP = guarded.select(Seq(col("vec_id"), col("label"), col("v"), col("norm")) ++
      (0 until nb).map(i =>
        Det.q4(dot(col("v"), typedLit(neardupPlanes(i).map(_.toFloat))))
          .as(s"p$i")): _*)
    val keys = (0 until NeardupBands).map { j =>
      concat((0 until NeardupBandBits).map(t =>
        when(col(s"p${j * NeardupBandBits + t}") >= 0, lit("1")).otherwise(lit("0"))): _*)
    }
    val banded = once(withP.select(col("vec_id"), col("label"), col("v"), col("norm"),
      posexplode(array(keys: _*)).as(Seq("band", "bkey"))))
    val a = banded.select(col("vec_id").as("id1"), col("label").as("label1"),
      col("v").as("v1"), col("norm").as("n1"), col("band"), col("bkey"))
    val b = banded.select(col("vec_id").as("id2"), col("label").as("label2"),
      col("v").as("v2"), col("norm").as("n2"),
      col("band").as("band2"), col("bkey").as("bkey2"))
    a.join(b, col("band") === col("band2") && col("bkey") === col("bkey2") &&
        col("id2") > col("id1"))
      .withColumn("cos", Det.q4(dot(col("v1"), col("v2")) / (col("n1") * col("n2"))))
      .filter(col("cos") >= thresh)
      .select(col("id1"), col("id2"), col("label1"), col("label2"), col("cos"))
      .distinct()
  }

  /** DBSCAN neighborhood threshold (cosine similarity ≥ DbEps = within
    * ε) and core-point minimum neighbor count. Chosen against the
    * fixture's banded-candidate cosine distribution so all three roles
    * (core / border / noise) are populated (at sf0.01: 148 core, 185
    * border, 167 noise over 19 clusters). */
  private[ops] val DbEps = 0.3
  private val DbMinPts = 3L

  /** DBSCAN over the blocked embedding-similarity graph — density-based
    * clustering with an explicit noise class, the curation companion to
    * [[semanticDedup]] (components treat ONE stray pair as a merge;
    * DBSCAN requires density: only vectors with ≥ minPts ε-neighbors
    * seed clusters, low-degree vectors become border/noise instead of
    * gluing clusters together): core = degree ≥ [[DbMinPts]] in the
    * ε-graph, clusters = connected components of the core-core subgraph
    * (min-core-id label), border = non-core with ≥ 1 core neighbor
    * (assigned the MIN neighboring cluster label — deterministic, where
    * textbook DBSCAN is order-dependent), noise = the rest.
    *
    * Scale shape: the ε-graph comes from the banded [[bandedPairs]]
    * candidates (never all-pairs); degrees move only (id, count) pairs;
    * the core clusters are [[graft.util.Components.of]] over the core ids
    * and the core–core pairs. */
  def dbscan(s: SparkSession, d: String): DataFrame = {
    val pairs = once(bandedPairs(once(withNorm(Tables.embeddings(s, d))), DbEps)
      .select("id1", "id2"))
    val und = once(pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst"))))
    val deg = und.groupBy("src").agg(count(lit(1)).as("n_neighbors"))
    val base = once(Tables.embeddings(s, d).select("vec_id")
      .join(deg, col("vec_id") === col("src"), "left")
      .select(col("vec_id"), coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors")))
    val coreIds = base.filter(col("n_neighbors") >= DbMinPts).select("vec_id")
    val coreEdges = pairs
      .join(coreIds, col("id1") === col("vec_id"), "left_semi")
      .join(coreIds, col("id2") === col("vec_id"), "left_semi")
      .select(col("id2").as("vec_id"), col("id1").as("key"))
    val labels = graft.util.Components.of(
      coreIds.select(col("vec_id"), col("vec_id").as("key")).unionAll(coreEdges),
      "vec_id", "key", "dbscan").labels
    val clab = labels.select(col("vec_id").as("cv"), col("cluster").as("core_cluster"))
    // border: non-core with a core neighbor takes the min neighboring label
    val borderLab = und
      .join(clab, col("dst") === col("cv"))
      .groupBy("src").agg(min("core_cluster").as("border_cluster"))
    base
      .join(clab, col("vec_id") === col("cv"), "left")
      .join(borderLab, col("vec_id") === col("src"), "left")
      .select(col("vec_id"), col("n_neighbors"),
        when(col("core_cluster").isNotNull, lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cluster"), col("border_cluster")).as("cluster"))
      .orderBy("vec_id")
  }

  /** k-nearest-neighbor label classification with held-out probes — the
    * supervised read on the embedding space the retrieval family audits
    * geometrically ([[annRecall]]/[[ndcgAt5]]): every 50th vector is a
    * probe, excluded from the voter corpus; its 5 nearest corpus
    * neighbors by quantized cosine vote on its label; majority wins with
    * a deterministic (count desc, label asc) tie-break. High accuracy =
    * the label structure is recoverable from the geometry (so
    * label-blocked dedup and semantic clustering are trustworthy).
    *
    * Scale shape: the [[ivfServe]] shape end-to-end (VERDICT round-8
    * item 2 — the previous revision broadcast the probe set, which grows
    * WITH the corpus and OOMs executors at real scale): only the
    * centroid set broadcasts (k centroids, fixed by the quantizer, not
    * corpus-proportional); voters shuffle once on their assigned cell;
    * probes rank their 2 nearest cells and meet candidates through an
    * EQUI-join on the cell id. The top-k window and the vote aggregate
    * run per probe over ≤ 2 cells' occupancy. */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)))
    val cents = seedCentroids(n)
    // voters (probes held out) assigned to their single best cell
    val voters = n.filter(col("vec_id") % 50 =!= 0)
    val assigned = voters.join(nearestCell(voters, cents, dot), "vec_id")
    val pr = probeCells(n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("v").as("qv"), col("norm").as("qn")), cents, dot)
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    val votes = assigned.join(pr, "cid")
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
    val wVote = Window.partitionBy("qid")
      .orderBy(col("n_votes").desc, col("cand").asc)
    votes.groupBy(col("qid"), col("true_label"), col("label").as("cand"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("true_label"), col("cand").as("pred_label"),
        col("n_votes"),
        (col("cand") === col("true_label")).cast("int").as("correct"))
      .orderBy("qid")
  }

  /** IVF-style ANN: [[ivfServe]] over the deterministic seed quantizer
    * ([[seedCentroids]]) with the float [[dot]] — vectors assigned by
    * [[nearestCell]], queries probing their 2 nearest cells by
    * [[probeCells]]. All assignment ranks order by the *rounded* cosine
    * with centroid-id tie-breaks, so the partition of the corpus is
    * deterministic and oracle-reproducible. At 100 TB the centroid set
    * stays a broadcast and the corpus shuffles once on its assigned cell —
    * the standard IVF layout. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    ivfServe(n, seedCentroids(n), dot)
  }

  /** Symmetric int8 quantization audit: per vector, the max-abs scale, the
    * reconstruction MSE, and how many of the 255 levels are used — the
    * compression step an embedding store runs before ANN serving. Exploded
    * (codegen) rather than HOF (interpreted); quantization via
    * floor(x+0.5), identical IEEE arithmetic in both engines (round()'s
    * half-handling on negatives is the only engine-divergent alternative);
    * the error sum runs through DECIMAL so it is order-independent. */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val wv = Window.partitionBy("vec_id")
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .withColumn("maxabs", max(abs(col("x"))).over(wv))
      .withColumn("q", floor(col("x") * 127.0 / col("maxabs") + 0.5))
      .withColumn("err", col("x") - col("q") * col("maxabs") / 127.0)
      .groupBy("vec_id")
      .agg(
        Det.q4(max(col("maxabs"))).as("maxabs"),
        Det.q8(Det.dsumWide(col("err") * col("err")) / count(lit(1))).as("mse"),
        countDistinct(col("q")).as("n_levels"))
      .orderBy("vec_id")
  }

  /** Number of product-quantization subspaces for [[embedPq]] — the
    * 64-dim fixture splits into 8 subvectors of 8 dims. */
  private[ops] val PqM = 8

  /** Product-quantization encode + per-subspace reconstruction audit —
    * the PQ half of the production IVF-PQ ANN layout ([[annIvf]] is the
    * IVF half): each vector's M=8 subvectors are encoded as the id of
    * their nearest codebook entry, compressing a 64-float payload to M
    * small codes (8 bytes instead of 256 at serving time — at 100 TB the
    * difference between an index that fits executor memory and one that
    * doesn't). Codebooks use the same deterministic coarse sampling as
    * the IVF quantizer (every 100th vector's subvectors), so the encode
    * is a pure argmin — no training loop in the oracle. Squared L2 is
    * computed via the 3-dot identity (`⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩` — each
    * dot is the codegen'd [[graft.functions.VectorExpressions.DoubleVectorDot]]
    * whose sequential fold DuckDB's `list_dot_product` reproduces
    * bit-for-bit, and the combining ops are the same IEEE sequence in
    * both engines), floor-quantized, ties broken on codebook id.
    *
    * Scale shape: codebooks broadcast (M·k rows); the candidate stream
    * is n·M·k narrow rows reduced by a map-side-combinable min-struct
    * argmin; vectors shuffle only for the final presentation sort. */
  /** Long-form (vec_id, sub, sv) subvector frame shared by the PQ
    * encode and the ADC serve. */
  private def pqSubvectors(s: SparkSession, d: String): DataFrame =
    pqSubvectorsOf(Tables.embeddings(s, d))

  /** [[pqSubvectors]] over an arbitrary (vec_id, embedding) frame — lets
    * the streaming encode path ([[graft.streaming.Streams]]) reshape a
    * micro-batch with the identical slicing expression. */
  private[graft] def pqSubvectorsOf(embeddings: DataFrame): DataFrame = {
    val dim = 64 / PqM
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
        slice(col("v"), m * dim + 1, dim)): _*)).as(Seq("sub", "sv")))
  }

  /** PQ-encode an arbitrary embeddings frame against a codebook frame —
    * the batch-reusable encode [[graft.streaming.Streams.encodePqBatch]]
    * runs per micro-batch (the PQ half of streaming index maintenance;
    * [[graft.streaming.Streams.assignCells]] is the IVF half). */
  private[graft] def pqEncodeOf(embeddings: DataFrame, cb: DataFrame): DataFrame =
    pqCodesOf(pqSubvectorsOf(embeddings), cb)

  /** The (csub, cid, cv) codebook frame for `d`'s corpus — exposed so
    * streaming encode tests and foreachBatch wiring can build the static
    * side once. */
  private[graft] def pqCodebookFor(s: SparkSession, d: String): DataFrame =
    pqCodebook(pqSubvectors(s, d))

  /** Per-subspace codebook from the deterministic coarse sample. */
  private def pqCodebook(sv: DataFrame): DataFrame =
    sv.filter(SeedRow)
      .select(col("sub").as("csub"), col("vec_id").as("cid"), col("sv").as("cv"))

  /** Raw (unquantized) squared L2 via the 3-dot identity — the same IEEE
    * op sequence DuckDB states, on dot products that are bit-identical
    * across engines. */
  private def pqDist2(a: Column, b: Column): Column = {
    import graft.functions.VectorExpressions.doubleDot
    doubleDot(a, a) - lit(2.0) * doubleDot(a, b) + doubleDot(b, b)
  }

  def embedPq(s: SparkSession, d: String): DataFrame = {
    val sv = pqSubvectors(s, d)
    sv.join(broadcast(pqCodebook(sv)), col("sub") === col("csub"))
      .withColumn("d2", Det.q4(pqDist2(col("sv"), col("cv"))))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col("vec_id"), col("sub"),
        col("b.cid").as("code"), col("b.d2").as("dist2"))
      .orderBy("vec_id", "sub")
  }

  /** Asymmetric-distance top-k over the PQ codes — the SERVE half of
    * product quantization, and the reason the codes exist: each query
    * computes its distance to every codebook entry ONCE (an M·k lookup
    * table, floor-quantized to integer ten-thousandths so the M-term
    * sums are exact BIGINT arithmetic in both engines), then every
    * candidate's approximate distance is the sum of M table lookups
    * keyed by its codes — the 64-float dot product never happens per
    * candidate. Top-5 per query by (distance, vec_id).
    *
    * Scale shape: the LUT is queries×M×k narrow rows, broadcast; the
    * candidate stream is the CODES table (M small ints per vector, the
    * 32× compression [[embedPq]] buys), reduced by a map-side-combinable
    * sum; a production deployment composes this with [[annIvf]]'s cell
    * probe so the scan covers probed cells only — the fixture serves the
    * whole corpus to keep the oracle one clean SQL statement. */
  def pqAdc(s: SparkSession, d: String): DataFrame = {
    val sv = pqSubvectors(s, d)
    val cb = pqCodebook(sv)
    adcTopk(pqCodesOf(sv, cb), pqLutOf(sv, cb))
  }

  /** PQ code assignment (vec_id, sub, code): integer-quantized argmin over
    * the broadcast codebook — shared by [[pqAdc]] (inline) and
    * [[pqModelMaterialize]] (persisted). */
  private def pqCodesOf(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), col("sub") === col("csub"))
      .withColumn("pd",
        floor(pqDist2(col("sv"), col("cv")) * 10000 + lit(0.5)).cast("long"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("pd"), col("cid"))).as("b"))
      .select(col("vec_id"), col("sub"), col("b.cid").as("code"))

  /** Per-query integer distance LUT (qid, csub, cid, pd) against a
    * codebook frame — computed at query time in BOTH the inline and the
    * served deployment (the LUT depends on the incoming query vector; only
    * codes and codebook are index-time artifacts). */
  private def pqLutOf(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("sub").as("qsub"), col("sv").as("qv"))
      .join(broadcast(cb), col("qsub") === col("csub"))
      .select(col("qid"), col("csub"), col("cid"),
        floor(pqDist2(col("qv"), col("cv")) * 10000 + lit(0.5)).cast("long").as("pd"))

  /** ADC top-5 per query over (codes, LUT): M BIGINT lookups per
    * candidate, map-side-combinable sum, bounded rank window. */
  private def adcTopk(codes: DataFrame, lut: DataFrame): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("ad").asc, col("vec_id").asc)
    codes.join(broadcast(lut),
        col("sub") === col("csub") && col("code") === col("cid"))
      .groupBy("qid", "vec_id").agg(sum("pd").as("ad"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"),
        (col("ad").cast("double") / lit(10000.0)).as("adist"))
      .orderBy("qid", "rn")
  }

  /** Embedding hygiene audit per label — vector counts, zero-norm
    * vectors (dead encoder outputs that poison cosine math downstream),
    * and the norm distribution extrema/mean: the pre-flight check every
    * embedding ingest runs before index builds or cosine dedup (a norm
    * collapse or explosion is the first visible symptom of an encoder
    * regression).
    *
    * Determinism: each norm is sqrt of the bit-identical
    * [[graft.functions.VectorExpressions.DoubleVectorDot]] (sqrt is
    * IEEE-correctly-rounded), floor-quantized to 4 dp; min/max compare
    * identical doubles, and the mean sums the quantized norms in
    * DECIMAL(18,4) (exact, order-independent) with one final division.
    *
    * Scale shape: row-local norms, one map-side |labels|-row aggregate.
    * The corpus streams through once. */
  def embedNormAudit(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorExpressions.doubleDot
    import org.apache.spark.sql.types.DecimalType
    Tables.embeddings(s, d)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nq", Det.q4(sqrt(doubleDot(col("v"), col("v")))))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("nq") === 0.0).cast("long")).as("n_zero"),
        min("nq").as("min_norm"),
        max("nq").as("max_norm"),
        Det.q6(sum(col("nq").cast(DecimalType(18, 4))).cast("double") /
          count(lit(1)).cast("double")).as("mean_norm"))
      .orderBy("label")
  }

  /** Power-iteration passes for [[embedPca]] — fixed so the oracle can
    * unroll the same count. */
  private[ops] val PcaIters = 5

  /** First principal component of the (uncentered) embedding corpus by
    * POWER ITERATION — the dimensionality-reduction primitive behind
    * whitening, OPQ rotation estimation, and drift-direction analysis:
    * v ← normalize((XᵀX)·v), [[PcaIters]] fixed passes from e₀, plus
    * the Rayleigh-style eigenvalue estimate λ ≈ |X·(Xᵀv)| (the norm of
    * the final unnormalized iterate).
    *
    * Determinism — the [[kmeansTrain]] discipline, fully integerized:
    * every corpus reduction sums exact BIGINT micro-units (the per-term
    * products x_d·v_d and x_d·dot quantize to integers BEFORE the sum,
    * so the two big aggregations per pass are order-independent); the
    * norm squares in DECIMAL(38,0)/HUGEINT; the normalized iterate
    * re-quantizes to BIGINT ten-thousandths each pass. Between
    * quantizations only correctly-rounded elementary IEEE ops run, and
    * the DuckDB oracle unrolls the identical [[PcaIters]] passes CTE by
    * CTE.
    *
    * Scale shape: per pass, the posexploded (vec, dim, x) frame (staged
    * ONCE for all passes) aggregates to per-vector dots (map-side) and
    * back to 64 per-dim sums — ONE collect of that 64-row sum per pass
    * (bounded MODEL state, never corpus-proportional — the r14
    * markovAttribution discipline); the normalize step runs on the
    * driver in the identical exact arithmetic (decimal squares → one
    * IEEE sqrt → floor re-quantization), and the iterate re-enters the
    * next pass as a 64-long literal, so no per-pass staging jobs or
    * lineage growth exist at all. The corpus is scanned twice per pass
    * and never collected. */
  def embedPca(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = once(Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("x")))
    var vq: Array[Long] = Array.tabulate(64)(i => if (i == 0) 10000L else 0L)
    var nrm = 0.0
    for (_ <- 1 to PcaIters) {
      // same per-term quantized products as the old broadcast-join form:
      // element_at on the 64-long literal replaces the (dim ⋈ vk) join
      val vqd = element_at(typedLit(vq), col("dim") + 1)
      val dq = ex
        .groupBy("vec_id")
        .agg(sum(Det.micro(col("x") * (vqd.cast("double") / lit(10000.0)))).as("dq"))
      val sd: Array[(Int, Long)] = ex.join(dq, "vec_id")
        .groupBy("dim")
        .agg(sum(Det.micro(col("x") * (col("dq").cast("double") / lit(1000000.0)))).as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      // exact-norm step, driver-side: Σ sd² in unbounded integers (the
      // DECIMAL(38,0) sum, exactly), ONE correctly-rounded sqrt after the
      // same exact-integer → double cast Spark's decimal→double performs,
      // then the identical floor re-quantization
      nrm = math.sqrt(
        new java.math.BigDecimal(
          sd.map(t => BigInt(t._2) * BigInt(t._2)).sum.bigInteger)
          .doubleValue)
      val next = Array.fill(64)(0L)
      sd.foreach { case (dim, s0) =>
        next(dim) = math.floor(s0.toDouble / nrm * 10000 + 0.5).toLong
      }
      vq = next
    }
    vq.zipWithIndex.map { case (v, dim) => (dim, v) }.toSeq
      .toDF("dim", "vq")
      .select(col("dim"),
        (col("vq").cast("double") / lit(10000.0)).as("loading"),
        Det.q6(lit(nrm) / lit(1000000.0)).as("lambda"))
      .orderBy("dim")
  }

  /** ADC shortlist size for [[pqRerank]] — wide enough that the exact
    * re-rank recovers most true neighbors the quantized scan misranked,
    * small enough that the exact dot products stay a rounding error of
    * the serve cost. */
  private[ops] val RerankC = 20

  /** ADC-shortlist → exact re-rank, the final rung of the serving
    * ladder: [[pqAdc]]'s integer LUT scan produces a top-[[RerankC]]
    * shortlist per query, and only those candidates get a true
    * float-vector cosine ([[cosineTopk]]'s discipline) before the final
    * top-5. This is the standard production recipe — quantized distance
    * for the scan, exact distance for the podium — and it closes the
    * accuracy ladder: exact ≥ rerank ≥ ADC by construction (asserted as
    * a recall law in the spec).
    *
    * Determinism inherits both parents: the shortlist is the exact
    * integer ADC arithmetic with (ad, vec_id) tie-break; the re-rank is
    * the 4-dp floor-quantized cosine with (cos desc, vec_id) tie-break; the
    * oracle composes the two queries' own oracle CTEs verbatim.
    *
    * Scale shape: the corpus is scanned once as CODES (the 32×
    * compression) for the shortlist; full float vectors are touched only
    * for the queries×[[RerankC]] shortlist rows, which broadcast back
    * onto the corpus scan — the expensive exact dot never runs
    * per-candidate. */
  def pqRerank(s: SparkSession, d: String): DataFrame = {
    val sv = pqSubvectors(s, d)
    val cb = pqCodebook(sv)
    val wAdc = Window.partitionBy("qid").orderBy(col("ad").asc, col("vec_id").asc)
    val short = pqCodesOf(sv, cb)
      .join(broadcast(pqLutOf(sv, cb)),
        col("sub") === col("csub") && col("code") === col("cid"))
      .groupBy("qid", "vec_id").agg(sum("pd").as("ad"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("crn", row_number().over(wAdc))
      .filter(col("crn") <= RerankC)
      .select(col("qid"), col("vec_id"))
    val n = once(withNorm(Tables.embeddings(s, d)))
    val q = n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("pqid"), col("v").as("qv"), col("norm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    n.join(broadcast(short), "vec_id")
      .join(broadcast(q), col("qid") === col("pqid"))
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("qid", "rn")
  }

  /** Version tag for [[pqModelMaterialize]] — bump when the encode or the
    * materialized schema changes, so codes written by older code are
    * never served. */
  private val PqModelVersion = "v1"

  /** Encode-once: persist the PQ index artifacts — the codebook (M·k rows,
    * coalesced to one file) and the CODES table (M small ints per vector,
    * the 32× payload compression) — via [[graft.util.Served]] (VERDICT
    * r11 item 4: one copy of the fingerprint/atomic-publish plumbing),
    * mirroring [[ivfModelMaterialize]]. */
  def pqModelMaterialize(s: SparkSession, d: String): String =
    graft.util.Served.dir(s, "pq_model", PqModelVersion, d,
      Seq("embeddings.parquet")) { runDir =>
      val sv = pqSubvectors(s, d)
      val cb = pqCodebook(sv)
      cb.coalesce(1).write.mode("overwrite").parquet(s"$runDir/codebook")
      pqCodesOf(sv, cb).write.mode("overwrite").parquet(s"$runDir/codes")
    }

  /** ADC serve from the MATERIALIZED PQ index — the encode-once/serve-many
    * split of [[pqAdc]], completing the serving story [[annIvfServed]]
    * started: at 100 TB the codes and codebook are index-time artifacts
    * read from storage; a serving query touches the raw 64-float vectors
    * only for ITSELF (its LUT), never per candidate. The serve plan
    * contains ZERO encode lineage — codes enter as a parquet scan of M
    * ints per vector, the codebook as an M·k-row scan feeding the
    * broadcast LUT. Results are bit-identical to [[pqAdc]] (same oracle):
    * the encode is deterministic and both artifacts are integers/exact
    * doubles that round-trip parquet. */
  def pqAdcServed(s: SparkSession, d: String): DataFrame = {
    val runDir = pqModelMaterialize(s, d)
    val cb = Tables.parquet(s, s"$runDir/codebook")
    val codes = Tables.parquet(s, s"$runDir/codes")
    adcTopk(codes, pqLutOf(pqSubvectors(s, d), cb))
  }

  /** Clustering-quality purity audit — [[annRecall]]'s companion on the
    * OTHER index axis: recall audits the scoring (do approximate
    * distances find the true neighbors?), purity audits the PARTITIONING
    * (do the coarse cells group semantically-alike vectors?). Each
    * vector joins its nearest coarse centroid ([[nearestCell]] over the
    * [[seedCentroids]] quantizer, carrying its label); per
    * cell: vector count, distinct labels, the majority label
    * (count-desc, label-asc tie-break) and its floor-quantized share. A
    * purity collapse after a re-ingest is the signal to retrain the
    * quantizer — this is the query that watches for it, and the fixture
    * labels make it oracle-checkable end-to-end.
    *
    * Scale shape: the corpus meets only the broadcast centroid set; the
    * argmax is map-side combinable over narrow (vec_id, ccos, cid) rows;
    * everything after is |cells|·|labels|-bounded. */
  def clusterPurity(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)))
    val asg = nearestCell(n, seedCentroids(n), dot, carry = Seq("label"))
    val cl = asg.groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
    cl.groupBy("cid")
      .agg(sum("cnt").as("n_vecs"), count(lit(1)).as("n_labels"),
        max(struct(col("cnt"), (-col("label")).as("neglab"))).as("m"))
      .select(col("cid"), col("n_vecs"), col("n_labels"),
        (-col("m.neglab")).as("majority_label"), col("m.cnt").as("maj_n"),
        (floor(col("m.cnt").cast("double") / col("n_vecs") * 10000 + lit(0.5)) / 10000)
          .as("purity"))
      .orderBy("cid")
  }

  /** Index-quality recall audit — the measurement a production ANN
    * deployment runs before trusting its approximate index: per probe,
    * how many of the PQ/ADC top-5 ([[pqAdc]]) appear in the EXACT
    * cosine top-5 ([[cosineTopk]] truncated to rank ≤ 5)?
    * recall@5 = hits/5. Both legs are the contract's own oracled
    * queries, so the audit's ground truth is itself cross-engine
    * verified; the oracle SQL embeds those two queries' oracle texts
    * verbatim as CTEs (single-sourced — the audit cannot drift from
    * what it audits).
    *
    * Scale shape: both legs end at probes×k narrow rows, so the audit
    * join is trivially broadcastable regardless of corpus size — the
    * expensive exact leg is the piece a 100 TB deployment runs on a
    * SAMPLE of probes, which is exactly what the `% 50` probe rule is. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val exact = cosineTopk(s, d).filter(col("rn") <= 5)
      .select(col("qid").as("eqid"), col("vec_id").as("evid"), lit(1L).as("hit"))
    pqAdc(s, d).select(col("qid"), col("vec_id"))
      .join(broadcast(exact),
        col("qid") === col("eqid") && col("vec_id") === col("evid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / lit(5.0)).as("recall"))
      .orderBy("qid")
  }

  /** The composed IVF-PQ serve — the production ANN layout whole:
    * queries probe their 2 nearest coarse cells ([[seedCentroids]],
    * [[nearestCell]] and [[probeCells]]), and the candidates inside
    * probed cells are scored by ASYMMETRIC DISTANCE over their PQ codes
    * ([[pqAdc]]'s integer lookup tables) instead of exact dot products.
    * This is what a 100 TB ANN service actually executes: the coarse
    * probe bounds the scan to probes/k of the corpus, and inside the
    * scan each candidate costs M BIGINT lookups against an 8-byte code
    * row — the full-precision vectors never leave storage. The exact
    * [[cosineTopk]], cell-probed [[annIvf]], and whole-corpus
    * [[pqAdc]] queries are this layout's accuracy ladder, all four
    * oracled on the same fixture.
    *
    * Scale shape: centroids and per-query LUTs broadcast; the corpus
    * shuffles once on its assigned cell and once on vec_id to meet its
    * codes; every aggregate is map-side combinable. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    val cents = seedCentroids(n)
    val sv = pqSubvectors(s, d)
    val cb = pqCodebook(sv)
    ivfPqScore(
      ivfPqCellsOf(n, cents),
      ivfPqProbesOf(n, cents),
      pqCodesOf(sv, cb),
      ivfPqLutOf(sv, cb))
  }

  /** Corpus cell assignment (vec_id, cell) — the INVERTED LISTS of the
    * IVF-PQ index; an index-time artifact ([[ivfPqModelMaterialize]]). */
  private def ivfPqCellsOf(n: DataFrame, cents: DataFrame): DataFrame =
    nearestCell(n, cents, dot).select(col("vec_id"), col("cid").as("cell"))

  /** Per-query 2-nearest-cell probes (qid, cell) — query-time, computed
    * against the (materialized or inline) centroid frame. */
  private def ivfPqProbesOf(n: DataFrame, cents: DataFrame): DataFrame =
    probeCells(n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn")), cents, dot)
      .select(col("qid"), col("cid").as("cell"))

  /** [[pqLutOf]] with the IVF-PQ join-side column names. */
  private def ivfPqLutOf(sv: DataFrame, cb: DataFrame): DataFrame =
    pqLutOf(sv, cb)
      .select(col("qid").as("lqid"), col("csub").as("lsub"), col("cid"), col("pd"))

  /** Cell-probed ADC scoring: candidates from the inverted lists ×
    * broadcast probes, distances as M BIGINT LUT lookups, top-5 per
    * query — the serve block shared by [[annIvfPq]] (inline) and
    * [[annIvfPqServed]] (from artifacts). */
  private def ivfPqScore(assigned: DataFrame, probes: DataFrame,
                         codes: DataFrame, lut: DataFrame): DataFrame = {
    val cand = assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val w = Window.partitionBy("qid").orderBy(col("ad").asc, col("vec_id").asc)
    cand.join(codes, "vec_id")
      .join(broadcast(lut),
        col("qid") === col("lqid") && col("sub") === col("lsub") &&
        col("code") === col("cid"))
      .groupBy("qid", "vec_id").agg(sum("pd").as("ad"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"),
        (col("ad").cast("double") / lit(10000.0)).as("adist"))
      .orderBy("qid", "rn")
  }

  /** Version tag for [[ivfPqModelMaterialize]]. */
  private val IvfPqModelVersion = "v1"

  /** Index-once: persist ALL FOUR IVF-PQ artifacts — centroids (k rows),
    * inverted lists (vec_id → cell), PQ codebook (M·k rows), and the
    * CODES table — via [[graft.util.Served]]. This is the full index
    * build a 100 TB deployment runs once per corpus snapshot. */
  def ivfPqModelMaterialize(s: SparkSession, d: String): String =
    graft.util.Served.dir(s, "ivfpq_model", IvfPqModelVersion, d,
      Seq("embeddings.parquet")) { runDir =>
      val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
      val cents = seedCentroids(n)
      val sv = pqSubvectors(s, d)
      val cb = pqCodebook(sv)
      // the v1 artifact keeps its first-published column names
      cents.toDF("ccid", "ccv", "ccn").coalesce(1)
        .write.mode("overwrite").parquet(s"$runDir/centroids")
      ivfPqCellsOf(n, cents).write.mode("overwrite").parquet(s"$runDir/cells")
      cb.coalesce(1).write.mode("overwrite").parquet(s"$runDir/codebook")
      pqCodesOf(sv, cb).write.mode("overwrite").parquet(s"$runDir/codes")
    }

  /** The composed IVF-PQ serve FROM ARTIFACTS — what the ANN service's
    * query path actually executes at 100 TB: centroids, inverted lists,
    * codebook, and codes all enter as parquet scans of index-time
    * artifacts; the only work touching raw vectors is the QUERY's own
    * probe cosines and LUT. Zero assignment lineage, zero encode lineage
    * (plan-pinned); bit-identical to [[annIvfPq]] (deterministic
    * index build, exact parquet round-trip), so it shares the oracle —
    * the third rung of the serve ladder after [[annIvfServed]] and
    * [[pqAdcServed]]. */
  def annIvfPqServed(s: SparkSession, d: String): DataFrame = {
    val runDir = ivfPqModelMaterialize(s, d)
    val nq = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    ivfPqScore(
      Tables.parquet(s, s"$runDir/cells"),
      ivfPqProbesOf(nq, Tables.parquet(s, s"$runDir/centroids").toDF("cid", "cv", "cn")),
      Tables.parquet(s, s"$runDir/codes"),
      ivfPqLutOf(pqSubvectors(s, d), Tables.parquet(s, s"$runDir/codebook")))
  }

  /** SemDeDup-style semantic dedup: connected components over the
    * [[embedNeardup]] similarity pairs, min-id label per component —
    * near-duplicates by MEANING (embedding cosine) rather than by
    * surface n-grams, the companion to [[Dedup.dedupClusters]] on the
    * vector side.
    *
    * Scale: edges come from the blocked similarity join (never
    * all-pairs); [[graft.util.Components.of]] shuffles only (id, key)
    * pairs, and its label rounds run only across union-find partitions. */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticComponents(s, d, once(embedNeardup(s, d).select("id1", "id2")))

  /** The components behind [[semanticDedup]], over an already-STAGED
    * (id1, id2) pair frame — shared with [[Dedup.familyFlags]] so a flag
    * query generates the banded candidate pairs ONCE and derives both the
    * semantic components and the direct near-dup flag from the same
    * materialized frame. Every embedding vec_id is a vertex. */
  private[ops] def semanticComponents(
      s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    graft.util.Components.of(
      Tables.embeddings(s, d).select(col("vec_id"), col("vec_id").as("key"))
        .unionAll(pairs.select(col("id2").as("vec_id"), col("id1").as("key"))),
      "vec_id", "key", "semantic").labels
      // a one-partition union-find's root is NOT NULL; the published
      // schema keeps the nullable cluster of the label-join formulation
      .select(col("vec_id"),
        Bridge.column(KnownNullable(Bridge.expression(col("cluster")))).as("cluster"))
      .withColumn("is_dup", (col("cluster") < col("vec_id")).cast("int"))
      .orderBy("vec_id")
  }

  /** One Lloyd (k-means) update step for the [[annIvf]] coarse quantizer:
    * assign every vector to its cell by [[nearestCell]], then emit the
    * recomputed centroid matrix long-form — (cell, dim, mean, member
    * count) — the iteration a
    * pipeline runs to TRAIN the quantizer it serves ANN from.
    *
    * Scale: centroids broadcast into [[nearestCell]]; the mean recompute
    * shuffles (cell, dim, partial decimal sum) — 64·k cells of state regardless of
    * corpus size, and the decimal sum makes the means bit-stable under
    * any partitioning. */
  def kmeansStep(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    val members = n
      .join(nearestCell(n, seedCentroids(n), dot).select("vec_id", "cid"), "vec_id")
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
    members
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n_members"),
        Det.q4(Det.davg(col("x"))).as("dim_mean"))
      .select(col("cid"), col("dim"), col("dim_mean"), col("n_members"))
      .orderBy("cid", "dim")
  }

  /** Hard cap on Lloyd passes for [[kmeansTrain]] — bounds work on any
    * input AND sizes the oracle's unroll (parity needs the same step
    * count when the loop does not converge early). */
  private val KmIters = 6

  /** Lloyd iteration to convergence for the [[annIvf]] coarse quantizer
    * (VERDICT round-4 item 8): repeat [[kmeansStep]]'s
    * assign-then-recompute until the ASSIGNMENT is a fixpoint (the
    * classic Lloyd stop — once no vector changes cell, the means are
    * bit-identical thereafter) or [[KmIters]] passes, whichever first.
    *
    * Oracle parity without oracle-side control flow: the DuckDB oracle
    * unrolls exactly KmIters steps; a converged step is an EXACT no-op
    * (same assignment ⇒ same decimal means ⇒ same centroids), so early
    * stop here and full unroll there reach the same matrix whether
    * convergence happens at pass 2 or never. Every derived quantity is
    * floor-quantized (`floor(x·10⁴+0.5)/10⁴`) because iteration
    * compounds any cross-engine round() tie-break divergence.
    *
    * Scale: the [[Graph.pagerank]] loop shape — per-pass state is
    * (vector→cell) labels and the 64·k long-form centroid matrix, both
    * `Ckpt`-staged so the lineage doesn't grow with passes; the corpus is
    * scanned once per pass, never collected; the one driver-side scalar
    * per pass is the 1-row changed-assignment count (the loop
    * condition). */
  def kmeansTrain(s: SparkSession, d: String): DataFrame =
    kmeansTrainFrom(kmeansCorpus(s, d))

  /** The staged double-cast normalized corpus both training and the
    * trained-serve path read — built once per query so the composed
    * [[annIvfTrained]] does not scan and stage it twice. */
  private def kmeansCorpus(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorExpressions.doubleDot
    // stays on `once` (localCheckpoint), NOT `keep`: InMemoryRelation's
    // columnar encoding of the 64-double array column costs more to
    // build/decode than the row-copy localCheckpoint (measured r14:
    // keep here regressed q_dbscan 4.7 → 7.4 s) — array-bearing frames
    // cache badly, narrow scalar frames cache well
    once(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(doubleDot(col("v"), col("v")))))
  }

  /** Long-form (cid, dim, dim_mean) means reshaped to list-form centroids
    * with norms — the ONE definition of the reshape all three consumers
    * (training loop, convergence loop, trained-IVF serve) share, so a
    * future change to the ordering or quantization discipline cannot
    * desynchronize them from each other or from the unrolled oracle. */
  private def centroidList(means: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.doubleDot
    means.groupBy("cid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("dim_mean")))),
        t => t.getField("dim_mean")).as("cv"))
      .withColumn("cn", sqrt(doubleDot(col("cv"), col("cv"))))
  }

  /** THE Lloyd loop — the single implementation behind [[kmeansTrain]]
    * and [[kmeansConvergence]]: assignment-argmax, fixpoint early stop,
    * per-pass mean recompute. Returns the final long-form means AND the
    * per-pass changed-assignment counts (passes after convergence padded
    * with exact-no-op zeros). Everything is lazily composed: the means of
    * the final pass only execute if the caller consumes them, and the
    * convergence counts are the loop's own stop condition, so neither
    * caller pays for the other's output. */
  private def lloydRun(n: DataFrame): (DataFrame, Seq[(Int, Long)]) = {
    // Per-pass job structure (r14, guide §1.2/§3): each pass stages the
    // assignment (which folds in last pass's cid as `pcid`, so the
    // convergence count is a filter over the staged blocks instead of a
    // separate join) and counts it. Under AQE every shuffle and broadcast
    // stage of those is its own job: `q_kmeans_train` runs 59 jobs over
    // its 6 passes at sf0.001, about 10 per pass (`JobBudgetSpec`).
    // NOTE (r14 continuation, measured): do NOT replace the broadcast
    // centroids with per-pass typedLit centroid literals + a row-local
    // greatest() argmax. Two variants were built and benchmarked at
    // sf0.1/32c: (a) literals + posexplode means — 32 s/pass, because
    // Generate re-evaluates the projected assignment expressions once
    // per GENERATED row; (b) literals + 64 per-dim decimal-sum aggregate
    // columns (no explode) — still ~1.4 s/pass vs 0.35 s here, because
    // every pass builds a FRESH value-bearing expression tree that pays
    // planning/codegen anew, while the broadcast relation keeps centroid
    // values out of the plan so per-pass plans stay identical. The
    // means recompute joins the corpus on the UN-exploded key and
    // explodes after (`q_kmeans_step`'s shape; guide §3 "join first on
    // the un-exploded key and explode after"): the per-pass join moves
    // the same bytes as the old pre-exploded staged frame but 64× fewer
    // rows, and the up-front 64×-row staging job disappears. (r13's
    // pre-exploded `ex` existed to keep vectors off per-pass exchanges,
    // but its (vec_id,dim,x) rows carry the same payload bytes anyway —
    // and its staged partitioning was erased by the checkpoint, so every
    // pass re-exchanged AND re-sorted the 64×-row frame.)
    var cents = seedCentroids(n)
    var prevAsg: DataFrame = null
    var means: DataFrame = null
    var converged = false
    val changes = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    // not util.Fixpoint: KmIters is the oracle unroll's length; unconverged means are its output
    for (i <- 1 to KmIters) {
      if (converged) {
        changes += ((i, 0L))
      } else {
        val t0 = System.nanoTime()
        val asgNew = nearestCell(n, cents, doubleDot).select("vec_id", "cid")
        val asg = once(
          if (prevAsg == null) asgNew
          else asgNew.join(prevAsg.select(col("vec_id"), col("cid").as("pcid")),
            "vec_id"))
        if (prevAsg != null) {
          // shuffle-free: one filtered scan over the just-staged blocks
          val chg = asg.filter(col("cid") =!= col("pcid")).count()
          changes += ((i, chg))
          converged = chg == 0
          // per-pass evidence on stderr (VERDICT r9 item 2): if a bench
          // environment ever slows this loop again, the pass count,
          // convergence trajectory, and per-pass wall are in its log
          System.err.println(f"[kmeans] pass $i%d changed=$chg%d " +
            f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
        } else {
          System.err.println(f"[kmeans] pass $i%d (initial) " +
            f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        if (!converged) {
          // not staged: one consumer per pass (cents) — the final pass's
          // output re-derives from the STAGED asg and the staged corpus,
          // so nothing recomputes the corpus scan either way
          means = n.join(asg.select("vec_id", "cid"), "vec_id")
            .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
            .groupBy("cid", "dim")
            .agg(count(lit(1)).as("n_members"),
              Det.q4(Det.davg(col("x"))).as("dim_mean"))
          cents = centroidList(means)
          prevAsg = asg
        }
      }
    }
    (means.select(col("cid"), col("dim"), col("dim_mean"), col("n_members"))
      .orderBy("cid", "dim"), changes.toSeq)
  }

  private def kmeansTrainFrom(n: DataFrame): DataFrame = lloydRun(n)._1

  /** Lloyd-loop convergence trace: for each pass i ∈ 2..[[KmIters]], how
    * many vectors changed cell between assignment i−1 and i — the
    * convergence observability a quantizer-training pipeline monitors,
    * and (because the DuckDB oracle recomputes every per-pass diff from
    * its own unrolled chain) a cross-engine proof that the ITERATION
    * STATE matches at every step, not just the final matrix. Once a pass
    * reports 0 the loop is a fixpoint and later passes are emitted as 0
    * without computation (the same exact-no-op argument as
    * [[kmeansTrain]]). */
  def kmeansConvergence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lloydRun(kmeansCorpus(s, d))._2
      .toDF("pass", "n_changed").orderBy("pass")
  }

  /** Total sample budget for [[clusterSample]]. */
  private val ClusterSampleK = 200

  /** Cluster-balanced corpus sampling — stratified selection where the
    * strata are LEARNED (the quantizer's cells) instead of a metadata
    * column: the diversity-balancing step a curation pipeline runs when
    * one topic dominates the crawl (proportional sampling reproduces the
    * imbalance; equal-per-cell sampling flattens it). Each vector is
    * assigned to its cell by [[nearestCell]], the total budget
    * K = [[ClusterSampleK]] is split into EQUAL per-cell quotas by
    * largest remainder (extras to the largest cells first, cid
    * tie-break; a cell smaller than its quota yields all members), and
    * each cell fills its quota in deterministic
    * md5 order — the [[graft.ops.TrainingPrep]] split-hash discipline, so
    * the sample is stable across runs, partitionings, and appends.
    *
    * Determinism: assignment ranks by the floor-quantized cosine with a
    * cid tie-break; quotas are pure BIGINT largest-remainder arithmetic;
    * within-cell order is (md5(salt‖vec_id), vec_id) — all engine-free.
    *
    * Scale shape: centroids broadcast onto one corpus scan (the IVF
    * assignment layout); per-cell ranking partitions by cid; the quota
    * frame is one row per quantizer CELL — model state, k ≪ corpus —
    * broadcast back onto the ranked scan. The only unpartitioned window
    * ranks that k-row model frame, never corpus rows. */
  def clusterSample(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    val asg = once(nearestCell(n, seedCentroids(n), dot).select("vec_id", "cid"))
    val sizes = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
    val nc = sizes.agg(count(lit(1)).as("nc"))
    // one row per quantizer cell (model state, k << corpus)
    val wq = Window.orderBy(col("n_members").desc, col("cid").asc)
    val quotas = sizes.crossJoin(broadcast(nc))
      .withColumn("rr", row_number().over(wq))
      .withColumn("quota", least(
        expr(s"$ClusterSampleK div nc") +
          (col("rr") <= expr(s"$ClusterSampleK % nc")).cast("long"),
        col("n_members")))
      .select("cid", "n_members", "quota")
    val wr = Window.partitionBy("cid")
      .orderBy(md5(concat(lit("csample:"), col("vec_id").cast("string"))),
        col("vec_id"))
    asg.withColumn("pick_rank", row_number().over(wr))
      .join(broadcast(quotas), "cid")
      .filter(col("pick_rank") <= col("quota"))
      .select(col("cid"), col("n_members"), col("quota"),
        col("pick_rank"), col("vec_id"))
      .orderBy("cid", "pick_rank")
  }

  /** Outlier margin for [[embedOutliers]], in 10⁻⁴ cosine units: a
    * vector is flagged when its assigned-centroid cosine sits more than
    * this far below its cell's mean. */
  private val OutlierMarginQ4 = 1000L

  /** Embedding-space outlier gate — the vector-side data-cleaning pass a
    * curation pipeline runs before clustering-based selection: a
    * mis-embedded / off-manifold document sits unusually FAR from even
    * its best-matching quantizer centroid, so it is flagged when its
    * assigned-cell cosine falls more than [[OutlierMarginQ4]]·10⁻⁴ below
    * the cell mean. The scalar-column twin is `q_anomaly_filter`; this
    * one watches the embedding column, where scalar monitors are blind.
    *
    * Determinism: the assigned cosine is the floor-quantized argmax
    * (cid tie-break); each quantized cosine recovers its exact integer
    * c = cos·10⁴; the flag test `c·n < Σc − margin·n` is pure BIGINT (no
    * mean is ever materialized as a rounded double); the reported cell
    * mean is ONE IEEE division of exact integers.
    *
    * Scale shape: centroids broadcast onto one corpus scan (the IVF
    * assignment layout); cell stats are a k-row map-side-combined
    * aggregate broadcast back onto the assignment frame. No window, no
    * self-join; the corpus is scanned once. */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)).select("vec_id", "v", "norm"))
    val asg = once(nearestCell(n, seedCentroids(n), dot)
      .withColumn("ci", floor(col("ccos") * 10000 + lit(0.5)).cast("long")))
    val stats = asg.groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum("ci").as("sc"))
    asg.join(broadcast(stats), "cid")
      .filter(col("ci") * col("n_members") <
        col("sc") - lit(OutlierMarginQ4) * col("n_members"))
      .select(col("vec_id"), col("cid"), col("ccos").as("cos"),
        col("n_members"),
        (col("sc").cast("double") / (col("n_members") * 10000).cast("double"))
          .as("cell_mean"))
      .orderBy("vec_id")
  }

  /** IVF search served from the TRAINED quantizer — the train→serve
    * composition a real ANN deployment runs ([[kmeansTrain]] produces the
    * coarse centroids, then the [[annIvf]] search shape probes them).
    * Everything downstream of training uses [[DoubleVectorDot]] and
    * floor-quantized cosines, inheriting the training loop's parity
    * discipline; the plan is the IVF layout — centroids broadcast, corpus
    * shuffled once on its assigned cell. */
  def annIvfTrained(s: SparkSession, d: String): DataFrame = {
    val n = kmeansCorpus(s, d)
    ivfServe(n, once(centroidList(kmeansTrainFrom(n))), doubleDot)
  }

  /** The IVF SERVE shape — the one implementation behind the seed-quantizer
    * [[annIvf]], the composed [[annIvfTrained]] and the materialized-model
    * [[annIvfServed]]: centroids broadcast into [[nearestCell]], corpus
    * shuffled once on its assigned cell, queries probe their 2 nearest
    * cells by [[probeCells]]. `dot` is each caller's oracle parity: the
    * float [[dot]] for annIvf, [[graft.functions.VectorExpressions.doubleDot]]
    * for the trained quantizer (the training loop's discipline), so each
    * reproduces its own oracle. */
  private def ivfServe(n: DataFrame, cents: DataFrame,
                       dot: (Column, Column) => Column): DataFrame = {
    val assigned = n.join(nearestCell(n, cents, dot), "vec_id")
      .select(col("vec_id"), col("v"), col("norm"), col("cid"))
    val probes = probeCells(n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn")), cents, dot)
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("qid", "rn")
  }

  /** Version tag baked into [[ivfModelMaterialize]] — bump whenever the training
    * loop or the materialized schema changes, so a model written by older
    * code is never served. */
  private val IvfModelVersion = "v1"

  /** Train-once: if no completed model run exists for this dataset, run
    * the Lloyd loop and persist the trained coarse quantizer — list-form
    * (cid, cv, cn) centroids, ready to broadcast — via
    * [[graft.util.Served]] (content-fingerprinted key, atomic publish;
    * a version bump invalidates every dataset's model at once). Returns
    * the run dir to serve from. Training is deterministic
    * (q_kmeans_train is oracled cell-exact), so WHICH run produced the
    * model never changes served results. */
  def ivfModelMaterialize(s: SparkSession, d: String): String =
    graft.util.Served.dir(s, "ivf_model", IvfModelVersion, d,
      Seq("embeddings.parquet")) { runDir =>
      centroidList(kmeansTrainFrom(kmeansCorpus(s, d)))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$runDir/centroids")
    }

  /** IVF search served from the MATERIALIZED quantizer — the
    * train-once/serve-many split [[annIvfTrained]]'s inline composition
    * deliberately does not have: at 100 TB you train the coarse quantizer
    * once, store it, and every serving query reads k centroid rows from
    * storage instead of re-running six Lloyd passes over the corpus. The
    * serving plan contains ZERO training lineage — centroids enter as a
    * k-row parquet scan and broadcast (plan-pinned in PlanBudgetSpec at a
    * fraction of the composed query's exchange budget); results are
    * bit-identical to [[annIvfTrained]] because training is deterministic
    * and the doubles round-trip parquet exactly. */
  def annIvfServed(s: SparkSession, d: String): DataFrame = {
    val runDir = ivfModelMaterialize(s, d)
    ivfServe(kmeansCorpus(s, d), Tables.parquet(s, s"$runDir/centroids"), doubleDot)
  }

  /** Selection depth and relevance weight for [[mmrSelect]]. λ = 0.7 is
    * the standard MMR relevance/diversity mix; exact decimal literals so
    * the score arithmetic never leaves the decimal domain. */
  private val MmrK = 5
  private val MmrL7 = lit(new java.math.BigDecimal("0.7"))
  private val MmrL3 = lit(new java.math.BigDecimal("0.3"))

  /** Retrieval-set size for [[mmrSelect]]: MMR re-ranks the top-C
    * candidates by relevance, so the selection rounds run on a
    * probes × C frame no matter how large the corpus is. */
  private val MmrC = 50

  /** Maximal Marginal Relevance: for each probe, select [[MmrK]] results
    * that trade off relevance to the probe against redundancy with what is
    * already selected — argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) per
    * round. The diverse-sampling primitive of RAG re-ranking and
    * training-set selection (pick informative AND non-duplicative docs) —
    * the selection-side complement of SemDeDup's removal-side clustering.
    *
    * Determinism: rel and every pairwise sim are 4-dp-quantized into
    * DECIMAL(8,4) on creation ([[cosineTopk]]'s cosine discipline); the
    * MMR score 0.7·rel − 0.3·ms is exact decimal arithmetic on that grid,
    * so the per-round argmax (score desc, vec_id asc) is engine-exact.
    * The oracle is the same K rounds unrolled as chained CTEs — every
    * round's pick is cross-engine-checked, the [[kmeansTrain]] pattern.
    *
    * Scale shape: retrieve-then-rerank, the production MMR deployment.
    * MMR never runs over the corpus — it re-ranks a RETRIEVAL SET: one
    * relevance pass (the [[cosineTopk]] shape) keeps the top-[[MmrC]]
    * candidates per probe, and the K selection rounds then operate on a
    * probes × C frame whose size is independent of corpus scale. Each
    * round scores that bounded frame in place (staged so lineage stays
    * flat), takes top-1 per probe with one bounded window, and broadcasts
    * the pick frame back to update running max-sims. The corpus is
    * scanned once and never self-joins.
    */
  def mmrSelect(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def q4d(c: Column) = Det.q4(c).cast(DecimalType(8, 4))
    val base = once(withNorm(Tables.embeddings(s, d)))
    val probes = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val wr = Window.partitionBy("qid").orderBy(col("rel").desc, col("vec_id").asc)
    var cand = once(base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("v"), col("norm"),
        q4d(dot(col("v"), col("qv")) / (col("norm") * col("qn"))).as("rel"))
      .withColumn("rr", row_number().over(wr))
      .filter(col("rr") <= MmrC)
      .drop("rr")
      .withColumn("ms", lit(java.math.BigDecimal.ZERO).cast(DecimalType(8, 4))))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
    var out: Option[DataFrame] = None
    for (i <- 1 to MmrK) {
      val pick = once(cand
        .withColumn("score", MmrL7 * col("rel") - MmrL3 * col("ms"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn"))
      val res = pick.select(col("qid"), lit(i).as("rank"), col("vec_id"),
        col("rel").cast("double").as("rel"), col("score").cast("double").as("score"))
      out = Some(out.map(_.union(res)).getOrElse(res))
      if (i < MmrK)
        cand = once(cand.join(
            broadcast(pick.select(col("qid").as("pq"), col("vec_id").as("pid"),
              col("v").as("pv"), col("norm").as("pn"))),
            col("qid") === col("pq") && col("vec_id") =!= col("pid"))
          .withColumn("ms",
            greatest(col("ms"), q4d(dot(col("v"), col("pv")) / (col("norm") * col("pn")))))
          .drop("pq", "pid", "pv", "pn"))
    }
    out.get.orderBy("qid", "rank")
  }

  /** Number of greedy picks for [[kcenterInit]]. */
  private val KcK = 8

  /** Greedy k-center selection (farthest-first traversal): seed at the
    * deterministic vec 0, then [[KcK]] rounds each pick the point FARTHEST
    * from every center chosen so far (max-min cosine distance). The
    * 2-approximation coreset sampler — diverse subset selection for
    * training-data curation, and the classic k-means++/quantizer seeding
    * discipline ([[kmeansTrain]] currently seeds from a hash sample; this
    * is the principled alternative a user composes in front of it).
    *
    * Determinism: distances are 1 − cos with the cosine 4-dp-quantized
    * into DECIMAL(8,4) on creation, running minima stay in DECIMAL, and
    * every round's argmax tie-breaks on vec_id — engine-exact against a
    * K-round unrolled CTE oracle (the [[mmrSelect]] pattern with max-min
    * in place of score).
    *
    * Scale shape: K linear passes over a narrow (vec_id, v, norm, mind)
    * frame — no self-join, no per-probe multiplier. Each round is one
    * broadcast of the 1-row pick, one map to update running minima
    * (staged so lineage stays flat), and one global top-1
    * (TakeOrderedAndProject, never a full sort). */
  def kcenterInit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def distTo(v: Column, n: Column, pv: Column, pn: Column): Column =
      (lit(1.0) - Det.q4(dot(v, pv) / (n * pn))).cast(DecimalType(8, 4))
    val base = once(withNorm(Tables.embeddings(s, d)))
    val seed = base.filter(col("vec_id") === 0)
      .select(col("vec_id").as("pid"), col("v").as("pv"), col("norm").as("pn"))
    var cand = once(base.crossJoin(broadcast(seed))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("vec_id"), col("v"), col("norm"),
        distTo(col("v"), col("norm"), col("pv"), col("pn")).as("mind")))
    var out: Option[DataFrame] = None
    for (i <- 1 to KcK) {
      val pick = once(cand.orderBy(col("mind").desc, col("vec_id").asc).limit(1))
      val res = pick.select(lit(i).as("rank"), col("vec_id"),
        col("mind").cast("double").as("d_min"))
      out = Some(out.map(_.union(res)).getOrElse(res))
      if (i < KcK)
        cand = once(cand.crossJoin(broadcast(
            pick.select(col("vec_id").as("pid"), col("v").as("pv"), col("norm").as("pn"))))
          .filter(col("vec_id") =!= col("pid"))
          .withColumn("mind",
            least(col("mind"), distTo(col("v"), col("norm"), col("pv"), col("pn"))))
          .drop("pid", "pv", "pn"))
    }
    out.get.orderBy("rank")
  }

  /** Simplified (centroid-based) silhouette score per label over the
    * embedding corpus — the clustering-quality audit that answers "do
    * the labels actually separate in embedding space?" before they are
    * used for stratified sampling or mix balancing. Per point,
    * a = distance to its OWN label centroid, b = distance to the nearest
    * OTHER centroid, s = (b−a)/max(a,b); reported as the per-label mean
    * (the medoid-free variant — the classic all-pairs silhouette is
    * O(n²) and exactly what a 100 TB corpus cannot run).
    *
    * Determinism: coordinates quantize to micro-unit BIGINTs at the
    * scan ([[graft.util.Det.micro]] discipline); centroids are
    * exact integer sums with ONE truncating integer division per
    * coordinate (Spark `div` ≡ DuckDB `//`, both toward zero); squared
    * distances are exact BIGINTs, so argmin-over-centroids is integer
    * comparison; a and b are single correctly-rounded `sqrt`s (IEEE
    * requires correct rounding for sqrt — unlike ln there is no libm
    * freedom), the ratio is elementary ops, and per-point scores
    * 6-dp-quantize into DECIMAL before the order-independent mean.
    *
    * Scale shape: one posexploded pass to the (label, dim) centroid
    * table (k·64 rows, broadcast back); each point computes k exact
    * integer distances locally — corpus never self-joined, never
    * shuffled beyond its own (vec, label) aggregate. */
  def silhouette(s: SparkSession, d: String): DataFrame = {
    val ex = once(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("label"), col("pos").as("dim"),
        Det.micro(col("col")).as("xq")))
    val cent = ex.groupBy(col("label").as("clab"), col("dim"))
      .agg(sum("xq").as("sx"), count(lit(1)).as("nx"))
      .select(col("clab"), col("dim"), expr("sx div nx").as("cq"))
    val d2 = ex.join(broadcast(cent), "dim")
      .groupBy("vec_id", "label", "clab")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val per = d2.groupBy("vec_id", "label")
      .agg(min(when(col("clab") === col("label"), col("d2"))).as("a2"),
        min(when(col("clab") =!= col("label"), col("d2"))).as("b2"))
      .withColumn("a", sqrt(col("a2").cast("double")))
      .withColumn("b", sqrt(col("b2").cast("double")))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b"))).otherwise(lit(0.0)))
    per.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(Det.q6(col("sil")).cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("ssum"))
      .select(col("label"), col("n_vecs"),
        Det.q6(col("ssum").cast("double") / col("n_vecs").cast("double")).as("mean_sil"))
      .orderBy("label")
  }

  private val MatDim = 16

  /** Matryoshka-truncation retrieval audit (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): how much of the exact
    * top-5 cosine ranking survives when vectors are truncated to their
    * first [[MatDim]] = 16 of 64 dimensions (re-normalized)? MRL-style
    * serving keeps only a prefix of each embedding at query time — a
    * 4× memory/bandwidth cut on the same corpus — and this query
    * measures the recall cost per probe before anyone flips that
    * switch, the same ladder-rung role [[annRecall]] plays for IVF and
    * ADC for PQ.
    *
    * Determinism: both rankings use the engine's cosine recipe (double
    * left-to-right dot = DuckDB's list_dot_product, 4-dp floor-quantize,
    * (cos desc, vec_id asc) total order); overlap is a count over the
    * two exact top-5 id sets.
    *
    * Scale shape: the corpus frame is staged once with both norms;
    * probes broadcast; at 100 TB the truncated leg would run against
    * the prefix-only column (16 floats stored, not sliced) — the
    * slice here stands in for that narrower scan. */
  def matryoshkaAudit(s: SparkSession, d: String): DataFrame = {
    val base = once(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("p", slice(col("v"), 1, MatDim))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("pnorm", sqrt(dot(col("p"), col("p")))))
    val q = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("p").as("qp"),
        col("norm").as("qn"), col("pnorm").as("qpn"))
    val j = once(base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosf", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("cosp", Det.q4(dot(col("p"), col("qp")) / (col("pnorm") * col("qpn"))))
      .select("qid", "vec_id", "cosf", "cosp"))
    val wf = Window.partitionBy("qid").orderBy(col("cosf").desc, col("vec_id").asc)
    val wp = Window.partitionBy("qid").orderBy(col("cosp").desc, col("vec_id").asc)
    val full = j.withColumn("rn", row_number().over(wf)).filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"))
    val pre = j.withColumn("rn", row_number().over(wp)).filter(col("rn") <= 5)
      .select(col("qid").as("q2"), col("vec_id").as("v2"))
    full.join(pre, col("qid") === col("q2") && col("vec_id") === col("v2"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("k"), count(col("v2")).as("n_overlap"))
      .orderBy("qid")
  }

  /** Contrastive training-pair assembly — the data-prep step behind
    * embedding-model fine-tuning (InfoNCE/triplet batches): per held-out
    * probe, its 5 nearest corpus neighbors become positives and 5
    * deterministically-sampled non-neighbors become hard-shuffled
    * negatives. Negative choice is the engine's keyed-hash sampling
    * discipline (md5 of "qid:vec_id" — reproducible, uniform over the
    * non-positive corpus, and independent per probe so no negative is
    * globally over-sampled).
    *
    * Determinism: positives rank by the established (quantized cosine,
    * vec_id) order; negatives rank by the hex digest string with a
    * vec_id tie-break — pure string/integer comparisons.
    *
    * Scale shape: the probe set broadcasts; one corpus scan scores both
    * roles (the ranking window and the hash window share the scored
    * frame); at serving scale the positive candidates come from
    * [[annIvf]] cells and the negative stream from a per-partition hash
    * filter — the same two windows over a bounded candidate frame. */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    val n = once(withNorm(Tables.embeddings(s, d)))
    val q = n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    val scored = once(n.filter(col("vec_id") % 50 =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", Det.q4(dot(col("v"), col("qv")) / (col("norm") * col("qn"))))
      .withColumn("rn", row_number().over(wTop))
      .select(col("qid"), col("vec_id"), col("cos"), col("rn")))
    val pos = scored.filter(col("rn") <= 5)
      .select(col("qid"), lit("pos").as("role"), col("rn").as("rnk"),
        col("vec_id"), col("cos"))
    val wNeg = Window.partitionBy("qid").orderBy(col("h").asc, col("vec_id").asc)
    val neg = scored.filter(col("rn") > 5)
      .withColumn("h", md5(concat(col("qid").cast("string"), lit(":"),
        col("vec_id").cast("string"))))
      .withColumn("hrn", row_number().over(wNeg))
      .filter(col("hrn") <= 5)
      .select(col("qid"), lit("neg").as("role"), col("hrn").as("rnk"),
        col("vec_id"), col("cos"))
    pos.unionByName(neg).orderBy("qid", "role", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_maxsim" -> (maxsim _),
    "q_maxsim_rerank" -> (maxsimRerank _),
    "q_maxsim_recall" -> (maxsimRecall _),
    "q_cluster_topics" -> (clusterTopics _),
    "q_rbo" -> (rboRankings _),
    "q_contrastive_pairs" -> (contrastivePairs _),
    "q_matryoshka"    -> (matryoshkaAudit _),
    "q_silhouette"    -> (silhouette _),
    "q_pq_rerank"     -> (pqRerank _),
    "q_embed_norm"    -> (embedNormAudit _),
    "q_embed_pca"     -> (embedPca _),
    "q_kcenter_init"  -> (kcenterInit _),
    "q_mmr_select"    -> (mmrSelect _),
    "q_cosine_topk"   -> (cosineTopk _),
    "q_ann_lsh_rp"    -> (annLshRp _),
    "q_jl_transform"  -> (jlTransform _),
    "q_embed_quantize" -> (embedQuantize _),
    "q_ann_lsh"       -> (annLsh _),
    "q_ann_ivf"       -> (annIvf _),
    "q_embed_neardup" -> (embedNeardup _),
    "q_dedup_semantic" -> (semanticDedup _),
    "q_kmeans_step"    -> (kmeansStep _),
    "q_kmeans_train"   -> (kmeansTrain _),
    "q_ann_ivf_trained" -> (annIvfTrained _),
    "q_ann_ivf_served" -> (annIvfServed _),
    "q_kmeans_convergence" -> (kmeansConvergence _),
    "q_cluster_sample" -> (clusterSample _),
    "q_embed_outliers" -> (embedOutliers _),
    "q_embed_pq" -> (embedPq _),
    "q_pq_adc" -> (pqAdc _),
    "q_pq_adc_served" -> (pqAdcServed _),
    "q_ann_ivfpq" -> (annIvfPq _),
    "q_ann_ivfpq_served" -> (annIvfPqServed _),
    "q_ann_recall" -> (annRecall _),
    "q_mrr" -> (mrrLabel _),
    "q_cluster_purity" -> (clusterPurity _),
    "q_rrf_fusion" -> (rrfFusion _),
    "q_ndcg" -> (ndcgAt5 _),
    "q_dbscan" -> (dbscan _),
    "q_knn_classify" -> (knnClassify _),
  )

  /** NDCG@5 of the PQ/ADC serve against exact-cosine relevance — the
    * position-weighted companion to [[annRecall]]: recall treats a hit
    * at rank 5 like a hit at rank 1, NDCG discounts it by 1/log2(p+1),
    * which is what a serving SLA actually cares about (the top slots).
    * Relevance is binary membership in the exact top-5.
    *
    * Determinism: the discount weights are 6-dp INTEGER-scaled literals
    * (1/log2(p+1) · 10⁶ for p = 1..5, precomputed constants identical
    * in both engines), so DCG is an exact BIGINT sum — never a float
    * fold whose order could differ — and NDCG is ONE IEEE division by
    * the integer ideal (2948460), floor-quantized. Scale shape: both
    * audited legs unchanged + one ≤5-rows-per-query aggregate. */
  def ndcgAt5(s: SparkSession, d: String): DataFrame = {
    val exact = cosineTopk(s, d).filter(col("rn") <= 5)
      .select(col("qid").as("eqid"), col("vec_id").as("evid"), lit(1L).as("rel"))
    val wCase = "CASE rn WHEN 1 THEN 1000000 WHEN 2 THEN 630929 " +
      "WHEN 3 THEN 500000 WHEN 4 THEN 430676 ELSE 386852 END"
    pqAdc(s, d).select(col("qid"), col("vec_id"), col("rn"))
      .join(broadcast(exact),
        col("qid") === col("eqid") && col("vec_id") === col("evid"), "left")
      .withColumn("g", coalesce(col("rel"), lit(0L)) * expr(wCase))
      .groupBy("qid")
      .agg(sum(coalesce(col("rel"), lit(0L))).as("n_rel"),
        sum("g").cast("long").as("dcg_scaled"))
      .select(col("qid"), col("n_rel"), col("dcg_scaled"),
        Det.q6(col("dcg_scaled").cast("double") / lit(2948457.0)).as("ndcg"))
      .orderBy("qid")
  }

  /** Label-relevance MRR over the exact cosine ranking: per probe, the
    * reciprocal rank of the FIRST top-10 neighbor sharing the probe's
    * label (0 if none) — the third leg of the retrieval-eval family:
    * [[annRecall]] scores the index against exact search, [[ndcgAt5]]
    * scores slot placement, MRR scores "how far down is the first
    * relevant hit", the metric QA dashboards for retrieval-augmented
    * training data report first.
    *
    * Determinism: relevance is exact label equality; the first-hit rank
    * is an integer MIN over the top-10 window rows; the reciprocal is
    * INTEGER-scaled (1000000 div rn — the [[rrfFusion]] recipe), so no
    * float appears anywhere. Absent hits surface as rank 0 / rr 0
    * (coalesced on both engines — no NULL typing drift).
    *
    * Scale shape: the ranking leg is [[cosineTopk]]'s own audited plan;
    * this adds one corpus-keyed equi-join to tag neighbor labels (narrow
    * (vec_id, label) pairs — NOT broadcast: label cardinality is corpus
    * cardinality), one broadcast of the probe-set labels, and a
    * ≤10-rows-per-probe aggregate. */
  def mrrLabel(s: SparkSession, d: String): DataFrame = {
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    cosineTopk(s, d)
      .join(broadcast(lab.select(col("vec_id").as("qid"), col("label").as("q_label"))), "qid")
      .join(lab.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      .groupBy("qid", "q_label")
      .agg(
        coalesce(min(when(col("n_label") === col("q_label"), col("rn"))), lit(0)).as("first_rel_rn"),
        sum((col("n_label") === col("q_label")).cast("long")).as("n_rel_topk"))
      .withColumn("rr_ppm",
        when(col("first_rel_rn") > 0, expr("1000000 div first_rel_rn")).otherwise(lit(0L)))
      .orderBy("qid")
  }

  /** Reciprocal-rank fusion of the exact-cosine and PQ/ADC rankings —
    * the standard hybrid-retrieval combiner (RRF, Cormack et al.): each
    * list contributes 1/(60+rank) per candidate, fused top-5 by summed
    * score. Here it fuses the accuracy ladder's two ends, which is what
    * a production serving tier does when it blends a cheap ANN channel
    * with an exact re-rank channel (or BM25 with dense retrieval).
    *
    * Determinism: the reciprocal is INTEGER-scaled — 10⁶ div (60+rank)
    * — so scores are exact BIGINT sums with no float division anywhere;
    * ties break on vec_id. Both input rankings are themselves oracled
    * queries; the oracle composes their own CTE texts verbatim, so the
    * fused lists are definitionally over the audited rankings.
    *
    * Scale shape: both legs' plans are unchanged; fusion adds one
    * map-side-combinable (qid, vec_id) aggregate over ≤ 15 rows per
    * query and a bounded rank window. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val e = cosineTopk(s, d)
      .select(col("qid"), col("vec_id"), expr("1000000 div (60 + rn)").as("sc"))
    val a = pqAdc(s, d)
      .select(col("qid"), col("vec_id"), expr("1000000 div (60 + rn)").as("sc"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("vec_id").asc)
    e.unionByName(a)
      .groupBy("qid", "vec_id")
      .agg(sum("sc").cast("long").as("rrf"), count(lit(1)).as("n_lists"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("rrf"), col("n_lists"))
      .orderBy("qid", "rn")
  }

  private[ops] val NormCte =
    """n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |      FROM embeddings)""".stripMargin

  private val LshBucketSql = (1 to LshBits)
    .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
    .mkString(" || ")

  /** CTE chain for the banded-LSH candidate pairs, GENERATED from the
    * same plane matrix as [[bandedPairs]] (integer literals are exact in
    * both engines): n → pp (band-bit projections) → bd (band keys,
    * parallel-unnest zipped) → e0 (DISTINCT colliding pairs with the
    * quantized cosine ≥ thresh). Shared by the neardup-family oracles here
    * and the six-family flag prefix in [[Dedup]]. */
  private[ops] def neardupCteBody(thresh: String): String = {
    val planes = neardupPlanes.zipWithIndex.map { case (p, i) =>
      s"floor((list_dot_product(v, CAST(${p.mkString("[", ", ", "]")} AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS p$i"
    }.mkString(",\n       ")
    val keys = (0 until NeardupBands).map { j =>
      (0 until NeardupBandBits)
        .map(t => s"(CASE WHEN p${j * NeardupBandBits + t} >= 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
    }
    s"""pp AS (
       |  SELECT vec_id, label, v, norm,
       |       $planes
       |  FROM n),
       |bd AS MATERIALIZED (
       |  SELECT vec_id, label, v, norm,
       |         unnest(range(0, $NeardupBands)) AS band,
       |         unnest([${keys.mkString(",\n                 ")}]) AS bkey
       |  FROM pp),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
       |         a.label AS label1, b.label AS label2,
       |         floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) * 10000 + 0.5) / 10000 AS cos
       |  FROM bd a JOIN bd b
       |    ON a.band = b.band AND a.bkey = b.bkey AND b.vec_id > a.vec_id
       |  WHERE floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) * 10000 + 0.5) / 10000 >= $thresh)""".stripMargin
  }

  /** Pointer-jumping rounds for the unrolled min-label closures below:
    * enough for component diameters up to ~2^[[LabelRounds]] (converged
    * rounds are exact no-ops, the kmeans-unroll argument). */
  private[ops] val LabelRounds = 12

  /** Unrolled min-label propagation with pointer jumping, the oracle
    * twin of the [[graft.util.Components]] residual label loop: from
    * base labels `$l0`(v, l) over undirected edges `$edges`(src, dst),
    * each round takes the min over neighbors' labels then jumps l ←
    * min(l, l(l)). Converges to the component minimum in ≤
    * log₂(diameter)+O(1) rounds and costs |edges| rows per round —
    * replacing the recursive all-pairs `reach` closure whose Σ comp²
    * rows are quadratic in component size (the actual oracle scale
    * bottleneck once geometry-driven candidates produce big
    * components). Requires every label in `$l0` to be a vertex of `$l0`
    * (vec_ids), so the jump join always resolves. Every CTE in the chain
    * is MATERIALIZED — each is referenced twice, so default inlining
    * would expand the unroll into a 2^rounds plan tree. Ends with CTE
    * `${p}l[[LabelRounds]]`(v, l). */
  private[ops] def minLabelCtes(p: String, l0: String, edges: String): String =
    (1 to LabelRounds).map { i =>
      val prev = if (i == 1) l0 else s"${p}l${i - 1}"
      s"""${p}s$i AS MATERIALIZED (
         |  SELECT p.v, least(p.l, coalesce(min(q.l), p.l)) AS l
         |  FROM $prev p
         |  LEFT JOIN $edges e ON p.v = e.src
         |  LEFT JOIN $prev q ON e.dst = q.v
         |  GROUP BY p.v, p.l),
         |${p}l$i AS MATERIALIZED (
         |  SELECT s.v, least(s.l, t.l) AS l
         |  FROM ${p}s$i s JOIN ${p}s$i t ON s.l = t.v)""".stripMargin
    }.mkString(",\n")

  /** [[jlTransform]]'s oracle: the literal projection matrix, the same
    * floor-quantized components (PARITY.md §3 — `round()` is the r9
    * driver-red class), the same left-to-right 16-term cosine tree. */
  private def jlOracle: String = {
    val planes = jlPlanes.zipWithIndex.map { case (p, i) =>
      s"${q4s(s"list_dot_product(v, CAST(${p.mkString("[", ", ", "]")} AS DOUBLE[]))")} AS p$i"
    }.mkString(",\n       ")
    val dotP = (0 until JlDim).map(i => s"a.p$i * b.p$i").mkString(" + ")
    val ssqA = (0 until JlDim).map(i => s"a.p$i * a.p$i").mkString(" + ")
    val ssqB = (0 until JlDim).map(i => s"b.p$i * b.p$i").mkString(" + ")
    val cosFull = q4s("list_dot_product(a.v, b.v) / (a.norm * b.norm)")
    val cosProj = q4s(s"($dotP) / (sqrt($ssqA) * sqrt($ssqB))")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings WHERE vec_id < 50
       |), p AS (
       |  SELECT vec_id, v, norm,
       |       $planes
       |  FROM e
       |)
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |       $cosFull AS cos_full,
       |       $cosProj AS cos_proj,
       |       floor(abs($cosFull - $cosProj) * 10000 + 0.5) / 10000 AS abs_err
       |FROM p a JOIN p b ON b.vec_id > a.vec_id
       |ORDER BY id1, id2""".stripMargin
  }

  /** RP-LSH oracle, generated from the same seeded plane matrix as the
    * Spark plan (integer literals are exact in both engines). */
  private def rpOracle: String = {
    val planes = rpPlanes.zipWithIndex.map { case (p, i) =>
      s"floor((list_dot_product(v, CAST(${p.mkString("[", ", ", "]")} AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS p$i"
    }.mkString(",\n         ")
    val bucketSql = (0 until RpBits).map(i => s"(CASE WHEN p$i >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
    val absList = (0 until RpBits).map(i => s"abs(p$i)").mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings
       |), p AS (
       |  SELECT vec_id, v, norm,
       |         $planes
       |  FROM e
       |), b AS (
       |  SELECT vec_id, v, norm, $bucketSql AS bucket,
       |         list_position($absList, list_aggregate($absList, 'min')) AS wi
       |  FROM p
       |), pb AS (
       |  SELECT vec_id, v, norm, bucket,
       |         substring(bucket, 1, wi - 1)
       |           || (CASE WHEN substring(bucket, wi, 1) = '1' THEN '0' ELSE '1' END)
       |           || substring(bucket, wi + 1, $RpBits - wi) AS probe
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv, norm AS qn, unnest([bucket, probe]) AS qb
       |  FROM pb WHERE vec_id % 50 = 0
       |), sc AS (
       |  SELECT qid, vec_id, floor((list_dot_product(v, qv) / (norm * qn)) * 10000 + 0.5) / 10000 AS cos
       |  FROM pb JOIN q ON bucket = qb AND vec_id <> qid
       |), r AS (
       |  SELECT qid, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rn
       |  FROM sc
       |)
       |SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin
  }

  /** The Lloyd loop unrolled to exactly [[KmIters]] steps as a CTE chain
    * (converged steps are exact no-ops, so the unroll agrees with the
    * engine's early stop — see kmeansTrain's doc), GENERATED from the
    * same constants as the Spark plan. Ends with `m<KmIters>` (long-form
    * matrix) and `c<KmIters>` (list-form centroids + norms) for
    * downstream composition. */
  private def kmeansCteChain: String = {
    val steps = (1 to KmIters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT n.vec_id, n.v, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor(list_dot_product(n.v, c.cv) / (n.norm * c.cn) * 10000 + 0.5) / 10000 DESC,
         |                      c.cid ASC) AS crn
         |    FROM n, c${i - 1} c) t
         |  WHERE crn = 1),
         |g$i AS (
         |  SELECT cid, unnest(range(1, len(v) + 1)) - 1 AS dim, unnest(v) AS x FROM a$i),
         |m$i AS (
         |  SELECT cid, dim,
         |         floor(CAST(sum(CAST(x AS DECIMAL(24,6))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS dim_mean,
         |         count(*) AS n_members
         |  FROM g$i GROUP BY cid, dim),
         |c$i AS (
         |  SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM (
         |    SELECT cid, list(dim_mean ORDER BY dim) AS cv FROM m$i GROUP BY cid) q)""".stripMargin
    }.mkString(",\n")
    s"""$NormCte,
       |c0 AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
       |$steps""".stripMargin
  }

  private def kmeansTrainOracle: String =
    s"""WITH $kmeansCteChain
       |SELECT cid, CAST(dim AS INTEGER) AS dim, dim_mean, n_members
       |FROM m$KmIters
       |ORDER BY cid, dim""".stripMargin

  /** [[annIvfTrained]]'s oracle: the kmeans chain composed with the IVF
    * search SQL, reading centroids from `c<KmIters>` instead of the raw
    * seed rows. */
  private def ivfTrainedOracle: String =
    s"""WITH $kmeansCteChain,
       |asg AS (
       |  SELECT vec_id, v, norm, cid FROM (
       |    SELECT n.vec_id, n.v, n.norm, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY floor(list_dot_product(n.v, c.cv) / (n.norm * c.cn) * 10000 + 0.5) / 10000 DESC,
       |                      c.cid ASC) AS crn
       |    FROM n, c$KmIters c) t
       |  WHERE crn = 1),
       |pr AS (
       |  SELECT qid, qv, qn, cid FROM (
       |    SELECT n.vec_id AS qid, n.v AS qv, n.norm AS qn, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY floor(list_dot_product(n.v, c.cv) / (n.norm * c.cn) * 10000 + 0.5) / 10000 DESC,
       |                      c.cid ASC) AS crn
       |    FROM n, c$KmIters c WHERE n.vec_id % 50 = 0) t
       |  WHERE crn <= 2),
       |sc AS (
       |  SELECT pr.qid, asg.vec_id,
       |         floor(list_dot_product(asg.v, pr.qv) / (asg.norm * pr.qn) * 10000 + 0.5) / 10000 AS cos
       |  FROM asg JOIN pr USING (cid)
       |  WHERE asg.vec_id <> pr.qid),
       |r AS (SELECT qid, vec_id, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rn
       |      FROM sc)
       |SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** [[kmeansConvergence]]'s oracle: per-pass assignment diffs computed
    * from the unrolled chain — every row cross-checks the loop STATE at
    * that step. */
  private def kmeansConvergenceOracle: String = {
    val diffs = (2 to KmIters).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS pass,
         |       (SELECT count(*) FROM a$i x JOIN a${i - 1} y USING (vec_id)
         |        WHERE x.cid <> y.cid) AS n_changed""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $kmeansCteChain
       |$diffs
       |ORDER BY pass""".stripMargin
  }

  /** [[mmrSelect]]'s K rounds unrolled as chained CTEs — every round's
    * pick and max-sim update cross-engine-checked (the kmeans oracle
    * pattern). */
  private def mmrOracle: String = {
    val score = "CAST(0.7 AS DECIMAL(2,1)) * rel - CAST(0.3 AS DECIMAL(2,1)) * ms"
    def pick(i: Int) =
      s"""p$i AS (SELECT * FROM (
         |  SELECT qid, vec_id, v, norm, rel, ms, $score AS score,
         |         row_number() OVER (PARTITION BY qid ORDER BY $score DESC, vec_id ASC) AS rn
         |  FROM s$i) t WHERE rn = 1)""".stripMargin
    // CASE, not greatest(): DuckDB's greatest() promotes DECIMAL args to
    // DOUBLE, which would leak the running max-sim (and so the score
    // arithmetic) out of the exact decimal domain
    val newSim = "CAST(floor((list_dot_product(c.v, p.v) / (c.norm * p.norm)) * 10000 + 0.5) / 10000 AS DECIMAL(8,4))"
    def step(i: Int) =
      s"""s${i + 1} AS (SELECT c.qid, c.vec_id, c.v, c.norm, c.rel,
         |  CASE WHEN $newSim > c.ms THEN $newSim ELSE c.ms END AS ms
         |  FROM s$i c JOIN p$i p ON c.qid = p.qid AND c.vec_id <> p.vec_id)""".stripMargin
    val rounds = (1 to MmrK)
      .map(i => if (i < MmrK) pick(i) + ",\n" + step(i) else pick(i))
      .mkString(",\n")
    val sel = (1 to MmrK)
      .map(i => s"SELECT qid, $i AS rank, vec_id, CAST(rel AS DOUBLE) AS rel, CAST(score AS DOUBLE) AS score FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH $NormCte,
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qn FROM n WHERE vec_id % 50 = 0),
       |s0 AS (SELECT qid, n.vec_id,
       |       CAST(floor((list_dot_product(n.v, qv) / (n.norm * qn)) * 10000 + 0.5) / 10000 AS DECIMAL(8,4)) AS rel
       |       FROM n, q WHERE n.vec_id <> qid),
       |top AS (SELECT qid, vec_id, rel FROM (
       |       SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rr
       |       FROM s0) t WHERE rr <= $MmrC),
       |s1 AS (SELECT t.qid, t.vec_id, n.v, n.norm, t.rel,
       |       CAST(0 AS DECIMAL(8,4)) AS ms
       |       FROM top t JOIN n ON n.vec_id = t.vec_id),
       |$rounds
       |SELECT * FROM ($sel) u ORDER BY qid, rank""".stripMargin
  }

  /** [[kcenterInit]]'s K rounds unrolled as chained CTEs. CASE instead of
    * least() for the running minimum — DuckDB's least(), like greatest(),
    * promotes DECIMAL args to DOUBLE. */
  private def kcenterOracle: String = {
    def d(cv: String, cn: String, pv: String, pn: String) =
      s"CAST(1 - floor((list_dot_product($cv, $pv) / ($cn * $pn)) * 10000 + 0.5) / 10000 AS DECIMAL(8,4))"
    def pick(i: Int) =
      s"p$i AS (SELECT * FROM s$i ORDER BY mind DESC, vec_id ASC LIMIT 1)"
    def step(i: Int) = {
      val nd = d("c.v", "c.norm", "p.v", "p.norm")
      s"""s${i + 1} AS (SELECT c.vec_id, c.v, c.norm,
         |  CASE WHEN $nd < c.mind THEN $nd ELSE c.mind END AS mind
         |  FROM s$i c, p$i p WHERE c.vec_id <> p.vec_id)""".stripMargin
    }
    val rounds = (1 to KcK)
      .map(i => if (i < KcK) pick(i) + ",\n" + step(i) else pick(i))
      .mkString(",\n")
    val sel = (1 to KcK)
      .map(i => s"SELECT $i AS rank, vec_id, CAST(mind AS DOUBLE) AS d_min FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH $NormCte,
       |seed AS (SELECT v AS pv, norm AS pn FROM n WHERE vec_id = 0),
       |s1 AS (SELECT n.vec_id, n.v, n.norm,
       |       ${d("n.v", "n.norm", "pv", "pn")} AS mind
       |       FROM n, seed WHERE n.vec_id <> 0),
       |$rounds
       |SELECT * FROM ($sel) u ORDER BY rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_maxsim" -> maxsimOracle,
    "q_maxsim_rerank" -> maxsimRerankOracle,
    // both legs ARE the audited queries' own oracles, embedded verbatim
    // as CTEs (the q_ndcg composition discipline)
    "q_maxsim_recall" ->
      s"""WITH exact_t AS (
         |$maxsimOracle
         |), rr AS (
         |$maxsimRerankOracle
         |), exn AS (
         |  SELECT qid, count(*) AS n_exact FROM exact_t GROUP BY qid
         |), j AS (
         |  SELECT rr.qid, rr.vec_id,
         |         CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM rr LEFT JOIN (SELECT qid, vec_id FROM exact_t) e
         |    ON rr.qid = e.qid AND rr.vec_id = e.vec_id
         |)
         |SELECT j.qid, CAST(count(*) AS BIGINT) AS n_cand,
         |       CAST(sum(hit) AS BIGINT) AS n_hits,
         |       CAST(sum(hit) AS DOUBLE)
         |         / CAST(least($MaxSimTopK, exn.n_exact) AS DOUBLE) AS recall
         |FROM j JOIN exn ON j.qid = exn.qid
         |GROUP BY j.qid, exn.n_exact ORDER BY j.qid""".stripMargin,
    // both rankings' oracles embedded verbatim; the contribution table is
    // the same exact-integer C(m) sequence the Spark plan looks up
    "q_rbo" -> {
      val cases = RboC.zipWithIndex
        .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }.mkString(" ")
      s"""WITH msq AS (
         |$maxsimOracle
         |), ctq AS (
         |$cosineTopkOracle
         |), j AS (
         |  SELECT msq.qid, cc.rn AS rb,
         |         -- greatest() ignores NULLs in both engines, so the
         |         -- no-match case must be zeroed BEFORE the lookup
         |         CASE WHEN cc.rn IS NULL THEN 0
         |              ELSE CASE greatest(msq.rn, cc.rn) $cases END
         |         END AS contrib
         |  FROM msq LEFT JOIN (
         |    SELECT qid, vec_id, rn FROM ctq
         |    WHERE rn <= $MaxSimTopK AND qid % $MaxSimStride = 0) cc
         |  ON msq.qid = cc.qid AND msq.vec_id = cc.vec_id
         |)
         |SELECT qid, CAST(count(rb) AS BIGINT) AS n_common,
         |       CAST(sum(contrib) AS BIGINT) AS score_scaled,
         |       CAST(sum(contrib) AS DOUBLE) / $RboMax.0 AS rbo
         |FROM j GROUP BY qid ORDER BY qid""".stripMargin
    },
    // the cluster_sample assignment CTEs + the term_chi2 scoring CTEs,
    // bridged on the fixture's 1:1 doc_id = vec_id correspondence
    "q_cluster_topics" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |dw AS (
         |  SELECT DISTINCT w.doc_id, asg.cid, w.word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents) w
         |  JOIN asg ON w.doc_id = asg.vec_id
         |  WHERE len(w.word) > 0
         |), ct AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS nc FROM asg GROUP BY cid
         |), tt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn FROM asg
         |), wt AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS nw FROM dw GROUP BY word
         |), cell AS (
         |  SELECT word, cid, CAST(count(*) AS BIGINT) AS n11
         |  FROM dw GROUP BY 1, 2
         |), sc AS (
         |  SELECT cl.cid, cl.word, cl.n11, wt.nw, ct.nc, tt.nn,
         |    CAST(cl.n11 * (tt.nn - ct.nc - (wt.nw - cl.n11))
         |         - (ct.nc - cl.n11) * (wt.nw - cl.n11) AS HUGEINT) AS det
         |  FROM cell cl JOIN ct ON cl.cid = ct.cid
         |  JOIN wt ON cl.word = wt.word, tt
         |), chi AS (
         |  SELECT cid, word, n11, nw, nc,
         |    CASE WHEN nw < nn AND nc < nn THEN
         |      floor(CAST(CAST(nn AS HUGEINT) * det * det AS DOUBLE)
         |            / CAST(CAST(nw AS HUGEINT) * CAST(nn - nw AS HUGEINT)
         |                   * CAST(nc AS HUGEINT) * CAST(nn - nc AS HUGEINT) AS DOUBLE)
         |            * 1000000.0 + 0.5) / 1000000.0
         |    ELSE CAST(0.0 AS DOUBLE) END AS chi2
         |  FROM sc
         |), rk AS (
         |  SELECT cid, word, n11, nw, nc, chi2,
         |    row_number() OVER (PARTITION BY cid
         |                       ORDER BY chi2 DESC, word ASC) AS rn
         |  FROM chi
         |)
         |SELECT cid, CAST(rn AS INTEGER) AS rn, word, n11,
         |  nw AS n_word, nc AS n_cell, chi2
         |FROM rk WHERE rn <= 3 ORDER BY cid, rn""".stripMargin,
    // positives by (cos desc, vec_id) rank; negatives by the keyed-hash
    // order over the non-positive corpus
    "q_contrastive_pairs" ->
      s"""WITH $NormCte,
         |q AS (SELECT vec_id AS qid, v AS qv, norm AS qn FROM n WHERE vec_id % 50 = 0),
         |sc AS (
         |  SELECT q.qid, n.vec_id,
         |         floor((list_dot_product(n.v, q.qv) / (n.norm * q.qn)) * 10000 + 0.5) / 10000 AS cos
         |  FROM n, q WHERE n.vec_id % 50 <> 0
         |), rk AS (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM sc
         |), pos AS (
         |  SELECT qid, 'pos' AS role, CAST(rn AS INTEGER) AS rnk, vec_id, cos
         |  FROM rk WHERE rn <= 5
         |), neg AS (
         |  SELECT qid, 'neg' AS role, CAST(hrn AS INTEGER) AS rnk, vec_id, cos
         |  FROM (
         |    SELECT qid, vec_id, cos,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY md5(qid || ':' || vec_id) ASC, vec_id ASC) AS hrn
         |    FROM rk WHERE rn > 5) t
         |  WHERE hrn <= 5
         |)
         |SELECT * FROM pos UNION ALL SELECT * FROM neg
         |ORDER BY qid, role, rnk""".stripMargin,
    // the banded neardup pair recipe at DbEps; degrees, core threshold,
    // unrolled min-label closure over the core-core subgraph, min-label
    // borders
    "q_dbscan" ->
      s"""WITH $NormCte,
         |${neardupCteBody(DbEps.toString)},
         |und AS MATERIALIZED (
         |  SELECT id1 AS src, id2 AS dst FROM e0
         |  UNION ALL SELECT id2, id1 FROM e0
         |), deg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS nn FROM und GROUP BY src
         |), base AS (
         |  SELECT e.vec_id, COALESCE(deg.nn, 0) AS n_neighbors
         |  FROM embeddings e LEFT JOIN deg ON e.vec_id = deg.src
         |), core AS MATERIALIZED (
         |  SELECT vec_id FROM base WHERE n_neighbors >= 3
         |), cedge AS MATERIALIZED (
         |  SELECT u.src, u.dst
         |  FROM und u JOIN core a ON u.src = a.vec_id JOIN core b ON u.dst = b.vec_id
         |), clab0 AS MATERIALIZED (
         |  SELECT vec_id AS v, vec_id AS l FROM core
         |),
         |${minLabelCtes("c", "clab0", "cedge")},
         |clab AS (
         |  SELECT v AS vec_id, l AS core_cluster FROM cl$LabelRounds
         |), blab AS (
         |  SELECT u.src AS vec_id, min(c.core_cluster) AS border_cluster
         |  FROM und u JOIN clab c ON u.dst = c.vec_id
         |  GROUP BY u.src
         |)
         |SELECT b.vec_id, b.n_neighbors,
         |       CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
         |            WHEN bl.vec_id IS NOT NULL THEN 'border'
         |            ELSE 'noise' END AS role,
         |       COALESCE(cl.core_cluster, bl.border_cluster) AS cluster
         |FROM base b
         |LEFT JOIN clab cl ON b.vec_id = cl.vec_id
         |LEFT JOIN blab bl ON b.vec_id = bl.vec_id
         |ORDER BY b.vec_id""".stripMargin,
    // IVF-cell 5-NN over held-out probes (the q_ann_ivf candidate
    // recipe), vote by (count desc, label asc) — the same rank rules as
    // the Spark windows
    "q_knn_classify" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, label, v, norm, cid FROM (
         |    SELECT n.vec_id, n.label, n.v, n.norm, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c WHERE n.vec_id % 50 <> 0) t
         |  WHERE crn = 1),
         |pr AS (
         |  SELECT qid, true_label, qv, qn, cid FROM (
         |    SELECT n.vec_id AS qid, n.label AS true_label, n.v AS qv, n.norm AS qn, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c WHERE n.vec_id % 50 = 0) t
         |  WHERE crn <= 2),
         |sc AS (
         |  SELECT pr.qid, pr.true_label, asg.vec_id, asg.label,
         |         floor((list_dot_product(asg.v, pr.qv) / (asg.norm * pr.qn)) * 10000 + 0.5) / 10000 AS cos
         |  FROM asg JOIN pr USING (cid)
         |), top AS (
         |  SELECT qid, true_label, label FROM (
         |    SELECT qid, true_label, vec_id, label,
         |           row_number() OVER (PARTITION BY qid
         |                              ORDER BY cos DESC, vec_id ASC) AS rn
         |    FROM sc) t
         |  WHERE rn <= 5
         |), votes AS (
         |  SELECT qid, true_label, label AS cand, CAST(count(*) AS BIGINT) AS n_votes
         |  FROM top GROUP BY 1, 2, 3
         |)
         |SELECT qid, true_label, cand AS pred_label, n_votes,
         |       CAST(cand = true_label AS INTEGER) AS correct
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |                                   ORDER BY n_votes DESC, cand ASC) AS vr
         |      FROM votes) t
         |WHERE vr = 1
         |ORDER BY qid""".stripMargin,
    "q_matryoshka" ->
      """WITH n0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), m AS (
        |  SELECT vec_id, v, v[1:16] AS p,
        |         sqrt(list_dot_product(v, v)) AS norm,
        |         sqrt(list_dot_product(v[1:16], v[1:16])) AS pnorm
        |  FROM n0
        |), q AS (
        |  SELECT vec_id AS qid, v AS qv, p AS qp, norm AS qn, pnorm AS qpn
        |  FROM m WHERE vec_id % 50 = 0
        |), j AS (
        |  SELECT m.vec_id, q.qid,
        |    floor((list_dot_product(m.v, q.qv) / (m.norm * q.qn)) * 10000 + 0.5) / 10000 AS cosf,
        |    floor((list_dot_product(m.p, q.qp) / (m.pnorm * q.qpn)) * 10000 + 0.5) / 10000 AS cosp
        |  FROM m, q WHERE m.vec_id <> q.qid
        |), f AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY cosf DESC, vec_id ASC) AS rn FROM j) t
        |  WHERE rn <= 5
        |), p5 AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY cosp DESC, vec_id ASC) AS rn FROM j) t
        |  WHERE rn <= 5
        |)
        |SELECT f.qid, CAST(count(*) AS BIGINT) AS k,
        |       CAST(count(p5.vec_id) AS BIGINT) AS n_overlap
        |FROM f LEFT JOIN p5 ON f.qid = p5.qid AND f.vec_id = p5.vec_id
        |GROUP BY f.qid ORDER BY f.qid""".stripMargin,
    "q_pq_rerank" -> pqRerankOracle,
    "q_silhouette" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), ex AS (
        |  SELECT vec_id, label, dim,
        |         CAST(floor(v[CAST(dim AS INTEGER) + 1] * 1000000 + 0.5) AS BIGINT) AS xq
        |  FROM v, (SELECT unnest(range(0, 64)) AS dim)
        |), cent AS (
        |  SELECT label AS clab, dim,
        |         CAST(sum(xq) AS BIGINT) // CAST(count(*) AS BIGINT) AS cq
        |  FROM ex GROUP BY label, dim
        |), dd AS (
        |  SELECT ex.vec_id, ex.label, cent.clab,
        |         CAST(sum((ex.xq - cent.cq) * (ex.xq - cent.cq)) AS BIGINT) AS d2
        |  FROM ex JOIN cent ON ex.dim = cent.dim
        |  GROUP BY 1, 2, 3
        |), per AS (
        |  SELECT vec_id, label,
        |    sqrt(CAST(min(CASE WHEN clab = label THEN d2 END) AS DOUBLE)) AS a,
        |    sqrt(CAST(min(CASE WHEN clab <> label THEN d2 END) AS DOUBLE)) AS b
        |  FROM dd GROUP BY 1, 2
        |), sil AS (
        |  SELECT label,
        |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
        |         ELSE 0.0 END AS sil
        |  FROM per
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  floor(CAST(sum(CAST(floor(sil * 1000000.0 + 0.5) / 1000000.0
        |                     AS DECIMAL(18,6))) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_sil
        |FROM sil GROUP BY label ORDER BY label""".stripMargin,
    "q_embed_pca" -> pcaOracle,
    "q_embed_norm" ->
      """WITH n AS (
        |  SELECT label,
        |         floor(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS nq
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n_vecs,
        |       CAST(SUM(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       min(nq) AS min_norm,
        |       max(nq) AS max_norm,
        |       floor((CAST(SUM(CAST(nq AS DECIMAL(18,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS mean_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "q_kcenter_init" -> kcenterOracle,
    "q_mmr_select" -> mmrOracle,
    "q_ann_lsh_rp" -> rpOracle,
    "q_kmeans_train" -> kmeansTrainOracle,
    "q_ann_ivf_trained" -> ivfTrainedOracle,
    // the served query reads the materialized centroids, but those ARE the
    // deterministic training output — the oracle re-derives them from the
    // same unrolled chain, proving storage round-trip changes nothing
    "q_ann_ivf_served" -> ivfTrainedOracle,
    "q_embed_pq" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), sv AS (
        |  SELECT vec_id, CAST(m AS INTEGER) AS sub,
        |         list_slice(v, m * 8 + 1, m * 8 + 8) AS sv
        |  FROM v, (SELECT unnest(range(0, 8)) AS m)
        |), cb AS (
        |  SELECT sub AS csub, vec_id AS cid, sv AS cv
        |  FROM sv WHERE vec_id % 100 = 0
        |), d AS (
        |  SELECT sv.vec_id, sv.sub, cb.cid,
        |         floor((list_dot_product(sv.sv, sv.sv)
        |                - 2.0 * list_dot_product(sv.sv, cb.cv)
        |                + list_dot_product(cb.cv, cb.cv)) * 10000 + 0.5) / 10000 AS d2
        |  FROM sv JOIN cb ON sv.sub = cb.csub
        |), r AS (
        |  SELECT vec_id, sub, cid, d2,
        |         row_number() OVER (PARTITION BY vec_id, sub
        |                            ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM d
        |)
        |SELECT vec_id, sub, cid AS code, d2 AS dist2
        |FROM r WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin,
    "q_pq_adc" -> pqAdcOracle,
    // the served twin is bit-identical to the inline composition (the
    // encode is deterministic; codes/codebook round-trip parquet exactly),
    // so it shares the oracle — the ivfTrainedOracle/q_ann_ivf_served
    // pattern
    "q_pq_adc_served" -> pqAdcOracle,
  ) ++ oracle2

  /** Shared oracle text for the MaxSim family: the v0 → n CTE chain
    * (cast vectors + sub-norm lists). The zero-sub-norm guard mirrors
    * [[maxsimFeatures]]' `raise_error` (ADVICE r10): on a fixture with a
    * degenerate sub-vector BOTH engines fail loudly instead of Spark
    * raising while DuckDB silently ranks NaN rows. */
  private def maxsimNormCtes: String = {
    val snTerms = (0 until MaxSimSubs).map { k =>
      val sl = s"list_slice(v, ${k * MaxSimSubDim + 1}, ${k * MaxSimSubDim + MaxSimSubDim})"
      s"sqrt(list_dot_product($sl, $sl))"
    }.mkString(",\n          ")
    s"""v0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), n_raw AS (
       |  SELECT vec_id, v,
       |         [$snTerms] AS sn
       |  FROM v0
       |), n AS (
       |  SELECT vec_id, v,
       |         CASE WHEN list_min(sn) > 0 THEN sn
       |              ELSE error('maxsim: zero sub-vector norm') END AS sn
       |  FROM n_raw
       |)""".stripMargin
  }

  /** The MaxSim score between table aliases `q` and `n`: per-i 8-way
    * `greatest`, 6-dp floor-quantize, EXPLICIT left-associative addition
    * mirroring the Spark fold's order. */
  private def maxsimScoreSql: String = {
    def slc(t: String, k: Int) =
      s"list_slice($t.v, ${k * MaxSimSubDim + 1}, ${k * MaxSimSubDim + MaxSimSubDim})"
    (0 until MaxSimSubs).map { i =>
      val cos = (0 until MaxSimSubs).map { j =>
        s"list_dot_product(${slc("q", i)}, ${slc("n", j)}) / (q.sn[${i + 1}] * n.sn[${j + 1}])"
      }.mkString(",\n            ")
      s"""floor(greatest(
         |            $cos) * 1000000 + 0.5) / 1000000""".stripMargin
    }.mkString("\n        + ")
  }

  /** The [[maxsim]] oracle: the same sub-vector slices, sub-norms, and
    * fold-order-exact scoring over the brute query × corpus product. */
  private def maxsimOracle: String =
    s"""WITH $maxsimNormCtes, q AS (
       |  SELECT vec_id AS qid, v, sn FROM n WHERE vec_id % $MaxSimStride = 0
       |), sc AS (
       |  SELECT q.qid, n.vec_id,
       |        $maxsimScoreSql
       |        AS maxsim
       |  FROM n, q WHERE n.vec_id <> q.qid
       |), r AS (
       |  SELECT qid, vec_id, maxsim,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                                 ORDER BY maxsim DESC, vec_id ASC)
       |              AS INTEGER) AS rn
       |  FROM sc
       |)
       |SELECT qid, rn, vec_id, maxsim FROM r WHERE rn <= $MaxSimTopK
       |ORDER BY qid, rn""".stripMargin

  /** The [[maxsimRerank]] oracle: the identical score text over the
    * sign-bit-bucket equi-join instead of the brute product. */
  private def maxsimRerankOracle: String = {
    val bucket = (1 to MaxSimRerankBits)
      .map(i => s"(CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""WITH $maxsimNormCtes, nb AS (
       |  SELECT vec_id, v, sn, $bucket AS bucket FROM n
       |), q AS (
       |  SELECT vec_id AS qid, v, sn, bucket
       |  FROM nb WHERE vec_id % $MaxSimStride = 0
       |), sc AS (
       |  SELECT q.qid, n.vec_id,
       |        $maxsimScoreSql
       |        AS maxsim
       |  FROM nb n JOIN q ON n.bucket = q.bucket AND n.vec_id <> q.qid
       |), r AS (
       |  SELECT qid, vec_id, maxsim,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                                 ORDER BY maxsim DESC, vec_id ASC)
       |              AS INTEGER) AS rn
       |  FROM sc
       |)
       |SELECT qid, rn, vec_id, maxsim FROM r WHERE rn <= $MaxSimTopK
       |ORDER BY qid, rn""".stripMargin
  }

  private def cosineTopkOracle: String =
      s"""WITH $NormCte,
         |q AS (SELECT vec_id AS qid, v AS qv, norm AS qn FROM n WHERE vec_id % 50 = 0),
         |sc AS (SELECT qid, vec_id,
         |              floor((list_dot_product(v, qv) / (norm * qn)) * 10000 + 0.5) / 10000 AS cos
         |       FROM n, q WHERE vec_id <> qid),
         |r AS (SELECT qid, vec_id, cos,
         |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rn
         |      FROM sc)
         |SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 10
         |ORDER BY qid, rn""".stripMargin

  /** The shared ADC CTE chain (subvectors → codebook → codes → LUT →
    * per-candidate integer distances `sc`) — the single SQL text behind
    * [[pqAdcOracle]] AND the [[pqRerank]] oracle, so the shortlist the
    * re-rank oracle ranks is definitionally the ADC oracle's own
    * arithmetic. */
  // lazy: the `oracle` map val initializes earlier in the object body and
  // its entries interpolate this text — a strict val would still be null
  private lazy val PqAdcCtes: String =
      """v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), sv AS (
        |  SELECT vec_id, CAST(m AS INTEGER) AS sub,
        |         list_slice(v, m * 8 + 1, m * 8 + 8) AS sv
        |  FROM v, (SELECT unnest(range(0, 8)) AS m)
        |), cb AS (
        |  SELECT sub AS csub, vec_id AS cid, sv AS cv
        |  FROM sv WHERE vec_id % 100 = 0
        |), cd AS (
        |  SELECT sv.vec_id, sv.sub, cb.cid,
        |         CAST(floor((list_dot_product(sv.sv, sv.sv)
        |                     - 2.0 * list_dot_product(sv.sv, cb.cv)
        |                     + list_dot_product(cb.cv, cb.cv)) * 10000 + 0.5) AS BIGINT) AS pd
        |  FROM sv JOIN cb ON sv.sub = cb.csub
        |), codes AS (
        |  SELECT vec_id, sub, cid AS code FROM (
        |    SELECT vec_id, sub, cid,
        |           row_number() OVER (PARTITION BY vec_id, sub
        |                              ORDER BY pd ASC, cid ASC) AS rn
        |    FROM cd) t
        |  WHERE rn = 1
        |), lut AS (
        |  SELECT vec_id AS qid, sub AS csub, cid, pd
        |  FROM cd WHERE vec_id % 50 = 0
        |), sc AS (
        |  SELECT lut.qid, codes.vec_id, SUM(lut.pd) AS ad
        |  FROM codes JOIN lut ON codes.sub = lut.csub AND codes.code = lut.cid
        |  WHERE codes.vec_id <> lut.qid
        |  GROUP BY 1, 2
        |)""".stripMargin

  /** [[embedPca]] oracle: [[PcaIters]] power-iteration passes unrolled
    * as generated CTEs from the same quantization constants — the
    * [[pagerankOracle]]/kmeans discipline applied to the eigen loop. */
  private def pcaOracle: String = {
    val passes = (1 to PcaIters).map { k =>
      s"""dq$k AS (
         |  SELECT e.vec_id,
         |         CAST(SUM(CAST(floor(e.x * (CAST(v.vq AS DOUBLE) / 10000.0e0) * 1000000.0e0 + 0.5) AS BIGINT)) AS BIGINT) AS dq
         |  FROM ex e JOIN v${k - 1} v USING (dim) GROUP BY 1
         |), s$k AS (
         |  SELECT e.dim,
         |         CAST(SUM(CAST(floor(e.x * (CAST(d.dq AS DOUBLE) / 1000000.0e0) * 1000000.0e0 + 0.5) AS BIGINT)) AS BIGINT) AS sd
         |  FROM ex e JOIN dq$k d USING (vec_id) GROUP BY 1
         |), n$k AS (
         |  SELECT sqrt(CAST(SUM(CAST(sd AS HUGEINT) * sd) AS DOUBLE)) AS nrm FROM s$k
         |), v$k AS (
         |  SELECT dim, CAST(floor(CAST(sd AS DOUBLE) / nrm * 10000 + 0.5) AS BIGINT) AS vq
         |  FROM s$k, n$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), ex AS (
       |  SELECT vec_id, CAST(dim AS INTEGER) AS dim, v[CAST(dim AS INTEGER) + 1] AS x
       |  FROM v, (SELECT unnest(range(0, 64)) AS dim)
       |), v0 AS (
       |  SELECT CAST(dim AS INTEGER) AS dim,
       |         CAST(CASE WHEN dim = 0 THEN 10000 ELSE 0 END AS BIGINT) AS vq
       |  FROM (SELECT unnest(range(0, 64)) AS dim)
       |), $passes
       |SELECT v$PcaIters.dim,
       |       CAST(v$PcaIters.vq AS DOUBLE) / 10000.0e0 AS loading,
       |       floor((n$PcaIters.nrm / 1000000.0e0) * 1000000 + 0.5) / 1000000 AS lambda
       |FROM v$PcaIters, n$PcaIters
       |ORDER BY dim""".stripMargin
  }

  private def pqAdcOracle: String =
      s"""WITH $PqAdcCtes, t AS (
        |  SELECT qid, vec_id, ad,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY ad ASC, vec_id ASC) AS INTEGER) AS rn
        |  FROM sc
        |)
        |SELECT qid, rn, vec_id, CAST(ad AS DOUBLE) / 10000.0 AS adist
        |FROM t WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin

  /** [[pqRerank]] oracle: the ADC chain's own `sc` CTE truncated at
    * [[RerankC]], re-ranked by the exact-cosine discipline of
    * [[cosineTopk]]'s oracle ([[NormCte]]). */
  private def pqRerankOracle: String =
      s"""WITH $PqAdcCtes, short AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY ad ASC, vec_id ASC) AS crn
        |    FROM sc) t
        |  WHERE crn <= $RerankC
        |), $NormCte, q AS (
        |  SELECT vec_id AS pqid, v AS qv, norm AS qn FROM n WHERE vec_id % 50 = 0
        |), rr AS (
        |  SELECT short.qid, short.vec_id,
        |         floor((list_dot_product(n.v, q.qv) / (n.norm * q.qn)) * 10000 + 0.5) / 10000 AS cos
        |  FROM short
        |  JOIN n ON short.vec_id = n.vec_id
        |  JOIN q ON short.qid = q.pqid
        |), t2 AS (
        |  SELECT qid, vec_id, cos,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rn
        |  FROM rr
        |)
        |SELECT qid, rn, vec_id, cos
        |FROM t2 WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin

  private def oracle2: Map[String, String] = Map(
    // composed from q_ann_ivf's probe CTEs and q_pq_adc's code/LUT CTEs —
    // the candidate set is cell-probed, the scoring is ADC
    "q_ann_ivfpq" -> annIvfPqOracle,
    // serve-from-artifacts twin is bit-identical to the inline
    // composition (deterministic index build, exact parquet round-trip)
    "q_ann_ivfpq_served" -> annIvfPqOracle,
  ) ++ oracle3

  private def annIvfPqOracle: String =
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |pr AS (
         |  SELECT qid, cid FROM (
         |    SELECT n.vec_id AS qid, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c WHERE n.vec_id % 50 = 0) t
         |  WHERE crn <= 2),
         |sv AS (
         |  SELECT vec_id, CAST(m AS INTEGER) AS sub,
         |         list_slice(v, m * 8 + 1, m * 8 + 8) AS sv
         |  FROM (SELECT vec_id, CAST(v AS DOUBLE[]) AS v FROM n),
         |       (SELECT unnest(range(0, 8)) AS m)),
         |cb AS (
         |  SELECT sub AS csub, vec_id AS pcid, sv AS cv
         |  FROM sv WHERE vec_id % 100 = 0),
         |cd AS (
         |  SELECT sv.vec_id, sv.sub, cb.pcid,
         |         CAST(floor((list_dot_product(sv.sv, sv.sv)
         |                     - 2.0 * list_dot_product(sv.sv, cb.cv)
         |                     + list_dot_product(cb.cv, cb.cv)) * 10000 + 0.5) AS BIGINT) AS pd
         |  FROM sv JOIN cb ON sv.sub = cb.csub),
         |codes AS (
         |  SELECT vec_id, sub, pcid AS code FROM (
         |    SELECT vec_id, sub, pcid,
         |           row_number() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY pd ASC, pcid ASC) AS rn
         |    FROM cd) t
         |  WHERE rn = 1),
         |lut AS (
         |  SELECT vec_id AS qid, sub AS csub, pcid, pd
         |  FROM cd WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT pr.qid, asg.vec_id
         |  FROM asg JOIN pr USING (cid)
         |  WHERE asg.vec_id <> pr.qid),
         |sc AS (
         |  SELECT cand.qid, cand.vec_id, SUM(lut.pd) AS ad
         |  FROM cand
         |  JOIN codes ON codes.vec_id = cand.vec_id
         |  JOIN lut ON lut.qid = cand.qid AND lut.csub = codes.sub
         |          AND lut.pcid = codes.code
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT qid, vec_id, ad,
         |         CAST(row_number() OVER (PARTITION BY qid
         |                                 ORDER BY ad ASC, vec_id ASC) AS INTEGER) AS rn
         |  FROM sc)
         |SELECT qid, rn, vec_id, CAST(ad AS DOUBLE) / 10000.0 AS adist
         |FROM t WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin

  private def oracle3: Map[String, String] = Map(
    "q_kmeans_convergence" -> kmeansConvergenceOracle,
    "q_embed_quantize" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(x AS DOUBLE) AS x
        |  FROM embeddings, unnest(CAST(embedding AS DOUBLE[])) AS t(x)
        |), m AS (
        |  SELECT *, max(abs(x)) OVER (PARTITION BY vec_id) AS maxabs FROM ex
        |), e AS (
        |  SELECT *, x - floor(x * 127.0 / maxabs + 0.5) * maxabs / 127.0 AS err,
        |         floor(x * 127.0 / maxabs + 0.5) AS q
        |  FROM m
        |)
        |SELECT vec_id,
        |       floor((max(maxabs)) * 10000 + 0.5) / 10000 AS maxabs,
        |       floor((CAST(SUM(CAST(err * err AS DECIMAL(30,12))) AS DOUBLE)
        |             / count(*)) * 100000000 + 0.5) / 100000000 AS mse,
        |       count(DISTINCT q) AS n_levels
        |FROM e GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,
    "q_cosine_topk" -> cosineTopkOracle,
    "q_jl_transform" -> jlOracle,
    "q_cluster_purity" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, label, cid FROM (
         |    SELECT n.vec_id, n.label, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |cl AS (SELECT cid, label, count(*) AS cnt FROM asg GROUP BY cid, label),
         |r AS (SELECT cid, label, cnt,
         |             row_number() OVER (PARTITION BY cid
         |                                ORDER BY cnt DESC, label ASC) AS rn
         |      FROM cl),
         |t AS (SELECT cid, CAST(sum(cnt) AS BIGINT) AS n_vecs,
         |             CAST(count(*) AS BIGINT) AS n_labels
         |      FROM cl GROUP BY cid)
         |SELECT t.cid, n_vecs, n_labels, r.label AS majority_label,
         |       CAST(r.cnt AS BIGINT) AS maj_n,
         |       floor(CAST(r.cnt AS DOUBLE) / n_vecs * 10000 + 0.5) / 10000 AS purity
         |FROM t JOIN r ON t.cid = r.cid AND r.rn = 1
         |ORDER BY t.cid""".stripMargin,
    // recall audit: both legs are the very oracles of q_cosine_topk and
    // q_pq_adc, embedded verbatim as CTEs — the composition cannot drift
    // from the queries it audits
    "q_ndcg" ->
      s"""WITH exact_t AS (
         |$cosineTopkOracle
         |), adc_t AS (
         |$pqAdcOracle
         |), j AS (
         |  SELECT a.qid,
         |         CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS rel,
         |         CASE a.rn WHEN 1 THEN 1000000 WHEN 2 THEN 630929
         |                   WHEN 3 THEN 500000 WHEN 4 THEN 430676
         |                   ELSE 386852 END AS w
         |  FROM adc_t a
         |  LEFT JOIN (SELECT qid, vec_id FROM exact_t WHERE rn <= 5) e
         |    ON a.qid = e.qid AND a.vec_id = e.vec_id
         |)
         |SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
         |       CAST(sum(rel * w) AS BIGINT) AS dcg_scaled,
         |       floor(CAST(sum(rel * w) AS DOUBLE) / 2948457.0
         |             * 1000000.0 + 0.5) / 1000000.0 AS ndcg
         |FROM j GROUP BY qid ORDER BY qid""".stripMargin,
    "q_mrr" ->
      s"""WITH exact_t AS (
         |$cosineTopkOracle
         |), lab AS (SELECT vec_id, label FROM embeddings),
         |j AS (
         |  SELECT e.qid, ql.label AS q_label, e.rn,
         |         CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel
         |  FROM exact_t e
         |  JOIN lab ql ON e.qid = ql.vec_id
         |  JOIN lab nl ON e.vec_id = nl.vec_id
         |)
         |SELECT qid, q_label,
         |       CAST(coalesce(min(CASE WHEN rel = 1 THEN rn END), 0) AS INTEGER)
         |         AS first_rel_rn,
         |       CAST(sum(rel) AS BIGINT) AS n_rel_topk,
         |       CAST(CASE WHEN coalesce(min(CASE WHEN rel = 1 THEN rn END), 0) > 0
         |                 THEN 1000000 // min(CASE WHEN rel = 1 THEN rn END)
         |                 ELSE 0 END AS BIGINT) AS rr_ppm
         |FROM j GROUP BY qid, q_label ORDER BY qid""".stripMargin,
    "q_rrf_fusion" ->
      s"""WITH exact_t AS (
         |$cosineTopkOracle
         |), adc_t AS (
         |$pqAdcOracle
         |), u AS (
         |  SELECT qid, vec_id, 1000000 // (60 + rn) AS sc FROM exact_t
         |  UNION ALL
         |  SELECT qid, vec_id, 1000000 // (60 + rn) AS sc FROM adc_t
         |), g AS (
         |  SELECT qid, vec_id, CAST(sum(sc) AS BIGINT) AS rrf,
         |         CAST(count(*) AS BIGINT) AS n_lists
         |  FROM u GROUP BY qid, vec_id
         |), r AS (
         |  SELECT qid, vec_id, rrf, n_lists,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY rrf DESC, vec_id ASC) AS INTEGER) AS rn
         |  FROM g
         |)
         |SELECT qid, rn, vec_id, rrf, n_lists FROM r WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "q_ann_recall" ->
      s"""WITH exact_t AS (
         |$cosineTopkOracle
         |), adc_t AS (
         |$pqAdcOracle
         |)
         |SELECT a.qid, CAST(count(e.vec_id) AS BIGINT) AS n_hits,
         |       CAST(count(e.vec_id) AS DOUBLE) / 5.0 AS recall
         |FROM adc_t a
         |LEFT JOIN (SELECT qid, vec_id FROM exact_t WHERE rn <= 5) e
         |  ON a.qid = e.qid AND a.vec_id = e.vec_id
         |GROUP BY a.qid ORDER BY a.qid""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |            sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm,
         |            $LshBucketSql AS bucket
         |     FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv, norm AS qn, bucket AS qb FROM nb WHERE vec_id % 50 = 0),
         |sc AS (SELECT qid, vec_id,
         |              floor((list_dot_product(v, qv) / (norm * qn)) * 10000 + 0.5) / 10000 AS cos
         |       FROM nb JOIN q ON bucket = qb AND vec_id <> qid),
         |r AS (SELECT qid, vec_id, cos,
         |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rn
         |      FROM sc)
         |SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, v, norm, cid FROM (
         |    SELECT n.vec_id, n.v, n.norm, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |pr AS (
         |  SELECT qid, qv, qn, cid FROM (
         |    SELECT n.vec_id AS qid, n.v AS qv, n.norm AS qn, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c WHERE n.vec_id % 50 = 0) t
         |  WHERE crn <= 2),
         |sc AS (
         |  SELECT pr.qid, asg.vec_id,
         |         floor((list_dot_product(asg.v, pr.qv) / (asg.norm * pr.qn)) * 10000 + 0.5) / 10000 AS cos
         |  FROM asg JOIN pr USING (cid)
         |  WHERE asg.vec_id <> pr.qid),
         |r AS (SELECT qid, vec_id, cos,
         |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rn
         |      FROM sc)
         |SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "q_embed_neardup" ->
      s"""WITH $NormCte,
         |${neardupCteBody(NeardupThresh.toString)}
         |SELECT id1, id2, label1, label2, cos FROM e0
         |ORDER BY id1, id2""".stripMargin,
    // min-label propagation to the component minimum over the same
    // similarity pairs the q_embed_neardup oracle produces; reflexive
    // base labels so every vector gets a component label
    "q_dedup_semantic" ->
      s"""WITH $NormCte,
         |${neardupCteBody(NeardupThresh.toString)},
         |und AS MATERIALIZED (
         |  SELECT id1 AS src, id2 AS dst FROM e0
         |  UNION ALL SELECT id2, id1 FROM e0),
         |lab0 AS MATERIALIZED (SELECT vec_id AS v, vec_id AS l FROM embeddings),
         |${minLabelCtes("", "lab0", "und")}
         |SELECT v AS vec_id, l AS cluster, CAST(l < v AS INTEGER) AS is_dup
         |FROM l$LabelRounds
         |ORDER BY vec_id""".stripMargin,
    "q_kmeans_step" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT n.vec_id, n.v, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |m AS (
         |  -- parallel unnests zip: (dim, value) pairs per assigned vector
         |  SELECT cid, unnest(range(1, len(v) + 1)) - 1 AS dim, unnest(v) AS x FROM asg
         |)
         |SELECT cid, CAST(dim AS INTEGER) AS dim,
         |       floor((CAST(sum(CAST(x AS DECIMAL(24,6))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS dim_mean,
         |       count(*) AS n_members
         |FROM m GROUP BY cid, dim
         |ORDER BY cid, dim""".stripMargin,
    // the kmeans_step assignment, equal-share largest-remainder quotas
    // (extras to the largest cells, cid tie-break, capped at cell size),
    // md5-ordered within-cell pick — pure integer quota arithmetic
    "q_cluster_sample" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM asg GROUP BY cid),
         |ncl AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM sizes),
         |q AS (
         |  SELECT cid, n_members,
         |         least($ClusterSampleK // nc
         |               + CASE WHEN row_number() OVER (ORDER BY n_members DESC, cid ASC)
         |                           <= $ClusterSampleK % nc THEN 1 ELSE 0 END,
         |               n_members) AS quota
         |  FROM sizes, ncl),
         |r AS (
         |  SELECT vec_id, cid,
         |         CAST(row_number() OVER (PARTITION BY cid
         |           ORDER BY md5('csample:' || CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS pick_rank
         |  FROM asg)
         |SELECT r.cid, q.n_members, CAST(q.quota AS BIGINT) AS quota, r.pick_rank, r.vec_id
         |FROM r JOIN q USING (cid)
         |WHERE r.pick_rank <= q.quota
         |ORDER BY cid, pick_rank""".stripMargin,
    // the same argmax assignment keeping the winning quantized cosine;
    // integer flag test c*n < sum(c) - margin*n; cell mean is one IEEE
    // division of exact integers
    "q_embed_outliers" ->
      s"""WITH $NormCte,
         |c AS (SELECT vec_id AS cid, v AS cv, norm AS cn FROM n WHERE vec_id % 100 = 0),
         |asg AS (
         |  SELECT vec_id, cid, ccos,
         |         CAST(floor(ccos * 10000 + 0.5) AS BIGINT) AS ci
         |  FROM (
         |    SELECT n.vec_id, c.cid,
         |           floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 AS ccos,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY floor((list_dot_product(n.v, c.cv) / (n.norm * c.cn)) * 10000 + 0.5) / 10000 DESC, c.cid ASC) AS crn
         |    FROM n, c) t
         |  WHERE crn = 1),
         |st AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |              CAST(sum(ci) AS BIGINT) AS sc
         |       FROM asg GROUP BY cid)
         |SELECT asg.vec_id, asg.cid, asg.ccos AS cos, st.n_members,
         |       CAST(st.sc AS DOUBLE) / CAST(st.n_members * 10000 AS DOUBLE) AS cell_mean
         |FROM asg JOIN st USING (cid)
         |WHERE asg.ci * st.n_members < st.sc - $OutlierMarginQ4 * st.n_members
         |ORDER BY vec_id""".stripMargin,
  )
}
