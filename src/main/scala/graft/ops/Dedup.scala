package graft.ops

import graft.util.Det
import graft.Tables
import graft.functions.TextFeatures._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` (north-star: exact, fuzzy,
  * MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * The fixture corpus contains ~24 planted near-duplicate docs (shared long
  * prefixes; bigram-Jaccard up to 0.97), so each strategy below actually
  * drops/flags rows.
  *
  * Scale design:
  *  - exact/fuzzy dedup: shuffle on the (hashed) key only — at 100 TB the
  *    key is a digest, never the document body, and `row_number() = 1` keeps
  *    a deterministic survivor (min doc_id), unlike `dropDuplicates` whose
  *    survivor is partition-order-dependent;
  *  - MinHash+LSH: signatures are 4 aggregated mins per doc (one shuffle on
  *    doc_id-partitioned shingles), candidates meet through band buckets —
  *    never an all-pairs comparison;
  *  - SimHash: one compiled pass per doc (the native
  *    [[graft.functions.SimHash16]] expression — no word explosion); the
  *    only shuffle is the one-row-per-doc fingerprint groupBy, and
  *    near-dups collide on the fingerprint;
  *  - n-gram Jaccard: the pair search is an equi-join on (bigram, lang,
  *    source) — i.e. blocked by content overlap, not a cross join.
  */
object Dedup {

  /** Exact dedup keyed on md5(text), NOT on text itself: the projection
    * drops the document body before the window exchange, so the shuffle
    * carries a 32-char digest per row instead of the full text (at 100 TB
    * that is the difference between shuffling the corpus and shuffling
    * ~3% of it). Treating digest equality as text equality is the
    * standard content-hash contract (collision odds ~2⁻¹²⁸ per pair); the
    * oracle still partitions by raw text, so the driver compare proves
    * result-equivalence of the digest keying on every run. */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("key").orderBy("doc_id")
    Tables.documents(s, d)
      .select(md5(col("text")).as("key"),
        col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Survivorship-policy dedup: per content-prefix group (first 8 words,
    * the same blocking key as [[dedupFuzzy]]), keep the HIGHEST-quality
    * member — longest doc, doc_id tie-break — instead of the arbitrary
    * lowest id. This is the policy choice a production dedup actually
    * makes (min-id keeps whatever crawled first; quality survivorship
    * keeps the best copy). max(struct(...)) aggregates the argmax
    * map-side — deterministic, unlike `max_by` under ties. */
  def dedupSurvivor(s: SparkSession, d: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(words(col("text")), 1, 8)))
    Tables.documents(s, d)
      .select(key.as("key"), col("doc_id"), col("n_chars"))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), col("doc_id"))).as("best"))
      .select(col("best.doc_id").as("doc_id"), col("best.n_chars").as("n_chars"),
        col("n_members"))
      .orderBy("doc_id")
  }

  /** Fuzzy dedup: normalize to the first 8 words (content-prefix chunk),
    * md5 it, keep the lowest doc_id per chunk hash. */
  def dedupFuzzy(s: SparkSession, d: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(words(col("text")), 1, 8)))
    val w = Window.partitionBy("key").orderBy("doc_id")
    Tables.documents(s, d)
      .withColumn("key", key)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  private val Seeds = 0 until 4

  /** MinHash + LSH with 4 hash seeds in 2 bands of 2 (r=2, b=2): docs
    * sharing any band bucket (both minhashes of the band equal) are
    * duplicate candidates; each doc reports the minimum doc_id it shares a
    * bucket with (`keeper`). Band size 1 flags ~half the corpus on this
    * small-vocabulary fixture; r=2 flags 26 ≈ the ~24 planted near-dups.
    * The four hashes are 8-hex-char slices of ONE md5 per shingle
    * (TextFeatures.minhashSlice) — string-min over a hex slice == numeric
    * minhash, at a quarter of the digest cost. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame = {
    // bandBuckets: explode + partial-aggregated mins — the map-side combine
    // reduces the shuffle to one signature row per doc per partition, and
    // the whole hash pipeline stays in codegen (an array-HOF formulation
    // avoids the explode but runs interpreted lambdas — measured 6× slower).
    // Keeper per bucket as a window min: one shuffle on bkey, instead of
    // the groupBy + re-join formulation (two shuffles + a join).
    val wb = Window.partitionBy("bkey")
    bandBuckets(s, d).withColumn("bmin", min("doc_id").over(wb))
      .groupBy("doc_id").agg(min("bmin").as("keeper"))
      .withColumn("is_dup", (col("keeper") < col("doc_id")).cast("int"))
      .orderBy("doc_id")
  }

  /** Production LSH parameters for [[dedupMinhashWide]]: b=16 bands of r=4
    * rows = 64 permutations. The S-curve threshold is (1/b)^(1/r) ≈ 0.5
    * 3-shingle Jaccard — pairs above ~0.8 are caught with probability
    * 1-(1-0.8⁴)¹⁶ ≈ 0.9998, pairs below ~0.2 with ≤ 2.5%.
    * [[DedupRecallSpec]] measures recall/false-flag rate against exact
    * shingle-Jaccard ground truth on the planted near-duplicates. */
  private[ops] val WideR = 4
  private[ops] val WideB = 16

  /** The single-hash affine permutation family for wide MinHash: one
    * md5 per shingle, truncated to its first 8 hex chars (a 32-bit
    * integer h), then permutation p is the affine transform
    * `(A(p)·h + B(p)) mod MinhashPrime` — 64 integer ops instead of 16
    * digests per shingle, the cost term that dominates MinHash dedup at
    * 100 TB. MinhashPrime = 2⁶¹−1 (Mersenne); A(p) < 2³⁰ keeps
    * A·h < 2⁶² so the arithmetic is exact signed-64-bit in both Spark
    * and the DuckDB oracle (which errors on BIGINT overflow — staying
    * under 2⁶³ is load-bearing, not just tidy). The A/B constants come
    * from a fixed SplitMix64 mix of the permutation index, inlined as
    * literals into the Spark plan and the generated oracle SQL alike. */
  private[ops] val MinhashPrime = 2305843009213693951L // 2^61 - 1
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[ops] def affineA(p: Int): Long = ((mix64(2L * p) & Long.MaxValue) % ((1L << 30) - 1)) + 1
  private[ops] def affineB(p: Int): Long = (mix64(2L * p + 1) & Long.MaxValue) % MinhashPrime

  /** Doc→band-bucket incidence at configurable (r, b): r·b permutations
    * derived from ONE md5 per shingle via the affine family above. Scale
    * shape is the narrow one: the only wide thing on the shuffle is the
    * r·b-slot signature row, one per doc per map partition (map-side
    * combined), and candidates meet strictly through band-bucket
    * equi-joins. Band keys are "|"-separated so variable-width integer
    * minhashes can never alias across slot boundaries. */
  private[ops] def bandBucketsParam(s: SparkSession, d: String, r: Int, b: Int): DataFrame = {
    val nPerms = r * b
    // Spread before the shingle explode: the per-shingle md5 + r·b affine
    // permutations are the dominant CPU and would otherwise run inside the
    // one-task scan stage (single-row-group fixture files — see Spread)
    val sh = graft.util.Spread(
      Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(shingles3(words(col("text")), col("text"))).as("shingle"))
    val h = conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")
    val withH = sh.select(col("doc_id"), h.as("h"))
    val mins = (0 until nPerms).map(p =>
      min((col("h") * affineA(p) + affineB(p)) % MinhashPrime).as(s"mh$p"))
    val sig = withH.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bands = (0 until b).map { j =>
      concat_ws("|", lit(s"$j") +: (0 until r).map(i => col(s"mh${j * r + i}")): _*)
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bkey"))
  }

  /** MinHash+LSH dedup at production parameters (64 permutations, r=4,
    * b=16) — the wide-signature variant of [[dedupMinhash]]. Same keeper
    * semantics: a doc is flagged when any of its 16 band buckets contains a
    * lower doc_id. */
  def dedupMinhashWide(s: SparkSession, d: String): DataFrame = {
    val wb = Window.partitionBy("bkey")
    bandBucketsParam(s, d, WideR, WideB)
      .withColumn("bmin", min("doc_id").over(wb))
      .groupBy("doc_id").agg(min("bmin").as("keeper"))
      .withColumn("is_dup", (col("keeper") < col("doc_id")).cast("int"))
      .orderBy("doc_id")
  }

  private val SimBits = 16

  /** SimHash: one md5 per word; each of the first 16 hex digits contributes
    * ±1 to a bit depending on whether it is >= '8' (an even split of the
    * hex alphabet); the sign vector is the fingerprint. Fingerprint
    * collisions are near-duplicates. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // one compiled pass per document (graft.functions.SimHash16) — the
    // explode + 16-partial-sums formulation it replaced spent its time
    // materializing a words-cardinality row expansion; the expression is
    // bit-identical to that formulation and to the oracle's SQL
    val sig = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.SimHash16.simhash(words(col("text"))).as("fp"))
    val keeper = sig.groupBy("fp").agg(min("doc_id").as("keeper"))
    sig.join(keeper, "fp")
      .select(col("doc_id"), col("fp"), col("keeper"),
        (col("keeper") < col("doc_id")).cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  /** Hamming radius for [[simhashHamming]]. With the 16-bit fixture
    * fingerprint split into 2 blocks of 8, the pigeonhole principle
    * guarantees every pair within hamming ≤ 1 shares at least one intact
    * block — so block-equality candidate generation is EXACT for k=1. (A
    * production 64-bit simhash uses 4 blocks of 16 for k ≤ 3 — same
    * structure, wider fingerprint.) */
  private[ops] val HammingK = 1

  /** Fixture fingerprint width ([[graft.functions.SimHash16]]). */
  private[ops] val SimhashBits = 16

  /** Pigeonhole block-LSH hamming-≤k neighbors over an arbitrary
    * (doc_id, fp) frame of fpBits-wide bit-string fingerprints —
    * PARAMETERIZED in fingerprint and radius (ADVICE round 4) so the
    * production shape (64-bit fp, 4 blocks, k ≤ 3) is this same code
    * path, not a rewrite. The fingerprint splits into k+1 contiguous
    * blocks — a ceil/floor split when fpBits doesn't divide evenly, so
    * ANY radius k ≤ fpBits−1 is supported (e.g. k=2 at 64 bits gives
    * blocks of 22/21/21). The pigeonhole argument needs only that the
    * k+1 blocks are nonempty and disjoint, not equal-width: a pair
    * within hamming ≤ k differs in at most k blocks, so it shares at
    * least one intact block — candidate generation through
    * block-equality buckets is EXACT for radius k, never all-pairs. The true distance is then verified with one
    * `bit_count(xor)` per candidate, and each doc reports its nearest
    * earlier neighbor — min (distance, doc_id) — so output stays one row
    * per document at any scale. A pair colliding on several blocks enters
    * the aggregate that many times with the same distance; min() absorbs
    * the duplicates without a distinct shuffle. */
  private[graft] def simhashNeighbors(sigIn: DataFrame, fpBits: Int, k: Int): DataFrame = {
    require(k + 1 <= fpBits,
      s"radius k=$k needs ${k + 1} nonempty pigeonhole blocks out of $fpBits bits")
    val nb = k + 1
    val widths = (0 until nb).map(i => fpBits / nb + (if (i < fpBits % nb) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sig = graft.util.Ckpt.stage(sigIn)
    val blocks = sig.select(col("doc_id"), col("fp"),
      posexplode(array((0 until nb).map(i =>
        substring(col("fp"), offsets(i) + 1, widths(i))): _*)))
      .withColumnRenamed("pos", "bidx").withColumnRenamed("col", "bval")
    val a = blocks.select(col("doc_id").as("d1"), col("fp").as("fp1"),
      col("bidx"), col("bval"))
    val b = blocks.select(col("doc_id").as("d2"), col("fp").as("fp2"),
      col("bidx").as("bidx2"), col("bval").as("bval2"))
    // SIGNED conv (negative toBase): unsigned conv renders fingerprints
    // ≥ 2⁶³ as decimal strings that overflow the bigint cast to NULL —
    // at the 64-bit production width that silently dropped ~75% of
    // candidate pairs. Signed keeps the exact bit pattern, and XOR /
    // bit_count are bit-pattern operations, so distances are unchanged
    // at every width.
    val hd = expr("bit_count(cast(conv(fp1, 2, -10) as bigint) ^ cast(conv(fp2, 2, -10) as bigint))")
    val nn = a.join(b,
        col("bidx") === col("bidx2") && col("bval") === col("bval2") &&
        col("d1") < col("d2"))
      .withColumn("hd", hd).filter(col("hd") <= k)
      .groupBy("d2").agg(min(struct(col("hd"), col("d1"))).as("best"))
    sig.select(col("doc_id"))
      .join(nn, col("doc_id") === col("d2"), "left")
      .select(col("doc_id"), col("best.d1").as("nn_doc"), col("best.hd").as("nn_hd"),
        col("best").isNotNull.cast("int").as("has_neardup"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup at hamming distance ≤ [[HammingK]] — the operator
    * [[dedupSimhash]]'s exact-collision groupBy structurally misses: two
    * docs one flipped bit apart never share a fingerprint but ARE
    * near-duplicates. The [[simhashNeighbors]] block-LSH instantiated at
    * the fixture shape (16-bit fp, 2×8-bit blocks, k=1); the oracle's
    * brute-force pair join is oracle-only. */
  def simhashHamming(s: SparkSession, d: String): DataFrame =
    simhashNeighbors(
      Tables.documents(s, d).select(col("doc_id"),
        graft.functions.SimHash16.simhash(words(col("text"))).as("fp")),
      SimhashBits, HammingK)

  /** The doc→LSH-band-bucket incidence used by both the pairwise minhash
    * query and the cluster closure. */
  private def bandBuckets(s: SparkSession, d: String,
      spreadInput: Boolean = true): DataFrame =
    bandBucketsOf(Tables.documents(s, d), spreadInput)

  /** [[bandBuckets]] over an arbitrary (doc_id, text, …) frame — lets a
    * composed pipeline (e.g. `Curation.curationPipeline`) run LSH banding
    * over an already-filtered survivor set instead of the raw table.
    *
    * `spreadInput` parallelizes the per-shingle md5 pass off the one-task
    * fixture scan ([[graft.util.Spread]]) — measured −0.3 s on the
    * one-shot consumers (q_dedup_minhash, q_dedup_incremental). The CC
    * LOOP consumers ([[dedupClusters]]) pass false: they re-read the
    * staged incidence 2×/round, so a wide cached layout taxes every round
    * for more than the one-time hash pass saves (+0.3 s measured). */
  private[graft] def bandBucketsOf(docs: DataFrame,
      spreadInput: Boolean = true): DataFrame = {
    val in =
      if (spreadInput)
        graft.util.Spread(docs.select(col("doc_id"), col("text")), col("doc_id"))
      else docs
    val sh = in
      .select(col("doc_id"),
        explode(shingles3(words(col("text")), col("text"))).as("shingle"))
      .withColumn("h", md5(col("shingle")))
    val sig = sh.groupBy("doc_id")
      .agg(
        min(minhashSlice(col("h"), Seeds.head)).as(s"mh${Seeds.head}"),
        Seeds.tail.map(i => min(minhashSlice(col("h"), i)).as(s"mh$i")): _*)
    // bkey concatenates UNSEPARATED minhash slices: unambiguous only
    // because minhashSlice always yields exactly 8 hex chars (fixed-width
    // invariant, shared with the mirrored oracle SQL) — if the slice
    // scheme ever changes width, add a separator in BOTH engines
    sig.select(col("doc_id"),
      explode(array(
        concat(lit("0|"), col("mh0"), col("mh1")),
        concat(lit("1|"), col("mh2"), col("mh3")))).as("bkey"))
  }

  /** Duplicate CLUSTERS (not just pairs): connected components of the
    * doc↔band-bucket graph via iterative min-label propagation — label(doc)
    * = min doc_id reachable through shared buckets. This is the step a
    * production dedup actually needs (pick one survivor per transitive
    * cluster; pairwise flags over-delete chains A~B~C where A≁C).
    *
    * Scale shape: each round is two key-partitioned aggregates (labels
    * never carry document bodies), and `Ckpt.stage` truncates the
    * lineage each round — the standard Spark iterative-algorithm pattern
    * (what GraphX does internally); set `spark.graft.checkpoint.dir` for
    * a durable checkpoint that survives executor loss. Rounds needed = graph diameter in
    * doc→bucket→doc hops; near-dup clusters are shallow (planted chains
    * converge in 2-3), with a hard cap as a safety net. The driver-side
    * loop holds only a changed-row COUNT, never data. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClustersFrom(
      graft.util.Ckpt.stage(bandBuckets(s, d, spreadInput = false)))

  /** [[dedupClusters]] over an ALREADY-STAGED bucket incidence — so a
    * composed consumer ([[graft.ops.TrainingPrep.clusterSplit]]) that
    * also needs the incidence for its own candidate pairs builds the
    * shingle+minhash pass ONCE instead of twice (r14, guide §2.4).
    *
    * Deliberately NOT [[Similarity.minLabelComponents]]: this loop runs
    * on the bipartite doc↔bucket incidence, two key-partitioned
    * aggregates per round and no pointer jump. Rewriting it as star
    * edges (doc, bucket-min doc) fed to the shared path-halving loop
    * gave identical labels in 2 rounds, but slowed `q_dedup_clusters`
    * on the llm_curation benchmark in all 4 alternating pairs (seeds
    * 11–14: 3.11/3.34/5.98/4.94 s vs 2.93/2.59/3.87/3.55 s; op_tail_s
    * +12–57%). The two loops share no logic, so they stay separate. */
  private[graft] def dedupClustersFrom(buckets: DataFrame): DataFrame = {
    // seed with one propagation round already applied: label(doc) = min
    // doc_id over the doc's buckets (each doc is in its own buckets, so the
    // seed is ≤ doc_id). Equivalent to initializing label=doc_id and
    // running the loop body once, but without the loop's join against the
    // previous labels — saves a full round on shallow graphs.
    var labels = buckets
      .join(buckets.groupBy("bkey").agg(min("doc_id").as("bl")), "bkey")
      .groupBy("doc_id").agg(min("bl").as("label"))
      .transform(graft.util.Ckpt.stage)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < 20) {
      val bucketMin = buckets.join(labels, "doc_id")
        .groupBy("bkey").agg(min("label").as("bl"))
      val next = buckets.join(bucketMin, "bkey")
        .groupBy("doc_id").agg(min("bl").as("nl"))
        .join(labels, "doc_id")
        .select(col("doc_id"), least(col("nl"), col("label")).as("label"),
          (col("nl") < col("label")).cast("int").as("chg"))
        .transform(graft.util.Ckpt.stage)
      // coalesce: sum over an empty label set is null (empty input corpus)
      changed = next.agg(coalesce(sum("chg"), lit(0L))).collect()(0).getLong(0)
      labels = next.select("doc_id", "label")
      rounds += 1
    }
    labels
      .withColumn("is_dup", (col("label") < col("doc_id")).cast("int"))
      .withColumnRenamed("label", "cluster")
      .orderBy("doc_id")
  }

  /** Document-frequency cap on the Jaccard blocking bigrams (VERDICT
    * round-3 item 7): a bigram present in D docs of a (lang, source)
    * block creates ~D²/2 candidate pairs in the self-join, so one
    * stopword-pair bigram at 100× data is an unbounded hot block. Bigrams
    * with block-df above the cap are excluded from the bigram SPACE
    * (blocking, intersections, and set sizes alike — i.e. Jaccard over
    * the df≤cap vocabulary, a self-consistent semantics mirrored verbatim
    * in the oracle SQL), which bounds every join block to ≤ cap rows. The
    * fixture's max block-df is 17 (sf0.1), far under the cap, so fixture
    * results are bit-identical with or without it ([[DedupRecallSpec]]
    * asserts this, and the CORRECTNESS hash is unchanged). */
  private[ops] val JaccardDfCap = 1000

  /** Pairwise bigram-set Jaccard similarity, blocked by (lang, source) and
    * met through shared bigrams (equi-join, no cross product), with hot
    * blocking bigrams dropped by [[JaccardDfCap]]. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardCapped(s, d, JaccardDfCap)

  /** (doc_id, lang, source, bg) incidence of distinct bigrams with
    * block-df > dfCap removed — the shared front end of the pairwise
    * set-similarity queries ([[ngramJaccardCapped]], [[containmentCapped]]).
    * Materialized once (Ckpt.stage): the explode feeds both self-join
    * branches and the size dimension — without it the ngram computation
    * runs three times. The window df-count shares the staged frame; rows
    * of over-cap bigrams never reach the join. */
  private def cappedBigramIncidence(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val wdf = Window.partitionBy("bg", "lang", "source")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(bigrams(words(col("text"))))).as("bg"))
      .withColumn("df", count(lit(1)).over(wdf))
      .filter(col("df") <= dfCap)
      .drop("df")
      .transform(graft.util.Ckpt.stage)
  }

  /** (d1 < d2, inter, n1, n2) — blocked pair-intersection counts with both
    * docs' set sizes, over the df-capped bigram incidence: the shared tail
    * of every pairwise set-similarity metric ([[ngramJaccardCapped]],
    * [[containmentCapped]]). One equi-join through shared bigrams (never
    * all-pairs), one pair aggregate, two broadcast size joins. */
  private def pairsWithSizes(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val bg = cappedBigramIncidence(s, d, dfCap)
    val sizes = bg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = bg.select(col("doc_id").as("d1"), col("lang").as("lg"), col("source").as("sc"), col("bg"))
    val b = bg.select(col("doc_id").as("d2"), col("lang").as("lg2"), col("source").as("sc2"), col("bg").as("bg2"))
    a.join(b,
        col("bg") === col("bg2") && col("lg") === col("lg2") && col("sc") === col("sc2") &&
        col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("doc_id").as("d1"), col("n").as("n1"))), "d1")
      .join(broadcast(sizes.select(col("doc_id").as("d2"), col("n").as("n2"))), "d2")
  }

  private[graft] def ngramJaccardCapped(s: SparkSession, d: String, dfCap: Int): DataFrame =
    pairsWithSizes(s, d, dfCap)
      .withColumn("jaccard", Det.q4(col("inter") / (col("n1") + col("n2") - col("inter"))))
      .filter(col("jaccard") >= 0.05)
      .select(col("d1"), col("d2"), col("inter"), col("jaccard"))
      .orderBy("d1", "d2")

  /** Asymmetric bigram-set containment, |A∩B|/|A| in each direction —
    * the subset-duplication detector Jaccard structurally misses: a short
    * document quoted whole inside a long one has Jaccard ≈ |A|/|B| (→ 0
    * as B grows) but containment(A,B) = 1. Same blocked, df-capped
    * equi-join skeleton as [[ngramJaccard]] (shared front end, no
    * all-pairs anywhere); both directed ratios are emitted and a pair
    * surfaces when either direction reaches 0.5. */
  def containment(s: SparkSession, d: String): DataFrame =
    containmentCapped(s, d, JaccardDfCap)

  private[graft] def containmentCapped(s: SparkSession, d: String, dfCap: Int): DataFrame =
    pairsWithSizes(s, d, dfCap)
      .withColumn("cont_a_in_b", Det.q4(col("inter") / col("n1")))
      .withColumn("cont_b_in_a", Det.q4(col("inter") / col("n2")))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.5)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        col("cont_a_in_b"), col("cont_b_in_a"))
      .orderBy("d1", "d2")

  /** Incremental dedup: flag each INCOMING document (the fixture's
    * `src19` plays the new crawl batch) that LSH-band-collides with any
    * document already in the corpus (every other source) — the
    * batch-over-existing-index shape a production dedup runs daily,
    * where re-clustering the whole corpus per batch would be absurd.
    * `first_match` is the smallest colliding corpus doc (the evidence
    * row a triage UI shows).
    *
    * Scale: both sides reduce to (doc_id, bkey) incidence; the corpus
    * side pre-aggregates to one row per bucket (its signature index —
    * at 100 TB this is the precomputed, stored artifact, rebuilt
    * incrementally), and the join is bucket-keyed — incoming docs never
    * meet corpus docs directly, only through O(batch × bands) bucket
    * rows. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val bk = graft.util.Ckpt.stage(bandBuckets(s, d).join(src, "doc_id"))
    val corpusIdx = bk.filter(col("source") =!= "src19")
      .groupBy("bkey").agg(min("doc_id").as("hit"))
    bk.filter(col("source") === "src19")
      .join(corpusIdx, Seq("bkey"), "left")
      .groupBy("doc_id")
      .agg(min("hit").as("first_match"))
      .select(col("doc_id"), col("first_match"),
        col("first_match").isNotNull.cast("int").as("is_dup_vs_corpus"))
      .orderBy("doc_id")
  }

  /** Estimator-quality audit for the wide MinHash family: for every LSH
    * candidate pair (docs sharing ≥ 1 of the 16 band buckets), the
    * signature-estimated Jaccard (matching permutations / 64) against the
    * EXACT distinct-shingle Jaccard, with the absolute error — the
    * measurement that justifies trusting [[dedupMinhashWide]]'s flags at
    * scale, run on the same engine that serves them.
    *
    * Scale shape: exact Jaccard is computed ONLY for LSH candidates (the
    * S-curve bounds candidate volume — never all-pairs) via a
    * pair×shingle equi-join on the candidate set; signatures ride the
    * pair join as 64-slot arrays, compared with a 64-term codegen'd sum
    * (no interpreted HOF lambdas); the match count / nPerms division is
    * by a power of two, exact in IEEE in both engines. The ONE staged
    * 64-column signature frame feeds both the per-pair arrays and the
    * band keys — per-shingle hashing is the dominant cost at scale and
    * must not run twice. */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val q4 = graft.util.Det.q4 _
    val nPerms = WideR * WideB
    val sh = graft.util.Spread(
      Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(shingles3(words(col("text")), col("text"))).as("shingle"))
    val h = conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")
    val mins = (0 until nPerms).map(p =>
      min((col("h") * affineA(p) + affineB(p)) % MinhashPrime).as(s"mh$p"))
    val sigWide = graft.util.Ckpt.stage(
      sh.select(col("doc_id"), h.as("h")).groupBy("doc_id")
        .agg(mins.head, mins.tail: _*))
    val sig = sigWide.select(col("doc_id"),
      array((0 until nPerms).map(p => col(s"mh$p")): _*).as("sig"))
    val bandCols = (0 until WideB).map { j =>
      concat_ws("|", lit(s"$j") +: (0 until WideR).map(i => col(s"mh${j * WideR + i}")): _*)
    }
    val bk = sigWide.select(col("doc_id"), explode(array(bandCols: _*)).as("bkey"))
    val pairs = graft.util.Ckpt.stage(
      bk.select(col("doc_id").as("d1"), col("bkey"))
        .join(bk.select(col("doc_id").as("d2"), col("bkey").as("bk2")),
          col("bkey") === col("bk2") && col("d1") < col("d2"))
        .select("d1", "d2").distinct())
    val nMatch = (0 until nPerms)
      .map(p => (col("s1").getItem(p) === col("s2").getItem(p)).cast("int"))
      .reduce(_ + _)
    val est = pairs
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
      .select(col("d1"), col("d2"), nMatch.cast("long").as("n_match"))
    val ds = graft.util.Ckpt.stage(sh.distinct())
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(ds.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(ds.select(col("doc_id").as("did2"), col("shingle").as("sh2")),
        col("d2") === col("did2") && col("shingle") === col("sh2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("d1", "d2"), "left")
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("d1"), col("d2"), col("n_match"),
        q4(col("n_match") / lit(nPerms.toDouble)).as("est_j"),
        q4(col("inter") / (col("n1") + col("n2") - col("inter"))).as("exact_j"))
      .withColumn("abs_err", q4(abs(col("est_j") - col("exact_j"))))
      .orderBy("d1", "d2")
  }

  /** Thresholds swept by [[minhashPr]] — the working range of a dedup
    * similarity cutoff. */
  private[ops] val MinhashPrTaus = Seq(0.2, 0.4, 0.6, 0.8)

  /** Precision/recall of the MinHash Jaccard ESTIMATE against the exact
    * shingle Jaccard at each candidate threshold — the step between
    * [[minhashEstimate]]'s per-pair audit and actually PICKING the dedup
    * cutoff: per τ, the confusion counts of (est ≥ τ) vs (exact ≥ τ)
    * over the LSH candidate pairs, with precision ("flagged pairs that
    * are really ≥ τ") and recall ("really-≥ τ candidates we flag"). Read
    * with [[lshTuning]]'s S-curves: that query says which pairs reach
    * the table, this one says how trustworthy the signature is once
    * they do.
    *
    * Determinism: est_j/exact_j are [[minhashEstimate]]'s quantized
    * values (bit-identical cross-engine), compared against shared double
    * constants; confusion cells are integer sums; precision/recall are
    * ONE division each, 6-dp floor-quantized, null on empty denominators
    * (stated, never NaN).
    *
    * Scale shape: rides the staged [[minhashEstimate]] frame (never
    * all-pairs); the τ sweep is a row-local 4-struct explode into one
    * map-side-combined aggregate over 4 groups. */
  def minhashPr(s: SparkSession, d: String): DataFrame = {
    val est = graft.util.Ckpt.stage(
      minhashEstimate(s, d).select(col("est_j"), col("exact_j")))
    est.select(explode(array(MinhashPrTaus.map(t => struct(lit(t).as("tau"),
        (col("est_j") >= t).cast("long").as("p"),
        (col("exact_j") >= t).cast("long").as("a"))): _*)).as("x"))
      .groupBy(col("x.tau").as("tau"))
      .agg(count(lit(1)).as("n_cand"),
        sum(col("x.p") * col("x.a")).as("tp"),
        sum(col("x.p") * (lit(1L) - col("x.a"))).as("fp"),
        sum((lit(1L) - col("x.p")) * col("x.a")).as("fn"),
        sum((lit(1L) - col("x.p")) * (lit(1L) - col("x.a"))).as("tn"))
      .select(col("tau"), col("n_cand"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(graft.util.Det.q6(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double"))).as("precision"),
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(graft.util.Det.q6(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double"))).as("recall"))
      .orderBy("tau")
  }

  /** Dedup method-agreement matrix: per-document duplicate flags from
    * all SIX families — exact text, demo MinHash r=2·b=2, production
    * MinHash r=4·b=16, SimHash exact-collision, SemDeDup semantic
    * components, and embedding near-dup — joined into one row of totals
    * and pairwise overlaps: the complete method dashboard a pipeline
    * owner reads to pick a method and threshold (near-dup surplus over
    * the exact set, S-curve movement between MinHash parameterizations,
    * and how far the MEANING-side families diverge from the surface-text
    * ones). Flags LEFT-join from the full documents key set with
    * coalesce(flag, 0) — a document too short to shingle (absent from
    * both minhash frames) still counts in n_docs and can still be an
    * exact duplicate (ADVICE round 5). The embedding families key on the
    * fixture's 1:1 vec_id = doc_id correspondence. The joins carry two
    * narrow columns regardless of corpus size, and each input is itself
    * a scale-shaped dedup query. */
  /** (family label, flag column, total column) — pairwise overlap names
    * derive from the label order, so keep appends at the end. */
  private val CompareFams = Seq(
    ("exact", "f_exact", "n_exact"),
    ("minhash", "f_mh", "n_minhash"),
    ("wide", "f_mhw", "n_minhash_wide"),
    ("simhash", "f_sh", "n_simhash"),
    ("semantic", "f_sem", "n_semantic"),
    ("embed", "f_emb", "n_embed"))

  /** The per-doc six-family flag frame (doc_id, f_exact…f_emb) shared by
    * [[dedupMethodCompare]] and [[dedupSavings]] — every doc present,
    * absent flags coalesced to 0. */
  private def familyFlags(s: SparkSession, d: String): DataFrame = {
    val fe = Tables.documents(s, d).select(col("doc_id"))
      .join(dedupExact(s, d).select(col("doc_id"), lit(1).as("surv")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("surv").isNull.cast("int").as("f_exact"))
    // ONE banded-LSH pair generation feeds BOTH embedding flags: the
    // semantic components and the direct near-dup endpoint flag derive
    // from the same staged frame (round 9 — the unshared version ran
    // bandedPairs twice per flag query)
    val embPairs = graft.util.Ckpt.stage(
      Similarity.embedNeardup(s, d).select("id1", "id2"))
    val flagFrames = Seq(
      dedupMinhash(s, d).select(col("doc_id"), col("is_dup").as("f_mh")),
      dedupMinhashWide(s, d).select(col("doc_id"), col("is_dup").as("f_mhw")),
      dedupSimhash(s, d).select(col("doc_id"), col("is_dup").as("f_sh")),
      Similarity.semanticComponents(s, d, embPairs)
        .select(col("vec_id").as("doc_id"), col("is_dup").as("f_sem")),
      embPairs
        .select(col("id2").as("doc_id")).distinct()
        .withColumn("f_emb", lit(1)))
    flagFrames.foldLeft(fe)((acc, f) => acc.join(f, Seq("doc_id"), "left"))
      .select(col("doc_id") +: CompareFams.map { case (_, c, _) =>
        coalesce(col(c), lit(0)).as(c) }: _*)
  }

  /** Version tag for the materialized flags artifact — bump on any change
    * to [[familyFlags]] semantics to invalidate all cached runs. */
  private val FlagsVersion = "v1"

  /** Flag-once/audit-many (VERDICT r10 item 3): the six-family flag frame
    * is the shared front end of SEVEN queries (compare, savings, kappa,
    * Cochran Q, Fleiss kappa, McNemar, report) — ~45 s of the r10 driver
    * bench was this one frame computed seven times. Rides
    * [[graft.util.Served]] (VERDICT r11 item 4: this method used to
    * re-implement the fingerprint-key/atomic-publish/stage-force
    * plumbing verbatim): first consumer in a session materializes the
    * flags as Parquet under the run-manifest layout; every later
    * consumer's plan is a bare parquet scan with ZERO flag-derivation
    * lineage. [[familyFlags]] is deterministic and oracled green, and
    * int/long columns round-trip Parquet exactly, so serving never
    * changes results — only plans. */
  private def familyFlagsServed(s: SparkSession, d: String): DataFrame =
    graft.util.Served.frame(s, "dedup_flags", FlagsVersion, d,
      Seq("documents.parquet", "embeddings.parquet"), "flags") {
      familyFlags(s, d)
    }

  def dedupMethodCompare(s: SparkSession, d: String): DataFrame =
    compareFrom(familyFlagsServed(s, d))

  /** [[dedupMethodCompare]]'s aggregation over an already-built flags
    * frame — shared with [[dedupReport]], which stages ONE familyFlags
    * and derives every agreement statistic from it. */
  private def compareFrom(joined: DataFrame): DataFrame = {
    val fams = CompareFams
    val totals = fams.map { case (_, c, nm) => sum(col(c)).as(nm) }
    val overlaps = for {
      i <- fams.indices; j <- fams.indices if i < j
    } yield sum(col(fams(i)._2) * col(fams(j)._2))
      .as(s"${fams(i)._1}_and_${fams(j)._1}")
    joined.agg(count(lit(1)).as("n_docs"), (totals ++ overlaps): _*)
  }

  /** Dedup cost/benefit per family — the number the matrix of flags turns
    * into a budget decision: if family F's flagged docs are dropped, how
    * many documents and TOKENS disappear, and what share of the corpus'
    * tokens that is. [[dedupMethodCompare]] says the families agree;
    * this says which one pays for its candidate-generation cost.
    *
    * Determinism: flags are the audited [[familyFlags]] frame; token
    * counts are row-local whitespace counts; all sums BIGINT, the share
    * one integer ppm division. Scale shape: flags × tokens join on
    * doc_id (narrow), then stack() unpivots row-locally to 6 rows per
    * doc and one ≤6-row aggregate — nothing beyond the matrix's own
    * bucket-bounded inputs. */
  def dedupSavings(s: SparkSession, d: String): DataFrame =
    savingsFrom(s, d, familyFlagsServed(s, d))

  /** [[dedupSavings]] over an already-built flags frame (the
    * [[dedupReport]] sharing seam). */
  private def savingsFrom(s: SparkSession, d: String, ff: DataFrame): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("t"))
    val tot = toks.agg(sum("t").as("tot"))
    ff.join(toks, "doc_id")
      .select(col("t"), expr(
        """stack(6,
          |  'exact', f_exact, 'minhash', f_mh, 'wide', f_mhw,
          |  'simhash', f_sh, 'semantic', f_sem, 'embed', f_emb)
          |AS (family, flag)""".stripMargin))
      .groupBy("family")
      .agg(
        sum(col("flag").cast("long")).as("n_flagged"),
        sum(col("flag").cast("long") * col("t")).as("tokens_flagged"))
      .crossJoin(broadcast(tot))
      .withColumn("token_share_ppm", expr("tokens_flagged * 1000000 div tot"))
      .drop("tot")
      .orderBy("family")
  }

  /** Normalized-form exact dedup: group-size histogram of documents after
    * text canonicalization (lowercase, strip non-alphanumerics, collapse
    * runs of spaces, trim) — the standard normalization pass that catches
    * duplicates [[dedupExact]]'s byte-identity misses (case flips,
    * punctuation edits, whitespace reflow) while staying a pure
    * hash-groupBy with none of the LSH machinery. Reported as a
    * group-size histogram: (group_size, n_groups), the shape of the
    * collapse (size-1 rows = already unique).
    *
    * Determinism: lower() and the character-class regexes are
    * ASCII-deterministic and semantically identical in Java regex and
    * RE2; the Spark side keys on md5(norm) so the shuffle carries a
    * 32-char digest, never the body (the [[dedupExact]] discipline),
    * while the oracle groups the raw normalized string — the driver
    * compare proves digest-keying equivalence on every run.
    *
    * Scale shape: two keyed aggregates over digests; the second runs
    * over group sizes (domain ≤ max multiplicity). Linear, no joins. */
  def dedupNorm(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, d)
      .select(md5(norm).as("key"))
      .groupBy("key").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
      .orderBy("group_size")
  }

  /** Near-dup CLUSTER-size distribution: the [[dedupClusters]] transitive
    * closure reduced to its shape — (cluster_size, n_clusters). The
    * companion audit to [[dedupNorm]]'s exact histogram: exact groups say
    * how much byte-identity collapse is available; cluster sizes say how
    * much *fuzzy* collapse LSH finds, and a heavy tail here (one giant
    * component) is the classic sign of an over-permissive banding scheme
    * chaining unrelated docs — the first chart a dedup operator looks at
    * before committing a survivor policy.
    *
    * Determinism: inherits [[dedupClusters]]'s min-label fixpoint (exact
    * integer labels, engine-replayed via the recursive CTE); the two
    * count aggregates are exact. Scale shape: the closure's labels frame
    * is (doc_id, cluster) — two further keyed aggregates over it, the
    * second over the size domain (≤ max component size). Nothing beyond
    * [[dedupClusters]]'s own cost. */
  def componentSizes(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Candidate-pair similarity histogram — the banding-quality audit for
    * the LSH pipeline: bucket the [[ngramJaccard]] candidate pairs by
    * their exact Jaccard (decile bins). Mass piled in the low bins means
    * the blocking scheme wastes verification work on near-misses (bands
    * too permissive); mass at the top is real duplication. Read next to
    * [[componentSizes]], this is how (b, r) gets re-tuned before a 100 TB
    * run — from measured candidate quality, not the theoretical S-curve.
    *
    * Determinism: the bucket is floor(jaccard·10) on the 4-dp audited
    * similarity (one IEEE multiply+floor on identical doubles); counts
    * and intersection sums are BIGINT. Scale shape: one ≤10-row
    * aggregate over the pair frame — nothing beyond [[ngramJaccard]]'s
    * own bounded-block cost. */
  def jaccardHist(s: SparkSession, d: String): DataFrame =
    ngramJaccard(s, d)
      .select(
        least(lit(9L), floor(col("jaccard") * lit(10.0)).cast("long")).as("bucket"),
        col("inter"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("inter").cast("long").as("sum_inter"))
      .orderBy("bucket")

  /** Cross-source exact-duplicate matrix — which source PAIRS ship the
    * same bytes: for every pair of sources, the number of distinct
    * document texts present in both. The leakage screen a multi-source
    * corpus runs before attributing quality or licensing per source
    * (a "unique" source whose content is a mirror shows up immediately);
    * complements [[graft.ops.Curation.sourceOverlap]]'s bigram
    * SIMILARITY matrix with byte-identity evidence.
    *
    * Determinism: the incidence is DISTINCT (source, digest); the Spark
    * side keys on md5 so the shuffle carries 32-char digests, never
    * bodies, while the oracle joins raw texts — the driver compare
    * proves digest-keying equivalence (the [[dedupNorm]] discipline).
    *
    * Scale shape: one distinct aggregate; the digest self-join's
    * fan-out per digest is ≤ n_sources (fixed, small) so the meet is
    * linear in distinct texts; the full n_sources² pair grid (absent
    * pairs reported as 0 — a zero is the finding) is built from two
    * broadcast-sized source lists. */
  def crossSourceDup(s: SparkSession, d: String): DataFrame = {
    val inc = graft.util.Ckpt.stage(
      Tables.documents(s, d)
        .select(col("source"), md5(col("text")).as("k")).distinct())
    val shared = inc.select(col("k"), col("source").as("s1"))
      .join(inc.select(col("k").as("k2"), col("source").as("s2")),
        col("k") === col("k2") && col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
    // report the FULL pair grid — a zero is the finding (no mirroring),
    // so absent pairs must not silently vanish from the audit
    val srcs = Tables.documents(s, d).select(col("source")).distinct()
    srcs.select(col("source").as("s1"))
      .join(srcs.select(col("source").as("s2")), col("s1") < col("s2"))
      .join(shared, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"),
        coalesce(col("shared"), lit(0L)).as("n_shared_texts"))
      .orderBy("s1", "s2")
  }

  /** Cohen's κ between every pair of dedup families — the
    * chance-corrected completion of [[dedupMethodCompare]]: raw overlap
    * counts flatter any two families that both flag little (they "agree"
    * on the unflagged mass by default), κ subtracts the agreement two
    * independent flags with the same rates would produce. κ ≈ 1 means a
    * family is redundant (drop the expensive one); κ near 0 means the
    * families see DIFFERENT duplication and earn their joint cost — the
    * number the six-way matrix turns into a pipeline-composition
    * decision.
    *
    * Determinism: all agreement algebra is exact integers off the ONE
    * aggregated matrix row — po·N = N − na − nb + 2·both docs agreeing,
    * pe·N² = na·nb + (N−na)(N−nb) — promoted to DECIMAL(38,0)
    * (HUGEINT in the oracle; N² wraps BIGINT past ~3·10⁹ docs), and
    * κ = (N·agree − peN²)/(N² − peN²) is ONE correctly-rounded division
    * of two exact decimals, 6-dp-rounded. The degenerate denominator
    * (a family flagging all or no docs ⇒ pe = 1) yields NULL in both
    * engines via the same guard.
    *
    * Scale shape: zero work beyond [[dedupMethodCompare]] — the 15 pair
    * rows explode from its single aggregated row on the driver-side-free
    * path (one generator over a 1-row frame). */
  def dedupKappa(s: SparkSession, d: String): DataFrame =
    kappaFrom(dedupMethodCompare(s, d))

  /** [[dedupKappa]] off an already-aggregated compare row (the
    * [[dedupReport]] sharing seam). */
  private def kappaFrom(cmp: DataFrame): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val prs = for {
      i <- CompareFams.indices; j <- CompareFams.indices if i < j
    } yield struct(
      lit(CompareFams(i)._1).as("fa"), lit(CompareFams(j)._1).as("fb"),
      col(CompareFams(i)._3).as("na"), col(CompareFams(j)._3).as("nb"),
      col(s"${CompareFams(i)._1}_and_${CompareFams(j)._1}").as("bt"))
    val px = cmp
      .select(col("n_docs"), explode(array(prs: _*)).as("p"))
      .select(col("p.fa").as("family_a"), col("p.fb").as("family_b"),
        col("n_docs"), col("p.na").as("n_a"), col("p.nb").as("n_b"),
        col("p.bt").as("n_both"))
    val n = col("n_docs")
    val agree = n - col("n_a") - col("n_b") + lit(2) * col("n_both")
    val peNum = col("n_a").cast(dec0) * col("n_b").cast(dec0) +
      (n - col("n_a")).cast(dec0) * (n - col("n_b")).cast(dec0)
    val denom = n.cast(dec0) * n.cast(dec0) - peNum
    px.select(col("family_a"), col("family_b"), col("n_docs"),
        col("n_a"), col("n_b"), col("n_both"), agree.as("n_agree"),
        when(denom === lit(0), lit(null).cast("double"))
          .otherwise(Det.q6((n.cast(dec0) * agree.cast(dec0) - peNum).cast("double") /
              denom.cast("double"))).as("kappa"))
      .orderBy("family_a", "family_b")
  }

  /** One aggregated row of sufficient statistics for the k=6-rater
    * agreement tests ([[cochranQ]], [[fleissKappa]]): per-doc row sums
    * L_i over the six flags reduce to N, T = ΣL_i, ΣL_i², plus the six
    * column totals — everything both tests need, in one pass over
    * [[familyFlags]]. */
  private def raterStats(s: SparkSession, d: String): DataFrame =
    raterStatsFrom(familyFlagsServed(s, d))

  /** [[raterStats]] over an already-built flags frame (the
    * [[dedupReport]] sharing seam). */
  private def raterStatsFrom(ff: DataFrame): DataFrame = {
    val l = CompareFams.map(f => col(f._2)).reduce(_ + _).cast("long")
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(l).as("t"),
      sum(l * l).as("sum_l2")) ++
      CompareFams.map { case (_, c, nm) => sum(col(c).cast("long")).as(nm) }
    ff.agg(aggs.head, aggs.tail: _*)
  }

  /** Cochran's Q across all SIX dedup families jointly — the k-rater
    * completion of the pairwise [[dedupKappa]] dashboard: do the six
    * binary duplicate verdicts have the SAME marginal rate, or does at
    * least one family systematically flag more? Q = (k−1)·(k·ΣG_j² −
    * T²) / (k·T − ΣL_i²) is χ²_{k−1} under exchangeable raters (at k=2
    * it reduces exactly to McNemar's (b−c)²/(b+c)), so
    * Q ≫ 11 (df=5) ⇒ the families are calibrated differently and their
    * flag counts cannot be compared without rate-normalizing first —
    * the test a pipeline owner runs BEFORE reading the κ matrix.
    *
    * Determinism: G_j (column totals), T, and ΣL_i² are exact BIGINTs
    * off one aggregated row; the numerator and denominator promote to
    * DECIMAL(38,0)/HUGEINT (k·ΣG² ~ 36·N² wraps BIGINT past ~5·10⁸
    * docs), and Q is ONE correctly-rounded division of exact decimals,
    * 6-dp-rounded (the [[dedupKappa]] recipe). All-zero or all-k rows
    * everywhere ⇒ denominator 0 ⇒ NULL via the same guard both sides.
    *
    * Scale shape: zero work beyond [[familyFlags]] — one
    * map-side-combined aggregate to a single row. */
  def cochranQ(s: SparkSession, d: String): DataFrame =
    cochranFrom(raterStats(s, d))

  /** [[cochranQ]] off an already-aggregated rater-stats row (the
    * [[dedupReport]] sharing seam). */
  private def cochranFrom(rs: DataFrame): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val k = lit(6L)
    val sumG2 = CompareFams.map { case (_, _, nm) =>
      col(nm).cast(dec0) * col(nm).cast(dec0) }.reduce(_ + _)
    val num = (k - lit(1L)).cast(dec0) *
      (k.cast(dec0) * sumG2 - col("t").cast(dec0) * col("t").cast(dec0))
    val den = (k * col("t") - col("sum_l2")).cast(dec0)
    rs.select(
      col("n_docs"), lit(6).as("k_raters"), col("t").as("n_flags"),
      col("sum_l2"),
      when(den === lit(0), lit(null).cast("double"))
        .otherwise(Det.q6(num.cast("double") / den.cast("double")))
        .as("q_stat"))
  }

  /** Fleiss' κ of the six dedup families as k=6 raters over N documents,
    * two categories (dup / not-dup) — the MULTI-rater chance-corrected
    * agreement number ([[dedupKappa]] is pairwise; Fleiss asks whether
    * the whole panel agrees beyond chance): P̄ = (Σ(L² + (k−L)²) − Nk)
    * / (Nk(k−1)), P̄_e = (T² + (Nk−T)²) / (Nk)², κ = (P̄−P̄_e)/(1−P̄_e).
    * κ ≈ 1 ⇒ any one family suffices; κ ≈ 0 ⇒ the families genuinely
    * complement each other and the union policy earns its cost.
    *
    * Determinism: with A = 2ΣL² + Nk² − 2kT − Nk, D = Nk(k−1),
    * E = T² + (Nk−T)², M = (Nk)², every quantity is an exact
    * DECIMAL(38,0)/HUGEINT integer (M ~ 36N² wraps BIGINT past ~5·10⁸
    * docs), κ = (A·M − E·D)/(D·(M−E)) is ONE division of exact decimals,
    * and P̄/P̄_e are each one division — all 6-dp-rounded per the
    * [[dedupKappa]] recipe. M = E (every rater flags everything or
    * nothing) ⇒ NULL via the same guard both sides.
    *
    * Scale shape: identical to [[cochranQ]] — one map-side-combined
    * aggregate over [[familyFlags]] to a single row. */
  def fleissKappa(s: SparkSession, d: String): DataFrame =
    fleissFrom(raterStats(s, d))

  /** [[fleissKappa]] off an already-aggregated rater-stats row (the
    * [[dedupReport]] sharing seam). */
  private def fleissFrom(rs: DataFrame): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val n = col("n_docs").cast(dec0)
    val t = col("t").cast(dec0)
    val k = lit(6L).cast(dec0)
    val a = lit(2L).cast(dec0) * col("sum_l2").cast(dec0) +
      n * k * k - lit(2L).cast(dec0) * k * t - n * k
    val dd = n * k * (k - lit(1L).cast(dec0))
    val e = t * t + (n * k - t) * (n * k - t)
    val m = (n * k) * (n * k)
    rs.select(
      col("n_docs"), lit(6).as("k_raters"),
      Det.q6(a.cast("double") / dd.cast("double")).as("p_bar"),
      Det.q6(e.cast("double") / m.cast("double")).as("p_e"),
      when(m - e === lit(0), lit(null).cast("double"))
        .otherwise(Det.q6((a * m - e * dd).cast("double") /
          (dd * (m - e)).cast("double"))).as("kappa"))
  }

  /** McNemar's test between every pair of dedup families — the
    * DISAGREEMENT-directional completion of [[dedupKappa]]: κ says how
    * much two families agree; McNemar asks whether the disagreements
    * they do have run one way (family A flags docs B misses
    * systematically, not symmetrically). b = docs only A flags,
    * c = docs only B flags; χ² = (b−c)²/(b+c) is χ²₁ under symmetric
    * disagreement (and the continuity-corrected (|b−c|−1)²/(b+c) for
    * small discordant counts) — χ² ≫ 3.84 ⇒ A is strictly the more
    * aggressive family and "A ∪ B" ≈ "A", the number that collapses a
    * two-method pipeline to one.
    *
    * Determinism: b = n_a − n_both and c = n_b − n_both are exact
    * BIGINTs off the [[dedupMethodCompare]] row; each χ² is ONE division
    * of exact integers, 6-dp-rounded; b + c = 0 (perfect agreement) ⇒
    * NULL via the same guard both sides. The continuity numerator
    * clamps at 0 when |b−c| ≤ 1 — greatest() over BIGINTs is exact in
    * both engines (the DECIMAL promotion hazard in PARITY §5 does not
    * apply to integer args).
    *
    * Scale shape: zero work beyond [[dedupMethodCompare]] — 15 pair
    * rows explode from its single aggregated row. */
  def mcnemarPairs(s: SparkSession, d: String): DataFrame =
    mcnemarFrom(dedupMethodCompare(s, d))

  /** [[mcnemarPairs]] off an already-aggregated compare row (the
    * [[dedupReport]] sharing seam). */
  private def mcnemarFrom(cmp: DataFrame): DataFrame = {
    val prs = for {
      i <- CompareFams.indices; j <- CompareFams.indices if i < j
    } yield struct(
      lit(CompareFams(i)._1).as("fa"), lit(CompareFams(j)._1).as("fb"),
      col(CompareFams(i)._3).as("na"), col(CompareFams(j)._3).as("nb"),
      col(s"${CompareFams(i)._1}_and_${CompareFams(j)._1}").as("bt"))
    val px = cmp
      .select(explode(array(prs: _*)).as("p"))
      .select(col("p.fa").as("family_a"), col("p.fb").as("family_b"),
        (col("p.na") - col("p.bt")).cast("long").as("n_only_a"),
        (col("p.nb") - col("p.bt")).cast("long").as("n_only_b"))
    val b = col("n_only_a"); val c = col("n_only_b")
    val diff = b - c
    val ccNum = greatest(abs(diff) - lit(1L), lit(0L))
    px.select(col("family_a"), col("family_b"), b, c,
        when(b + c === lit(0L), lit(null).cast("double"))
          .otherwise(Det.q6((diff * diff).cast("double") /
            (b + c).cast("double"))).as("chi2"),
        when(b + c === lit(0L), lit(null).cast("double"))
          .otherwise(Det.q6((ccNum * ccNum).cast("double") /
            (b + c).cast("double"))).as("chi2_cc"))
      .orderBy("family_a", "family_b")
  }

  /** The composed dedup dashboard (VERDICT r9 item 6): ONE
    * [[familyFlagsServed]] artifact feeds every agreement statistic the
    * six standalone queries compute — compare totals/overlaps, token
    * savings, pairwise Cohen's κ, Cochran's Q, McNemar's χ², Fleiss' κ —
    * emitted long-form as (section, family_a, family_b, metric, value).
    * This is what the real curation dashboard runs nightly: the flags
    * frame (the expensive part — six LSH/banded candidate generations)
    * is generated ONCE, and every number derives from it or from the
    * single aggregated compare/rater-stats rows, so the report costs
    * ≈ one family member instead of six.
    *
    * Determinism: every value is the standalone query's own audited
    * expression (same guards, same HUGEINT/DECIMAL promotions, same
    * floor-quantize), CAST to DOUBLE in both engines (counts are exact
    * in double far past any feasible corpus); total order over all four
    * key columns. */
  def dedupReport(s: SparkSession, d: String): DataFrame = {
    val ff = familyFlagsServed(s, d)
    val cmp = graft.util.Ckpt.stage(compareFrom(ff))
    val rs = graft.util.Ckpt.stage(raterStatsFrom(ff))
    def row(sec: String, fa: Column, fb: Column, met: String, v: Column) =
      struct(lit(sec).as("section"), fa.as("family_a"), fb.as("family_b"),
        lit(met).as("metric"), v.cast("double").as("value"))
    val compareRows = cmp.select(explode(array(
      row("compare", lit("all"), lit(""), "n_docs", col("n_docs")) +:
      (CompareFams.map { case (la, _, nm) =>
        row("compare", lit(la), lit(""), "n_flagged", col(nm)) } ++
      (for {
        i <- CompareFams.indices; j <- CompareFams.indices if i < j
      } yield row("compare", lit(CompareFams(i)._1), lit(CompareFams(j)._1),
        "n_both", col(s"${CompareFams(i)._1}_and_${CompareFams(j)._1}")))): _*))
      .as("r")).select("r.*")
    val savings = savingsFrom(s, d, ff)
      .select(explode(array(
        row("savings", col("family"), lit(""), "tokens_flagged",
          col("tokens_flagged")),
        row("savings", col("family"), lit(""), "token_share_ppm",
          col("token_share_ppm")))).as("r")).select("r.*")
    val kappa = kappaFrom(cmp).select(
      lit("kappa").as("section"), col("family_a"), col("family_b"),
      lit("kappa").as("metric"), col("kappa").cast("double").as("value"))
    val mcn = mcnemarFrom(cmp).select(explode(array(
      row("mcnemar", col("family_a"), col("family_b"), "chi2", col("chi2")),
      row("mcnemar", col("family_a"), col("family_b"), "chi2_cc",
        col("chi2_cc")))).as("r")).select("r.*")
    val q = cochranFrom(rs).select(
      lit("cochran_q").as("section"), lit("all").as("family_a"),
      lit("").as("family_b"), lit("q_stat").as("metric"),
      col("q_stat").cast("double").as("value"))
    val fl = fleissFrom(rs).select(explode(array(
      row("fleiss", lit("all"), lit(""), "p_bar", col("p_bar")),
      row("fleiss", lit("all"), lit(""), "p_e", col("p_e")),
      row("fleiss", lit("all"), lit(""), "kappa", col("kappa")))).as("r"))
      .select("r.*")
    compareRows.unionByName(savings).unionByName(kappa).unionByName(mcn)
      .unionByName(q).unionByName(fl)
      .orderBy("section", "family_a", "family_b", "metric")
  }

  /** Sorted-neighborhood blocking window: each doc is compared to its 2
    * successors in (lang, sort-key) order. */
  private val SnmKeyLen = 24

  /** Sorted-neighborhood dedup (SNM — the classic record-linkage blocking
    * strategy, complementary to LSH): sort each language block by a
    * normalized 24-char text prefix, compare every doc to its next two
    * neighbors in sort order, verify candidates with exact bigram Jaccard.
    * Catches prefix-sharing near-dups that hash-bucket families can miss
    * when edits fall inside every band, at a guaranteed 2-comparisons-
    * per-row budget.
    *
    * Scale shape: ONE range-partitionable sort per language block (the
    * window is partitioned by `lang` — never a global single-partition
    * sort); candidates are produced by lead(), linear in the corpus; only
    * candidate pairs carry bigram arrays. At a fixed 100 TB deployment the
    * sort key would feed `repartitionByRange` + boundary-overlap handling;
    * the per-block window here is the same plan shape. */
  def sortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val k = substring(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")), 1, SnmKeyLen)
    val base = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), k.as("k"),
        array_distinct(bigrams(words(col("text")))).as("bg")))
    val w = Window.partitionBy("lang").orderBy("k", "doc_id")
    val withNext = base
      .withColumn("n1_id", lead("doc_id", 1).over(w))
      .withColumn("n1_bg", lead("bg", 1).over(w))
      .withColumn("n2_id", lead("doc_id", 2).over(w))
      .withColumn("n2_bg", lead("bg", 2).over(w))
    val arm1 = withNext.filter(col("n1_id").isNotNull)
      .select(col("doc_id").as("d1"), col("n1_id").as("d2"),
        col("bg").as("b1"), col("n1_bg").as("b2"))
    val arm2 = withNext.filter(col("n2_id").isNotNull)
      .select(col("doc_id").as("d1"), col("n2_id").as("d2"),
        col("bg").as("b1"), col("n2_bg").as("b2"))
    arm1.unionAll(arm2)
      .withColumn("inter", size(array_intersect(col("b1"), col("b2"))))
      .withColumn("n1", size(col("b1")))
      .withColumn("n2", size(col("b2")))
      .select(col("d1"), col("d2"), col("inter").cast("long").as("inter"),
        Det.q4(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
      .withColumn("is_dup", (col("jaccard") >= 0.5).cast("int"))
      .orderBy("d1", "d2")
  }

  /** Rolling-hash base for [[cdcChunks]] (B, B², B³). */
  private val CdcB1 = 257L
  private val CdcB2 = 66049L
  private val CdcB3 = 16974593L

  /** Content-defined chunking + chunk-level duplication audit — the
    * rsync/LBFS boundary trick applied to corpus curation: a chunk
    * boundary falls wherever the rolling hash of the last 4 words is
    * ≡ 0 (mod 64), so boundaries are anchored to CONTENT, not offsets —
    * insert one word into a shared passage and [[spanDedup]]-style
    * fixed-width spans all shift and stop matching, while CDC chunks
    * realign after the edit window. Per doc: chunk count, how many of its
    * chunks also appear verbatim in other docs, and the shared-word share
    * (ppm, integer-exact like q_dedup_savings).
    *
    * Determinism: word hashes are the engine's standard md5-prefix
    * integers; the rolling fingerprint is exact BIGINT arithmetic
    * (h·B³ ≤ 7.3·10¹⁶); boundary, chunk ids (prefix sums), and the
    * chunk digest (md5 of the word slice) are all integer/string ops —
    * no floats anywhere.
    *
    * Scale shape: one words explode into per-doc windowed lags (narrow
    * (doc, pos, h) rows), chunk frames shuffle on digest keys only; the
    * slice re-read joins the staged words array once. */
  def cdcChunks(s: SparkSession, d: String): DataFrame = {
    val docs = graft.util.Ckpt.stage(graft.util.Spread(
      Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), words(col("text")).as("ws")))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val pos = docs.select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "wd")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        conv(substring(md5(col("wd")), 1, 8), 16, 10).cast("long").as("h"))
    val rolled = pos
      .withColumn("h1", lag("h", 1).over(wd))
      .withColumn("h2", lag("h", 2).over(wd))
      .withColumn("h3", lag("h", 3).over(wd))
      .withColumn("b", when(col("h3").isNotNull &&
        (col("h3") * CdcB3 + col("h2") * CdcB2 + col("h1") * CdcB1 + col("h")) % 64 === 0,
        lit(1L)).otherwise(lit(0L)))
      .withColumn("cid", coalesce(
        sum("b").over(wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = rolled.groupBy("doc_id", "cid")
      .agg(min("pos").as("start"), count(lit(1)).as("len"))
    val hashed = graft.util.Ckpt.stage(chunks.join(docs, "doc_id")
      .select(col("doc_id"), col("len"),
        md5(array_join(slice(col("ws"), col("start").cast("int"),
          col("len").cast("int")), " ")).as("chash")))
    val occ = hashed.groupBy("chash").agg(countDistinct("doc_id").as("ndocs"))
    hashed.join(occ, "chash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("ndocs") > 1, lit(1L)).otherwise(lit(0L))).as("n_shared_chunks"),
        sum(when(col("ndocs") > 1, col("len")).otherwise(lit(0L))).as("shared_words"),
        sum("len").as("n_words"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        expr("shared_words * 1000000 div n_words").as("shared_ppm"))
      .orderBy("doc_id")
  }

  /** LSH banding planner over the engine's 64-permutation budget — the
    * S-curve audit a dedup owner reads BEFORE picking (r, b) for
    * [[dedupMinhashWide]]: for every way to split 64 perms into b bands
    * of r rows ((r,b) ∈ {(1,64),(2,32),(4,16),(8,8),(16,4)}), the
    * candidate-collision probability p(s) = 1 − (1 − sʳ)ᵇ on a 0.05-step
    * similarity grid, plus each config's working threshold (the smallest
    * grid s with p ≥ 0.5). Steeper r = fewer false candidates but a
    * higher knee — the table IS the tradeoff.
    *
    * Determinism: s = i/20 is ONE division; every power is
    * exponentiation-by-SQUARING over named intermediates (s²=s·s,
    * s⁴=s²·s², … u⁶⁴=u³²·u³²) — a fixed tree of correctly-rounded IEEE
    * multiplies identical in both engines (pow() is libm and pinned in
    * neither), CASE-selected per config; p is 6-dp floor-quantized; the
    * threshold is an integer-comparison min over the grid.
    *
    * Scale shape: a 95-row constant frame — the planner costs nothing
    * and runs beside any corpus-size job. */
  def lshTuning(s: SparkSession, d: String): DataFrame = {
    val configs = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4))
    val grid = s.range(1, 20).select(col("id").cast("int").as("i"))
      .withColumn("cfg", explode(array(configs.map { case (r, b) =>
        struct(lit(r).as("r"), lit(b).as("b"))
      }: _*)))
      .select(col("cfg.r").as("r"), col("cfg.b").as("b"),
        (col("i").cast("double") / lit(20.0)).as("s"))
    val sq = (c: org.apache.spark.sql.Column) => c * c
    val q6 = (c: org.apache.spark.sql.Column) =>
      floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val powered = grid
      .withColumn("s2", sq(col("s"))).withColumn("s4", sq(col("s2")))
      .withColumn("s8", sq(col("s4"))).withColumn("s16", sq(col("s8")))
      .withColumn("sr",
        when(col("r") === 1, col("s")).when(col("r") === 2, col("s2"))
          .when(col("r") === 4, col("s4")).when(col("r") === 8, col("s8"))
          .otherwise(col("s16")))
      .withColumn("u", lit(1.0) - col("sr"))
      .withColumn("u2", sq(col("u")))
      .withColumn("u4", sq(col("u2"))).withColumn("u8", sq(col("u4")))
      .withColumn("u16", sq(col("u8"))).withColumn("u32", sq(col("u16")))
      .withColumn("u64", sq(col("u32")))
      .withColumn("p", q6(lit(1.0) -
        when(col("b") === 4, col("u4")).when(col("b") === 8, col("u8"))
          .when(col("b") === 16, col("u16")).when(col("b") === 32, col("u32"))
          .otherwise(col("u64"))))
    powered
      .withColumn("s_half", min(when(col("p") >= 0.5, col("s")))
        .over(Window.partitionBy("r", "b")))
      .select(col("r"), col("b"), col("s"), col("p"), col("s_half"))
      .orderBy("r", "s")
  }

  /** Cross-document repeated 8-gram spans — the EXACT-SUBSTRING dedup
    * primitive (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): long verbatim word spans shared across
    * documents are the memorization signal a suffix-array dedup removes.
    * Since round 11 the TRUE arbitrary-length suffix-array formulation
    * exists as [[SuffixOps.exactSubstrings]] (adjacent-SA LCP); this
    * fixed-grain pass remains as the cheaper streaming-friendly screen,
    * and the two agree at the 8-token grain (Round11OpsSpec replay).
    * The scalable Spark formulation counts every 8-word span across the
    * corpus and reports the spans recurring in ≥ 2 DISTINCT documents —
    * top-50 by occurrence with a deterministic (n_occ DESC, gram ASC)
    * total order.
    *
    * Determinism: grams are byte-exact space joins
    * ([[graft.functions.StringNgrams]] ≡ DuckDB's
    * list_slice/array_to_string); counts exact BIGINTs; (n_occ, gram)
    * is a total order (gram is the group key).
    *
    * Scale shape: the gram explode is scan-local; the count is ONE
    * map-side-combined aggregate keyed by gram (a hot span
    * partial-aggregates before the shuffle — the word-count shape); the
    * report is a TakeOrdered over the aggregate. No joins, no windows —
    * at 100 TB this is the first pass of an exact-substring dedup, whose
    * reported spans seed the span-removal pass. */
  def repeatedSpans(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFeatures.words
    import graft.functions.StringNgrams
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(StringNgrams.ngrams(words(col("text")), 8)).as("gram"))
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occ").desc, col("gram").asc)
      .limit(50)
  }

  /** Per-document repeated-span coverage — the SECOND pass of the
    * exact-substring dedup [[repeatedSpans]] seeds: for every document,
    * the fraction of its tokens lying inside an 8-gram span that recurs
    * in ≥ 2 distinct documents. Overlapping/adjacent spans merge into
    * islands (interval union), so `covered_tokens` is the true union
    * length — the "how much of this document is verbatim-duplicated
    * elsewhere" number the drop/trim decision reads.
    *
    * Determinism: positions are 0-based gram offsets (unique per doc);
    * island detection is the gaps-and-islands recipe over a doc-
    * PARTITIONED window (new island ⟺ pos > running max end of the
    * PRECEDING rows); counts exact BIGINTs; the share one quantized
    * division.
    *
    * Scale shape: the gram explode is scan-local; the repeated-gram set
    * is ONE map-side-combined aggregate; hits meet it through an
    * equi-join on the gram (never broadcast — the set is
    * corpus-proportional); island windows partition by doc_id. */
  def spanCoverage(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFeatures.words
    import graft.functions.StringNgrams
    val q6 = (c: org.apache.spark.sql.Column) =>
      floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val grams = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(StringNgrams.ngrams(words(col("text")), 8)).as(Seq("pos", "gram"))))
    val repeated = grams.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("gram")
    val hits = grams.join(repeated, "gram").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + 8)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = hits
      .withColumn("ni", (coalesce(prevEnd, lit(-1)) < col("pos")).cast("int"))
      .withColumn("isl",
        sum("ni").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("st"), max(col("pos") + 8).as("en"))
    val cov = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("en") - col("st")).cast("long").as("covered"))
    Tables.documents(s, d)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        q6(coalesce(col("covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("share"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_repeated_spans" -> (repeatedSpans _),
    "q_span_coverage" -> (spanCoverage _),
    "q_lsh_tuning" -> (lshTuning _),
    "q_sorted_neighborhood" -> (sortedNeighborhood _),
    "q_cdc_chunks" -> (cdcChunks _),
    "q_dedup_kappa" -> (dedupKappa _),
    "q_cochran_q" -> (cochranQ _),
    "q_fleiss_kappa" -> (fleissKappa _),
    "q_mcnemar" -> (mcnemarPairs _),
    "q_cross_source_dup" -> (crossSourceDup _),
    "q_jaccard_hist" -> (jaccardHist _),
    "q_component_sizes" -> (componentSizes _),
    "q_dedup_norm"     -> (dedupNorm _),
    "q_dedup_exact"    -> (dedupExact _),
    "q_dedup_compare"  -> (dedupMethodCompare _),
    "q_dedup_report"   -> (dedupReport _),
    "q_dedup_savings"  -> (dedupSavings _),
    "q_dedup_survivor" -> (dedupSurvivor _),
    "q_dedup_fuzzy"    -> (dedupFuzzy _),
    "q_dedup_minhash"  -> (dedupMinhash _),
    "q_dedup_minhash_wide" -> (dedupMinhashWide _),
    "q_dedup_clusters" -> (dedupClusters _),
    "q_dedup_simhash"  -> (dedupSimhash _),
    "q_simhash_hamming" -> (simhashHamming _),
    "q_ngram_jaccard"  -> (ngramJaccard _),
    "q_containment"    -> (containment _),
    "q_dedup_incremental" -> (incrementalDedup _),
    "q_minhash_est"    -> (minhashEstimate _),
    "q_minhash_pr"     -> (minhashPr _),
  )

  /** The [[dedupClusters]] transitive closure as a reusable CTE prefix
    * (ends with `clusters(doc_id, cluster)`): DuckDB's WITH RECURSIVE
    * replays the min-label propagation exactly. Shared with
    * `Curation.clusterRep`'s oracle so representative selection is layered
    * on the identical cluster assignment in both engines. */
  /** The doc→LSH-band-bucket incidence (CTEs `sh`/`sig`/`b`, ending at
    * `b(doc_id, bkey)`) — the SQL twin of [[bandBuckets]], shared by the
    * cluster closure and the incremental-dedup oracle. */
  private[ops] lazy val BandBucketsCteBody: String = bandBucketsCteBodyFrom("documents")

  /** [[BandBucketsCteBody]] parameterized by source relation — the SQL
    * twin of [[bandBucketsOf]]; the relation must expose (doc_id, text). */
  private[ops] def bandBucketsCteBodyFrom(rel: String): String =
    s"""sh AS (
       |  SELECT doc_id, unnest($ShinglesSql) AS shingle FROM $rel
       |), sig AS (
       |  SELECT doc_id,
       |         min(substring(md5(shingle), 1, 8))  AS mh0,
       |         min(substring(md5(shingle), 9, 8))  AS mh1,
       |         min(substring(md5(shingle), 17, 8)) AS mh2,
       |         min(substring(md5(shingle), 25, 8)) AS mh3
       |  FROM sh GROUP BY doc_id
       |), b AS (
       |  SELECT doc_id, unnest(['0|'||mh0||mh1, '1|'||mh2||mh3]) AS bkey FROM sig
       |)""".stripMargin

  private[ops] lazy val ClustersCteSql: String =
    s"""WITH RECURSIVE $BandBucketsCteBody, edge AS (
       |  SELECT DISTINCT a.doc_id AS x, c.doc_id AS y
       |  FROM b a JOIN b c USING (bkey)
       |), reach(x, y) AS (
       |  SELECT x, y FROM edge
       |  UNION
       |  SELECT r.x, e.y FROM reach r JOIN edge e ON r.y = e.x
       |), clusters AS (
       |  SELECT x AS doc_id, min(y) AS cluster FROM reach GROUP BY x
       |)""".stripMargin

  private val WordsSql = "string_split(text, ' ')"
  private val ShinglesSql =
    s"""CASE WHEN len($WordsSql) >= 3
       | THEN list_transform(range(1, len($WordsSql) - 1),
       |        i -> $WordsSql[i] || ' ' || $WordsSql[i+1] || ' ' || $WordsSql[i+2])
       | ELSE [text] END""".stripMargin
  private val BigramsSql =
    s"list_distinct(list_transform(range(1, len($WordsSql)), i -> $WordsSql[i] || ' ' || $WordsSql[i+1]))"

  /** The wide-minhash oracle is generated from the same (r, b) constants
    * and the same affine A/B literals as the Spark plan — one hex→BIGINT
    * hash per shingle, 64 affine-min aggregates, 16 band concatenations.
    * DuckDB does the identical exact signed-64-bit integer arithmetic. */
  private def wideMinhashOracle: String = {
    val nPerms = WideR * WideB
    val mins = (0 until nPerms).map { p =>
      s"min((h * ${affineA(p)} + ${affineB(p)}) % $MinhashPrime) AS mh$p"
    }.mkString(",\n         ")
    val bands = (0 until WideB).map { j =>
      s"concat_ws('|', '$j', " +
        (0 until WideR).map(i => s"mh${j * WideR + i}").mkString(", ") + ")"
    }.mkString(",\n            ")
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($ShinglesSql) AS shingle FROM documents
       |), hv AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS h FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hv GROUP BY doc_id
       |), b AS (
       |  SELECT doc_id, unnest([$bands]) AS bkey FROM sig
       |), k AS (
       |  SELECT bkey, min(doc_id) AS bmin FROM b GROUP BY bkey
       |)
       |SELECT doc_id, keeper, CAST(keeper < doc_id AS INTEGER) AS is_dup
       |FROM (SELECT b.doc_id, min(k.bmin) AS keeper
       |      FROM b JOIN k USING (bkey) GROUP BY b.doc_id) t
       |ORDER BY doc_id""".stripMargin
  }

  /** [[minhashEstimate]]'s oracle, generated from the same (r, b) and
    * affine constants: wide signatures as 64 per-doc min aggregates,
    * candidate pairs through the same band keys, the 64-term match count,
    * and the exact distinct-shingle Jaccard — floor-quantized like the
    * Spark plan. */
  private def minhashEstOracle: String = {
    val nPerms = WideR * WideB
    val mins = (0 until nPerms).map { p =>
      s"min((h * ${affineA(p)} + ${affineB(p)}) % $MinhashPrime) AS mh$p"
    }.mkString(",\n         ")
    val bands = (0 until WideB).map { j =>
      s"concat_ws('|', '$j', " +
        (0 until WideR).map(i => s"mh${j * WideR + i}").mkString(", ") + ")"
    }.mkString(",\n            ")
    val matchSum = (0 until nPerms)
      .map(p => s"CASE WHEN g1.mh$p = g2.mh$p THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH shd AS (
       |  SELECT DISTINCT doc_id, unnest($ShinglesSql) AS shingle FROM documents
       |), hv AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS h FROM shd
       |), sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hv GROUP BY doc_id
       |), b AS (
       |  SELECT doc_id, unnest([$bands]) AS bkey FROM sig
       |), p AS (
       |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
       |  FROM b a JOIN b c ON a.bkey = c.bkey AND a.doc_id < c.doc_id
       |), est AS (
       |  SELECT p.d1, p.d2, CAST($matchSum AS BIGINT) AS n_match
       |  FROM p JOIN sig g1 ON g1.doc_id = p.d1 JOIN sig g2 ON g2.doc_id = p.d2
       |), szs AS (
       |  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
       |), iv AS (
       |  SELECT p.d1, p.d2, count(*) AS inter
       |  FROM p JOIN shd s1 ON s1.doc_id = p.d1
       |         JOIN shd s2 ON s2.doc_id = p.d2 AND s2.shingle = s1.shingle
       |  GROUP BY p.d1, p.d2
       |), r AS (
       |  SELECT est.d1, est.d2, est.n_match,
       |         floor(est.n_match / $nPerms.0 * 10000 + 0.5) / 10000 AS est_j,
       |         floor(coalesce(iv.inter, 0)
       |               / (z1.n + z2.n - coalesce(iv.inter, 0)) * 10000 + 0.5) / 10000 AS exact_j
       |  FROM est
       |  LEFT JOIN iv ON iv.d1 = est.d1 AND iv.d2 = est.d2
       |  JOIN szs z1 ON z1.doc_id = est.d1
       |  JOIN szs z2 ON z2.doc_id = est.d2
       |)
       |SELECT d1, d2, n_match, est_j, exact_j,
       |       floor(abs(est_j - exact_j) * 10000 + 0.5) / 10000 AS abs_err
       |FROM r
       |ORDER BY d1, d2""".stripMargin
  }

  /** [[dedupMethodCompare]]'s oracle: the six per-method flag CTEs
    * composed from the same SQL bodies their standalone oracles use
    * (demo bands via [[BandBucketsCteBody]], wide bands generated from
    * the affine constants, simhash from the per-digit sign sums,
    * semantic components via the same unrolled min-label closure as
    * q_dedup_semantic, embed flags from the banded-LSH near-dup pairs),
    * LEFT-joined from the full documents key set with COALESCE(flag, 0),
    * then one row of totals and pairwise overlaps. */
  private def dedupCompareOracle: String =
    s"""$compareFlagsCtePrefix
       |$dedupCompareSelect""".stripMargin

  /** The compare SELECT over flags CTE `j` — shared by
    * [[dedupCompareOracle]] and [[dedupReportOracle]]'s cx CTE. */
  private def dedupCompareSelect: String =
    s"""SELECT count(*) AS n_docs,
       |       CAST(sum(f_exact) AS BIGINT) AS n_exact,
       |       CAST(sum(f_mh) AS BIGINT) AS n_minhash,
       |       CAST(sum(f_mhw) AS BIGINT) AS n_minhash_wide,
       |       CAST(sum(f_sh) AS BIGINT) AS n_simhash,
       |       CAST(sum(f_sem) AS BIGINT) AS n_semantic,
       |       CAST(sum(f_emb) AS BIGINT) AS n_embed,
       |       CAST(sum(f_exact * f_mh) AS BIGINT) AS exact_and_minhash,
       |       CAST(sum(f_exact * f_mhw) AS BIGINT) AS exact_and_wide,
       |       CAST(sum(f_exact * f_sh) AS BIGINT) AS exact_and_simhash,
       |       CAST(sum(f_exact * f_sem) AS BIGINT) AS exact_and_semantic,
       |       CAST(sum(f_exact * f_emb) AS BIGINT) AS exact_and_embed,
       |       CAST(sum(f_mh * f_mhw) AS BIGINT) AS minhash_and_wide,
       |       CAST(sum(f_mh * f_sh) AS BIGINT) AS minhash_and_simhash,
       |       CAST(sum(f_mh * f_sem) AS BIGINT) AS minhash_and_semantic,
       |       CAST(sum(f_mh * f_emb) AS BIGINT) AS minhash_and_embed,
       |       CAST(sum(f_mhw * f_sh) AS BIGINT) AS wide_and_simhash,
       |       CAST(sum(f_mhw * f_sem) AS BIGINT) AS wide_and_semantic,
       |       CAST(sum(f_mhw * f_emb) AS BIGINT) AS wide_and_embed,
       |       CAST(sum(f_sh * f_sem) AS BIGINT) AS simhash_and_semantic,
       |       CAST(sum(f_sh * f_emb) AS BIGINT) AS simhash_and_embed,
       |       CAST(sum(f_sem * f_emb) AS BIGINT) AS semantic_and_embed
       |FROM j""".stripMargin

  /** The [[dedupKappa]] oracle over the same flags prefix: one UNION ALL
    * arm per family pair computing the 2×2 agreement counts from CTE `j`,
    * then the exact HUGEINT κ algebra mirrored from the Spark plan. */
  private def dedupKappaOracle: String = {
    val arms = (for {
      i <- CompareFams.indices; j <- CompareFams.indices if i < j
    } yield {
      val (la, ca, _) = CompareFams(i); val (lb, cb, _) = CompareFams(j)
      s"""SELECT '$la' AS family_a, '$lb' AS family_b,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum($ca) AS BIGINT) AS n_a, CAST(sum($cb) AS BIGINT) AS n_b,
         |    CAST(sum($ca * $cb) AS BIGINT) AS n_both
         |  FROM j""".stripMargin
    }).mkString("\n  UNION ALL ")
    s"""$compareFlagsCtePrefix,
       |u AS (
       |  $arms
       |), kx AS (
       |  SELECT family_a, family_b, n_docs, n_a, n_b, n_both,
       |    n_docs - n_a - n_b + 2 * n_both AS n_agree,
       |    CAST(n_a AS HUGEINT) * n_b
       |      + CAST(n_docs - n_a AS HUGEINT) * (n_docs - n_b) AS pe_num
       |  FROM u
       |)
       |SELECT family_a, family_b, n_docs, n_a, n_b, n_both, n_agree,
       |  CASE WHEN CAST(n_docs AS HUGEINT) * n_docs - pe_num = 0 THEN NULL
       |       ELSE floor((CAST(CAST(n_docs AS HUGEINT) * n_agree - pe_num AS DOUBLE) /
       |                  CAST(CAST(n_docs AS HUGEINT) * n_docs - pe_num AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |  END AS kappa
       |FROM kx ORDER BY family_a, family_b""".stripMargin
  }

  /** Shared sufficient-statistics CTE for the k-rater oracles: row sums
    * L over the flags frame `j` reduced to (N, T, ΣL², column totals). */
  private def raterStatsCte: String = {
    val lExpr = CompareFams.map(_._2).mkString(" + ")
    val gs = CompareFams.zipWithIndex.map { case ((_, c, _), i) =>
      s"CAST(sum($c) AS BIGINT) AS g${i + 1}" }.mkString(", ")
    s"""rs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(l) AS BIGINT) AS t,
       |         CAST(sum(l * l) AS BIGINT) AS sum_l2,
       |         $gs
       |  FROM (SELECT *, $lExpr AS l FROM j) jl)""".stripMargin
  }

  /** [[cochranQ]]'s oracle: the same HUGEINT numerator/denominator off
    * the shared rater-stats row, one division, same zero-denominator
    * guard. */
  private def cochranQOracle: String = {
    val sumG2 = (1 to 6).map(i => s"CAST(g$i AS HUGEINT) * g$i").mkString(" + ")
    s"""$compareFlagsCtePrefix,
       |$raterStatsCte
       |SELECT n_docs, 6 AS k_raters, t AS n_flags, sum_l2,
       |  CASE WHEN 6 * t - sum_l2 = 0 THEN NULL
       |       ELSE floor((CAST(5 * (6 * ($sumG2) - CAST(t AS HUGEINT) * t)
       |                       AS DOUBLE)
       |                  / CAST(CAST(6 * t - sum_l2 AS HUGEINT) AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |  END AS q_stat
       |FROM rs""".stripMargin
  }

  /** [[fleissKappa]]'s oracle: A, D, E, M in HUGEINT off the shared
    * rater-stats row, one division each for P̄, P̄_e, κ. */
  private def fleissKappaOracle: String =
    s"""$compareFlagsCtePrefix,
       |$raterStatsCte,
       |fx AS (
       |  SELECT n_docs,
       |    2 * CAST(sum_l2 AS HUGEINT) + 36 * CAST(n_docs AS HUGEINT)
       |      - 12 * CAST(t AS HUGEINT) - 6 * CAST(n_docs AS HUGEINT) AS a,
       |    30 * CAST(n_docs AS HUGEINT) AS dd,
       |    CAST(t AS HUGEINT) * t
       |      + (6 * CAST(n_docs AS HUGEINT) - t)
       |        * (6 * CAST(n_docs AS HUGEINT) - t) AS e,
       |    36 * CAST(n_docs AS HUGEINT) * n_docs AS m
       |  FROM rs)
       |SELECT n_docs, 6 AS k_raters,
       |  floor((CAST(a AS DOUBLE) / CAST(dd AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p_bar,
       |  floor((CAST(e AS DOUBLE) / CAST(m AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p_e,
       |  CASE WHEN m - e = 0 THEN NULL
       |       ELSE floor((CAST(a * m - e * dd AS DOUBLE)
       |                  / CAST(dd * (m - e) AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |  END AS kappa
       |FROM fx""".stripMargin

  /** [[mcnemarPairs]]'s oracle: the κ oracle's per-pair UNION ALL arms,
    * discordant counts b = n_a − n_both, c = n_b − n_both, one division
    * per statistic with the same b+c=0 guard. */
  private def mcnemarOracle: String = {
    val arms = (for {
      i <- CompareFams.indices; j <- CompareFams.indices if i < j
    } yield {
      val (la, ca, _) = CompareFams(i); val (lb, cb, _) = CompareFams(j)
      s"""SELECT '$la' AS family_a, '$lb' AS family_b,
         |    CAST(sum($ca) - sum($ca * $cb) AS BIGINT) AS n_only_a,
         |    CAST(sum($cb) - sum($ca * $cb) AS BIGINT) AS n_only_b
         |  FROM j""".stripMargin
    }).mkString("\n  UNION ALL ")
    s"""$compareFlagsCtePrefix,
       |u AS (
       |  $arms
       |)
       |SELECT family_a, family_b, n_only_a, n_only_b,
       |  CASE WHEN n_only_a + n_only_b = 0 THEN NULL
       |       ELSE floor((CAST((n_only_a - n_only_b) * (n_only_a - n_only_b)
       |                       AS DOUBLE)
       |                  / CAST(n_only_a + n_only_b AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |  END AS chi2,
       |  CASE WHEN n_only_a + n_only_b = 0 THEN NULL
       |       ELSE floor((CAST(greatest(abs(n_only_a - n_only_b) - 1, 0)
       |                       * greatest(abs(n_only_a - n_only_b) - 1, 0)
       |                       AS DOUBLE)
       |                  / CAST(n_only_a + n_only_b AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |  END AS chi2_cc
       |FROM u
       |ORDER BY family_a, family_b""".stripMargin
  }

  /** The [[dedupSavings]] oracle over the same flags prefix: unpivot the
    * six flags via UNION ALL, join row-local token counts, aggregate. */
  private def dedupSavingsOracle: String = {
    val arms = CompareFams.map { case (label, c, _) =>
      s"SELECT '$label' AS family, $c AS flag, t FROM jt"
    }.mkString("\n       |  UNION ALL ")
    s"""$compareFlagsCtePrefix,
       |toks AS (
       |  SELECT doc_id, CAST(len($WordsSql) AS BIGINT) AS t FROM documents),
       |jt AS (SELECT j.*, toks.t FROM j JOIN toks USING (doc_id)),
       |u AS (
       |  $arms
       |),
       |tt AS (SELECT CAST(sum(t) AS BIGINT) AS tot FROM toks)
       |SELECT family,
       |       CAST(sum(flag) AS BIGINT) AS n_flagged,
       |       CAST(sum(flag * t) AS BIGINT) AS tokens_flagged,
       |       CAST(sum(flag * t) * 1000000 // tot AS BIGINT) AS token_share_ppm
       |FROM u, tt GROUP BY family, tot ORDER BY family""".stripMargin
  }

  /** [[dedupReport]]'s oracle: the shared flags prefix once, then every
    * section's rows as UNION ALL arms off the SAME aggregated cx / rs
    * CTEs — each value expression copied verbatim from the standalone
    * oracle it mirrors, CAST to DOUBLE. */
  private def dedupReportOracle: String = {
    val famCols = CompareFams.map { case (la, _, nm) => (la, nm) }
    val compareArms =
      Seq("SELECT 'compare' AS section, 'all' AS family_a, '' AS family_b, " +
        "'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM cx") ++
      famCols.map { case (la, nm) =>
        s"SELECT 'compare', '$la', '', 'n_flagged', CAST($nm AS DOUBLE) FROM cx" } ++
      (for {
        i <- CompareFams.indices; j <- CompareFams.indices if i < j
      } yield s"SELECT 'compare', '${CompareFams(i)._1}', '${CompareFams(j)._1}', " +
        s"'n_both', CAST(${CompareFams(i)._1}_and_${CompareFams(j)._1} AS DOUBLE) FROM cx")
    val savingsArms = Seq(
      "SELECT 'savings', family, '', 'tokens_flagged', CAST(tokens_flagged AS DOUBLE) FROM sv",
      "SELECT 'savings', family, '', 'token_share_ppm', CAST(token_share_ppm AS DOUBLE) FROM sv")
    val kappaArms = for {
      i <- CompareFams.indices; j <- CompareFams.indices if i < j
    } yield {
      val (la, _, na) = CompareFams(i); val (lb, _, nb) = CompareFams(j)
      val bt = s"${la}_and_${lb}"
      s"""SELECT 'kappa', '$la', '$lb', 'kappa', CAST(
         |  CASE WHEN CAST(n_docs AS HUGEINT) * n_docs
         |            - (CAST($na AS HUGEINT) * $nb
         |               + CAST(n_docs - $na AS HUGEINT) * (n_docs - $nb)) = 0 THEN NULL
         |       ELSE floor((CAST(CAST(n_docs AS HUGEINT) * (n_docs - $na - $nb + 2 * $bt)
         |                        - (CAST($na AS HUGEINT) * $nb
         |                           + CAST(n_docs - $na AS HUGEINT) * (n_docs - $nb)) AS DOUBLE) /
         |                   CAST(CAST(n_docs AS HUGEINT) * n_docs
         |                        - (CAST($na AS HUGEINT) * $nb
         |                           + CAST(n_docs - $na AS HUGEINT) * (n_docs - $nb)) AS DOUBLE)) * 1000000 + 0.5) / 1000000
         |  END AS DOUBLE) FROM cx""".stripMargin
    }
    val mcnArms = (for {
      i <- CompareFams.indices; j <- CompareFams.indices if i < j
    } yield {
      val (la, _, na) = CompareFams(i); val (lb, _, nb) = CompareFams(j)
      val bt = s"${la}_and_${lb}"
      val b = s"($na - $bt)"; val c = s"($nb - $bt)"
      Seq(
        s"""SELECT 'mcnemar', '$la', '$lb', 'chi2', CAST(
           |  CASE WHEN $b + $c = 0 THEN NULL
           |       ELSE floor((CAST(($b - $c) * ($b - $c) AS DOUBLE)
           |                  / CAST($b + $c AS DOUBLE)) * 1000000 + 0.5) / 1000000
           |  END AS DOUBLE) FROM cx""".stripMargin,
        s"""SELECT 'mcnemar', '$la', '$lb', 'chi2_cc', CAST(
           |  CASE WHEN $b + $c = 0 THEN NULL
           |       ELSE floor((CAST(greatest(abs($b - $c) - 1, 0)
           |                       * greatest(abs($b - $c) - 1, 0) AS DOUBLE)
           |                  / CAST($b + $c AS DOUBLE)) * 1000000 + 0.5) / 1000000
           |  END AS DOUBLE) FROM cx""".stripMargin)
    }).flatten
    val sumG2 = (1 to 6).map(i => s"CAST(g$i AS HUGEINT) * g$i").mkString(" + ")
    val qArm =
      s"""SELECT 'cochran_q', 'all', '', 'q_stat', CAST(
         |  CASE WHEN 6 * t - sum_l2 = 0 THEN NULL
         |       ELSE floor((CAST(5 * (6 * ($sumG2) - CAST(t AS HUGEINT) * t)
         |                       AS DOUBLE)
         |                  / CAST(CAST(6 * t - sum_l2 AS HUGEINT) AS DOUBLE)) * 1000000 + 0.5) / 1000000
         |  END AS DOUBLE) FROM rs""".stripMargin
    val flArms = Seq(
      "SELECT 'fleiss', 'all', '', 'p_bar', CAST(floor((CAST(a AS DOUBLE) / CAST(dd AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DOUBLE) FROM fx",
      "SELECT 'fleiss', 'all', '', 'p_e', CAST(floor((CAST(e AS DOUBLE) / CAST(m AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DOUBLE) FROM fx",
      """SELECT 'fleiss', 'all', '', 'kappa', CAST(
        |  CASE WHEN m - e = 0 THEN NULL
        |       ELSE floor((CAST(a * m - e * dd AS DOUBLE)
        |                  / CAST(dd * (m - e) AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS DOUBLE) FROM fx""".stripMargin)
    val allArms = (compareArms ++ savingsArms ++ kappaArms ++ mcnArms ++
      Seq(qArm) ++ flArms).mkString("\n  UNION ALL ")
    val savingsU = CompareFams.map { case (label, c, _) =>
      s"SELECT '$label' AS family, $c AS flag, t FROM jt"
    }.mkString("\n  UNION ALL ")
    s"""$compareFlagsCtePrefix,
       |toks AS (
       |  SELECT doc_id, CAST(len($WordsSql) AS BIGINT) AS t FROM documents),
       |jt AS (SELECT j.*, toks.t FROM j JOIN toks USING (doc_id)),
       |tt AS (SELECT CAST(sum(t) AS BIGINT) AS tot FROM toks),
       |su AS (
       |  $savingsU
       |),
       |sv AS (
       |  SELECT family, CAST(sum(flag) AS BIGINT) AS n_flagged,
       |         CAST(sum(flag * t) AS BIGINT) AS tokens_flagged,
       |         CAST(sum(flag * t) * 1000000 // tot AS BIGINT) AS token_share_ppm
       |  FROM su, tt GROUP BY family, tot),
       |cx AS ($dedupCompareSelect),
       |$raterStatsCte,
       |fx AS (
       |  SELECT n_docs,
       |    2 * CAST(sum_l2 AS HUGEINT) + 36 * CAST(n_docs AS HUGEINT)
       |      - 12 * CAST(t AS HUGEINT) - 6 * CAST(n_docs AS HUGEINT) AS a,
       |    30 * CAST(n_docs AS HUGEINT) AS dd,
       |    CAST(t AS HUGEINT) * t
       |      + (6 * CAST(n_docs AS HUGEINT) - t)
       |        * (6 * CAST(n_docs AS HUGEINT) - t) AS e,
       |    36 * CAST(n_docs AS HUGEINT) * n_docs AS m
       |  FROM rs)
       |SELECT * FROM (
       |  $allArms
       |) rep
       |ORDER BY section, family_a, family_b, metric""".stripMargin
  }

  /** Everything through the per-doc flags CTE `j` — the shared prefix of
    * [[dedupCompareOracle]] and [[dedupSavingsOracle]]. */
  private def compareFlagsCtePrefix: String = {
    val nPerms = WideR * WideB
    val mins = (0 until nPerms).map { p =>
      s"min((h * ${affineA(p)} + ${affineB(p)}) % $MinhashPrime) AS mh$p"
    }.mkString(",\n         ")
    val bands = (0 until WideB).map { j =>
      s"concat_ws('|', '$j', " +
        (0 until WideR).map(i => s"mh${j * WideR + i}").mkString(", ") + ")"
    }.mkString(",\n            ")
    s"""WITH RECURSIVE $BandBucketsCteBody,
       |k AS (SELECT bkey, min(doc_id) AS bmin FROM b GROUP BY bkey),
       |fm AS (
       |  SELECT b.doc_id, CAST(min(k.bmin) < b.doc_id AS INTEGER) AS f_mh
       |  FROM b JOIN k USING (bkey) GROUP BY b.doc_id),
       |hv AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS h FROM sh),
       |wsig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hv GROUP BY doc_id),
       |wb AS (SELECT doc_id, unnest([$bands]) AS bkey FROM wsig),
       |wk AS (SELECT bkey, min(doc_id) AS bmin FROM wb GROUP BY bkey),
       |fw AS (
       |  SELECT wb.doc_id, CAST(min(wk.bmin) < wb.doc_id AS INTEGER) AS f_mhw
       |  FROM wb JOIN wk USING (bkey) GROUP BY wb.doc_id),
       |sw AS (
       |  SELECT doc_id, md5(w) AS h
       |  FROM (SELECT doc_id, unnest($WordsSql) AS w FROM documents)),
       |ssum AS (
       |  SELECT doc_id,
       |         $simhashSums
       |  FROM sw GROUP BY doc_id),
       |sfp AS (SELECT doc_id, $simhashFp AS fp FROM ssum),
       |fsim AS (
       |  SELECT doc_id,
       |         CAST(min(doc_id) OVER (PARTITION BY fp) < doc_id AS INTEGER) AS f_sh
       |  FROM sfp),
       |fe AS (
       |  SELECT doc_id, CAST(rn > 1 AS INTEGER) AS f_exact
       |  FROM (SELECT doc_id,
       |               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |        FROM documents) t),
       |$NormCteSql,
       |${Similarity.neardupCteBody(Similarity.NeardupThresh.toString)},
       |und AS MATERIALIZED (
       |  SELECT id1 AS src, id2 AS dst FROM e0
       |  UNION ALL SELECT id2, id1 FROM e0),
       |semlab0 AS MATERIALIZED (SELECT vec_id AS v, vec_id AS l FROM embeddings),
       |${Similarity.minLabelCtes("sem", "semlab0", "und")},
       |fsem AS (
       |  SELECT v AS doc_id, CAST(l < v AS INTEGER) AS f_sem
       |  FROM seml${Similarity.LabelRounds}),
       |femb AS (
       |  SELECT DISTINCT id2 AS doc_id, 1 AS f_emb FROM e0),
       |j AS (
       |  SELECT fe.doc_id, fe.f_exact,
       |         COALESCE(fm.f_mh, 0) AS f_mh,
       |         COALESCE(fw.f_mhw, 0) AS f_mhw,
       |         COALESCE(fsim.f_sh, 0) AS f_sh,
       |         COALESCE(fsem.f_sem, 0) AS f_sem,
       |         COALESCE(femb.f_emb, 0) AS f_emb
       |  FROM fe
       |  LEFT JOIN fm USING (doc_id)
       |  LEFT JOIN fw USING (doc_id)
       |  LEFT JOIN fsim USING (doc_id)
       |  LEFT JOIN fsem USING (doc_id)
       |  LEFT JOIN femb USING (doc_id))""".stripMargin
  }

  /** [[Similarity.NormCte]] (normalized embeddings CTE) — shared so the
    * agreement-matrix oracle states the embedding families from the same
    * SQL body their standalone oracles use. */
  private def NormCteSql: String = Similarity.NormCte

  private val simhashSums = (1 to SimBits)
    .map(i => s"sum(CASE WHEN substring(h, $i, 1) >= '8' THEN 1 ELSE -1 END) AS s$i")
    .mkString(",\n         ")
  private val simhashFp = (1 to SimBits)
    .map(i => s"(CASE WHEN s$i >= 0 THEN '1' ELSE '0' END)")
    .mkString(" || ")

  val oracle: Map[String, String] = Map(
    // byte-exact 8-gram space joins, one grouped count, the same
    // (n_occ DESC, gram ASC) total order
    "q_repeated_spans" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(string_split(text, ' ')) - 6),
        |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' '))) AS gram
        |  FROM documents
        |)
        |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM g GROUP BY gram
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occ DESC, gram ASC
        |LIMIT 50""".stripMargin,
    // the same 0-based gram positions, gaps-and-islands interval union
    // per doc, quantized share
    "q_span_coverage" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
        |         array_to_string(list_slice(ws, CAST(i AS INTEGER), CAST(i AS INTEGER) + 7), ' ') AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |       unnest(range(1, greatest(len(ws) - 6, 1))) AS t(i)
        |), rep AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |), h AS (
        |  SELECT g.doc_id, g.pos FROM g JOIN rep USING (gram)
        |), i1 AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < pos
        |              THEN 1 ELSE 0 END AS ni
        |  FROM h
        |), i2 AS (
        |  SELECT doc_id, pos,
        |         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM i1
        |), sp AS (
        |  SELECT doc_id, isl, min(pos) AS st, max(pos + 8) AS en
        |  FROM i2 GROUP BY 1, 2
        |), cv AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(en - st) AS BIGINT) AS covered
        |  FROM sp GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       coalesce(cv.n_spans, 0) AS n_spans,
        |       coalesce(cv.covered, 0) AS covered_tokens,
        |       floor(CAST(coalesce(cv.covered, 0) AS DOUBLE)
        |             / CAST(len(string_split(d.text, ' ')) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS share
        |FROM documents d LEFT JOIN cv USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the same squaring chains (s2=s*s, ..., u64=u32*u32) CASE-selected
    // per config; grid s = i/20; threshold = min grid s with p >= 0.5
    "q_lsh_tuning" ->
      """WITH grid AS (
        |  SELECT cfg.r, cfg.b, CAST(i AS DOUBLE) / 20.0 AS s
        |  FROM (SELECT unnest(range(1, 20)) AS i) gi,
        |       (VALUES (1, 64), (2, 32), (4, 16), (8, 8), (16, 4)) cfg(r, b)
        |), sp AS (
        |  SELECT r, b, s, s * s AS s2, (s * s) * (s * s) AS s4 FROM grid
        |), sp2 AS (
        |  SELECT r, b, s, s2, s4, s4 * s4 AS s8, (s4 * s4) * (s4 * s4) AS s16 FROM sp
        |), su AS (
        |  SELECT r, b, s,
        |         1.0 - (CASE r WHEN 1 THEN s WHEN 2 THEN s2 WHEN 4 THEN s4
        |                       WHEN 8 THEN s8 ELSE s16 END) AS u
        |  FROM sp2
        |), up AS (
        |  SELECT r, b, s, u, u * u AS u2 FROM su
        |), up2 AS (
        |  SELECT r, b, s, u2 * u2 AS u4, (u2 * u2) * (u2 * u2) AS u8 FROM up
        |), up3 AS (
        |  SELECT r, b, s, u4, u8, u8 * u8 AS u16, (u8 * u8) * (u8 * u8) AS u32,
        |         ((u8 * u8) * (u8 * u8)) * ((u8 * u8) * (u8 * u8)) AS u64
        |  FROM up2
        |), p AS (
        |  SELECT r, b, s,
        |         floor((1.0 - (CASE b WHEN 4 THEN u4 WHEN 8 THEN u8 WHEN 16 THEN u16
        |                              WHEN 32 THEN u32 ELSE u64 END))
        |               * 1000000 + 0.5) / 1000000 AS p
        |  FROM up3
        |)
        |SELECT CAST(r AS INTEGER) AS r, CAST(b AS INTEGER) AS b, s, p,
        |       MIN(CASE WHEN p >= 0.5 THEN s END) OVER (PARTITION BY r, b) AS s_half
        |FROM p
        |ORDER BY r, s""".stripMargin,
    // per-lang sort by the normalized 24-char key, lead(1)/lead(2)
    // candidate arms, exact bigram Jaccard on candidate pairs
    "q_sorted_neighborhood" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |         substring(trim(regexp_replace(regexp_replace(lower(text),
         |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, $SnmKeyLen) AS k,
         |         $BigramsSql AS bg
         |  FROM documents
         |), nx AS (
         |  SELECT doc_id, bg,
         |         LEAD(doc_id, 1) OVER win AS n1_id, LEAD(bg, 1) OVER win AS n1_bg,
         |         LEAD(doc_id, 2) OVER win AS n2_id, LEAD(bg, 2) OVER win AS n2_bg
         |  FROM base WINDOW win AS (PARTITION BY lang ORDER BY k, doc_id)
         |), pairs AS (
         |  SELECT doc_id AS d1, n1_id AS d2, bg AS b1, n1_bg AS b2
         |  FROM nx WHERE n1_id IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, n2_id, bg, n2_bg FROM nx WHERE n2_id IS NOT NULL
         |), j AS (
         |  SELECT d1, d2, CAST(len(list_intersect(b1, b2)) AS BIGINT) AS inter,
         |         len(b1) AS n1, len(b2) AS n2
         |  FROM pairs
         |)
         |SELECT d1, d2, inter,
         |       floor((CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard,
         |       CAST(floor((CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE)) * 10000 + 0.5) / 10000 >= 0.5
         |            AS INTEGER) AS is_dup
         |FROM j
         |ORDER BY d1, d2""".stripMargin,
    // word-hash rolling fingerprint (base 257, window 4, boundary mod 64),
    // prefix-sum chunk ids, md5 chunk digests, cross-doc occurrence join
    "q_cdc_chunks" ->
      s"""WITH w AS (
         |  SELECT doc_id, $WordsSql AS ws FROM documents
         |), p AS (
         |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM w
         |), h AS (
         |  SELECT doc_id, pos,
         |         CAST('0x' || substring(md5(ws[pos]), 1, 8) AS BIGINT) AS h
         |  FROM p
         |), r AS (
         |  SELECT doc_id, pos, h,
         |         LAG(h, 1) OVER win AS h1,
         |         LAG(h, 2) OVER win AS h2,
         |         LAG(h, 3) OVER win AS h3
         |  FROM h WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
         |), b AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN h3 IS NOT NULL
         |                   AND (h3 * $CdcB3 + h2 * $CdcB2 + h1 * $CdcB1 + h) % 64 = 0
         |              THEN 1 ELSE 0 END AS b
         |  FROM r
         |), c AS (
         |  SELECT doc_id, pos,
         |         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
         |  FROM b
         |), ch AS (
         |  SELECT doc_id, cid, MIN(pos) AS start, COUNT(*) AS len
         |  FROM c GROUP BY 1, 2
         |), hx AS (
         |  SELECT ch.doc_id, ch.len,
         |         md5(array_to_string(w.ws[ch.start:ch.start + ch.len - 1], ' ')) AS chash
         |  FROM ch JOIN w ON ch.doc_id = w.doc_id
         |), occ AS (
         |  SELECT chash, count(DISTINCT doc_id) AS ndocs FROM hx GROUP BY 1
         |)
         |SELECT hx.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN occ.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
         |       CAST(SUM(CASE WHEN occ.ndocs > 1 THEN hx.len ELSE 0 END) * 1000000
         |            // SUM(hx.len) AS BIGINT) AS shared_ppm
         |FROM hx JOIN occ USING (chash)
         |GROUP BY hx.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_norm" ->
      """WITH g AS (
        |  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                             ' +', ' ', 'g')) AS k,
        |         CAST(count(*) AS BIGINT) AS group_size
        |  FROM documents GROUP BY 1
        |)
        |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups
        |FROM g GROUP BY group_size ORDER BY group_size""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |      FROM documents) t
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_survivor" ->
      s"""WITH k AS (
         |  SELECT md5(array_to_string($WordsSql[1:8], ' ')) AS key,
         |         doc_id, n_chars
         |  FROM documents
         |), r AS (
         |  SELECT key, doc_id, n_chars,
         |         count(*) OVER (PARTITION BY key) AS n_members,
         |         row_number() OVER (PARTITION BY key
         |           ORDER BY n_chars DESC, doc_id DESC) AS rn
         |  FROM k
         |)
         |SELECT doc_id, n_chars, CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_fuzzy" ->
      s"""SELECT doc_id, lang, source
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY md5(array_to_string($WordsSql[1:8], ' '))
         |        ORDER BY doc_id) AS rn
         |      FROM documents) t
         |WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($ShinglesSql) AS shingle FROM documents
         |), sig AS (
         |  SELECT doc_id,
         |         min(substring(md5(shingle), 1, 8))  AS mh0,
         |         min(substring(md5(shingle), 9, 8))  AS mh1,
         |         min(substring(md5(shingle), 17, 8)) AS mh2,
         |         min(substring(md5(shingle), 25, 8)) AS mh3
         |  FROM sh GROUP BY doc_id
         |), b AS (
         |  SELECT doc_id, unnest(['0|'||mh0||mh1, '1|'||mh2||mh3]) AS bkey FROM sig
         |), k AS (
         |  SELECT bkey, min(doc_id) AS bmin FROM b GROUP BY bkey
         |)
         |SELECT doc_id, keeper, CAST(keeper < doc_id AS INTEGER) AS is_dup
         |FROM (SELECT b.doc_id, min(k.bmin) AS keeper
         |      FROM b JOIN k USING (bkey) GROUP BY b.doc_id) t
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash_wide" -> wideMinhashOracle,
    "q_minhash_est" -> minhashEstOracle,
    // the estimate-audit oracle embedded verbatim, swept over the same
    // shared double thresholds (quantized values vs shared constants —
    // both engines compare identical doubles)
    "q_minhash_pr" ->
      s"""WITH me AS (
         |$minhashEstOracle
         |), taus(tau) AS (
         |  VALUES ${MinhashPrTaus.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")}
         |), lg AS (
         |  SELECT t.tau,
         |         CASE WHEN me.est_j >= t.tau THEN 1 ELSE 0 END AS p,
         |         CASE WHEN me.exact_j >= t.tau THEN 1 ELSE 0 END AS a
         |  FROM me, taus t
         |)
         |SELECT tau, CAST(count(*) AS BIGINT) AS n_cand,
         |       CAST(sum(p * a) AS BIGINT) AS tp,
         |       CAST(sum(p * (1 - a)) AS BIGINT) AS fp,
         |       CAST(sum((1 - p) * a) AS BIGINT) AS fn,
         |       CAST(sum((1 - p) * (1 - a)) AS BIGINT) AS tn,
         |       CASE WHEN sum(p) = 0 THEN NULL
         |            ELSE floor(CAST(sum(p * a) AS DOUBLE) / CAST(sum(p) AS DOUBLE)
         |                       * 1000000 + 0.5) / 1000000 END AS precision,
         |       CASE WHEN sum(a) = 0 THEN NULL
         |            ELSE floor(CAST(sum(p * a) AS DOUBLE) / CAST(sum(a) AS DOUBLE)
         |                       * 1000000 + 0.5) / 1000000 END AS recall
         |FROM lg GROUP BY tau ORDER BY tau""".stripMargin,
    "q_dedup_compare" -> dedupCompareOracle,
    "q_dedup_report" -> dedupReportOracle,
    "q_dedup_savings" -> dedupSavingsOracle,
    "q_dedup_kappa" -> dedupKappaOracle,
    "q_cochran_q" -> cochranQOracle,
    "q_fleiss_kappa" -> fleissKappaOracle,
    "q_mcnemar" -> mcnemarOracle,
    "q_cross_source_dup" ->
      """WITH inc AS (SELECT DISTINCT source, text FROM documents),
        |shared AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS shared
        |  FROM inc a JOIN inc b ON a.text = b.text AND a.source < b.source
        |  GROUP BY 1, 2
        |), srcs AS (SELECT DISTINCT source FROM documents)
        |SELECT a.source AS s1, b.source AS s2,
        |       CAST(coalesce(shared, 0) AS BIGINT) AS n_shared_texts
        |FROM srcs a
        |JOIN srcs b ON a.source < b.source
        |LEFT JOIN shared ON shared.s1 = a.source AND shared.s2 = b.source
        |ORDER BY s1, s2""".stripMargin,
    "q_dedup_clusters" ->
      s"""$ClustersCteSql
         |SELECT doc_id, cluster,
         |       CAST(cluster < doc_id AS INTEGER) AS is_dup
         |FROM clusters
         |ORDER BY doc_id""".stripMargin,
    "q_component_sizes" ->
      s"""$ClustersCteSql, sz AS (
         |  SELECT cluster, count(*) AS cluster_size FROM clusters GROUP BY cluster
         |)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $BandBucketsCteBody, ws AS (
         |  SELECT b.doc_id, b.bkey, d.source
         |  FROM b JOIN documents d USING (doc_id)
         |), corp AS (
         |  SELECT bkey, min(doc_id) AS hit FROM ws WHERE source <> 'src19' GROUP BY bkey
         |)
         |SELECT i.doc_id, min(c.hit) AS first_match,
         |       CAST(min(c.hit) IS NOT NULL AS INTEGER) AS is_dup_vs_corpus
         |FROM ws i LEFT JOIN corp c USING (bkey)
         |WHERE i.source = 'src19'
         |GROUP BY i.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_simhash_hamming" ->
      s"""WITH wd AS (
         |  SELECT doc_id, md5(unnest($WordsSql)) AS h FROM documents
         |), sums AS (
         |  SELECT doc_id,
         |         $simhashSums
         |  FROM wd GROUP BY doc_id
         |), f AS (
         |  SELECT doc_id, $simhashFp AS fp FROM sums
         |), p AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |         CAST(hamming(a.fp, b.fp) AS INTEGER) AS hd
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |), nn AS (
         |  SELECT d2, d1, hd,
         |         row_number() OVER (PARTITION BY d2 ORDER BY hd, d1) AS rn
         |  FROM p WHERE hd <= $HammingK
         |)
         |SELECT f.doc_id, nn.d1 AS nn_doc, nn.hd AS nn_hd,
         |       CAST(nn.d1 IS NOT NULL AS INTEGER) AS has_neardup
         |FROM f LEFT JOIN nn ON f.doc_id = nn.d2 AND nn.rn = 1
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH wd AS (
         |  SELECT doc_id, md5(unnest($WordsSql)) AS h FROM documents
         |), sums AS (
         |  SELECT doc_id,
         |         $simhashSums
         |  FROM wd GROUP BY doc_id
         |), f AS (
         |  SELECT doc_id, $simhashFp AS fp FROM sums
         |), k AS (
         |  SELECT fp, min(doc_id) AS keeper FROM f GROUP BY fp
         |)
         |SELECT f.doc_id, f.fp, k.keeper, CAST(k.keeper < f.doc_id AS INTEGER) AS is_dup
         |FROM f JOIN k USING (fp)
         |ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" -> NgramJaccardOracleSql,
    "q_jaccard_hist" ->
      s"""WITH pairs_t AS (
         |$NgramJaccardOracleSql
         |)
         |SELECT least(9, CAST(floor(jaccard * 10.0) AS BIGINT)) AS bucket,
         |       count(*) AS n_pairs,
         |       CAST(sum(inter) AS BIGINT) AS sum_inter
         |FROM pairs_t GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_containment" ->
      s"""WITH $PairCtesSql
         |SELECT d1, d2, inter, n1, n2, cont_a_in_b, cont_b_in_a FROM (
         |  SELECT d1, d2, inter, sa.n AS n1, sb.n AS n2,
         |         floor((inter / sa.n) * 10000 + 0.5) / 10000 AS cont_a_in_b,
         |         floor((inter / sb.n) * 10000 + 0.5) / 10000 AS cont_b_in_a
         |  FROM p JOIN sz sa ON p.d1 = sa.doc_id JOIN sz sb ON p.d2 = sb.doc_id) t
         |WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
  )

  /** SQL twin of [[pairsWithSizes]] minus the size joins (CTEs
    * `bg0`/`bg`/`sz`/`p`): df-capped bigram incidence, per-doc sizes, and
    * blocked pair-intersection counts — shared by the jaccard and
    * containment oracles so the blocking semantics live in one place. */
  /** The [[ngramJaccard]] oracle as a reusable statement — the
    * q_jaccard_hist oracle composes it verbatim, so the histogram is
    * definitionally over the audited pair frame. */
  private lazy val NgramJaccardOracleSql: String =
    s"""WITH $PairCtesSql
       |SELECT d1, d2, inter, jaccard FROM (
       |  SELECT d1, d2, inter,
       |         floor((inter / (sa.n + sb.n - inter)) * 10000 + 0.5) / 10000 AS jaccard
       |  FROM p JOIN sz sa ON p.d1 = sa.doc_id JOIN sz sb ON p.d2 = sb.doc_id) t
       |WHERE jaccard >= 0.05
       |ORDER BY d1, d2""".stripMargin

  private lazy val PairCtesSql: String =
    s"""bg0 AS (
       |  SELECT doc_id, lang, source, unnest($BigramsSql) AS b FROM documents
       |), bg AS (
       |  SELECT doc_id, lang, source, b FROM (
       |    SELECT bg0.*, count(*) OVER (PARTITION BY b, lang, source) AS df FROM bg0) t
       |  WHERE df <= $JaccardDfCap
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id
       |), p AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM bg a JOIN bg b
       |    ON a.b = b.b AND a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin
}
