package graft.ops

import graft.util.Det
import graft.Tables
import graft.functions.TextFeatures.words
import graft.util.Det.{dsum, q4, q6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation: the selection / layout / privacy passes that run
  * between dedup-and-score and training-set packing in an LLM data
  * pipeline (north-star extensions; the reference's pipeline stops at
  * per-word frequencies, `infra/scripts/demo-etl-2a-notebook.py:53-56`).
  *
  *  - [[clusterRep]]: pick ONE representative per near-duplicate cluster
  *    (highest quality proxy, deterministic tie-break) — what a dedup
  *    actually ships downstream, layered on [[Dedup.dedupClusters]].
  *  - [[spanDedup]]: span(paragraph)-level exact dedup — the CCNet/Dolma
  *    granularity that removes boilerplate repeated ACROSS documents
  *    without dropping whole docs.
  *  - [[qualityQuantile]]: per-source top-quartile quality filter — the
  *    "keep the best X% of each source" selection rule, exact
  *    rank-based (no approximate percentile drift across engines).
  *  - [[piiRedact]]: regexp PII masking (emails/phones) with per-doc
  *    redaction counts, on deterministically planted PII so the fixture
  *    actually exercises the masking.
  *  - [[shardAssign]]: hash-sharded output layout + balance audit — the
  *    step that decides which of the N output files each doc lands in.
  *  - [[mixMaterialize]]: turn [[TrainingPrep.sourceMix]]'s temperature
  *    weights into an actual epoch — per-doc copy counts materialized to
  *    (doc, copy) rows, integer-exact largest-remainder allocation.
  *
  * Scale notes per operator are on each method; none shuffles document
  * bodies except the scan-local redaction pass (which shuffles nothing).
  */
object Curation {

  /** Output shards for [[shardAssign]]. */
  private[graft] val NShards = 64
  /** Epoch size (total draws) for [[mixMaterialize]]. */
  private[graft] val EpochDocs = 10000L
  /** Span width (words) for [[spanDedup]]. */
  private[ops] val SpanWords = 10

  // Java and RE2 agree on these (no lookaround, no anchors-in-group):
  private[ops] val EmailRe = "[a-z0-9_.]+@[a-z0-9.]+\\.[a-z]+"
  private[ops] val PhoneRe = "555-[0-9]{4}"

  /** One representative per near-duplicate cluster: the
    * [[Dedup.dedupClusters]] assignment joined back to the corpus, keeper
    * = max `n_chars` (quality proxy), ties to the smallest doc_id.
    *
    * Scale: the cluster labels are (id, label) pairs; the join back to
    * documents is keyed on doc_id and carries only `n_chars` — bodies
    * never ride an exchange. The per-cluster argmax is a window over
    * narrow rows hash-partitioned by cluster. */
  def clusterRep(s: SparkSession, d: String): DataFrame = {
    val labels = Dedup.dedupClusters(s, d).select("doc_id", "cluster")
    val sized = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labels.join(sized, "doc_id")
      .withColumn("rep_rank", row_number().over(w))
      .select(col("doc_id"), col("cluster"), col("n_chars"),
        (col("rep_rank") === 1).cast("int").as("is_rep"))
      .orderBy("doc_id")
  }

  /** Span-level exact dedup: each document is cut into fixed 10-word
    * spans; a span is a duplicate iff the same text occurred at a
    * lexicographically earlier (doc_id, span_idx) anywhere in the corpus.
    * Reports per-doc span counts and the retained fraction — the
    * paragraph-dedup decision a Dolma/CCNet-style pipeline applies before
    * token packing.
    *
    * Scale: spans explode to ~tokens/10 rows; the only exchange is
    * hash-partitioned on the span's md5 (digest + two ids per row, no
    * span text), and first-occurrence is a per-digest window — the same
    * digest-shuffle discipline as [[Dedup.dedupExact]]. */
  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val spanArr = transform(
      sequence(lit(0), (size(w) + lit(SpanWords - 1)).divide(lit(SpanWords)).cast("int") - 1),
      i => concat_ws(" ", slice(w, i * SpanWords + 1, lit(SpanWords))))
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(spanArr).as(Seq("span_idx", "span")))
      .select(col("doc_id"), col("span_idx"), md5(col("span")).as("h"))
    val firstW = Window.partitionBy("h").orderBy("doc_id", "span_idx")
    spans
      .withColumn("occ", row_number().over(firstW))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum((col("occ") > 1).cast("long")).as("n_dup_spans"))
      .withColumn("retained",
        Det.q4((col("n_spans") - col("n_dup_spans")) / col("n_spans")))
      .orderBy("doc_id")
  }

  /** Per-source top-quartile quality filter: rank docs by
    * [[TextAnalysis.qualityExpr]] within each source (ties to the
    * smallest doc_id) and keep rank ≤ ceil(n/4). Exact — rank-based
    * selection is reproducible across engines and partitionings, where a
    * percentile THRESHOLD on ties is not.
    *
    * Scale: one shuffle on source; rows are (ids, one double). The
    * per-source sort is the unavoidable cost of exact selection — when
    * approximate is acceptable at 100 TB, `approx_percentile` per source
    * is the cheaper pre-filter, but the selection RULE stays this. */
  def qualityQuantile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextAnalysis.qualityExpr.as("quality"))
      .withColumn("q_rank", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("q_rank") <= ceil(col("n_src") / 4))
      .select(col("doc_id"), col("source"), col("quality"), col("q_rank"))
      .orderBy("source", "q_rank")
  }

  /** PII redaction: mask emails and phone-shaped strings, count
    * redactions per doc. The fixture word soup contains no PII, so it is
    * planted deterministically (every 7th doc an email, every 11th a
    * phone number, derived from doc_id) — the query then finds exactly
    * what was planted, verifiable cross-engine.
    *
    * Scale: entirely scan-local (regexp in codegen'd expressions, no
    * exchange but the presentation sort); at 100 TB this runs at scan
    * throughput like any C4-style cleaning pass. */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d)
      .withColumn("t1",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact_"), col("doc_id"), lit("@example.com")))
          .otherwise(col("text")))
      .withColumn("t2",
        when(col("doc_id") % 11 === 0,
          concat(col("t1"), lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("t1")))
    planted
      .select(
        col("doc_id"),
        regexp_count(col("t2"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("t2"), lit(PhoneRe)).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("redacted_md5"))
      .filter(col("n_emails") + col("n_phones") > 0)
      .orderBy("doc_id")
  }

  /** Portable hash shard id: the first 4 hex chars of md5("doc"||id)
    * parsed as an integer, mod [[NShards]] — DuckDB's `'0x'||…::BIGINT`
    * cast does the identical parse. */
  private def shardOf(id: Column): Column =
    (conv(substring(md5(concat(lit("doc"), id)), 1, 4), 16, 10)
      .cast("long") % NShards).as("shard")

  /** Hash-sharded output layout + balance audit: assign every doc a shard
    * by content-independent key hash and report per-shard doc/token
    * totals — the write-layout decision (and its skew check) for
    * publishing a curated corpus as N stable files.
    *
    * Scale: one map-side-combined aggregate to [[NShards]] rows; the
    * shard id doubles as the `repartition(col)` / partitionBy key for the
    * actual write. */
  def shardAssign(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(shardOf(col("doc_id")), size(words(col("text"))).cast("long").as("n_tokens"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy("shard")

  /** Materialize [[TrainingPrep.sourceMix]]'s α=0.5 temperature weights
    * into one concrete [[EpochDocs]]-draw epoch: each source's target
    * count is allocated to its docs largest-remainder style — every doc
    * gets floor(target/n) copies and the first (target mod n) docs by
    * doc_id get one extra — then exploded to (doc_id, copy_idx) rows.
    * Integer-exact end to end: sum of copies = Σ floor(weightᵢ·epoch)
    * exactly, in any engine.
    *
    * Scale: per-source targets are a broadcast-sized dimension; the
    * explode multiplies rows by the average epoch multiplicity only
    * (here ≲ 3 — an epoch is at most a small multiple of the corpus). */
  def mixMaterialize(s: SparkSession, d: String): DataFrame = {
    val targets = TrainingPrep.sourceMix(s, d)
      .select(col("source"), col("n_docs"),
        floor(col("weight") * EpochDocs).cast("long").as("target"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .join(broadcast(targets), "source")
      .withColumn("pos", row_number().over(w))
      .withColumn("n_copies",
        expr("target div n_docs")
          + (col("pos") <= col("target") % col("n_docs")).cast("long"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** Fixed quality-gate threshold for [[curationPipeline]] — sits near
    * the fixture's P25 so the gate actually cuts (~30%) without starving
    * the later stages. Quality scores are 4-dp-rounded in both engines
    * before the comparison, so the gate is boundary-deterministic. */
  private[ops] val QualityGate = 0.35

  /** The whole curation pass as ONE composed dataflow — exact dedup →
    * quality gate → LSH near-dup removal — reported as a per-source
    * funnel (rows surviving each stage + final token mass). This is the
    * query that proves the stage operators COMPOSE: each stage consumes
    * the previous stage's survivor frame, not the raw table, and the
    * DuckDB oracle chains the same CTEs, so the hash compare checks the
    * full 3-stage pipeline semantics end-to-end.
    *
    * Scale shape: stage 1 shuffles digests (never bodies); stage 2 is
    * scan-local; stage 3 runs banding over the (smaller) survivor set —
    * band keys only on the exchange. The funnel aggregates are
    * source-cardinality rows. Survivor frames that feed two consumers
    * ([[graft.util.Ckpt.stage]]) materialize once. */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    // stage 1: exact dedup keyed on content digest
    val wk = Window.partitionBy("key").orderBy("doc_id")
    val exact = graft.util.Ckpt.stage(raw
      .withColumn("key", md5(col("text")))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") === 1).drop("key", "rn"))
    // stage 2: fixed-threshold quality gate
    val good = graft.util.Ckpt.stage(
      exact.withColumn("quality", TextAnalysis.qualityExpr)
        .filter(col("quality") >= QualityGate))
    // stage 3: near-dup removal — band collision against a smaller
    // SURVIVING doc_id (bands computed over survivors, the real order)
    val wb = Window.partitionBy("bkey")
    val keepers = Dedup.bandBucketsOf(good)
      .withColumn("bmin", min("doc_id").over(wb))
      .groupBy("doc_id").agg(min("bmin").as("keeper"))
      .filter(col("keeper") === col("doc_id"))
      .select("doc_id")
    val fin = good.join(keepers, "doc_id")
    // funnel report per source
    raw.groupBy("source").agg(count(lit(1)).as("n_raw"))
      .join(exact.groupBy("source").agg(count(lit(1)).as("n_exact")), Seq("source"), "left")
      .join(good.groupBy("source").agg(count(lit(1)).as("n_quality")), Seq("source"), "left")
      .join(fin.groupBy("source").agg(
          count(lit(1)).as("n_final"),
          sum(size(words(col("text")))).as("tokens_final"),
          Det.q4(graft.util.Det.davg(col("quality"))).as("avg_q_final")),
        Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"),
        col("avg_q_final"))
      .orderBy("source")
  }

  /** Inter-source overlap matrix: distinct-bigram Jaccard for every
    * source pair — the contamination dashboard a curator reads to find
    * sources that duplicate each other (a mirrored crawl, a re-scrape, a
    * vendor reselling another vendor's data) BEFORE per-document dedup
    * runs. Source-level overlap is invisible to per-doc tools when the
    * duplication is spread thin across many near-but-not-identical docs.
    *
    * Scale shape: the exploded incidence dedups to distinct (source,
    * bigram) FIRST — bounded by vocabulary × n_sources, never corpus
    * size — and the pair meet is an equi-join through shared bigrams
    * whose fan-out per bigram is ≤ n_sources (a fixed, small number at
    * any corpus scale); per-source totals broadcast back. The matrix is
    * n_sources², tiny by construction. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val inc = Tables.documents(s, d)
      .select(col("source"),
        explode(array_distinct(graft.functions.TextFeatures.bigrams(
          graft.functions.TextFeatures.words(col("text"))))).as("bg"))
      .distinct()
      .transform(graft.util.Ckpt.stage)
    val sizes = inc.groupBy("source").agg(count(lit(1)).as("n"))
    val a = inc.select(col("source").as("s1"), col("bg"))
    val b = inc.select(col("source").as("s2"), col("bg").as("bg2"))
    a.join(b, col("bg") === col("bg2") && col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .withColumn("jaccard",
        Det.q4(col("shared") / (col("n1") + col("n2") - col("shared"))))
      .select(col("s1"), col("s2"), col("shared"), col("n1"), col("n2"), col("jaccard"))
      .orderBy("s1", "s2")
  }

  /** Minimum group size for [[kAnonymity]] — the k in k-anonymity. */
  private val KAnonThreshold = 10

  /** k-anonymity audit over the release quasi-identifiers (source, lang,
    * 100-char length bucket): group sizes and the below-k flag — the
    * privacy gate a corpus release runs beside [[piiRedact]]. Any
    * quasi-identifier combination matching fewer than k documents is a
    * re-identification risk: an adversary who knows those attributes of
    * a target pins it to < k candidates, so the group must be
    * generalized (coarser buckets) or suppressed before release.
    *
    * Scale shape: one map-side-combined aggregate; the QI space is
    * bounded (sources × langs × length buckets), never corpus-sized. */
  def kAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"), col("lang"),
        floor(col("n_chars") / lit(100)).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("below_k", (col("n") < KAnonThreshold).cast("int"))
      .orderBy("source", "lang", "len_bucket")

  /** k-anonymity ENFORCEMENT — the action [[kAnonymity]]'s audit calls
    * for, as its oracled twin: per document, release / generalize /
    * suppress its quasi-identifier tuple so every released equivalence
    * class has ≥ k members.
    *
    * Rule (classes stay clean by construction): a fine QI group
    * (source, lang, 100-char bucket) with ≥ k members releases as-is;
    * the below-k residue falls back to the 500-char generalization, and
    * a coarse class formed ONLY of that residue releases when the
    * residue alone reaches k (counting fine-released docs into the
    * coarse class would overstate its anonymity — those docs are
    * identifiable at the finer value); anything still below k is
    * suppressed (NULL bounds). Output: one row per document with the
    * released [bucket_lo, bucket_hi) bounds and the action taken.
    *
    * Scale shape: two bounded-domain QI aggregates broadcast back onto
    * the document stream; documents shuffle only for the presentation
    * sort. [[CurationSpec]] asserts the k-anonymity law on the output:
    * every released equivalence class has ≥ k members. */
  def kAnonymityEnforce(s: SparkSession, d: String): DataFrame = {
    val k = KAnonThreshold
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .withColumn("b1", floor(col("n_chars") / 100).cast("long"))
      .withColumn("b2", floor(col("n_chars") / 500).cast("long"))
    val fine = docs.groupBy("source", "lang", "b1").agg(count(lit(1)).as("n1"))
    val coarseResidue = docs
      .join(broadcast(fine), Seq("source", "lang", "b1"))
      .filter(col("n1") < k)
      .groupBy("source", "lang", "b2").agg(count(lit(1)).as("n2"))
    docs
      .join(broadcast(fine), Seq("source", "lang", "b1"))
      .join(broadcast(coarseResidue), Seq("source", "lang", "b2"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("n1") >= k, col("b1") * 100)
          .when(col("n2") >= k, col("b2") * 500).as("bucket_lo"),
        when(col("n1") >= k, col("b1") * 100 + 100)
          .when(col("n2") >= k, col("b2") * 500 + 500).as("bucket_hi"),
        when(col("n1") >= k, lit("release"))
          .when(col("n2") >= k, lit("generalize"))
          .otherwise(lit("suppress")).as("action"))
      .orderBy("doc_id")
  }

  /** Per-source rank-based quantile normalization of the quality score:
    * qnorm = (rank − 1)/(n − 1) ∈ [0, 1] with rank ascending in (quality,
    * doc_id) — the transform that makes quality scores COMPARABLE ACROSS
    * SOURCES before a global threshold or mixing policy reads them (raw
    * scores are source-scale-dependent; the [[qualityQuantile]] keep-gate
    * and [[mixMaterialize]] both become source-fair on qnorm). Exact by
    * construction: the score is 4-dp-quantized, ranks are integers, and
    * qnorm is one integer-ratio division rounded at 6 dp — no estimator,
    * no interpolation (the q_outlier_mad lesson).
    *
    * Scale shape: one window partitioned by source over (doc_id, quality)
    * — corpus-parallel, no global sort; singleton sources pin qnorm to 0
    * in both engines (the 0/0 guard). */
  def quantileNorm(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("quality").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextAnalysis.qualityExpr.as("quality"))
      .withColumn("rank", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("qnorm",
        when(col("n_src") === 1, lit(0.0)).otherwise(
          Det.q6((col("rank") - 1).cast("double") / (col("n_src") - 1).cast("double"))))
      .select(col("doc_id"), col("source"), col("quality"), col("rank"), col("qnorm"))
      .orderBy("source", "rank")
  }

  /** Rule-based hard quality gate — the Gopher-rules complement of the
    * SCORED [[TextAnalysis.qualityScore]] (production pipelines run both:
    * scores feed quantile-style selection, hard rules reject outright).
    * Four rules, each an integer-exact comparison (rationals
    * cross-multiplied — ZERO float arithmetic anywhere, so cross-engine
    * parity is unconditional):
    *   - r_len:       10 ≤ n_words ≤ 1000
    *   - r_wordlen:   3·n_words ≤ n_letters ≤ 10·n_words  (mean word length ∈ [3,10])
    *   - r_maxrep:    5·max_tf ≤ n_words                   (top word under 20%)
    *   - r_diversity: 2·n_distinct ≥ n_words               (type-token ratio ≥ ½)
    * `keep` = conjunction. Flags surface as 0/1 INTs (the
    * q_dedup_compare convention).
    *
    * Scale shape: n_words / n_letters are row-local; max_tf and
    * n_distinct reduce at the (doc, term) grain FIRST, so the only
    * exchange carries distinct pairs — never repeated tokens, never
    * bodies. The stats join back on doc_id (left join + coalesce keeps
    * degenerate all-empty docs in the audit with failing flags). */
  def qualityRules(s: SparkSession, d: String): DataFrame = {
    val wf = filter(words(col("text")), x => x =!= "")
    val base = Tables.documents(s, d).select(col("doc_id"),
      size(wf).cast("long").as("n_words"),
      length(translate(col("text"), " ", "")).cast("long").as("n_letters"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(wf).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("doc_id")
      .agg(max("tf").as("max_tf"), count(lit(1)).as("n_distinct"))
    base.join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_letters"),
        coalesce(col("max_tf"), lit(0L)).as("max_tf"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .select(col("doc_id"), col("n_words"), col("n_letters"),
        col("max_tf"), col("n_distinct"),
        (col("n_words") >= 10 && col("n_words") <= 1000).cast("int").as("r_len"),
        (lit(3) * col("n_words") <= col("n_letters") &&
          col("n_letters") <= lit(10) * col("n_words")).cast("int").as("r_wordlen"),
        (lit(5) * col("max_tf") <= col("n_words")).cast("int").as("r_maxrep"),
        (lit(2) * col("n_distinct") >= col("n_words")).cast("int").as("r_diversity"))
      .withColumn("keep",
        (col("r_len") === 1 && col("r_wordlen") === 1 &&
          col("r_maxrep") === 1 && col("r_diversity") === 1).cast("int"))
      .orderBy("doc_id")
  }

  /** l-diversity audit — the companion [[kAnonymity]] needs before a
    * release is actually safe: a class can hold k≥10 members and STILL
    * leak if they all share the sensitive attribute (the homogeneity
    * attack k-anonymity ignores). Here the released quasi-identifiers
    * are (source, 100-char length bucket) and the sensitive attribute
    * is lang: a class with l_div = 1 tells an attacker every matching
    * doc's language with certainty.
    *
    * Determinism: exact COUNT(DISTINCT) over a bounded attribute
    * domain; everything integer. Scale shape: one map-side-combinable
    * aggregate over the bounded QI grid (sources × length buckets);
    * the distinct-lang count shuffles (QI, lang) pairs — bounded by
    * grid × language inventory, never corpus-sized. */
  def lDiversity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"),
        floor(col("n_chars") / lit(100)).cast("long").as("len_bucket"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("lang")).as("l_div"))
      .withColumn("below_l", (col("l_div") < 2).cast("int"))
      .orderBy("source", "len_bucket")

  /** Quality→tokens retention curve — the selection chart every curation
    * decision starts from: for each quality decile threshold, how many
    * documents and tokens survive a "keep quality ≥ t" gate, and what
    * share of the corpus' tokens that is. [[qualityQuantile]] scores
    * docs; this aggregates the trade-off (cut at 0.5 keeps X% of tokens)
    * so the threshold is chosen ON the curve, not by feel.
    *
    * Determinism: the score is the oracled [[TextAnalysis.qualityExpr]]
    * (4-dp); the decile bucket is floor(q·10) — one IEEE multiply+floor
    * on identical doubles, so even boundary-ulp cases land identically
    * in both engines; counts/sums/cumulative sums are BIGINT; the token
    * share is one integer ppm division. Deciles with no documents are
    * absent on both sides alike.
    *
    * Scale shape: one map-side-combinable aggregate to ≤10 decile rows;
    * the reverse-cumulative window runs over those ≤10 rows (the only
    * unpartitioned window, constant-bounded by construction); the 1-row
    * token total broadcasts back. The corpus is scanned once and never
    * shuffled. */
  def retentionCurve(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d).select(
      least(lit(9L), floor(TextAnalysis.qualityExpr * lit(10.0)).cast("long")).as("bucket"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val b = per.groupBy("bucket")
      .agg(count(lit(1)).as("nd"), sum("toks").as("nt"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum("toks").as("tot"))
    b.select(col("bucket"),
        sum("nd").over(w).as("n_docs"),
        sum("nt").over(w).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("token_share_ppm", expr("n_tokens * 1000000 div tot"))
      .drop("tot")
      .orderBy("bucket")
  }

  /** Per-source datasheet — the one-frame "data card" a corpus release
    * ships with: volume (docs, tokens, chars), language breadth, exact-
    * duplicate rate, and mean quality, per source. Each column summarizes
    * an audited family (dedup share ↔ q_dedup_exact, quality ↔
    * q_quality_score) so the card is a rollup of numbers the engine
    * already proves, not a parallel implementation.
    *
    * Determinism: tokens/chars/dup counts are BIGINT; the dup flag is
    * doc_id > min(doc_id) over the md5 digest partition (exact); means
    * go through the DECIMAL(24,6) sum then one division + 4-dp
    * floor-quantize (the q4 rule); the dup rate is an integer ppm
    * division.
    *
    * Scale shape: tokens/quality/digest are computed ROW-LOCALLY first,
    * so the digest-partition window shuffles narrow (digest, source,
    * lang, counters) rows — document bodies never exchange (the
    * q_dedup_exact discipline); then one map-side-combinable per-source
    * aggregate over the ≤|sources| grid. Two exchanges total. */
  def sourceDatasheet(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("k")
    val rows = Tables.documents(s, d).select(
      col("doc_id"), col("source"), col("lang"), col("n_chars"),
      size(split(col("text"), " ")).cast("long").as("toks"),
      TextAnalysis.qualityExpr.as("q"),
      md5(col("text")).as("k"))
    rows
      .withColumn("is_dup", (col("doc_id") > min("doc_id").over(w)).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum("is_dup").as("n_dups"),
        sum("n_chars").as("sum_chars"),
        dsum(col("q")).as("sum_q"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_dups"),
        expr("n_dups * 1000000 div n_docs").as("dup_ppm"),
        q4(col("sum_q") / col("n_docs")).as("avg_quality"),
        q4(col("sum_chars").cast("double") / col("n_docs")).as("avg_chars"))
      .orderBy("source")
  }

  /** t-closeness threshold (total-variation distance), ×10 to stay in
    * integers: a class is flagged when TVD > 0.4. */
  private val TClosenessTimes10 = 4L

  /** t-closeness audit — the third leg of the privacy ladder: a class can
    * be k-anonymous AND l-diverse yet still leak by SKEW (90% one lang
    * where the corpus holds 20%). Per released QI class (source, 100-char
    * bucket), the total-variation distance between the class' lang
    * distribution and the corpus', flagged above t = 0.4.
    *
    * Determinism: TVD = ½·Σ|p_C(ℓ) − p(ℓ)| is computed over the FULL
    * class×lang grid (absent langs contribute their whole corpus share —
    * the trap the PSI monitor's dropped-bins note warns about), with
    * every term an exact BIGINT cross-product |c_Cℓ·N − c_ℓ·n_C|; the
    * threshold compares 10·Σ > 2·t·10·N·n_C in integers, and the
    * reported distance is ONE division of exact integers, 4-dp
    * floor-quantized. Overflow edge: the cross-products pass BIGINT near
    * N ≈ 3·10⁹ docs (the q_ks_drift gap-product edge) — partition the
    * audit by corpus shard before that point.
    *
    * Scale shape: three map-side-combinable aggregates (class, class ×
    * lang, lang); the lang inventory and the 1-row total broadcast; the
    * grid join is |classes| × |langs|, never corpus-sized. */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"),
      floor(col("n_chars") / lit(100)).cast("long").as("len_bucket"), col("lang"))
    val cls = docs.groupBy("source", "len_bucket").agg(count(lit(1)).as("n_c"))
    val cl = docs.groupBy("source", "len_bucket", "lang").agg(count(lit(1)).as("c_cl"))
    val gl = docs.groupBy("lang").agg(count(lit(1)).as("c_l"))
    val tot = docs.agg(count(lit(1)).as("n_tot"))
    cls.crossJoin(broadcast(gl)).crossJoin(broadcast(tot))
      .join(cl, Seq("source", "len_bucket", "lang"), "left")
      .withColumn("term",
        abs(coalesce(col("c_cl"), lit(0L)) * col("n_tot") - col("c_l") * col("n_c")))
      .groupBy("source", "len_bucket", "n_c", "n_tot")
      .agg(sum("term").as("l1_scaled"))
      .select(col("source"), col("len_bucket"), col("n_c").as("n"),
        col("l1_scaled"),
        q4(col("l1_scaled").cast("double") /
          (lit(2.0) * col("n_tot").cast("double") * col("n_c").cast("double"))).as("tvd"),
        (col("l1_scaled") * 10 >
          lit(2L * TClosenessTimes10) * col("n_tot") * col("n_c")).cast("int").as("above_t"))
      .orderBy("source", "len_bucket")
  }

  /** Privacy budget for [[dpCount]] — the textbook "moderate privacy"
    * setting; the Laplace scale is sensitivity/ε = 1/ε for a count. */
  private val DpEpsilon = 1.0

  /** Laplace-mechanism noisy event counts with a SEED-KEYED noise draw:
    * the uniform is md5(seed ‖ ':' ‖ cell), pushed through the Laplace
    * inverse CDF −(1/ε)·sgn(u−½)·ln(1−2|u−½|). Keying the draw to the
    * (seed, cell) pair is what a production DP release wants
    * operationally — re-running the release must NOT spend fresh budget
    * or publish a second draw of the same statistic (averaging two
    * draws halves the noise) — but the release is ε-DP **only if the
    * seed is secret**: with a public seed anyone recomputes the noise
    * and recovers n_true exactly (md5 of a known string is a public
    * function, not a PRF). Production callers therefore MUST pass a
    * high-entropy `seed` held like a key; the registered `q_dp_count`
    * entry binds the PUBLIC fixture seed "dp" so the oracle gate can
    * reproduce the draw — that configuration is a deterministic
    * SIMULATION of the mechanism (correct noise distribution and
    * budget accounting, zero actual privacy), and is documented as
    * such. (ADVICE r7.)
    *
    * Determinism: u = (h + ½)/2³² from the first 8 md5 hex digits —
    * strictly inside (0,1) and never exactly ½ (h + ½ is never 2³¹), so
    * the log argument is strictly positive; noise is a fixed tree of
    * elementary IEEE ops plus one ln (6-dp-quantized output — the
    * ln-never-half-way discipline); the released value rounds once at
    * the end.
    *
    * Scale shape: one map-side-combined groupBy; noise is computed on
    * the k-row released frame, never per input row. */
  def dpCount(s: SparkSession, d: String, seed: String = "dp"): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed + ":"), col("event_type"))), 1, 8), 16, 10)
      .cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val t = u - lit(0.5)
    val noise = (lit(-1.0) / lit(DpEpsilon)) * signum(t) *
      log(lit(1.0) - lit(2.0) * abs(t))
    Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("n_true"))
      .select(col("event_type"), lit(DpEpsilon).as("epsilon"),
        q6(col("n_true").cast("double") + noise).as("noisy_n"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the public fixture seed: oracle-reproducible ⇒ a mechanism
    // SIMULATION, not a private release (see [[dpCount]])
    "q_dp_count"       -> ((s: SparkSession, d: String) => dpCount(s, d, "dp")),
    "q_t_closeness"    -> (tCloseness _),
    "q_source_datasheet" -> (sourceDatasheet _),
    "q_retention_curve" -> (retentionCurve _),
    "q_l_diversity"    -> (lDiversity _),
    "q_quality_rules"  -> (qualityRules _),
    "q_quantile_norm"  -> (quantileNorm _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_k_anonymity"    -> (kAnonymity _),
    "q_k_anon_enforce" -> (kAnonymityEnforce _),
    "q_curation_pipeline" -> (curationPipeline _),
    "q_cluster_rep"      -> (clusterRep _),
    "q_span_dedup"       -> (spanDedup _),
    "q_quality_quantile" -> (qualityQuantile _),
    "q_pii_redact"       -> (piiRedact _),
    "q_shard_assign"     -> (shardAssign _),
    "q_mix_materialize"  -> (mixMaterialize _),
  )

  private val WordsSql = "string_split(text, ' ')"

  /** [[TextAnalysis.qualityExpr]] in DuckDB SQL (kept in sync with the
    * q_quality_score oracle). */
  private val QualitySql =
    s"""floor((0.4 * (len(list_filter($WordsSql, w -> w IN ('the','a','of'))) / len($WordsSql))
       |    + 0.3 / (1.0 + abs(length(replace(text, ' ', '')) / len($WordsSql) - 5.0))
       |    + 0.3 * least(1.0, len($WordsSql) / 100.0)) * 10000 + 0.5) / 10000""".stripMargin

  private val SpansSql =
    s"""list_transform(range(0, CAST(ceil(len($WordsSql) / ${SpanWords}.0) AS INT)),
       |  i -> array_to_string(list_slice($WordsSql, i*$SpanWords + 1, i*$SpanWords + $SpanWords), ' '))""".stripMargin

  private val BigramsSql =
    s"list_distinct(list_transform(range(1, len($WordsSql)), i -> $WordsSql[i] || ' ' || $WordsSql[i+1]))"

  val oracle: Map[String, String] = Map(
    "q_dp_count" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
        |  FROM events GROUP BY event_type
        |), u AS (
        |  SELECT event_type, n_true,
        |    (CAST(CAST('0x' || substring(md5('dp:' || event_type), 1, 8) AS BIGINT)
        |          AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS t
        |  FROM g
        |)
        |SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
        |  floor((CAST(n_true AS DOUBLE)
        |         + (-1.0 / 1.0) * sign(t) * ln(1.0 - 2.0 * abs(t)))
        |        * 1000000.0 + 0.5) / 1000000.0 AS noisy_n
        |FROM u ORDER BY event_type""".stripMargin,
    "q_t_closeness" ->
      s"""WITH docs AS (
         |  SELECT source, CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket, lang
         |  FROM documents
         |), cls AS (
         |  SELECT source, len_bucket, count(*) AS n_c FROM docs GROUP BY 1, 2
         |), cl AS (
         |  SELECT source, len_bucket, lang, count(*) AS c_cl FROM docs GROUP BY 1, 2, 3
         |), gl AS (SELECT lang, count(*) AS c_l FROM docs GROUP BY lang),
         |tot AS (SELECT count(*) AS n_tot FROM docs),
         |g AS (
         |  SELECT cls.source, cls.len_bucket, cls.n_c, tot.n_tot,
         |         abs(coalesce(cl.c_cl, 0) * tot.n_tot - gl.c_l * cls.n_c) AS term
         |  FROM cls CROSS JOIN gl CROSS JOIN tot
         |  LEFT JOIN cl ON cl.source = cls.source
         |             AND cl.len_bucket = cls.len_bucket AND cl.lang = gl.lang
         |), agg AS (
         |  SELECT source, len_bucket, n_c, n_tot,
         |         CAST(sum(term) AS BIGINT) AS l1_scaled
         |  FROM g GROUP BY 1, 2, 3, 4
         |)
         |SELECT source, len_bucket, n_c AS n, l1_scaled,
         |       floor(CAST(l1_scaled AS DOUBLE)
         |             / (2.0 * CAST(n_tot AS DOUBLE) * CAST(n_c AS DOUBLE))
         |             * 10000 + 0.5) / 10000 AS tvd,
         |       CAST(l1_scaled * 10 > ${2 * TClosenessTimes10} * n_tot * n_c
         |            AS INTEGER) AS above_t
         |FROM agg ORDER BY source, len_bucket""".stripMargin,
    "q_source_datasheet" ->
      s"""WITH rows_t AS (
         |  SELECT doc_id, source, lang, n_chars,
         |         CAST(len($WordsSql) AS BIGINT) AS toks,
         |         $QualitySql AS q,
         |         md5(text) AS k
         |  FROM documents
         |), fl AS (
         |  SELECT source, lang, n_chars, toks, q,
         |         CAST(doc_id > min(doc_id) OVER (PARTITION BY k) AS BIGINT) AS is_dup
         |  FROM rows_t
         |)
         |SELECT source,
         |       count(*) AS n_docs,
         |       CAST(sum(toks) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |       CAST(sum(is_dup) AS BIGINT) AS n_dups,
         |       CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_ppm,
         |       floor(CAST(sum(CAST(q AS DECIMAL(24,6))) AS DOUBLE) / count(*)
         |             * 10000 + 0.5) / 10000 AS avg_quality,
         |       floor(CAST(sum(n_chars) AS DOUBLE) / count(*)
         |             * 10000 + 0.5) / 10000 AS avg_chars
         |FROM fl GROUP BY source ORDER BY source""".stripMargin,
    "q_retention_curve" ->
      s"""WITH per AS (
         |  SELECT least(9, CAST(floor($QualitySql * 10.0) AS BIGINT)) AS bucket,
         |         CAST(len($WordsSql) AS BIGINT) AS toks
         |  FROM documents
         |), b AS (
         |  SELECT bucket, count(*) AS nd, CAST(sum(toks) AS BIGINT) AS nt
         |  FROM per GROUP BY bucket
         |), c AS (
         |  SELECT bucket,
         |         CAST(sum(nd) OVER w AS BIGINT) AS n_docs,
         |         CAST(sum(nt) OVER w AS BIGINT) AS n_tokens
         |  FROM b
         |  WINDOW w AS (ORDER BY bucket DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), t AS (SELECT CAST(sum(toks) AS BIGINT) AS tot FROM per)
         |SELECT bucket, n_docs, n_tokens,
         |       CAST(n_tokens * 1000000 // tot AS BIGINT) AS token_share_ppm
         |FROM c, t ORDER BY bucket""".stripMargin,
    "q_l_diversity" ->
      """SELECT source,
        |       CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
        |       count(*) AS n,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS l_div,
        |       CAST(count(DISTINCT lang) < 2 AS INTEGER) AS below_l
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY source, len_bucket""".stripMargin,
    "q_quality_rules" ->
      s"""WITH ws AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter($WordsSql, x -> x <> '')) AS BIGINT) AS n_words,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(list_filter($WordsSql, x -> x <> '')) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term
         |), st AS (
         |  SELECT doc_id, CAST(max(tf) AS BIGINT) AS max_tf,
         |         CAST(count(*) AS BIGINT) AS n_distinct
         |  FROM tf GROUP BY doc_id
         |), f AS (
         |  SELECT ws.doc_id, n_words, n_letters,
         |         COALESCE(max_tf, 0) AS max_tf,
         |         COALESCE(n_distinct, 0) AS n_distinct
         |  FROM ws LEFT JOIN st ON ws.doc_id = st.doc_id
         |)
         |SELECT doc_id, n_words, n_letters, max_tf, n_distinct,
         |       CASE WHEN n_words >= 10 AND n_words <= 1000 THEN 1 ELSE 0 END AS r_len,
         |       CASE WHEN 3 * n_words <= n_letters AND n_letters <= 10 * n_words
         |            THEN 1 ELSE 0 END AS r_wordlen,
         |       CASE WHEN 5 * max_tf <= n_words THEN 1 ELSE 0 END AS r_maxrep,
         |       CASE WHEN 2 * n_distinct >= n_words THEN 1 ELSE 0 END AS r_diversity,
         |       CASE WHEN n_words >= 10 AND n_words <= 1000
         |              AND 3 * n_words <= n_letters AND n_letters <= 10 * n_words
         |              AND 5 * max_tf <= n_words
         |              AND 2 * n_distinct >= n_words
         |            THEN 1 ELSE 0 END AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "q_quantile_norm" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, $QualitySql AS quality FROM documents
         |), r AS (
         |  SELECT *,
         |         CAST(row_number() OVER (PARTITION BY source ORDER BY quality ASC, doc_id ASC) AS INTEGER) AS rank,
         |         count(*) OVER (PARTITION BY source) AS n_src
         |  FROM q
         |)
         |SELECT doc_id, source, quality, rank,
         |       CASE WHEN n_src = 1 THEN 0.0
         |            ELSE floor((CAST(rank - 1 AS DOUBLE) / CAST(n_src - 1 AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS qnorm
         |FROM r
         |ORDER BY source, rank""".stripMargin,
    "q_k_anonymity" ->
      """SELECT source, lang,
        |       CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
        |       count(*) AS n,
        |       CAST(count(*) < 10 AS INTEGER) AS below_k
        |FROM documents
        |GROUP BY 1, 2, 3
        |ORDER BY source, lang, len_bucket""".stripMargin,
    "q_k_anon_enforce" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang,
        |         CAST(floor(n_chars / 100.0) AS BIGINT) AS b1,
        |         CAST(floor(n_chars / 500.0) AS BIGINT) AS b2
        |  FROM documents
        |), f AS (
        |  SELECT source, lang, b1, count(*) AS n1 FROM d GROUP BY 1, 2, 3
        |), c AS (
        |  SELECT d.source, d.lang, d.b2, count(*) AS n2
        |  FROM d JOIN f USING (source, lang, b1)
        |  WHERE f.n1 < 10
        |  GROUP BY 1, 2, 3
        |)
        |SELECT d.doc_id, d.source, d.lang,
        |       CASE WHEN f.n1 >= 10 THEN d.b1 * 100
        |            WHEN c.n2 >= 10 THEN d.b2 * 500 END AS bucket_lo,
        |       CASE WHEN f.n1 >= 10 THEN d.b1 * 100 + 100
        |            WHEN c.n2 >= 10 THEN d.b2 * 500 + 500 END AS bucket_hi,
        |       CASE WHEN f.n1 >= 10 THEN 'release'
        |            WHEN c.n2 >= 10 THEN 'generalize'
        |            ELSE 'suppress' END AS action
        |FROM d
        |JOIN f USING (source, lang, b1)
        |LEFT JOIN c USING (source, lang, b2)
        |ORDER BY doc_id""".stripMargin,
    "q_source_overlap" ->
      s"""WITH inc AS (
         |  SELECT DISTINCT source, bg
         |  FROM (SELECT source, unnest($BigramsSql) AS bg FROM documents)
         |), sz AS (
         |  SELECT source, count(*) AS n FROM inc GROUP BY source
         |), p AS (
         |  SELECT a.source AS s1, b.source AS s2, count(*) AS shared
         |  FROM inc a JOIN inc b ON a.bg = b.bg AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT s1, s2, shared, sa.n AS n1, sb.n AS n2,
         |       floor((shared / (sa.n + sb.n - shared)) * 10000 + 0.5) / 10000 AS jaccard
         |FROM p JOIN sz sa ON p.s1 = sa.source JOIN sz sb ON p.s2 = sb.source
         |ORDER BY s1, s2""".stripMargin,
    "q_curation_pipeline" ->
      s"""WITH ex AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) t
         |  WHERE rn = 1
         |), gd AS (
         |  SELECT doc_id, source, text, $QualitySql AS quality
         |  FROM ex
         |  WHERE $QualitySql >= $QualityGate
         |), ${Dedup.bandBucketsCteBodyFrom("gd")}, k AS (
         |  SELECT bkey, min(doc_id) AS bmin FROM b GROUP BY bkey
         |), surv AS (
         |  SELECT b.doc_id FROM b JOIN k USING (bkey)
         |  GROUP BY b.doc_id HAVING min(k.bmin) = b.doc_id
         |), fin AS (
         |  SELECT gd.* FROM gd JOIN surv USING (doc_id)
         |)
         |SELECT r.source, r.n_raw,
         |       coalesce(e.n_exact, 0) AS n_exact,
         |       coalesce(g.n_quality, 0) AS n_quality,
         |       coalesce(f.n_final, 0) AS n_final,
         |       coalesce(f.tokens_final, 0) AS tokens_final,
         |       f.avg_q_final
         |FROM (SELECT source, count(*) AS n_raw FROM documents GROUP BY 1) r
         |LEFT JOIN (SELECT source, count(*) AS n_exact FROM ex GROUP BY 1) e USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n_quality FROM gd GROUP BY 1) g USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n_final,
         |                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_final,
         |                  floor((CAST(SUM(CAST(quality AS DECIMAL(24,6))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_q_final
         |           FROM fin GROUP BY 1) f USING (source)
         |ORDER BY r.source""".stripMargin,
    "q_cluster_rep" ->
      s"""${Dedup.ClustersCteSql}
         |SELECT c.doc_id, c.cluster, d.n_chars,
         |       CAST(row_number() OVER (
         |         PARTITION BY c.cluster
         |         ORDER BY d.n_chars DESC, c.doc_id ASC) = 1 AS INTEGER) AS is_rep
         |FROM clusters c JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_span_dedup" ->
      s"""WITH sp AS (
         |  -- parallel unnests zip in DuckDB: position and value together
         |  SELECT doc_id,
         |         unnest(range(1, len($SpansSql) + 1)) - 1 AS span_idx,
         |         md5(unnest($SpansSql)) AS h
         |  FROM documents
         |), occ AS (
         |  SELECT doc_id,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, span_idx) AS rn
         |  FROM sp
         |)
         |SELECT doc_id, count(*) AS n_spans,
         |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |       floor(((count(*) - sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)) / count(*)) * 10000 + 0.5) / 10000 AS retained
         |FROM occ GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_quality_quantile" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, $QualitySql AS quality FROM documents
         |), r AS (
         |  SELECT doc_id, source, quality,
         |         CAST(row_number() OVER (
         |           PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS INTEGER) AS q_rank,
         |         count(*) OVER (PARTITION BY source) AS n_src
         |  FROM q
         |)
         |SELECT doc_id, source, quality, q_rank
         |FROM r WHERE q_rank <= ceil(n_src / 4.0)
         |ORDER BY source, q_rank""".stripMargin,
    "q_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 0
         |           THEN text || ' contact_' || CAST(doc_id AS VARCHAR) || '@example.com'
         |           ELSE text END AS t1
         |  FROM documents
         |), p2 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 11 = 0
         |           THEN t1 || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |           ELSE t1 END AS t2
         |  FROM p
         |)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t2, '$EmailRe')) AS INTEGER) AS n_emails,
         |       CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS INTEGER) AS n_phones,
         |       md5(regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
         |           '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM p2
         |WHERE len(regexp_extract_all(t2, '$EmailRe')) + len(regexp_extract_all(t2, '$PhoneRe')) > 0
         |ORDER BY doc_id""".stripMargin,
    "q_shard_assign" ->
      s"""WITH d AS (
         |  SELECT CAST('0x' || substr(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
         |           % $NShards AS shard,
         |         CAST(len($WordsSql) AS BIGINT) AS n_tokens
         |  FROM documents
         |)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM d GROUP BY shard
         |ORDER BY shard""".stripMargin,
    "q_mix_materialize" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sqrt(count(*)) AS DECIMAL(24,6)) AS ws
         |  FROM documents GROUP BY source
         |), t AS (SELECT sum(ws) AS tot FROM per
         |), tgt AS (
         |  SELECT source, n_docs,
         |         CAST(floor(floor((CAST(ws AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 * $EpochDocs) AS BIGINT) AS target
         |  FROM per, t
         |), pos AS (
         |  SELECT d.doc_id, d.source, g.target, g.n_docs,
         |         row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS pos
         |  FROM documents d JOIN tgt g USING (source)
         |), copies AS (
         |  SELECT doc_id, source,
         |         target // n_docs
         |           + CASE WHEN pos <= target % n_docs THEN 1 ELSE 0 END AS n_copies
         |  FROM pos
         |)
         |SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
         |FROM copies WHERE n_copies >= 1
         |ORDER BY doc_id, copy_idx""".stripMargin,
  )
}
