package graft.ops

import graft.util.Det
import graft.util.Det.{Dec0, qln}
import graft.Tables
import graft.functions.StringNgrams
import graft.functions.TextFeatures._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis family over `documents` (north-star: language-ID, quality
  * scoring, token counting, fingerprinting, n-gram stats).
  *
  * Extends the reference's word-frequency flagship
  * (`demo-etl-2a-notebook.py:53-56`) with the per-document text features a
  * training-data pipeline needs. All per-doc features are higher-order
  * functions inside one codegen'd projection — zero shuffles except
  * `q_ngram_stats`' final group-count; at 100 TB these are embarrassingly
  * parallel map stages.
  */
object TextAnalysis {

  def ngramStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(bigrams(words(col("text")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "y"),
    "de" -> Seq("der", "und"),
    "zh" -> Seq("de", "le"), // pinyin-ish particles; zh fixtures are word soup
  )

  /** Marker-word language-ID heuristic: count stopword hits per language,
    * argmax with a fixed precedence for ties. (The fixture texts are a
    * shared synthetic vocabulary, so this measures the *operator*, not a
    * real classifier — deterministic and oracle-comparable.) */
  /** The scored-and-predicted frame behind [[langId]] AND
    * [[langConfusion]] — one definition of the marker scores and the
    * first-match argmax, so the confusion audit grades exactly the
    * classifier the per-doc query reports. */
  private def langPredFrame(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    def score(ms: Seq[String]): Column =
      size(filter(w, x => x.isin(ms.map(m => m: Any): _*)))
    val scored = Tables.documents(s, d).select(
      (col("doc_id") +: col("lang") +:
        Markers.map { case (l, ms) => score(ms).as(s"s_$l") }): _*)
    val best = Markers.map { case (l, _) => col(s"s_$l") }
    val pred = Markers.foldLeft(lit(null).cast("string")) { case (acc, (l, _)) =>
      when(acc.isNotNull, acc).otherwise(
        when(col(s"s_$l") === greatest(best: _*), lit(l)))
    }
    scored.withColumn("pred", pred)
  }

  def langId(s: SparkSession, d: String): DataFrame =
    langPredFrame(s, d)
      .withColumn("correct", (col("pred") === col("lang")).cast("int"))
      .orderBy("doc_id")

  private val Stopwords = Seq("the", "a", "of")

  /** The composite quality score of [[qualityScore]] as a reusable
    * expression over a `text` column (also consumed by
    * `Curation.qualityQuantile`). Mirrored in SQL by [[QualityExprSql]]. */
  private[ops] def qualityExpr: Column = {
    val w = words(col("text"))
    val nWords = size(w)
    val nCharsNoSpace = length(regexp_replace(col("text"), " ", ""))
    val stopCnt = size(filter(w, x => x.isin(Stopwords.map(m => m: Any): _*)))
    val avgWl = nCharsNoSpace / nWords
    val stopRatio = stopCnt / nWords
    Det.q4(lit(0.4) * stopRatio
        + lit(0.3) / (lit(1.0) + abs(avgWl - lit(5.0)))
        + lit(0.3) * least(lit(1.0), nWords / lit(100.0)))
  }

  /** Quality scoring: stopword ratio, avg word length, length saturation —
    * the length/punct/stopword heuristics of C4-style corpus filtering. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val nCharsNoSpace = length(regexp_replace(col("text"), " ", ""))
    val stopCnt = size(filter(w, x => x.isin(Stopwords.map(m => m: Any): _*)))
    val avgWl = nCharsNoSpace / nWords
    val stopRatio = stopCnt / nWords
    Tables.documents(s, d).select(
      col("doc_id"),
      nWords.as("n_words"),
      stopCnt.as("stop_cnt"),
      Det.q4(avgWl).as("avg_word_len"),
      Det.q4(stopRatio).as("stop_ratio"),
      qualityExpr.as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens, distinct
    * token (vocabulary) count. */
  def tokenCount(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(w).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("re_tokens"),
      size(array_distinct(w)).as("vocab"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: min-hash-of-shingles (winnowing-style content
    * fingerprint) + a prefix hash. */
  def docFingerprint(s: SparkSession, d: String): DataFrame = {
    val sh = shingles3(words(col("text")), col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      array_min(transform(sh, x => md5(x))).as("fp_min"),
      md5(substring(col("text"), 1, 64)).as("fp_prefix"),
      size(sh).as("n_shingles"))
      .orderBy("doc_id")
  }

  /** Edit distance between each doc's 20-char prefix and its predecessor's
    * within the same language block (classic near-dup triage signal;
    * levenshtein is identically defined in both engines). Partitioning the
    * lag by `lang` keeps the window parallel — a global-order lag would
    * funnel the corpus through one partition. */
  def editDistance(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 20).as("prefix"))
      .withColumn("prev_prefix", lag("prefix", 1).over(w))
      .withColumn("edit_dist",
        when(col("prev_prefix").isNotNull,
          levenshtein(col("prefix"), col("prev_prefix"))).otherwise(lit(null)))
      .select(col("doc_id"), col("lang"), col("edit_dist"))
      .orderBy("doc_id")
  }

  /** Array set algebra between consecutive docs' bigram sets — intersect /
    * union / except cardinalities (the building blocks of overlap
    * coefficients beyond Jaccard). */
  def arraySetOps(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), array_distinct(bigrams(words(col("text")))).as("bg"))
      .withColumn("prev", lag("bg", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"),
        size(array_intersect(col("bg"), col("prev"))).as("n_inter"),
        size(array_union(col("bg"), col("prev"))).as("n_union"),
        size(array_except(col("bg"), col("prev"))).as("n_except"))
      .orderBy("doc_id")
  }

  /** TF-IDF: top-3 most characteristic terms per document. Term and
    * document frequencies partial-aggregate (counts only ride the
    * shuffles); the corpus size is a 1-row broadcast. Ranking orders by the
    * ROUNDED score — a raw-double ordering could flip on last-ulp `ln`
    * differences between engines — with a term tie-break. At 100 TB the
    * document-frequency side is vocabulary-sized, which AQE broadcasts. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency as a count window over term: one shuffle on term,
    // versus the groupBy-then-rejoin formulation's two shuffles + join
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(nd))
      .withColumn("tfidf",
        Det.q4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"))
    // top-3 terms per doc through the native bounded-selection operator
    // (graft.plans.TopKPerGroup): same result as the row_number window, but
    // the rank shuffle carries ≤ 3 rows per doc per partition
    graft.plans.TopKPerGroup
      .topK(scored, Seq("doc_id"), Seq("tfidf" -> true, "term" -> false), 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** Train/test decontamination (the GPT-3-style exact n-gram overlap
    * check): `src0` documents play the eval set, everything else the
    * training corpus; a test doc is contaminated when any of its word
    * 5-grams appears verbatim in the training side. Both gram sets
    * deduplicate before the membership join, so at 100 TB the shuffle
    * carries distinct grams (vocabulary-sized), never the corpus — and the
    * join is the one unavoidable gram-key shuffle. Zero-gram test docs stay
    * in the report via the left join from the doc list. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    // materialized once: the tokenize+5-gram explode feeds both the test
    // and train branches (same pattern as Dedup.ngramJaccard)
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(StringNgrams.ngrams(words(col("text")), 5)).as("gram"))
      .transform(graft.util.Ckpt.stage)
    val testG = grams.filter(col("source") === "src0")
      .select("doc_id", "gram").distinct()
    val train = grams.filter(col("source") =!= "src0")
      .select("gram").distinct().withColumn("in_train", lit(true))
    val perDoc = testG.join(train, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("in_train")).as("n_shared"))
    Tables.documents(s, d).filter(col("source") === "src0").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
      .orderBy("doc_id")
  }

  /** Decontamination ENFORCEMENT — the twin of [[contamination]] in the
    * same audit/enforce pattern as q_k_anonymity/q_k_anon_enforce: that
    * query flags eval (`src0`) docs whose 5-grams leak from training;
    * this one removes the leak from the TRAINING side (what a pipeline
    * actually ships: the eval set is fixed, the corpus is cleaned) and
    * reports the per-source cost — docs and tokens dropped, drop rate in
    * ppm — the budget sheet a data owner signs off before a training
    * run.
    *
    * Determinism: pure set joins on exact grams and BIGINT count/token
    * sums; the ppm share is integer division. Scale shape: gram sets
    * deduplicate BEFORE the membership join (the [[contamination]]
    * shape — distinct grams ride the shuffle, never the corpus), flagged
    * doc_ids are a narrow frame joined back to row-local token counts,
    * then one ≤|sources|-row aggregate. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(StringNgrams.ngrams(words(col("text")), 5)).as("gram"))
      .transform(graft.util.Ckpt.stage)
    val evalG = grams.filter(col("source") === "src0")
      .select("gram").distinct()
    val flagged = grams.filter(col("source") =!= "src0")
      .join(evalG, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("dropped", lit(1L))
    Tables.documents(s, d).filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
        sum(col("t")).as("tokens_total"),
        sum(coalesce(col("dropped"), lit(0L)) * col("t")).as("tokens_dropped"))
      .withColumn("drop_ppm",
        expr("tokens_dropped * 1000000 div tokens_total"))
      .orderBy("source")
  }

  /** ROUGE-2 contamination attribution: for every eval (`src0`) doc that
    * shares at least one 5-gram with training, find the single training
    * doc that best explains the leak — argmax clipped-bigram overlap —
    * and report the ROUGE-2 recall of the eval doc against it (the
    * memorization-audit number: rouge2 ≈ 1 means the eval doc exists
    * nearly verbatim in training; a low rouge2 with high n_shared5 means
    * scattered phrase reuse, a different mitigation). [[contamination]]
    * says THAT a doc leaks; this says FROM WHERE and HOW MUCH.
    *
    * Determinism: candidate pairs, clipped counts Σ min(c_eval, c_train)
    * (integer least — PARITY §5's decimal-promotion hazard doesn't apply
    * to BIGINT args), and the argmax ordering (clip DESC, n_shared5
    * DESC, train doc ASC) are all exact integers; rouge2 is ONE division
    * of exact integers, 6-dp floor-quantized.
    *
    * Scale shape: candidates meet through the DISTINCT-5-gram equi-join
    * (vocabulary-bounded, the [[contamination]] shape — never eval ×
    * train); bigram multisets join only on candidate pairs; the per-doc
    * argmax is a top-1 window over the candidate frame. */
  def rougeOverlap(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(StringNgrams.ngrams(words(col("text")), 5)).as("gram"))
      .transform(graft.util.Ckpt.stage)
    val evalG = grams.filter(col("source") === "src0")
      .select(col("doc_id").as("ed"), col("gram")).distinct()
    val trainG = grams.filter(col("source") =!= "src0")
      .select(col("doc_id").as("td"), col("gram")).distinct()
    val cand = evalG.join(trainG, "gram")
      .groupBy("ed", "td").agg(count(lit(1)).as("n_shared5"))
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), explode(bigrams(words(col("text")))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .transform(graft.util.Ckpt.stage)
    val refTot = bg.groupBy(col("doc_id").as("ed"))
      .agg(sum("cnt").as("ref_bigrams"))
    val clip = cand
      .join(bg.select(col("doc_id").as("ed"), col("g"), col("cnt").as("ce")), "ed")
      .join(bg.select(col("doc_id").as("td2"), col("g").as("g2"),
        col("cnt").as("ct")), col("td") === col("td2") && col("g") === col("g2"))
      .groupBy("ed", "td", "n_shared5")
      .agg(sum(least(col("ce"), col("ct"))).as("clip"))
    clip
      .withColumn("rn", row_number().over(
        Window.partitionBy("ed").orderBy(col("clip").desc,
          col("n_shared5").desc, col("td").asc)))
      .filter(col("rn") === 1)
      .join(refTot, "ed")
      .select(col("ed").as("doc_id"), col("td").as("match_doc"),
        col("n_shared5"), col("clip"), col("ref_bigrams"),
        Det.q6(col("clip").cast("double") / col("ref_bigrams").cast("double"))
          .as("rouge2"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signal: the fraction of a document's word
    * bigrams that are repeats (1 − distinct/total). One explode + two
    * partial-aggregating shuffles, both on (doc_id[, gram]) keys — fully
    * parallel at corpus scale. */
  def repetitionRatio(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(bigrams(words(col("text")))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .withColumn("rep_ratio", Det.q4(lit(1.0) - col("n_distinct") / col("n_bigrams")))
      .withColumn("repetitive", col("rep_ratio") >= 0.05)
      .orderBy("doc_id")

  /** Unigram-LM quality scoring (the CCNet/Dolma perplexity-proxy filter):
    * each document scored by the mean surprisal −ln p(token) of its tokens
    * under the corpus's own unigram distribution — word-soup docs made of
    * rare tokens score high, stopword-heavy boilerplate scores low. The
    * per-token surprisal is quantized to DECIMAL(18,6) BEFORE the per-doc
    * sum, so the aggregate is exact decimal addition — order-independent
    * across partitions and engines (a raw double sum would depend on
    * partition order); `round(ln(x), 6)` parity is the same cross-engine
    * contract q_math_funcs pins on 60k rows.
    *
    * Scale shape: occurrences reduce to per-(doc, term) tf FIRST, so both
    * exchanges are partial-aggregated counts — the (doc, term) shuffle
    * carries distinct pairs (never repeated tokens) and the vocabulary
    * rollup is Zipf-bounded; the per-token surprisal then rides a
    * broadcast of the vocabulary (at a scale where the vocabulary outgrows
    * broadcast, the same plan degrades to a term-keyed shuffle of the
    * already-tf-reduced side — still never raw occurrences). A count
    * window over term would instead ship every occurrence through the
    * exchange. */
  /** Language-ID confusion matrix — the audit OF [[langId]]: per
    * (labeled lang, predicted lang) cell count, the label's row total,
    * and the cell share (diagonal share = per-language recall). The
    * check a curation pipeline runs before trusting a cheap classifier
    * to route documents; the off-diagonal hotspots say WHICH languages
    * the marker heuristic conflates (fr/zh share 'le', es/en overlap).
    *
    * Determinism: the prediction is [[langPredFrame]]'s — shared with
    * q_lang_id, so this audit grades exactly that classifier; cells are
    * integer counts, and the one division per cell rounds at 6 dp.
    *
    * Scale shape: the per-doc scoring is row-local; the (lang, pred)
    * aggregate map-side-combines to ≤ |langs|² rows and row totals
    * broadcast back. One corpus pass. */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val cells = graft.util.Ckpt.stage(langPredFrame(s, d)
      .groupBy("lang", "pred").agg(count(lit(1)).as("n")))
    val rowTot = cells.groupBy(col("lang").as("l")).agg(sum("n").as("n_lang"))
    cells.join(broadcast(rowTot), col("lang") === col("l"))
      .select(col("lang"), col("pred"), col("n"), col("n_lang"),
        Det.q6(col("n").cast("double") / col("n_lang").cast("double")).as("share"))
      .orderBy("lang", "pred")
  }

  /** Vocabulary coverage curve — what fraction of all corpus tokens the
    * top-k most frequent terms cover, at k ∈ {10, 100, 1000}: the
    * number that sizes a tokenizer vocabulary or a stopword list
    * (Zipfian corpora cover most mass with tiny k; a flat curve means
    * noisy/synthetic text). Complements q_zipf_slope: the slope fits
    * the law, coverage states its practical consequence.
    *
    * Determinism: integer token counts; rank ties break on the term
    * string; the one division per row rounds at 6 dp.
    *
    * Scale shape: the top-1000 cut is a TakeOrdered (distributed
    * bounded heap — NO global sort of the vocabulary, which at corpus
    * scale is billions of distinct terms); the rank window then runs
    * over ≤1000 local rows, and the total-token frame is a 1-row
    * broadcast. One corpus pass + one vocabulary aggregate. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val vocab = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("ct")))
    val tot = vocab.agg(sum("ct").as("tt"))
    val ranked = graft.util.Ckpt.stage(
      vocab.orderBy(col("ct").desc, col("term").asc).limit(1000)
        .withColumn("r", row_number().over(
          Window.orderBy(col("ct").desc, col("term").asc))))
    Seq(10, 100, 1000).map { k =>
      ranked.filter(col("r") <= k)
        .agg(coalesce(sum("ct"), lit(0L)).as("covered"))
        .select(lit(k).as("k"), col("covered"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("covered"),
        Det.q6(col("covered").cast("double") / col("tt").cast("double")).as("share"))
      .orderBy("k")
  }

  /** One BPE merge-learning round — the tokenizer-training primitive:
    * count every adjacent character pair across the corpus vocabulary
    * weighted by word frequency, and rank the top-20 merge candidates
    * (the pair a BPE trainer would fuse next, and the 19 runners-up).
    * Run iteratively with re-segmentation this IS tokenizer training;
    * one round is the oracle-able unit.
    *
    * Determinism: pure integer counts; rank ties break on the pair
    * string (both engines compare ASCII bytewise). The rank window runs
    * over distinct character pairs — bounded by charset², never corpus
    * size.
    *
    * Scale shape: vocabulary aggregate (map-side, |vocab| rows out),
    * pair explosion bounded by word length, pair aggregate (≤ charset²
    * rows), bounded rank window. The corpus streams through once. */
  /** Tokenizer ENCODE — applies [[bpeMergeStep]]'s learned top-20
    * adjacent-character merges to the corpus and reports per-source
    * token counts and the chars→tokens compression ratio: the
    * train→apply composition a tokenizer pipeline actually runs (the
    * merge step alone never tells you what the vocabulary BUYS). Each
    * distinct word becomes its character sequence joined by '·', the
    * merges apply in rank order as plain replace-all folds (merge "ab" ⇒
    * replace "a·b" → "ab"), and tokens-per-word is recovered from
    * length arithmetic — the fold runs over the VOCABULARY (distinct
    * words, weighted by frequency), never the corpus rows.
    *
    * Determinism: the merge list is the audited [[bpeMergeStep]] output
    * (exact integer counts, rank tie-break on pair); replace-all is
    * left-to-right non-overlapping in both engines; token counts are
    * pure length arithmetic on identical strings; the ratio is one
    * integer ppm division.
    *
    * Scale shape: the merge table is model state (20 rows, broadcast);
    * the fold is row-local over the (source, word) vocabulary aggregate
    * (map-side combinable); the final rollup is ≤|sources| rows. The
    * corpus streams through once to build the vocabulary. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergeStep(s, d)
      .select(struct(col("rank"), col("pair")).as("m"))
      .agg(array_sort(collect_list(col("m"))).as("ms"))
    val wf = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("n"))
    wf.crossJoin(broadcast(merges))
      // '(.)' + '$1·' inserts a separator after EVERY char (Java regex);
      // rtrim drops the trailing one — the oracle mirrors with RE2 '\1·'
      // NB Spark SQL's 2-arg rtrim is rtrim(trimStr, str) — reversed vs
      // the DataFrame API (and vs DuckDB's rtrim(str, chars))
      .withColumn("tok", expr(
        "aggregate(ms, rtrim('·', regexp_replace(w, '(.)', '$1·')), " +
          "(acc, m) -> replace(acc, " +
          "concat(substring(m.pair, 1, 1), '·', substring(m.pair, 2, 1)), m.pair))"))
      .withColumn("n_tok",
        (length(col("tok")) - length(regexp_replace(col("tok"), "·", "")) + 1)
          .cast("long"))
      .groupBy("source")
      .agg(sum(col("n")).as("n_words"),
        sum(length(col("w")).cast("long") * col("n")).as("n_chars"),
        sum(col("n_tok") * col("n")).as("n_tokens"))
      .withColumn("compression_ppm", expr("n_tokens * 1000000 div n_chars"))
      .orderBy("source")
  }

  def bpeMergeStep(s: SparkSession, d: String): DataFrame = {
    val wf = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wf"))
    val pairs = wf.filter(length(col("w")) >= 2)
      .select(col("wf"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("wf").as("n"))
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("pair"), col("n"))
      .orderBy("rank")
  }

  /** The (doc_id, n_tokens, ssum) per-document surprisal frame behind
    * [[unigramLm]] AND [[pplFilter]] — one definition so the filter's
    * gate arithmetic is definitionally the LM's own scoring. */
  private def docSurprisalFrame(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum("tf").as("ct"))
    val n = vocab.agg(sum("ct").as("n_total"))
    // surprisal split into logs of INTEGERS (ln N − ln ct), each quantized
    // to 6 dp BEFORE the decimal-exact subtraction: ln of a ratio double
    // differs between engine libm implementations by a few ulps, which at
    // corpus scale lands some value on a 6-dp rounding boundary (observed
    // 10/19k cells at sf1); ln over the integer count domain is verified
    // bit-identical at 6 dp across Spark and DuckDB for counts ≤ 2M
    tf.join(broadcast(vocab), "term")
      .crossJoin(broadcast(n))
      .withColumn("sur", qln(col("n_total")) - qln(col("ct")))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), sum(col("sur") * col("tf")).as("ssum"))
  }

  def unigramLm(s: SparkSession, d: String): DataFrame = {
    docSurprisalFrame(s, d)
      .select(col("doc_id"), col("n_tokens"),
        // ssum is an exact multiple of 1e-6, so x.xxxx50 FINAL-round
        // boundaries are common — round in DECIMAL (exact, identical in
        // both engines), never through double; the avg (a double
        // division) floor-quantizes like every computed-double output
        Det.q4(col("ssum")).cast("double").as("sum_nats"),
        (floor(col("ssum").cast("double") / col("n_tokens") * 10000 + lit(0.5)) / 10000)
          .as("avg_nats"))
      .orderBy("doc_id")
  }

  /** Mean-surprisal (log-perplexity) quality gate — the standard
    * perplexity-filtering curation step, kept entirely in NATS space:
    * a doc is dropped when its average unigram surprisal exceeds the
    * corpus mean (high-perplexity under the corpus's own LM = word-soup
    * outliers, the signal ppl-filter pipelines act on). exp() never
    * runs — it is a libm call with no cross-engine rounding guarantee,
    * and the nats threshold is the same decision boundary.
    *
    * Determinism: each doc's average surprisal is the [[unigramLm]]
    * floor-quantized 1e-4 integer (avgq); the gate nd·avgq ≤ Σavgq is
    * ALL-INTEGER (the mean never materializes as a double — the
    * [[graft.ops.Statistics.cusumDrift]] scaling trick), so
    * keep/drop is bit-stable in both engines. Overflow edge: nd·avgq
    * needs nd·avg_nats < 9·10¹⁴ — beyond any real corpus count.
    *
    * Scale shape: the LM's own aggregates plus a 1-row total broadcast
    * and one narrow (doc_id, avgq, keep) join against (doc_id, source);
    * per-source report is |sources| rows. */
  def pplFilter(s: SparkSession, d: String): DataFrame = {
    val perDoc = graft.util.Ckpt.stage(docSurprisalFrame(s, d)
      .select(col("doc_id"),
        floor(col("ssum").cast("double") / col("n_tokens") * 10000 + lit(0.5))
          .cast("long").as("avgq")))
    val tot = perDoc.agg(sum("avgq").as("ta"), count(lit(1)).as("nd"))
    perDoc.crossJoin(broadcast(tot))
      .withColumn("keep", (col("nd") * col("avgq") <= col("ta")).cast("long"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_kept"),
        (count(lit(1)) - sum("keep")).as("n_dropped"),
        Det.q6(sum(when(col("keep") === 1, col("avgq"))).cast("double") /
          sum("keep").cast("double") / lit(10000.0)).as("kept_avg_nats"))
      .orderBy("source")
  }

  /** Bigram language model with add-one smoothing — the CCNet-style
    * perplexity filter one rung above [[unigramLm]] (condition on the
    * previous word): P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), so each bigram
    * occurrence's surprisal is ln(c(w₁·)+V) − ln(c(w₁w₂)+1) — logs of
    * INTEGERS only, each quantized to 6 dp DECIMAL before the exact
    * decimal subtraction (the [[unigramLm]] parity contract: ln over the
    * integer count domain is boundary-safe at 6 dp across engines; ln of
    * a ratio double is not). Per-doc totals accumulate in exact DECIMAL;
    * the mean is the one final double division, floor-quantized to 4 dp.
    * Docs with fewer than two words have no bigrams and drop out.
    *
    * Scale shape: occurrences reduce to per-(doc, bigram) tf FIRST, the
    * corpus bigram table and its first-word (history) rollup are
    * vocabulary-bounded (Zipf-truncated in practice) and ride broadcasts;
    * beyond broadcast scale the same plan degrades to bigram-keyed
    * shuffles of the already-tf-reduced side — never raw occurrences.
    * V is a 1-row broadcast. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val wf = filter(words(col("text")), x => x =!= "")
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(StringNgrams.ngrams(wf, 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val c12 = tf.groupBy("bg").agg(sum("tf").as("c12"))
    val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("c12").as("c1"))
    val v = Tables.documents(s, d)
      .select(explode(wf).as("term"))
      .agg(countDistinct("term").as("v"))
    tf.join(broadcast(c12), "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(broadcast(c1), "w1")
      .crossJoin(broadcast(v))
      .withColumn("sur", qln(col("c1") + col("v")) - qln(col("c12") + lit(1L)))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"), sum(col("sur") * col("tf")).as("ssum"))
      .select(col("doc_id"), col("n_bigrams"),
        Det.q4(col("ssum")).cast("double").as("sum_nats"),
        (floor(col("ssum").cast("double") / col("n_bigrams") * 10000 + lit(0.5)) / 10000)
          .as("avg_nats"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser–Ney bigram probabilities (absolute discount
    * d = 0.75) for the corpus's 20 most frequent bigrams — the smoothing
    * every serious n-gram LM uses where [[bigramLm]] stops at add-one:
    * KN backs off to CONTINUATION probability (in how many distinct
    * contexts does w₂ appear?) rather than raw frequency, the fix for
    * "San Francisco" inflating P(francisco | anything):
    * P(w₂|w₁) = (c(w₁w₂) − d)/c(w₁·) + d·N₁₊(w₁•)/c(w₁·) ·
    * N₁₊(•w₂)/N₁₊(••).
    *
    * Determinism: every count is an exact BIGINT off the staged corpus
    * bigram table; d = 0.75 is exactly representable, c₁₂ ≥ 1 > d so the
    * discount never clamps; p_kn is a fixed tree of 8 elementary IEEE
    * ops on identical operands (two subtractions/multiplies, three
    * single divisions of exact integers, one add), 6-dp floor-quantized
    * with the display columns. The top-20 cut orders by (c₁₂ DESC,
    * bigram ASC) — integer + string, no float ordering.
    *
    * Scale shape: occurrences reduce to the corpus bigram table first
    * (vocabulary-bounded); history/continuation rollups aggregate that
    * table, broadcast back; one TakeOrdered(20). */
  def kneserNey(s: SparkSession, d: String): DataFrame = {
    val wf = filter(words(col("text")), x => x =!= "")
    val c12 = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(explode(StringNgrams.ngrams(wf, 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1)))
    val hist = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("nfw"))
    val pred = c12.groupBy("w2").agg(count(lit(1)).as("nbw"))
    val tot = c12.agg(count(lit(1)).as("ntypes"))
    val c1d = col("c1").cast("double")
    val pCont = col("nbw").cast("double") / col("ntypes").cast("double")
    val lam = lit(0.75) * col("nfw").cast("double") / c1d
    c12.join(broadcast(hist), "w1")
      .join(broadcast(pred), "w2")
      .crossJoin(broadcast(tot))
      .select(col("bg").as("bigram"), col("c12"), col("c1"),
        col("nfw").as("n_followers"), col("nbw").as("n_contexts"),
        Det.q6(pCont).as("p_cont"), Det.q6(lam).as("lambda"),
        Det.q6((col("c12").cast("double") - lit(0.75)) / c1d + lam * pCont)
          .as("p_kn"))
      .orderBy(col("c12").desc, col("bigram").asc)
      .limit(20)
  }

  /** Conditional entropy H(W₂|W₁) of the corpus bigram model, in nats,
    * with its perplexity — the one-number summary of how much the
    * previous word helps ([[entropy]] gives H(W) per source; the
    * conditional version is the quantity a context-aware model's
    * headroom is measured by, and exp(H) is the branching factor a
    * bigram LM like [[kneserNey]] actually faces):
    * H(W₂|W₁) = Σ c₁₂·(ln c₁ − ln c₁₂) / N.
    *
    * Determinism: both logs are over BARE integer counts, 6-dp-rounded
    * into DECIMAL (the [[unigramLm]] contract); each term multiplies the
    * exact decimal difference by the integer c₁₂ — exact — and the total
    * is an exact decimal sum with ONE final division by N; perplexity is
    * one exp() on the identical quantized scalar, 4-dp floor-quantized
    * (the [[graft.ops.Statistics]] KM surv recipe).
    *
    * Scale shape: the corpus bigram table + its history rollup
    * (vocabulary-bounded, broadcast back), one 1-row reduce. */
  def condEntropy(s: SparkSession, d: String): DataFrame = {
    val wf = filter(words(col("text")), x => x =!= "")
    val c12 = Tables.documents(s, d)
      .select(explode(StringNgrams.ngrams(wf, 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val agg = c12.join(broadcast(c1), "w1")
      .select(col("c12"),
        (col("c12") * (qln(col("c1")) - qln(col("c12")))).as("term"))
      .agg(sum("c12").as("n_bigrams"), sum("term").as("hsum"))
    agg.select(col("n_bigrams"),
        Det.q6(col("hsum").cast("double") / col("n_bigrams").cast("double"))
          .as("h_cond_nats"))
      .withColumn("perplexity",
        floor(exp(col("h_cond_nats")) * lit(10000.0) + lit(0.5)) / lit(10000.0))
  }

  /** Support threshold and per-source cut for [[pmiTerms]]: a term needs
    * ≥ 5 occurrences in a source to score (PMI of rare pairs is noise),
    * and each source reports its top 3. Mirrored in the oracle. */
  private val PmiMinCount = 5L
  private val PmiTopK = 3

  /** Pointwise mutual information of (term, source) — the
    * feature-selection view of the corpus ([[tfidf]] ranks terms within
    * a document; this ranks terms AS SOURCE DISCRIMINATORS, the signal a
    * source classifier or a mixture auditor reads): PMI =
    * ln(c_ts·N / (c_t·c_s)), decomposed as ln c_ts + ln N − ln c_t −
    * ln c_s so every log is over a BARE integer count inside the
    * verified 6-dp-boundary-safe envelope (a log of the product would
    * leave that envelope at corpus scale), each quantized to DECIMAL
    * before the exact combination — the [[unigramLm]] parity contract.
    * Top-[[PmiTopK]] per source by (pmi desc, term asc), support ≥
    * [[PmiMinCount]].
    *
    * Scale shape: occurrences reduce to (source, term) counts FIRST;
    * the term rollup is vocabulary-bounded and the source rollup
    * |sources|-bounded, both broadcast; the rank window partitions by
    * source over already-thresholded candidates. */
  def pmiTerms(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val cts = occ.groupBy("source", "term").agg(count(lit(1)).as("c_ts"))
    val ct = cts.groupBy("term").agg(sum("c_ts").as("c_t"))
    val cs = cts.groupBy("source").agg(sum("c_ts").as("c_s"))
    val n = cts.agg(sum("c_ts").as("n_tot"))
    val w = Window.partitionBy("source").orderBy(col("pmi").desc, col("term").asc)
    cts.filter(col("c_ts") >= PmiMinCount)
      .join(broadcast(ct), "term")
      .join(broadcast(cs), "source")
      .crossJoin(broadcast(n))
      .withColumn("pmi",
        qln(col("c_ts")) + qln(col("n_tot")) - qln(col("c_t")) - qln(col("c_s")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= PmiTopK)
      .select(col("source"), col("rnk"), col("term"), col("c_ts"),
        col("pmi").cast("double").as("pmi"))
      .orderBy("source", "rnk")
  }

  /** Document-frequency threshold above which a trigram counts as
    * boilerplate in [[boilerplateNgrams]] (df ≥ 3 distinct docs; chosen
    * against the fixture's trigram-df distribution — max 7, mean 1.6 at
    * sf0.01 — so both classes are populated). Mirrored in the oracle. */
  private val BoilerDf = 3

  /** Cross-document boilerplate n-gram audit (the Gopher/C4 cleanup
    * signal: spans repeated across many documents are chrome —
    * headers, footers, navigation — not content): a trigram is
    * *boilerplate* when it appears in ≥ [[BoilerDf]] DISTINCT documents;
    * each doc reports its distinct-trigram count, how many are
    * boilerplate, and the boilerplate fraction (removal = filter docs or
    * splice spans on this flag downstream). All counting is integer; the
    * fraction is one floor-quantized double division.
    *
    * Scale shape: trigrams reduce to the per-doc DISTINCT grain in the
    * first aggregate; the document-frequency table is vocabulary-bounded
    * and broadcast back onto the (doc_id, trigram) pairs (beyond
    * broadcast scale: a trigram-keyed shuffle of those narrow pairs) —
    * document bodies are never exchanged. */
  def boilerplateNgrams(s: SparkSession, d: String): DataFrame = {
    val tri = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(StringNgrams.ngrams(words(col("text")), 3))).as("g"))
    val tdf = tri.groupBy("g").agg(count(lit(1)).as("df"))
    tri.join(broadcast(tdf), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("df") >= BoilerDf, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_tri"), col("n_boiler"),
        (floor(col("n_boiler").cast("double") / col("n_tri") * 10000 + lit(0.5)) / 10000)
          .as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** BM25 retrieval terms + parameters (k1 = 1.2, b = 0.75 — the standard
    * Robertson defaults, encoded as exact rationals below). Mirrored in
    * the oracle SQL. */
  private[ops] val Bm25Terms = Seq("data", "join", "hash")

  /** BM25 document ranking against a fixed query-term set — the retrieval
    * scorer TF-IDF approximates ([[tfidf]]'s sibling): idf(t) ·
    * tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), top 20 docs.
    *
    * Cross-engine float parity, same contract as [[unigramLm]]:
    *  - idf = ln((N−df+½)/(df+½)+1) algebraically reduced to
    *    ln(2N+2) − ln(2df+1) — logs of INTEGERS only, each quantized to
    *    6 dp DECIMAL before the exact decimal subtraction (ln of an
    *    integer is verified boundary-safe at 6 dp; ln of a ratio is not);
    *  - the tf/length normalization is an exact integer rational:
    *    with k1 = 6/5, b = 3/4, multiplying through by 10·total gives
    *    22·tf·total / (10·tf·total + 3·total + 9·dl·N) — BIGINT
    *    numerator and denominator, one deterministic double division;
    *  - per-term scores floor-quantize to 4 dp DECIMAL before the per-doc
    *    sum, so the aggregation is order-independent across partitions.
    *
    * Scale shape: the explode filters to the query terms BEFORE the
    * (doc, term) aggregate, so the tf shuffle carries query-term hits
    * only — never the corpus vocabulary; dl is row-local; N/total ride a
    * 1-row broadcast; df is a count window over the already-tiny tf
    * frame. The final global top-20 is a TakeOrdered, not a full sort. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val dlc = size(filter(words(col("text")), x => x =!= ""))
    val docs = Tables.documents(s, d).select(col("doc_id"), dlc.as("dl"))
    val n = docs.agg(count(lit(1)).as("nd"), sum("dl").as("total"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), dlc.as("dl"), explode(words(col("text"))).as("term"))
      .filter(col("term").isin(Bm25Terms.map(t => t: Any): _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val idf = (qln(lit(2) * col("nd") + lit(2)) - qln(lit(2) * col("df") + lit(1)))
      .cast("double")
    val ratio = (lit(22.0) * col("tf") * col("total")) /
      (lit(10L) * col("tf") * col("total") + lit(3L) * col("total")
        + lit(9L) * col("dl") * col("nd"))
    val perTerm = tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("s",
        (floor(idf * ratio * 10000 + lit(0.5)) / 10000)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
    perTerm.groupBy("doc_id", "dl")
      .agg(count(lit(1)).as("n_hit"), sum("s").as("ssum"))
      .select(col("doc_id"), col("dl"), col("n_hit"),
        col("ssum").cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Chunk window / stride (words): 32-word chunks every 24 words → 8-word
    * overlap between consecutive chunks. Shared with the oracle SQL. */
  private[ops] val ChunkW = 32
  private[ops] val ChunkS = 24

  /** Overlapping fixed-window chunking (RAG / context-window prep): each
    * document becomes ⌈n/S⌉ chunks of ≤ W words starting every S words,
    * final partial chunk kept. Pure per-row flatMap — no shuffle except
    * the presentation sort; at 100 TB this is an embarrassingly parallel
    * map stage whose output feeds the embedding/packing passes. */
  def chunkOverlap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0), size(col("ws")) - 1, lit(ChunkS))),
        col("ws"))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        slice(col("ws"), col("col") + 1, lit(ChunkW)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** Inverted index: sorted doc-id posting list per mid-frequency term —
    * singletons (df < 2) are noise, near-ubiquitous terms (df > 80% of
    * the corpus) are stop-words AND a skew hazard, so both ends are cut.
    * The cap is a corpus FRACTION, not an absolute count, so the same
    * band holds at any scale factor. Occurrences dedup to (doc, term)
    * per document BEFORE the term shuffle (array_distinct inside the
    * row), so the exchange carries distinct pairs only; posting lists
    * build via map-side partial collect_list and are bounded by the df
    * cap. */
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
      .crossJoin(broadcast(nd))
      .filter(col("df") >= 2 && col("df") <= col("n_docs") * 0.8)
      .select(col("term"), col("df"), col("postings"))
      .orderBy("term")
  }

  /** Per-source unigram Shannon entropy in bits — the corpus-diversity
    * signal quality dashboards track beside [[qualityScore]]: a source
    * whose entropy collapses is template spam even when per-doc filters
    * pass. Uses the algebraic form H = log2(N) − (Σ c·log2 c)/N so a
    * single (source, term) count aggregate feeds one decimal-exact sum —
    * per-term log2 values are quantized to 6 dp before summation
    * (verified boundary-safe for counts ≤ 2M), making the reduction
    * order-independent; two shuffles total, both map-side combined. */
  def entropy(s: SparkSession, d: String): DataFrame = {
    val tc = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    tc.withColumn("lq",
        Det.q6(log(2.0, col("c")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("vocab"),
        sum("c").as("n_tokens"),
        sum(col("lq") * col("c")).as("ssum"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        Det.q4(log(2.0, col("n_tokens").cast("double"))
          - col("ssum").cast("double") / col("n_tokens")).as("entropy_bits"))
      .orderBy("source")
  }

  /** Zipf exponent per source: OLS slope of ln(freq) on ln(rank) over
    * the top-100 tokens — the standard corpus-health diagnostic (natural
    * text sits near −1; templated/boilerplate corpora flatten the curve,
    * spammy repetition steepens it). Both regression coordinates are
    * 6-dp-quantized integer logs in DECIMAL (exact and engine-identical —
    * the [[unigramLm]] discipline) and the normal equations run over
    * DECIMAL power sums (the `Statistics.corrRegr` discipline), so the
    * fitted slope is bit-stable across engines; computed doubles are
    * floor-quantized on output.
    *
    * Scale shape: token counting is the map-side-combined (source, term)
    * aggregate; the rank window is per-source over its distinct VOCAB
    * (vocabulary-bounded, never corpus-bounded), rank ≤ 100 truncates
    * before the regression, and the per-source OLS is a ≤100-row
    * aggregate. */
  def zipfSlope(s: SparkSession, d: String): DataFrame = {
    val tc = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(col("c").desc, col("term").asc)
    val ranked = tc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
      .select(col("source"), qln(col("rank")).as("x"), qln(col("c")).as("y"))
    val slopeExpr = (col("n_ranked") * col("sxy") - col("sx") * col("sy")) /
      (col("n_ranked") * col("sxx") - col("sx") * col("sx"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_ranked"),
        Det.dsumWide(col("x")).as("sx"), Det.dsumWide(col("y")).as("sy"),
        Det.dsumWide(col("x") * col("x")).as("sxx"),
        Det.dsumWide(col("x") * col("y")).as("sxy"))
      // a single-token source has one rank point (x=0): the OLS
      // denominator n·sxx − sx² is exactly 0 — NULL in non-ANSI Spark but
      // engine-specific divide-by-zero in DuckDB, so exclude degenerate
      // sources in BOTH engines (a one-point "slope" is meaningless anyway)
      .filter(col("n_ranked") >= 2)
      .select(col("source"), col("n_ranked"),
        Det.q4(slopeExpr).as("slope"),
        Det.q4((col("sy") - slopeExpr * col("sx")) / col("n_ranked")).as("intercept"))
      .orderBy("source")
  }

  /** Pairwise Jensen-Shannon divergence (bits) between the per-source
    * unigram distributions — the source-similarity dashboard a mixture
    * designer reads next to [[contamination]]'s bigram-overlap matrix:
    * JSD is a bounded ([0,1] in bits), symmetric metric of how differently
    * two corpus slices use their vocabulary, where overlap only counts
    * shared n-grams.
    *
    * Algebra (what makes this one inner join instead of a 190-way full
    * outer): for a term absent from source B, the JSD integrand for A
    * reduces to (ca/na)·log₂2 = ca/na exactly. So
    * 2·JSD = (Sa + (na − Ca))/na + (Sb + (nb − Cb))/nb with Sa = Σ ca·la,
    * Ca = Σ ca over SHARED terms only, la = log₂(2·ca·nb/(ca·nb + cb·na))
    * — a log of one integer ratio, 6-dp-quantized into DECIMAL (the
    * [[entropy]] discipline), multiplied by integer counts exactly. Pairs
    * sharing no vocabulary (JSD exactly 1) enter via the left join from
    * the complete pair frame.
    *
    * Scale shape: the (source, term) frame is vocabulary-bounded and
    * map-side-combined; the self-join shuffles on term (never on docs);
    * per-source totals and the S²-row pair frame are broadcasts. Sources
    * are tens, so the pair count is a constant, not a scale axis. */
  def jsDivergence(s: SparkSession, d: String): DataFrame =
    jsDivergenceFrom(Tables.documents(s, d))

  /** [[jsDivergence]] over an explicit documents frame (test seam for the
    * self-divergence identity law). */
  private[graft] def jsDivergenceFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tc = graft.util.Ckpt.stage(docs
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("c")))
    val tot = tc.groupBy("source").agg(sum("c").as("n"))
    val a = tc.select(col("source").as("sa"), col("term"), col("c").as("ca"))
    val b = tc.select(col("source").as("sb"), col("term"), col("c").as("cb"))
    def qlog2(num: Column, den: Column) =
      Det.q6(log(2.0, num.cast("double") / den.cast("double")))
        .cast(DecimalType(18, 6))
    val mix = col("ca") * col("nb") + col("cb") * col("na")
    val shared = a.join(b, Seq("term")).filter(col("sa") < col("sb"))
      .join(broadcast(tot.select(col("source").as("sa"), col("n").as("na"))), "sa")
      .join(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))), "sb")
      .groupBy("sa", "sb")
      .agg(
        count(lit(1)).as("shared_terms"),
        sum("ca").as("ca_sh"), sum("cb").as("cb_sh"),
        sum(col("ca").cast(DecimalType(18, 0)) *
          qlog2(col("ca") * col("nb") * 2, mix)).as("sla"),
        sum(col("cb").cast(DecimalType(18, 0)) *
          qlog2(col("cb") * col("na") * 2, mix)).as("slb"))
    val pairFrame = tot.select(col("source").as("sa"), col("n").as("na"))
      .crossJoin(tot.select(col("source").as("sb"), col("n").as("nb")))
      .filter(col("sa") < col("sb"))
    pairFrame.join(broadcast(shared), Seq("sa", "sb"), "left")
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        coalesce(col("shared_terms"), lit(0L)).as("shared_terms"),
        Det.q6((
          (coalesce(col("sla"), lit(0).cast(DecimalType(18, 6))) +
            (col("na") - coalesce(col("ca_sh"), lit(0L))).cast(DecimalType(38, 6)))
            .cast("double") / col("na").cast("double") +
          (coalesce(col("slb"), lit(0).cast(DecimalType(18, 6))) +
            (col("nb") - coalesce(col("cb_sh"), lit(0L))).cast(DecimalType(38, 6)))
            .cast("double") / col("nb").cast("double")) / 2).as("jsd_bits"))
      .orderBy("src_a", "src_b")
  }

  /** Bhattacharyya coefficient + Hellinger distance between every source
    * pair's unigram distributions — the bounded-metric companion to
    * [[jsDivergence]]: JSD weighs terms by their information content
    * (log ratios — sensitive to mid-frequency divergence), Hellinger's
    * Σ√(p·q) overlap geometry weighs them by √mass, a true metric
    * (triangle inequality holds) so it can drive threshold- or
    * clustering-based source grouping where JSD's values cannot be
    * chained. BC = Σ√(pq); H = √(1−BC); disjoint vocabularies give
    * BC = 0, H = 1 exactly via the left join from the complete pair
    * frame.
    *
    * Determinism: terms absent from either side contribute EXACTLY zero
    * (no smoothing), so only the shared-term inner join computes; each
    * √(ca·cb) is ONE correctly-rounded IEEE sqrt of an exact integer
    * product (sqrt is correctly rounded BY SPEC — unlike ln, no libm
    * freedom), quantized at 6 dp into DECIMAL before the
    * order-independent sum; BC is one division by √na·√nb (each factor
    * one sqrt of an exact integer), 6-dp-rounded BEFORE H = √(1−BC) so
    * the second rounding feeds identical inputs; the `greatest(0, ·)`
    * guard pins the BC ≈ 1 + ε quantization edge to 0 in both engines
    * (Spark floor-casts NaN to 0 where DuckDB keeps it — PARITY §4).
    *
    * Scale shape: [[jsDivergence]]'s exactly — vocabulary-bounded
    * (source, term) frame, self-join shuffles on term (never on docs),
    * S²-row pair frame and shared sums broadcast. */
  def hellinger(s: SparkSession, d: String): DataFrame =
    hellingerFrom(Tables.documents(s, d))

  /** [[hellinger]] over an explicit documents frame (test seam for the
    * self-distance identity law, like [[jsDivergenceFrom]]). */
  private[graft] def hellingerFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tc = graft.util.Ckpt.stage(docs
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("c")))
    val tot = tc.groupBy("source").agg(sum("c").as("n"))
    val a = tc.select(col("source").as("sa"), col("term"), col("c").as("ca"))
    val b = tc.select(col("source").as("sb"), col("term"), col("c").as("cb"))
    val shared = a.join(b, Seq("term")).filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("shared_terms"),
        sum(Det.q6(sqrt((col("ca") * col("cb")).cast("double")))
          .cast(DecimalType(28, 6))).as("sroot"))
    val pairFrame = tot.select(col("source").as("sa"), col("n").as("na"))
      .crossJoin(tot.select(col("source").as("sb"), col("n").as("nb")))
      .filter(col("sa") < col("sb"))
    pairFrame.join(broadcast(shared), Seq("sa", "sb"), "left")
      .withColumn("bc",
        Det.q6(coalesce(col("sroot"), lit(0).cast(DecimalType(28, 6))).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        coalesce(col("shared_terms"), lit(0L)).as("shared_terms"),
        col("bc"),
        Det.q6(sqrt(greatest(lit(0.0), lit(1.0) - col("bc")))).as("hellinger"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source n-gram novelty: the share of a source's bigram TYPES that
    * appear in no other source — the content-originality counterpart to
    * [[TextAnalysis.contamination]] (which asks the opposite question:
    * how much of a doc is seen elsewhere). Low novelty flags a source as
    * boilerplate/mirror-heavy before it earns a mixture weight; the
    * companion signal to the q_source_overlap pair matrix, but linear in
    * the vocabulary instead of quadratic in sources.
    *
    * Determinism: type counts are exact BIGINTs over distinct
    * (source, bigram); novelty is ONE IEEE division floor-quantized at
    * 6 dp ([[Evaluation]] discipline).
    *
    * Scale shape: distinct-(source, bigram) is vocabulary-bounded (the
    * corpus's bigram type count, not its token count); the df join meets
    * on the bigram key. The documents table is scanned once, exploded,
    * and never rejoined. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val sb = Tables.documents(s, d)
      .select(col("source"), explode(bigrams(words(col("text")))).as("bg"))
      .distinct()
    val dfS = sb.groupBy("bg").agg(count(lit(1)).as("nsrc"))
    sb.join(dfS, "bg")
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        Det.q6(col("n_unique").cast("double") / col("n_types").cast("double")))
      .orderBy("source")
  }

  /** Edit-distance-1 vocabulary join via symmetric deletion (SymSpell):
    * every word keys on itself plus each single-character-deletion
    * variant; any two words within edit distance 1 (substitution,
    * insertion, or deletion) necessarily share a key, so candidates
    * meet through an EQUI-join on the deletion neighborhood — never an
    * all-pairs comparison — and one `levenshtein ≤ 1` check discards
    * the collisions. This is the scalable fuzzy-join shape for typo
    * clustering / spell-normalization over a 100 TB corpus's
    * vocabulary: keys per word = length+1, join fan-out bounded by the
    * neighborhood bucket, and the expensive edit-distance runs only on
    * candidates (the LSH-for-strings analogue of the MinHash dedup).
    * Domain: supplier names (dense numeric id space — real one-edit
    * neighbors; the corpus vocabulary has none, verified exhaustively).
    *
    * Determinism: pure string algebra; `levenshtein` is identically
    * defined in both engines; pairs ordered (a < b). */
  def fuzzyJoinSymdel(s: SparkSession, d: String): DataFrame = {
    // domain: supplier names — the fixture lexicon's words are all >= 2
    // edits apart (verified), while the dense numeric name space has
    // real one-substitution neighbors, which is exactly the
    // entity-resolution shape this operator serves
    val vocab = Tables.supplier(s, d).select(col("s_name").as("w")).distinct()
    val keys = vocab.select(col("w"), explode(expr(
      "array_distinct(concat(array(w), transform(sequence(1, length(w)), " +
        "i -> concat(substring(w, 1, i-1), substring(w, i+1, length(w))))))")).as("k"))
    keys.select(col("w").as("word_a"), col("k"))
      .join(keys.select(col("w").as("word_b"), col("k")), "k")
      .filter(col("word_a") < col("word_b"))
      .select("word_a", "word_b").distinct()
      .filter(levenshtein(col("word_a"), col("word_b")) <= 1)
      .orderBy("word_a", "word_b")
  }

  /** Flesch reading-ease profile per source — the classic readability
    * screen a curation pipeline runs beside [[qualityScore]]: 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/word), aggregated from
    * per-document integer counts. Sentences are terminal-punctuation
    * runs (≥ 1 per doc so fragments don't divide by zero); syllables
    * use the standard vowel-group heuristic, floored at one per word
    * (max(words, vowel-groups) — "rhythm"-class words count 1).
    *
    * Determinism: all three counts are pure string algebra (regexp
    * with explicit global replace in the oracle — DuckDB's
    * regexp_replace is first-match-only by default where Spark's is
    * global), summed as exact BIGINTs; the score is a fixed tree of
    * IEEE ops on identical integer-derived doubles with shared decimal
    * literals, floor-quantized to 4 dp.
    *
    * Scale shape: counts are scan-local projections inside whole-stage
    * codegen; one map-side-combined per-source aggregate. */
  def readability(s: SparkSession, d: String): DataFrame = {
    val lowered = lower(col("text"))
    val vg = octet_length(regexp_replace(lowered, "[aeiou]+", "#")) -
      octet_length(regexp_replace(lowered, "[aeiou]+", ""))
    val nw = size(filter(words(col("text")), w => w =!= ""))
    val per = Tables.documents(s, d).select(col("source"),
      greatest(lit(1), octet_length(regexp_replace(col("text"), "[^.!?]", "")))
        .cast("long").as("sent"),
      nw.cast("long").as("nw"),
      greatest(nw, vg).cast("long").as("syl"))
    per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("sent").as("n_sentences"),
        sum("nw").as("n_words"),
        sum("syl").as("n_syllables"))
      .withColumn("flesch",
        floor((lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")))
          * lit(10000.0) + lit(0.5)) / lit(10000.0))
      .orderBy("source")
  }

  /** Heaps' law fit across the corpus — vocabulary growth V ≈ k·N^β
    * estimated by log-log OLS over the per-source (tokens, types)
    * points: the corpus-health scaling diagnostic that predicts how
    * vocabulary (and so tokenizer/embedding-table pressure) grows with
    * another 10× of data. Natural text sits near β ≈ 0.5; β drifting
    * toward 1 means type inventory grows linearly (ids/noise), toward 0
    * means a closed vocabulary (templated text).
    *
    * Determinism: both OLS coordinates are [[zipfSlope]]-discipline
    * quantized integer logs (token and type counts are exact BIGINTs);
    * power sums accumulate in DECIMAL; slope/intercept/R² are fixed
    * IEEE trees on identical operands, floor-quantized to 4 dp.
    *
    * Scale shape: one map-side-combined (source, term) aggregate, a
    * per-source reduce, then a ≤|sources|-row regression — the corpus
    * is exchanged once. */
  def heapsFit(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
      .select(qln(col("n_tokens")).as("x"), qln(col("n_types")).as("y"))
    val n = col("n_sources")
    val beta = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    val r2num = (n * col("sxy") - col("sx") * col("sy")) *
      (n * col("sxy") - col("sx") * col("sy"))
    val r2den = (n * col("sxx") - col("sx") * col("sx")) *
      (n * col("syy") - col("sy") * col("sy"))
    per.agg(count(lit(1)).as("n_sources"),
        Det.dsumWide(col("x")).as("sx"), Det.dsumWide(col("y")).as("sy"),
        Det.dsumWide(col("x") * col("x")).as("sxx"),
        Det.dsumWide(col("y") * col("y")).as("syy"),
        Det.dsumWide(col("x") * col("y")).as("sxy"))
      .filter(col("n_sources") >= 2)
      .select(col("n_sources"),
        Det.q4(beta).as("beta"),
        Det.q4((col("sy") - beta * col("sx")) / n).as("intercept_ln"),
        Det.q4(r2num / r2den).as("r2"))
  }

  /** RAKE keyword extraction over the corpus (Rose et al. 2010): candidate
    * phrases are maximal stopword-free word runs; each word scores
    * deg(w)/freq(w) — degree counts every phrase slot co-occurring with w
    * (its own included), so words that anchor LONG phrases outrank equally
    * frequent loners — and a phrase scores the sum of its words. The
    * corpus-level top 30 is the "what is this corpus about" digest next to
    * [[tfidf]]'s per-doc view.
    *
    * Determinism: phrase segmentation is a pure gaps-and-islands
    * computation on word positions (island = pos − rank among non-stop
    * words — no regex, no engine string semantics beyond the shared
    * split-on-space); phrase text reassembles through an explicitly
    * pos-sorted array; deg/freq are exact integers, each word score is
    * ONE correctly-rounded division 6-dp-floor-quantized into DECIMAL,
    * and phrase scores are exact decimal sums of those — ties broken by
    * phrase text.
    *
    * Scale shape: tokenize once, one vocabulary-bounded word-stats
    * aggregate (broadcast back), one phrase-keyed aggregate; the top-30
    * is a TakeOrdered. No self-joins, no per-pair work. */
  def rakeKeywords(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .filter(length(col("col")) > 0)
      .select(col("doc_id"), col("pos"), col("col").as("word"))
    val wn = Window.partitionBy("doc_id").orderBy("pos")
    val phrases = graft.util.Ckpt.stage(toks
      .filter(!col("word").isin(Stopwords.map(m => m: Any): _*))
      .withColumn("island", col("pos") - row_number().over(wn))
      .groupBy("doc_id", "island")
      .agg(sort_array(collect_list(struct(col("pos"), col("word")))).as("ws"))
      .select(col("doc_id"),
        expr("array_join(transform(ws, x -> x.word), ' ')").as("phrase"),
        expr("transform(ws, x -> x.word)").as("words"),
        size(col("ws")).as("plen")))
    val wstats = phrases
      .select(explode(col("words")).as("word"), col("plen"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("word"),
        Det.q6(col("deg").cast("double") / col("freq").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("wscore"))
    // identical phrase text => identical word multiset => identical score,
    // so score once per DISTINCT phrase and count instances separately
    val inst = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max("plen").cast("long").as("n_words"))
    val pscores = phrases.select(col("phrase"), col("words"))
      .dropDuplicates("phrase")
      .select(col("phrase"), explode(col("words")).as("word"))
      .join(broadcast(wstats), "word")
      .groupBy("phrase").agg(sum("wscore").as("pscore"))
    inst.join(pscores, "phrase")
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        Det.q6(col("pscore").cast("double")).as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(30)
  }

  /** Simpson diversity of the language mix per source — 1 − Σ nᵢ(nᵢ−1)
    * / (N(N−1)), the probability two randomly drawn documents differ in
    * language: the one-number "is this source monolingual?" audit next
    * to [[q_entropy]]'s bit view (Simpson weights dominant classes,
    * entropy weights the tail — corpus datasheets report both).
    *
    * Determinism: the index is a ratio of two exact integer sums —
    * nᵢ(nᵢ−1) products stay in BIGINT to ~3·10⁹ docs per (source,
    * lang) — with ONE division, floor-quantized at 6 dp.
    *
    * Scale shape: one map-side-combined (source, lang) aggregate —
    * the only pass — then per-source reduction over the ≤|sources|·
    * |langs| grid. */
  def simpsonDiversity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("c") * (col("c") - 1)).as("ss"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        when(col("n_docs") > 1,
          Det.q6(lit(1.0) - col("ss").cast("double") /
            (col("n_docs") * (col("n_docs") - 1)).cast("double"))).as("simpson"))
      .orderBy("source")

  /** Top discriminative terms per language by 2×2 chi-square — the
    * feature-selection pass behind [[langId]]-style marker lists: for
    * each (term, lang), the presence/absence contingency against the
    * rest of the corpus, χ² = N(n₁₁n₀₀ − n₁₀n₀₁)²/(margins product).
    * Terms that are merely frequent everywhere score ~0; terms
    * concentrated in one language top its list. Top 5 per language.
    *
    * Determinism: presence counts are exact integers from one DISTINCT
    * (doc, word) pass; the χ² numerator squares in DECIMAL(38,0)
    * (N·(ad−bc)² ~ 10²⁵ at sf1 — BIGINT would wrap) and the margin
    * product likewise; ONE division, 6-dp floor-quantized, ranked with
    * a (χ² desc, word asc) total order.
    *
    * Scale shape: the tokenize+distinct pass dominates; everything
    * after runs on the vocabulary×|langs| grid with the ≤|langs|-row
    * totals broadcast. */
  def termChi2(s: SparkSession, d: String): DataFrame = {
    val dw = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), col("lang"), col("word")).distinct())
    val langTot = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("nl"))
    val tot = Tables.documents(s, d).agg(count(lit(1)).as("nn"))
    val wordTot = dw.groupBy("word").agg(count(lit(1)).as("nw"))
    val cell = dw.groupBy("word", "lang").agg(count(lit(1)).as("n11"))
    val scored = cell
      .join(broadcast(langTot), "lang")
      .join(wordTot, "word")
      .crossJoin(broadcast(tot))
      .withColumn("n10", col("nl") - col("n11"))
      .withColumn("n01", col("nw") - col("n11"))
      .withColumn("n00", col("nn") - col("nl") - col("n01"))
      .withColumn("det",
        (col("n11") * col("n00") - col("n10") * col("n01")).cast(Dec0))
      .withColumn("chi2",
        // a word present in EVERY doc has det = 0 AND a zero margin: 0/0
        // is NaN, which Spark's floor->long maps to 0 while DuckDB keeps
        // NaN — define the undiscriminating case as exactly 0 instead.
        // nl < nn guards the mirror margin: a single-language corpus
        // zeroes the (nn − nl) factor the same way (ADVICE r7)
        when(col("nw") < col("nn") && col("nl") < col("nn"),
          Det.q6((col("nn").cast(Dec0) * col("det") * col("det")).cast("double") /
            (col("nw").cast(Dec0) * (col("nn") - col("nw")).cast(Dec0) *
              col("nl").cast(Dec0) * (col("nn") - col("nl")).cast(Dec0)).cast("double")))
          .otherwise(lit(0.0)))
    val w = Window.partitionBy("lang")
      .orderBy(col("chi2").desc, col("word").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("word"), col("n11"), col("nw").as("n_word"),
        col("nl").as("n_lang"), col("chi2"))
      .orderBy("lang", "rn")
  }

  /** Dunning log-likelihood (G²) keyness of terms per language — the
    * corpus-comparison statistic that, unlike [[termChi2]]'s χ² over doc
    * PRESENCE, scores raw OCCURRENCE counts and stays calibrated for
    * rare terms (Dunning 1993, "Accurate methods for the statistics of
    * surprise and coincidence"): G² = 2·(Σ kᵢⱼ ln kᵢⱼ − Σ Rᵢ ln Rᵢ −
    * Σ Cⱼ ln Cⱼ + N ln N) over the 2×2 (term-in-lang vs rest) table.
    * Only OVERREPRESENTED terms rank (k₁₁·N > nw·nl — exact BIGINT
    * cross-multiplication, no ratio), top 5 per language.
    *
    * Determinism: every log is ln of an INTEGER count, 6-dp-quantized
    * into DECIMAL (the qln discipline); each x·qln(x) product and the
    * nine-term combination are exact decimal arithmetic; ranking orders
    * the exact decimal (ties → word asc); ONE decimal→double cast at
    * output. Zero cells (k₁₂/k₂₁/k₂₂ = 0 and the degenerate
    * single-language margins) are pinned to 0 by CASE on both sides —
    * ln(0) must never evaluate on a selected row (PARITY §4).
    *
    * Scale shape: the tokenize pass dominates; the scored grid is
    * vocabulary × |langs| with the ≤|langs|-row totals broadcast —
    * the [[termChi2]] shape, reusing its staged token frame logic. */
  def llrTerms(s: SparkSession, d: String): DataFrame = {
    def term(k: Column): Column =
      when(k > 0, k * qln(k)).otherwise(lit(0).cast(
        org.apache.spark.sql.types.DecimalType(38, 6)))
    val toks = graft.util.Ckpt.stage(Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0))
    val cell = toks.groupBy("word", "lang").agg(count(lit(1)).as("k11"))
    val langTot = toks.groupBy("lang").agg(count(lit(1)).as("nl"))
    val wordTot = cell.groupBy("word").agg(sum("k11").as("nw"))
    val tot = toks.agg(count(lit(1)).as("nn"))
    val scored = cell
      .join(broadcast(langTot), "lang")
      .join(wordTot, "word")
      .crossJoin(broadcast(tot))
      .withColumn("k12", col("nw") - col("k11"))
      .withColumn("k21", col("nl") - col("k11"))
      .withColumn("k22", col("nn") - col("nw") - col("nl") + col("k11"))
      .filter(col("k11") * col("nn") > col("nw") * col("nl"))
      .withColumn("llr_d",
        (term(col("k11")) + term(col("k12")) + term(col("k21")) + term(col("k22"))
          - term(col("nl")) - term(col("nn") - col("nl"))
          - term(col("nw")) - term(col("nn") - col("nw"))
          + term(col("nn"))) * 2)
    val w = Window.partitionBy("lang").orderBy(col("llr_d").desc, col("word").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("word"), col("k11"),
        col("nw").as("n_word"), col("llr_d").cast("double").as("llr"))
      .orderBy("lang", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_llr_terms" -> (llrTerms _),
    "q_simpson_diversity" -> (simpsonDiversity _),
    "q_term_chi2" -> (termChi2 _),
    "q_rake_keywords" -> (rakeKeywords _),
    "q_heaps_fit" -> (heapsFit _),
    "q_readability" -> (readability _),
    "q_fuzzy_join_symdel" -> (fuzzyJoinSymdel _),
    "q_ngram_novelty"   -> (ngramNovelty _),
    "q_js_divergence"   -> (jsDivergence _),
    "q_hellinger"       -> (hellinger _),
    "q_bm25"            -> (bm25 _),
    "q_zipf_slope"      -> (zipfSlope _),
    "q_entropy"         -> (entropy _),
    "q_chunk_overlap"   -> (chunkOverlap _),
    "q_inverted_index"  -> (invertedIndex _),
    "q_unigram_lm"      -> (unigramLm _),
    "q_ppl_filter"      -> (pplFilter _),
    "q_bpe_merge"       -> (bpeMergeStep _),
    "q_bpe_apply"       -> (bpeApply _),
    "q_lang_confusion"  -> (langConfusion _),
    "q_vocab_coverage"  -> (vocabCoverage _),
    "q_contamination"   -> (contamination _),
    "q_decontaminate"   -> (decontaminate _),
    "q_rouge_overlap"   -> (rougeOverlap _),
    "q_kneser_ney"      -> (kneserNey _),
    "q_cond_entropy"    -> (condEntropy _),
    "q_repetition_ratio" -> (repetitionRatio _),
    "q_ngram_stats"     -> (ngramStats _),
    "q_tfidf"           -> (tfidf _),
    "q_edit_distance"   -> (editDistance _),
    "q_array_setops"    -> (arraySetOps _),
    "q_lang_id"         -> (langId _),
    "q_quality_score"   -> (qualityScore _),
    "q_token_count"     -> (tokenCount _),
    "q_doc_fingerprint" -> (docFingerprint _),
    "q_bigram_lm"       -> (bigramLm _),
    "q_boilerplate"     -> (boilerplateNgrams _),
    "q_pmi_terms"       -> (pmiTerms _),
  )

  private val WordsSql = "string_split(text, ' ')"
  private val BigramsSql =
    s"list_transform(range(1, len($WordsSql)), i -> $WordsSql[i] || ' ' || $WordsSql[i+1])"
  private val ShinglesSql =
    s"""CASE WHEN len($WordsSql) >= 3
       | THEN list_transform(range(1, len($WordsSql) - 1),
       |        i -> $WordsSql[i] || ' ' || $WordsSql[i+1] || ' ' || $WordsSql[i+2])
       | ELSE [text] END""".stripMargin

  private val FWordsSql = s"list_filter($WordsSql, x -> x <> '')"

  val oracle: Map[String, String] = Map(
    // qln = 6-dp-quantized ln of INTEGER counts into DECIMAL; all nine
    // G^2 terms are exact decimal products; zero cells pinned by CASE
    "q_llr_terms" ->
      """WITH toks AS (
        |  SELECT lang, word FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t
        |  WHERE len(word) > 0
        |), cell AS (
        |  SELECT word, lang, CAST(count(*) AS BIGINT) AS k11
        |  FROM toks GROUP BY 1, 2
        |), lt AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM toks GROUP BY 1
        |), wt AS (
        |  SELECT word, CAST(sum(k11) AS BIGINT) AS nw FROM cell GROUP BY 1
        |), tt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM toks),
        |sc AS (
        |  SELECT c.lang, c.word, c.k11, wt.nw, lt.nl, tt.nn,
        |         wt.nw - c.k11 AS k12, lt.nl - c.k11 AS k21,
        |         tt.nn - wt.nw - lt.nl + c.k11 AS k22
        |  FROM cell c JOIN lt USING (lang) JOIN wt USING (word), tt
        |  WHERE c.k11 * tt.nn > wt.nw * lt.nl
        |), llr AS (
        |  SELECT lang, word, k11, nw,
        |    (k11 * CAST(floor((ln(k11)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |     + CASE WHEN k12 > 0 THEN k12 * CAST(floor((ln(k12)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |            ELSE CAST(0 AS DECIMAL(38,6)) END
        |     + CASE WHEN k21 > 0 THEN k21 * CAST(floor((ln(k21)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |            ELSE CAST(0 AS DECIMAL(38,6)) END
        |     + CASE WHEN k22 > 0 THEN k22 * CAST(floor((ln(k22)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |            ELSE CAST(0 AS DECIMAL(38,6)) END
        |     - nl * CAST(floor((ln(nl)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |     - CASE WHEN nn > nl THEN (nn - nl) * CAST(floor((ln(nn - nl)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |            ELSE CAST(0 AS DECIMAL(38,6)) END
        |     - nw * CAST(floor((ln(nw)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |     - CASE WHEN nn > nw THEN (nn - nw) * CAST(floor((ln(nn - nw)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
        |            ELSE CAST(0 AS DECIMAL(38,6)) END
        |     + nn * CAST(floor((ln(nn)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) * 2 AS llr_d
        |  FROM sc
        |), rk AS (
        |  SELECT lang, word, k11, nw, llr_d,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY llr_d DESC, word ASC) AS rn
        |  FROM llr
        |)
        |SELECT lang, CAST(rn AS INTEGER) AS rn, word, k11, nw AS n_word,
        |       CAST(llr_d AS DOUBLE) AS llr
        |FROM rk WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "q_simpson_diversity" ->
      """WITH g AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2
        |), p AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS BIGINT) AS n_langs,
        |         CAST(sum(c * (c - 1)) AS BIGINT) AS ss
        |  FROM g GROUP BY source
        |)
        |SELECT source, n_docs, n_langs,
        |  CASE WHEN n_docs > 1 THEN
        |    floor((1.0 - CAST(ss AS DOUBLE)
        |           / CAST(n_docs * (n_docs - 1) AS DOUBLE))
        |          * 1000000.0 + 0.5) / 1000000.0 END AS simpson
        |FROM p ORDER BY source""".stripMargin,
    "q_term_chi2" ->
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, lang, word FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |    FROM documents) t
        |  WHERE len(word) > 0
        |), lt AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY lang
        |), tt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn FROM documents
        |), wt AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS nw FROM dw GROUP BY word
        |), cell AS (
        |  SELECT word, lang, CAST(count(*) AS BIGINT) AS n11
        |  FROM dw GROUP BY 1, 2
        |), sc AS (
        |  SELECT c.lang, c.word, c.n11, wt.nw, lt.nl, tt.nn,
        |    CAST(c.n11 * (tt.nn - lt.nl - (wt.nw - c.n11))
        |         - (lt.nl - c.n11) * (wt.nw - c.n11) AS HUGEINT) AS det
        |  FROM cell c JOIN lt ON c.lang = lt.lang
        |  JOIN wt ON c.word = wt.word, tt
        |), chi AS (
        |  SELECT lang, word, n11, nw, nl,
        |    CASE WHEN nw < nn AND nl < nn THEN
        |      floor(CAST(CAST(nn AS HUGEINT) * det * det AS DOUBLE)
        |            / CAST(CAST(nw AS HUGEINT) * CAST(nn - nw AS HUGEINT)
        |                   * CAST(nl AS HUGEINT) * CAST(nn - nl AS HUGEINT) AS DOUBLE)
        |            * 1000000.0 + 0.5) / 1000000.0
        |    ELSE CAST(0.0 AS DOUBLE) END AS chi2
        |  FROM sc
        |), rk AS (
        |  SELECT lang, word, n11, nw, nl, chi2,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY chi2 DESC, word ASC) AS rn
        |  FROM chi
        |)
        |SELECT lang, CAST(rn AS INTEGER) AS rn, word, n11,
        |  nw AS n_word, nl AS n_lang, chi2
        |FROM rk WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "q_rake_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, pos, word FROM (
        |    SELECT doc_id, u.pos AS pos, u.word AS word FROM (
        |      SELECT doc_id,
        |        unnest(list_transform(range(1, len(string_split(text, ' ')) + 1),
        |          i -> {'pos': i, 'word': string_split(text, ' ')[i]})) AS u
        |      FROM documents) q
        |  ) t WHERE len(word) > 0
        |), ns AS (
        |  SELECT doc_id, pos, word,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM toks WHERE word NOT IN ('the', 'a', 'of')
        |), phr AS (
        |  SELECT doc_id, island,
        |    string_agg(word, ' ' ORDER BY pos) AS phrase,
        |    CAST(count(*) AS BIGINT) AS plen
        |  FROM ns GROUP BY doc_id, island
        |), ws AS (
        |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(plen) AS BIGINT) AS deg
        |  FROM (SELECT unnest(string_split(phrase, ' ')) AS w, plen FROM phr) e
        |  GROUP BY w
        |), wsc AS (
        |  SELECT word,
        |    CAST(floor(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
        |          * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS wscore
        |  FROM ws
        |), inst AS (
        |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
        |         CAST(max(plen) AS BIGINT) AS n_words
        |  FROM phr GROUP BY phrase
        |), psc AS (
        |  SELECT phrase, sum(wscore) AS pscore
        |  FROM (SELECT DISTINCT phrase FROM phr) p,
        |       LATERAL (SELECT unnest(string_split(p.phrase, ' ')) AS w) e
        |  JOIN wsc ON wsc.word = e.w
        |  GROUP BY phrase
        |)
        |SELECT i.phrase, i.n_words, i.n_occurrences,
        |  floor(CAST(psc.pscore AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM inst i JOIN psc ON i.phrase = psc.phrase
        |ORDER BY score DESC, i.phrase ASC
        |LIMIT 30""".stripMargin,
    "q_heaps_fit" ->
      s"""WITH tc AS (
         |  SELECT source, term, count(*) AS c
         |  FROM (SELECT source, unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> '' GROUP BY source, term
         |), per AS (
         |  SELECT CAST(floor((ln(CAST(sum(c) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS x,
         |         CAST(floor((ln(CAST(count(*) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS y
         |  FROM tc GROUP BY source
         |), a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
         |    CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(y * y AS DECIMAL(30,12))) AS DOUBLE) AS syy,
         |    CAST(SUM(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy
         |  FROM per
         |)
         |SELECT n_sources,
         |  floor((n_sources * sxy - sx * sy) / (n_sources * sxx - sx * sx)
         |        * 10000 + 0.5) / 10000 AS beta,
         |  floor((sy - (n_sources * sxy - sx * sy) / (n_sources * sxx - sx * sx) * sx)
         |        / n_sources * 10000 + 0.5) / 10000 AS intercept_ln,
         |  floor(((n_sources * sxy - sx * sy) * (n_sources * sxy - sx * sy))
         |        / ((n_sources * sxx - sx * sx) * (n_sources * syy - sy * sy))
         |        * 10000 + 0.5) / 10000 AS r2
         |FROM a WHERE n_sources >= 2""".stripMargin,
    "q_readability" ->
      s"""WITH per AS (
         |  SELECT source,
         |    greatest(1, length(regexp_replace(text, '[^.!?]', '', 'g'))) AS sent,
         |    len($FWordsSql) AS nw,
         |    greatest(len($FWordsSql),
         |      length(regexp_replace(lower(text), '[aeiou]+', '#', 'g'))
         |      - length(regexp_replace(lower(text), '[aeiou]+', '', 'g'))) AS syl
         |  FROM documents
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(sent) AS BIGINT) AS n_sentences,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(syl) AS BIGINT) AS n_syllables,
         |  floor((206.835e0
         |         - 1.015e0 * (CAST(sum(nw) AS DOUBLE) / CAST(sum(sent) AS DOUBLE))
         |         - 84.6e0 * (CAST(sum(syl) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)))
         |        * 10000.0 + 0.5) / 10000.0 AS flesch
         |FROM per GROUP BY source ORDER BY source""".stripMargin,
    "q_fuzzy_join_symdel" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT s_name AS w FROM supplier
         |), keys AS (
         |  SELECT w, unnest(list_distinct(list_prepend(w,
         |    list_transform(range(1, length(w) + 1),
         |      i -> substr(w, 1, i - 1) || substr(w, i + 1, length(w)))))) AS k
         |  FROM vocab
         |), cand AS (
         |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
         |  FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w
         |)
         |SELECT word_a, word_b FROM cand
         |WHERE levenshtein(word_a, word_b) <= 1
         |ORDER BY word_a, word_b""".stripMargin,
    "q_ngram_novelty" ->
      s"""WITH sb AS (
         |  SELECT DISTINCT source, bg
         |  FROM (SELECT source, unnest($BigramsSql) AS bg FROM documents) t
         |), df AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS nsrc FROM sb GROUP BY bg
         |), a AS (
         |  SELECT sb.source, CAST(count(*) AS BIGINT) AS n_types,
         |         CAST(sum(CASE WHEN df.nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |  FROM sb JOIN df ON sb.bg = df.bg
         |  GROUP BY sb.source
         |)
         |SELECT source, n_types, n_unique,
         |  floor(CAST(n_unique AS DOUBLE) / CAST(n_types AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS novelty
         |FROM a ORDER BY source""".stripMargin,
    "q_pmi_terms" ->
      s"""WITH occ AS (
         |  SELECT source, term
         |  FROM (SELECT source, unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> ''
         |), cts AS (
         |  SELECT source, term, count(*) AS c_ts FROM occ GROUP BY source, term
         |), ct AS (
         |  SELECT term, CAST(sum(c_ts) AS BIGINT) AS c_t FROM cts GROUP BY term
         |), cs AS (
         |  SELECT source, CAST(sum(c_ts) AS BIGINT) AS c_s FROM cts GROUP BY source
         |), n AS (
         |  SELECT CAST(sum(c_ts) AS BIGINT) AS n_tot FROM cts
         |), p AS (
         |  SELECT cts.source, cts.term, cts.c_ts,
         |           CAST(floor((ln(CAST(c_ts AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |         + CAST(floor((ln(CAST(n_tot AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |         - CAST(floor((ln(CAST(c_t AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |         - CAST(floor((ln(CAST(c_s AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS pmi
         |  FROM cts JOIN ct USING (term) JOIN cs USING (source), n
         |  WHERE c_ts >= 5
         |), r AS (
         |  SELECT source, term, c_ts, pmi,
         |         CAST(row_number() OVER (PARTITION BY source
         |                                 ORDER BY pmi DESC, term ASC) AS INTEGER) AS rnk
         |  FROM p
         |)
         |SELECT source, rnk, term, c_ts, CAST(pmi AS DOUBLE) AS pmi
         |FROM r WHERE rnk <= 3
         |ORDER BY source, rnk""".stripMargin,
    // logs of bare integer counts quantized into DECIMAL; exact decimal
    // sum; one division + one exp
    "q_cond_entropy" ->
      s"""WITH bgr AS (
         |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |  FROM (SELECT $FWordsSql AS w FROM documents) ws
         |), c AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c12,
         |         string_split(bg, ' ')[1] AS w1
         |  FROM bgr GROUP BY bg
         |), h AS (
         |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY w1
         |), agg AS (
         |  SELECT CAST(sum(c.c12) AS BIGINT) AS n_bigrams,
         |    SUM(c.c12 * (CAST(floor((ln(h.c1)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |                 - CAST(floor((ln(c.c12)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))) AS hsum
         |  FROM c JOIN h USING (w1)
         |), fin AS (
         |  SELECT n_bigrams,
         |    floor(CAST(hsum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |          * 1000000 + 0.5) / 1000000 AS h_cond_nats
         |  FROM agg
         |)
         |SELECT n_bigrams, h_cond_nats,
         |       floor(exp(h_cond_nats) * 10000.0 + 0.5) / 10000.0 AS perplexity
         |FROM fin""".stripMargin,
    // exact BIGINT count tables; p_kn is the same fixed 8-op IEEE tree;
    // the top-20 cut is an integer+string ordering
    "q_kneser_ney" ->
      s"""WITH bgr AS (
         |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |  FROM (SELECT $FWordsSql AS w FROM documents) ws
         |), c AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c12,
         |         string_split(bg, ' ')[1] AS w1,
         |         string_split(bg, ' ')[-1] AS w2
         |  FROM bgr GROUP BY bg
         |), h AS (
         |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |         CAST(count(*) AS BIGINT) AS nfw
         |  FROM c GROUP BY w1
         |), p AS (
         |  SELECT w2, CAST(count(*) AS BIGINT) AS nbw FROM c GROUP BY w2
         |), t AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM c)
         |SELECT c.bg AS bigram, c.c12, h.c1,
         |  h.nfw AS n_followers, p.nbw AS n_contexts,
         |  floor(CAST(p.nbw AS DOUBLE) / CAST(t.ntypes AS DOUBLE)
         |        * 1000000 + 0.5) / 1000000 AS p_cont,
         |  floor(0.75e0 * CAST(h.nfw AS DOUBLE) / CAST(h.c1 AS DOUBLE)
         |        * 1000000 + 0.5) / 1000000 AS lambda,
         |  floor(((CAST(c.c12 AS DOUBLE) - 0.75e0) / CAST(h.c1 AS DOUBLE)
         |         + (0.75e0 * CAST(h.nfw AS DOUBLE) / CAST(h.c1 AS DOUBLE))
         |           * (CAST(p.nbw AS DOUBLE) / CAST(t.ntypes AS DOUBLE)))
         |        * 1000000 + 0.5) / 1000000 AS p_kn
         |FROM c JOIN h USING (w1) JOIN p USING (w2), t
         |ORDER BY c.c12 DESC, bigram ASC LIMIT 20""".stripMargin,
    "q_bigram_lm" ->
      s"""WITH ws AS (
         |  SELECT doc_id, $FWordsSql AS w FROM documents
         |), bgr AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |  FROM ws
         |), tf AS (
         |  SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY doc_id, bg
         |), c12 AS (
         |  SELECT bg, CAST(sum(tf) AS BIGINT) AS c12 FROM tf GROUP BY bg
         |), c1 AS (
         |  SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1
         |  FROM c12 GROUP BY 1
         |), v AS (
         |  SELECT count(DISTINCT term) AS v
         |  FROM (SELECT unnest($FWordsSql) AS term FROM documents)
         |), sur AS (
         |  SELECT tf.doc_id, tf.tf,
         |         CAST(floor((ln(CAST(c1.c1 + v.v AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |       - CAST(floor((ln(CAST(c12.c12 + 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS sur
         |  FROM tf
         |  JOIN c12 USING (bg)
         |  JOIN c1 ON string_split(tf.bg, ' ')[1] = c1.w1, v
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |       CAST(floor((sum(sur * tf)) * 10000 + 0.5) / 10000 AS DOUBLE) AS sum_nats,
         |       floor(CAST(sum(sur * tf) AS DOUBLE) / sum(tf) * 10000 + 0.5) / 10000 AS avg_nats
         |FROM sur GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_boilerplate" ->
      s"""WITH ws AS (
         |  SELECT doc_id, $WordsSql AS w FROM documents
         |), tri AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(range(1, len(w) - 1),
         |                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
         |    FROM ws) t
         |), tdf AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS df FROM tri GROUP BY g
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
         |       CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |       floor(CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*) * 10000 + 0.5) / 10000 AS boiler_frac
         |FROM tri JOIN tdf USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_hellinger" ->
      s"""WITH tc AS (
         |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> '' GROUP BY source, term
         |), tot AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY source
         |), sh AS (
         |  SELECT a.source AS sa, b.source AS sb,
         |         CAST(count(*) AS BIGINT) AS shared_terms,
         |         SUM(CAST(floor((sqrt(CAST(a.c * b.c AS DOUBLE))) * 1000000 + 0.5) / 1000000
         |             AS DECIMAL(28,6))) AS sroot
         |  FROM tc a JOIN tc b ON a.term = b.term AND a.source < b.source
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT ta.source AS sa, tb.source AS sb, ta.n AS na, tb.n AS nb
         |  FROM tot ta JOIN tot tb ON ta.source < tb.source
         |), px AS (
         |  SELECT p.sa, p.sb,
         |    CAST(COALESCE(sh.shared_terms, 0) AS BIGINT) AS shared_terms,
         |    floor((CAST(COALESCE(sh.sroot, 0) AS DOUBLE) /
         |          (sqrt(CAST(p.na AS DOUBLE)) * sqrt(CAST(p.nb AS DOUBLE)))) * 1000000 + 0.5) / 1000000 AS bc
         |  FROM pairs p LEFT JOIN sh ON p.sa = sh.sa AND p.sb = sh.sb
         |)
         |SELECT sa AS src_a, sb AS src_b, shared_terms, bc,
         |  floor((sqrt(greatest(0.0e0, 1.0e0 - bc))) * 1000000 + 0.5) / 1000000 AS hellinger
         |FROM px ORDER BY src_a, src_b""".stripMargin,
    "q_js_divergence" ->
      s"""WITH tc AS (
         |  SELECT source, term, count(*) AS c
         |  FROM (SELECT source, unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> ''
         |  GROUP BY source, term
         |), tot AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY source
         |), sh AS (
         |  SELECT a.source AS sa, b.source AS sb,
         |         count(*) AS shared_terms,
         |         SUM(a.c) AS ca_sh, SUM(b.c) AS cb_sh,
         |         SUM(CAST(a.c AS DECIMAL(18,0))
         |             * CAST(floor((log2(CAST(a.c * tb.n * 2 AS DOUBLE)
         |                               / CAST(a.c * tb.n + b.c * ta.n AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS sla,
         |         SUM(CAST(b.c AS DECIMAL(18,0))
         |             * CAST(floor((log2(CAST(b.c * ta.n * 2 AS DOUBLE)
         |                               / CAST(a.c * tb.n + b.c * ta.n AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS slb
         |  FROM tc a
         |  JOIN tc b ON a.term = b.term AND a.source < b.source
         |  JOIN tot ta ON ta.source = a.source
         |  JOIN tot tb ON tb.source = b.source
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT ta.source AS sa, tb.source AS sb, ta.n AS na, tb.n AS nb
         |  FROM tot ta JOIN tot tb ON ta.source < tb.source
         |)
         |SELECT p.sa AS src_a, p.sb AS src_b,
         |       CAST(COALESCE(sh.shared_terms, 0) AS BIGINT) AS shared_terms,
         |       floor(((CAST(COALESCE(sh.sla, 0) + (p.na - COALESCE(sh.ca_sh, 0)) AS DOUBLE) / CAST(p.na AS DOUBLE)
         |            + CAST(COALESCE(sh.slb, 0) + (p.nb - COALESCE(sh.cb_sh, 0)) AS DOUBLE) / CAST(p.nb AS DOUBLE)) / 2) * 1000000 + 0.5) / 1000000 AS jsd_bits
         |FROM pairs p LEFT JOIN sh ON p.sa = sh.sa AND p.sb = sh.sb
         |ORDER BY src_a, src_b""".stripMargin,
    "q_zipf_slope" ->
      s"""WITH tc AS (
         |  SELECT source, term, count(*) AS c
         |  FROM (SELECT source, unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> '' GROUP BY source, term
         |), r AS (
         |  SELECT source,
         |         CAST(floor((ln(CAST(rnk AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS x,
         |         CAST(floor((ln(CAST(c AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS y
         |  FROM (SELECT source, term, c,
         |               row_number() OVER (PARTITION BY source
         |                                  ORDER BY c DESC, term ASC) AS rnk
         |        FROM tc) t
         |  WHERE rnk <= 100
         |), s AS (
         |  SELECT source, count(*) AS n_ranked,
         |         CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy
         |  FROM r GROUP BY source
         |)
         |SELECT source, n_ranked,
         |       floor((n_ranked * sxy - sx * sy) / (n_ranked * sxx - sx * sx)
         |             * 10000 + 0.5) / 10000 AS slope,
         |       floor((sy - (n_ranked * sxy - sx * sy) / (n_ranked * sxx - sx * sx) * sx)
         |             / n_ranked * 10000 + 0.5) / 10000 AS intercept
         |FROM s
         |WHERE n_ranked >= 2
         |ORDER BY source""".stripMargin,
    "q_bm25" ->
      s"""WITH dl AS (
         |  SELECT doc_id, CAST(len(list_filter($WordsSql, w -> w <> '')) AS INTEGER) AS dl
         |  FROM documents
         |), n AS (
         |  SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS total FROM dl
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($WordsSql) AS term FROM documents)
         |  WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY doc_id, term
         |), wdf AS (
         |  SELECT tf.*, count(*) OVER (PARTITION BY term) AS df FROM tf
         |), sc AS (
         |  SELECT w.doc_id, dl.dl,
         |    CAST(floor(
         |      CAST(CAST(floor((ln(CAST(2 * nd + 2 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |           - CAST(floor((ln(CAST(2 * df + 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)
         |      * ((22e0 * tf * total) / (10 * tf * total + 3 * total + 9 * dl.dl * nd))
         |      * 10000 + 0.5) / 10000 AS DECIMAL(18,4)) AS s
         |  FROM wdf w JOIN dl ON w.doc_id = dl.doc_id, n
         |)
         |SELECT doc_id, dl, count(*) AS n_hit, CAST(sum(s) AS DOUBLE) AS bm25
         |FROM sc GROUP BY doc_id, dl
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 20""".stripMargin,
    "q_entropy" ->
      s"""WITH tc AS (
         |  SELECT source, term, count(*) AS c
         |  FROM (SELECT source, unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> ''
         |  GROUP BY source, term
         |)
         |SELECT source,
         |       CAST(SUM(c) AS BIGINT) AS n_tokens,
         |       count(*) AS vocab,
         |       floor((log2(CAST(SUM(c) AS DOUBLE))
         |             - CAST(SUM(CAST(floor((log2(c)) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) * c) AS DOUBLE)
         |               / CAST(SUM(c) AS DOUBLE)) * 10000 + 0.5) / 10000 AS entropy_bits
         |FROM tc
         |GROUP BY source
         |ORDER BY source""".stripMargin,
    "q_chunk_overlap" ->
      s"""WITH w AS (
         |  SELECT doc_id, $WordsSql AS ws FROM documents
         |), st AS (
         |  SELECT doc_id, ws, unnest(range(0, len(ws), $ChunkS)) AS start FROM w
         |)
         |SELECT doc_id, start // $ChunkS AS chunk_id,
         |       len(list_slice(ws, start + 1, start + $ChunkW)) AS n_tokens,
         |       array_to_string(list_slice(ws, start + 1, start + $ChunkW), ' ') AS chunk_text
         |FROM st
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_inverted_index" ->
      s"""WITH t AS (
         |  SELECT DISTINCT doc_id, unnest($WordsSql) AS term FROM documents
         |)
         |SELECT term, count(*) AS df,
         |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         |FROM t WHERE term <> ''
         |GROUP BY term
         |HAVING count(*) >= 2
         |   AND count(*) <= (SELECT count(*) FROM documents) * 0.8
         |ORDER BY term""".stripMargin,
    "q_unigram_lm" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest($WordsSql) AS term FROM documents
         |), tk AS (
         |  SELECT doc_id, term FROM t WHERE term <> ''
         |), wct AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY term) AS ct FROM tk
         |), n AS (
         |  SELECT count(*) AS n_total FROM tk
         |), sur AS (
         |  SELECT doc_id,
         |         CAST(floor((ln(CAST(n_total AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |           - CAST(floor((ln(CAST(ct AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS sur
         |  FROM wct, n
         |)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(floor((sum(sur)) * 10000 + 0.5) / 10000 AS DOUBLE) AS sum_nats,
         |       floor(CAST(sum(sur) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_nats
         |FROM sur GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the sc/pred CTE restates q_lang_id's oracle verbatim (same marker
    // lists, same first-match CASE order), then reduces to the matrix
    "q_lang_confusion" ->
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('the','a'))) AS INTEGER) AS s_en,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('le','la','et'))) AS INTEGER) AS s_fr,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('el','los','y'))) AS INTEGER) AS s_es,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('der','und'))) AS INTEGER) AS s_de,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('de','le'))) AS INTEGER) AS s_zh
         |  FROM documents
         |), p AS (
         |  SELECT lang,
         |    CASE WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
         |         WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
         |         WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
         |         WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
         |         ELSE 'zh' END AS pred
         |  FROM sc
         |), cells AS (
         |  SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2
         |), rt AS (
         |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1
         |)
         |SELECT cells.lang, cells.pred, CAST(cells.n AS BIGINT) AS n, rt.n_lang,
         |       floor((CAST(cells.n AS DOUBLE) / CAST(rt.n_lang AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS share
         |FROM cells JOIN rt USING (lang)
         |ORDER BY lang, pred""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH tf AS (
         |  SELECT term, count(*) AS ct
         |  FROM (SELECT unnest($WordsSql) AS term FROM documents)
         |  WHERE term <> '' GROUP BY term
         |), r AS (
         |  SELECT term, ct, row_number() OVER (ORDER BY ct DESC, term ASC) AS r FROM tf
         |), t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM tf
         |), ks AS (SELECT CAST(unnest([10, 100, 1000]) AS INTEGER) AS k)
         |SELECT ks.k,
         |       CAST(COALESCE(SUM(CASE WHEN r.r <= ks.k THEN r.ct END), 0) AS BIGINT) AS covered,
         |       floor((CAST(COALESCE(SUM(CASE WHEN r.r <= ks.k THEN r.ct END), 0) AS DOUBLE)
         |             / CAST(t.tt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS share
         |FROM ks, r, t
         |GROUP BY ks.k, t.tt
         |ORDER BY ks.k""".stripMargin,
    // the q_bpe_merge CTEs learn the top-20 pairs; 20 unrolled
    // replace steps apply them in rank order (absent ranks no-op via a
    // never-occurring sentinel); token counts by length arithmetic
    "q_bpe_apply" ->
      s"""WITH cf AS (
        |  SELECT w, count(*) AS wf
        |  FROM (SELECT unnest($WordsSql) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w
        |), p AS (
        |  SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM (
        |    SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, wf
        |    FROM cf, unnest(range(1, length(w))) AS t(i)
        |    WHERE length(w) >= 2)
        |  GROUP BY pair
        |), m AS (
        |  SELECT pair,
        |         CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS INTEGER) AS rank
        |  FROM p QUALIFY rank <= 20
        |), wf AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT source, unnest($WordsSql) AS w FROM documents)
        |  WHERE w <> '' GROUP BY source, w
        |), w0 AS (
        |  SELECT source, w, n,
        |         rtrim(regexp_replace(w, '(.)', '\\1·', 'g'), '·') AS tok
        |  FROM wf),
        |w1 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 1), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 1), '§none§')) AS tok
        |  FROM w0),
        |w2 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 2), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 2), '§none§')) AS tok
        |  FROM w1),
        |w3 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 3), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 3), '§none§')) AS tok
        |  FROM w2),
        |w4 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 4), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 4), '§none§')) AS tok
        |  FROM w3),
        |w5 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 5), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 5), '§none§')) AS tok
        |  FROM w4),
        |w6 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 6), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 6), '§none§')) AS tok
        |  FROM w5),
        |w7 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 7), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 7), '§none§')) AS tok
        |  FROM w6),
        |w8 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 8), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 8), '§none§')) AS tok
        |  FROM w7),
        |w9 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 9), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 9), '§none§')) AS tok
        |  FROM w8),
        |w10 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 10), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 10), '§none§')) AS tok
        |  FROM w9),
        |w11 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 11), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 11), '§none§')) AS tok
        |  FROM w10),
        |w12 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 12), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 12), '§none§')) AS tok
        |  FROM w11),
        |w13 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 13), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 13), '§none§')) AS tok
        |  FROM w12),
        |w14 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 14), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 14), '§none§')) AS tok
        |  FROM w13),
        |w15 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 15), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 15), '§none§')) AS tok
        |  FROM w14),
        |w16 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 16), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 16), '§none§')) AS tok
        |  FROM w15),
        |w17 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 17), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 17), '§none§')) AS tok
        |  FROM w16),
        |w18 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 18), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 18), '§none§')) AS tok
        |  FROM w17),
        |w19 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 19), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 19), '§none§')) AS tok
        |  FROM w18),
        |w20 AS (
        |  SELECT source, w, n, replace(tok,
        |    coalesce((SELECT substring(pair, 1, 1) || '·' || substring(pair, 2, 1) FROM m WHERE rank = 20), '§none§'),
        |    coalesce((SELECT pair FROM m WHERE rank = 20), '§none§')) AS tok
        |  FROM w19),
        |a AS (
        |  SELECT source,
        |         CAST(sum(n) AS BIGINT) AS n_words,
        |         CAST(sum(length(w) * n) AS BIGINT) AS n_chars,
        |         CAST(sum((length(tok) - length(replace(tok, '·', '')) + 1) * n) AS BIGINT) AS n_tokens
        |  FROM w20 GROUP BY source)
        |SELECT source, n_words, n_chars, n_tokens,
        |       CAST(n_tokens * 1000000 // n_chars AS BIGINT) AS compression_ppm
        |FROM a
        |ORDER BY source""".stripMargin,
    "q_bpe_merge" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS wf
         |  FROM (SELECT unnest($WordsSql) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w
         |), p AS (
         |  SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM (
         |    SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, wf
         |    FROM wf, unnest(range(1, length(w))) AS t(i)
         |    WHERE length(w) >= 2)
         |  GROUP BY pair
         |), r AS (
         |  SELECT pair, n,
         |         CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS INTEGER) AS rank
         |  FROM p
         |)
         |SELECT rank, pair, n FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // the same surprisal CTE chain as q_unigram_lm, then the all-integer
    // mean gate nd*avgq <= ta on the 1e-4-quantized per-doc averages
    "q_ppl_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest($WordsSql) AS term FROM documents
         |), tk AS (
         |  SELECT doc_id, term FROM t WHERE term <> ''
         |), wct AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY term) AS ct FROM tk
         |), n AS (
         |  SELECT count(*) AS n_total FROM tk
         |), sur AS (
         |  SELECT doc_id,
         |         CAST(floor((ln(CAST(n_total AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))
         |           - CAST(floor((ln(CAST(ct AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS sur
         |  FROM wct, n
         |), doc AS (
         |  SELECT doc_id,
         |         CAST(floor(CAST(sum(sur) AS DOUBLE) / count(*) * 10000 + 0.5) AS BIGINT) AS avgq
         |  FROM sur GROUP BY doc_id
         |), tot AS (
         |  SELECT CAST(SUM(avgq) AS BIGINT) AS ta, CAST(COUNT(*) AS BIGINT) AS nd FROM doc
         |), gated AS (
         |  SELECT doc.doc_id, doc.avgq,
         |         CASE WHEN tot.nd * doc.avgq <= tot.ta THEN 1 ELSE 0 END AS keep
         |  FROM doc, tot
         |)
         |SELECT d.source,
         |       count(*) AS n_docs,
         |       CAST(SUM(g.keep) AS BIGINT) AS n_kept,
         |       count(*) - CAST(SUM(g.keep) AS BIGINT) AS n_dropped,
         |       floor((CAST(SUM(CASE WHEN g.keep = 1 THEN g.avgq END) AS DOUBLE)
         |             / CAST(SUM(g.keep) AS DOUBLE) / 10000.0e0) * 1000000 + 0.5) / 1000000 AS kept_avg_nats
         |FROM gated g JOIN documents d ON g.doc_id = d.doc_id
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin,
    "q_tfidf" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest($WordsSql) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1
         |), nd AS (
         |  SELECT count(*) AS n_docs FROM documents
         |), x AS (
         |  SELECT doc_id, term, tf,
         |         floor((tf * ln(CAST(n_docs AS DOUBLE) / df)) * 10000 + 0.5) / 10000 AS tfidf
         |  FROM tf JOIN df USING (term), nd
         |), r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rn
         |  FROM x
         |)
         |SELECT doc_id, rn, term, tf, tfidf FROM r WHERE rn <= 3
         |ORDER BY doc_id, rn""".stripMargin,
    "q_array_setops" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang, list_distinct($BigramsSql) AS bg FROM documents
         |), l AS (
         |  SELECT doc_id, bg, lag(bg) OVER (PARTITION BY lang ORDER BY doc_id) AS prev FROM b
         |)
         |SELECT doc_id,
         |  CAST(len(list_filter(bg, x -> list_contains(prev, x))) AS INTEGER) AS n_inter,
         |  CAST(len(bg) + len(prev)
         |       - len(list_filter(bg, x -> list_contains(prev, x))) AS INTEGER) AS n_union,
         |  CAST(len(bg) - len(list_filter(bg, x -> list_contains(prev, x))) AS INTEGER) AS n_except
         |FROM l WHERE prev IS NOT NULL
         |ORDER BY doc_id""".stripMargin,
    "q_edit_distance" ->
      """SELECT doc_id, lang,
        |       CAST(levenshtein(substring(text, 1, 20),
        |                        lag(substring(text, 1, 20)) OVER (PARTITION BY lang ORDER BY doc_id))
        |            AS INTEGER) AS edit_dist
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      s"""WITH g AS (
         |  SELECT doc_id, source, unnest(
         |    list_transform(range(1, len($WordsSql) - 3),
         |      i -> $WordsSql[i] || ' ' || $WordsSql[i+1] || ' ' || $WordsSql[i+2]
         |           || ' ' || $WordsSql[i+3] || ' ' || $WordsSql[i+4])) AS gram
         |  FROM documents
         |), tg AS (
         |  SELECT DISTINCT doc_id, gram FROM g WHERE source = 'src0'
         |), tr AS (
         |  SELECT DISTINCT gram FROM g WHERE source <> 'src0'
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |         count(*) FILTER (WHERE gram IN (SELECT gram FROM tr)) AS n_shared
         |  FROM tg GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(c.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(c.n_shared, 0) AS BIGINT) AS n_shared,
         |       coalesce(c.n_shared, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
         |LEFT JOIN cnt c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the contamination gram sets; flagged training docs left-join back
    // to row-local token counts; ppm is integer division
    "q_decontaminate" ->
      s"""WITH g AS (
         |  SELECT doc_id, source, unnest(
         |    list_transform(range(1, len($WordsSql) - 3),
         |      i -> $WordsSql[i] || ' ' || $WordsSql[i+1] || ' ' || $WordsSql[i+2]
         |           || ' ' || $WordsSql[i+3] || ' ' || $WordsSql[i+4])) AS gram
         |  FROM documents
         |), eg AS (
         |  SELECT DISTINCT gram FROM g WHERE source = 'src0'
         |), fl AS (
         |  SELECT DISTINCT doc_id, 1 AS dropped
         |  FROM g WHERE source <> 'src0' AND gram IN (SELECT gram FROM eg)
         |), toks AS (
         |  SELECT doc_id, source, CAST(len($WordsSql) AS BIGINT) AS t
         |  FROM documents WHERE source <> 'src0'
         |)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(dropped, 0)) AS BIGINT) AS n_dropped,
         |  CAST(sum(t) AS BIGINT) AS tokens_total,
         |  CAST(sum(coalesce(dropped, 0) * t) AS BIGINT) AS tokens_dropped,
         |  CAST(sum(coalesce(dropped, 0) * t) * 1000000 // sum(t) AS BIGINT)
         |    AS drop_ppm
         |FROM toks LEFT JOIN fl USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    // candidates through the distinct-5-gram join; clipped bigram counts
    // with integer least; argmax on exact integer ordering
    "q_rouge_overlap" ->
      s"""WITH g AS (
         |  SELECT doc_id, source, unnest(
         |    list_transform(range(1, len($WordsSql) - 3),
         |      i -> $WordsSql[i] || ' ' || $WordsSql[i+1] || ' ' || $WordsSql[i+2]
         |           || ' ' || $WordsSql[i+3] || ' ' || $WordsSql[i+4])) AS gram
         |  FROM documents
         |), eg AS (
         |  SELECT DISTINCT doc_id AS ed, gram FROM g WHERE source = 'src0'
         |), tg AS (
         |  SELECT DISTINCT doc_id AS td, gram FROM g WHERE source <> 'src0'
         |), cand AS (
         |  SELECT ed, td, CAST(count(*) AS BIGINT) AS n_shared5
         |  FROM eg JOIN tg USING (gram) GROUP BY 1, 2
         |), bg AS (
         |  SELECT doc_id, bgr AS bg2, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, unnest($BigramsSql) AS bgr FROM documents) x
         |  GROUP BY 1, 2
         |), ref AS (
         |  SELECT doc_id AS ed, CAST(sum(cnt) AS BIGINT) AS ref_bigrams
         |  FROM bg GROUP BY 1
         |), cl AS (
         |  SELECT c.ed, c.td, c.n_shared5,
         |         CAST(sum(least(be.cnt, bt.cnt)) AS BIGINT) AS clip
         |  FROM cand c
         |  JOIN bg be ON be.doc_id = c.ed
         |  JOIN bg bt ON bt.doc_id = c.td AND bt.bg2 = be.bg2
         |  GROUP BY 1, 2, 3
         |), rk AS (
         |  SELECT ed, td, n_shared5, clip,
         |    row_number() OVER (PARTITION BY ed
         |      ORDER BY clip DESC, n_shared5 DESC, td ASC) AS rn
         |  FROM cl
         |)
         |SELECT r.ed AS doc_id, r.td AS match_doc, r.n_shared5, r.clip,
         |  f.ref_bigrams,
         |  floor(CAST(r.clip AS DOUBLE) / CAST(f.ref_bigrams AS DOUBLE)
         |        * 1000000 + 0.5) / 1000000 AS rouge2
         |FROM rk r JOIN ref f ON f.ed = r.ed
         |WHERE r.rn = 1 ORDER BY doc_id""".stripMargin,
    "q_repetition_ratio" ->
      s"""WITH bg AS (
         |  SELECT doc_id, unnest($BigramsSql) AS g FROM documents
         |), c AS (
         |  SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY doc_id, g
         |)
         |SELECT doc_id,
         |       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |       count(*) AS n_distinct,
         |       CAST(max(cnt) AS BIGINT) AS top_cnt,
         |       floor((1.0 - count(*) / CAST(sum(cnt) AS DOUBLE)) * 10000 + 0.5) / 10000 AS rep_ratio,
         |       floor((1.0 - count(*) / CAST(sum(cnt) AS DOUBLE)) * 10000 + 0.5) / 10000 >= 0.05 AS repetitive
         |FROM c GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_ngram_stats" ->
      s"""SELECT bigram, count(*) AS cnt
         |FROM (SELECT unnest($BigramsSql) AS bigram FROM documents) t
         |GROUP BY bigram
         |ORDER BY cnt DESC, bigram ASC""".stripMargin,
    "q_lang_id" ->
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('the','a'))) AS INTEGER) AS s_en,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('le','la','et'))) AS INTEGER) AS s_fr,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('el','los','y'))) AS INTEGER) AS s_es,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('der','und'))) AS INTEGER) AS s_de,
         |    CAST(len(list_filter($WordsSql, w -> w IN ('de','le'))) AS INTEGER) AS s_zh
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_fr, s_es, s_de, s_zh,
         |  CASE WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
         |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
         |       WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
         |       ELSE 'zh' END AS pred,
         |  CAST((CASE WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
         |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
         |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
         |       WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
         |       ELSE 'zh' END) = lang AS INTEGER) AS correct
         |FROM sc
         |ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(len($WordsSql) AS INTEGER) AS n_words,
         |  CAST(len(list_filter($WordsSql, w -> w IN ('the','a','of'))) AS INTEGER) AS stop_cnt,
         |  floor((length(replace(text, ' ', '')) / len($WordsSql)) * 10000 + 0.5) / 10000 AS avg_word_len,
         |  floor((len(list_filter($WordsSql, w -> w IN ('the','a','of'))) / len($WordsSql)) * 10000 + 0.5) / 10000 AS stop_ratio,
         |  floor((0.4 * (len(list_filter($WordsSql, w -> w IN ('the','a','of'))) / len($WordsSql))
         |      + 0.3 / (1.0 + abs(length(replace(text, ' ', '')) / len($WordsSql) - 5.0))
         |      + 0.3 * least(1.0, len($WordsSql) / 100.0)) * 10000 + 0.5) / 10000 AS quality
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($WordsSql) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS re_tokens,
         |  CAST(len(list_distinct($WordsSql)) AS INTEGER) AS vocab
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q_doc_fingerprint" ->
      s"""SELECT doc_id,
         |  list_aggregate(list_transform($ShinglesSql, x -> md5(x)), 'min') AS fp_min,
         |  md5(substring(text, 1, 64)) AS fp_prefix,
         |  CAST(len($ShinglesSql) AS INTEGER) AS n_shingles
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
  )
}
