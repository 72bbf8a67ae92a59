package graft

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

/** Exchange budgets for the engine's most expensive queries (VERDICT
  * round-3 item 10): the shuffle count of the FINAL adaptive plan is
  * pinned at today's audited value, so a refactor that introduces a
  * surprise exchange — invisible to correctness tests, a cluster-bill
  * explosion at 100 TB — fails the build instead. Budgets are upper
  * bounds (an improvement that removes an exchange passes; update the
  * budget when intentional). For the TPC-H join shapes the broadcast
  * count is also a lower bound — a dimension silently falling back to a
  * shuffled join must fail here even if the total shuffle count stays
  * within budget. */
class PlanBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = TestSpark.Sf

  /** Queries audited WITH staging enabled. Their loop bodies reference
    * the previous pass's frame 3-4 times, so the unstaged lineage is
    * exponential in the pass count (q_kcore_peel: ~4^6 subtree copies —
    * the optimizer itself OOMs before any exchange could be counted).
    * q_zorder_pruning's stage is load-bearing, not just a perf hint: the
    * offsets aggregate and the main branch must observe the SAME
    * materialized monotonically_increasing_id values. q_dbscan and
    * q_dedup_semantic label through [[util.Components.of]], whose
    * union-find roots are staged once per closure; the banded-LSH pairs
    * they read carry a 72-plane expression tree in every unstaged
    * lineage copy.
    * The staged plan IS the production plan for these; the budget pins
    * the final executed plan over the staged leaves, exactly what
    * graft.PlanAudit measures. */
  private val stagedAudit = Set("q_kcore_peel", "q_zorder_pruning", "q_dbscan",
    "q_dedup_semantic")

  private def counts(name: String): (Int, Int) = {
    // stage.disable: Ckpt.stage truncates lineage, which would HIDE every
    // exchange upstream of the stage boundary from the executed plan —
    // the audit must see the whole pipeline, staged subtrees included
    if (!stagedAudit(name))
      spark.conf.set("spark.graft.stage.disable", "true")
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // materialize THIS plan so AQE finalizes
      val all = PlanAudit.nodes(PlanAudit.finalPlan(df.queryExecution.executedPlan))
      (all.count(_.isInstanceOf[ShuffleExchangeLike]),
        all.count(_.isInstanceOf[BroadcastExchangeLike]))
    } finally {
      spark.conf.unset("spark.graft.stage.disable")
      util.Ckpt.release(spark) // drop any staged blocks (stagedAudit path)
    }
  }

  // (query, max shuffles, min broadcasts) — audited via graft.PlanAudit
  // at sf0.001; min-broadcast 0 = not asserted
  private val budgets = Seq(
    ("q_word_count", 2, 0),
    ("q_cosine_topk", 2, 1),          // the one broadcast is the query set
    ("q_ann_lsh_rp", 2, 1),           // corpus never exchanged; probes broadcast
    ("q_ann_ivf", 4, 3),              // centroid set broadcast 3×, never shuffled
    ("q_cogroup_reconcile", 3, 0),
    ("q_dedup_minhash_wide", 4, 0),
    // audit mode recomputes the staged bigram frame per consumer, so its
    // df-cap window shuffle counts once per branch (3×); the staged
    // execution runs it once — 5 is the audit-mode upper bound
    ("q_ngram_jaccard", 5, 2),
    ("q_tfidf", 5, 1),
    ("q_dedup_incremental", 6, 0),    // incidence recomputed per branch in audit mode
    ("q_kmeans_step", 4, 2),          // centroids broadcast to assign + probe
    ("q_join_interval_time", 1, 1),
    ("q_join_pipeline_top", 1, 2),    // TPC-H Q3: both dims must broadcast
    ("q_join_star", 1, 5),            // TPC-H Q5: all five dims must broadcast
    // round-4 additions (audit-mode = staged subtrees recomputed inline)
    ("q_pagerank", 10, 1),            // 5 unrolled iterations over the staged edge list
    // staged audits over the union-find's staged roots
    ("q_dbscan", 5, 2),               // degree agg + border min-label agg +
                                      // label joins; core/border labels
                                      // broadcast (audited 5/3)
    ("q_dedup_semantic", 0, 0),       // one union-find partition: its
                                      // coalesce(1) roots need no sort
                                      // exchange (audited 0/0)
    // round-10 wave: graph metrics + late-interaction + epoch order
    // (r14: modularity/assortativity/reciprocity iterate driver-side over
    // the collected bounded lane matrix — the returned plan is the
    // tradeEdges collect + a LocalTableScan + the presentation sort, so
    // the audited plan of the RETURNED frame has at most the sort
    // exchange and no required broadcasts)
    ("q_modularity", 1, 0),
    ("q_assortativity", 1, 0),
    ("q_reciprocity", 1, 0),
    ("q_maxsim", 2, 1),               // the cosineTopk shape: query set broadcast,
                                      // corpus scanned once, top-k window shuffle
    ("q_maxsim_rerank", 2, 1),        // same, with the bucket equi-join shortlist
                                      // (q_hop_histogram: runtime-round loop, no
                                      // pin — the q_closeness/q_graph_bfs class)
    ("q_maxsim_recall", 3, 4),        // both audited rankings + the hit join;
                                      // exact top-k + per-query exact-count
                                      // broadcasts (ADVICE r10 denominator cap)
    ("q_epoch_shift", 6, 3),          // audit mode re-derives the position frame
                                      // per self-join leg; corpus count broadcast
    ("q_cluster_topics", 11, 6),      // audit mode re-derives assignment + the
                                      // (doc, word) frame per margin branch;
                                      // centroids/margins broadcast
    ("q_media_compare", 9, 7),        // four hash families re-derived per flag
                                      // branch in audit mode; digest-keyed joins
    ("q_minhash_pr", 9, 6),           // audit mode re-derives the estimate frame
                                      // per confusion branch; the sweep itself is
                                      // one row-local explode + aggregate
    ("q_rbo", 3, 3),                  // the two audited rankings + the rank join
                                      // (now BHJ: the codegen'd scorer shrank the
                                      // leg's size estimate); contribution lookup
                                      // is row-local
    ("q_forecast_error", 3, 2),       // the seasonal-naive series plan: hour
                                      // aggregate + type-partitioned lags + reduce
    ("q_epoch_order", 4, 1),          // two-phase bucketed rank (r10 item 2): the
                                      // bucket aggregate + the bucketed sort; ONE
                                      // broadcast, the 256*epochs offset table
                                      // (10 at sf0.001 where AQE skips some reuse; 8 at sf0.01)
    ("q_dsir_weights", 5, 2),         // feature log-ratios broadcast, tf pre-reduced
    ("q_unigram_lm", 5, 2),           // vocabulary + total broadcast, tf pre-reduced
    ("q_heavy_hitters", 2, 0),        // per-lang sketches -> 1-row merge
    ("q_suffix_array", 1, 1),         // SERVED suffix-array scan + the head
                                      // join; the log(maxlen)-round build
                                      // lives in the artifact job (r11)
    ("q_exact_substrings", 6, 8),     // served SA scan + consecutive-rank
                                      // self-join + two doc-words joins +
                                      // threshold aggregate + 1-row total
    ("q_longest_repeat", 2, 4),       // LCP pairs off the served SA + the
                                      // 1-row max broadcast + witness slice
    ("q_span_locate", 3, 4),          // LCP pairs + 1-row max broadcast +
                                      // the distinct union of both pair
                                      // sides + one doc-words span join
    ("q_contamination_exact", 8, 8),  // prev-rank LCP join off the served
                                      // SA + bucketed island prefix sums
                                      // (<=256-row offset broadcast) +
                                      // island-source aggregate + the
                                      // eval-doc-list left join
    ("q_span_mask", 4, 4),            // LCP pairs + per-doc interval-union
                                      // windows + 1-row token total
    ("q_span_enforce", 4, 4),         // same islands front end as
                                      // q_span_mask; the per-doc interval
                                      // collect + indexed-filter cut is
                                      // row-local on the doc_id join
    ("q_sketch_union", 4, 0),         // day sketch agg -> month union rollup
                                      // + ordered output (oracled r11)
    ("q_approx_quantile", 2, 0),      // one GK aggregate + the ordered output
    ("q_scd2_dim", 2, 0),             // one customer-key exchange + final sort
    ("q_inverted_index", 3, 1),       // term shuffle + corpus-size broadcast
    ("q_chunk_overlap", 1, 0),        // pure flatMap; the sort is the only exchange
    ("q_cluster_rep", 1, 1),          // the union-find's bkey exchange; the
                                      // closure is one partition, so the
                                      // label joins need no exchange
    ("q_join_range_binned", 4, 0),    // bin-keyed equi-join (broadcast allowed when
                                      // the window side is small; never required)
    // round-4 robust-stats / corpus-metric additions
    ("q_containment", 5, 2),          // shares the jaccard skeleton: same audit-mode bound
    ("q_ks_drift", 10, 3),            // audit mode re-runs ev per consumer (3×) and
                                      // gaps twice; staged execution runs 2 data shuffles
    ("q_entropy", 3, 0),              // term agg + source agg + presentation sort
    ("q_outlier_mad", 6, 2),          // 2 rank-selection passes (distinct-value
                                      // agg + per-type window each), both
                                      // medians broadcast back; events table
                                      // itself never shuffled
    ("q_winsorize", 3, 1),            // bounds broadcast; events never shuffled
    ("q_mode", 3, 0),                 // value-count agg + flag window + sort
    ("q_correlated_agg", 3, 1),       // decorrelated to one per-part aggregate +
                                      // broadcast join — never a per-row subquery
    // audit mode re-runs each staged survivor frame per consumer; the
    // staged execution materializes exact/good once (8 shuffles at sf0.01)
    ("q_curation_pipeline", 14, 0),
    ("q_bm25", 4, 1),                 // tf/df/doc aggregates + TakeOrdered;
                                      // N/total must broadcast
    ("q_simhash_hamming", 4, 0),      // simhash is row-local (no shuffle);
                                      // block join + nn agg + final sort
    ("q_weighted_sample", 2, 0),      // key is row-local; TopKPerGroup
                                      // partial + final, then the sort
    ("q_source_overlap", 6, 2),       // audit mode recomputes the staged
                                      // incidence per branch (3x distinct);
                                      // per-source totals must broadcast
    // round-5 additions: audit mode unrolls the full 6-pass Lloyd lineage
    ("q_kmeans_train", 27, 6),        // r14 re-audit: the convergence count
                                      // is folded into the staged
                                      // assignment (pcid join), so audit
                                      // mode (stage.disable) sees every
                                      // pass's join lineage inline — more
                                      // AUDITED exchanges, two fewer RUN
                                      // jobs per pass. previously r10 19/7
                                      // after the narrow-
                                      // argmax + co-partitioned means rework:
                                      // audit mode recomputes the staged
                                      // exploded corpus per pass; staged
                                      // execution runs argmax + means + rebuild
                                      // per pass with the ex exchange paid ONCE
                                      // x6 passes; centroids broadcast each pass
    ("q_ann_ivfpq", 6, 5),            // composed IVF probe + ADC scoring:
                                      // centroids/probes/LUT broadcast,
                                      // corpus shuffles on cell + vec_id
                                      // (5 measured + 1 AQE headroom)
    ("q_ann_ivf_served", 4, 3),       // serve-only from the materialized
                                      // quantizer: ZERO training lineage —
                                      // centroids are a k-row parquet scan,
                                      // broadcast into assign + probe
    ("q_pq_adc_served", 4, 2),        // serve-only from materialized PQ
                                      // codes: ZERO encode lineage — codes
                                      // are a parquet scan, codebook feeds
                                      // the broadcast per-query LUT
    ("q_ann_ivfpq_served", 5, 3),     // full serve from all four artifacts
                                      // (centroids/cells/codebook/codes as
                                      // scans); only the query's own probe
                                      // cosines + LUT touch raw vectors
    ("q_ann_ivf_trained", 32, 9),     // r14: same pcid-fold audit-mode
                                      // growth as q_kmeans_train.
                                      // training lineage + IVF serve (assign/
                                      // probe/search broadcasts, cell shuffle);
                                      // r10 +1: audit mode recomputes the
                                      // Lloyd rework's staged vec_id-
                                      // repartitioned exploded corpus inline
    ("q_minhash_est", 7, 6),          // audit mode recomputes the staged sig/
                                      // pair frames per branch; candidate set
                                      // and sizes broadcast into the pair joins
    ("q_dedup_compare", 1, 0),        // served flags artifact (r11): a bare
                                      // parquet scan + ONE map-side-combined
                                      // 1-row aggregate — the six families'
                                      // generation cost lives in the build job
                                      // observed, +1 headroom), so
                                      // the pin carries that 1 of headroom
    // round-6 additions (audit mode recomputes staged frames per branch,
    // so loop/staged queries count their full unrolled lineage here)
    ("q_chisq_drift", 5, 3),          // fact-table agg to k rows (recomputed
                                      // for cells + totals branches); 1-row
                                      // total and chi2 sum broadcast back
    ("q_psi_drift", 5, 3),            // extent + bin-count aggs over the
                                      // staged event frame; 1-row extent and
                                      // totals broadcast into the bin frame
    ("q_split_leakage", 4, 0),        // dedup-band self-join over narrow
                                      // (doc_id, bkey) rows + split-pair agg
                                      // (audited 3 — AQE broadcasts one join
                                      // side — +1 headroom)
    ("q_drift_report", 21, 6),        // r14: the single staged count grid
                                      // replaces the per-monitor stages,
                                      // so audit mode (stage.disable)
                                      // re-derives the grid inline per
                                      // monitor — 2 more AUDITED
                                      // exchanges, 3 fewer RUN jobs.
                                      // composed ks+chisq+psi off one staged
                                      // base scan: audit mode recomputes that
                                      // base per monitor branch, so the full
                                      // unrolled lineage counts 19 — still
                                      // under the sum of its parts' audit
                                      // budgets (5+5+10=20); the staged
                                      // execution reads events ONCE (the
                                      // composition test pins cell-equality,
                                      // this pins no-regression)
    ("q_js_divergence", 4, 4),        // vocab-bounded term self-join; totals
                                      // and shared-pair aggregates broadcast
    ("q_mmr_select", 4, 5),           // retrieve-then-rerank: one corpus
                                      // relevance pass, then K rounds over
                                      // the probes x C retrieval frame whose
                                      // windows reuse the qid exchange; the
                                      // pick frame broadcasts back each round
                                      // (audited 3, +1 AQE/suite headroom)
    ("q_kcenter_init", 1, 8),         // K linear passes, no self-join: each
                                      // round broadcasts its 1-row pick and
                                      // takes a global TakeOrdered top-1; the
                                      // one shuffle is the final rank sort
    // round-7 additions
    // evaluation/statistics additions (audited via PlanAudit at sf0.01;
    // +1 headroom for AQE/suite-order variation)
    ("q_quality_auc", 4, 0),          // (source, value) agg + rank window +
                                      // per-source reduce; docs never wide-shuffled
    ("q_calibration", 5, 1),          // distinct-value agg + bounded window;
                                      // 1-row total broadcast
    ("q_skyline_2d", 4, 1),           // per-size agg + <=50-row window; the
                                      // frontier frame must broadcast back
    ("q_itemsets2", 8, 2),            // distinct baskets + user-keyed pair
                                      // join; singles/total broadcast
    ("q_zorder_key", 4, 1),           // extent broadcast + <=64-tile agg;
                                      // events never shuffled
    ("q_ngram_novelty", 5, 1),        // distinct (source,bigram) + df join +
                                      // per-source reduce
    ("q_dedup_norm", 3, 0),           // digest agg + group-size histogram
    ("q_mutual_info", 6, 2),          // one cell agg; margins reduce from
                                      // cells, scalars broadcast
    ("q_spearman", 7, 1),             // two rank frames + value-keyed joins
                                      // + per-flag power sums
    ("q_cms_freq", 3, 0),             // per-lang 8KiB sketches -> 1-row merge
    ("q_rrf_fusion", 10, 2),          // both audited legs' lineage + one
                                      // bounded (qid,vec_id) fuse agg +
                                      // rank window (audited 9, +1)
    ("q_attribution", 4, 1),          // touch interval join on user_id +
                                      // two per-purchase rank windows
                                      // sharing one exchange + grid agg
    ("q_column_profile", 11, 0),      // five per-column stat aggregates
                                      // (2 exchanges each for the exact
                                      // distinct) unioned to 5 rows
    ("q_fuzzy_join_symdel", 3, 0),    // deletion-key equi-join, never
                                      // all-pairs; levenshtein only on
                                      // candidates (bcast allowed not req'd)
    ("q_ndcg", 6, 3),                 // both audited legs + <=5-rows-per-
                                      // query weighted aggregate
    ("q_cuped", 5, 1),                // per-user split sums + 1-row pooled
                                      // theta broadcast + 2-row arm rollup
                                      // + 2-row presentation sort
    ("q_decompose_daily", 3, 1),      // (type,day,dow) agg + calendar
                                      // trend window + dow agg broadcast
    ("q_changepoint", 3, 0),          // daily agg + per-type candidate
                                      // windows over days
    ("q_hill_tail", 3, 0),            // (type, distinct-value) agg + the
                                      // desc rank window + per-type reduce
    ("q_rfm_segments", 14, 4),        // audit mode recomputes the staged
                                      // per-user frame per boundary branch
                                      // (4x); staged execution runs it once
                                      // + 3 boundary selections + grid
    ("q_heaps_fit", 3, 0),            // (source,term) agg + per-source
                                      // reduce + 1-row regression
    ("q_burstiness", 3, 0),           // (type,day) agg + per-type reduce
                                      // + 5-row sort
    ("q_funnel_latency", 9, 1),       // three keyed step aggregates + the
                                      // distinct-gap rank selection; the
                                      // 2-row median frame broadcasts
    ("q_capture_recapture", 3, 1),    // per-user flags agg + 1-row reduce;
                                      // extent broadcast
    ("q_freshness", 4, 1),            // per-type max + 1-row watermark
                                      // broadcast + 5-row sort
    ("q_path_trigrams", 2, 0),        // per-user window + bounded trigram
                                      // agg + <=|types|^3 rank window
    ("q_markov_attribution", 4, 1),   // journey window + edge agg only: the
                                      // 12-round value iteration runs on
                                      // the driver over the collected
                                      // bounded edge matrix (r14) — the
                                      // presentation tail broadcasts the
                                      // 1-row base/total frames
    ("q_ohlc_bars", 2, 0),            // one (day,type) window partition;
                                      // bar agg reuses it; final sort
    ("q_lag_features", 3, 0),         // daily agg + per-type calendar
                                      // windows + presentation sort
    ("q_target_encode", 2, 1),        // category stats broadcast back on
                                      // the scan; facts never shuffled
                                      // except the presentation sort
    ("q_ab_mde", 3, 0),               // per-user agg + 2-row arm reduce
                                      // + 1-row combine
    ("q_gini", 3, 0),                 // (type,value) agg + distinct-value
                                      // rank window + per-type reduce
    ("q_kaplan_meier", 4, 1),         // per-customer agg + 1-row extent
                                      // bcast + distinct-lifetime windows
    ("q_schema_drift", 11, 1),        // 5 per-column conditional aggs (2
                                      // exact distincts each) + 5-row sort
    ("q_incr_agg", 6, 2),             // base/delta/full keyed aggs + outer
                                      // merge over the |type| state frame
    ("q_join_card_est", 10, 2),       // 2 probe joins + 1-row side stats
                                      // broadcast back
    ("q_neyman_alloc", 4, 2),         // stratum agg + 1-row total/shortfall
                                      // bcasts + bounded rank window
    ("q_jaccard_neighbors", 7, 2),    // capped incidence self-join on c +
                                      // keyed reduce; degrees broadcast
    ("q_media_neardup", 2, 0),        // 3-block equi-join candidates +
                                      // distinct + bounded sort
    ("q_readability", 2, 0),          // scan-local counts, one source agg
    ("q_gap_islands", 4, 2),          // (hour,type) agg + spine anti-grid +
                                      // calendar-bounded island windows
    ("q_rate_limit", 3, 0),           // one user-keyed exchange; RANGE
                                      // window + per-user max share it
    ("q_ab_srm", 3, 0),               // distinct users + one 2-cell reduce
    ("q_degree_dist", 6, 0),          // orderkey join -> distinct pairs ->
                                      // two per-side histograms (audit
                                      // mode recomputes the staged pairs)
    ("q_seasonal_naive", 4, 1),       // (hour,type) agg + calendar-bounded
                                      // lag window; spine/types broadcast
    ("q_sax_symbols", 4, 0),          // (type,hour) agg + <=|types|x24-row
                                      // rank window + word assembly
    ("q_ltv_decile", 9, 2),           // per-user agg + two-phase bucket
                                      // rank; extent/offsets broadcast.
                                      // Audit mode recomputes the staged
                                      // per-user frame in each of its 3
                                      // branches (ext/offs/rank) -> 9;
                                      // the staged execution runs it once
    ("q_bigram_lm", 8, 3),            // tf / bigram-count / history rollups
                                      // (tf recomputed per branch in audit
                                      // mode); c12+c1+V all broadcast back
                                      // (audited 7, +1 headroom)
    ("q_boilerplate", 3, 1),          // distinct-trigram agg + df rollup
                                      // broadcast back + presentation sort
    ("q_quality_rules", 3, 1),        // row-local lengths; (doc, term) agg +
                                      // per-doc stats joined back broadcast
    ("q_embed_drift", 3, 0),          // one (label, dim) aggregate + the
                                      // |labels|-row rollup + sort; corpus
                                      // streamed once, nothing broadcast
    ("q_ann_recall", 6, 4),           // both audited legs' lineage (exact
                                      // top-5 + ADC) + the probes x k
                                      // intersection join (broadcast)
    ("q_pack_greedy", 2, 0),          // ONE shuffle on the packing key,
                                      // then the per-partition fold; the
                                      // second exchange is the final sort
    ("q_pmi_terms", 8, 3),            // (source, term) agg recomputed per
                                      // rollup branch in audit mode;
                                      // term/source/N rollups broadcast
                                      // (audited 7, +1 headroom)
    ("q_time_decay", 3, 1),           // 1-row anchor broadcast; row-local
                                      // decay; |types|-row aggregate + sort
    ("q_cluster_purity", 4, 1),       // centroids broadcast; argmax +
                                      // (cell, label) + cell aggregates
                                      // over narrow rows + final sort
    ("q_mannwhitney", 7, 2),          // staged per-value agg recomputed per
                                      // consumer in audit mode; extent +
                                      // bucket offsets broadcast
                                      // (audited 6, +1 headroom)
    ("q_contingency_assoc", 8, 3),    // (source, lang) cells recomputed per
                                      // margin branch in audit mode; margins
                                      // + totals broadcast onto the grid
                                      // (audited 7, +1 headroom)
    ("q_markov_transition", 5, 1),    // ONE user-partition window exchange;
                                      // transition counts map-side; row
                                      // totals broadcast back
                                      // (audited 4, +1 headroom)
    ("q_triangle_count", 1, 0),       // r14 driver-side enumeration over
                                      // the collected lane matrix: the
                                      // returned frame is a LocalTableScan
                                      // + presentation sort
                                      // (audited 5, +1 headroom)
    ("q_media_ahash", 3, 0),          // hashing row-local; group sizes and
                                      // the dupe join key on the hash only
                                      // (audited 2, +1 headroom)
    ("q_benford", 4, 1),              // one 9-row digit aggregate; total
                                      // broadcast back (audited 3, +1)
    ("q_cusum_drift", 4, 2),          // daily aggregate + day-bounded
                                      // prefix; total + argmax broadcast
                                      // (audited 3, +1 headroom)
    ("q_autocorr", 5, 1),             // (type, day) aggregate + per-type
                                      // lag window; totals broadcast
                                      // (audited 4, +1 headroom)
    ("q_concentration", 3, 0),        // ONE corpus pass; rank window over
                                      // the |sources|-row frame
                                      // (audited 2, +1 headroom)
    ("q_pq_rerank", 6, 4),            // codes scan + ADC agg; LUT,
                                      // shortlist, and probes broadcast —
                                      // vectors only for shortlist rows
                                      // (audited 5, +1 headroom)
    ("q_ab_ttest", 2, 0),             // ONE global aggregate of six power
                                      // sums — no joins, no windows
                                      // (audited 1, +1 headroom)
    ("q_dow_profile", 4, 1),          // 7-row dow aggregate; totals roll
                                      // up from it and broadcast back
                                      // (audited 3, +1 headroom)
    ("q_ppl_filter", 10, 2),          // the LM's tf/vocab aggregates
                                      // recomputed per branch in audit
                                      // mode + the (doc, source) join
                                      // (audited 9, +1 headroom)
    ("q_bpe_merge", 3, 0),            // vocab agg + charset²-bounded pair
                                      // agg + rank (audited 2, +1)
    ("q_rolling_median", 6, 0),       // daily agg recomputed per self-join
                                      // leg in audit mode; ≤7-row rank
                                      // partitions (audited 5, +1)
    ("q_outlier_iqr", 5, 1),          // (type, value) rank selection; the
                                      // 5-row fence frame broadcasts back
                                      // (audited 4, +1 headroom)
    ("q_lang_confusion", 4, 1),       // row-local scoring; ≤|langs|² cell
                                      // agg; row totals broadcast back
                                      // (audited 3, +1 headroom)
    ("q_vocab_coverage", 3, 1),       // vocab agg + TakeOrdered top-1000
                                      // (NO global vocab sort); 1-row
                                      // total broadcast (audited 2, +1)
    ("q_wilson_rate", 3, 0),          // one calendar-bounded aggregate;
                                      // bounds row-local (audited 2, +1)
    ("q_embed_norm", 3, 0),           // row-local norms, one |labels|-row
                                      // aggregate (audited 2, +1)
    ("q_embed_pca", 1, 0),            // r14: the 64-row iterate normalizes
                                      // on the driver (markov discipline),
                                      // so the RETURNED plan is the final
                                      // 64-row local frame + presentation
                                      // sort; the 5 corpus passes run as
                                      // bounded collects outside it.
                                      // previously 5 unrolled passes: per-vec dot agg
                                      // + per-dim sum agg per pass, 64-row
                                      // iterate + 1-row norm broadcast
                                      // back each pass (audited 16, +2)
    ("q_copurchase_pairs", 3, 0),     // order-keyed array agg + pair agg;
                                      // pair gen row-local; top-k is
                                      // TakeOrdered (audited 2, +1)
    ("q_interval_union", 3, 0),       // one user-keyed exchange shared by
                                      // window + agg; final sort
                                      // (audited 2, +1)
    ("q_lateness_audit", 4, 0),       // user-keyed window, |types|-row agg
                                      // (audited 3, +1)
    ("q_l_diversity", 4, 0),          // QI-grid distinct-count aggregate
                                      // (audited 3, +1)
    ("q_trending_parts", 4, 1),       // 1-row max-shipdate broadcast back;
                                      // part-keyed agg; TakeOrdered top-k
                                      // (audited 2, +2)
    ("q_mrr", 4, 1),                  // cosineTopk leg + corpus-keyed
                                      // label join (NOT broadcast) + probe
                                      // agg; probe labels broadcast
                                      // (audited 2 + recompute headroom)
    ("q_retention_curve", 4, 1),      // decile agg; ≤10-row cumulative
                                      // window; 1-row total broadcast
                                      // (audited 3, +1)
    ("q_jaccard_hist", 7, 1),         // ngramJaccard's own audited legs +
                                      // one ≤10-row decile agg (audit mode
                                      // recomputes the staged incidence
                                      // per branch: audited 6, +1)
    ("q_source_datasheet", 5, 0),     // narrow digest-partition window
                                      // (bodies never exchanged) + source
                                      // agg (audited 4, +1)
    ("q_t_closeness", 6, 2),          // three bounded aggregates; lang
                                      // inventory + 1-row total broadcast;
                                      // grid join class×lang (audited 5, +1)
    // round-7 second wave (audited via PlanAudit at sf0.001, +headroom
    // where a staged frame is recomputed per branch in audit mode)
    ("q_anova_f", 3, 0),              // ONE events pass to k rows; all SS
                                      // arithmetic on the k-row frame
                                      // (audited 2, +1 headroom)
    ("q_levene", 5, 1),               // rank-selected medians broadcast
                                      // back, then the shared F machinery
                                      // (audited 4, +1 headroom)
    ("q_emd_drift", 8, 2),            // staged per-value agg recomputed per
                                      // consumer in audit mode; extent +
                                      // bucket offsets broadcast (the
                                      // ksDrift discipline; audited 5, +3
                                      // staging branches)
    ("q_theil_index", 5, 2),          // custkey agg + broadcast dim join +
                                      // segment totals broadcast back
                                      // (audited 4, +1 headroom)
    ("q_weighted_median", 4, 0),      // (flag, qty) agg + 50-value-domain
                                      // rank windows (audited 3, +1)
    ("q_ri_audit", 13, 6),            // seven key-set left joins, all six
                                      // dims broadcast (lower bound); child
                                      // tables scanned once each
    ("q_assoc_rules", 9, 2),          // basket agg + pair agg + support
                                      // joins; supports + N broadcast
                                      // (audit mode recomputes the staged
                                      // distinct per branch; audited 5)
    ("q_dp_count", 2, 0),             // ONE groupBy; noise on the k-row
                                      // released frame
    ("q_silhouette", 8, 1),           // posexplode agg to k·64 centroids
                                      // (broadcast back), per-vec distance
                                      // agg, per-label mean (audit mode
                                      // recomputes the staged explode 2x;
                                      // audited 5, +3)
    ("q_kcore_peel", 18, 6),          // 6 unrolled peel passes x (degree
                                      // agg + 2 keep joins) over the
                                      // staged, monotonically-shrinking
                                      // edge list (audited 18 with
                                      // staging ON — see stagedAudit)
    ("q_ewma_smooth", 6, 1),          // (type, day) aggregate + the causal
                                      // zero-fill grid (days distinct +
                                      // first-day broadcast + left join) +
                                      // windows over the calendar-bounded
                                      // frame (audited 5, +1; r8 grid)
    ("q_rake_keywords", 6, 2),        // tokenize + island windows + vocab-
                                      // bounded word stats broadcast back
                                      // (audited 3, +3 staging branches)
    ("q_geo_grid_knn", 3, 1),         // cell-key equi-join; probes x 9
                                      // broadcast; corpus bucketed once
                                      // (audited 2, +1)
    ("q_simpson_diversity", 4, 0),    // (source, lang) agg + per-source
                                      // reduce + sort (audited 3, +1)
    ("q_term_chi2", 8, 3),            // distinct (doc, lang, word) pass +
                                      // vocab-keyed support join; lang
                                      // totals + N broadcast (audited 6,
                                      // +2 staging branches)
    // rank/agreement wave (audited via PlanAudit at sf0.001 = staged
    // counts; audit mode recomputes staged frames per consumer branch)
    ("q_kruskal_wallis", 12, 2),      // (value,type) + (value) aggs, bucket
                                      // prefix windows, midrank join on
                                      // value; extent + offsets broadcast
    ("q_mann_kendall", 6, 2),        // (type, day) agg; pair grid + tie
                                      // groups + slope-median rank windows
                                      // over the calendar-bounded frame
    ("q_cvm_drift", 8, 3),           // the ksDrift two-phase machinery:
                                      // per-value agg, bucket windows,
                                      // extent/offsets/totals broadcast
    ("q_dedup_kappa", 1, 0),          // = q_dedup_compare's served plan + a
                                      // generator over its 1-row result
    ("q_hellinger", 5, 2),            // vocab-bounded term self-join;
                                      // pair frame + shared sums broadcast
    ("q_friedman", 9, 2),             // (day,type) agg + grid fill + per-day
                                      // midrank windows; types broadcast
    ("q_split_cluster_safe", 3, 4),   // union-find bkey exchange + band
                                      // self-join audit; label/total/cross
                                      // frames broadcast
    // rank/series trio (audited via PlanAudit at sf0.001)
    ("q_kendall_tau", 2, 1),          // ONE staged daily agg; calendar²
                                      // pair join broadcast (audited 1, +1)
    ("q_runs_test", 4, 0),            // (type, day) agg + two lag windows
                                      // + per-type reduce (audited 3, +1)
    ("q_perm_entropy", 4, 1),         // (type, day) agg + lag windows +
                                      // pattern counts; totals broadcast
                                      // (audited 3, +1)
    // round-8 additions (audited via PlanAudit at sf0.001, +1 headroom)
    ("q_bootstrap_ci", 6, 2),         // B-way explode combines map-side to
                                      // |types|·B rows; CI endpoints and
                                      // base stats broadcast back; events
                                      // read once per leg, never shuffled
                                      // (audited 5, +1)
    ("q_llr_terms", 8, 3),            // termChi2's vocab × |langs| shape:
                                      // token/lang/word aggs; totals
                                      // broadcast (audited 7, +1)
    ("q_feature_hash", 4, 0),         // tokenize + 64-bucket agg (distinct
                                      // + count legs) + final sort — width
                                      // constant in vocabulary (audited 3, +1)
    ("q_matryoshka", 6, 1),           // corpus staged once with both norms;
                                      // probes broadcast; two rank windows
                                      // (audit mode recomputes the staged
                                      // cosine frame per ranking branch:
                                      // audited 3 staged / 5 unstaged, +1)
    ("q_join_asof_near", 3, 0),       // ONE tagged-union key shuffle feeds
                                      // both direction windows (the second
                                      // direction costs a sort, not an
                                      // exchange) + final sort (audited 2, +1)
    ("q_zorder_pruning", 10, 1),      // write-path layout simulation: one
                                      // RANGE shuffle per layout (the
                                      // writer's one-time ZORDER shuffle),
                                      // offset/zone-map aggregates, pred +
                                      // offsets broadcasts (staged audit:
                                      // 9/5 observed, +1 headroom)
    // round-9 additions (audited via the spec's own audit mode at
    // sf0.001; +1 headroom unless noted)
    ("q_jarque_bera", 4, 1),          // mean pass + deviation pass, both
                                      // map-side-combined to 5 rows; the
                                      // mean frame broadcasts
    ("q_ljung_box", 6, 1),            // (type, day) agg (recomputed per
                                      // branch in audit mode) + one lag
                                      // window; totals broadcast
    ("q_page_hinkley", 8, 1),         // daily agg + day-bounded prefix +
                                      // running-min windows; total and
                                      // argmax broadcast (cusum shape)
    ("q_knn_classify", 8, 2),         // IVF-cell serve shape: centroids
                                      // broadcast (never the probes), cell
                                      // argmax agg + cid equi-join + top-k
                                      // window + vote agg (4/3 staged;
                                      // audit mode recomputes withNorm per
                                      // branch)
    ("q_sorted_neighborhood", 6, 0),  // per-lang sort window recomputed
                                      // per candidate arm in audit mode;
                                      // candidates linear, no broadcast req
    ("q_cdc_chunks", 10, 0),          // words explode + per-doc windows +
                                      // chunk digest joins; audit mode
                                      // recomputes the staged words/chunk
                                      // frames per consumer
    ("q_lsh_tuning", 3, 0),           // 95-row constant frame: explode +
                                      // per-config window + sort
    ("q_nelson_aalen", 5, 1),         // the KM frame: per-customer agg +
                                      // 1-row extent broadcast + duration-
                                      // bounded windows
    ("q_contrastive_pairs", 7, 0),    // the scored frame's ranking window
                                      // recomputed per role arm in audit
                                      // mode; probes broadcast inside
    ("q_ece", 7, 1),                  // the calibration lineage + a 10-row
                                      // reduce
    ("q_isotonic_fit", 18, 2),        // audit mode recomputes the staged
                                      // 10-row bin frame per branch (pre /
                                      // iSide / output join); staged
                                      // execution runs calibration once
    ("q_avg_precision", 3, 0),        // per-source rank window + keyed agg
    // round-9 additions (audited via graft.PlanAudit at sf0.001, +1
    // headroom on the staged-vs-audit-mode recompute)
    ("q_cohens_d", 3, 1),             // one per-type stats agg; the 5-row
                                      // pair grid broadcast-self-joins
    ("q_conformal", 6, 1),            // train agg broadcast onto the calib
                                      // scan + score tie-block rank windows
    ("q_energy_dist", 8, 3),          // the emdDrift two-phase machinery:
                                      // tie blocks, bucket offsets/totals
                                      // broadcast, partitioned cumsums
    ("q_jl_transform", 1, 1),         // 50-row panel; projections scan-local,
                                      // the pair grid broadcast (re-audited
                                      // r10 after the q4 quantize fix: 1/1)
    ("q_repeated_spans", 2, 0),       // ONE map-side-combined gram count +
                                      // TakeOrdered; no joins, no windows
    ("q_span_coverage", 7, 0),        // gram agg + gram equi-join + doc-
                                      // partitioned island windows (audit
                                      // mode recomputes the staged gram
                                      // frame per branch; 4/2 staged)
    ("q_tost", 2, 0),                 // one 1-row sufficient-stat aggregate
    ("q_curriculum", 5, 2),           // extent + 3-row offsets broadcast,
                                      // ONE phase-partitioned rank window
    ("q_cochran_q", 1, 0),            // served flags scan reduced to one
                                      // stats row
    ("q_dedup_savings", 3, 2),        // served flags x token-count join +
                                      // the 1-row total broadcast
    ("q_bpe_apply", 6, 1),            // pair-count agg + rank + the 20-row
                                      // merge table broadcast onto the
                                      // (source, word) vocab agg; rollup
                                      // (audited 5/1 at sf0.001)
    ("q_embed_outliers", 4, 2),       // centroids broadcast + argmax agg +
                                      // k-row cell stats broadcast back
                                      // (audited 2/1 staged; audit-mode
                                      // headroom for the inlined stage)
    ("q_cluster_sample", 8, 2),       // centroids broadcast onto one corpus
                                      // scan; argmax agg + per-cell rank;
                                      // the k-row quota frame broadcast back
                                      // (audited 6/2 at sf0.001 via PlanAudit
                                      // staged; +2 headroom for audit mode)
    ("q_dedup_report", 8, 2),         // the composed dashboard over the
                                      // SERVED flags scan: compare/rater/
                                      // savings branches re-read the artifact
                                      // — the six families' generation cost
                                      // lives in the build job (audited r11:
                                      // 8/2 with stage.disable)
    ("q_fleiss_kappa", 1, 0),         // same shared rater-stats row
    ("q_mcnemar", 1, 0),              // = q_dedup_kappa's shape: compare
                                      // row + a 15-row generator
    ("q_log_rank", 12, 2),            // per-customer agg + duration-bounded
                                      // (dur x 2 seg) grid windows; extent
                                      // + sizes broadcast
    ("q_wilcoxon", 4, 0),             // (day) agg + tie-group agg + one
                                      // calendar-bounded rank window
                                      // (audited 3; +1 headroom)
    ("q_pacf", 5, 1),                 // = q_ljung_box's lag frame + scalar
                                      // algebra; per-type totals broadcast
    ("q_grubbs", 4, 1),               // = q_jarque_bera's two-pass moment
                                      // shape; mean frame broadcasts
    ("q_woe_iv", 5, 2),               // value-domain window + 10-row bin
                                      // agg; totals broadcast, 10-row
                                      // window for the IV total
    ("q_gains", 5, 2),                // same scored frame + cumulative
                                      // windows over the decile rows
    ("q_label_prop", 1, 0),           // r14 driver-side LPA rounds over
                                      // the collected lane matrix
    ("q_decontaminate", 5, 0),        // gram explode staged; distinct
                                      // gram semi-join; one source agg
    ("q_rouge_overlap", 8, 0),       // audit mode recomputes the staged
                                      // gram/bigram frames per consumer;
                                      // candidate join + clip agg + top-1
    ("q_hampel", 4, 0),               // (type, day) agg + one calendar-
                                      // bounded 5-row array window
    ("q_holt_linear", 6, 1),          // (type, day) agg + grid fill + one
                                      // per-type fold; first-day broadcast
    ("q_kneser_ney", 6, 3),           // bigram table + two rollups; hist/
                                      // pred/types broadcast; TakeOrdered
    ("q_hits", 1, 0),                 // r14 driver-side rounds over the
                                      // collected lane matrix
    ("q_cliff_delta", 7, 2),         // = q_mannwhitney's two-phase rank
                                      // machinery + a 1-row select
    ("q_lorenz", 4, 0),               // (type, value) agg + per-type
                                      // value-domain windows + explode
    ("q_abc_class", 4, 1),            // part revenue agg + part-domain
                                      // prefix window + 3-row class agg;
                                      // total broadcasts
    ("q_mood_median", 4, 1),          // pooled rank selection + the split
                                      // aggregate; 1-row median broadcast
    ("q_two_prop_z", 3, 0),           // per-user conversion agg + 1-row
                                      // arm reduce
    ("q_surv_median", 5, 1),          // = the KM lineage + a 1-row reduce
    ("q_rmst", 5, 1),                 // KM lineage + one duration-bounded
                                      // lag window + 1-row reduce
    ("q_sprt", 3, 0),                 // (day) agg + calendar-bounded
                                      // cumulative window
    ("q_qq_plot", 5, 1),              // (grp, value) agg + per-group
                                      // cumulative windows; decile grid
                                      // broadcast
    ("q_interarrival", 6, 0),         // user-keyed lag window staged;
                                      // audit mode recomputes it per
                                      // consumer (median/p90/base arms)
    ("q_markov_steady", 2, 0),        // r14: the power iteration runs on
                                      // the driver over the collected
                                      // bounded transition grid; the
                                      // returned plan is the 5-row local
                                      // frame + presentation sort
    ("q_hazard_ratio", 12, 2),        // = q_log_rank's shared O/E frame
    ("q_eb_shrink", 4, 1),            // source agg + 1-row prior
                                      // broadcast + row-local shrink
    ("q_cond_entropy", 4, 1),         // bigram table + history rollup
                                      // broadcast + 1-row reduce
    ("q_brier", 4, 1),                // the scored value-domain window
                                      // + a 1-row reduce
    ("q_spc_xbar", 6, 2),             // (day) agg staged; center + s2
                                      // 1-row broadcasts
  )

  budgets.foreach { case (name, maxShuffles, minBcasts) =>
    test(s"$name stays within its exchange budget (<=$maxShuffles shuffles" +
      (if (minBcasts > 0) s", >=$minBcasts broadcasts)" else ")")) {
      var (shuffles, bcasts) = counts(name)
      if (shuffles > maxShuffles || (minBcasts > 0 && bcasts < minBcasts)) {
        // one bounded retry (r12): a REAL plan regression is
        // deterministic and fails both attempts; a loaded box can make
        // AQE demote an SMJ->BJ conversion late enough that the
        // already-materialized shuffle stages stay in the final plan
        // (seen once: q_rbo 5/3 in-suite vs its standalone PlanAudit
        // 3/3), which a second measurement on the same data corrects
        info(s"$name over budget on first attempt " +
          s"($shuffles shuffles, $bcasts broadcasts) — re-measuring once")
        val (s2, b2) = counts(name)
        shuffles = math.min(shuffles, s2)
        bcasts = math.max(bcasts, b2)
      }
      info(s"$name: $shuffles shuffles, $bcasts broadcasts")
      assert(shuffles <= maxShuffles,
        s"$name grew a surprise exchange: $shuffles shuffles > budget $maxShuffles")
      if (minBcasts > 0)
        assert(bcasts >= minBcasts,
          s"$name lost a broadcast: $bcasts < expected $minBcasts — a dimension is being shuffled")
    }
  }
}
