package graft

import org.scalatest.funsuite.AnyFunSuite

/** Build gate for the broadcast-size discipline (VERDICT round-10
  * item 6): `broadcast(df)` ships df to EVERY executor, so it is safe
  * only when df is bounded by construction — model state (centroids,
  * codebooks, offset tables), 1-row totals, calendar frames, value-domain
  * summaries — or when a data-proportional frame is a DOCUMENTED
  * audit-baseline panel. Every site is pinned below; an edit that adds an
  * unlisted `broadcast(` (or reshapes a listed one) fails this spec and
  * must register the new site after classifying it.
  *
  * The corpus-proportional class, with its rationale (each query's
  * scaladoc carries the per-site version):
  *  - **Stride query panels** (`vec_id % 50/100/200` filters of the
  *    embeddings corpus) in `ops/Similarity.scala` — the brute-force
  *    audit legs (cosineTopk, maxsim family, MMR probes, recall/NDCG
  *    exact legs, centroid seeds at `% 100`). They are O(n/stride) rows
  *    and exist to FALSIFY the serving rungs; the production path for
  *    each is the banded-LSH / IVF / PQ twin whose broadcasts are
  *    k-bounded model state. At 100 TB the audit runs on a sampled
  *    query panel (the scaladocs' stated deployment), never the full
  *    stride set.
  *  - **`q_join_broadcast`'s dimension side** in `ops/Joins.scala` —
  *    the operator's contract IS the broadcast join; its scaladoc
  *    states the small-side size precondition.
  * Everything else pinned here is bounded state: k centroids / PQ
  * codebooks / LUTs, <=buckets-row offset tables, 1-row totals and
  * extents, calendar- or vocabulary-bounded summaries, run-manifest
  * artifacts.
  *
  * The scan is textual (the WindowDisciplineSpec mechanism): it runs in
  * milliseconds and catches the site at build time; the plan-level
  * complement is PlanBudgetSpec's broadcast-exchange budgets.
  */
class BroadcastDisciplineSpec extends AnyFunSuite {

  /** ((file, trimmed source line), occurrence count) for every allowed
    * `broadcast(` call site in src/main. */
  private val allowed: Map[(String, String), Int] = Map(
    // ---- graft/ops/Aggregations.scala
    (("graft/ops/Aggregations.scala", ".crossJoin(broadcast(bounds(\"freq\")))"), 1),
    (("graft/ops/Aggregations.scala", ".crossJoin(broadcast(bounds(\"mon\")))"), 1),
    (("graft/ops/Aggregations.scala", ".crossJoin(broadcast(ext))"), 1),
    (("graft/ops/Aggregations.scala", "li.crossJoin(broadcast(mx))"), 1),
    (("graft/ops/Aggregations.scala", "per.crossJoin(broadcast(bounds(\"rec_days\")))"), 1),
    (("graft/ops/Aggregations.scala", "val bucketed = per.crossJoin(broadcast(ext))"), 1),
    // ---- graft/ops/Curation.scala
    (("graft/ops/Curation.scala", ".crossJoin(broadcast(tot))"), 1),
    (("graft/ops/Curation.scala", ".join(broadcast(coarseResidue), Seq(\"source\", \"lang\", \"b2\"), \"left\")"), 1),
    (("graft/ops/Curation.scala", ".join(broadcast(fine), Seq(\"source\", \"lang\", \"b1\"))"), 2),
    (("graft/ops/Curation.scala", ".join(broadcast(sizes.select(col(\"source\").as(\"s1\"), col(\"n\").as(\"n1\"))), \"s1\")"), 1),
    (("graft/ops/Curation.scala", ".join(broadcast(sizes.select(col(\"source\").as(\"s2\"), col(\"n\").as(\"n2\"))), \"s2\")"), 1),
    (("graft/ops/Curation.scala", ".join(broadcast(targets), \"source\")"), 1),
    (("graft/ops/Curation.scala", "cls.crossJoin(broadcast(gl)).crossJoin(broadcast(tot))"), 1),
    // ---- graft/ops/Dedup.scala
    (("graft/ops/Dedup.scala", ".crossJoin(broadcast(tot))"), 1),
    (("graft/ops/Dedup.scala", ".join(broadcast(sizes.select(col(\"doc_id\").as(\"d1\"), col(\"n\").as(\"n1\"))), \"d1\")"), 1),
    (("graft/ops/Dedup.scala", ".join(broadcast(sizes.select(col(\"doc_id\").as(\"d2\"), col(\"n\").as(\"n2\"))), \"d2\")"), 1),
    // ---- graft/ops/Evaluation.scala
    (("graft/ops/Evaluation.scala", ".crossJoin(broadcast(n))"), 2),
    (("graft/ops/Evaluation.scala", ".crossJoin(broadcast(preds))"), 1),
    (("graft/ops/Evaluation.scala", ".join(broadcast(cnts.select(col(\"pid\").as(\"p2\"), col(\"cnt\").as(\"c2\"))),"), 1),
    (("graft/ops/Evaluation.scala", ".join(broadcast(f),"), 1),
    (("graft/ops/Evaluation.scala", ".join(broadcast(offs), \"pid\")"), 1),
    (("graft/ops/Evaluation.scala", ".join(broadcast(singles.select(col(\"event_type\").as(\"type_a\"), col(\"ns\").as(\"na\"))), \"type_a\")"), 1),
    (("graft/ops/Evaluation.scala", ".join(broadcast(singles.select(col(\"event_type\").as(\"type_b\"), col(\"ns\").as(\"nb\"))), \"type_b\")"), 1),
    (("graft/ops/Evaluation.scala", ".join(broadcast(tr), \"event_type\")"), 1),
    (("graft/ops/Evaluation.scala", "b.crossJoin(broadcast(tot))"), 2),
    (("graft/ops/Evaluation.scala", "bins.join(broadcast(iso), col(\"bin\") === col(\"i\"))"), 1),
    (("graft/ops/Evaluation.scala", "per.crossJoin(broadcast(prior))"), 1),
    (("graft/ops/Evaluation.scala", "val iso = pairs.crossJoin(broadcast(iSide))"), 1),
    (("graft/ops/Evaluation.scala", "val keyed = ev.crossJoin(broadcast(ext))"), 1),
    (("graft/ops/Evaluation.scala", "val keyed = graft.util.Ckpt.stage(ev.crossJoin(broadcast(ext))"), 1),
    (("graft/ops/Evaluation.scala", "val pairs = jSide.crossJoin(broadcast(kSide)).filter(col(\"j\") <= col(\"k\"))"), 1),
    // ---- graft/ops/EventTime.scala
    (("graft/ops/EventTime.scala", ".join(broadcast(med), col(\"step\") === col(\"s2\"))"), 1),
    (("graft/ops/EventTime.scala", ".join(broadcast(stats), col(\"event_type\") === col(\"t\"))"), 1),
    (("graft/ops/EventTime.scala", "counts.join(broadcast(fromTot), \"from_type\")"), 1),
    (("graft/ops/EventTime.scala", "ev.crossJoin(broadcast(anchor))"), 1),
    (("graft/ops/EventTime.scala", "per.crossJoin(broadcast(tot))"), 1),
    (("graft/ops/EventTime.scala", "r.crossJoin(broadcast(r.agg(sum(\"rem_i\").as(\"rtot\"))))"), 1),
    (("graft/ops/EventTime.scala", "trended.join(broadcast(seasonal), Seq(\"event_type\", \"dow\"))"), 1),
    (("graft/ops/EventTime.scala", "val grid = days.crossJoin(broadcast(firstDay))"), 2),
    (("graft/ops/EventTime.scala", "val r = f.filter(col(\"variant\") =!= \"base\").crossJoin(broadcast(base))"), 1),
    (("graft/ops/EventTime.scala", "val series = spine.crossJoin(broadcast(types))"), 2),
    (("graft/ops/EventTime.scala", "val zeros = spine.crossJoin(broadcast(types))"), 1),
    // ---- graft/ops/Graph.scala
    (("graft/ops/Graph.scala", ".crossJoin(broadcast(nOrders))"), 1),
    (("graft/ops/Graph.scala", ".join(broadcast(cust), col(\"o_custkey\") === col(\"c_custkey\"))"), 1),
    (("graft/ops/Graph.scala", ".join(broadcast(deg.withColumnRenamed(\"p\", \"pb\").withColumnRenamed(\"deg\", \"deg_b\")), \"pb\")"), 1),
    (("graft/ops/Graph.scala", ".join(broadcast(supp), col(\"l_suppkey\") === col(\"s_suppkey\"))"), 1),
    (("graft/ops/Graph.scala", ".join(broadcast(supp.select(col(\"p\").as(\"antecedent\"), col(\"n_i\").as(\"n_ante\"))),"), 1),
    (("graft/ops/Graph.scala", ".join(broadcast(supp.select(col(\"p\").as(\"consequent\"), col(\"n_i\").as(\"n_cons\"))),"), 1),
    (("graft/ops/Graph.scala", "co.join(broadcast(deg.withColumnRenamed(\"p\", \"pa\").withColumnRenamed(\"deg\", \"deg_a\")), \"pa\")"), 1),
    // ---- graft/ops/Joins.scala
    (("graft/ops/Joins.scala", ".crossJoin(broadcast(Tables.region(s, d)))"), 1),
    (("graft/ops/Joins.scala", ".join(broadcast(Tables.customer(s, d)"), 1),
    (("graft/ops/Joins.scala", ".join(broadcast(Tables.nation(s, d)), col(\"s_nationkey\") === col(\"n_nationkey\"))"), 2),
    (("graft/ops/Joins.scala", ".join(broadcast(Tables.region(s, d)), col(\"n_regionkey\") === col(\"r_regionkey\"))"), 1),
    (("graft/ops/Joins.scala", ".join(broadcast(Tables.region(s, d).filter(col(\"r_name\") === \"ASIA\")),"), 1),
    (("graft/ops/Joins.scala", ".join(broadcast(Tables.supplier(s, d)),"), 1),
    (("graft/ops/Joins.scala", ".join(broadcast(bands), col(\"l_quantity\") >= col(\"lo\") && col(\"l_quantity\") < col(\"hi\"))"), 1),
    (("graft/ops/Joins.scala", "broadcast(probes).join(pts, Seq(\"cx\", \"cy\"))"), 1),
    // ---- graft/ops/Maintenance.scala
    (("graft/ops/Maintenance.scala", ".join(broadcast(parent.select(col(pk).as(\"__pk\")).distinct()),"), 1),
    (("graft/ops/Maintenance.scala", "per.crossJoin(broadcast(wm))"), 1),
    (("graft/ops/Maintenance.scala", "val ev = Tables.events(s, d).crossJoin(broadcast(ext))"), 1),
    // ---- graft/ops/Partitioning.scala
    (("graft/ops/Partitioning.scala", "graft.Tables.parquet(s, factPath).join(broadcast(dim), key)"), 1),
    // ---- graft/ops/Relational.scala
    (("graft/ops/Relational.scala", ".crossJoin(broadcast(avgPrice))"), 1),
    // ---- graft/ops/ScaleOps.scala
    (("graft/ops/ScaleOps.scala", "ls.crossJoin(broadcast(rs)).crossJoin(broadcast(actual))"), 1),
    (("graft/ops/ScaleOps.scala", "perKey.crossJoin(broadcast(totals))"), 1),
    (("graft/ops/ScaleOps.scala", "val ev = Tables.events(s, d).crossJoin(broadcast(ext))"), 1),
    // ---- graft/ops/Similarity.scala
    (("graft/ops/Similarity.scala", ".crossJoin(broadcast(q))"), 1),
    (("graft/ops/Similarity.scala", ".crossJoin(broadcast(tot))"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(cb), col(\"qsub\") === col(\"csub\"))"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(cellTot), \"cid\")"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(exact),"), 3),
    (("graft/ops/Similarity.scala", ".join(broadcast(exactN), col(\"qid\") === col(\"nqid\"))"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(lab.select(col(\"vec_id\").as(\"qid\"), col(\"label\").as(\"q_label\"))), \"qid\")"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(lut),"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(pqLutOf(sv, cb)),"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(q), col(\"qid\") === col(\"pqid\"))"), 1),
    (("graft/ops/Similarity.scala", ".join(broadcast(quotas), \"cid\")"), 1),
    (("graft/ops/Similarity.scala", "a.join(broadcast(b), col(\"b_vec_id\") > col(\"a_vec_id\"))"), 1),
    (("graft/ops/Similarity.scala", "asg.join(broadcast(stats), \"cid\")"), 1),
    (("graft/ops/Similarity.scala", "assigned.join(broadcast(probes), Seq(\"cid\"))"), 1),
    (("graft/ops/Similarity.scala", "base.join(broadcast(q), col(\"bucket\") === col(\"qb\") && col(\"vec_id\") =!= col(\"qid\"))"), 2),
    (("graft/ops/Similarity.scala", "broadcast(pick.select(col(\"qid\").as(\"pq\"), col(\"vec_id\").as(\"pid\"),"), 1),
    (("graft/ops/Similarity.scala", "cand = once(cand.crossJoin(broadcast("), 1),
    (("graft/ops/Similarity.scala", "codes.join(broadcast(lut),"), 1),
    // nearestCell (cell assignment) and probeCells (2-cell probes): the
    // k seed or trained centroids, bounded model state — every quantizer
    // query and Streams.assignCells broadcasts its centroids only here
    (("graft/ops/Similarity.scala", "n.crossJoin(broadcast(cents))"), 1),
    (("graft/ops/Similarity.scala", "q.crossJoin(broadcast(cents))"), 1),
    (("graft/ops/Similarity.scala", "n.crossJoin(broadcast(q))"), 2),
    (("graft/ops/Similarity.scala", "n.join(broadcast(q), col(\"bucket\") === col(\"qb\") && col(\"vec_id\") =!= col(\"qid\"))"), 1),
    (("graft/ops/Similarity.scala", "n.join(broadcast(short), \"vec_id\")"), 1),
    (("graft/ops/Similarity.scala", "sv.join(broadcast(cb), col(\"sub\") === col(\"csub\"))"), 1),
    (("graft/ops/Similarity.scala", "sv.join(broadcast(pqCodebook(sv)), col(\"sub\") === col(\"csub\"))"), 1),
    (("graft/ops/Similarity.scala", "val cand = assigned.join(broadcast(probes), \"cell\")"), 1),
    (("graft/ops/Similarity.scala", "val d2 = ex.join(broadcast(cent), \"dim\")"), 1),
    (("graft/ops/Similarity.scala", "val j = once(base.crossJoin(broadcast(q))"), 1),
    (("graft/ops/Similarity.scala", "val quotas = sizes.crossJoin(broadcast(nc))"), 1),
    (("graft/ops/Similarity.scala", "var cand = once(base.crossJoin(broadcast(probes))"), 1),
    (("graft/ops/Similarity.scala", "var cand = once(base.crossJoin(broadcast(seed))"), 1),
    // ---- graft/ops/SuffixOps.scala — all bounded state: the 1-row
    // position total, denseRank2's <=256-row bucket-offset table, and
    // the value-domain-bounded token vocabulary ranks
    (("graft/ops/SuffixOps.scala", ".crossJoin(broadcast(tot))"), 2),
    (("graft/ops/SuffixOps.scala", "val attain = pairs.join(broadcast(mx), \"lcp\")"), 1),
    // q_span_locate: the same 1-row corpus-max frame, with the
    // fixture-independence guard inline
    (("graft/ops/SuffixOps.scala", "val attain = pairs.join(broadcast(mx), \"lcp\").filter(col(\"lcp\") > 0)"), 1),
    (("graft/ops/SuffixOps.scala", "ranked.join(broadcast(offs), \"bkt\")"), 1),
    (("graft/ops/SuffixOps.scala", "var r = once(t.join(broadcast(vocab), \"tok\")"), 1),
    // ---- graft/ops/Statistics.scala
    (("graft/ops/Statistics.scala", ".crossJoin(broadcast(ev.agg(sum(\"c1\").as(\"n1\"), sum(\"c2\").as(\"n2\"))))"), 1),
    (("graft/ops/Statistics.scala", ".crossJoin(broadcast(pooled))"), 1),
    (("graft/ops/Statistics.scala", ".crossJoin(broadcast(segs))"), 1),
    (("graft/ops/Statistics.scala", ".crossJoin(broadcast(tot))"), 4),
    (("graft/ops/Statistics.scala", ".join(broadcast(Tables.customer(s, d).select(col(\"c_custkey\"), col(\"c_mktsegment\"))),"), 1),
    (("graft/ops/Statistics.scala", ".join(broadcast(hi), col(\"event_type\") === col(\"t2\"))"), 1),
    (("graft/ops/Statistics.scala", ".join(broadcast(offs), \"bkt\")"), 1),
    (("graft/ops/Statistics.scala", "a.join(broadcast(b), col(\"type_b\") > col(\"type_a\"))"), 1),
    (("graft/ops/Statistics.scala", "base.join(broadcast(lo), \"event_type\")"), 1),
    (("graft/ops/Statistics.scala", "cells.crossJoin(broadcast(tot))"), 1),
    (("graft/ops/Statistics.scala", "cnts.join(broadcast(tot), \"event_type\")"), 1),
    (("graft/ops/Statistics.scala", "counts.crossJoin(broadcast(tot))"), 1),
    (("graft/ops/Statistics.scala", "curve.crossJoin(broadcast(mx))"), 2),
    (("graft/ops/Statistics.scala", "daily.join(broadcast(tt), col(\"event_type\") === col(\"t\"))"), 1),
    (("graft/ops/Statistics.scala", "dev.crossJoin(broadcast(s2))"), 1),
    (("graft/ops/Statistics.scala", "dev.join(broadcast(mad), col(\"event_type\") === col(\"t2\"))"), 1),
    (("graft/ops/Statistics.scala", "docs.join(broadcast(bounds), col(\"source\") === col(\"src\"))"), 1),
    (("graft/ops/Statistics.scala", "ev.crossJoin(broadcast(ext))"), 2),
    (("graft/ops/Statistics.scala", "ev.join(broadcast(f), col(\"event_type\") === col(\"t\"))"), 1),
    (("graft/ops/Statistics.scala", "ev.join(broadcast(med), col(\"event_type\") === col(\"t\"))"), 2),
    (("graft/ops/Statistics.scala", "ev.join(broadcast(mu), col(\"event_type\") === col(\"t\"))"), 1),
    (("graft/ops/Statistics.scala", "gaps.join(broadcast(dmax), Seq(\"n1\", \"n2\"))"), 1),
    (("graft/ops/Statistics.scala", "perBin.crossJoin(broadcast(psi))"), 1),
    (("graft/ops/Statistics.scala", "perType.crossJoin(broadcast(chi2))"), 1),
    (("graft/ops/Statistics.scala", "sc.crossJoin(broadcast(sr)).crossJoin(broadcast(ss))"), 1),
    (("graft/ops/Statistics.scala", "stat.crossJoin(broadcast(sizes))"), 1),
    (("graft/ops/Statistics.scala", "val agg = perType.crossJoin(broadcast(glob))"), 1),
    (("graft/ops/Statistics.scala", "val curve = graft.util.Ckpt.stage(daily.crossJoin(broadcast(tot))"), 2),
    (("graft/ops/Statistics.scala", "val dev = graft.util.Ckpt.stage(daily.crossJoin(broadcast(center))"), 1),
    (("graft/ops/Statistics.scala", "val grid = graft.util.Ckpt.stage(days.crossJoin(broadcast(types))"), 1),
    (("graft/ops/Statistics.scala", "val grid = rw.crossJoin(broadcast(cl))"), 1),
    (("graft/ops/Statistics.scala", "val lagged = daily.join(broadcast(tt), col(\"event_type\") === col(\"t\"))"), 1),
    (("graft/ops/Statistics.scala", "per.crossJoin(broadcast(ext))"), 1),
    (("graft/ops/Statistics.scala", "val per = Tables.events(s, d).crossJoin(broadcast(ext))"), 1),
    (("graft/ops/Statistics.scala", "val perBin = binned.crossJoin(broadcast(tot))"), 1),
    (("graft/ops/Statistics.scala", "val picked = ranked.join(broadcast(ks),"), 1),
    (("graft/ops/Statistics.scala", "val row = ev.crossJoin(broadcast(med))"), 1),
    (("graft/ops/Statistics.scala", "val sums = ev.join(broadcast(mu), col(\"event_type\") === col(\"t\"))"), 1),
    (("graft/ops/Statistics.scala", "val terms = perType.crossJoin(broadcast(glob))"), 1),
    (("graft/ops/Statistics.scala", "x.join(broadcast(t), \"seg\")"), 1),
    // ---- graft/ops/TextAnalysis.scala
    (("graft/ops/TextAnalysis.scala", ".crossJoin(broadcast(n))"), 3),
    (("graft/ops/TextAnalysis.scala", ".crossJoin(broadcast(nd))"), 2),
    (("graft/ops/TextAnalysis.scala", ".crossJoin(broadcast(tot))"), 4),
    (("graft/ops/TextAnalysis.scala", ".crossJoin(broadcast(v))"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(c1), \"w1\")"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(cs), \"source\")"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(ct), \"term\")"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(langTot), \"lang\")"), 2),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(pred), \"w2\")"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(tot.select(col(\"source\").as(\"sa\"), col(\"n\").as(\"na\"))), \"sa\")"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(tot.select(col(\"source\").as(\"sb\"), col(\"n\").as(\"nb\"))), \"sb\")"), 1),
    (("graft/ops/TextAnalysis.scala", ".join(broadcast(wstats), \"word\")"), 1),
    (("graft/ops/TextAnalysis.scala", "c12.join(broadcast(hist), \"w1\")"), 1),
    (("graft/ops/TextAnalysis.scala", "cells.join(broadcast(rowTot), col(\"lang\") === col(\"l\"))"), 1),
    (("graft/ops/TextAnalysis.scala", "pairFrame.join(broadcast(shared), Seq(\"sa\", \"sb\"), \"left\")"), 2),
    (("graft/ops/TextAnalysis.scala", "perDoc.crossJoin(broadcast(tot))"), 1),
    (("graft/ops/TextAnalysis.scala", "tf.join(broadcast(c12), \"bg\")"), 1),
    (("graft/ops/TextAnalysis.scala", "tf.join(broadcast(vocab), \"term\")"), 1),
    (("graft/ops/TextAnalysis.scala", "tri.join(broadcast(tdf), \"g\")"), 1),
    (("graft/ops/TextAnalysis.scala", "val agg = c12.join(broadcast(c1), \"w1\")"), 1),
    (("graft/ops/TextAnalysis.scala", "wf.crossJoin(broadcast(merges))"), 1),
    // ---- graft/ops/TrainingPrep.scala
    (("graft/ops/TrainingPrep.scala", ".crossJoin(broadcast(cross))"), 1),
    (("graft/ops/TrainingPrep.scala", ".crossJoin(broadcast(n))"), 1),
    (("graft/ops/TrainingPrep.scala", ".crossJoin(broadcast(tot))"), 2),
    (("graft/ops/TrainingPrep.scala", ".join(broadcast(cnts.select(col(\"phase\").as(\"p2\"), col(\"cnt\").as(\"c2\"))),"), 1),
    (("graft/ops/TrainingPrep.scala", ".join(broadcast(offs), \"phase\")"), 1),
    (("graft/ops/TrainingPrep.scala", ".join(broadcast(stats.crossJoin(tot).select(col(\"bucket\"), ratio.as(\"lr\"))),"), 1),
    (("graft/ops/TrainingPrep.scala", "ev.join(broadcast(stats), \"event_type\")"), 1),
    (("graft/ops/TrainingPrep.scala", "per.crossJoin(broadcast(tot))"), 1),
    (("graft/ops/TrainingPrep.scala", "quotas.crossJoin(broadcast(short))"), 2),
    (("graft/ops/TrainingPrep.scala", "split.join(broadcast(per), col(\"source\") === col(\"src\"))"), 1),
    (("graft/ops/TrainingPrep.scala", "val phased = graft.util.Ckpt.stage(docs.crossJoin(broadcast(ext))"), 1),
    (("graft/ops/TrainingPrep.scala", "val quotas = per.crossJoin(broadcast(tot))"), 2),
    // ---- graft/util/Prefix.scala — the <= (groups x buckets)-row
    // offset table of every two-phase prefix sum
    (("graft/util/Prefix.scala", "terms.foldLeft(df.join(broadcast(offs), keys)) { case (acc, (n, t)) =>"), 1),
    // ---- graft/streaming/Streams.scala
    (("graft/streaming/Streams.scala", ".join(broadcast(baseline"), 1),
    (("graft/streaming/Streams.scala", ".join(broadcast(baseline.select(col(\"bkt\"), col(\"cnt\").as(\"r2\"))),"), 1),
    (("graft/streaming/Streams.scala", ".join(broadcast(baseline.select(col(\"event_type\"), col(\"cnt\").as(\"o2\"))),"), 1),
    (("graft/streaming/Streams.scala", "events.join(broadcast(stats), \"event_type\")"), 1),
    (("graft/streaming/Streams.scala", "org.apache.spark.sql.functions.broadcast("), 1),
    (("graft/streaming/Streams.scala", "perType.crossJoin(broadcast(chi2))"), 1),
  ).map { case (k, v) => k -> v }

  test("every broadcast() site is enumerated and classified") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.Map.empty[(String, String), Int]
      .withDefaultValue(0)
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val rel = root.relativize(p).toString
        scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().foreach { l =>
          val t = l.trim
          if (t.contains("broadcast(") && !t.startsWith("*") &&
              !t.startsWith("//") && !t.startsWith("/**"))
            found((rel, t)) += 1
        }
      }
    }
    val extra = found.toSeq.filter { case (k, n) => allowed.getOrElse(k, 0) < n }
    val stale = allowed.toSeq.filter { case (k, n) => found(k) < n }
    assert(extra.isEmpty,
      s"NEW broadcast() site(s) — classify (bounded state vs documented " +
        s"audit panel) and register:\n  ${extra.mkString("\n  ")}")
    assert(stale.isEmpty,
      s"allowlist is stale (site removed or reshaped) — prune it:\n  " +
        stale.mkString("\n  "))
  }
}
