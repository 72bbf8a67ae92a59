package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A run of [[Components.of]]: the (id, cluster) labels, the union-find
  * pass's partitions, its cross-partition edges and the label rounds. */
final case class Components(labels: DataFrame, partitions: Int,
                            crossEdges: Long, rounds: Int)

/** The engine's one connected-components operator. */
object Components {

  /** Connected components of an (`id` BIGINT, `key` of any type)
    * incidence: ids that share a key, directly or through a chain of
    * keys, are one component, and cluster = its min id. Rows with a NULL
    * id or key are ignored. An edge list enters as a self row (v, key = v)
    * per vertex, so an isolated vertex keeps its own label, and a row
    * (a, key = b) per edge (a, b).
    *
    * One union-find pass per key-clustered partition
    * ([[graft.plans.PartitionUnionFind]]) yields (id, root) rows, root =
    * the min id of the id's component within the partition, staged once.
    * One partition is the whole closure. Otherwise, with lo = an id's min
    * root, each other root of the id is joined to lo by a cross-partition
    * edge; the label loop ([[minLabelComponents]]) runs over that root
    * graph only, and only when it has an edge, and cluster = label(lo), or
    * lo when no edge touches it. One `[cc] <tag> union-find` line per call
    * gives the partition and edge counts, so a run log shows whether
    * label rounds ran. */
  def of(incidence: DataFrame, id: String, key: String, tag: String): Components = {
    val roots = Ckpt.stage(graft.plans.PartitionUnionFind.roots(incidence, id, key))
    val parts = roots.queryExecution.toRdd.getNumPartitions
    def log(edges: Long): Unit = System.err.println(
      s"[cc] $tag union-find partitions=$parts cross_edges=$edges")
    if (parts <= 1) {
      log(0L)
      // coalesce(1) declares the one partition (SinglePartition), so the
      // final sort and consumers keyed on id or cluster plan no exchange
      Components(roots.coalesce(1).withColumnRenamed("root", "cluster"), parts, 0L, 0)
    } else {
      val perId = Ckpt.stage(roots.groupBy(id)
        .agg(min("root").as("lo"), collect_set("root").as("roots")))
      val edges = Ckpt.stage(perId
        .select(explode(col("roots")).as("src"), col("lo").as("dst"))
        .where(col("src") > col("dst")).distinct())
      val n = edges.count()
      log(n)
      if (n == 0) Components(perId.select(col(id), col("lo").as("cluster")), parts, 0L, 0)
      else {
        val und = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
        val verts = und.select(col("src").as("v")).distinct().withColumn("label", col("v"))
        val (labels, rounds) = minLabelComponents(verts, und, tag)
        Components(perId.join(labels, col("lo") === col("v"), "left")
          .select(col(id), coalesce(col("label"), col("lo")).as("cluster")), parts, n, rounds)
      }
    }
  }

  /** The min-label loop, the Spark twin of the oracle's
    * `Similarity.minLabelCtes`: from base labels (v, label) over
    * undirected (src, dst) edges, each round takes the min over
    * neighbors' labels, then path-halves l ← min(l, l(l)), through
    * [[Fixpoint.labels]]. Every label must be a vertex of `labels0` so the
    * halving self-join resolves; rounds drop from component DIAMETER to
    * ~log(diameter). Private: [[of]] runs it over the cross-partition
    * root graph only, never over a whole graph. */
  private def minLabelComponents(labels0: DataFrame, edges: DataFrame,
                                 tag: String): (DataFrame, Int) =
    // NOTE (r14, measured): do NOT fuse two propagate+halve steps into
    // one staged round — Spark has no common-subexpression reuse across
    // join branches, so the inner step's edge join recomputes once per
    // consumer branch (up to 4×): 6 rounds → 4, but 3.3 s → 4.5 s.
    Fixpoint.labels(labels0, tag) { labels =>
      val nbrMin = edges.join(labels, edges("dst") === labels("v"))
        .groupBy("src").agg(min("label").as("nl"))
      val stepped = labels.join(nbrMin, labels("v") === nbrMin("src"), "left")
        .select(labels("v"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("l1"))
      val ptr = stepped.select(col("v").as("pv"), col("l1").as("pl"))
      stepped.join(ptr, stepped("l1") === ptr("pv"))
        .select(stepped("v"), least(col("l1"), col("pl")).as("label"),
          (least(col("l1"), col("pl")) < col("old")).cast("int").as("chg"))
    }
}
