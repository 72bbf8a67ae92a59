package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver loop of the engine's min-label propagation,
  * [[graft.ops.Similarity.minLabelComponents]] (behind `q_dbscan`,
  * `q_dedup_semantic` and the cross-partition edges of
  * [[graft.ops.Dedup.closure]]). The driver holds only two counts per
  * round, never data.
  *
  * The cap comes from the input, not a constant: labels only decrease,
  * and each round carries every label at least one hop further, so a map
  * of n rows settles by round n. A round ≥ n that still changes labels
  * throws instead of returning unconverged labels.
  */
object Fixpoint {

  /** Runs `step` from `init` until no label changes. `step` maps the
    * current labels to the next labels plus an int `chg` column (1 where
    * the label changed). Each round stages `step(labels)`, counts changed
    * labels and rows in one job over the staged rows, prints `[cc] <tag>
    * round r changed=c` and drops `chg`. Returns the settled labels and
    * the rounds run. */
  def labels(init: DataFrame, tag: String)(step: DataFrame => DataFrame)
      : (DataFrame, Int) = {
    var labels = init
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      val next = Ckpt.stage(step(labels))
      val (c, n) = changedAndRows(next)
      changed = c
      System.err.println(s"[cc] $tag round $round changed=$changed")
      if (changed > 0 && round >= n)
        throw new IllegalStateException(s"[cc] $tag: $changed labels still " +
          s"changed in round $round of a $n-row label map, which settles " +
          s"by round $n; the step does not converge")
      labels = next.drop("chg")
    }
    (labels, round)
  }

  /** (sum of `chg`, row count) of a staged round in one job, with no
    * shuffle: one (changed, rows) pair per partition, folded on the
    * driver. A job takes each partition's result once, so a retried task
    * cannot count twice, as it could through an accumulator. A null `chg`
    * counts as 0. */
  private def changedAndRows(next: DataFrame): (Long, Long) =
    next.select(coalesce(col("chg").cast("long"), lit(0L)))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        var c = 0L
        var n = 0L
        rows.foreach { r => c += r.getLong(0); n += 1 }
        Iterator.single((c, n))
      }
      .fold((0L, 0L)) { case ((c1, n1), (c2, n2)) => (c1 + c2, n1 + n2) }
}
