package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase bucketed prefix sums — the recipe behind the engine's ECDF,
  * rank and drift queries, which never sort a whole input in one
  * partition.
  *
  * A running sum over the order (part…, bkt, order…) splits as
  * cum(v) = offset(bucket(v)) + within-bucket cum(v): the per-bucket
  * totals form an offset table of at most (groups × buckets) rows, the
  * only window whose partition spans buckets; it is broadcast back, and
  * the row-level running sum runs per (part…, bkt), so the largest sort
  * partition is one bucket.
  *
  * Preconditions: `order` must be a total order within a bucket, or the
  * sums depend on how ties are broken; the sums are the global running
  * sums over (part…, order…) when `bkt` is monotone in `order` (every row
  * of a lower bucket sorts before every row of a higher one). NULL order
  * keys must be filtered by the caller: Spark sorts them first, DuckDB
  * last (PARITY.md §5).
  */
object Prefix {

  /** `df` plus one column per `(name, term)`: the running sum of `term`
    * over the rows up to and including this one in (part…, bkt, order…)
    * order, restarting at each `part` group. The exclusive sum is
    * `col(name) − term`. Join keys `part :+ bkt` come first in the
    * output, the sums last. */
  def sums(df: DataFrame, part: Seq[String], bkt: String, order: Seq[String],
           terms: (String, Column)*): DataFrame = {
    val keys = part :+ bkt
    val names = terms.map(_._1)
    val totals = terms.map { case (n, t) => sum(t).as(s"__s_$n") }
    // at most (groups × buckets) rows: the only window that orders buckets
    val wb = Window.partitionBy(part.map(col): _*).orderBy(bkt)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = df.groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)
      .select(keys.map(col) ++ names.map { n =>
        (sum(s"__s_$n").over(wb) - col(s"__s_$n")).as(s"__off_$n")
      }: _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms.foldLeft(df.join(broadcast(offs), keys)) { case (acc, (n, t)) =>
      acc.withColumn(n, col(s"__off_$n") + sum(t).over(w))
    }.drop(names.map(n => s"__off_$n"): _*)
  }
}
