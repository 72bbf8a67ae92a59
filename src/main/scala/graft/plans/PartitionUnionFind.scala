package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Partition-local union-find over a (doc, key) incidence — the custom
  * operator behind [[graft.ops.Dedup.dedupClustersFrom]].
  *
  * Physical shape: the exec requires clustering AND ascending order on
  * the key, so EnsureRequirements inserts one hash exchange on the key
  * (adaptive execution may coalesce it, down to one partition for a small
  * incidence) and a per-partition sort. Every run of equal keys then sits
  * in one partition, contiguous, and one pass unions the docs of each
  * run. The exchange stays in the executed plan, where plan audits and
  * job counts see it.
  *
  * Output: one (doc, root) row per distinct doc the partition saw, where
  * root is the minimum doc of the doc's component WITHIN the partition.
  * A doc whose keys hash to several partitions gets one row from each;
  * joining those roots is the caller's cross-partition step. Rows come
  * out ascending by doc, so the result does not depend on row order
  * within a key run and a retried task emits the same rows.
  */
case class PartitionUnionFindPlan(doc: Attribute, key: Attribute,
                                  root: AttributeReference,
                                  child: LogicalPlan) extends UnaryNode {
  override val output: Seq[Attribute] = Seq(doc, root)
  override def producedAttributes: AttributeSet = AttributeSet(root :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): PartitionUnionFindPlan =
    copy(child = newChild)
}

object PartitionUnionFindStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartitionUnionFindPlan(d, k, r, child) =>
      PartitionUnionFindExec(d, k, r, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PartitionUnionFindExec(doc: Attribute, key: Attribute,
                                  root: AttributeReference,
                                  child: SparkPlan) extends UnaryExecNode {
  override val output: Seq[Attribute] = Seq(doc, root)
  override def producedAttributes: AttributeSet = AttributeSet(root :: Nil)
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(key)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending)))
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(doc, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val docIdx = childOutput.indexWhere(_.exprId == doc.exprId)
    val k = key
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(Seq(k), childOutput)
      val uf = new LongUnionFind
      var runKey: UnsafeRow = null
      var runHead = -1
      rows.foreach { row =>
        val i = uf.add(row.getLong(docIdx))
        val rk = keyOf(row)
        if (runKey != null && rk == runKey) uf.union(runHead, i)
        else { runKey = rk.copy(); runHead = i }
      }
      val proj = UnsafeProjection.create(Array[DataType](LongType, LongType))
      val out = new GenericInternalRow(2)
      uf.idsAscending.iterator.map { id =>
        out.setLong(0, id)
        out.setLong(1, uf.rootOf(id))
        proj(out)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartitionUnionFindExec =
    copy(child = newChild)
}

/** Union-find over long ids in primitive arrays: an open-addressing
  * id → slot table (load ≤ 1/2) and per-slot id and parent arrays, all
  * grown by doubling. Memory is one entry per distinct id added — at
  * most 40 bytes each, plus an 8-byte sorted copy while the rows are
  * emitted, with no boxed keys. Union links the larger
  * root under the smaller, so every root is its component's minimum id;
  * `find` halves paths. */
private[plans] final class LongUnionFind {
  private var ids = new Array[Long](16)
  private var parent = new Array[Int](16)
  private var n = 0
  private var table = Array.fill(32)(-1)

  private def home(id: Long): Int =
    ((id * 0x9E3779B97F4A7C15L) >>> 33).toInt & (table.length - 1)

  private def slotOf(id: Long): Int = {
    var h = home(id)
    while (table(h) >= 0 && ids(table(h)) != id) h = (h + 1) & (table.length - 1)
    h
  }

  /** The slot of `id`, added as its own root if new. */
  def add(id: Long): Int = {
    val h = slotOf(id)
    if (table(h) >= 0) table(h)
    else {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        parent = java.util.Arrays.copyOf(parent, 2 * n)
      }
      ids(n) = id
      parent(n) = n
      table(h) = n
      n += 1
      if (2 * n > table.length) {
        table = Array.fill(2 * table.length)(-1)
        var i = 0
        while (i < n) { table(slotOf(ids(i))) = i; i += 1 }
      }
      n - 1
    }
  }

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
    i
  }

  def union(a: Int, b: Int): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ids(ra) < ids(rb)) parent(rb) = ra
    else if (ra != rb) parent(ra) = rb
  }

  /** The minimum id of `id`'s component; `id` must have been added. */
  def rootOf(id: Long): Long = ids(find(table(slotOf(id))))

  def idsAscending: Array[Long] = {
    val out = java.util.Arrays.copyOf(ids, n)
    java.util.Arrays.sort(out)
    out
  }
}

object PartitionUnionFind {
  /** (doc, root) rows of the partition-local union-find over the rows of
    * `incidence` whose `doc` (a BIGINT) and `key` are both non-NULL — a
    * NULL key joins nothing. Installs the planner strategy on the session
    * (idempotent). */
  def roots(incidence: DataFrame, doc: String, key: String): DataFrame = {
    val spark = incidence.sparkSession
    Bridge.ensureStrategy(spark, PartitionUnionFindStrategy)
    val lp = incidence.where(col(doc).isNotNull && col(key).isNotNull)
      .select(doc, key).queryExecution.analyzed
    val Seq(d, k) = lp.output
    require(d.dataType == LongType,
      s"union-find doc column $doc must be BIGINT, got ${d.dataType.simpleString}")
    Bridge.ofRows(spark, PartitionUnionFindPlan(d, k,
      AttributeReference("root", LongType, nullable = false)(), lp))
  }
}
