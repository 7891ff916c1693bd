package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import graft.plans.TopKPerKeyNode

/** Physical side of [[graft.plans.TopKPerKeyNode]]. Lives under
  * `org.apache.spark.sql` because the physical-plan surface
  * (`Dataset.ofRows`, `SparkStrategy`, distributions) is `private[sql]` in
  * Spark 4 — the same privileged-package pattern as [[bridge]].
  *
  * Two-phase execution mirroring partial/final aggregation:
  *   partial (map side, any distribution): bounded heap per key per
  *     partition → at most k rows per (key, partition) enter the shuffle;
  *   final (requires ClusteredDistribution on the keys): same heap over
  *     the co-located survivors → exact per-key top-k.
  */
case class TopKPerKeyExec(
    grouping: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(grouping))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupingExprs = grouping
    val order = sortOrder
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    // captured on the DRIVER so the closure ships the value (an object
    // field read on executors would see that JVM's default)
    val maxPartialKeys = TopKPerKeyExec.MaxPartialKeys
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupingExprs, childOutput)
      val better = RowOrdering.create(order, childOutput) // "row a precedes b"
      // heap head = WORST retained row, so head comparison gates admission
      val worstFirst = better.reversed.asInstanceOf[java.util.Comparator[InternalRow]]
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // Streaming output: partial state is BOUNDED — past MaxPartialKeys
      // distinct keys, retained rows are EMITTED downstream and the map
      // restarts, the same memory contract as partial aggregation under
      // pressure. More than k rows per key from the map side is sound;
      // only the final (clustered) stage must be exact, and its working
      // set is its own output (≤ k rows per key), so it needs no valve.
      new Iterator[InternalRow] {
        private var pending: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator[InternalRow]()
        private var done = false
        private def refill(): Unit = {
          while (!pending.hasNext && !done) {
            val batch = new java.util.ArrayList[InternalRow]()
            var flushed = false
            while (!flushed && iter.hasNext) {
              val row = iter.next()
              val key = keyProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                if (isPartial && heaps.size() >= maxPartialKeys) {
                  heaps.values.forEach(h => batch.addAll(h))
                  heaps.clear()
                  flushed = true
                }
                heap = new java.util.PriorityQueue[InternalRow](limit, worstFirst)
                heaps.put(key.copy(), heap)
              }
              if (heap.size < limit) heap.add(row.copy())
              else if (better.compare(row, heap.peek()) < 0) {
                heap.poll(); heap.add(row.copy())
              }
            }
            if (!flushed) { // input exhausted: final drain
              heaps.values.forEach(h => batch.addAll(h))
              heaps.clear()
              done = true
            }
            pending = batch.iterator()
          }
        }
        override def hasNext: Boolean = { refill(); pending.hasNext }
        override def next(): InternalRow = { refill(); pending.next() }
      }
    }, preservesPartitioning = true)
  }
}

object TopKPerKeyExec {
  /** Map-side distinct-key cap before a partial flush (≈ heap entries ×
    * k rows; tune per executor memory). A var so tests can force the
    * flush path at small scale. */
  @volatile var MaxPartialKeys: Int = 1 << 20
}

/** Plans [[TopKPerKeyNode]] as partial→final [[TopKPerKeyExec]]; the
  * EnsureRequirements rule inserts the hash exchange between them from the
  * final stage's ClusteredDistribution requirement. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(grouping, order, k, child) =>
      TopKPerKeyExec(grouping, order, k, partial = false,
        TopKPerKeyExec(grouping, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Public constructor: wrap a frame in the logical top-k node. */
object topk {
  def perKey(df: DataFrame, keys: Seq[String], orderDesc: String,
             tieAsc: String, k: Int): DataFrame = {
    val lp = df.queryExecution.analyzed
    def attr(n: String): Attribute = lp.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"topk.perKey: no column '$n' in [${lp.output.map(_.name).mkString(", ")}]"))
    Dataset.ofRows(df.sparkSession.asInstanceOf[
        org.apache.spark.sql.classic.SparkSession],
      TopKPerKeyNode(keys.map(attr),
        Seq(SortOrder(attr(orderDesc), Descending),
          SortOrder(attr(tieAsc), Ascending)),
        k, lp))
  }
}
