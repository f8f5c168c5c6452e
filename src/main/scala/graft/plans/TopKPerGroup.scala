package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan: top-k rows per group with rank — the
  * `row_number().over(partitionBy(key).orderBy(ord)) <= k` shape
  * (q15) WITHOUT a full per-partition sort.
  *
  * The window form sorts every partition in full (O(n log n) over ALL
  * rows, spilling at scale) just to discard everything past rank k.
  * This operator keeps a bounded k-heap per key: O(n log k) with k·keys
  * memory per partition — the asymptotic win that matters when k=3 and
  * a key holds millions of rows. Registered via SparkSessionExtensions
  * (strategy injection); the DataFrame-facing API is
  * [[graft.ops.TopK.topKPerGroup]].
  */
case class TopKPerGroup(k: Int, groupBy: Seq[Expression], order: Seq[SortOrder],
                        rankAttr: Attribute, child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroup {
  /** Build with a fresh, stable rank attribute (exprId survives node
    * copies — output attributes must NOT be re-derived per copy). */
  def apply(k: Int, groupBy: Seq[Expression], order: Seq[SortOrder],
            rankName: String, child: LogicalPlan): TopKPerGroup =
    TopKPerGroup(k, groupBy, order,
      AttributeReference(rankName, LongType, nullable = false)(), child)
}

case class TopKPerGroupExec(k: Int, groupBy: Seq[Expression], order: Seq[SortOrder],
                            rankAttr: Attribute, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  /** Rows of one key must be co-located — Catalyst inserts the hash
    * exchange (or reuses an existing one) to satisfy this. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(groupBy))

  /** Each partition's output is a subset of its input rows, so the
    * child's partitioning holds: a second top-k on the same key (a
    * shortlist re-ranked) needs no second exchange. */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groupExprs = groupBy
    val sortOrder = order
    val kk = k
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val rowOrd = new LazilyGeneratedOrdering(sortOrder, childOutput)
      // per key: bounded heap of the current best k rows (worst on top)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      while (it.hasNext) {
        val row = it.next().asInstanceOf[UnsafeRow]
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](kk + 1,
            rowOrd.reverse.asInstanceOf[java.util.Comparator[UnsafeRow]])
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (rowOrd.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      val joiner = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val join = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val out = UnsafeProjection.create(
        (childOutput :+ rankAttr).map(_.asInstanceOf[Expression]),
        childOutput :+ rankAttr)
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap { heap =>
        val rows = new Array[UnsafeRow](heap.size)
        var i = heap.size - 1
        while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // heap pops worst-first
        rows.iterator.zipWithIndex.map { case (r, idx) =>
          joiner.update(0, (idx + 1).toLong)
          out(join(r, joiner))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Planner strategy turning the logical node into the exec. */
object TopKPerGroupStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroup =>
      TopKPerGroupExec(t.k, t.groupBy, t.order, t.rankAttr, planLater(t.child)) :: Nil
    case _ => Nil
  }
}
