package graft.ops

import graft.plans.{TopKPerGroup, TopKPerGroupStrategy}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.graft.bridge

/** DataFrame API over the custom [[graft.plans.TopKPerGroup]] operator:
  * top-k rows per group with a rank column, computed with bounded
  * per-key heaps instead of the window form's full per-partition sort.
  * Equivalent to
  * `row_number().over(Window.partitionBy(keys).orderBy(ord)) <= k`
  * when the ordering is total (supply tie-breakers, as with any
  * deterministic window). */
object TopK {

  /** (column, ascending) ordering spec. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderCols: Seq[(String, Boolean)], k: Int,
                   rankName: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    // idempotent strategy injection: GraftExtensions plans the node in
    // sessions built with it; this covers sessions built without it
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    val child = bridge.logicalPlan(df)
    val group = groupCols.map(c => bridge.expression(df(c)))
    val order = orderCols.map { case (c, asc) =>
      SortOrder(bridge.expression(df(c)), if (asc) Ascending else Descending)
    }
    bridge.ofRows(spark, TopKPerGroup(k, group, order, rankName, child))
  }
}
