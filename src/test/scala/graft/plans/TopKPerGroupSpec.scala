package graft.plans

import graft.SparkSpec
import graft.ops.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  test("equals the window row_number form on the q15 shape") {
    val orders = graft.Tables.load(spark, sf("sf0.01"), "orders")
    val custom = TopK.topKPerGroup(orders, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val windowed = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("long"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(custom == windowed)
  }

  test("plan contains the custom exec and no Window/Sort over the data") {
    val orders = graft.Tables.load(spark, sf(), "orders")
    val df = TopK.topKPerGroup(orders, Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup")) // nodeName strips the Exec suffix
    assert(!plan.contains("Window"), "must not fall back to a window")
    assert(!plan.contains("Sort "), "no full sort — bounded heaps instead")
  }

  test("GraftExtensions alone plans TopKPerGroup; a session without it " +
      "cannot") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.graft.bridge
    // the node is built by hand, NOT through TopK.topKPerGroup, so the
    // runtime injection never runs in these sessions
    def topK(s: SparkSession) = {
      val df = s.range(10).select((col("id") % 2).as("g"), col("id"))
      bridge.ofRows(s, TopKPerGroup(2, Seq(bridge.expression(df("g"))),
        Seq(SortOrder(bridge.expression(df("id")), Ascending)), "rn",
        bridge.logicalPlan(df)))
    }
    try {
      val withExt = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions).create()
      assert(!withExt.experimental.extraStrategies
        .contains(TopKPerGroupStrategy))
      val out = topK(withExt)
      assert(out.queryExecution.executedPlan.toString
        .contains("TopKPerGroup"))
      assert(out.select("g", "id", "rn").as[(Long, Long, Long)].collect()
        .toSet == Set((0L, 0L, 1L), (0L, 2L, 2L), (1L, 1L, 1L), (1L, 3L, 2L)))
      val bare = SparkSession.builder().create()
      val e = intercept[Throwable](topK(bare).queryExecution.executedPlan)
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("No plan for")), e)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("k larger than group size emits whole groups, ranked") {
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("k", "v")
    val got = TopK.topKPerGroup(df, Seq("k"), Seq(("v", false)), 5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set((1, 20, 1L), (1, 10, 2L), (2, 5, 1L)))
  }
}
