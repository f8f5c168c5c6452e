package graft
/** Prints formatted physical plans for representative queries — the
  * plan-quality audit loop (pushdown, pruning, broadcast, codegen). */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q03_shipping_priority", "q06_revenue_forecast")
    val spark = GraftSession.build("graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
