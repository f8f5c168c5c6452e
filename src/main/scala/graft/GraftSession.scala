package graft

import org.apache.spark.sql.SparkSession

/** One-call session builder with graft's recommended configuration:
  * native functions registered, AQE on (with skew-join handling),
  * UTC session time, shuffle parallelism matched to cores. The entry
  * point a user of the reference library starts from. */
object GraftSession {

  /** The default master: `local[n]` with n from `SPARK_GRAFT_CPUS` when
    * it is set, else one thread per available processor. */
  def defaultMaster(env: Map[String, String] = sys.env,
                    processors: Int = Runtime.getRuntime.availableProcessors): String =
    s"local[${env.getOrElse("SPARK_GRAFT_CPUS", processors.toString)}]"

  def build(appName: String = "graft",
            master: String = defaultMaster(),
            shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = master match {
      case m if m.startsWith("local[") && m.endsWith("]") =>
        m.stripPrefix("local[").stripSuffix("]") match {
          case "*" => Runtime.getRuntime.availableProcessors
          case n => scala.util.Try(n.toInt)
            .getOrElse(Runtime.getRuntime.availableProcessors)
        }
      case _ => 200 // cluster default; caller overrides via shufflePartitions
    }
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    functions.GraftExtensions.registerAll(spark)
    spark
  }
}
