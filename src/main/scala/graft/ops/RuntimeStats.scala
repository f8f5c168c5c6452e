package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime statistics (`lwetl/runtime_statistics.py:41-156`): per-tag
  * execution counts, row counts and wall time, reported like the
  * reference's end-of-run summary. Implemented as a
  * QueryExecutionListener — the Spark-native replacement for the
  * reference's decorator around cursor.execute. */
class RuntimeStats extends QueryExecutionListener {

  case class Tag(execs: LongAdder = new LongAdder,
                 rows: LongAdder = new LongAdder,
                 nanos: LongAdder = new LongAdder)

  private val tags = new ConcurrentHashMap[String, Tag]()

  // session-conf tag (not a thread-local property: listener callbacks
  // run on the listener-bus thread, which doesn't see local properties)
  private def tagOf(qe: QueryExecution): String =
    qe.sparkSession.conf.getOption(RuntimeStats.TagKey).getOrElse("default")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = tags.computeIfAbsent(tagOf(qe), _ => Tag())
    t.execs.increment()
    t.nanos.add(durationNs)
    // output row count when the metric exists on the executed plan
    qe.executedPlan.metrics.get("numOutputRows").foreach(m => t.rows.add(m.value))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
    val t = tags.computeIfAbsent(tagOf(qe), _ => Tag())
    t.execs.increment()
  }

  /** (tag, executions, rows, seconds) — reference report shape. */
  def report(): Seq[(String, Long, Long, Double)] = {
    import scala.jdk.CollectionConverters._
    tags.asScala.toSeq.sortBy(_._1).map { case (k, t) =>
      (k, t.execs.sum(), t.rows.sum(), t.nanos.sum() / 1e9)
    }
  }

  def reset(): Unit = tags.clear()
}

object RuntimeStats {
  /** Session conf key naming the tag subsequent actions count under. */
  val TagKey = "spark.graft.stats.tag"

  /** Install on a session; tag subsequent actions via
    * `spark.conf.set(RuntimeStats.TagKey, ...)`. */
  def install(spark: SparkSession): RuntimeStats = {
    val s = new RuntimeStats
    spark.listenerManager.register(s)
    s
  }
}
