package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Everything a workload needs while it runs: the session, the seed,
  * its private scratch directory, the testdata root and the tracer. */
final class Ctx(val spark: SparkSession, val seed: Int, val dir: String,
                val sfDir: String, val cores: Int, val tracer: Tracer) {
  def path(rel: String): String = s"$dir/$rel"
  /** Seed mixed with a stream tag, so independent draws never share a
    * random sequence. */
  def rng(tag: Int): java.util.Random =
    new java.util.Random(seed.toLong * 1000003L + tag)
}

/** Outcome of one build or one serve repetition. `rows` counts the
  * user-visible units the repetition processed; `check`, run outside
  * the timed region, lists every failed correctness check (empty when
  * the outputs are right). */
final case class Outcome(rows: Long, check: () => Seq[String])

/** One benchmark workload: inputs made from the seed, a one-off build
  * and a repeatable serve step. */
trait Workload {
  /** Builds per run; build_s is their median. */
  def buildReps: Int
  /** Untimed warm-up serve repetitions before the timed ones. */
  def warmupReps: Int
  /** Timed serve repetitions per run: a whole cycle of the workload's
    * batches. cpu_s charges build CPU plus this many median serve
    * repetitions. */
  def serveReps: Int
  /** Generate the seeded inputs under ctx.dir. */
  def prepare(ctx: Ctx): Unit
  def build(ctx: Ctx, rep: Int): Outcome
  /** Untimed per-repetition work that belongs to the client, not to
    * the system under test (planting the change set of a round). */
  def beforeServe(ctx: Ctx, rep: Int): Unit = ()
  def serve(ctx: Ctx, rep: Int): Outcome
  /** Extra per-layer metrics only the workload can compute. */
  def layerMetrics(ctx: Ctx, serveReps: Int): Seq[(String, Double, String)] = Nil
  /** Per-layer metrics this workload reports beyond Layers.all. */
  def ownLayers: Seq[(String, String)] = Nil
  /** Confirm clean outputs pass and corrupted ones are rejected;
    * returns (case, as expected?) pairs. */
  def selfTest(ctx: Ctx): Seq[(String, Boolean)]
}

/** Span tracer for the `--trace 1` run. A span's name travels to Spark
  * as a thread-local job property, so a listener can attribute every
  * job, task, shuffle and spill byte to the span that launched it even
  * though listener events arrive late. Spans are kept in memory and
  * written out once, at the end. When disabled every call is a no-op
  * apart from running the body. */
final class Tracer(val enabled: Boolean, spark: SparkSession, cores: Int) {
  private val Prop = "perfbench.span"

  final class SpanRec(val name: String, val startMs: Long) {
    var endMs: Long = -1L
    var gcMs: Long = 0L
  }
  final class Agg {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val shuffleB = new AtomicLong
    val spillB = new AtomicLong; val recordsRead = new AtomicLong
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  // job id -> (span, start ms, end ms)
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong
  private val tasksEnded = new AtomicLong
  // cached/checkpointed RDD blocks: live bytes and their peak per phase
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private val liveBytes = new AtomicLong
  private val peakByPhase = new ConcurrentHashMap[String, AtomicLong]()
  @volatile private var phase: String = ""

  private def agg(span: String): Agg = aggs.computeIfAbsent(span, _ => new Agg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .getOrElse("")
      jobSpan.put(e.jobId, span)
      jobTimes.put(e.jobId, Array(e.time, -1L))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      agg(span).jobs.incrementAndGet()
      started.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobTimes.get(e.jobId)).foreach(_(1) = e.time)
      ended.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasksEnded.incrementAndGet()
      val span = Option(stageSpan.get(e.stageId)).getOrElse("")
      val a = agg(span)
      a.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = Option(blockBytes.put(info.blockId.name, now)).map(_.longValue).getOrElse(0L)
        val live = liveBytes.addAndGet(now - before)
        val p = phase
        if (p.nonEmpty)
          peakByPhase.computeIfAbsent(p, _ => new AtomicLong).accumulateAndGet(live, math.max)
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private var open: List[(SpanRec, Long, String)] = Nil

  @volatile private var muted = false

  /** Whether spans are being recorded now: tracing on and not muted. */
  def active: Boolean = enabled && !muted

  /** Run `body` with every span muted (the serve warm-up). */
  def quiet[T](body: => T): T = {
    muted = true
    phase = ""
    try body finally muted = false
  }

  /** Open span `name` (phases are "build" and "serve"; layer spans are
    * named "<phase>.<layer>.<quantity stem>"); spans nest. */
  def begin(name: String): Unit = if (active) {
    val sc = spark.sparkContext
    if (!name.contains('.')) {
      phase = name
      peakByPhase.computeIfAbsent(name, _ => new AtomicLong).accumulateAndGet(liveBytes.get, math.max)
    }
    open = (new SpanRec(name, System.currentTimeMillis()), gcMs(), sc.getLocalProperty(Prop)) :: open
    sc.setLocalProperty(Prop, name)
  }

  /** Close the innermost open span. */
  def end(): Unit = if (active && open.nonEmpty) {
    val (rec, gc0, outer) = open.head
    open = open.tail
    rec.endMs = System.currentTimeMillis()
    rec.gcMs = gcMs() - gc0
    spark.sparkContext.setLocalProperty(Prop, outer)
    spans += rec
  }

  /** Time `body` as span `name`. */
  def span[T](name: String)(body: => T): T = {
    begin(name)
    try body finally end()
  }

  /** Wait until the listener bus has delivered every job and task end
    * that was started so far (bounded). */
  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    var quietSince = System.currentTimeMillis()
    var lastTasks = -1L
    while (System.currentTimeMillis() < deadline &&
      (started.get != ended.get || System.currentTimeMillis() - quietSince < 300)) {
      val t = tasksEnded.get
      if (t != lastTasks) { lastTasks = t; quietSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  private def within(span: String, phaseName: String): Boolean =
    span == phaseName || span.startsWith(phaseName + ".")

  /** Per-layer metrics. Serve values are per repetition (phase totals
    * divided by `serveReps`); build values are per build. */
  def metrics(buildReps: Int, serveReps: Int): Seq[(String, Double, String)] = {
    drain()
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def per(ph: String): Double = (if (ph == "build") buildReps else serveReps).max(1).toDouble
    for (ph <- Seq("build", "serve")) {
      val recs = spans.filter(_.name == ph)
      val wallMs = recs.map(r => r.endMs - r.startMs).sum.toDouble
      val gc = recs.map(_.gcMs).sum.toDouble
      val as = aggs.asScala.filter { case (k, _) => within(k, ph) }.values
      def sum(f: Agg => AtomicLong) = as.map(a => f(a).get).sum.toDouble
      // wall time of the phase during which no job ran: analysis,
      // planning and driver-side work between jobs
      val intervals = jobSpan.asScala.collect {
        case (j, s) if within(s, ph) => jobTimes.get(j)
      }.filter(t => t != null && t(1) >= 0).map(t => (t(0), t(1))).toSeq.sortBy(_._1)
      val busyMs = recs.map { r =>
        var covered = 0L; var cur = r.startMs
        intervals.foreach { case (s0, e0) =>
          val s = math.max(s0, cur); val e = math.min(e0, r.endMs)
          if (e > s) { covered += e - s; cur = e }
        }
        covered
      }.sum.toDouble
      val n = per(ph)
      val taskS = sum(_.runMs) / 1000.0
      out += ((s"$ph.spark.jobs", sum(_.jobs) / n, "count"))
      out += ((s"$ph.spark.tasks", sum(_.tasks) / n, "count"))
      out += ((s"$ph.spark.shuffle_mb", sum(_.shuffleB) / 1e6 / n, "MB"))
      out += ((s"$ph.spark.spill_mb", sum(_.spillB) / 1e6 / n, "MB"))
      out += ((s"$ph.spark.task_s", taskS / n, "s"))
      out += ((s"$ph.spark.busy_share",
        if (wallMs > 0) taskS / (wallMs / 1000.0 * cores) else 0.0, "share"))
      out += ((s"$ph.spark.driver_gap_s", (wallMs - busyMs) / 1000.0 / n, "s"))
      out += ((s"$ph.jvm.gc_s", gc / 1000.0 / n, "s"))
      out += ((s"$ph.storage.peak_mb",
        Option(peakByPhase.get(ph)).map(_.get).getOrElse(0L) / 1e6, "MB"))
    }
    // layer spans: wall seconds (and job counts for the prep stages),
    // per build / repetition
    (Layers.staged ++ Layers.timed).foreach { full =>
      out += ((full + "_s", spanSeconds(full) / per(full.takeWhile(_ != '.')), "s"))
    }
    Layers.staged.foreach { full =>
      out += ((full + "_jobs", spanJobs(full) / per(full.takeWhile(_ != '.')), "count"))
    }
    out.toSeq
  }

  /** Rows read from storage by the tasks of span `name` (all runs). */
  def recordsRead(name: String): Long = {
    drain()
    Option(aggs.get(name)).map(_.recordsRead.get).getOrElse(0L)
  }

  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(r => r.endMs - r.startMs).sum / 1000.0

  def spanJobs(name: String): Long = Option(aggs.get(name)).map(_.jobs.get).getOrElse(0L)

  /** Every span as JSON lines: name, start, end, gc, jobs, tasks. */
  def dump(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { r =>
      val a = Option(aggs.get(r.name))
      sb ++= s"""{"span":"${r.name}","start_ms":${r.startMs},"end_ms":${r.endMs},""" +
        s""""gc_ms":${r.gcMs},"jobs_total":${a.map(_.jobs.get).getOrElse(0L)},""" +
        s""""tasks_total":${a.map(_.tasks.get).getOrElse(0L)}}""" + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

object Bench {
  /** Input-generation passes per run; setup_s charges the median. */
  val SetupPasses = 3

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  private def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }

  def workload(name: String): Workload = name match {
    case "etl-sync" => EtlSync
    case "prep-daily" => PrepDaily
    case "ann-serve" => AnnServe
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def json(correct: Boolean, attempted: Long, failed: Long,
                   metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts("workload")
    val seed = opts("seed").toInt
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(0.0)
    val trace = opts.getOrElse("trace", "0") == "1"
    val selftest = opts.getOrElse("selftest", "0") == "1"
    val launchNs = opts("launch-ns").toLong
    val dir = opts("dir")
    val cores = opts("cores").toInt
    val w = workload(wname)

    val spark = graft.GraftSession.build(s"perfbench-$wname", s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    // launch -> session up, as the wall clock sees it (JVM start included)
    val sessionS = (System.currentTimeMillis() * 1000000L - launchNs) / 1e9
    val tracer = new Tracer(trace, spark, cores)
    val ctx = new Ctx(spark, seed, dir, opts("sf"), cores, tracer)

    if (selftest) {
      w.prepare(ctx)
      val res = w.selfTest(ctx)
      res.foreach { case (c, ok) => println(s"selftest $wname ${if (ok) "ok  " else "FAIL"}: $c") }
      println(s"RESULT ${if (res.nonEmpty && res.forall(_._2)) "selftest-ok" else "selftest-failed"}")
      spark.stop()
      return
    }

    // setup: launch to ready — JVM and session up, inputs in place. The
    // session starts once per JVM; the inputs are generated SetupPasses
    // times (the same seed gives the same inputs) and the median counts.
    val preps = (0 until SetupPasses).map(_ => timed(w.prepare(ctx))._2)
    val setupS = sessionS + median(preps)
    System.err.println(f"[perfbench] session $sessionS%.3f s, prepare ${preps.map(p => f"$p%.3f").mkString(" ")} s")

    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def failure(e: Throwable): Seq[String] = {
      e.printStackTrace()
      Seq(s"exception: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    def guarded(body: => Outcome): Outcome =
      try body catch { case e: Throwable => val f = failure(e); Outcome(0L, () => f) }
    /** Run the outcome's checks (untimed) and count the operation. */
    def record(o: Outcome): Seq[String] = {
      val p = try o.check() catch { case e: Throwable => failure(e) }
      attempted += 1
      if (p.nonEmpty) { failed += 1; problems ++= p.take(5) }
      p
    }

    val builds = (0 until w.buildReps).map { i =>
      val (o, wall, cpu) = tracer.span("build")(timed(guarded(w.build(ctx, i))))
      val p = record(o)
      System.err.println(f"[perfbench] build $i: $wall%.3f s wall, $cpu%.3f s cpu ${p.mkString("; ")}")
      (wall, cpu)
    }

    // serve: w.warmupReps untimed warm-up repetitions (their outputs are
    // still checked), then at least w.serveReps timed ones, and more
    // while the timed ones have lasted less than `seconds`
    def serveOnce(rep: Int): (Double, Double, Long) = {
      w.beforeServe(ctx, rep)
      val (o, wall, cpu) = tracer.span("serve")(timed(guarded(w.serve(ctx, rep))))
      val p = record(o)
      System.err.println(f"[perfbench] serve $rep: $wall%.3f s wall, $cpu%.3f s cpu, ${o.rows} rows ${p.mkString("; ")}")
      (wall, cpu, o.rows)
    }
    (0 until w.warmupReps).foreach(rep => tracer.quiet(serveOnce(rep)))
    val reps = mutable.ArrayBuffer.empty[(Double, Double, Long)]
    while (reps.length < w.serveReps || reps.map(_._1).sum < seconds)
      reps += serveOnce(w.warmupReps + reps.length)

    val buildS = median(builds.map(_._1))
    val buildCpu = median(builds.map(_._2))
    val repS = median(reps.map(_._1).toSeq)
    val repCpu = median(reps.map(_._2).toSeq)
    val rowsPerRep = median(reps.map(_._3.toDouble).toSeq)
    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("build_s", buildS, "s"),
        ("serve_rows_per_s", rowsPerRep / repS, "rows/s"),
        ("cpu_s", buildCpu + w.serveReps * repCpu, "s"))
      else {
        val got = (tracer.metrics(w.buildReps, reps.length) ++
          w.layerMetrics(ctx, reps.length)).map(m => m._1 -> m).toMap
        val m = (Layers.all ++ w.ownLayers).map { case (n, u) => got.getOrElse(n, (n, 0.0, u)) }
        val traceDir = opts("trace-dir")
        new java.io.File(traceDir).mkdirs()
        tracer.dump(s"$traceDir/$wname-s$seed.spans.jsonl")
        m
      }
    problems.distinct.take(10).foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    spark.stop()
    println("RESULT " + json(failed == 0, attempted, failed, metrics))
  }
}

/** The per-layer metrics of the traced run, in report order. Every
  * workload reports all of `all`; a layer the workload leaves idle
  * reads 0. prep-daily adds its stage metrics (`stagedAll`). */
object Layers {
  /** prep-daily stage spans: wall seconds plus a `_jobs` twin. */
  val prepStages: Seq[String] = Seq("text.policy", "text.badwords", "text.exact",
    "text.scrub", "dedup.near", "text.decontam", "ops.quota", "io.publish")
  val staged: Seq[String] =
    Seq("build", "serve").flatMap(ph => prepStages.map(s => s"$ph.$s"))
  /** Spans reported as wall seconds only. */
  val timed: Seq[String] = Seq("build.config.write", "serve.config.write",
    "serve.config.read", "serve.relational.diff", "serve.sqlrender.render",
    "serve.uploader.exec", "serve.sinks.export", "build.sim.train",
    "build.sim.encode", "build.sim.saveload", "serve.sim.topk")
  /** Quantities a workload computes itself. */
  val extras: Seq[(String, String)] = Seq(
    "serve.uploader.statements" -> "count", "serve.sinks.export_mb" -> "MB",
    "serve.sim.rows_read_per_batch" -> "rows", "serve.sim.recall_at_k" -> "share")
  private val phaseQuantities = Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.task_s" -> "s",
    "spark.busy_share" -> "share", "spark.driver_gap_s" -> "s", "jvm.gc_s" -> "s",
    "storage.peak_mb" -> "MB")
  val all: Seq[(String, String)] =
    Seq("build", "serve").flatMap(ph => phaseQuantities.map { case (q, u) => s"$ph.$q" -> u }) ++
      timed.map(s => s"${s}_s" -> "s") ++ extras
  val stagedAll: Seq[(String, String)] =
    staged.flatMap(s => Seq(s"${s}_s" -> "s", s"${s}_jobs" -> "count"))
}
