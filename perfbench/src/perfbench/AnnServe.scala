package perfbench

import graft.sim.IvfPq
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ann-serve: train once, query many. The corpus is made from the sf0.1
  * embeddings by seeded perturbation; build trains an IVF-PQ model,
  * codes the corpus, saves the model and loads it back; serve answers
  * fixed-size probe batches through IvfPq.topKBatch with the frozen
  * model. */
object AnnServe extends Workload {
  /** sf0.1 embeddings (of 2,000) the corpus is made from, a seeded
    * choice, and perturbed copies of each. */
  val BaseVectors = 1000
  val CopiesPerBase = 8
  /** Per-coordinate Gaussian noise before re-normalizing to unit length. */
  val Noise = 0.03
  val Batches = 3
  val ProbesPerBatch = 100
  /** Probes per batch whose answers are compared with brute force. */
  val RecallSample = 50
  val KCells = 64; val M = 8; val Ks = 64; val NProbe = 16; val K = 10; val Refine = 50
  /** Mean recall@K the sampled probes must reach. */
  val RecallFloor = 0.75
  val ProbeIdBase = 1000000000L
  val buildReps = 3
  val warmupReps = 1
  val serveReps = 3

  private var corpusVecs: Array[Array[Float]] = Array.empty
  private var batches: IndexedSeq[(DataFrame, Array[(Long, Array[Float])])] = IndexedSeq.empty
  private val truths = scala.collection.mutable.Map.empty[Int, Map[Long, Set[Long]]]
  private var model: IvfPq.Model = _
  private var recalls = Vector.empty[Double]

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def perturb(base: Array[Float], rnd: java.util.Random): Array[Float] = {
    val v = base.map(x => x + Noise * rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def frame(ctx: Ctx, rows: Seq[(Long, Array[Float])]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v.toSeq) }: _*), schema)

  private def corpus(ctx: Ctx): DataFrame = ctx.spark.read.parquet(ctx.path("ann/corpus"))

  /** Exact top-k corpus ids by squared L2 in double precision (lower id
    * wins a tie), computed on the driver apart from the program. */
  private def bruteTopK(q: Array[Float], k: Int): Set[Long] = {
    val best = Array.fill(k)(Double.PositiveInfinity)
    val ids = Array.fill(k)(-1L)
    var i = 0
    while (i < corpusVecs.length) {
      val c = corpusVecs(i); var s = 0.0; var j = 0
      while (j < c.length) { val t = c(j).toDouble - q(j); s += t * t; j += 1 }
      if (s < best(k - 1)) {
        var p = k - 1
        while (p > 0 && best(p - 1) > s) { best(p) = best(p - 1); ids(p) = ids(p - 1); p -= 1 }
        best(p) = s; ids(p) = i.toLong
      }
      i += 1
    }
    ids.toSet
  }

  /** Sampled probe id -> exact top-K corpus ids of batch `b`, computed
    * the first time a check needs it (outside every timed region). */
  private def truth(b: Int): Map[Long, Set[Long]] =
    truths.getOrElseUpdate(b,
      batches(b)._2.take(RecallSample).map { case (id, v) => id -> bruteTopK(v, K) }.toMap)

  def prepare(ctx: Ctx): Unit = {
    val all = graft.Tables.load(ctx.spark, ctx.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).toArray)
    val bases = scala.util.Random.javaRandomToRandom(ctx.rng(3)).shuffle(all.toVector)
      .take(BaseVectors).toArray
    val rnd = ctx.rng(1)
    corpusVecs = (for (b <- bases; _ <- 0 until CopiesPerBase) yield perturb(b, rnd))
    frame(ctx, corpusVecs.indices.map(i => (i.toLong, corpusVecs(i))))
      .repartition(ctx.cores).write.mode("overwrite").parquet(ctx.path("ann/corpus"))
    val prnd = ctx.rng(2)
    batches = (0 until Batches).map { b =>
      val ps = (0 until ProbesPerBatch).map { i =>
        (ProbeIdBase + b * ProbesPerBatch + i, perturb(bases(prnd.nextInt(bases.length)), prnd))
      }.toArray
      (frame(ctx, ps.toSeq), ps)
    }
  }

  def build(ctx: Ctx, rep: Int): Outcome = {
    val t = ctx.tracer
    val c = corpus(ctx)
    val trained = t.span("build.sim.train")(IvfPq.train(c, "id", "vec", KCells, M, Ks))
    val codesPath = ctx.path("ann/codes")
    t.span("build.sim.encode")(IvfPq.withCodes(c, "vec", trained)
      .select("id", "cell", "codes").write.mode("overwrite").parquet(codesPath))
    val modelPath = ctx.path("ann/model")
    val loaded = t.span("build.sim.saveload") {
      trained.save(ctx.spark, modelPath)
      IvfPq.loadModel(ctx.spark, modelPath)
    }
    model = loaded
    Outcome(corpusVecs.length.toLong, () => verifyBuild(ctx, trained, loaded, codesPath))
  }

  private def verifyBuild(ctx: Ctx, trained: IvfPq.Model, loaded: IvfPq.Model,
                          codesPath: String): Seq[String] = {
    val same = trained.coarse.map(_.toSeq).toSeq == loaded.coarse.map(_.toSeq).toSeq &&
      trained.books.map(_.map(_.toSeq).toSeq).toSeq == loaded.books.map(_.map(_.toSeq).toSeq).toSeq
    val codes = ctx.spark.read.parquet(codesPath).collect()
    val ids = codes.map(_.getLong(0)).toSet
    val badCode = codes.exists { r =>
      val cell = r.getInt(1); val cs = r.getSeq[Int](2)
      cell < 0 || cell >= KCells || cs.length != M || cs.exists(x => x < 0 || x >= Ks)
    }
    (if (!same) Seq("loaded model differs from the trained one") else Nil) ++
      (if (ids != corpusVecs.indices.map(_.toLong).toSet) Seq(s"codes cover ${ids.size} ids, corpus ${corpusVecs.length}") else Nil) ++
      (if (badCode) Seq("a code lies outside the model's cells or codebooks") else Nil)
  }

  private def answer(r: Row): (Long, Int, Long, Long) =
    (r.getLong(0), r.getAs[Number](1).intValue, r.getLong(2), r.getAs[Number](3).longValue)

  def serve(ctx: Ctx, rep: Int): Outcome = {
    val b = rep % Batches
    val ans = ctx.tracer.span("serve.sim.topk")(
      IvfPq.topKBatch(corpus(ctx), batches(b)._1, "id", "vec", KCells, M, Ks, NProbe, K, Refine,
        model = Some(model)).collect())
      .map(answer)
    Outcome(ProbesPerBatch.toLong, () => {
      val (p, recall) = verify(b, ans)
      if (ctx.tracer.active) recalls :+= recall
      p
    })
  }

  /** Every probe gets ranks 1..K, corpus ids and non-decreasing
    * distances; the sampled probes reach the recall floor. */
  private def verify(b: Int, ans: Array[(Long, Int, Long, Long)]): (Seq[String], Double) = {
    val byProbe = ans.groupBy(_._1)
    val probes = batches(b)._2.map(_._1)
    val shape = probes.flatMap { p =>
      val rs = byProbe.getOrElse(p, Array.empty).sortBy(_._2)
      if (rs.map(_._2).toSeq != (1 to K)) Seq(s"probe $p ranks ${rs.map(_._2).mkString(",")}")
      else if (rs.exists(r => r._3 < 0 || r._3 >= corpusVecs.length)) Seq(s"probe $p answers a non-corpus id")
      else if (rs.sliding(2).exists(w => w.length == 2 && w(1)._4 < w(0)._4)) Seq(s"probe $p distances decrease")
      else Nil
    }
    val extra = byProbe.keySet -- probes
    val recall = truth(b).map { case (p, want) =>
      byProbe.getOrElse(p, Array.empty).count(r => want.contains(r._3)).toDouble / K
    }.sum / truth(b).size
    val low = if (recall < RecallFloor) Seq(f"recall@$K $recall%.3f below the floor $RecallFloor") else Nil
    (shape.take(5).toSeq ++ (if (extra.nonEmpty) Seq(s"answers for unknown probes $extra") else Nil) ++ low,
      recall)
  }

  override def layerMetrics(ctx: Ctx, serveReps: Int): Seq[(String, Double, String)] = Seq(
    ("serve.sim.rows_read_per_batch",
      ctx.tracer.recordsRead("serve.sim.topk").toDouble / serveReps, "rows"),
    ("serve.sim.recall_at_k", if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length, "share"))

  def selfTest(ctx: Ctx): Seq[(String, Boolean)] = {
    build(ctx, 0)
    val ans = IvfPq.topKBatch(corpus(ctx), batches(0)._1, "id", "vec", KCells, M, Ks, NProbe, K,
      Refine, model = Some(model)).collect()
      .map(answer)
    val clean = verify(0, ans)._1.isEmpty
    val dropped = verify(0, ans.tail)._1.nonEmpty
    val swapped = verify(0, ans.updated(0, ans(0).copy(_3 = corpusVecs.length.toLong + 7)))._1.nonEmpty
    // every sampled probe answered with the neighbours of another probe
    val sampled = truth(0).keySet
    val others = ans.filter(a => !sampled.contains(a._1)).groupBy(_._1).values.head
    val wrong = ans.filterNot(a => sampled.contains(a._1)) ++
      sampled.toSeq.flatMap(p => others.map(o => o.copy(_1 = p)))
    val lowRecall = verify(0, wrong)._1.exists(_.startsWith("recall"))
    Seq(("ann-serve clean answers pass", clean), ("ann-serve answer with one row dropped", dropped),
      ("ann-serve answer with one id swapped out of the corpus", swapped),
      ("ann-serve answers of the wrong neighbourhood (recall floor)", lowRecall))
  }
}
