package graft.sim

import graft.SparkSpec
import graft.dedup.{SimilarJoin, SimilarityMethod}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge inputs through every ANN batch entry point, recall audit and
  * trainer: a corpus carrying a null vector, a zero-norm vector and a
  * duplicated id; a probe frame carrying a null-vector probe and a
  * zero-norm probe; an empty probe frame; an empty corpus. Each case
  * pins the full outcome — output schema (so each family's empty-result
  * schema is held too) plus every row, or the exception's class and
  * first message line — so a refactor of the shared routing/top-k
  * plumbing cannot move any of them unnoticed. All training uses the
  * default fixed seeds. */
class AnnEdgeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq[(Long, Int, Option[Seq[Float]])](
    (1L, 0, Some(Seq(1.0f, 0.0f, 0.0f, 0.0f))),
    (2L, 0, Some(Seq(0.9f, 0.1f, 0.0f, 0.0f))),
    (3L, 1, Some(Seq(0.0f, 1.0f, 0.0f, 0.0f))),
    (3L, 1, Some(Seq(0.1f, 0.9f, 0.0f, 0.0f))),
    (4L, 1, Some(Seq(0.0f, 0.9f, 0.1f, 0.0f))),
    (5L, 2, Some(Seq(0.0f, 0.0f, 1.0f, 0.0f))),
    (6L, 2, Some(Seq(0.0f, 0.0f, 0.0f, 1.0f))),
    (7L, 2, None),
    (8L, 0, Some(Seq(0.0f, 0.0f, 0.0f, 0.0f))),
    (9L, 1, Some(Seq(0.5f, 0.5f, 0.5f, 0.5f)))).toDF("id", "blk", "vec")

  private lazy val probes = Seq[(Long, Int, Option[Seq[Float]])](
    (100L, 0, Some(Seq(1.0f, 0.0f, 0.0f, 0.1f))),
    (101L, 1, None),
    (102L, 2, Some(Seq(0.0f, 0.0f, 0.0f, 0.0f))),
    (103L, 1, Some(Seq(0.0f, 0.8f, 0.2f, 0.0f)))).toDF("id", "blk", "vec")

  private def noProbes = probes.limit(0)
  private def noCorpus = corpus.limit(0)

  /** Schema plus sorted rows, or the failure's class and first line. */
  private def outcome(df: => DataFrame): String =
    try {
      val d = df
      val schema = d.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(",")
      val rows = d.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.mkString("[", " ", "]")
        case null => "null"
        case x => x.toString
      }.mkString(",")).sorted
      s"$schema | ${rows.mkString(";")}"
    } catch {
      case e: Throwable =>
        val root = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).toSeq.last
        s"ERR ${root.getClass.getSimpleName}: " +
          Option(root.getMessage).getOrElse("").linesIterator.next()
            .split("\\. ").head
    }

  private val misses = scala.collection.mutable.ListBuffer.empty[String]

  /** Records a mismatch (printed with the actual outcome) so one run
    * reports every case of a test, then fails at the test's end. */
  private def check(name: String, got: String, want: String): Unit =
    if (got != want) {
      println(s"PIN $name <<<$got>>>")
      misses += name
    }

  private def pinned(name: String)(body: => Unit): Unit = test(name) {
    misses.clear()
    body
    assert(misses.isEmpty, s"outcomes moved: ${misses.mkString(", ")}")
  }

  private def orErr(c: => String): String =
    try c catch { case e: Throwable => s"ERR ${e.getMessage}" }

  private def req(msg: String) =
    s"ERR IllegalArgumentException: requirement failed: $msg"
  private val pqEmpty = req("pq: empty corpus — no dimension to split")
  private def pqNoProbes(site: String) =
    req(s"$site(probes): no non-null vector — no dimension to split")

  /** The three frame cases every batch entry point runs. */
  private def batchCases(name: String, want: (String, String, String))(
      run: (DataFrame, DataFrame) => DataFrame): Unit = {
    check(s"$name/edge", outcome(run(corpus, probes)), want._1)
    check(s"$name/noProbes", outcome(run(corpus, noProbes)), want._2)
    check(s"$name/noCorpus", outcome(run(noCorpus, probes)), want._3)
  }

  pinned("Similarity.ivfTopKBatch") {
    batchCases("ivfTopKBatch", (
        "pid:bigint,id:bigint,cos_sim:double,rn:bigint | 100,1,0.995037,1;" +
          "100,2,0.988951,2;103,3,0.964209,3;103,3,0.970143,2;" +
          "103,4,0.990992,1",
        "pid:bigint,id:bigint,cos_sim:double,rn:bigint | ",
        "pid:bigint,id:bigint,cos_sim:double,rn:int | ")) { (c, p) =>
      Similarity.ivfTopKBatch(c, "id", "vec", p, "id", "vec",
        nprobe = 2, k = 3, numCells = 3)
    }
  }

  pinned("Quantize.ivfAdcTopKBatch") {
    batchCases("ivfAdcTopKBatch", (
        "probe_id:bigint,rank:bigint,id:bigint,adist:double | 100,1,1,0.009625;" +
          "100,2,2,0.029461;100,3,9,0.913531;103,1,4,0.020164;" +
          "103,2,3,0.059227;103,3,3,0.078453",
        "probe_id:bigint,rank:bigint,id:bigint,adist:double | ",
        "probe_id:bigint,rank:bigint,id:bigint,adist:double | ")) { (c, p) =>
      Quantize.ivfAdcTopKBatch(c, p, "id", "vec", "blk", nprobe = 2, k = 3)
    }
  }

  pinned("Quantize.ivfAdcTopKBatchAuto") {
    batchCases("ivfAdcTopKBatchAuto", (
        "probe_id:bigint,rank:bigint,id:bigint,adist:double | 100,1,1,0.009625;" +
          "100,2,2,0.029461;103,1,4,0.020164;103,2,3,0.059227;" +
          "103,3,3,0.078453",
        "probe_id:bigint,rank:bigint,id:bigint,adist:double | ",
        "probe_id:bigint,rank:bigint,id:bigint,adist:double | ")) { (c, p) =>
      Quantize.ivfAdcTopKBatchAuto(c, p, "id", "vec", nprobe = 2, k = 3,
        numCells = 3)
    }
  }

  pinned("Quantize.adcRecallBatch") {
    batchCases("adcRecallBatch", (
        "probe_id:bigint,n_overlap:bigint | 100,3;102,3;103,3",
        "probe_id:bigint,n_overlap:bigint | ",
        "probe_id:bigint,n_overlap:bigint | ")) { (c, p) =>
      Quantize.adcRecallBatch(c, p, "id", "vec", k = 3)
    }
  }

  pinned("Pq.ivfPqTopKBatchAuto") {
    batchCases("ivfPqTopKBatchAuto", (
        "probe_id:bigint,rank:bigint,id:bigint,pdist:double | 100,1,1,1.01;" +
          "100,2,2,1.01;103,1,4,0.02;103,2,9,0.03;103,3,3,0.06",
        pqNoProbes("Pq.ivfPqTopKBatchAuto"),
        pqEmpty)) { (c, p) =>
      Pq.ivfPqTopKBatchAuto(c, p, "id", "vec", m = 2, ks = 4, nprobe = 2,
        k = 3, numCells = 3)
    }
  }

  pinned("Pq probe check on an all-null probe frame") {
    val nullProbes = probes.filter(col("vec").isNull)
    check("ivfPqTopKBatchAuto/nullProbes", outcome(Pq.ivfPqTopKBatchAuto(
        corpus, nullProbes, "id", "vec", m = 2, ks = 4, nprobe = 2, k = 3,
        numCells = 3)),
      pqNoProbes("Pq.ivfPqTopKBatchAuto"))
  }

  pinned("Pq.pqRecallBatch") {
    batchCases("pqRecallBatch", (
        "probe_id:bigint,n_overlap:bigint | 100,2;102,1;103,2",
        pqNoProbes("Pq.pqRecallBatch"),
        pqEmpty)) { (c, p) =>
      Pq.pqRecallBatch(c, p, "id", "vec", m = 2, ks = 4, k = 3)
    }
  }

  // the two corpus rows with id 3 rank as two rows, each at its own
  // exact distance (0.06 and 0.08 in 2^40 units)
  pinned("IvfPq.topKBatch") {
    batchCases("IvfPq.topKBatch", (
        "probe_id:bigint,rank:bigint,id:bigint,xdist:bigint | 100,1,1,10994990449;" +
          "100,2,2,32985181062;100,3,8,1110506618225;102,1,8,0;" +
          "102,2,2,901598653973;102,3,1,1099511627776;" +
          "103,1,4,21990400328;103,2,3,65970571838;103,3,3,87961181881",
        req("IvfPq.topKBatch(probes): empty frame"),
        req("IvfPq.train: empty corpus"))) { (c, p) =>
      IvfPq.topKBatch(c, p, "id", "vec", kCells = 2, m = 2, ks = 2,
        nprobe = 2, k = 3, refine = 4)
    }
  }

  pinned("IvfPq.recallBatch") {
    batchCases("IvfPq.recallBatch", (
        "probe_id:bigint,n_overlap_adc:bigint,n_overlap:bigint | 100,2,2;" +
          "102,1,2;103,3,3",
        req("IvfPq.recallBatch(probes): empty frame"),
        req("IvfPq.train: empty corpus"))) { (c, p) =>
      IvfPq.recallBatch(c, p, "id", "vec", kCells = 2, m = 2, ks = 2,
        nprobe = 2, k = 3, refine = 4)
    }
  }

  pinned("IvfPq.train and withCodes") {
    def model(c: DataFrame) = {
      val mdl = IvfPq.train(c, "id", "vec", kCells = 2, m = 2, ks = 2)
      (mdl.coarse.map(_.mkString(" ")) ++
        mdl.books.flatten.map(_.mkString(" "))).mkString(";")
    }
    check("IvfPq.train/edge", orErr(model(corpus)),
        "419430 104857 262144 262144;34952 978670 34952 0;" +
          "-13107 -52429;104858 419431;524288 0;-149797 0")
    check("IvfPq.train/noCorpus", orErr(model(noCorpus)),
        "ERR requirement failed: IvfPq.train: empty corpus")
    val mdl = IvfPq.train(corpus, "id", "vec", kCells = 2, m = 2, ks = 2)
    check("IvfPq.withCodes/edge", outcome(IvfPq.withCodes(corpus, "vec", mdl)
      .select(col("id"), col("cell"), col("codes"))),
        "id:bigint,cell:int,codes:array<int> | 1,0,[0 1];2,0,[0 1];" +
          "3,1,[0 1];3,1,[0 1];4,1,[0 1];5,0,[0 0];6,0,[0 1];8,0,[0 1];" +
          "9,0,[1 0]")
    check("IvfPq.withCodes/noCorpus", outcome(IvfPq.withCodes(noCorpus, "vec",
      mdl).select(col("id"), col("cell"), col("codes"))),
        req("IvfPq.withCodes: empty frame"))
  }

  /** `corpus` with row `id`'s vector replaced. */
  private def withVec(df: DataFrame, id: Long, v: Seq[Float]): DataFrame =
    df.withColumn("vec", when(col("id") === id, typedLit(v))
      .otherwise(col("vec")))

  pinned("IvfPq.topKBatch frozen-model checks") {
    val mdl = IvfPq.train(corpus, "id", "vec", kCells = 2, m = 2, ks = 2)
    def run(c: DataFrame, p: DataFrame) = outcome(IvfPq.topKBatch(c, p,
      "id", "vec", kCells = 2, m = 2, ks = 2, nprobe = 2, k = 3, refine = 4,
      model = Some(mdl)))
    def dims(site: String, lo: Int, hi: Int) =
      req(s"$site: frame dims $lo..$hi do not match the model's dim=4 — " +
        "the artifact belongs to a different embedding space")
    val wide = corpus.withColumn("vec",
      concat(col("vec"), typedLit(Seq(0.5f, 0.5f))))
    val ragged = withVec(corpus, 5L, Seq(0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f))
    def overflow(got: String) = "ERR SparkRuntimeException: " +
      s"[USER_RAISED_EXCEPTION] IvfPq: |coordinate| >= ${IvfPq.maxAbsCoord(4)}" +
      " (or NaN) overflows the 2^20 fixed-point distance arithmetic at " +
      s"dim=4 — normalize or rescale embeddings first (got $got) SQLSTATE: P0001"
    val big = Seq(0.0f, 1000.0f, 0.0f, 0.0f)
    val nan = Seq(0.0f, Float.NaN, 0.0f, 0.0f)
    // local frames and repartitioned (non-local) ones take both plans
    // of the dimension check
    for ((tag, f) <- Seq[(String, DataFrame => DataFrame)](
        "local" -> identity, "shuffled" -> (_.repartition(3)))) {
      val n = s"IvfPq.topKBatch/frozen/$tag"
      check(s"$n/noCorpus", run(f(noCorpus), probes),
        req("IvfPq.withCodes: empty frame"))
      check(s"$n/noProbes", run(corpus, f(noProbes)),
        req("IvfPq.topKBatch(probes): empty frame"))
      check(s"$n/wideCorpus", run(f(wide), probes),
        dims("IvfPq.withCodes", 6, 6))
      check(s"$n/wideProbes", run(corpus, f(probes.withColumn("vec",
          concat(col("vec"), typedLit(Seq(0.5f, 0.5f)))))),
        dims("IvfPq.topKBatch(probes)", 6, 6))
      check(s"$n/raggedCorpus", run(f(ragged), probes),
        dims("IvfPq.withCodes", 4, 6))
      check(s"$n/raggedProbes", run(corpus,
          f(withVec(probes, 100L, Seq(1.0f, 0.0f, 0.0f)))),
        dims("IvfPq.topKBatch(probes)", 3, 4))
      check(s"$n/bigCorpus", run(f(withVec(corpus, 4L, big)), probes),
        overflow("1000.0"))
      check(s"$n/nanCorpus", run(f(withVec(corpus, 4L, nan)), probes),
        overflow("NaN"))
      check(s"$n/bigProbe", run(corpus, f(withVec(probes, 103L, big))),
        overflow("1000.0"))
      check(s"$n/nanProbe", run(corpus, f(withVec(probes, 103L, nan))),
        overflow("NaN"))
      check(s"Pq.ivfPqTopKBatchAuto/$tag/raggedCorpus",
        outcome(Pq.ivfPqTopKBatchAuto(f(ragged), probes, "id", "vec",
          m = 2, ks = 4, nprobe = 2, k = 3, numCells = 3)),
        req("pq: ragged vectors (dims 4..6)"))
    }
  }

  pinned("CellIndex.train") {
    def index(c: DataFrame) = {
      val ix = CellIndex.train(c, "id", "vec", numCells = 3)
      ix.centroids.map(_.map(x => f"$x%.6f").mkString(" ")).mkString(";") +
          " | " + ix.radii.map(x => f"$x%.6f").mkString(" ")
    }
    check("CellIndex.train/edge", orErr(index(corpus)),
        "0.146421 0.836594 0.386286 0.359798;" +
          "1.000000 0.000000 0.000000 0.000000;" +
          "0.993884 0.110432 0.000000 0.000000 | 1.202745 0.000000 0.000000")
    check("CellIndex.train/noCorpus", orErr(index(noCorpus)),
        " | ")
  }

  pinned("SimilarJoin embedding sites") {
    val want = Map(
      "similarJoin/edge/auto" ->
        ("id_a:bigint,id_b:bigint,score:double | 1,2,0.993884;1,9,0.5;" +
          "2,9,0.552158;3,4,0.987805;3,4,0.993884;3,9,0.5;3,9,0.552158;" +
          "4,9,0.552158;5,9,0.5;6,9,0.5"),
      "similarJoin/noCorpus/auto" ->
        "id_a:bigint,id_b:bigint,score:double | ",
      "similarJoinAgainst/edge/auto" ->
        ("id_a:bigint,id_b:bigint,score:double | 100,1,0.995037;" +
          "100,2,0.988951;100,9,0.54727;103,3,0.964209;103,3,0.970143;" +
          "103,4,0.990992;103,9,0.606339"),
      "similarJoinAgainst/noProbes/auto" ->
        "id_a:bigint,id_b:bigint,score:double | ",
      "similarJoinAgainst/noCorpus/auto" ->
        "id_a:bigint,id_b:bigint,score:double | ",
      "similarJoin/edge/blocked" ->
        ("id_a:bigint,id_b:bigint,score:double | 1,2,0.993884;" +
          "3,4,0.987805;3,4,0.993884;3,9,0.5;3,9,0.552158;4,9,0.552158"),
      "similarJoin/noCorpus/blocked" ->
        "id_a:bigint,id_b:bigint,score:double | ",
      "similarJoinAgainst/edge/blocked" ->
        ("id_a:bigint,id_b:bigint,score:double | 100,1,0.995037;" +
          "100,2,0.988951;103,3,0.964209;103,3,0.970143;103,4,0.990992;" +
          "103,9,0.606339"),
      "similarJoinAgainst/noProbes/blocked" ->
        "id_a:bigint,id_b:bigint,score:double | ",
      "similarJoinAgainst/noCorpus/blocked" ->
        "id_a:bigint,id_b:bigint,score:double | ")
    val auto = SimilarityMethod.EmbeddingCosine(0.5, numCells = 3)
    val blocked = SimilarityMethod.EmbeddingCosine("blk", 0.5)
    for ((tag, m) <- Seq("auto" -> auto, "blocked" -> blocked)) {
      def pin(site: String, got: => DataFrame): Unit = {
        val name = s"$site/$tag"
        check(name, outcome(got), want(name))
      }
      pin("similarJoin/edge", SimilarJoin.similarJoin(corpus, "id", "vec", m))
      pin("similarJoin/noCorpus",
        SimilarJoin.similarJoin(noCorpus, "id", "vec", m))
      pin("similarJoinAgainst/edge",
        SimilarJoin.similarJoinAgainst(probes, corpus, "id", "vec", m))
      pin("similarJoinAgainst/noProbes",
        SimilarJoin.similarJoinAgainst(noProbes, corpus, "id", "vec", m))
      pin("similarJoinAgainst/noCorpus",
        SimilarJoin.similarJoinAgainst(probes, noCorpus, "id", "vec", m))
    }
  }
}
