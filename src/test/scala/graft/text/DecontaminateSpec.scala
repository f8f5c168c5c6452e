package graft.text

import graft.SparkSpec

/** Decontaminate.contaminationReport / decontaminate — hand-computed
  * n-gram overlap on a tiny corpus; the q82 gate pins the full report
  * against the DuckDB oracle at sf0.01/sf0.1. */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // benchmark: "the quick brown fox" -> 3-grams {the quick brown,
  // quick brown fox}
  private val bench = Seq((100L, "The quick brown fox")).toDF("id", "text")

  private val corpus = Seq(
    (1L, "a very quick brown fox ran off"),   // contains "quick brown fox"
    (2L, "the quick red fox"),                // no shared 3-gram
    (3L, "THE  QUICK   BROWN fox jumps"),     // both bench grams (norm'd)
    (4L, "short doc"),                        // < 3 words -> trivially clean
    (5L, "")                                  // empty -> trivially clean
  ).toDF("id", "text")

  test("withContamination (per-row) == contaminationReport on the real corpus") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val b = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 7 === 0)
    val c = docs.filter(col("doc_id") % 2 === 0)
    val batch = Decontaminate.contaminationReport(c, b, "doc_id", "text", 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val perRow = Decontaminate.withContamination(c, "doc_id", "text", b, 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(perRow == batch)
    assert(batch.exists(_._3), "fixture produced no contamination")
  }

  test("maxKeys=0 (guard off) keeps the row path and the default-run rows") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def runs(): Seq[org.apache.spark.sql.DataFrame] = Seq(
      Decontaminate.contaminationReport(corpus, bench, "id", "text", 3),
      Decontaminate.decontaminate(corpus, bench, "id", "text", 3),
      Decontaminate.withContamination(corpus, "id", "text", bench, 3))
    val want = runs().map(rows)
    val key = graft.ops.ProbeGuard.ConfKey
    spark.conf.set(key, "0")
    try {
      val got = runs()
      assert(got.map(rows) == want, s"$key=0 changed the rows")
      // <= 0 means "guard off", as at every ProbeGuard site — not
      // "row path off": the gram-count expression stays in the plan
      got.take(2).foreach { df =>
        assert(df.queryExecution.analyzed.toString
          .contains("graft_bench_gram_count"),
          s"$key=0 must keep the row path:\n${df.queryExecution.analyzed}")
      }
    } finally spark.conf.unset(key)
  }

  test("withContamination bounds the benchmark collect — a corpus-sized " +
      "frame fails loudly, not with a driver OOM") {
    // corpus has 3 distinct 3-grams over its multi-word docs; cap at 2
    val e = intercept[IllegalArgumentException] {
      Decontaminate.withContamination(corpus, "id", "text", corpus, 3,
        maxBenchGrams = 2)
    }
    assert(e.getMessage.contains("maxBenchGrams"))
    // at the default cap the same call is fine
    assert(Decontaminate.withContamination(corpus, "id", "text", corpus, 3)
      .count() == 5L)
  }

  test("withContamination passes a NON-numeric id column through untouched") {
    val sc = corpus.selectExpr("concat('doc-', id) AS key", "text")
    val out = Decontaminate.withContamination(sc, "key", "text", bench, 3)
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) ==
      Seq("doc-1", "doc-2", "doc-3", "doc-4", "doc-5"))
    assert(out.head == ("doc-1", 1L, true))
  }

  test("withContamination runs statelessly inside a document stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("deconstream").toString
    val q = Decontaminate.withContamination(
        input.toDF().toDF("id", "text"), "id", "text", bench, 3)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .start()
    input.addData((1L, "a very quick brown fox ran"), (2L, "nothing shared"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 0L, false)))
  }

  // embedding-space: unit vectors on known angles so cosines are exact
  private def vec(x: Double, y: Double) =
    Array(x.toFloat, y.toFloat, 0f, 0f)

  private lazy val embCorpus = Seq(
    (1L, vec(1, 0)),                     // = bench 100 → cos 1.0
    (2L, vec(0.8, 0.6)),                 // cos 0.8 to bench 100
    (3L, vec(0, 1)),                     // orthogonal to 100, = 101
    (4L, vec(-1, 0))                     // anti-parallel → clean at 0.5
  ).toDF("id", "v")

  private lazy val embBench = Seq(
    (100L, vec(1, 0)),
    (101L, vec(0, 1))
  ).toDF("id", "v")

  test("embedding report: per-corpus-vector close counts and max cosine") {
    val rep = Decontaminate.embeddingContaminationReport(
        embCorpus, embBench, "id", "v", minCos = 0.75, numCells = 2)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(rep == Seq(
      (1L, 1L, 1.0, true),
      (2L, 1L, 0.8, true),
      (3L, 1L, 1.0, true),     // matches bench 101
      (4L, 0L, 0.0, false)))
  }

  test("decontaminateByEmbedding keeps exactly the far rows, schema intact") {
    val clean = Decontaminate.decontaminateByEmbedding(
      embCorpus, embBench, "id", "v", minCos = 0.9, numCells = 2)
    assert(clean.columns.toSeq == Seq("id", "v"))
    assert(clean.select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 4L))             // cos 0.8 and -1 are below 0.9
  }

  test("report flags exactly the docs sharing an n-gram, with counts") {
    val rep = Decontaminate.contaminationReport(corpus, bench, "id", "text", 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(rep == Seq(
      (1L, 1L, true),   // quick brown fox
      (2L, 0L, false),
      (3L, 2L, true),   // the quick brown + quick brown fox
      (4L, 0L, false),
      (5L, 0L, false)))
  }

  test("decontaminate returns exactly the clean rows, schema intact") {
    val clean = Decontaminate.decontaminate(corpus, bench, "id", "text", 3)
    assert(clean.columns.toSeq == Seq("id", "text"))
    assert(clean.select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 4L, 5L))
  }

  test("duplicate grams in the doc count once; bench dups don't double") {
    val c = Seq((1L, "x y z x y z")).toDF("id", "text") // "x y z" twice
    val b = Seq((9L, "x y z"), (10L, "x y z w")).toDF("id", "text")
    val rep = Decontaminate.contaminationReport(c, b, "id", "text", 3)
      .as[(Long, Long, Boolean)].collect().toSeq
    // doc grams (distinct): {x y z, y z x, z x y}; bench: {x y z, y z w}
    assert(rep == Seq((1L, 1L, true)))
  }

  test("n = 1 degenerates to word overlap") {
    val rep = Decontaminate.contaminationReport(
        corpus, bench, "id", "text", 1)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // bench words: the quick brown fox
    assert(rep.map(r => r._1 -> r._3).toMap ==
      Map(1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false))
  }

  test("empty benchmark contaminates nothing") {
    val rep = Decontaminate.contaminationReport(
        corpus, bench.limit(0), "id", "text", 3)
    assert(rep.filter("contaminated").count() == 0)
  }

  test("invalid n rejected") {
    intercept[IllegalArgumentException] {
      Decontaminate.contaminationReport(corpus, bench, "id", "text", 0)
    }
  }
}
