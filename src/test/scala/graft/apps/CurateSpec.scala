package graft.apps

import graft.{SparkSpec, Tables}
import graft.dedup.{Dedup, SimilarJoin, SimilarityMethod}
import graft.text.TextOps
import org.apache.spark.sql.functions._

class CurateSpec extends SparkSpec {

  private val method = SimilarityMethod.MinHashLsh(minJaccard = 0.6)
  // sf0.001 quality scores span [0.5, 1.0] with a ~0.63 median — 0.6
  // filters a real fraction without emptying the corpus
  private val minQ = 0.6

  test("Curate.run equals the hand-composed operator chain, stage by stage") {
    // sf0.001 documents carry near-dups but no exact dups — plant 5
    // exact copies (new ids) so the exact stage demonstrably fires
    val base = Tables.load(spark, sf(), "documents")
    val docs = base.unionByName(
      base.orderBy(col("doc_id")).limit(5)
        .withColumn("doc_id", col("doc_id") + 100000L))
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val (curated, report) = Curate.run(docs, "doc_id", "text", minQ, method,
      m => logged.synchronized { logged += m })

    // stage 1 oracle: quality filter composed by hand
    val quality = docs.transform(TextOps.withQualityScore(_, "text", "quality"))
      .filter(col("quality") >= minQ)
    val handQuality = quality.count()

    // stage 2 oracle: keep min doc_id per fingerprint (the q40 window form)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_fp")).orderBy(col("doc_id"))
    val exact = quality.withColumn("_fp", TextOps.fingerprint(col("text")))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_fp", "_rn")
    val handExact = exact.count()

    // stage 3 oracle: cluster representatives survive
    val clusters = SimilarJoin.similarClusters(exact, "doc_id", "text", method)
    val handDrop = clusters.filter(col("cluster") =!= col("id")).count()

    assert(report.input == docs.count())
    assert(report.afterQuality == handQuality && report.afterQuality < report.input,
      "the quality threshold must actually filter")
    assert(report.afterExact == handExact)
    assert(report.afterExact < report.afterQuality,
      "the planted exact copies must be dropped by the exact stage")
    assert(report.afterNear == handExact - handDrop)
    assert(report.afterNear < report.afterExact,
      "sf0.001 documents carry near-dups; the near stage must drop some")

    // the surviving ROWS are identical to the hand-built chain
    val handIds = exact
      .join(clusters.filter(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotIds = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == handIds)

    // report internals agree with themselves and with the stage logs
    assert(report.langProfile.values.sum == report.afterNear)
    assert(report.totalTokens > 0)
    assert(logged.count(_.startsWith("[curate]")) == 4,
      s"one log line per stage expected: $logged")
    curated.unpersist()
  }

  test("runIncremental(b2, curate(b1)) equals the b2-side of curate(b1 ∪ b2)") {
    import spark.implicits._
    // synthetic corpus honoring the documented preconditions (batch ids
    // after corpus ids, no batch doc bridging two corpus survivors) so
    // the equivalence is EXACT, with every drop-path exercised:
    //   corpus:   1≈2 (near family), 3≈4 (near family), 5, 6 singletons
    //   batch:  101 ≈ 1       -> dropped (cross near-dup)
    //           102 = text(5) -> dropped (exact-vs-corpus fingerprint)
    //           103 ≈ 104     -> within-batch family, keep 103
    //           106 = text(103) -> dropped (within-batch exact)
    //           105           -> unique, kept
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "an entirely different document all about spark shuffle partitions here"
    val tC = "a lone corpus singleton document that matches nothing else at all"
    val tD = "yet another standalone corpus text on partitioned parquet scan pruning"
    val tE = "a brand new batch family document describing minhash banded candidates"
    val tF = "one genuinely novel batch document with no relatives anywhere at all"
    val b1 = Seq(1L -> tA, 2L -> (tA + " ok"), 3L -> tB, 4L -> (tB + " ok"),
      5L -> tC, 6L -> tD).toDF("doc_id", "text")
    val b2 = Seq(101L -> (tA + " yes"), 102L -> tC, 103L -> tE,
      104L -> (tE + " ok"), 105L -> tF, 106L -> tE).toDF("doc_id", "text")
    val method = SimilarityMethod.MinHashLsh(minJaccard = 0.6)

    val (corpus, corpusReport) = Curate.run(b1, "doc_id", "text", 0.0, method, _ => ())
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 6L))
    val (inc, report) = Curate.runIncremental(b2, corpus, "doc_id", "text",
      0.0, method, log = _ => ())
    val incIds = inc.select("doc_id").collect().map(_.getLong(0)).toSet
    // the train-once shape: precomputed corpus signature AND
    // fingerprint tables must not change the outcome (the corpus
    // content is then read zero times by the daily run)
    val sigs = Dedup.lshSignatures(corpus, "doc_id", "text",
      nGram = 3, bands = 4)
    val fps = Curate.textFingerprints(corpus, "text")
    val (incS, _) = Curate.runIncremental(b2, corpus, "doc_id", "text",
      0.0, method, corpusSigs = Some(sigs), corpusFps = Some(fps),
      log = _ => ())
    assert(incS.select("doc_id").collect().map(_.getLong(0)).toSet == incIds)
    incS.unpersist()
    val (full, _) = Curate.run(b1.unionByName(b2), "doc_id", "text",
      0.0, method, _ => ())
    val fullIds = full.select("doc_id").collect().map(_.getLong(0)).toSet

    // the incremental result IS the full run's batch-side subset...
    assert(incIds == fullIds.filter(_ > 100L),
      s"incremental $incIds vs full batch-side ${fullIds.filter(_ > 100L)}")
    assert(incIds == Set(103L, 105L))
    // ...and the full run's corpus side is exactly the standing corpus
    // (invariance: nothing the batch contains can evict a survivor)
    assert(fullIds.filter(_ <= 100L) == Set(1L, 3L, 5L, 6L))
    // the report walks the documented stages
    assert(report.input == 6 && report.afterQuality == 6)
    assert(report.afterExact == 4, // 102 (corpus fp) and 106 (batch fp) gone
      s"exact stage expected 4, got ${report.afterExact}")
    assert(report.afterNear == 2)
    assert(corpusReport.afterNear == 4)
    // cross-wired fingerprint family fails loudly at the consuming
    // join (schema-only check): an embeddingFingerprints table handed
    // to the TEXT run — both families are md5 strings, so without the
    // column-name stamp this would be silently inert
    val wrongFamily = fps.select(col("_fp_text").as("_fp_emb"))
    val eF = intercept[IllegalArgumentException] {
      Curate.runIncremental(b2, corpus, "doc_id", "text", 0.0, method,
        corpusFps = Some(wrongFamily), log = _ => ())
    }
    assert(eF.getMessage.contains("_fp_text") &&
      eF.getMessage.contains("OTHER method family"))
    // ...and a pre-stamp table (bare _fp) names the rebuild path
    val eL = intercept[IllegalArgumentException] {
      Curate.runIncremental(b2, corpus, "doc_id", "text", 0.0, method,
        corpusFps = Some(fps.select(col("_fp_text").as("_fp"))), log = _ => ())
    }
    assert(eL.getMessage.contains("must be rebuilt"))
    inc.unpersist(); full.unpersist(); corpus.unpersist()
  }

  test("runEmbedding walks validity -> exact vector dedup -> cosine clustering") {
    import spark.implicits._
    // a corpus exercising every stage the q71 gate's real table cannot:
    //   10 -> null vector          } dropped by validity
    //   11 -> empty vector         }
    //   12 -> all-zero vector      }
    //   13 -> NaN component        } (NaN > 0 is TRUE under Spark's
    //   14 -> overflowing (Inf norm)} NaN-is-greatest ordering, and an
    //                                Inf norm makes NaN cosines — both
    //                                must fall to the explicit guards)
    //   1, 2 -> BIT-identical vectors (exact dup; keep 1)
    //   5, 6 -> value-identical up to IEEE signed zero (exact dup too:
    //           the fingerprint normalizes -0.0 to +0.0; keep 5)
    //   3    -> near-dup of 1 (cos ~ 0.9996; clusters with 1, dropped)
    //   4    -> orthogonal singleton, kept
    val v1 = Seq(1.0, 0.0, 2.0)
    val v3 = Seq(1.0, 0.02, 2.0)
    val v4 = Seq(0.0, 5.0, 0.0)
    val docs = Seq(
      (1L, Some(v1)), (2L, Some(v1)), (3L, Some(v3)), (4L, Some(v4)),
      (5L, Some(Seq(0.0, -7.0, 0.0))), (6L, Some(Seq(-0.0, -7.0, 0.0))),
      (10L, None), (11L, Some(Seq.empty[Double])),
      (12L, Some(Seq(0.0, 0.0, 0.0))),
      (13L, Some(Seq(1.0, Double.NaN, 0.0))),
      (14L, Some(Seq(1e200, 1e200, 0.0)))
    ).toDF("vec_id", "embedding")
    val (curated, report) = Curate.runEmbedding(docs, "vec_id", "embedding",
      SimilarityMethod.EmbeddingCosine(0.95), _ => ())
    val ids = curated.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L, 5L))
    assert(report.input == 11 && report.afterValid == 6)
    assert(report.afterExact == 4,
      "bit-identical AND signed-zero-equal vectors must dedup to min id")
    assert(report.afterNear == 3)
    assert(report.dimProfile == Map(3 -> 3L))
    curated.unpersist()
  }

  test("runMedia walks magic validity -> byte dedup -> dHash clustering") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    //   1, 2 -> byte-identical PNGs (exact dup; keep 1)
    //   3    -> brightness-shifted variant of 1 (different bytes, same
    //           dHash; clusters with 1, dropped)
    //   4    -> independent pattern, JPEG container (singleton, kept)
    //   5    -> unrelated base (singleton, kept)
    //   10   -> null payload          } dropped by validity
    //   11   -> no image magic        }
    //   12   -> PNG magic, corrupt body (passes validity, no hash,
    //           survives as a singleton — the per-row degrade contract)
    val png0 = Multimodal.synthGridImage(50L, 0)
    val jpegBytes = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.synthGridImage(60L, 0)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2)
    val media = Seq(
      (1L, Option(png0)), (2L, Option(png0)),
      (3L, Option(Multimodal.synthGridImage(50L, 1))),
      (4L, Option(jpegBytes)),
      (5L, Option(Multimodal.synthGridImage(70L, 0))),
      (10L, Option.empty[Array[Byte]]),
      (11L, Option(Array[Byte](1, 2, 3, 4, 5))),
      (12L, Option(corrupt))
    ).toDF("media_id", "payload")
    val (curated, report) = Curate.runMedia(media, "media_id", "payload",
      log = _ => ())
    val ids = curated.select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L, 5L, 12L))
    assert(report.input == 8 && report.afterValid == 6)
    assert(report.afterExact == 5, "byte-identical payloads dedup to min id")
    assert(report.afterNear == 4)
    assert(report.formatProfile == Map("png" -> 3L, "jpeg" -> 1L))
    curated.unpersist()
  }

  test("runIncrementalEmbedding bootstraps correctly on an EMPTY corpus") {
    import spark.implicits._
    // day one of an incremental pipeline: no standing corpus yet. The
    // within-batch join must still find near-dups — a zero-centroid
    // corpus index must NOT be injected into the batch self-join
    // (which would short-circuit it and accept every near-dup).
    val vE = Seq(1.0, 0.0, 2.0)
    val batch = Seq(
      101L -> vE, 102L -> Seq(1.0, 0.02, 2.0), // near-dups: keep 101
      103L -> vE,                              // exact dup of 101: drop
      104L -> Seq(0.0, 5.0, 0.0)               // singleton: keep
    ).toDF("vec_id", "embedding")
    val empty = batch.limit(0)
    val (inc, report) = Curate.runIncrementalEmbedding(batch, empty,
      "vec_id", "embedding", SimilarityMethod.EmbeddingCosine(0.95),
      log = _ => ())
    assert(inc.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(101L, 104L))
    assert(report.afterExact == 3 && report.afterNear == 2)
    // ...and the result equals a from-scratch runEmbedding of the batch
    val (fresh, _) = Curate.runEmbedding(batch, "vec_id", "embedding",
      SimilarityMethod.EmbeddingCosine(0.95), _ => ())
    assert(fresh.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(101L, 104L))
    inc.unpersist(); fresh.unpersist()
  }

  test("runEmbedding matches the hand-composed chain on the real embeddings") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val m = SimilarityMethod.EmbeddingCosine(0.4, numCells = 8)
    val (curated, report) = Curate.runEmbedding(emb, "vec_id", "embedding",
      m, _ => ())
    // hand chain: the real table has no invalid/duplicate vectors, so
    // the pipeline reduces to keep-cluster-representative
    val clusters = SimilarJoin.similarClusters(emb, "vec_id", "embedding", m)
    val handIds = emb.join(
        clusters.filter(col("cluster") =!= col("id"))
          .select(col("id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ids = curated.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == handIds)
    assert(report.input == report.afterValid &&
      report.afterValid == report.afterExact,
      "the generated corpus should pass validity and exact dedup untouched")
    assert(report.afterNear == ids.size && ids.nonEmpty)
    curated.unpersist()
  }

  test("runIncrementalEmbedding(b2, runEmbedding(b1)) equals the b2-side of the full run") {
    import spark.implicits._
    // the vector mirror of the text equivalence spec, every drop path:
    //   corpus: 1≈2 (cos .995 family, keep 1), 3, 4 singletons
    //   batch:  101 ≈ 1            -> dropped (cross near-dup)
    //           102 = vector(3)    -> dropped (exact-vs-corpus)
    //           103 ≈ 104          -> within-batch family, keep 103
    //           106 = vector(103)  -> dropped (within-batch exact)
    //           105                -> unique, kept
    val v1 = Seq(1.0, 0.0, 0.0);  val v2 = Seq(1.0, 0.1, 0.0)
    val v3 = Seq(0.0, 1.0, 0.0);  val v4 = Seq(0.0, 0.0, 1.0)
    val v101 = Seq(1.0, -0.1, 0.0)
    val v103 = Seq(1.0, 1.0, 1.0); val v104 = Seq(1.0, 1.0, 0.9)
    val v105 = Seq(0.0, 1.0, -1.0)
    val b1 = Seq(1L -> v1, 2L -> v2, 3L -> v3, 4L -> v4)
      .toDF("vec_id", "embedding")
    val b2 = Seq(101L -> v101, 102L -> v3, 103L -> v103,
      104L -> v104, 105L -> v105, 106L -> v103)
      .toDF("vec_id", "embedding")
    val m = SimilarityMethod.EmbeddingCosine(0.95)

    val (corpus, corpusReport) = Curate.runEmbedding(b1, "vec_id",
      "embedding", m, _ => ())
    assert(corpus.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L))
    val (inc, report) = Curate.runIncrementalEmbedding(b2, corpus,
      "vec_id", "embedding", m, log = _ => ())
    val incIds = inc.select("vec_id").collect().map(_.getLong(0)).toSet
    val (full, _) = Curate.runEmbedding(b1.unionByName(b2), "vec_id",
      "embedding", m, _ => ())
    val fullIds = full.select("vec_id").collect().map(_.getLong(0)).toSet

    assert(incIds == Set(103L, 105L))
    assert(incIds == fullIds.filter(_ > 100L),
      s"incremental $incIds vs full batch-side ${fullIds.filter(_ > 100L)}")
    assert(fullIds.filter(_ <= 100L) == Set(1L, 3L, 4L),
      "corpus survivors must be invariant under the batch")
    // the fully-train-once shape: stored fingerprints + a pre-trained
    // corpus index must not change the outcome
    val fps = Curate.embeddingFingerprints(corpus, "embedding")
    val idx = graft.sim.CellIndex.train(corpus, "vec_id", "embedding")
    val (incF, _) = Curate.runIncrementalEmbedding(b2, corpus, "vec_id",
      "embedding", m.copy(index = Some(idx)), corpusFps = Some(fps),
      log = _ => ())
    assert(incF.select("vec_id").collect().map(_.getLong(0)).toSet == incIds)
    incF.unpersist()
    assert(report.input == 6 && report.afterValid == 6)
    assert(report.afterExact == 4, // 102 (corpus vec) and 106 (batch vec) gone
      s"exact stage expected 4, got ${report.afterExact}")
    assert(report.afterNear == 2)
    assert(report.dimProfile == Map(3 -> 2L))
    assert(corpusReport.afterNear == 3)
    inc.unpersist(); full.unpersist(); corpus.unpersist()
  }

  test("runIncremental on the real corpus: batch-only output, sane stage counts") {
    val docs = Tables.load(spark, sf(), "documents")
    val (corpus, _) = Curate.run(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", minQ, method, _ => ())
    val (inc, report) = Curate.runIncremental(docs.filter(col("doc_id") % 2 === 1),
      corpus, "doc_id", "text", minQ, method, log = _ => ())
    val ids = inc.select("doc_id").collect().map(_.getLong(0))
    assert(ids.forall(_ % 2 == 1), "only batch documents may be accepted")
    assert(ids.length == report.afterNear && report.afterNear > 0)
    assert(report.input >= report.afterQuality &&
      report.afterQuality >= report.afterExact &&
      report.afterExact >= report.afterNear)
    assert(report.afterNear < report.afterExact,
      "odd docs near-duplicate even docs at sf0.001; some must drop")
    assert(inc.columns.contains("quality"))
    inc.unpersist(); corpus.unpersist()
  }

  test("CurateMain method parsing covers both finders and the bare-number form") {
    assert(CurateMain.parseMethod("0.7") ==
      SimilarityMethod.MinHashLsh(minJaccard = 0.7))
    assert(CurateMain.parseMethod("minhash:0.65") ==
      SimilarityMethod.MinHashLsh(minJaccard = 0.65))
    assert(CurateMain.parseMethod("simhash:2") ==
      SimilarityMethod.SimHash(maxHamming = 2))
  }

  test("CurateMain with a checkpoint dir: reliable clustering, snapshots cleaned") {
    val out = java.nio.file.Files.createTempDirectory("graft-curate-r").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("graft-curate-ckpt").toFile
    Mains.keepSessionForTests = true
    try {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      CurateMain.main(Array(sf(), out.getAbsolutePath, minQ.toString, "0.6",
        ckpt.getAbsolutePath))
      // same survivors as the plain run, via the reliable path
      val written = spark.read.parquet(out.getAbsolutePath)
      val (expect, report) = Curate.run(
        Tables.load(spark, sf(), "documents"), "doc_id", "text", minQ, method,
        _ => ())
      assert(written.count() == report.afterNear)
      expect.unpersist()
      // config restored, no snapshot dirs survive the scope
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val walk = java.nio.file.Files.walk(ckpt.toPath)
      val leftover =
        try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator())
          .asScala.count(_.getFileName.toString.startsWith("graft-dup-clusters-"))
        finally walk.close()
      assert(leftover == 0, s"snapshot dirs accumulated: $leftover")
    } finally {
      Mains.keepSessionForTests = false
      org.apache.commons.io.FileUtils.deleteQuietly(out)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    }
  }

  test("CurateMain writes the curated parquet end-to-end") {
    val out = java.nio.file.Files.createTempDirectory("graft-curate").toFile
    Mains.keepSessionForTests = true
    try {
      CurateMain.main(Array(sf(), out.getAbsolutePath, minQ.toString, "0.6"))
      val written = spark.read.parquet(out.getAbsolutePath)
      // all source columns survive, plus the computed quality score
      assert(written.columns.toSet ==
        Tables.load(spark, sf(), "documents").columns.toSet + "quality")
      val (expect, report) = Curate.run(
        Tables.load(spark, sf(), "documents"), "doc_id", "text", minQ, method,
        _ => ())
      assert(written.count() == report.afterNear)
      assert(written.select("doc_id").collect().map(_.getLong(0)).toSet ==
        expect.select("doc_id").collect().map(_.getLong(0)).toSet)
      expect.unpersist()
    } finally {
      Mains.keepSessionForTests = false
      org.apache.commons.io.FileUtils.deleteQuietly(out)
    }
  }

  test("CurateIncrementalMain: daily CLI run with stored artifacts, end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-inc").toFile
    Mains.keepSessionForTests = true
    try {
      val corpusDir = new java.io.File(dir, "corpus").getAbsolutePath
      val sigsDir = new java.io.File(dir, "sigs").getAbsolutePath
      val fpsDir = new java.io.File(dir, "fps").getAbsolutePath
      val batchDir = new java.io.File(dir, "batch").getAbsolutePath
      val outDir = new java.io.File(dir, "day1").getAbsolutePath
      // standing state from a prior batch run: curated corpus + its
      // signature and fingerprint tables, all parquet — and the daily
      // batch in its own dir, so the CLI input IS the modeled batch
      // (ids disjoint from the corpus's)
      val docs = Tables.load(spark, sf(), "documents")
      val (corpus, _) = Curate.run(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", minQ, method, _ => ())
      corpus.write.mode("overwrite").parquet(corpusDir)
      Dedup.lshSignatures(spark.read.parquet(corpusDir), "doc_id", "text",
          nGram = 3, bands = 4)
        .write.mode("overwrite").parquet(sigsDir)
      Curate.textFingerprints(spark.read.parquet(corpusDir), "text")
        .write.mode("overwrite").parquet(fpsDir)
      docs.filter(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
      // the daily run, stored signatures + fingerprints supplied
      CurateIncrementalMain.main(Array(batchDir, corpusDir, outDir,
        s"minQuality=$minQ", "method=0.6", s"sigs=$sigsDir", s"fps=$fpsDir"))
      val accepted = spark.read.parquet(s"$outDir/accepted")
      val (expect, report) = Curate.runIncremental(
        docs.filter(col("doc_id") % 2 === 1), spark.read.parquet(corpusDir),
        "doc_id", "text", minQ, method, log = _ => ())
      assert(accepted.select("doc_id").collect().map(_.getLong(0)).toSet ==
        expect.select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(accepted.count() == report.afterNear && report.afterNear > 0)
      // the maintenance artifacts: signatures + fingerprints of exactly
      // the accepted rows, same schemas as the standing tables
      val newSigs = spark.read.parquet(s"$outDir/sigs")
      assert(newSigs.columns.toSet == Set("id", "sh", "bands", "ngram"))
      assert(newSigs.count() == report.afterNear)
      val newFps = spark.read.parquet(s"$outDir/fps")
      assert(newFps.columns.toSeq == Seq("_fp_text"))
      assert(newFps.count() == report.afterNear,
        "accepted rows are exact-deduped, so fingerprints are distinct")
      expect.unpersist(); corpus.unpersist()
    } finally {
      Mains.keepSessionForTests = false
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("THREE chained daily increments with artifact-union maintenance equal the full run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-chain").toFile
    Mains.keepSessionForTests = true
    try {
      val docs = Tables.load(spark, sf(), "documents")
      val n = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      // CONTIGUOUS day slices in id order — the production shape (ids
      // grow monotonically as days arrive). This makes min-id cluster
      // representatives day-consistent: any cross-day pair resolves to
      // its earliest member on both paths. The one remaining drift —
      // a transitive chain spanning days with no direct edge — is
      // demonstrated in the next test.
      def slice(k: Int) = docs.filter(
        col("doc_id") >= k * n / 4 && col("doc_id") < (k + 1) * n / 4)
      def path(s: String) = new java.io.File(dir, s).getAbsolutePath

      // day 0: bootstrap batch run + the full artifact set
      val (corpus0, _) = Curate.run(slice(0), "doc_id", "text", minQ, method, _ => ())
      corpus0.write.parquet(path("corpus0"))
      corpus0.unpersist()
      Dedup.lshSignatures(spark.read.parquet(path("corpus0")), "doc_id", "text")
        .write.parquet(path("sigs0"))
      Curate.textFingerprints(spark.read.parquet(path("corpus0")), "text")
        .write.parquet(path("fps0"))

      // days 1-3 through the CLI, with the documented append-on-accept
      // maintenance move between each: union accepted/, sigs/, fps/
      // into the standing tables
      for (day <- 1 to 3) {
        val batchDir = path(s"batch$day")
        slice(day).write.parquet(s"$batchDir/documents.parquet")
        CurateIncrementalMain.main(Array(batchDir, path(s"corpus${day - 1}"),
          path(s"day$day"), s"minQuality=$minQ", "method=0.6",
          s"sigs=${path(s"sigs${day - 1}")}", s"fps=${path(s"fps${day - 1}")}"))
        spark.read.parquet(path(s"corpus${day - 1}"))
          .unionByName(spark.read.parquet(path(s"day$day") + "/accepted"))
          .write.parquet(path(s"corpus$day"))
        spark.read.parquet(path(s"sigs${day - 1}"))
          .unionByName(spark.read.parquet(path(s"day$day") + "/sigs"))
          .write.parquet(path(s"sigs$day"))
        spark.read.parquet(path(s"fps${day - 1}"))
          .unionByName(spark.read.parquet(path(s"day$day") + "/fps"))
          .write.parquet(path(s"fps$day"))
      }

      // the chained standing corpus after day 3 == ONE full batch run
      // over all four slices (the real documents table has no
      // day-spanning no-direct-edge transitive chain at 0.6, so the
      // documented drift case is empty here)
      val chained = spark.read.parquet(path("corpus3"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val (full, _) = Curate.run(docs, "doc_id", "text", minQ, method, _ => ())
      val fullIds = full.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(chained == fullIds,
        s"chain-only: ${chained -- fullIds}; full-only: ${fullIds -- chained}")
      assert(chained.nonEmpty)
      full.unpersist()
    } finally {
      Mains.keepSessionForTests = false
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("documented drift: a day-spanning transitive chain keeps its tail member") {
    import spark.implicits._
    // a–b near, b–c near, a–c NOT near, arriving on three different
    // days: the full run clusters {a,b,c} and keeps only a; the chain
    // never sees the b–c edge (b was rejected on day 2, so it is not
    // in the corpus when c arrives) and accepts c. This is the ONE
    // composition drift of the append-on-accept loop — the incremental
    // contract is "nothing near the ACCEPTED corpus enters", not
    // "global clustering replay".
    // b = P+Q; a shares only P, c shares only Q ⇒ J(a,b)=J(b,c)=0.4,
    // J(a,c)=0.0 — a wide margin around the 0.35 threshold
    val blockP = "one two three four five six seven eight nine ten"
    val blockQ = "cold warm bright dark heavy light smooth rough sweet sour"
    val a = s"$blockP apple banana"
    val b = s"$blockP $blockQ"
    val c = s"pepper garlic $blockQ"
    val m = SimilarityMethod.MinHashLsh(minJaccard = 0.35)
    val d1 = Seq(1L -> a).toDF("doc_id", "text")
    val d2 = Seq(2L -> b).toDF("doc_id", "text")
    val d3 = Seq(3L -> c).toDF("doc_id", "text")
    val all = d1.unionByName(d2).unionByName(d3)
    // the planted similarity structure actually holds under the method
    val pairs = Dedup.lshNearDupPairs(all, "doc_id", "text", 3, 4, 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)),
      s"fixture drifted: pairs=$pairs (need a-b and b-c but not a-c)")

    val (full, _) = Curate.run(all, "doc_id", "text", 0.0, m, _ => ())
    assert(full.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    val (c1, _) = Curate.run(d1, "doc_id", "text", 0.0, m, _ => ())
    val (a2, _) = Curate.runIncremental(d2, c1, "doc_id", "text", 0.0, m, log = _ => ())
    assert(a2.count() == 0, "day 2: b is near the corpus member a, rejected")
    val day3Corpus = c1.unionByName(a2)
    val (a3, _) = Curate.runIncremental(d3, day3Corpus, "doc_id", "text", 0.0, m, log = _ => ())
    assert(a3.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L),
      "day 3: nothing in the ACCEPTED corpus is near c — the chain keeps it")
    full.unpersist(); c1.unpersist(); a2.unpersist(); a3.unpersist()
  }

  test("CurateIncrementalMain rejects cross-wired artifacts and unknown options") {
    Mains.keepSessionForTests = true
    try {
      val e1 = intercept[IllegalArgumentException] {
        CurateIncrementalMain.main(Array("a", "b", "c",
          "method=cosine:0.4", "sigs=/nowhere"))
      }
      assert(e1.getMessage.contains("index=<dir>"))
      val e2 = intercept[IllegalArgumentException] {
        CurateIncrementalMain.main(Array("a", "b", "c",
          "method=0.6", "index=/nowhere"))
      }
      assert(e2.getMessage.contains("sigs=<parquet>"))
      val e3 = intercept[IllegalArgumentException] {
        CurateIncrementalMain.main(Array("a", "b", "c", "bogus=1"))
      }
      assert(e3.getMessage.contains("unrecognized option"))
    } finally Mains.keepSessionForTests = false
  }

  test("a NaN vector in the CORPUS cannot poison the incremental cell index") {
    import spark.implicits._
    // a corpus curated by an OLDER tool may carry a NaN vector (the
    // validity hole this round fixed batch-side). Training the shared
    // corpus-side index must ignore it: a NaN centroid/radius would
    // make every triangle-inequality comparison false and silently
    // disable near-dup detection in BOTH joins.
    val corpus = Seq(1L -> Seq(0.0, 1.0, 0.0),
      2L -> Seq(Double.NaN, 1.0, 0.0)).toDF("vec_id", "embedding")
    val vE = Seq(1.0, 0.0, 2.0)
    val batch = Seq(101L -> vE, 102L -> Seq(1.0, 0.02, 2.0),
      103L -> Seq(5.0, 0.0, -1.0)).toDF("vec_id", "embedding")
    val (inc, report) = Curate.runIncrementalEmbedding(batch, corpus,
      "vec_id", "embedding", SimilarityMethod.EmbeddingCosine(0.95),
      log = _ => ())
    assert(inc.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(101L, 103L),
      "the within-batch near-dup (102 ~ 101) must still be found")
    assert(report.afterNear == 2)
    inc.unpersist()
  }

  test("plan shape: the corpus fingerprint table is PROBED by broadcast " +
      "joins, never sort-merge shuffled (the 100 TB daily-run contract)") {
    // broadcast auto-threshold off: without the explicit hints this
    // anti-join shape sort-merges BOTH sides — i.e. re-shuffles the
    // corpus-sized standing table on every daily run
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batchFp = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "_fp")
      val cfps = Seq("aa", "cc").toDF("_fp")
      val out = batchFp
        .join(broadcast(Curate.corpusFpHits(batchFp, "_fp", cfps)),
          Seq("_fp"), "left_anti")
      val p = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("SortMergeJoin"),
        "corpus fps must never sort-merge:\n" + p)
      assert(p.linesIterator.count(_.contains("Join type:")) == 2 &&
        p.contains("Join type: LeftSemi") &&
        p.contains("Join type: LeftAnti"),
        "expected the probe semi-join and the hit anti-join:\n" + p)
      // and the values are the plain anti-join's
      assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      "10485760")
  }

  // ---- the incremental drop ledger (the PretrainPrep.Tracked
  // contract extended to the curate chain) ----

  test("runIncrementalTracked: every reject attributed, ledger + " +
      "accepted partition the batch, corpus near-drops name CORPUS winners") {
    import spark.implicits._
    // the :69 equivalence fixture plus one junk doc for the quality
    // stage (no stopwords + all punctuation -> score ~0 < 0.2)
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "an entirely different document all about spark shuffle partitions here"
    val tC = "a lone corpus singleton document that matches nothing else at all"
    val tD = "yet another standalone corpus text on partitioned parquet scan pruning"
    val tE = "a brand new batch family document describing minhash banded candidates"
    val tF = "one genuinely novel batch document with no relatives anywhere at all"
    val b1 = Seq(1L -> tA, 2L -> (tA + " ok"), 3L -> tB, 4L -> (tB + " ok"),
      5L -> tC, 6L -> tD).toDF("doc_id", "text")
    val b2 = Seq(101L -> (tA + " yes"), 102L -> tC, 103L -> tE,
      104L -> (tE + " ok"), 105L -> tF, 106L -> tE,
      107L -> "::::;;;;....!!!!").toDF("doc_id", "text")
    val (corpus, _) = Curate.run(b1, "doc_id", "text", 0.0, method, _ => ())
    val (acc, report, ledger) = Curate.runIncrementalTracked(
      b2, corpus, "doc_id", "text", 0.2, method, log = _ => ())
    val accIds = acc.select("doc_id").as[Long].collect().toSet
    assert(accIds == Set(103L, 105L))
    // every reject is attributed; corpus-caused near drops resolve to
    // a CORPUS member (101's component label would be 1 here anyway,
    // but the convention is winner = min corpus member, a real
    // survivor — never a dropped batch doc)
    val rows = ledger
      .select(col("doc_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (101L, "near", "near_duplicate_of_corpus", Some(1L)),
      (102L, "exact", "duplicate_of_corpus", None),
      (104L, "near", "near_duplicate", Some(103L)),
      (106L, "exact", "duplicate_text", Some(103L)),
      (107L, "quality", "low_quality", None)), s"ledger: $rows")
    // reconciliation: ledger ids ∪ accepted ids partition the batch
    assert((rows.map(_._1).toSet ++ accIds) == (101L to 107L).toSet &&
      rows.map(_._1).toSet.intersect(accIds).isEmpty)
    // winners are real survivors (accepted batch docs or corpus docs)
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(rows.flatMap(_._4).forall(w => accIds(w) || corpusIds(w)))
    // the tracked run's acceptance equals the untracked twin's
    val (accU, _) = Curate.runIncremental(
      b2, corpus, "doc_id", "text", 0.2, method, log = _ => ())
    assert(accU.select("doc_id").as[Long].collect().toSet == accIds)
    assert(report.afterNear == 2)
    graft.ops.StageCut.release(ledger)
    graft.ops.StageCut.release(acc); accU.unpersist(); corpus.unpersist()
  }

  test("media CLI day chain: curate dhash full run, then " +
      "curate-incremental with stored artifacts + ledger") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val srcDir = java.nio.file.Files.createTempDirectory("mediain").toString
    val day0 = java.nio.file.Files.createTempDirectory("media0").toString
    val day1 = java.nio.file.Files.createTempDirectory("media1").toString
    val batchDir = java.nio.file.Files.createTempDirectory("mediab").toString
    Seq((1L, Multimodal.synthGridImage(50L, 0)),
        (2L, Multimodal.synthGridImage(70L, 0)))
      .toDF("media_id", "payload")
      .write.mode("overwrite").parquet(s"$srcDir/media.parquet")
    Seq((101L, Multimodal.synthGridImage(50L, 0)),  // corpus byte copy
        (102L, Multimodal.synthGridImage(80L, 0)),  // novel, kept
        (103L, Multimodal.synthGridImage(80L, 1)),  // near of 102
        (110L, Array[Byte](1, 2, 3)))               // invalid
      .toDF("media_id", "payload")
      .write.mode("overwrite").parquet(s"$batchDir/media.parquet")
    Mains.keepSessionForTests = true
    try {
      CurateMain.main(Array(srcDir, day0, "0.5", "dhash:7"))
      // artifacts for the daily run come from the day-0 corpus
      val corpus = spark.read.parquet(day0)
      Curate.mediaFingerprints(corpus, "payload")
        .write.mode("overwrite").parquet(s"$day0.fps")
      graft.dedup.Dedup.dhashSignatures(corpus, "media_id", "payload")
        .write.mode("overwrite").parquet(s"$day0.sigs")
      CurateIncrementalMain.main(Array(batchDir, day0, day1,
        "method=dhash:7", s"fps=$day0.fps", s"sigs=$day0.sigs",
        "ledger=on"))
    } finally Mains.keepSessionForTests = false
    assert(spark.read.parquet(day0).select("media_id").as[Long]
      .collect().toSet == Set(1L, 2L))
    assert(spark.read.parquet(s"$day1/accepted").select("media_id")
      .as[Long].collect().toSet == Set(102L))
    val ledger = spark.read.parquet(s"$day1/ledger")
      .select(col("media_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(ledger == Seq(
      (101L, "exact", "duplicate_of_corpus", None),
      (103L, "near", "near_duplicate", Some(102L)),
      (110L, "validity", "invalid_image", None)), s"ledger: $ledger")
    // union-ready artifacts for the NEXT day
    assert(spark.read.parquet(s"$day1/fps").columns.toSeq == Seq("_fp_img"))
    assert(spark.read.parquet(s"$day1/sigs").columns.sorted.toSeq ==
      Seq("dsig", "id"))
  }

  test("runIncrementalMedia(Tracked): batch images curated against a " +
      "standing image corpus — artifact parity, ledger partition") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // corpus: two independent patterns; batch exercises every stage:
    //   101 byte-copies corpus 1          -> exact duplicate_of_corpus
    //   102 brightness variant of corpus 1 (same dHash, new bytes)
    //                                      -> near_duplicate_of_corpus(1)
    //   103 novel family base              -> kept
    //   104 brightness variant of 103      -> near_duplicate(103)
    //   105 byte-copies 103                -> duplicate_bytes(103)
    //   106 unrelated base                 -> kept
    //   110 no image magic                 -> invalid_image
    val corpus0 = Seq(
      (1L, Multimodal.synthGridImage(50L, 0)),
      (2L, Multimodal.synthGridImage(70L, 0))).toDF("media_id", "payload")
    val (corpus, _) = Curate.runMedia(corpus0, "media_id", "payload",
      log = _ => ())
    val batch = Seq(
      (101L, Multimodal.synthGridImage(50L, 0)),
      (102L, Multimodal.synthGridImage(50L, 1)),
      (103L, Multimodal.synthGridImage(80L, 0)),
      (104L, Multimodal.synthGridImage(80L, 1)),
      (105L, Multimodal.synthGridImage(80L, 0)),
      (106L, Multimodal.synthGridImage(90L, 0)),
      (110L, Array[Byte](9, 9, 9, 9, 9))).toDF("media_id", "payload")
    val (acc, report, ledger) = Curate.runIncrementalMediaTracked(
      batch, corpus, "media_id", "payload", log = _ => ())
    val accIds = acc.select("media_id").as[Long].collect().toSet
    assert(accIds == Set(103L, 106L), s"accepted: $accIds")
    assert(report.input == 7 && report.afterValid == 6 &&
      report.afterExact == 4 && report.afterNear == 2)
    val rows = ledger
      .select(col("media_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (101L, "exact", "duplicate_of_corpus", None),
      (102L, "near", "near_duplicate_of_corpus", Some(1L)),
      (104L, "near", "near_duplicate", Some(103L)),
      (105L, "exact", "duplicate_bytes", Some(103L)),
      (110L, "validity", "invalid_image", None)), s"ledger: $rows")
    assert((rows.map(_._1).toSet ++ accIds) ==
      Set(101L, 102L, 103L, 104L, 105L, 106L, 110L))
    // the train-once shape: stored byte fingerprints + dHash signature
    // table give the identical outcome with ZERO corpus decodes
    val fps = Curate.mediaFingerprints(corpus, "payload")
    val sigs = graft.dedup.Dedup.dhashSignatures(corpus, "media_id", "payload")
    val (accS, _) = Curate.runIncrementalMedia(batch, corpus,
      "media_id", "payload", corpusFps = Some(fps),
      corpusSigs = Some(sigs), log = _ => ())
    assert(accS.select("media_id").as[Long].collect().toSet == accIds)
    // a cross-wired family table fails loudly at the schema check
    val e = intercept[IllegalArgumentException] {
      Curate.runIncrementalMedia(batch, corpus, "media_id", "payload",
        corpusFps = Some(fps.select(col("_fp_img").as("_fp_text"))),
        log = _ => ())
    }
    assert(e.getMessage.contains("_fp_img"))
    graft.ops.StageCut.release(ledger)
    graft.ops.StageCut.release(acc); accS.unpersist(); corpus.unpersist()
  }

  test("runIncrementalEmbeddingTracked: validity/exact/near rejects " +
      "attributed over the vector stages") {
    import spark.implicits._
    val c = Seq(1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.0f, 1.0f))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      201L -> Seq(Float.NaN, 1.0f),    // invalid vector
      202L -> Seq(1.0f, 0.0f),         // exact dup of corpus 1
      203L -> Seq(0.99f, 0.0141f),     // cos vs corpus 1 ~ 0.990
      204L -> Seq(0.6f, 0.8f),         // within-batch near family...
      205L -> Seq(0.61f, 0.79f),       // ...drop 205, keep 204
      206L -> Seq(0.6f, 0.8f),         // exact dup of 204
      207L -> Seq(-1.0f, 0.0f))        // novel survivor
      .toDF("vec_id", "embedding")
    val m = SimilarityMethod.EmbeddingCosine(minCos = 0.95)
    val (acc, _, ledger) = Curate.runIncrementalEmbeddingTracked(
      batch, c, "vec_id", "embedding", m, log = _ => ())
    val accIds = acc.select("vec_id").as[Long].collect().toSet
    assert(accIds == Set(204L, 207L), s"accepted: $accIds")
    val rows = ledger
      .select(col("vec_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (201L, "validity", "invalid_vector", None),
      (202L, "exact", "duplicate_of_corpus", None),
      (203L, "near", "near_duplicate_of_corpus", Some(1L)),
      (205L, "near", "near_duplicate", Some(204L)),
      (206L, "exact", "duplicate_vector", Some(204L))), s"ledger: $rows")
    assert((rows.map(_._1).toSet ++ accIds) == (201L to 207L).toSet)
    graft.ops.StageCut.release(ledger)
    graft.ops.StageCut.release(acc)
  }

  test("AudioHash media path: full run and tracked daily run keep the " +
      "audio nouns in the report, the ledger and the log") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val audio = SimilarityMethod.AudioHash()
    // corpus run: 4 byte-copies 1 (exact), 3 is the AU re-encode of 2
    // (hash-identical, near), 9 carries no audio magic (validity)
    val corpus0 = Seq(
      (1L, Multimodal.synthStepWav(10L, 0)),
      (2L, Multimodal.synthStepWav(20L, 0)),
      (3L, Multimodal.synthStepAu(20L, 0)),
      (4L, Multimodal.synthStepWav(10L, 0)),
      (9L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)))
      .toDF("media_id", "payload")
    val fullLog = scala.collection.mutable.ArrayBuffer.empty[String]
    val (corpus, full) = Curate.runMedia(corpus0, "media_id", "payload",
      audio, m => fullLog.synchronized { fullLog += m })
    assert(corpus.select("media_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(full == Curate.MediaReport(5, 4, 3, 2, Map("wav" -> 2L)))
    assert(fullLog.toSeq == Seq(
      "[curate-img] audio magic: 5 -> 4",
      "[curate-img] exact byte dedup: 4 -> 3",
      "[curate-img] near dedup (hash <= 7): 3 -> 2",
      "[curate-img] kept 2 audios; formats: wav=2"), s"log: $fullLog")
    // daily batch against that corpus, every stage firing:
    //   101 byte-copies corpus 1           -> duplicate_of_corpus
    //   102 gain-half of corpus 1          -> near_duplicate_of_corpus(1)
    //   103 novel base                     -> kept
    //   104 one window poked off 103       -> near_duplicate(103)
    //   105 byte-copies 103                -> duplicate_bytes(103)
    //   106 unrelated base, AU container   -> kept
    //   110 no audio magic                 -> invalid_audio
    val batch = Seq(
      (101L, Multimodal.synthStepWav(10L, 0)),
      (102L, Multimodal.synthStepWav(10L, 1)),
      (103L, Multimodal.synthStepWav(40L, 0)),
      (104L, Multimodal.synthStepWav(40L, 3)),
      (105L, Multimodal.synthStepWav(40L, 0)),
      (106L, Multimodal.synthStepAu(50L, 0)),
      (110L, Array[Byte](9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9)))
      .toDF("media_id", "payload")
    val incLog = scala.collection.mutable.ArrayBuffer.empty[String]
    val (acc, report, ledger) = Curate.runIncrementalMediaTracked(
      batch, corpus, "media_id", "payload", audio,
      log = m => incLog.synchronized { incLog += m })
    val accIds = acc.select("media_id").as[Long].collect().toSet
    assert(accIds == Set(103L, 106L), s"accepted: $accIds")
    assert(report == Curate.MediaReport(7, 6, 4, 2,
      Map("wav" -> 1L, "au" -> 1L)))
    val rows = ledger
      .select(col("media_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (101L, "exact", "duplicate_of_corpus", None),
      (102L, "near", "near_duplicate_of_corpus", Some(1L)),
      (104L, "near", "near_duplicate", Some(103L)),
      (105L, "exact", "duplicate_bytes", Some(103L)),
      (110L, "validity", "invalid_audio", None)), s"ledger: $rows")
    assert(incLog.toSeq == Seq(
      "[curate-img+] audio magic: 7 -> 6",
      "[curate-img+] exact byte dedup (batch + corpus fps): 6 -> 4",
      "[curate-img+] near dedup vs corpus (hash <= 7): 4 -> 2",
      "[curate-img+] accepted 2 audios; formats: au=1, wav=1"),
      s"log: $incLog")
    graft.ops.StageCut.release(ledger)
    graft.ops.StageCut.release(acc); corpus.unpersist()
  }
}
