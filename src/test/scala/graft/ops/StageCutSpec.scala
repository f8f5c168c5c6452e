package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StageCut — the lineage-cut stage boundary: every boundary cuts
  * eagerly, a checkpoint dir turns the local cut into a reliable one
  * with identical results (the dir only trades storage for
  * executor-loss recovery), and release must free what each cut
  * allocated. */
class StageCutSpec extends SparkSpec {
  import spark.implicits._

  private def isCut(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Restores the no-checkpoint-dir default (the setter is
    * private[spark] — public in bytecode). */
  private def clearCheckpointDir(): Unit =
    spark.sparkContext.getClass
      .getMethod("checkpointDir_$eq", classOf[Option[String]])
      .invoke(spark.sparkContext, None)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("every boundary cuts: the returned frame is an eager root checkpoint") {
    val small = spark.range(100).toDF("id")
      .withColumn("x", col("id") * 2)
      .filter(col("x") % 3 === 0)
    var grown = small
    (1 to 96).foreach { i => grown = grown.withColumn(s"c$i", col("id") + i) }
    for (df <- Seq(small, grown)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val cut = StageCut(df)
      assert(isCut(cut), "a boundary must cut the lineage at any plan size")
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
        "the cut must hold its blocks when apply returns")
      assert(cut.count() == df.count())
      StageCut.release(cut)
    }
  }

  test("a Curate run under withReliableCuts equals the local-cut run") {
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("source"), col("text"))
    def runOnce(): Seq[(Long, Long)] = {
      val (out, rep) = graft.apps.Curate.run(docs, "doc_id", "text",
        0.6, graft.dedup.SimilarityMethod.MinHashLsh(minJaccard = 0.6),
        log = _ => ())
      val ids = out.select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).as("nt"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      StageCut.release(out)
      assert(rep.afterNear == ids.size.toLong)
      ids
    }
    val local = runOnce()
    val dir = tempDir("graft-sc-curate")
    val reliable = StageCut.withReliableCuts(spark, dir) { runOnce() }
    assert(reliable == local, "reliable cuts diverged from the local-cut run")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("release frees the checkpointed RDD deterministically") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cut = StageCut(spark.range(1000).toDF("id"))
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the cut persisted no RDD")
    StageCut.release(cut)
    val after = sc.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)),
      "release left checkpoint blocks for GC (plain unpersist cannot " +
        "reach a cut frame's RDD)")
  }

  test("a session checkpoint dir gives a reliable cut equal to the local one") {
    val df = spark.range(500).toDF("id")
      .withColumn("v", col("id") * 7 % 13)
    val local = StageCut(df)
    val expected = local.as[(Long, Long)].collect().sorted
    StageCut.release(local)
    val dir = tempDir("graft-sc-dir")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
    sc.setCheckpointDir(dir)
    try {
      val cut = StageCut(df)
      val file = cut.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile
        case _ => None
      }
      assert(file.exists(_.contains(dir)),
        s"with a checkpoint dir the cut must write under it, got $file")
      assert(cut.as[(Long, Long)].collect().sorted.toSeq == expected.toSeq,
        "reliable cut diverged from the local cut")
      StageCut.release(cut)
      assert(!new java.io.File(new java.net.URI(file.get)).exists(),
        "release must delete a reliable cut's files")
    } finally {
      clearCheckpointDir()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("reliable mode checkpoints to the dir, equals local, and cleans up") {
    val dir = tempDir("graft-sc-rel")
    val df = spark.range(500).toDF("id")
      .withColumn("v", col("id") * 7 % 13)
    val expected = {
      val c = StageCut(df); val r = c.as[(Long, Long)].collect().sorted
      StageCut.release(c); r
    }
    val got = StageCut.withReliableCuts(spark, dir) {
      val c = StageCut(df)
      // the cut's data lives in FILES under the scope's resolved dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(files > 0, "reliable cut wrote no checkpoint directory")
      c.as[(Long, Long)].collect().sorted
      // not released: the scope's exit must remove its files anyway
    }
    assert(got.toSeq == expected.toSeq,
      "reliable cut diverged from the local cut")
    // scope exit removed the resolved dir and restored the dir
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val leftover = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count()
    assert(leftover == 0, s"withReliableCuts left $leftover entries in $dir")
  }
}
