package graft.ops

import org.apache.spark.sql.DataFrame

/** Pipeline STAGE BOUNDARY: materialize a stage's frame and cut its
  * lineage. The multi-stage pipelines ([[graft.apps.Curate]],
  * [[graft.apps.PretrainPrep]]) chain 5-9 operators, each stage
  * persisted and counted; persist() alone leaves the LOGICAL plan
  * intact, so every downstream action re-enters Catalyst analysis over
  * the whole composed tree, and that driver-side constant grows
  * superlinearly with plan size (quadratically across loop iterations).
  * Measured on the q128 gate at sf0.1: 43.7 s with chained persists vs
  * 10.8 s with stage cuts — identical results, all the difference in
  * plan re-analysis, none in data work.
  *
  * Every boundary cuts. A persist path gated on the analyzed-plan size
  * was tried (round 13, a 96-node gate); the round-16 A/B — all eight
  * pipeline gates at sf0.1, min-of-2 timing, clean contention canaries
  * — found cut-always winning or tying EVERY gate (q118 8.36→5.82 s,
  * q129 27.6→24.1, q72 16.5→14.6, q70 11.8→10.3, q65 5.4→4.1, q126
  * 6.7→6.1, q71/q128 neutral; −11.6 s over the set), so it is gone.
  *
  * The recovery trade: a LOCALLY checkpointed stage cannot be
  * recomputed after executor loss (the job fails and the driver
  * retries the run). Every pipeline stage in this engine is
  * deterministic (seeded hashes, min-id winners), so a retry
  * reproduces the identical output — acceptable on local[*] and small
  * clusters. Where executor churn is routine, set a checkpoint dir
  * (`sparkContext.setCheckpointDir`, or scope one with
  * [[withReliableCuts]]): cuts then go through a RELIABLE checkpoint
  * (HDFS/object-store files) that survives any executor loss, keeping
  * the analysis win without the recovery trade — the same rule
  * [[graft.dedup.Dedup.dupClusters]] applies to its round snapshots.
  *
  * Cleanup: release stage frames with [[release]] — plain
  * `Dataset.unpersist` only clears CacheManager entries and cannot
  * reach the RDD a cut frame was rebased onto (those blocks would
  * otherwise wait for driver GC via ContextCleaner — fine for a few
  * stages, unbounded for a long training loop). release also deletes a
  * reliable cut's checkpoint files.
  */
object StageCut {

  /** Cut `df` EAGERLY: its blocks exist when this returns (one
    * dedicated materialization job), so a caller may release the
    * frames it was built from right away. A reliable `checkpoint` when
    * the session has a checkpoint dir, else a `localCheckpoint`. */
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Deterministically free a frame RETURNED BY [[apply]] (or any
    * eager checkpoint). Only a ROOT-level checkpoint RDD is released —
    * the shape apply() returns — so calling this on a frame that
    * merely CONTAINS someone else's cut frame in its plan (a derived
    * frame) never frees blocks the caller still needs; those get a
    * normal unpersist. A reliable cut's checkpoint files are deleted
    * (best-effort — an already-gone directory is fine). */
  def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { p =>
          try {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(
                df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(path, true)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      case _ => ()
    }
    df.unpersist()
  }

  /** Run `body` with `dir` as the session's checkpoint dir — the
    * cluster-deployment scope: every [[apply]] cut inside is a
    * reliable checkpoint and every [[graft.dedup.Dedup.dupClusters]]
    * call runs its parquet-snapshot rounds. On exit the previous
    * checkpoint dir is restored and the scope's resolved directory is
    * deleted — setCheckpointDir creates a fresh UUID subdir per call,
    * so everything under it (rdd-* checkpoints a release missed, the
    * `graft-dup-clusters-*` snapshots backing returned cluster frames)
    * belongs to this scope. Materialize results INSIDE the body —
    * after the scope exits, a cut frame's disk backing is gone and
    * re-evaluating it fails loudly, not silently.
    *
    * SINGLE-CALLER scope: the checkpoint dir is GLOBAL session state —
    * concurrent jobs on the same SparkSession would checkpoint into
    * this scope's directory and lose their files when the scope
    * deletes it. Run one reliable scope at a time per session. */
  def withReliableCuts[T](spark: org.apache.spark.sql.SparkSession,
                          dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    val resolved = sc.getCheckpointDir
    try body
    finally {
      // the setter is private[spark] but public in bytecode; None
      // restores the no-checkpoint-dir default. A reflection failure
      // degrades to a warning — and SKIPS the directory delete below:
      // the global checkpoint dir still points inside this scope's
      // dir, and deleting it would leave session state aimed at a path
      // every later checkpoint would fail to write.
      val restored =
        try {
          sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[String]])
            .invoke(sc, prevDir)
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[graft.ops] withReliableCuts: could not restore the " +
                s"checkpoint dir (${e.getClass.getSimpleName}); it remains " +
                s"set under '$dir', which is therefore NOT deleted")
            false
        }
      if (restored) {
        try resolved.foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () } // best-effort
      }
    }
  }
}
