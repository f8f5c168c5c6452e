package graft.apps

import graft.dedup.{Dedup, SimilarJoin, SimilarityMethod}
import graft.ops.StageCut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The stages [[Curate]] and [[PretrainPrep]] share, written once: the
  * drop ledger, the batch exact-dedup keys with their ledger
  * attribution, and the near-dup stage within one frame and against a
  * standing corpus. Every helper keeps the pipelines' stage rule: a
  * stage frame is cut ([[StageCut]]) and counted before the frames it
  * was built from are released. */
private[apps] object Stages {

  /** The per-document drop ledger of a tracked run: fragments of
    * `(idCol, stage, reason, winner_id)` rows, each materialized when it
    * is added — BEFORE the caller releases the frames it reads — and
    * unioned by [[result]]. A ledger that is off evaluates nothing. */
  final class DropLedger(val on: Boolean, idCol: String, idType: DataType) {
    private val frags = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private def noWin: Column = lit(null).cast(idType)

    /** Adds the rows of `rows` under `stage` and `reason`; `winner`
      * names the surviving twin where the drop has one. */
    def drop(rows: => DataFrame, stage: String, reason: Column,
             winner: Column = noWin): Unit = if (on) {
      frags += StageCut(rows.select(col(idCol), lit(stage).as("stage"),
        reason.as("reason"), winner.as("winner_id")))
    }

    /** The ids of `from` that are missing from `to` — what one stage
      * dropped — found by an id-column anti-join. */
    def lost(from: DataFrame, to: DataFrame, stage: String,
             reason: String): Unit =
      drop(from.select(col(idCol))
        .join(to.select(col(idCol)), Seq(idCol), "left_anti"),
        stage, lit(reason))

    /** The ledger, materialized, with its fragments released; None when
      * the ledger is off. */
    def result(): Option[DataFrame] =
      if (!on) None
      else {
        val l = StageCut(frags.reduce(_.unionByName(_)))
        frags.foreach(StageCut.release)
        Some(l)
      }
  }

  object DropLedger {
    /** The ledger of an untracked run. */
    val off: DropLedger = new DropLedger(false, "", org.apache.spark.sql.types.NullType)
  }

  /** Exact-dedup keys of a batch: the min id per `_fp` over its
    * `(_fp, idCol)` pairs. With the ledger on the pairs are
    * materialized once, so [[attribute]] does not fingerprint the batch
    * content again. */
  final class MinIdPerFp(ledger: DropLedger, fpIds: DataFrame, idCol: String) {
    private val held = if (ledger.on) Some(StageCut(fpIds)) else None
    val keepIds: DataFrame = held.getOrElse(fpIds)
      .groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))

    /** The exact stage's ledger rows; then the held pairs are released.
      * A batch-only duplicate names its min-id winner under `dupReason`.
      * A fingerprint among the corpus `hits` drops ALL its batch holders
      * as `duplicate_of_corpus` with a NULL winner: the fingerprint
      * table has no ids. */
    def attribute(dupReason: String, hits: Option[DataFrame] = None): Unit =
      held.foreach { fa =>
        val pairs = fa.join(keepIds.withColumnRenamed(idCol, "_win"), Seq("_fp"))
        hits match {
          case None =>
            ledger.drop(pairs.filter(col(idCol) =!= col("_win")), "exact",
              lit(dupReason), col("_win"))
          case Some(h) =>
            val inCorpus = col("_c").isNotNull
            ledger.drop(pairs.join(h.withColumn("_c", lit(true)), Seq("_fp"), "left")
                .filter(inCorpus || col(idCol) =!= col("_win")), "exact",
              when(inCorpus, lit("duplicate_of_corpus")).otherwise(lit(dupReason)),
              when(inCorpus, lit(null)).otherwise(col("_win")))
        }
        StageCut.release(fa)
      }
  }

  /** Near-dup stage within one frame: every non-representative member
    * of a `clusters` component (`cluster != id`) leaves `rows`. With the
    * ledger on the (id, representative) drop pairs are materialized once
    * and shared by the anti-join and the `near_duplicate` rows. Returns
    * the cut survivors and their count. */
  def nearWithin(ledger: DropLedger, rows: DataFrame, clusters: DataFrame,
                 idCol: String): (DataFrame, Long) = {
    val drops = clusters.filter(col("cluster") =!= col("id"))
    val held =
      if (ledger.on)
        Some(StageCut(drops.select(col("id").as(idCol), col("cluster").as("_win"))))
      else None
    val kept = StageCut(rows.join(held.map(_.select(col(idCol)))
      .getOrElse(drops.select(col("id").as(idCol))), Seq(idCol), "left_anti"))
    val n = kept.count()
    held.foreach { p =>
      ledger.drop(p, "near", lit("near_duplicate"), col("_win"))
      StageCut.release(p)
    }
    (kept, n)
  }

  /** Near-dup stage of a batch against a standing corpus
    * ([[batchNearDrops]]): `shape` is applied to the surviving batch
    * rows before the cut. With the ledger on the drop rows are
    * materialized once and shared by the anti-join and the
    * `near_duplicate(_of_corpus)` rows. Returns the cut survivors and
    * their count. */
  def nearVsCorpus(ledger: DropLedger, batch: DataFrame, corpus: DataFrame,
                   idCol: String, contentCol: String,
                   method: SimilarityMethod, corpusSigs: Option[DataFrame],
                   shape: DataFrame => DataFrame = identity): (DataFrame, Long) = {
    val drops = batchNearDrops(batch, corpus, idCol, contentCol, method, corpusSigs)
    val held = if (ledger.on) Some(StageCut(drops)) else None
    val kept = StageCut(shape(batch.join(held.getOrElse(drops).select(col(idCol)),
      Seq(idCol), "left_anti")))
    val n = kept.count()
    held.foreach { d =>
      ledger.drop(d, "near", when(col("_corpus"), lit("near_duplicate_of_corpus"))
        .otherwise(lit("near_duplicate")), col("_win"))
      StageCut.release(d)
    }
    (kept, n)
  }

  /** The DROP rows of the incremental near-dup stage — `(idCol, _win,
    * _corpus)`. One connected-components pass runs over within-batch
    * pairs ([[SimilarJoin.similarJoin]]) plus batch×corpus pairs
    * ([[SimilarJoin.similarJoinAgainst]] — candidate work ∝ |batch|, the
    * corpus costs one signature pass). A batch row drops if its
    * component touches the corpus (it near-duplicates standing content,
    * directly or transitively through other batch rows) or if it is a
    * non-representative (non-min-id) member of a batch-only component.
    * `_win` is the surviving twin it is attributed to: for a batch-only
    * component the cluster label (the min-id member, the one row that
    * survives); for a corpus-touched component the label itself may be
    * a DROPPED batch doc (the whole component drops), so `_win` is the
    * component's min CORPUS member instead — a real survivor. Both pair
    * finders persist their lists internally; dupClusters materializes
    * its edge snapshot up front, after which the lists are released. */
  def batchNearDrops(batch: DataFrame, corpus: DataFrame,
                     idCol: String, contentCol: String,
                     method: SimilarityMethod,
                     corpusSigs: Option[DataFrame]): DataFrame = {
    val batchPairs = SimilarJoin.similarJoin(batch, idCol, contentCol, method)
    val crossPairs = SimilarJoin.similarJoinAgainst(batch, corpus,
      idCol, contentCol, method, corpusSigs = corpusSigs)
    val edges = batchPairs.select(col("id_a"), col("id_b"))
      .unionByName(crossPairs.select(col("id_a"), col("id_b")))
    val clusters = Dedup.dupClusters(edges)
    batchPairs.unpersist(); crossPairs.unpersist()
    // which component members are CORPUS docs? The corpus id column is
    // corpus-sized — probe it with the broadcast component member ids
    // (candidate-scale: only docs touched by an edge) instead of
    // shuffling it; the min corpus member per component (the ledger's
    // winner AND the corpus-touched marker) is then broadcast into
    // both joins (one scan, reused exchange, no standing-table shuffle
    // — the corpusFpHits shape).
    val corpusHits = corpus.select(col(idCol).as("id"))
      .join(broadcast(clusters.select(col("id"))), Seq("id"), "left_semi")
    // components containing ANY corpus member: every batch doc inside
    // near-duplicates standing content — drop them all (the component
    // label itself may be a batch id, so label math alone is not enough)
    val corpusWin = clusters
      .join(broadcast(corpusHits), Seq("id"), "left_semi")
      .groupBy(col("cluster")).agg(min(col("id")).as("_cwin"))
    val batchMembers = clusters.join(broadcast(corpusHits), Seq("id"), "left_anti")
    batchMembers
      .join(broadcast(corpusWin), Seq("cluster"), "left")
      .filter(col("id") =!= col("cluster") || col("_cwin").isNotNull)
      .select(col("id").as(idCol),
        coalesce(col("_cwin"), col("cluster")).as("_win"),
        col("_cwin").isNotNull.as("_corpus"))
  }
}
