package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._

/** The cell-search machinery every ANN family shares: the normalized
  * base frame, the trained (or supplied) coarse cells, probe routing,
  * the cell-keyed candidate join with the bounded-heap per-probe top-k,
  * and the recall audit's overlap count. A family supplies only its
  * coded frame, its probe preparation (the exact `q` or a LUT) and its
  * score column; routing and top-k are the same plan for all of them.
  *
  * Candidate frames key probes by `probe_id`; ranking is ascending by
  * score with an id tie-break, so every cut is deterministic. */
private[graft] object CellSearch {

  /** The base frame `(id, v, nrm)` — one norm per vector, null and
    * non-finite-norm vectors dropped ([[Similarity.finiteNorm]]). The
    * output names are parameters so a probe side can use its own. */
  def normed(df: DataFrame, idCol: String, vecCol: String,
             names: (String, String, String) = ("id", "v", "nrm")): DataFrame = {
    val (id, v, nrm) = names
    df.select(col(idCol).as(id), col(vecCol).as(v),
        Similarity.norm(col(vecCol)).as(nrm))
      .filter(col(v).isNotNull && Similarity.finiteNorm(col(nrm)))
  }

  /** The coarse cells: a pre-trained [[CellIndex]]'s centroids, or
    * [[AutoBlock.fitCells]] over `base` with K from
    * [[AutoBlock.resolveCells]] (the count runs only on that path). */
  def cells(base: DataFrame, numCells: Int, refineIters: Int,
            index: Option[CellIndex]): Array[Array[Double]] =
    index.map(_.centroids).getOrElse(AutoBlock.fitCells(base,
      AutoBlock.resolveCells(numCells, base.count()), refineIters))

  /** Adds `cell`: the nearest centroid of each row's vector. */
  def assign(df: DataFrame, cents: Array[Array[Double]], v: String,
             nrm: String, cell: String): DataFrame =
    df.withColumn(cell,
      AutoBlock.nearestCellStruct(cents, col(v), col(nrm)).getField("cell"))

  /** Auto routing: each probe row exploded to its `nprobe` nearest
    * cells (cosine descending, cell id ascending on ties), keeping the
    * `keep` columns. */
  def routed(probes: DataFrame, cents: Array[Array[Double]], v: String,
             nrm: String, nprobe: Int, keep: Seq[String],
             cell: String): DataFrame =
    probes
      .withColumn("_cells", AutoBlock.routedCellIds(cents, col(v), col(nrm),
        math.min(nprobe, cents.length)))
      .select(keep.map(col) :+ explode(col("_cells")).as(cell): _*)

  /** Caller-`blockCol` routing: each probe of `prep` (which carries the
    * raw vector as `_pv`) keeps its `nprobe` blocks whose mean vector
    * is cosine-nearest, block id ascending on ties, carrying `q`. */
  def blockRouted(corpus: DataFrame, prep: DataFrame, vecCol: String,
                  blockCol: String, nprobe: Int): DataFrame =
    graft.ops.TopK.topKPerGroup(
        prep.crossJoin(broadcast(Similarity.centroids(corpus, blockCol, vecCol)))
          .withColumn("_csim",
            Similarity.cosine(col("centroid"), col("_pv"))),
        Seq("probe_id"), Seq(("_csim", false), (blockCol, true)),
        nprobe, "_crank")
      .select(col("probe_id"), col("q"), col(blockCol))

  /** The candidates: the coded corpus joined by `cell` against the
    * broadcast routing, each probe's own id excluded, scored. */
  def candidates(coded: DataFrame, routing: DataFrame, cell: String,
                 idCol: String, score: String, dist: Column): DataFrame =
    coded.join(broadcast(routing), Seq(cell))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn(score, dist)

  /** Each probe's `k` smallest `score`s (id tie-break) — the
    * bounded-heap [[graft.ops.TopK.topKPerGroup]], no full sort. */
  def nearest(cand: DataFrame, score: String, idCol: String, k: Int,
              rank: String): DataFrame =
    graft.ops.TopK.topKPerGroup(cand, Seq("probe_id"),
      Seq((score, true), (idCol, true)), k, rank)

  /** [[nearest]] as the families' result `(probe_id, rank, idCol, score)`. */
  def topK(cand: DataFrame, score: String, idCol: String, k: Int): DataFrame =
    nearest(cand, score, idCol, k, "rank")
      .select(col("probe_id"), col("rank"), col(idCol), col(score))

  /** The auto-cell search of the coded families: `coded` (evaluated
    * only when there are cells) is assigned to its nearest cell,
    * `prep` (from [[probesNormed]], carrying `carry`) is routed, and
    * each probe's top-k by `dist` is returned — or an empty result of
    * the same schema when there are no cells. */
  def autoTopK(prep: DataFrame, cents: Array[Array[Double]], vecCol: String,
               idCol: String, carry: String, score: String, dist: Column,
               nprobe: Int, k: Int)(coded: => DataFrame): DataFrame = {
    if (cents.isEmpty)
      return prep.select(col("probe_id"), lit(1L).as("rank"),
        col("probe_id").as(idCol), lit(0.0).as(score)).limit(0)
    val assigned = assign(coded
        .withColumn("_nrm", Similarity.norm(col(vecCol)))
        .filter(col(vecCol).isNotNull && Similarity.finiteNorm(col("_nrm"))),
      cents, vecCol, "_nrm", "_cell")
    topK(candidates(assigned,
        routed(prep, cents, "_pv", "_pnrm", nprobe, Seq("probe_id", carry),
          "_cell"),
        "_cell", idCol, score, dist), score, idCol, k)
  }

  /** The coded families' probe frame: `probe_id`, the exact probe `q`
    * in double, and the raw vector `_pv` with its norm `_pnrm` for
    * routing — null and non-finite-norm probes dropped. */
  def probesNormed(probes: DataFrame, idCol: String,
                   vecCol: String): DataFrame =
    probes.select(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("q"), col(vecCol).as("_pv"),
        Similarity.norm(col(vecCol)).as("_pnrm"))
      .filter(col("q").isNotNull && Similarity.finiteNorm(col("_pnrm")))

  /** The recall audits' probe frame `(probe_id, q)`, `q` the exact
    * probe in double — null probes dropped (they have no distance to
    * rank); zero-norm probes stay, squared L2 needs no direction. */
  def probesExact(probes: DataFrame, idCol: String,
                  vecCol: String): DataFrame =
    probes.select(col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("q"))
      .filter(col("q").isNotNull)

  /** Exact squared L2 between double arrays `q` and `v`, folded in
    * dimension order (cross-engine reproducible), rounded to 6dp. */
  def exactL2(q: Column, v: Column): Column = round(
    aggregate(sequence(lit(0), size(q) - 1), lit(0.0), (acc, i) => {
      val qi = element_at(q, i + 1)
      val vi = element_at(v, i + 1)
      acc + (qi - vi) * (qi - vi)
    }), 6)

  /** Per probe, how many rows of `top` are also in `exact` (both keyed
    * `(probe_id, idCol)`), as `(probe_id, name)`. The exact side is
    * made distinct first, so a corpus id held by several rows counts
    * once per top-k row and the figure never exceeds `k`. */
  def overlap(top: DataFrame, exact: DataFrame, idCol: String,
              name: String): DataFrame =
    top.select(col("probe_id"), col(idCol))
      .join(exact.select(col("probe_id"), col(idCol)).distinct()
        .withColumn("_hit", lit(1)), Seq("probe_id", idCol), "left")
      .groupBy(col("probe_id"))
      .agg(count(col("_hit")).as(name))

  /** The brute-force recall audit of a quantized family: every probe of
    * `prep` (carrying `q`) against every coded row, per probe the
    * count of the quantized top-k by `dist` that survive in the exact
    * squared-L2 top-k — `(probe_id, n_overlap)`. */
  def recall(coded: DataFrame, prep: DataFrame, vecCol: String,
             idCol: String, score: String, dist: Column, k: Int): DataFrame = {
    val scored = coded.withColumn("_v", col(vecCol).cast("array<double>"))
      .crossJoin(broadcast(prep))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn(score, dist)
      .withColumn("xdist", exactL2(col("q"), col("_v")))
    overlap(nearest(scored, score, idCol, k, "_ar"),
        nearest(scored, "xdist", idCol, k, "_xr"), idCol, "n_overlap")
      .select(col("probe_id"), col("n_overlap"))
  }

  /** The one dimension of every non-null vector in `df`; fails with
    * `empty` when there is none and `ragged(lo, hi)` when the
    * dimensions differ. Each partition folds its sizes to one
    * `(min, max)` pair and the driver folds those: one job and no
    * shuffle, and no job at all when the frame is a local scan (a
    * probe batch built on the driver). */
  def uniformDim(df: DataFrame, vecCol: String, empty: => String,
                 ragged: (Int, Int) => String): Int = {
    val sizes = df.filter(col(vecCol).isNotNull).select(size(col(vecCol)))
    val spans: Array[(Int, Int)] = sizes.queryExecution.executedPlan match {
      case _: LocalTableScanExec =>
        sizes.collect().map(r => (r.getInt(0), r.getInt(0)))
      case _ =>
        sizes.queryExecution.toRdd.mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            var lo = Int.MaxValue; var hi = Int.MinValue
            it.foreach { r =>
              val d = r.getInt(0); lo = math.min(lo, d); hi = math.max(hi, d)
            }
            Iterator((lo, hi))
          }
        }.collect()
    }
    require(spans.nonEmpty, empty)
    val (lo, hi) = (spans.map(_._1).min, spans.map(_._2).max)
    require(lo == hi, ragged(lo, hi))
    lo
  }
}
