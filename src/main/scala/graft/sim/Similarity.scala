package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Scale design: the probe side of top-k is a single row → broadcast
  * cross join, so the scan of the big side stays embarrassingly
  * parallel with no shuffle until the final top-k (a `TakeOrdered`
  * on k rows per partition). The pairwise variant is blocked by a
  * coarse partition key (IVF-style cell; here the `label` column plays
  * that role) so the quadratic work stays inside cells — at 1000
  * executors each cell's pair set is local to its shuffle partition.
  * Dot products are computed in double via `zip_with`+`aggregate`
  * (deterministic left-fold, reproducible across engines).
  */
object Similarity {

  /** Dot product — native Catalyst expression (graft.functions
    * .DotProduct, codegen'd tight loop). Same left-to-right accumulation
    * order as the composable form, so results are bit-identical. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftExtensions.dot(a, b)

  /** The composable (zip_with + aggregate) form — reference
    * implementation the native expression is verified against. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The base-frame vector guard: `n > 0` alone is NOT a NaN guard —
    * Spark orders NaN GREATER than every number, so a NaN norm passes
    * it, and one NaN (or Inf-overflowed) vector then poisons trained
    * centroids/radii and produces NaN cosines that out-compare every
    * real score. Every norm filter in the similarity layer routes
    * through this predicate. */
  def finiteNorm(n: Column): Column =
    !isnan(n) && n > 0 && n < lit(Double.PositiveInfinity)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against one probe vector (by id).
    * Baseline for ANN; exact answer. The probe's norm is folded in
    * before the broadcast so per-row work is one dot + one own-norm.
    *
    * Zero-norm vectors are dropped on BOTH sides (here and in the
    * blocked/IVF variants): their cosine is 0/0 = NaN, and Spark
    * orders NaN above every number — one all-zeros embedding in a
    * 100 TB corpus would otherwise head every top-k list and pass
    * every similarity threshold. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 probeId: Long, k: Int): DataFrame = {
    val probe = emb.filter(col(idCol) === probeId)
      .select(col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
      .filter(finiteNorm(col("probe_norm")))
    emb.filter(col(idCol) =!= probeId && finiteNorm(norm(col(vecCol))))
      .crossJoin(broadcast(probe))
      .select(col(idCol),
        round(dot(col(vecCol), col("probe_vec"))
          / (norm(col(vecCol)) * col("probe_norm")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Blocked near-duplicate pairs: quadratic verification only inside a
    * coarse block (IVF-cell analogue). Returns (id_a, id_b, cos_sim).
    * Norms are computed ONCE per vector before the self-join — per pair
    * only the dot product remains (~3x fewer float ops than naive
    * cosine-per-pair; at n² pairs per cell that dominates the stage). */
  def nearDupPairsBlocked(emb: DataFrame, idCol: String, vecCol: String,
                          blockCol: String, minCos: Double): DataFrame = {
    val normed = emb.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .filter(finiteNorm(col("nrm"))) // NaN/Inf-cosine guard
    val l = normed.select(col("blk"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val r = normed.select(col("blk"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    l.join(r, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-block centroids as arrays (block → mean vector), via the
    * [[VectorAgg.vectorMean]] typed Aggregator: vectors fold into one
    * running double[] per group MAP-SIDE, so the shuffle carries one
    * partial per (block × partition) instead of the dim× row blowup a
    * posexplode plan pays. */
  def centroids(emb: DataFrame, blockCol: String, vecCol: String): DataFrame =
    emb.groupBy(col(blockCol))
      .agg(VectorAgg.vectorMeanCol(col(vecCol)).as("centroid"))

  /** IVF-style ANN top-k: rank cells (blocks) by centroid similarity to
    * the probe, then brute-force ONLY the top `nprobe` cells. At scale the
    * centroid table is tiny (broadcast both ways); the expensive scan
    * touches nprobe/#cells of the data instead of all of it, and the
    * final top-k is a TakeOrdered (k rows per partition, no full sort). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, blockCol: String,
              probeId: Long, nprobe: Int, k: Int): DataFrame = {
    val probe = emb.filter(col(idCol) === probeId)
      .select(col(vecCol).as("probe_vec"))
      .filter(finiteNorm(norm(col("probe_vec"))))
    val topCells = centroids(emb, blockCol, vecCol)
      .crossJoin(broadcast(probe))
      .orderBy(cosine(col("centroid"), col("probe_vec")).desc)
      .limit(nprobe)
      .select(col(blockCol))
    emb.join(broadcast(topCells), Seq(blockCol), "left_semi")
      .filter(col(idCol) =!= probeId && finiteNorm(norm(col(vecCol))))
      .crossJoin(broadcast(probe))
      .select(col(idCol),
        round(cosine(col(vecCol), col("probe_vec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** BATCH IVF ANN: top-k neighbors for EVERY probe row — the shape a
    * retrieval pipeline actually runs (one probe id is a debugging
    * convenience; production joins a whole query table against the
    * index). Corpus vectors are assigned to self-trained cells once
    * ([[AutoBlock]], codegen'd centroid literals, zero shuffle); each
    * probe is routed to its `nprobe` nearest cells by ONE codegen'd
    * sort of the K (cosine, cell) structs (no per-probe centroid job,
    * no crossJoin row blow-up); candidates join probe×corpus by cell —
    * the only shuffles, both on the cell key — and each probe's top k
    * comes from the bounded-heap [[graft.ops.TopK.topKPerGroup]]
    * operator, O(n log k) per partition with NO full sort anywhere.
    * Vectors ride the cell join: the keys-only join with a by-id
    * vector fetch afterwards moved 8.2× the shuffle bytes (1042 MB vs
    * 127 MB at dim 256, 20k corpus × 1k probes), because its
    * candidate list outnumbers both inputs.
    *
    * Returns (pid, id, cos_sim, rn) with rn = 1..k per probe, ordered.
    * Probes are not excluded from their own results: probe and corpus
    * ids are independent spaces in general — when probing the corpus
    * with itself, drop `pid === id` rows at the call site. Zero-norm
    * rows on either side are dropped (NaN-cosine guard). nprobe >=
    * numCells searches every cell ⇒ exact per-probe brute force (the
    * spec-pinned identity, the standard IVF recall dial).
    *
    * `numCells = 0` (the default) derives K from the corpus count
    * ([[AutoBlock.resolveCells]]); a pre-trained [[CellIndex]] skips
    * training entirely (numCells/refineIters are then ignored) — the
    * train-once/query-many production shape, bit-identical to inline
    * training on the same corpus (CellIndexSpec pins it). */
  def ivfTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                   probes: DataFrame, probeIdCol: String, probeVecCol: String,
                   nprobe: Int, k: Int,
                   numCells: Int = 0, refineIters: Int = 1,
                   index: Option[CellIndex] = None): DataFrame = {
    val base = CellSearch.normed(emb, idCol, vecCol)
    val p0 = CellSearch.normed(probes, probeIdCol, probeVecCol,
      ("pid", "pv", "pnrm"))
    val cents = CellSearch.cells(base, numCells, refineIters, index)
    if (cents.isEmpty)
      return p0.select(col("pid"), col("pid").as("id"),
        lit(0.0).as("cos_sim"), lit(1).as("rn")).limit(0)
    val assigned = CellSearch.assign(base, cents, "v", "nrm", "cell")
    val routed = CellSearch.routed(p0, cents, "pv", "pnrm", nprobe,
      Seq("pid", "pv", "pnrm"), "cell")
    val cand = routed.join(assigned, Seq("cell")).select(col("pid"),
      col("id"), round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
        .as("cos_sim"))
    graft.ops.TopK.topKPerGroup(cand, Seq("pid"),
        Seq(("cos_sim", false), ("id", true)), k)
      .orderBy(col("pid"), col("rn"))
  }

  /** Per-block centroids in long format (block, pos, avg component) —
    * the k-means/IVF training step's inner aggregate. Long format keeps
    * the aggregation a plain hash-agg on (block, pos). */
  def centroidsLong(emb: DataFrame, blockCol: String, vecCol: String): DataFrame =
    emb.select(col(blockCol), posexplode(col(vecCol)).as(Seq("pos0", "v")))
      .select(col(blockCol), (col("pos0") + 1).as("pos"), col("v").cast("double").as("v"))
      .groupBy(col(blockCol), col("pos"))
      .agg(round(avg(col("v")), 6).as("avg_v"))
      .orderBy(col(blockCol), col("pos"))
}
