package graft.dedup

import graft.sim.{AutoBlock, CellIndex, CellSearch, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Which candidate-generation family a [[SimilarJoin.similarJoin]] call
  * uses. Every method is bucketed (never all-pairs): candidates share a
  * band/block key, the exact score is computed only inside buckets, and
  * degenerate hot buckets are dropped loudly under the shared
  * `maxBucket` cap. */
sealed trait SimilarityMethod

object SimilarityMethod {

  /** MinHash-LSH over `nGram`-shingled text; score = exact n-gram
    * Jaccard similarity in [0,1], kept when >= `minJaccard`. */
  case class MinHashLsh(nGram: Int = 3, bands: Int = 4,
                        minJaccard: Double = 0.0) extends SimilarityMethod

  /** 32-bit SimHash with byte-banding; score = Hamming distance in
    * [0,32] (LOWER is closer), kept when <= `maxHamming`. Exact recall
    * up to Hamming 3, band-approximate beyond. */
  case class SimHash(maxHamming: Int = 3) extends SimilarityMethod

  /** The 64-bit perceptual-hash family over binary MEDIA payloads —
    * what the Curate media pipelines accept: byte-banded over 8 bands,
    * score = Hamming distance in [0,64] (LOWER is closer), kept when
    * <= `maxHamming`, exact recall up to Hamming 7 (pigeonhole),
    * band-approximate beyond. Rows whose payload doesn't decode have
    * no hash and never pair. */
  sealed trait PerceptualHash extends SimilarityMethod {
    def maxHamming: Int
  }

  /** 64-bit perceptual image dHash
    * ([[graft.multimodal.Multimodal.dHash64]]); the content column is
    * a BINARY image payload (PNG/JPEG/GIF/BMP). Rows whose payload
    * doesn't decode to a >= 9×8 image have no hash. */
  case class ImageDHash(maxHamming: Int = 7) extends PerceptualHash

  /** 64-bit perceptual audio hash
    * ([[graft.multimodal.Multimodal.aHash64]] — 65-window PCM energy
    * gradient); the content column is a BINARY audio payload
    * (WAV/AIFF/AU). Catches the container re-encodes and uniform gain
    * shifts byte dedup is blind to. Rows whose payload doesn't decode
    * to >= 65 PCM frames have no hash. */
  case class AudioHash(maxHamming: Int = 7) extends PerceptualHash

  /** Embedding cosine; score = cosine similarity in [-1,1], kept when
    * >= `minCos`. The content column must be an array vector.
    *
    * With `blockCol = Some(c)` the caller supplies the coarse cells and
    * pairs straddling cell boundaries are NOT found (the pre-round-6
    * behavior, kept for corpora that are already quantized). With the
    * default `blockCol = None` the operator trains its own
    * `numCells` angular centroids ([[graft.sim.AutoBlock]], k-means
    * with `refineIters` refinement step(s)) and verifies every cell
    * PAIR the triangle-inequality bound cannot exclude — an EXACT
    * join: the result equals brute force at any centroid quality,
    * which only steers how much work the bound prunes.
    *
    * `numCells = 0` (the default) derives K from the corpus count
    * ([[graft.sim.AutoBlock.resolveCells]]) so cell populations stay
    * bounded as the corpus grows; a positive value pins K (what the
    * gate queries do). A pre-trained `index`
    * ([[graft.sim.CellIndex]]) skips training entirely — exactness is
    * unaffected either way (radii are always recomputed over the frame
    * actually joined; centroid quality only steers pruning cost). */
  case class EmbeddingCosine(minCos: Double,
                             blockCol: Option[String] = None,
                             numCells: Int = 0,
                             refineIters: Int = 1,
                             index: Option[graft.sim.CellIndex] = None)
    extends SimilarityMethod

  object EmbeddingCosine {
    /** Caller-supplied blocking — the original two-arg form. */
    def apply(blockCol: String, minCos: Double): EmbeddingCosine =
      EmbeddingCosine(minCos, Some(blockCol))
  }
}

/** The one similarity-join operator a 100 TB pipeline calls.
  *
  * [[similarJoin]] unifies the three pair finders — text MinHash-LSH,
  * text SimHash, embedding cosine — behind a single signature with the
  * scale knobs shared across all of them:
  *
  *  - `maxBucket`: the hot-bucket escape hatch ([[Dedup.dropHotBuckets]])
  *    bounds the worst single-bucket quadratic cost; oversized buckets
  *    are dropped LOUDLY, never silently.
  *  - `cacheSignatures`: signatures/norms are computed once, persisted
  *    MEMORY_AND_DISK for the self-join's two sides, and released once
  *    the pair list is materialized — at 100 TB the upstream pipeline is
  *    far too expensive to evaluate four times.
  *  - checkpointing: feed the result to [[Dedup.dupClusters]] (or call
  *    [[similarClusters]]) and the clustering loop uses a RELIABLE
  *    `checkpoint()` whenever `spark.sparkContext.setCheckpointDir` is
  *    configured — the fault-tolerance knob for multi-hour cluster runs.
  *
  * Output schema is uniform: `(id_a, id_b, score)` with `id_a < id_b`,
  * one row per distinct pair, totally ordered — the score's meaning and
  * keep-direction per method are documented on [[SimilarityMethod]]. */
object SimilarJoin {

  def similarJoin(df: DataFrame, idCol: String, contentCol: String,
                  method: SimilarityMethod,
                  cacheSignatures: Boolean = true,
                  maxBucket: Int = Dedup.defaultMaxBucket): DataFrame =
    method match {
      case SimilarityMethod.MinHashLsh(n, b, mj) =>
        Dedup.lshNearDupPairs(df, idCol, contentCol, n, b, mj,
            cacheSignatures, maxBucket)
          .withColumnRenamed("jaccard", "score")
      case SimilarityMethod.SimHash(mh) =>
        Dedup.simhashNearDupPairs(df, idCol, contentCol, mh,
            cacheSignatures, maxBucket)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("double").as("score"))
      case SimilarityMethod.ImageDHash(mh) =>
        Dedup.imageNearDupPairs(df, idCol, contentCol, mh,
            cacheSignatures, maxBucket)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("double").as("score"))
      case SimilarityMethod.AudioHash(mh) =>
        Dedup.audioNearDupPairs(df, idCol, contentCol, mh,
            cacheSignatures, maxBucket)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("double").as("score"))
      case SimilarityMethod.EmbeddingCosine(minCos, Some(blockCol), _, _, _) =>
        embeddingPairs(df, idCol, contentCol, blockCol, minCos,
          cacheSignatures, maxBucket)
      case SimilarityMethod.EmbeddingCosine(minCos, None, cells, iters, idx) =>
        val (base, assigned, verified) = autoEmbeddingPlan(df, idCol,
          contentCol, minCos, cells, iters, cacheSignatures, maxBucket, idx)
        materialized(verified, cacheSignatures, assigned.toSeq :+ base)
    }

  /** Two-sided (A vs B) similarity join — the INCREMENTAL-curation
    * shape: today's batch of new documents paired against the existing
    * curated corpus, never corpus × corpus. Candidates are the
    * new-side signatures probed into the corpus-side bucket index
    * (band keys for the text methods, trained cells for embeddings),
    * so a daily 1% batch costs ~1% of the self-join's candidate work
    * plus one pass over the corpus for its signatures — instead of
    * re-pairing 100% of the corpus ([[similarJoin]]'s only shape
    * before round 7).
    *
    * Output is `(id_a, id_b, score)` with `id_a` from `newDf` and
    * `id_b` from `corpusDf` — the two id spaces are independent (no
    * `id_a < id_b` canonicalization; a row present on BOTH sides under
    * the same id will pair with itself). Scoring, thresholds and the
    * `maxBucket` hot-bucket cap match [[similarJoin]] per method; for
    * embeddings the A-vs-B blocking is EXACT by the same
    * triangle-inequality argument ([[graft.sim.AutoBlock
    * .qualifyingCellPairsAB]]), with cells trained on the CORPUS side
    * (the index side — or supplied via a pre-trained
    * [[graft.sim.CellIndex]], the train-once production shape). For
    * the text methods the train-once artifact is `corpusSigs`
    * ([[Dedup.lshSignatures]] for MinHashLsh,
    * [[Dedup.simhashSignatures]] for SimHash — the corpus text is then
    * never re-read; loud error with an embedding method, whose
    * artifact is the index). */
  def similarJoinAgainst(newDf: DataFrame, corpusDf: DataFrame,
                         idCol: String, contentCol: String,
                         method: SimilarityMethod,
                         cacheSignatures: Boolean = true,
                         maxBucket: Int = Dedup.defaultMaxBucket,
                         corpusSigs: Option[DataFrame] = None): DataFrame = {
    require(corpusSigs.isEmpty ||
        !method.isInstanceOf[SimilarityMethod.EmbeddingCosine],
      "corpusSigs is the signature-method train-once artifact " +
        "(Dedup.lshSignatures / Dedup.simhashSignatures / " +
        "Dedup.dhashSignatures / Dedup.audioSignatures); for " +
        "embeddings pass a CellIndex via " +
        "EmbeddingCosine(index = ...) instead")
    method match {
      case SimilarityMethod.MinHashLsh(n, b, mj) =>
        Dedup.lshNearDupPairsAgainst(newDf, corpusDf, idCol, contentCol,
            n, b, mj, cacheSignatures, maxBucket, corpusSigs)
          .withColumnRenamed("jaccard", "score")
      case SimilarityMethod.SimHash(mh) =>
        Dedup.simhashNearDupPairsAgainst(newDf, corpusDf, idCol, contentCol,
            mh, cacheSignatures, maxBucket, corpusSigs)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("double").as("score"))
      case SimilarityMethod.ImageDHash(mh) =>
        Dedup.imageNearDupPairsAgainst(newDf, corpusDf, idCol, contentCol,
            mh, cacheSignatures, maxBucket, corpusSigs)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("double").as("score"))
      case SimilarityMethod.AudioHash(mh) =>
        Dedup.audioNearDupPairsAgainst(newDf, corpusDf, idCol, contentCol,
            mh, cacheSignatures, maxBucket, corpusSigs)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("double").as("score"))
      case SimilarityMethod.EmbeddingCosine(minCos, Some(blockCol), _, _, _) =>
        embeddingPairsAgainst(newDf, corpusDf, idCol, contentCol, blockCol,
          minCos, cacheSignatures, maxBucket)
      case SimilarityMethod.EmbeddingCosine(minCos, None, cells, iters, idx) =>
        val (caches, verified) = autoEmbeddingPlanAgainst(newDf, corpusDf,
          idCol, contentCol, minCos, cells, iters, cacheSignatures,
          maxBucket, idx)
        materialized(verified, cacheSignatures, caches)
    }
  }

  /** [[similarJoin]] piped into connected-components clustering:
    * returns `(id, cluster)` where cluster = min member id. The pair
    * list's cache is RELEASED before returning — [[Dedup.dupClusters]]
    * materializes its own edge list up front, after which the persisted
    * pairs would be dead weight pinned for the whole session. */
  def similarClusters(df: DataFrame, idCol: String, contentCol: String,
                      method: SimilarityMethod,
                      cacheSignatures: Boolean = true,
                      maxBucket: Int = Dedup.defaultMaxBucket): DataFrame = {
    val pairs = similarJoin(df, idCol, contentCol, method,
      cacheSignatures, maxBucket)
    try Dedup.dupClusters(pairs)
    finally { if (cacheSignatures) pairs.unpersist() }
  }

  /** Embedding path with the SAME cap/caching treatment the text
    * finders get (which [[Similarity.nearDupPairsBlocked]], the bare
    * operator, leaves to the caller): norms computed once per vector,
    * hot BLOCKS dropped under `maxBucket` before the quadratic
    * verification, vectors persisted across the self-join's two sides
    * and released after materialization. */
  private def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                             blockCol: String, minCos: Double,
                             cacheSignatures: Boolean,
                             maxBucket: Int): DataFrame = {
    val normed = persistIf(cacheSignatures)(
      blockNormed(df, idCol, vecCol, blockCol))
    // a block IS the bucket here: n members ⇒ n(n-1)/2 dot products
    val capped = Dedup.dropHotBuckets(normed, Seq("blk"),
      maxBucket, "similarJoin(EmbeddingCosine)")
    val verified = scored(side(capped, col("blk"), "a")
      .join(side(capped, col("blk"), "b"), Seq("blk"))
      .filter(col("id_a") < col("id_b")), minCos)
    materialized(verified, cacheSignatures, Seq(normed))
  }

  /** `(blk, id, v, nrm)` for the caller-blocked forms — norms once per
    * vector, NaN/Inf-cosine rows dropped. */
  private def blockNormed(df: DataFrame, idCol: String, vecCol: String,
                          blockCol: String): DataFrame =
    df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(vecCol).as("v"), Similarity.norm(col(vecCol)).as("nrm"))
      .filter(Similarity.finiteNorm(col("nrm")))

  /** One side of a pair join: `key` plus `id`/`v`/`nrm` suffixed `x`. */
  private def side(df: DataFrame, key: Column, x: String): DataFrame =
    df.select(key, col("id").as(s"id_$x"), col("v").as(s"v_$x"),
      col("nrm").as(s"n_$x"))

  /** Candidate pairs → `(id_a, id_b, score)`: the cosine off the
    * precomputed norms, rounded to 6dp, kept at `>= minCos`, ordered. */
  private def scored(pairs: DataFrame, minCos: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("v_a"), col("v_b"))
          / (col("n_a") * col("n_b")), 6).as("score"))
      .filter(col("score") >= minCos)
      .orderBy(col("id_a"), col("id_b"))

  private def persistIf(cache: Boolean)(df: DataFrame): DataFrame =
    if (cache) df.persist(StorageLevel.MEMORY_AND_DISK) else df

  /** With caching on, the result persisted and counted before `caches`
    * (the inputs it was computed from) are released. */
  private def materialized(verified: DataFrame, cache: Boolean,
                           caches: Seq[DataFrame]): DataFrame =
    if (!cache) verified
    else {
      val out = verified.persist(StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize before releasing the input caches
      caches.foreach(_.unpersist())
      out
    }

  /** `(id, v, nrm, cell, ang)`: each vector's nearest cell and the angle
    * to its centroid — the radius statistic. */
  private def assigned(base: DataFrame, cents: Array[Array[Double]]): DataFrame =
    base
      .withColumn("_nc", AutoBlock.nearestCellStruct(cents, col("v"), col("nrm")))
      .select(col("id"), col("v"), col("nrm"),
        col("_nc.cell").as("cell"), col("_nc.ang").as("ang"))

  /** The angular threshold of `minCos`. The verify filter keeps
    * round(score, 6) >= minCos, which admits true cosines down to
    * minCos - 5e-7 (the round-half-up band); the angular bound must
    * cover THAT threshold, not minCos itself, or a pair in the rounding
    * band could be structurally pruned while the identically-rounding
    * brute-force oracle keeps it. */
  private def theta(minCos: Double): Double =
    math.acos(math.min(1.0, math.max(-1.0, minCos - 5e-7)))

  /** ONE K-row aggregate serves both the radii and the hot-cell cap:
    * unlike the text paths (whose band-key space is unbounded, so
    * dropHotBuckets must keep the hot keys distributed), the cell space
    * here IS the model — K rows of (radius, count) are driver-side model
    * parameters, and the cull becomes a literal NOT-IN filter instead of
    * a second count-agg plus a broadcast anti-join. Cells over
    * `maxBucket` are reported through `report(cells, rows, largest)`.
    * Returns the radii of the SURVIVING cells (a culled cell generates
    * no pairs, so it must not enter the qualifying-pair enumeration)
    * and the culled cell ids. */
  private def cellStats(assigned: DataFrame, maxBucket: Int)(
      report: (Int, Long, String) => String): (Map[Int, Double], Set[Int]) = {
    val stats = assigned.groupBy(col("cell"))
      .agg(max(col("ang")).as("r"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    val hot = if (maxBucket >= Int.MaxValue) Array.empty[(Int, Double, Long)]
              else stats.filter(_._3 > maxBucket)
    if (hot.nonEmpty) {
      val worst = hot.sortBy(-_._3).take(3).map(s => s"${s._1}(n=${s._3})")
      Dedup.hotBucketLog(report(hot.length, hot.map(_._3).sum,
        worst.mkString(", ")))
    }
    val hotSet = hot.map(_._1).toSet
    (stats.collect { case (c, r, _) if !hotSet.contains(c) => c -> r }.toMap,
      hotSet)
  }

  private def capped(assigned: DataFrame, hot: Set[Int]): DataFrame =
    if (hot.isEmpty) assigned
    else assigned.filter(!col("cell").isin(hot.toSeq: _*))

  /** The verified pairs of the qualifying `(ci, cj)` cell pairs, with
    * vectors riding the ONE cell-keyed join (r20): the `a` side
    * replicates per qualifying cell pair (bounded by the broadcast
    * list's fan-out), the `b` side exchanges its vectors exactly once —
    * the ivfTopKBatch shape, measured at 8.2× fewer
    * shuffle bytes than enumerating (id_a, id_b) candidates and
    * re-joining each side BY PAIR ID for its vector (a vector lives in
    * exactly ONE cell, so unlike the banded text finders there is no
    * multi-bucket pair dedup to amortize a keys-first pass against).
    * Each pair is generated at most once. `self` keeps `id_a < id_b`. */
  private def cellPairJoin(a: DataFrame, b: DataFrame, cellPairs: DataFrame,
                           minCos: Double, self: Boolean): DataFrame = {
    val pairs = side(a, col("cell").as("ci"), "a")
      .join(broadcast(cellPairs), Seq("ci"))
      .select(col("cj").as("_jc"), col("id_a"), col("v_a"), col("n_a"))
      .join(side(b, col("cell").as("_jc"), "b"), Seq("_jc"))
    scored(if (self) pairs.filter(col("id_a") < col("id_b")) else pairs, minCos)
  }

  /** The auto-blocked embedding path: no caller-supplied cells.
    *
    * Shape: train `numCells` angular centroids ([[AutoBlock.fitCells]]
    * — a K-row deterministic sample + k-means refinement whose means
    * fold map-side), assign every vector to its single nearest cell
    * with a codegen'd centroid-literal expression (zero shuffle), read
    * the K cell radii off one tiny agg, then verify exactly the cell
    * PAIRS the triangle-inequality bound `angle(c_i,c_j) <= r_i + r_j
    * + acos(minCos - 5e-7)` cannot exclude (the 5e-7 widens the
    * angular threshold to the verify filter's round-to-6 band — see
    * [[theta]]). The result is EXACT — identical to the brute-force
    * join at any centroid quality (q64's oracle is plain brute force) —
    * because the bound over-approximates, never under-approximates,
    * and in-bound candidates are cosine-verified.
    *
    * Vectors and norms ride the ONE cell-keyed candidate join
    * ([[cellPairJoin]]). Hot CELLS are culled under `maxBucket` through
    * the shared loud hook; a fired cap trades exactness for
    * boundedness, exactly like the text paths (run exact dedup first or
    * raise the cap). Driver-side state is K centroids + K radii + the
    * qualifying cell-pair list (≤ K², tiny) — model parameters, never
    * data rows.
    *
    * This is the un-materialized plan — exposed like
    * [[Dedup.lshPlan]] so PlanQualitySpec pins the SHIPPED join shape
    * (one scan into the caches, broadcast cell-pair list, vectors
    * riding the one cell-keyed join) before persist()/count() hide it
    * behind an InMemoryTableScan. Returns (base cache, assigned cache
    * if one was created, verified). */
  private[graft] def autoEmbeddingPlan(df: DataFrame, idCol: String,
                                       vecCol: String, minCos: Double,
                                       numCells: Int, refineIters: Int,
                                       cacheSignatures: Boolean,
                                       maxBucket: Int,
                                       index: Option[CellIndex] = None): (DataFrame, Option[DataFrame], DataFrame) = {
    val spark = df.sparkSession
    // zero-norm vectors have no cosine to anything — dropped up front,
    // exactly as the brute-force oracle's NULL-division comparison does
    val base0 = CellSearch.normed(df, idCol, vecCol)
    val base = persistIf(cacheSignatures)(base0)
    val cents = CellSearch.cells(base, numCells, refineIters, index)
    if (cents.isEmpty) { // empty corpus: nothing to pair
      return (base, None, base0.select(col("id").as("id_a"),
        col("id").as("id_b"), lit(0.0).as("score")).limit(0))
    }
    val asg = persistIf(cacheSignatures)(assigned(base, cents))
    val (radii, hot) = cellStats(asg, maxBucket) { (n, rows, worst) =>
      s"[graft.dedup] similarJoin(EmbeddingCosine): " +
        s"dropped $n hot bucket(s) exceeding maxBucket=$maxBucket " +
        s"($rows band rows); largest: $worst. " +
        "Pairs matched ONLY inside these buckets are not emitted — run " +
        "exact dedup first or raise maxBucket."
    }
    val cellPairs = {
      import spark.implicits._
      AutoBlock.qualifyingCellPairs(cents, radii, theta(minCos)).toDF("ci", "cj")
    }
    val kept = capped(asg, hot)
    (base, if (cacheSignatures) Some(asg) else None,
      cellPairJoin(kept, kept, cellPairs, minCos, self = true))
  }

  /** The pre-r20 candidate tail of [[autoEmbeddingPlan]] — (cell, id)
    * pair enumeration + per-pair-id vector fetch joins. Kept private
    * as the measured twin (`EmbJoinShapeSpec` head-to-head; same
    * pairs, same scores) documenting WHY the shipped shape carries
    * vectors through the cell join instead. */
  private[graft] def autoEmbeddingPairsLateFetch(df: DataFrame,
      idCol: String, vecCol: String, minCos: Double, numCells: Int,
      refineIters: Int, maxBucket: Int): DataFrame = {
    val spark = df.sparkSession
    val base = CellSearch.normed(df, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cents = CellSearch.cells(base, numCells, refineIters, None)
    val asg = assigned(base, cents).persist(StorageLevel.MEMORY_AND_DISK)
    val stats = asg.groupBy(col("cell"))
      .agg(max(col("ang")).as("r"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    val radii = stats.collect {
      case (c, r, n) if n <= maxBucket => c -> r
    }.toMap
    val cellPairs = {
      import spark.implicits._
      AutoBlock.qualifyingCellPairs(cents, radii, theta(minCos)).toDF("ci", "cj")
    }
    val kept = asg.select(col("cell"), col("id"))
      .filter(col("cell").isInCollection(radii.keys.toSeq))
    val cand = kept.select(col("cell").as("ci"), col("id").as("id_a"))
      .join(broadcast(cellPairs), Seq("ci"))
      .select(col("cj").as("cell"), col("id_a"))
      .join(kept.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val verified = scored(cand
      .join(asg.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a")), Seq("id_a"))
      .join(asg.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("n_b")), Seq("id_b")), minCos)
    materialized(verified, cache = true, Seq(asg, base))
  }

  /** Caller-blocked embedding A-vs-B: candidates share the caller's
    * block key across the two sides (cross-block pairs are NOT found —
    * same contract as the self-join form). */
  private def embeddingPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
                                    idCol: String, vecCol: String,
                                    blockCol: String, minCos: Double,
                                    cacheSignatures: Boolean,
                                    maxBucket: Int): DataFrame = {
    def sideOf(df: DataFrame, tag: String) = {
      val normed = persistIf(cacheSignatures)(
        blockNormed(df, idCol, vecCol, blockCol))
      // A-vs-B bucket cost is |A_blk| × |B_blk|: capping EACH side at
      // maxBucket bounds any one block's pair count at maxBucket²
      (normed, Dedup.dropHotBuckets(normed, Seq("blk"), maxBucket,
        s"similarJoinAgainst(EmbeddingCosine/$tag)"))
    }
    val (normedA, cappedA) = sideOf(newDf, "new")
    val (normedB, cappedB) = sideOf(corpusDf, "corpus")
    val verified = scored(side(cappedA, col("blk"), "a")
      .join(side(cappedB, col("blk"), "b"), Seq("blk")), minCos)
    materialized(verified, cacheSignatures, Seq(normedA, normedB))
  }

  /** Auto-blocked embedding A-vs-B: cells are trained on the CORPUS
    * side (or supplied pre-trained) — the index side of the probe —
    * and BOTH sides are assigned against that one centroid set. Each
    * side contributes its own per-cell radii, and the directed
    * triangle-inequality bound ([[graft.sim.AutoBlock
    * .qualifyingCellPairsAB]]) enumerates exactly the (A-cell, B-cell)
    * pairs that can hold a qualifying vector pair — EXACT at any
    * centroid quality, like the self-join form. Vectors ride the one
    * cell-keyed join ([[cellPairJoin]]). Hot cells are culled per SIDE
    * from the two K-row stats aggs (an A-vs-B bucket costs
    * |A_cell| × |B_cell|, so each side is capped at `maxBucket`),
    * loudly. This is the un-materialized plan — exposed like
    * [[autoEmbeddingPlan]] so PlanQualitySpec pins the shipped shape.
    * Returns (caches to release, verified). */
  private[graft] def autoEmbeddingPlanAgainst(newDf: DataFrame,
                                              corpusDf: DataFrame,
                                              idCol: String, vecCol: String,
                                              minCos: Double, numCells: Int,
                                              refineIters: Int,
                                              cacheSignatures: Boolean,
                                              maxBucket: Int,
                                              index: Option[CellIndex] = None): (Seq[DataFrame], DataFrame) = {
    val spark = newDf.sparkSession
    val cached = persistIf(cacheSignatures) _
    val baseA = cached(CellSearch.normed(newDf, idCol, vecCol))
    val baseB = cached(CellSearch.normed(corpusDf, idCol, vecCol))
    // the CORPUS is the index side: a pre-trained CellIndex (or inline
    // training over corpus rows) — never the new batch, whose daily
    // composition must not move the standing index's cells
    val cents = CellSearch.cells(baseB, numCells, refineIters, index)
    if (cents.isEmpty)
      return (Seq(baseA, baseB).filter(_ => cacheSignatures),
        baseA.select(col("id").as("id_a"), col("id").as("id_b"),
          lit(0.0).as("score")).limit(0))
    val assignedA = cached(assigned(baseA, cents))
    val assignedB = cached(assigned(baseB, cents))
    // one K-row stats agg PER SIDE: radii + hot-cell cull, driver-side
    // model parameters exactly as in the self-join form
    def statsOf(asg: DataFrame, tag: String) = cellStats(asg, maxBucket) {
      (n, rows, worst) =>
        s"[graft.dedup] similarJoinAgainst(EmbeddingCosine/" +
          s"$tag): dropped $n hot cell(s) exceeding " +
          s"maxBucket=$maxBucket ($rows rows); largest: " +
          s"$worst. Pairs touching these cells on this " +
          "side are not emitted — run exact dedup first or raise maxBucket."
    }
    val (radiiA, hotA) = statsOf(assignedA, "new")
    val (radiiB, hotB) = statsOf(assignedB, "corpus")
    val cellPairs = {
      import spark.implicits._
      AutoBlock.qualifyingCellPairsAB(cents, radiiA, radiiB, theta(minCos))
        .toDF("ci", "cj")
    }
    // (a, b) is generated at most once: a lives in exactly one A-cell,
    // b in one B-cell, and (ci, cj) appears once — no distinct needed
    val verified = cellPairJoin(capped(assignedA, hotA),
      capped(assignedB, hotB), cellPairs, minCos, self = false)
    val caches = if (cacheSignatures)
      Seq(assignedA, assignedB, baseA, baseB) else Seq.empty
    (caches, verified)
  }
}
