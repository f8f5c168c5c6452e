package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) + asymmetric-distance search — the
  * compression tier past [[Quantize]]'s SQ8 (FAISS's `PQm` / IVF-PQ
  * scheme): the D-dim vector splits into `m` subvectors, each coded as
  * the index of its nearest subvector CENTROID from a per-subvector
  * codebook of `ks` entries — `m` small ints per vector instead of D
  * bytes (SQ8) or 4·D bytes (float32). At D=64, m=8 that is 8 bytes
  * per vector, a 32× compression over float32 — the difference between
  * an in-memory index and not at 100 TB of embeddings. Queries score
  * asymmetrically: the probe stays exact, candidates reconstruct at
  * their centroids, and the BATCH path precomputes the per-probe
  * m×ks distance lookup table once so candidate scoring is `m` array
  * lookups per row — the real ADC economics.
  *
  * Determinism (the SQ8 discipline, kept): the codebook is a SEEDED
  * SAMPLE — per subvector, the centroids are the subvectors of the
  * `ks` corpus vectors ranked first by `(md5_32(seed|id), id)` — not
  * an iterated k-means, because a Lloyd update's centroid MEANS sum
  * doubles in partition order and would differ run-to-run and
  * engine-to-engine. Sampled codebooks are the standard cheap
  * initialization (k-means++ seeds from the data too); what they cost
  * in quality the [[pqRecallBatch]] audit measures, exactly like SQ8's.
  * Assignment is argmin of squared L2 computed as an ORDERED
  * sequential fold with a strict `<` (earlier centroid wins ties), so
  * codes, distances and top-k reproduce bit-for-bit in any engine
  * that folds in the same order — the q142–q144 gates pin that
  * against DuckDB `list_reduce`.
  *
  * Distributed shape: the codebook is `m × ks` rows (tiny, always
  * broadcast); coding is a narrow per-row expression; batch search is
  * the [[Quantize.ivfAdcTopKBatch]] plan — broadcast routing, one
  * cell-keyed candidate join, bounded-heap top-k — with the LUT built
  * on the broadcast probe side. No corpus-sized shuffle anywhere.
  *
  * PRODUCTION RETRIEVAL GUIDANCE — use [[IvfPq]], not this tier: the
  * seeded-sample codebooks here are the cross-engine EXACTNESS tier
  * (bit-reproducible in any SQL oracle), and the r18/r19 recall audit
  * measured their quality cliff — recall@10 ≈ 1.5/10, vs ≈ 8.8/10 for
  * [[IvfPq]]'s TRAINED residual codebooks at the SAME m/ks code
  * budget (its integer fixed-point Lloyd is order-free, so it keeps
  * bit-reproducibility too, plus an exact re-rank). Reach for this
  * tier when you need a quantizer an external engine must re-derive
  * verbatim; reach for [[IvfPq.topKBatch]] when the answers have to be
  * good. */
object Pq {

  /** The per-subvector codebook — `(sub, cid, centroid)` rows,
    * `sub` ∈ [0, m), `cid` ∈ [0, ks): centroid `(s, j)` is subvector
    * `s` of the corpus vector with seeded rank `j` (see object doc).
    * Requires every vector the same dimension, divisible by `m`.
    * Corpora smaller than `ks` yield that many centroids. */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
                 m: Int, ks: Int, seed: Int = 0): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ks >= 1, s"ks must be >= 1, got $ks")
    val subDim = subDimOf(df, vecCol, m, "pq: empty corpus")
    import org.apache.spark.sql.expressions.Window
    val u = graft.text.TextOps.md5_32(
      concat(lit(s"$seed|"), col("_id").cast("string")))
    // TakeOrdered keeps the donor pick bounded (no global sort); the
    // rank window then runs over ks rows only
    val donors = df
      .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_u", u)
      .orderBy(col("_u"), col("_id"))
      .limit(ks)
      .withColumn("_cid",
        row_number().over(Window.orderBy(col("_u"), col("_id"))) - 1)
    donors.select(col("_cid"),
        explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.cast("int").as("sub"),
            slice(col("_v"), s * subDim + 1, lit(subDim)).as("centroid"))))
          .as("sc"))
      .select(col("sc.sub").as("sub"), col("_cid").as("cid"),
        col("sc.centroid").as("centroid"))
  }

  /** The subvector dimension of `df`'s vectors split `m` ways; `what`
    * names the frame when it holds no non-null vector. */
  private def subDimOf(df: DataFrame, vecCol: String, m: Int,
                       what: String): Int = {
    val d = CellSearch.uniformDim(df, vecCol,
      s"$what — no dimension to split",
      (lo, hi) => s"pq: ragged vectors (dims $lo..$hi)")
    require(d % m == 0, s"pq: dimension $d not divisible by m=$m")
    d / m
  }

  /** The codebook as ONE broadcastable row
    * `cents: array<array<array<double>>>` indexed `[sub][cid][dim]` —
    * the [[Quantize.sq8Params]] collect-and-sort idiom one level
    * deeper. */
  private def nested(codebook: DataFrame): DataFrame =
    codebook
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cid"), col("centroid"))))
        .as("cs"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cs"))))
        .as("subs"))
      .select(transform(col("subs"), s =>
        transform(s.getField("cs"), c => c.getField("centroid")))
        .as("cents"))

  /** Squared L2 between subvector `s` of `vec` and `cent`, as an
    * ordered sequential fold (cross-engine reproducible). */
  private def subDist(vec: Column, s: Column, cent: Column): Column =
    aggregate(sequence(lit(0), size(cent) - 1), lit(0.0), (acc, i) => {
      val x = element_at(vec, s * size(cent) + i + 1).cast("double")
      val cv = element_at(cent, i + 1)
      acc + (x - cv) * (x - cv)
    })

  /** Codebook-vs-frame compatibility, failed LOUDLY at plan build:
    * the codebook's subs must be exactly 0..m-1 (positional indexing
    * in [[nested]]/[[subDist]] silently misaligns otherwise), its
    * centroid dims uniform, and m × subDim must tile the frame's
    * vector dimension exactly — a codebook built over a different
    * embedding space would otherwise score half a vector (or code -1
    * and die far away in the ADC lookup). One tiny codebook aggregate
    * plus one size-only pass over `df`. */
  private def requireCompatible(df: DataFrame, vecCol: String,
                                cb: DataFrame, site: String): Unit = {
    val g = cb.agg(countDistinct(col("sub")).as("m"),
      min(col("sub").cast("int")).as("smn"),
      max(col("sub").cast("int")).as("smx"),
      min(size(col("centroid"))).as("dlo"),
      max(size(col("centroid"))).as("dhi")).head()
    require(!g.isNullAt(0) && g.getLong(0) >= 1L, s"$site: empty codebook")
    val m = g.getLong(0).toInt
    require(g.getInt(1) == 0 && g.getInt(2) == m - 1,
      s"$site: codebook subs must be exactly 0..${m - 1} " +
        s"(got range ${g.getInt(1)}..${g.getInt(2)} over $m distinct) — " +
        "positional subvector indexing would silently misalign")
    require(g.getInt(3) == g.getInt(4),
      s"$site: codebook has ragged centroid dims " +
        s"(${g.getInt(3)}..${g.getInt(4)})")
    val d = subDimOf(df, vecCol, m, s"$site: no non-null vector")
    require(d == g.getInt(3),
      s"$site: codebook subvector dim ${g.getInt(3)} does not match " +
        s"the frame's dim/m = $d — the artifact belongs to a different " +
        "embedding space")
  }

  /** Adds `codes: array<int>` — per subvector, the argmin-distance
    * centroid id (strict `<`: the SMALLEST cid wins exact ties).
    * Carries `cents` along for the ADC consumer, like
    * [[Quantize.withSq8Codes]] carries mins/maxs. Null vectors are
    * dropped (they have no nearest centroid), as [[IvfPq.withCodes]]
    * drops them. The codebook is validated against the frame
    * ([[requireCompatible]]) — a codebook from another embedding
    * space fails here, loudly. */
  def withPqCodes(df: DataFrame, vecCol: String,
                  codebook: DataFrame): DataFrame = {
    requireCompatible(df, vecCol, codebook, "Pq.withPqCodes")
    df.filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(nested(codebook)))
      .withColumn("codes",
        transform(sequence(lit(0), size(col("cents")) - 1), s => {
          val cs = element_at(col("cents"), s + 1)
          aggregate(sequence(lit(0), size(cs) - 1),
            struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
            (acc, j) => {
              val dist = subDist(col(vecCol), s, element_at(cs, j + 1))
              when(dist < acc.getField("d"),
                struct(dist.as("d"), j.cast("int").as("c")))
                .otherwise(acc)
            }).getField("c")
        }))
  }

  /** The per-probe ADC lookup table — `lut[s][j]` = squared L2 between
    * the probe's subvector `s` and centroid `(s, j)`, built ONCE on
    * the (broadcast) probe side; candidate scoring is then `m` array
    * lookups per row. Expects `q` and `cents` in scope. */
  private def probeLut: Column =
    transform(sequence(lit(0), size(col("cents")) - 1), s => {
      val cs = element_at(col("cents"), s + 1)
      transform(sequence(lit(0), size(cs) - 1),
        j => subDist(col("q"), s, element_at(cs, j + 1)))
    })

  /** Adds the per-probe `lut` to a probe frame carrying `q`. */
  private def withLut(prep: DataFrame, codebook: DataFrame): DataFrame =
    prep.crossJoin(broadcast(nested(codebook)))
      .withColumn("lut", probeLut)
      .drop("cents")

  /** ADC distance off the LUT: per-sub lookups summed in subvector
    * order, rounded to 6dp — the same (per-sub fold, then cross-sub
    * fold) association the oracle computes. Expects `lut`/`codes`. */
  private def pqAdcDist: Column = round(
    aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0.0),
      (acc, s) => acc + element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)), 6)

  /** Asymmetric top-k against the PQ index ([[Quantize.adcTopK]]'s
    * shape): probe exact, candidates reconstructed at their assigned
    * centroids, smallest squared-L2 first with id tie-break. Returns
    * `(idCol, pdist)`. */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                m: Int, ks: Int, probeId: Long, k: Int,
                seed: Int = 0): DataFrame = {
    val cb = pqCodebook(df, idCol, vecCol, m, ks, seed)
    // candidates drop the bulky per-row codebook copy — scoring reads
    // the probe-side LUT only
    val coded = withPqCodes(df, vecCol, cb).drop("cents")
    val probe = df.filter(col(idCol) === probeId)
      .select(col(vecCol).cast("array<double>").as("q"))
      .crossJoin(broadcast(nested(cb)))
      .withColumn("lut", probeLut)
      .select(col("lut"))
    coded.filter(col(idCol) =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("pdist", pqAdcDist)
      .orderBy(col("pdist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("pdist"))
  }

  /** Batch IVF-PQ over SELF-TRAINED cells
    * ([[Quantize.ivfAdcTopKBatchAuto]]'s composition on the PQ tier):
    * AutoBlock angular cells assign the coded corpus, probes route via
    * the codegen'd (cosine, cell) struct sort, each routed probe row
    * carries its precomputed LUT into ONE cell-keyed candidate join,
    * and the per-probe top-k is a bounded heap. `nprobe >= numCells`
    * ⇒ exactly the flat PQ-ADC top-k at any centroid quality (gate
    * q149). Null and zero-norm vectors drop on both sides (angular
    * routing). Returns `(probe_id, rank, idCol, pdist)`. */
  def ivfPqTopKBatchAuto(corpus: DataFrame, probes: DataFrame,
                         idCol: String, vecCol: String,
                         m: Int, ks: Int, nprobe: Int, k: Int,
                         seed: Int = 0, numCells: Int = 0,
                         refineIters: Int = 1): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, ks, seed)
    requireCompatible(probes, vecCol, cb, "Pq.ivfPqTopKBatchAuto(probes)")
    val cents = CellSearch.cells(CellSearch.normed(corpus, idCol, vecCol),
      numCells, refineIters, None)
    CellSearch.autoTopK(
        withLut(CellSearch.probesNormed(probes, idCol, vecCol), cb), cents,
        vecCol, idCol, "lut", "pdist", pqAdcDist, nprobe, k) {
      withPqCodes(corpus, vecCol, cb).drop("cents")
    }
  }

  /** Recall audit for the PQ index — [[Quantize.adcRecallBatch]]'s
    * contract: per probe, how many of the PQ-ADC top-k survive in the
    * EXACT squared-L2 top-k. Integer output `(probe_id, n_overlap)`,
    * exact cross-engine; null probes get no figure. Deliberately
    * brute-force; sample probes in production. */
  def pqRecallBatch(corpus: DataFrame, probes: DataFrame,
                    idCol: String, vecCol: String, m: Int, ks: Int,
                    k: Int, seed: Int = 0): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, ks, seed)
    requireCompatible(probes, vecCol, cb, "Pq.pqRecallBatch(probes)")
    CellSearch.recall(withPqCodes(corpus, vecCol, cb).drop("cents"),
      withLut(CellSearch.probesExact(probes, idCol, vecCol), cb),
      vecCol, idCol, "pdist", pqAdcDist, k)
  }
}
