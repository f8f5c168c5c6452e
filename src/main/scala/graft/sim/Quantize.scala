package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar (SQ8) embedding quantization + asymmetric-distance (ADC)
  * search — the compression leg of a production ANN stack (FAISS's
  * `SQ8` / IVF-ADC scheme): store 1 byte per dimension instead of a
  * 4-byte float (4× smaller index; at 100 TB of embeddings that is
  * the difference between an index that fits executor memory and one
  * that doesn't), and score queries against DEQUANTIZED codes so
  * only the query vector stays full-precision.
  *
  * Everything is deterministic arithmetic (min/max, one division,
  * floor — no transcendentals, no data-dependent iteration like
  * k-means), so an external engine reproduces codes and distances
  * bit-for-bit; the q100/q101 gates pin exactly that.
  *
  * Distributed shape: params = ONE corpus pass (posexplode →
  * map-side-combined per-dimension min/max → 64-row frame); coding =
  * broadcast params + a narrow per-row `transform`; ADC top-k =
  * narrow per-row fold + `orderBy(...).limit(k)` which Spark
  * executes as TakeOrdered (per-partition bounded heaps + driver
  * merge of k·partitions rows — no global sort, no full shuffle).
  */
object Quantize {

  /** Per-dimension quantization range over the corpus, as ONE
    * broadcastable row `(mins: array<double>, maxs: array<double>)`
    * in dimension order. */
  def sq8Params(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"),
        col("mx")))).as("pm"))
      .select(transform(col("pm"), s => s.getField("mn")).as("mins"),
        transform(col("pm"), s => s.getField("mx")).as("maxs"))

  /** Adds `codes: array<int>` — per dimension,
    * `floor((x - min) / (max - min) * 256)` clamped to [0, 255]
    * (x = max lands on 256 → 255; a constant dimension codes 0; the
    * low clamp matters when params taken over another frame code a
    * batch whose values undershoot their range).
    * Carries `mins`/`maxs` along for the ADC consumer. Null vectors
    * are dropped (they have no code), as [[Pq.withPqCodes]] and
    * [[IvfPq.withCodes]] drop them. */
  def withSq8Codes(df: DataFrame, vecCol: String,
                   params: DataFrame): DataFrame =
    df.filter(col(vecCol).isNotNull).crossJoin(broadcast(params))
      .withColumn("codes", transform(col(vecCol), (x, i) => {
        val mn = element_at(col("mins"), i + 1)
        val mx = element_at(col("maxs"), i + 1)
        when(mx === mn, lit(0)).otherwise(
          greatest(lit(0), least(lit(255),
            floor((x.cast("double") - mn) / (mx - mn) * 256).cast("int"))))
      }))

  /** [[withSq8Codes]] with params taken over the same frame. */
  private def sq8Coded(df: DataFrame, vecCol: String): DataFrame =
    withSq8Codes(df, vecCol, sq8Params(df, vecCol))

  /** The ADC scoring expression: squared L2 between the exact probe
    * array `q` and the midpoint-dequantized codes, summed in
    * dimension order (sequential fold — cross-engine reproducible),
    * rounded to 6dp. Expects `q`/`mins`/`maxs`/`codes` in scope. */
  private def adcDist: org.apache.spark.sql.Column = round(
    aggregate(sequence(lit(0), size(col("q")) - 1), lit(0.0),
      (acc, i) => {
        val qi = element_at(col("q"), i + 1)
        val mn = element_at(col("mins"), i + 1)
        val mx = element_at(col("maxs"), i + 1)
        val de = mn +
          (element_at(col("codes"), i + 1).cast("double") + 0.5) *
            (mx - mn) / 256
        acc + (qi - de) * (qi - de)
      }), 6)

  /** Asymmetric top-k: the probe vector stays exact, every other
    * vector is reconstructed from its codes at the cell midpoint
    * (`min + (code + 0.5) * (max - min) / 256`), scored by [[adcDist]],
    * smallest first with id tie-break. Returns `(idCol, adist)`. */
  def adcTopK(df: DataFrame, idCol: String, vecCol: String,
              probeId: Long, k: Int): DataFrame = {
    val coded = sq8Coded(df, vecCol)
    val probe = df.filter(col(idCol) === probeId)
      .select(col(vecCol).cast("array<double>").as("q"))
    coded.filter(col(idCol) =!= probeId).crossJoin(broadcast(probe))
      .withColumn("adist", adcDist)
      .orderBy(col("adist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("adist"))
  }

  /** The full FAISS-style IVF-ADC shape: rank cells (`blockCol`) by
    * centroid cosine to the probe ([[Similarity.centroids]] — the
    * same tiny broadcast table the exact IVF path uses), then
    * ADC-score ONLY the `nprobe` nearest cells' codes. At 100 TB the
    * scan touches nprobe/#cells of a 4×-compressed index — the two
    * savings compose. Returns `(idCol, adist)` (k smallest). */
  def ivfAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                 blockCol: String, probeId: Long, nprobe: Int,
                 k: Int): DataFrame = {
    val coded = sq8Coded(df, vecCol)
    val probeVec = df.filter(col(idCol) === probeId)
      .select(col(vecCol).as("probe_vec"))
    val topCells = Similarity.centroids(df, blockCol, vecCol)
      .crossJoin(broadcast(probeVec))
      // cell-id secondary key: cosine ties would otherwise make the
      // nprobe cutoff nondeterministic (the batch path + q106 oracle
      // both tie-break on the cell id).
      .orderBy(Similarity.cosine(col("centroid"), col("probe_vec")).desc,
        col(blockCol))
      .limit(nprobe)
      .select(col(blockCol))
    val probe = probeVec.select(col("probe_vec").cast("array<double>").as("q"))
    coded.join(broadcast(topCells), Seq(blockCol), "left_semi")
      .filter(col(idCol) =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("adist", adcDist)
      .orderBy(col("adist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("adist"))
  }

  /** Batch IVF-ADC: a whole probe TABLE against the compressed
    * index — every probe is routed to its `nprobe` centroid-nearest
    * cells (bounded-heap TopKPerGroup over the tiny
    * probe × centroid frame, cell-id tie-break so the cutoff is
    * deterministic), candidates come from ONE cell-keyed join of the
    * coded corpus against the broadcast (probe, cell) routing table,
    * and the final per-probe top-k is again TopKPerGroup — no full
    * sort, no corpus-sized shuffle beyond the cell join. Null and
    * zero-norm probes are dropped (cosine routing has no direction for
    * them). Returns `(probe_id, rank, idCol, adist)`. */
  def ivfAdcTopKBatch(corpus: DataFrame, probes: DataFrame,
                      idCol: String, vecCol: String, blockCol: String,
                      nprobe: Int, k: Int): DataFrame = {
    val coded = sq8Coded(corpus, vecCol)
    val prep = CellSearch.probesNormed(probes, idCol, vecCol)
    val routing = CellSearch.blockRouted(corpus, prep, vecCol, blockCol,
      nprobe)
    CellSearch.topK(CellSearch.candidates(coded, routing, blockCol, idCol,
      "adist", adcDist), "adist", idCol, k)
  }

  /** [[ivfAdcTopKBatch]] over SELF-TRAINED cells — no caller block
    * column: [[AutoBlock.fitCells]] trains `numCells` angular
    * centroids (deterministic distinct-vector seeds + spherical
    * k-means; `numCells = 0` derives K from the corpus count).
    * Corpus codes are assigned by the codegen'd
    * centroid-literal expression (zero shuffle); probes route via ONE
    * codegen'd sort of the K (cosine, cell) structs (cell-id
    * tie-break — deterministic cutoff); the ADC scoring and
    * bounded-heap top-k are [[ivfAdcTopKBatch]]'s exactly. Zero-norm
    * vectors drop on both sides (angular routing has no direction
    * for them — [[Similarity.ivfTopKBatch]]'s rule). `nprobe >=
    * numCells` searches every cell ⇒ exactly the flat ADC top-k at
    * ANY centroid quality (the q148 gate pins that against an oracle
    * with no k-means in it). */
  def ivfAdcTopKBatchAuto(corpus: DataFrame, probes: DataFrame,
                          idCol: String, vecCol: String,
                          nprobe: Int, k: Int,
                          numCells: Int = 0,
                          refineIters: Int = 1): DataFrame = {
    val cents = CellSearch.cells(CellSearch.normed(corpus, idCol, vecCol),
      numCells, refineIters, None)
    CellSearch.autoTopK(CellSearch.probesNormed(probes, idCol, vecCol), cents,
        vecCol, idCol, "q", "adist", adcDist, nprobe, k) {
      sq8Coded(corpus, vecCol)
    }
  }

  /** Recall audit for the compressed index — the "did quantization
    * hurt" gauge (q68's recall-contract pattern, applied to SQ8):
    * per probe, how many of the ADC top-k survive in the EXACT
    * squared-L2 top-k over the same candidates. Deliberately
    * brute-force (it measures the index, it IS not the index);
    * run on a sampled probe set in production. Integer output:
    * `(probe_id, n_overlap)` — exact cross-engine; null probes get no
    * figure. */
  def adcRecallBatch(corpus: DataFrame, probes: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame =
    CellSearch.recall(sq8Coded(corpus, vecCol),
      CellSearch.probesExact(probes, idCol, vecCol),
      vecCol, idCol, "adist", adcDist, k)
}
