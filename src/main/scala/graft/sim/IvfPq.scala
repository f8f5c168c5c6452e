package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** TRAINED residual product quantization — the retrieval-quality tier
  * past [[Pq]]'s seeded-sample codebooks (FAISS's `IVFx,PQm` +
  * refine construction): a coarse K-cell quantizer is Lloyd-trained
  * over the corpus, every vector is coded as its cell plus the PQ
  * codes of its RESIDUAL against the cell centroid (residuals are
  * far smaller than raw vectors, so the same code budget buys much
  * tighter reconstruction), and queries re-rank an ADC shortlist by
  * exact distance (the `IndexRefineFlat` stage). The
  * round-18 audit measured the sampled/raw construction at
  * recall@10 = 1.52/10; this path measures 8.2–8.8/10 at the same
  * m=8 code budget (q147 carries the audit).
  *
  * EVERYTHING here runs in 2^20 FIXED-POINT integer arithmetic:
  * coordinates quantize once (`floor(x * 2^20)` — exact in any IEEE
  * engine), and from there Lloyd sums, centroid means
  * (`Math.floorDiv`), assignment distances, residuals, ADC lookup
  * tables and refine distances are all plain integer adds and
  * multiplies. Integer addition is associative and commutative, so
  * NO step depends on partition order or fold association — the
  * whole train → code → search pipeline is bit-exact run-to-run and
  * engine-to-engine without the double-fold ordering discipline the
  * raw-[[Pq]] gates need (q145–q147 pin it against DuckDB with plain
  * SUMs). Quantization costs < 1e-6 per coordinate — invisible next
  * to the PQ approximation the recall audit actually measures.
  *
  * Distributed shape: training collects a bounded seeded SAMPLE
  * ([[DefaultTrainSample]] rows) and runs Lloyd on the driver — cost
  * never grows past it; the model is O((K + m·ks)·dim) longs of
  * driver-held parameters carried by the expressions as reference
  * objects (never data rows); coding is one narrow codegen'd pass,
  * ONE fused kernel call per vector
  * ([[graft.functions.LongPqEncode]]: cell + m codes — ~9 small
  * ints, the 100 TB index), evaluated ahead of the cell join, so a
  * search codes each corpus row once, not once per candidate;
  * search routes probes to `nprobe` cells on the broadcast side,
  * builds each (probe, cell) ADC lookup table once, joins
  * candidates by cell key only and scores each twice in the Project
  * right after the join: the codegen'd LUT sum
  * ([[graft.functions.AdcLutSum]]) and the exact integer distance
  * ([[graft.functions.LongL2]]) between the probe and the row's
  * fixed-point vector, which the corpus scan quantizes anyway to
  * encode it. Only the two longs cross the one hash exchange; the
  * top-`refine` ADC shortlist and the exact top-k of it are two
  * bounded heaps ([[graft.ops.TopK.topKPerGroup]]) on that one
  * `probe_id` partitioning. A search reads the corpus once for the
  * dimension check and once for the coded scan — the stored index
  * (`cell` + `codes`) never holds full-precision vectors; the exact
  * re-rank reads them from the corpus the search scans.
  */
object IvfPq {

  /** Fixed-point scale: 2^20 — a power of two, so `cq / Scale` is
    * exact in double and `floor(x · Scale)` is the same integer in
    * every IEEE engine. */
  val ScaleBits: Int = 20
  val Scale: Long = 1L << ScaleBits

  /** Training-sample bound: training collects at most this many
    * seeded-first rows and runs its Lloyd passes on the driver
    * (64k × 64-dim longs ≈ 33 MB — model-fit input, the k-means
    * contract). Integer arithmetic is order-free, so the driver loop
    * computes the model a distributed fold would, for ONE Spark job
    * instead of one per Lloyd pass; the corpus-sized work (coding,
    * search) stays distributed. */
  val DefaultTrainSample: Int = 1 << 16

  /** The trained model: `coarse(cell)(dim)` cell centroids and
    * `books(sub)(cid)(subDim)` per-subvector residual codebooks, all
    * in [[Scale]] fixed point — O((K + m·ks)·dim) driver-held longs,
    * carried by the kernels as reference objects. */
  case class Model(coarse: Array[Array[Long]],
                   books: Array[Array[Array[Long]]]) {
    require(coarse.nonEmpty, "IvfPq.Model: no coarse centroids")
    require(books.nonEmpty, "IvfPq.Model: no codebooks")
    val dim: Int = coarse.head.length
    val m: Int = books.length
    val subDim: Int = books.head.head.length
    require(coarse.forall(_.length == dim),
      "IvfPq.Model: ragged coarse centroids")
    require(books.forall(b => b.nonEmpty && b.forall(_.length == subDim)),
      "IvfPq.Model: ragged codebooks")
    require(books.forall(_.length == books.head.length),
      "IvfPq.Model: codebooks differ in ks across subvectors")
    require(m * subDim == dim,
      s"IvfPq.Model: m=$m × subDim=$subDim does not tile dim=$dim")
    def kCells: Int = coarse.length
    def ks: Int = books.head.length

    /** Persist as parquet rows `(part, sub, cid, cent)` —
      * `part='coarse'` rows carry `sub=0, cid=cell`; `part='book'`
      * rows carry the per-subvector codebooks. Engine-readable longs,
      * not JVM serialization. */
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      val rows =
        coarse.zipWithIndex.map { case (c, i) => ("coarse", 0, i, c.toSeq) } ++
        books.zipWithIndex.flatMap { case (b, s) =>
          b.zipWithIndex.map { case (c, j) => ("book", s, j, c.toSeq) } }
      rows.toSeq.toDF("part", "sub", "cid", "cent")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  /** Load a [[Model.save]] artifact; fails loudly on wrong columns,
    * non-contiguous cell/sub/cid ranges, ragged dims, or a coarse
    * dim the books do not tile (codes index the model POSITIONALLY;
    * a silent gap would misalign every later code). */
  def loadModel(spark: SparkSession, path: String): Model = {
    val df = spark.read.parquet(path)
    require(df.columns.toSet == Set("part", "sub", "cid", "cent"),
      s"not an IvfPq model artifact: ${df.columns.mkString(",")}")
    val rows = df.select(col("part"), col("sub"), col("cid"), col("cent"))
      .collect()
    val coarseRows = rows.filter(_.getString(0) == "coarse")
      .map(r => r.getInt(2) -> r.getSeq[Long](3).toArray).sortBy(_._1)
    val bookRows = rows.filter(_.getString(0) == "book")
      .map(r => (r.getInt(1), r.getInt(2), r.getSeq[Long](3).toArray))
    require(coarseRows.nonEmpty && bookRows.nonEmpty,
      s"IvfPq model at $path is missing its coarse or book rows")
    require(coarseRows.map(_._1).toSeq == coarseRows.indices.toSeq,
      s"IvfPq model at $path: cell ids are not the contiguous range " +
        s"0..${coarseRows.length - 1}")
    val subs = bookRows.map(_._1).distinct.sorted.toSeq
    require(subs == (0 until subs.length).toSeq,
      s"IvfPq model at $path: subs are not the contiguous range " +
        s"0..${subs.length - 1}")
    val books = subs.map { s =>
      val cs = bookRows.filter(_._1 == s).map(r => r._2 -> r._3).sortBy(_._1)
      require(cs.map(_._1).toSeq == cs.indices.toSeq,
        s"IvfPq model at $path: sub $s cids are not contiguous 0..${cs.length - 1}")
      cs.map(_._2)
    }
    require(books.map(_.length).distinct.length == 1,
      s"IvfPq model at $path: ks differs across subvectors")
    Model(coarseRows.map(_._2), books.map(_.toArray).toArray)
  }

  /** Largest |coordinate| the fixed-point distance arithmetic can
    * carry at dimension `dim` with NO possibility of Long overflow:
    * the integer distances sum `dim` squares of differences, each
    * difference at most `2·max·Scale`, so safety needs
    * `dim · (2·max·Scale)² < Long.MaxValue`, i.e.
    * `max < sqrt(Long.MaxValue / dim) / 2 / Scale` (~181 at dim 64).
    * Embedding pipelines are far below this (unit-norm coordinates
    * are ≤ 1), but a caller feeding raw un-normalized features would
    * otherwise get silently garbled argmins — [[ilog2f]]'s
    * enforce-the-domain discipline applied here too (ADVICE r19). */
  def maxAbsCoord(dim: Int): Double =
    math.sqrt(Long.MaxValue.toDouble / dim) / 2.0 / Scale.toDouble

  /** `array<long>` fixed-point quantization of a float/double vector —
    * `floor(x · 2^20)` per coordinate — with the [[maxAbsCoord]]
    * guard: any coordinate at or beyond the bound fails LOUDLY instead
    * of corrupting every downstream distance. */
  def quantizeChecked(vec: Column, dim: Int): Column = {
    val bound = maxAbsCoord(dim)
    transform(vec, x =>
      when(abs(x.cast("double")) >= lit(bound) ||
          isnan(x.cast("double")),
        raise_error(concat(
          lit(s"IvfPq: |coordinate| >= $bound (or NaN) overflows the " +
            s"2^$ScaleBits fixed-point distance arithmetic at " +
            s"dim=$dim — normalize or rescale embeddings first (got "),
          x.cast("string"), lit(")"))).cast("long"))
        .otherwise(floor(x.cast("double") * lit(Scale.toDouble))))
  }

  // ---- reference-object expression builders (r20) -------------------
  // The centroid/book tables ride the expression as plain JVM arrays
  // (graft.functions.CellOps — the `might_contain` pattern), so plan
  // size and generated code are O(1) in K at any cell count; the
  // argmin arithmetic and tie-breaks are decision-identical to the
  // literal folds they replaced (CellOpsSpec pins it at K=256).

  private def ex(c: Column): Expression = bridge.expression(c)
  private def kernel(e: Expression): Column = bridge.column(e)

  /** Integer squared L2 between two `array<long>` columns — a plain
    * sum of per-dim squares (associative: fold order is irrelevant,
    * unlike the double-arithmetic [[Pq]] folds). */
  private def iDist(a: Column, b: Column): Column =
    kernel(graft.functions.LongL2(ex(a), ex(b)))

  /** Validate + project the corpus to `(id, xq)` — null vectors
    * dropped, uniform dimension divisible by `m` enforced (ONE
    * size-only aggregate, the [[Pq]] compatibility discipline). */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
                        m: Int, site: String): DataFrame = {
    val base = df.filter(col(vecCol).isNotNull)
    val dim = CellSearch.uniformDim(base, vecCol, s"$site: empty corpus",
      (lo, hi) => s"$site: ragged vectors (dims $lo..$hi)")
    require(dim % m == 0, s"$site: dimension $dim not divisible by m=$m")
    base.select(col(idCol).as("_tid"), quantizeChecked(col(vecCol), dim).as("xq"))
  }

  /** Validate a frame against a (possibly FROZEN) model — dimension
    * must equal `model.dim` exactly, or the artifact belongs to a
    * different embedding space. */
  private def requireDim(df: DataFrame, vecCol: String, model: Model,
                         site: String): Unit = {
    def mismatch(lo: Int, hi: Int) =
      s"$site: frame dims $lo..$hi do not match the model's " +
        s"dim=${model.dim} — the artifact belongs to a different embedding space"
    val dim = CellSearch.uniformDim(df, vecCol, s"$site: empty frame", mismatch)
    require(dim == model.dim, mismatch(dim, dim))
  }

  /** The non-null probes as `(probe_id, pq)`, `pq` the fixed-point
    * probe vector. */
  private def quantizedProbes(probes: DataFrame, idCol: String,
                              vecCol: String, model: Model): DataFrame =
    probes.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("probe_id"),
        quantizeChecked(col(vecCol), model.dim).as("pq"))

  /** Train the full model: seeded-sample init (first `kCells` / `ks`
    * corpus vectors by `(md5_32(seed|id), id)` — [[Pq.pqCodebook]]'s
    * donor rule), `coarseIters` fixed-point Lloyd passes for the
    * K-cell coarse quantizer, then `pqIters` passes per subvector
    * over the coarse RESIDUALS (the FAISS IVF-PQ construction — the
    * codebooks model what the cells do not). Training reads only the
    * [[DefaultTrainSample]] seeded-first rows, collected once to the
    * driver (cost and driver memory bounded at any corpus size); the
    * returned [[Model]] codes any number of batches. */
  def train(df: DataFrame, idCol: String, vecCol: String,
            kCells: Int, m: Int, ks: Int,
            coarseIters: Int = 4, pqIters: Int = 3, seed: Int = 0): Model = {
    require(kCells >= 1 && ks >= 1 && m >= 1 &&
      coarseIters >= 0 && pqIters >= 0,
      s"IvfPq.train: bad params kCells=$kCells m=$m ks=$ks " +
        s"coarseIters=$coarseIters pqIters=$pqIters")
    require(DefaultTrainSample >= math.max(kCells, ks),
      s"IvfPq.train: training sample $DefaultTrainSample smaller than " +
        s"the donor count max(kCells=$kCells, ks=$ks)")
    val q = quantized(df, idCol, vecCol, m, "IvfPq.train")
    val u = graft.text.TextOps.md5_32(
      concat(lit(s"$seed|"), col("_tid").cast("string")))
    // TakeOrdered keeps donor order
    val data = q.withColumn("_u", u)
      .orderBy(col("_u"), col("_tid"))
      .limit(DefaultTrainSample)
      .select(col("xq")).collect()
      .map(_.getSeq[Long](0).toArray)
    trainLocal(data, kCells, m, ks, coarseIters, pqIters)
  }

  /** The driver-local training loop — donors are the first rows of
    * `data` (it arrives in seeded order); integer Lloyd with a
    * strict-< argmin, `Math.floorDiv` means, empty cells keep their
    * centroid; books train on the coarse residuals. */
  private def trainLocal(data: Array[Array[Long]], kCells: Int, m: Int,
                         ks: Int, ci: Int, pi: Int): Model = {
    val dim = data.head.length
    val sd = dim / m
    def iD(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def argmin(v: Array[Long], cents: Array[Array[Long]]): Int = {
      var bi = 0; var bd = Long.MaxValue; var j = 0
      while (j < cents.length) {
        val d = iD(v, cents(j))
        if (d < bd) { bd = d; bi = j }
        j += 1
      }
      bi
    }
    // `iters` integer Lloyd passes from `init`
    def fit(pts: Array[Array[Long]], init: Array[Array[Long]],
            iters: Int): Array[Array[Long]] = {
      var c = init
      var it = 0
      while (it < iters) {
        val asg = pts.map(argmin(_, c))
        val next = c.map(_.clone())
        val sums = Array.fill(c.length, c.head.length)(0L)
        val cnt = new Array[Long](c.length)
        var r = 0
        while (r < pts.length) {
          val cell = asg(r); val v = pts(r)
          var p = 0
          while (p < v.length) { sums(cell)(p) += v(p); p += 1 }
          cnt(cell) += 1
          r += 1
        }
        var cell = 0
        while (cell < c.length) {
          if (cnt(cell) > 0) {
            var p = 0
            while (p < next(cell).length) {
              next(cell)(p) = Math.floorDiv(sums(cell)(p), cnt(cell))
              p += 1
            }
          }
          cell += 1
        }
        c = next
        it += 1
      }
      c
    }
    val coarse = fit(data,
      data.take(math.min(kCells, data.length)).map(_.clone()), ci)
    val resid = data.map { v =>
      val c = coarse(argmin(v, coarse))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    val donorRes = resid.take(math.min(ks, resid.length))
    val books = Array.tabulate(m) { s =>
      fit(resid.map(_.slice(s * sd, (s + 1) * sd)),
        donorRes.map(_.slice(s * sd, (s + 1) * sd)), pi)
    }
    Model(coarse, books)
  }

  /** Code a frame against a trained model: adds `xq` (fixed-point
    * vector), `cell` (nearest coarse centroid, integer argmin,
    * smallest-cell tie-break) and `codes` (per subvector, the argmin
    * codebook entry for the RESIDUAL) — one narrow codegen'd pass;
    * `cell` + `codes` (~m+1 small ints) are the stored index. */
  def withCodes(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    requireDim(df, vecCol, model, "IvfPq.withCodes")
    // ONE fused kernel per row (cell argmin, residual, per-sub
    // argmins); `cell` and `codes` are field reads of its struct, so
    // the cell join key forces the whole code before any fan-out join
    // and a search never re-encodes a row per candidate (CellOps'
    // placement rule)
    df.filter(col(vecCol).isNotNull)
      .withColumn("xq", quantizeChecked(col(vecCol), model.dim))
      .withColumn("_enc", kernel(graft.functions.LongPqEncode(ex(col("xq")),
        model.coarse, model.books)))
      .withColumn("cell", col("_enc.cell"))
      .withColumn("codes", col("_enc.codes"))
      .drop("_enc")
  }

  /** The routed probe frame `(probe_id, pq, cell, lut)`: each probe
    * keeps its `nprobe` integer-nearest cells (sorted-struct slice —
    * ties to the smaller cell, the [[Similarity.ivfTopKBatch]]
    * routing shape) and builds that cell's m×ks ADC lookup table
    * ONCE — `lut(s)(j)` = integer squared L2 between subvector `s`
    * of the probe's residual against THIS cell and book entry
    * `(s, j)`. Candidate scoring is then m array lookups per row. */
  private def routedProbes(probes: DataFrame, idCol: String,
                           vecCol: String, model: Model,
                           nprobe: Int): DataFrame = {
    // reference-object routing (r20): cells by one integer-L2 sort
    // (ascending distance, cell-id tie-break — the literal path's
    // sort_array order), residual + m×ks LUT off the model arrays —
    // the plan carries none of them as literals. `explode_outer`:
    // a plain explode infers a `size(_cells) > 0` filter under the
    // Project, re-running quantize and routing per probe; the array
    // is never empty for nprobe >= 1, and a null cell (nprobe = 0)
    // joins nothing, so the rows are the same.
    quantizedProbes(probes, idCol, vecCol, model)
      .withColumn("_cells", kernel(graft.functions.RoutedLongCells(
        ex(col("pq")), model.coarse, math.min(nprobe, model.kCells))))
      .select(col("probe_id"), col("pq"),
        explode_outer(col("_cells")).as("cell"))
      .withColumn("_prl", kernel(graft.functions.LongCellResidual(
        ex(col("pq")), ex(col("cell")), model.coarse)))
      .withColumn("lut", kernel(graft.functions.LongProbeLut(
        ex(col("_prl")), model.books)))
      .drop("_prl")
  }

  /** ADC distance off the per-(probe, cell) LUT — integer, plain
    * associative sum. Expects `lut`/`codes` in scope. */
  private def adcFromLut: Column =
    kernel(graft.functions.AdcLutSum(ex(col("lut")), ex(col("codes"))))

  /** The scored candidates `(probe_id, idCol, _adc, xdist)` of the
    * searches: the coded corpus (`withCodes` output, `xq` kept)
    * joined by cell against the broadcast routing table (`pq`
    * carried), each candidate's ADC and exact fixed-point distance
    * computed in the Project right after the join, so only the two
    * longs cross the exchange — neither `xq` nor `pq` does. */
  private def scored(coded: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, model: Model, nprobe: Int): DataFrame =
    CellSearch.candidates(
        coded.select(col(idCol), col("cell"), col("codes"), col("xq")),
        routedProbes(probes, idCol, vecCol, model, nprobe), "cell", idCol,
        "_adc", adcFromLut)
      .withColumn("xdist", iDist(col("pq"), col("xq")))
      .select(col("probe_id"), col(idCol), col("_adc"), col("xdist"))

  /** Batch IVF-PQ search with exact refine — the full production
    * shape. Probes route to `nprobe` cells (broadcast routing +
    * per-cell LUTs), candidates come from ONE cell-keyed join
    * against the coded corpus, each scored by ADC and by the exact
    * integer distance to the row's own fixed-point vector; the ADC
    * top-`refine` shortlist per probe is a bounded heap and the
    * exact top-k re-ranks it, both on the one `probe_id` exchange.
    * Returns `(probe_id, rank, idCol, xdist)` with `xdist` the
    * fixed-point exact squared L2 — smallest first, id tie-break; a
    * corpus id held by several rows is ranked per row, each with its
    * own distance. `model` absent trains inline at the given config;
    * pass a [[loadModel]] FROZEN artifact for the
    * train-once/query-many production shape. */
  def topKBatch(corpus: DataFrame, probes: DataFrame,
                idCol: String, vecCol: String,
                kCells: Int, m: Int, ks: Int, nprobe: Int, k: Int,
                refine: Int,
                coarseIters: Int = 4, pqIters: Int = 3, seed: Int = 0,
                model: Option[Model] = None): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    val mdl = model.getOrElse(train(corpus, idCol, vecCol, kCells, m, ks,
      coarseIters, pqIters, seed))
    requireDim(probes, vecCol, mdl, "IvfPq.topKBatch(probes)")
    val cand = scored(withCodes(corpus, vecCol, mdl), probes, idCol, vecCol,
      mdl, nprobe)
    CellSearch.topK(CellSearch.nearest(cand, "_adc", idCol, refine, "_sr"),
      "xdist", idCol, k)
  }

  /** Recall audit for the trained/residual path — per probe, how
    * many of (a) the raw ADC top-k and (b) the refined top-k survive
    * in the EXACT fixed-point top-k: `(probe_id, n_overlap_adc,
    * n_overlap)`. Integer-exact cross-engine; brute-force on
    * purpose (it measures the index); sample probes in production.
    * q147 gates it and IvfPqSpec asserts the refined mean ≥ 7/10 —
    * the round-18 number this tier exists to fix. */
  def recallBatch(corpus: DataFrame, probes: DataFrame,
                  idCol: String, vecCol: String,
                  kCells: Int, m: Int, ks: Int, nprobe: Int, k: Int,
                  refine: Int,
                  coarseIters: Int = 4, pqIters: Int = 3, seed: Int = 0,
                  model: Option[Model] = None): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    val mdl = model.getOrElse(train(corpus, idCol, vecCol, kCells, m, ks,
      coarseIters, pqIters, seed))
    requireDim(probes, vecCol, mdl, "IvfPq.recallBatch(probes)")
    val coded = withCodes(corpus, vecCol, mdl)
    val cand = scored(coded, probes, idCol, vecCol, mdl, nprobe)
    val ar = CellSearch.nearest(cand, "_adc", idCol, k, "_ar")
    val short = CellSearch.nearest(cand, "_adc", idCol, refine, "_sr")
    val rr = CellSearch.nearest(
      short.select(col("probe_id"), col(idCol), col("xdist")), "xdist", idCol,
      k, "_rr")
    // exact top-k: integer brute force over all (probe, corpus) pairs
    val brute = coded.select(col(idCol), col("xq"))
      .crossJoin(broadcast(quantizedProbes(probes, idCol, vecCol, mdl)))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn("_xd", iDist(col("pq"), col("xq")))
    val xr = CellSearch.nearest(brute, "_xd", idCol, k, "_xr")
    CellSearch.overlap(ar, xr, idCol, "n_overlap_adc")
      .join(CellSearch.overlap(rr, xr, idCol, "n_overlap"), Seq("probe_id"))
      .select(col("probe_id"), col("n_overlap_adc"), col("n_overlap"))
  }

  /** The model as gate-comparable rows `(part, sub, cid, pos, cv)` —
    * every trained parameter exploded to one long per row (q145's
    * output shape; the DuckDB oracle re-derives the full training). */
  def modelRows(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    val rows =
      (for { (c, cell) <- model.coarse.zipWithIndex.iterator
             (v, p) <- c.zipWithIndex.iterator }
        yield ("coarse", 0, cell, p, v)).toSeq ++
      (for { (b, s) <- model.books.zipWithIndex.iterator
             (c, j) <- b.zipWithIndex.iterator
             (v, p) <- c.zipWithIndex.iterator }
        yield ("book", s, j, p, v)).toSeq
    rows.toDF("part", "sub", "cid", "pos", "cv")
  }
}
