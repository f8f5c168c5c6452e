package graft.apps

import graft.dedup.{Dedup, SimilarJoin, SimilarityMethod}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end curation pipeline a training-data user actually runs
  * — the extension operators composed in their canonical order, ONE
  * call: quality filter → exact dedup (keep min id per fingerprint) →
  * near-dup clustering (keep each cluster's min id) → token/language
  * report. The reference has no such program (it is a SQL transfer
  * tool); this is the §7 extension layer packaged the way a 100 TB
  * corpus job would submit it.
  *
  * Scale shape per stage: the quality score is a pure codegen'd column
  * (no shuffle); exact dedup projects (fingerprint, id) BEFORE its
  * min-agg so the heavy text column never rides the dedup shuffle, then
  * keeps winners via a left-semi join; near-dup clustering reuses
  * [[SimilarJoin.similarClusters]] (banded candidates, hot-bucket cap,
  * optional reliable checkpointing — all the knobs documented there);
  * the report is one small aggregation. Every stage count the report
  * carries is read off a materialized stage frame, so no stage is
  * computed twice; stage boundaries cut the lineage by default
  * ([[graft.ops.StageCut]] — the composed plan otherwise re-enters
  * Catalyst analysis at every downstream action), and cleanup follows
  * StageCut's contract ([[graft.ops.StageCut.release]]). */
object Curate {

  /** Per-stage row counts + the final corpus profile. */
  case class Report(input: Long, afterQuality: Long, afterExact: Long,
                    afterNear: Long, langProfile: Map[String, Long],
                    totalTokens: Long)

  /** [[runEmbedding]]'s stage counts: the text profile is replaced by a
    * dimension histogram (a multimodal corpus has no language/tokens). */
  case class EmbReport(input: Long, afterValid: Long, afterExact: Long,
                       afterNear: Long, dimProfile: Map[Int, Long])

  /** [[runMedia]]'s stage counts: the profile is a container-format
    * histogram (png/jpeg/gif/bmp, or wav/aiff/au) of the survivors. */
  case class MediaReport(input: Long, afterValid: Long, afterExact: Long,
                         afterNear: Long, formatProfile: Map[String, Long])

  /** What the curate stages need to know about one modality (text,
    * embedding, media): the stage-1 columns (`score`) and keep
    * predicate with its ledger stage and reason, the exact-dedup
    * fingerprint with its corpus-table family and builder name and its
    * batch-duplicate reason, the log wording, and the stage-4 profile —
    * the report plus the log tail that follows the survivor noun. */
  private case class Modality[R](
      tag: String, content: String,
      score: DataFrame => DataFrame, keep: Column,
      validStage: String, invalid: String, validLog: String,
      fp: Column, family: String, builder: String,
      dup: String, exactLog: String, nearLog: String,
      kept: String, accepted: String,
      profile: (DataFrame, Long, Long, Long, Long) => (R, String))

  private def render[K: Ordering](m: Map[K, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, n) => s"$k=$n" }.mkString(", ")

  /** One small aggregation: survivor count per `key`. */
  private def histogram[K](df: DataFrame, key: Column): Map[K, Long] =
    df.groupBy(key).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[K](0) -> r.getLong(1)).toMap

  /** Text: quality score >= `minQuality`, normalized-text fingerprint,
    * a language/token profile. */
  private def textModality(textCol: String, minQuality: Double,
                           method: SimilarityMethod) = Modality[Report](
    "curate", textCol, TextOps.withQualityScore(_, textCol, "quality"),
    col("quality") >= minQuality, "quality", "low_quality",
    s"quality >= $minQuality", TextOps.fingerprint(col(textCol)),
    "_fp_text", "textFingerprints", "duplicate_text", "exact dedup",
    method.getClass.getSimpleName, "docs", "new docs",
    (curated, in, q, e, n) => {
      val profile = curated
        .transform(TextOps.withLangId(_, textCol, "_lang"))
        .groupBy(col("_lang"))
        .agg(count(lit(1)).as("n"), sum(TextOps.tokenCount(col(textCol))).as("toks"))
        .collect()
      val langs = profile.map(r => r.getString(0) -> r.getLong(1)).toMap
      val tokens = profile.map(r => r.getLong(2)).sum
      (Report(in, q, e, n, langs, tokens),
        s", $tokens tokens; languages: ${render(langs)}")
    })

  /** Embedding: [[validVector]], the [[vecFp]] fingerprint, a dimension
    * histogram. */
  private def embModality(embCol: String,
                          method: SimilarityMethod.EmbeddingCosine) =
    Modality[EmbReport](
      "curate-emb", embCol, identity, validVector(embCol), "validity",
      "invalid_vector", "valid vectors", vecFp(embCol), "_fp_emb",
      "embeddingFingerprints", "duplicate_vector", "exact vector dedup",
      s"cos >= ${method.minCos}", "vectors", "new vectors",
      (curated, in, v, e, n) => {
        val dims = histogram[Int](curated, size(col(embCol)).as("_dim"))
        (EmbReport(in, v, e, n, dims), s"; dims: ${render(dims)}")
      })

  /** Media: a container magic of the method's medium (image magics for
    * [[SimilarityMethod.ImageDHash]], audio magics for
    * [[SimilarityMethod.AudioHash]]), md5 of the raw bytes, a
    * container-format histogram. */
  private def mediaModality(payloadCol: String,
                            method: SimilarityMethod.PerceptualHash) = {
    val (format, kind) = method match {
      case _: SimilarityMethod.ImageDHash => (imageFormat(payloadCol), "image")
      case _: SimilarityMethod.AudioHash  => (audioFormat(payloadCol), "audio")
    }
    Modality[MediaReport](
      "curate-img", payloadCol, identity, format.isNotNull, "validity",
      s"invalid_$kind", s"$kind magic", md5(col(payloadCol)), "_fp_img",
      "mediaFingerprints", "duplicate_bytes", "exact byte dedup",
      s"hash <= ${method.maxHamming}", s"${kind}s", s"${kind}s",
      (curated, in, v, e, n) => {
        val formats = histogram[String](curated, format.as("_fmt"))
        (MediaReport(in, v, e, n, formats), s"; formats: ${render(formats)}")
      })
  }

  /** Stage-1 shape shared by every pipeline: run `stage` over the input
    * with the raw row count observed on the SAME scan (at 100 TB a
    * dedicated `count()` pass costs a full corpus read just to fill one
    * report field), persist, materialize. Returns (frame, input count,
    * surviving count). */
  private def observedStage(docs: DataFrame,
                            stage: DataFrame => DataFrame): (DataFrame, Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val out = stage(docs.observe(obs, count(lit(1)).as("n")))
      .transform(graft.ops.StageCut.apply)
    val after = out.count()
    (out, obs.get("n").asInstanceOf[Long], after)
  }

  /** The vector validity predicate: non-null, non-empty, FINITE, with a
    * positive norm. `dot(v,v)` folds the numeric cases — 0 for the zero
    * vector, NaN if any component is NaN, Infinity on overflow — but
    * NaN needs its own check: Spark orders NaN GREATER than every
    * number, so `NaN > 0` is true and an unguarded norm filter would
    * pass a NaN vector whose NaN cosine then out-compares every real
    * score downstream. Same reason Infinity must be excluded: Inf/Inf
    * cosines are NaN. */
  private def validVector(embCol: String): Column = {
    val d = graft.sim.Similarity.dot(col(embCol), col(embCol))
    col(embCol).isNotNull && size(col(embCol)) > 0 &&
      !isnan(d) && d > 0 && d < Double.PositiveInfinity
  }

  /** The exact-dedup vector fingerprint: md5 over the JSON rendering,
    * computed map-side so only (fp, id) rides the dedup shuffle — never
    * the dim×8-byte vector. `+ 0.0` normalizes IEEE signed zero
    * (-0.0 + 0.0 = +0.0) so the fingerprint agrees with value-equality
    * dedup on signed-zero components (JSON would otherwise render
    * "-0.0" and "0.0" as distinct strings); NaN payload variants are
    * excluded upstream by [[validVector]]. */
  private def vecFp(embCol: String): Column =
    md5(to_json(struct(transform(col(embCol), x => x + lit(0.0)).as("e"))))

  /** Stage-2 exact dedup: keep min id per `_fp`, winners fetched by a
    * semi join — (fp, id) only through the agg exchange. */
  private[apps] def keepMinPerFp(withFp: DataFrame, idCol: String): DataFrame = {
    val keepIds = withFp.select(col("_fp"), col(idCol))
      .groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(keepIds, Seq("_fp", idCol), "left_semi")
  }

  /** The batch ∩ corpus fingerprint HIT SET, computed without moving
    * the corpus-sized `cfps` table: the corpus side is probed ONCE by
    * a broadcast semi-join on the batch's distinct fingerprints (a
    * scan — no exchange on the standing table), and the result —
    * deduplicated here, because a caller-supplied `cfps` may carry one
    * row per DOC rather than per fingerprint — is at most
    * batch-distinct-sized and comes back already broadcast-hinted for
    * the caller's anti/attribution joins. The shape this replaces —
    * `batch left_anti cfps` — sort-merges BOTH sides, re-shuffling the
    * whole standing fingerprint table on every daily run; at corpus
    * scale that shuffle dwarfs the batch work.
    *
    * Contract: the BATCH fingerprint set is broadcast-scale (the
    * daily-batch shape — the same assumption the near stage's
    * signature probe and the decontamination gram set already make) —
    * and the contract is ENFORCED by [[graft.ops.ProbeGuard]]'s
    * TIERED shape ([[graft.ops.ProbeGuard.standingHits]]): the batch
    * key set is counted first; above `spark.graft.probe.maxKeys` the
    * standing scan is Bloom-reduced instead of broadcast-probed (the
    * corpus still never exchanges at its own scale — only candidate
    * rows ride the semi-join shuffle); and only beyond
    * `spark.graft.probe.bloomMaxKeys` does the plan fall back to the full
    * sort-merge, loudly. One count gates the whole shape — the hit
    * set is a subset of the guarded key set, so it inherits the
    * bound (and keeps the broadcast hint only in the probe tier). */
  private[graft] def corpusFpHits(batchFps: DataFrame, fpCol: String,
                                 cfps: DataFrame,
                                 keysUpperBound: Long = -1L): DataFrame = {
    val keys = batchFps.select(col(fpCol)).distinct()
    graft.ops.ProbeGuard.standingHits(cfps, keys, Seq(fpCol),
      "Curate.corpusFpHits", keysUpperBound)
  }

  /** The persistable corpus fingerprint tables for the incremental
    * runs' exact stage — build once over the standing corpus, store as
    * parquet, pass back via `corpusFps` so a daily batch never re-reads
    * the corpus CONTENT at all (with `corpusSigs` / a trained
    * `CellIndex` also supplied, the corpus contributes zero scans to
    * the daily run). Same staleness rule as
    * [[graft.dedup.Dedup.lshSignatures]]: the table IS the corpus —
    * append the accepted batch's fingerprints after each run.
    *
    * The fingerprint column NAME carries the method family
    * (`_fp_text`, `_fp_emb`, `_fp_img`) so a cross-wired artifact — a
    * text table handed to an embedding run or vice versa — fails loudly
    * at the consuming join instead of being silently inert (all are md5
    * strings, so a value-level mix-up would simply never match and
    * corpus-exact batch rows would survive to the near stage). The
    * family check is schema-only: zero scan cost. */
  def textFingerprints(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(TextOps.fingerprint(col(textCol)).as("_fp_text")).distinct()

  /** See [[textFingerprints]]. */
  def embeddingFingerprints(corpus: DataFrame, embCol: String): DataFrame =
    corpus.select(vecFp(embCol).as("_fp_emb")).distinct()

  /** The corpus BYTE-fingerprint table of the media incremental run —
    * md5 of the binary payload (bit-identical files, the crawl's
    * literal re-downloads, no decode). See [[textFingerprints]]. */
  def mediaFingerprints(corpus: DataFrame, payloadCol: String): DataFrame =
    corpus.select(md5(col(payloadCol)).as("_fp_img")).distinct()

  /** Family-checks a caller-supplied fingerprint table and normalizes
    * it to the internal `_fp` name. Schema-only — no data read. */
  private[apps] def requireFps(fps: DataFrame, wantCol: String,
                         builder: String): DataFrame = {
    val cols = fps.columns.toSet
    require(cols.contains(wantCol),
      s"corpus fingerprint frame needs column $wantCol, got " +
        s"(${fps.columns.mkString(", ")}) — build it with Curate.$builder" +
        (if (cols.contains("_fp_text") || cols.contains("_fp_emb"))
          " (this table belongs to the OTHER method family)"
        else if (cols.contains("_fp"))
          " (tables stored before the family stamp must be rebuilt)"
        else ""))
    fps.select(col(wantCol).as("_fp"))
  }

  /** The full curation run, one body for every modality: (1) the keep
    * predicate, filtered on the scan; (2) exact dedup, min id per
    * fingerprint; (3) near-dup clusters ([[SimilarJoin.similarClusters]]),
    * every non-representative member dropped; (4) the survivor profile.
    * Each stage is cut and counted before its input is released. */
  private def curate[R](docs: DataFrame, idCol: String, m: Modality[R],
                        method: SimilarityMethod,
                        log: String => Unit): (DataFrame, R) = {
    val (valid, input, afterValid) =
      observedStage(docs, d => m.score(d).filter(m.keep))
    log(s"[${m.tag}] ${m.validLog}: $input -> $afterValid")

    val exact = keepMinPerFp(valid.withColumn("_fp", m.fp), idCol)
      .drop("_fp")
      .transform(graft.ops.StageCut.apply)
    val afterExact = exact.count()
    graft.ops.StageCut.release(valid)
    log(s"[${m.tag}] ${m.exactLog}: $afterValid -> $afterExact")

    val (curated, afterNear) = Stages.nearWithin(Stages.DropLedger.off,
      exact, SimilarJoin.similarClusters(exact, idCol, m.content, method), idCol)
    graft.ops.StageCut.release(exact)
    log(s"[${m.tag}] near dedup (${m.nearLog}): $afterExact -> $afterNear")

    val (report, tail) = m.profile(curated, input, afterValid, afterExact, afterNear)
    log(s"[${m.tag}] kept $afterNear ${m.kept}$tail")
    (curated, report)
  }

  /** The incremental run, one body for every modality: the [[curate]]
    * stages over the BATCH only, each against the standing corpus.
    * (1) the keep predicate; its ledger fragment is the in-row
    * complement `not(pred <=> true)` — exactly the rows the filter
    * dropped (false AND null verdicts), no id anti-join. (2) exact dedup
    * within the batch, then against the corpus fingerprint table, which
    * is probed and never shuffled ([[corpusFpHits]]); `afterValid`
    * (already counted) soundly bounds the distinct batch fingerprints,
    * so the guard skips its own count. (3) ONE component pass over
    * within-batch + batch×corpus pairs ([[Stages.batchNearDrops]]) with
    * the method `nearMethod` yields when the stage starts. (4) the
    * profile of the ACCEPTED batch (the corpus is unchanged by
    * construction). */
  private def curateIncremental[R](batch: DataFrame, corpus: DataFrame,
                                   idCol: String, m: Modality[R],
                                   nearMethod: () => SimilarityMethod,
                                   corpusSigs: Option[DataFrame],
                                   corpusFps: Option[DataFrame],
                                   keepLedger: Boolean,
                                   log: String => Unit): (DataFrame, R, Option[DataFrame]) = {
    val tag = s"[${m.tag}+]"
    val ledger = new Stages.DropLedger(keepLedger, idCol, batch.schema(idCol).dataType)
    val (valid, input, afterValid) =
      observedStage(batch, d => m.score(d).filter(m.keep))
    ledger.drop(m.score(batch).filter(!(m.keep <=> lit(true))),
      m.validStage, lit(m.invalid))
    log(s"$tag ${m.validLog}: $input -> $afterValid")

    val cfps = corpusFps.map(requireFps(_, m.family, m.builder))
      .getOrElse(corpus.select(m.fp.as(m.family)).distinct()
        .select(col(m.family).as("_fp")))
    val withFp = valid.withColumn("_fp", m.fp)
    val fps = new Stages.MinIdPerFp(ledger, withFp.select(col("_fp"), col(idCol)), idCol)
    val batchFp = withFp.join(fps.keepIds, Seq("_fp", idCol), "left_semi")
    val fpHits = corpusFpHits(batchFp, "_fp", cfps, afterValid)
    val exact = batchFp.join(fpHits, Seq("_fp"), "left_anti")
      .drop("_fp")
      .transform(graft.ops.StageCut.apply)
    val afterExact = exact.count()
    fps.attribute(m.dup, Some(fpHits))
    graft.ops.StageCut.release(valid)
    log(s"$tag ${m.exactLog} (batch + corpus fps): $afterValid -> $afterExact")

    val (curated, afterNear) = Stages.nearVsCorpus(ledger, exact, corpus,
      idCol, m.content, nearMethod(), corpusSigs)
    graft.ops.StageCut.release(exact)
    log(s"$tag near dedup vs corpus (${m.nearLog}): $afterExact -> $afterNear")

    val (report, tail) = m.profile(curated, input, afterValid, afterExact, afterNear)
    log(s"$tag accepted $afterNear ${m.accepted}$tail")
    (curated, report, ledger.result())
  }

  def run(docs: DataFrame, idCol: String, textCol: String,
          minQuality: Double = 0.5,
          method: SimilarityMethod = SimilarityMethod.MinHashLsh(minJaccard = 0.8),
          log: String => Unit = m => System.err.println(m)): (DataFrame, Report) =
    curate(docs, idCol, textModality(textCol, minQuality, method), method, log)

  /** Curation over an EMBEDDING column — the multimodal-corpus shape:
    * image/audio/video rows carry no text, only a vector, so the text
    * stages of [[run]] are replaced by their vector analogues while the
    * pipeline keeps the same contract (stage counts read off persisted
    * frames, every intermediate cache released, only the curated frame
    * returned persisted).
    *
    * Stages: (1) validity — non-null, non-empty, finite, non-zero-norm
    * vectors (a zero or NaN vector has no cosine; `dot(v,v) > 0` is
    * false for both); (2) exact dedup — keep min id per BIT-identical
    * vector; the fingerprint is an md5 over the vector's JSON rendering
    * computed map-side, so only (fp, id) rides the dedup shuffle, never
    * the dim×8-byte vector (the [[run]] discipline); (3) near-dup —
    * [[SimilarJoin.similarClusters]] with the given
    * [[SimilarityMethod.EmbeddingCosine]] (auto-blocked exact cosine
    * join by default — see the method's scale knobs for K/index/
    * maxBucket), keep each cluster's min id; (4) a dimension histogram
    * of the survivors (the lang/token profile has no meaning here). */
  def runEmbedding(docs: DataFrame, idCol: String, embCol: String,
                   method: SimilarityMethod.EmbeddingCosine,
                   log: String => Unit = m => System.err.println(m)): (DataFrame, EmbReport) =
    curate(docs, idCol, embModality(embCol, method), method, log)

  /** The four JDK-decodable image containers by magic prefix — the
    * expression twin of `Multimodal.ImageIoCodec.sniff`, usable as a
    * codegen'd scan filter (stage-1 validity must not pay a decode;
    * the O(pixels) pass happens once, inside the near-dup hash). */
  private def imageFormat(payloadCol: String): Column = {
    val p = col(payloadCol)
    when(p.isNull || length(p) < 4, lit(null))
      .when(substring(p, 1, 4) === lit(Array[Byte](0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)), "png")
      .when(substring(p, 1, 3) === lit(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)), "jpeg")
      .when(substring(p, 1, 4) === lit(Array[Byte]('G'.toByte, 'I'.toByte, 'F'.toByte, '8'.toByte)), "gif")
      .when(substring(p, 1, 2) === lit(Array[Byte]('B'.toByte, 'M'.toByte)), "bmp")
      .otherwise(lit(null))
  }

  /** The three JDK-decodable audio containers by magic prefix — the
    * expression twin of `Multimodal.AudioCodec.sniff`, same codegen'd
    * scan-filter economics as [[imageFormat]]. */
  private def audioFormat(payloadCol: String): Column = {
    val p = col(payloadCol)
    when(p.isNull || length(p) < 12, lit(null))
      .when(substring(p, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
        substring(p, 9, 4) === lit("WAVE".getBytes("US-ASCII")), "wav")
      .when(substring(p, 1, 4) === lit("FORM".getBytes("US-ASCII")) &&
        substring(p, 9, 3) === lit("AIF".getBytes("US-ASCII")), "aiff")
      .when(substring(p, 1, 4) === lit(".snd".getBytes("US-ASCII")), "au")
      .otherwise(lit(null))
  }

  /** Curation over a binary IMAGE or AUDIO column — [[runEmbedding]]'s
    * contract with perceptual stages: (1) validity = the payload
    * carries a JDK-decodable container magic of the method's medium
    * (pure codegen'd prefix check riding the scan — no decode); (2)
    * exact dedup = keep min id per md5 of the raw BYTES (bit-identical
    * files — the crawl's literal re-downloads — collapse without any
    * decode either); (3) near-dup = [[SimilarJoin.similarClusters]]
    * with the perceptual hash — the ONE decode pass, producing 64-bit
    * hashes banded exactly like SimHash text signatures; rows whose
    * magic lied (undecodable behind a valid prefix) have no hash, never
    * pair, and survive as singletons — the per-row degrade contract of
    * the multimodal layer; (4) a container-format histogram of the
    * survivors. */
  def runMedia(media: DataFrame, idCol: String, payloadCol: String,
               method: SimilarityMethod.PerceptualHash = SimilarityMethod.ImageDHash(),
               log: String => Unit = m => System.err.println(m)): (DataFrame, MediaReport) =
    curate(media, idCol, mediaModality(payloadCol, method), method, log)

  /** The embedding daily run's near-dup method. For the auto-blocked
    * method ONE cell index trained on the CORPUS serves both pair
    * finders (the within-batch join stays exact under any index — radii
    * recompute over the frame actually joined; the stale-index
    * CellIndexSpec pin is exactly this property), so the daily run
    * trains zero new models instead of two. BOOTSTRAP guard: an empty
    * (or all-invalid) corpus trains zero centroids, and injecting that
    * empty index would short-circuit the WITHIN-BATCH join too — day-one
    * batch near-dups would all be accepted — so the method is then left
    * untouched and the batch self-join trains on the batch itself. */
  private def corpusIndexed(corpus: DataFrame, idCol: String, embCol: String,
                            method: SimilarityMethod.EmbeddingCosine): SimilarityMethod =
    method match {
      case e @ SimilarityMethod.EmbeddingCosine(_, None, cells, iters, None) =>
        val idx = graft.sim.CellIndex.train(corpus, idCol, embCol, cells, iters)
        if (idx.centroids.nonEmpty) e.copy(index = Some(idx)) else e
      case other => other
    }

  /** INCREMENTAL embedding curation — [[runIncremental]]'s contract
    * (corpus survivors INVARIANT, one component pass over within-batch
    * + batch×corpus near-dup edges, same drop rule) with
    * [[runEmbedding]]'s stages (validity instead of quality, exact
    * vector dedup via the map-side JSON-md5 fingerprint — batch
    * fingerprints already present in the corpus drop in one
    * distinct-fp anti-join, corpus vectors never re-shuffle). The
    * embedding A-vs-B pair finder trains its cells on the CORPUS side
    * (or takes `method.index`), so a daily batch cannot move the
    * standing index. The equivalence preconditions and id-space
    * caveats documented on [[runIncremental]] apply unchanged.
    *
    * `corpusFps`: the stored [[embeddingFingerprints]] table — with it
    * AND a pre-trained `method.index`, the daily run reads the corpus
    * vectors only for the A-vs-B candidate/verify joins. */
  def runIncrementalEmbedding(newVecs: DataFrame, corpus: DataFrame,
                              idCol: String, embCol: String,
                              method: SimilarityMethod.EmbeddingCosine,
                              corpusFps: Option[DataFrame] = None,
                              log: String => Unit = m => System.err.println(m)): (DataFrame, EmbReport) = {
    val (curated, report, _) = curateIncremental(newVecs, corpus, idCol,
      embModality(embCol, method), () => corpusIndexed(corpus, idCol, embCol, method),
      None, corpusFps, keepLedger = false, log)
    (curated, report)
  }

  /** [[runIncrementalEmbedding]] with the per-document drop ledger —
    * the [[runIncrementalTracked]] contract over the vector stages:
    * `stage` ∈ {validity, exact, near}, reasons `invalid_vector`,
    * `duplicate_vector`/`duplicate_of_corpus`,
    * `near_duplicate`/`near_duplicate_of_corpus`. */
  def runIncrementalEmbeddingTracked(newVecs: DataFrame, corpus: DataFrame,
                              idCol: String, embCol: String,
                              method: SimilarityMethod.EmbeddingCosine,
                              corpusFps: Option[DataFrame] = None,
                              log: String => Unit = m => System.err.println(m)): (DataFrame, EmbReport, DataFrame) = {
    val (curated, report, ledger) = curateIncremental(newVecs, corpus, idCol,
      embModality(embCol, method), () => corpusIndexed(corpus, idCol, embCol, method),
      None, corpusFps, keepLedger = true, log)
    (curated, report, ledger.get)
  }

  /** INCREMENTAL media curation — [[runIncrementalEmbedding]]'s
    * contract with [[runMedia]]'s perceptual stages, completing the
    * text/embedding/media × full/incremental matrix: (1) validity =
    * decodable container magic on the BATCH only (codegen'd prefix
    * check, no decode); (2) exact BYTE dedup within the batch, then
    * against the corpus payload fingerprints ([[mediaFingerprints]] —
    * the standing table is probed, never shuffled, the [[corpusFpHits]]
    * shape); (3) near-dup = ONE component pass over within-batch +
    * batch×corpus hash pairs (Curate's incremental drop rule;
    * `corpusSigs` = the stored [[graft.dedup.Dedup.dhashSignatures]] or
    * [[graft.dedup.Dedup.audioSignatures]] table — with it AND
    * `corpusFps` supplied, the daily run decodes ZERO corpus payloads);
    * (4) a container-format histogram of the accepted batch. Corpus
    * survivors are INVARIANT; batch and corpus ids must share one
    * collision-free id space. */
  def runIncrementalMedia(newMedia: DataFrame, corpus: DataFrame,
                          idCol: String, payloadCol: String,
                          method: SimilarityMethod.PerceptualHash = SimilarityMethod.ImageDHash(),
                          corpusFps: Option[DataFrame] = None,
                          corpusSigs: Option[DataFrame] = None,
                          log: String => Unit = m => System.err.println(m)): (DataFrame, MediaReport) = {
    val (curated, report, _) = curateIncremental(newMedia, corpus, idCol,
      mediaModality(payloadCol, method), () => method, corpusSigs, corpusFps,
      keepLedger = false, log)
    (curated, report)
  }

  /** [[runIncrementalMedia]] with the per-document drop ledger — the
    * [[runIncrementalTracked]] contract over the perceptual stages:
    * `stage` ∈ {validity, exact, near}, reasons `invalid_image` (or
    * `invalid_audio`), `duplicate_bytes`/`duplicate_of_corpus`,
    * `near_duplicate`/`near_duplicate_of_corpus`. */
  def runIncrementalMediaTracked(newMedia: DataFrame, corpus: DataFrame,
                          idCol: String, payloadCol: String,
                          method: SimilarityMethod.PerceptualHash = SimilarityMethod.ImageDHash(),
                          corpusFps: Option[DataFrame] = None,
                          corpusSigs: Option[DataFrame] = None,
                          log: String => Unit = m => System.err.println(m)): (DataFrame, MediaReport, DataFrame) = {
    val (curated, report, ledger) = curateIncremental(newMedia, corpus, idCol,
      mediaModality(payloadCol, method), () => method, corpusSigs, corpusFps,
      keepLedger = true, log)
    (curated, report, ledger.get)
  }

  /** INCREMENTAL curation — today's batch of new documents curated
    * against an existing curated corpus, without re-pairing the corpus
    * with itself (the round-7 `similarJoinAgainst` operator wired into
    * the pipeline it was built for). Corpus survivors are INVARIANT:
    * only batch documents are ever dropped.
    *
    * Stages: (1) quality-filter the batch (same score/threshold as
    * [[run]]); (2) exact dedup — keep min id per fingerprint WITHIN the
    * batch, then drop batch fingerprints already present in the corpus
    * (one distinct-fp anti-join; the corpus text is never re-shuffled);
    * (3) near-dup — within-batch pairs ([[SimilarJoin.similarJoin]])
    * plus batch×corpus pairs ([[SimilarJoin.similarJoinAgainst]] — the
    * incremental scale shape: candidate work ∝ |batch|, corpus costs
    * one signature pass) feed ONE connected-components run; a batch
    * document is dropped if its component touches the corpus (it
    * near-duplicates standing content, directly or transitively through
    * other batch docs) or if it is a non-representative (non-min-id)
    * member of a batch-only component; (4) the survivor profile.
    *
    * Equivalence contract (spec-pinned): when batch ids sort AFTER all
    * corpus ids and no batch document bridges two distinct corpus
    * survivors, `runIncremental(b2, curate(b1))` keeps exactly the
    * b2-side survivors of `curate(b1 ∪ b2)`. Outside those
    * preconditions the full run may relabel a cluster onto a batch id
    * (or merge two corpus survivors through a batch bridge) — the
    * incremental form then still drops every batch near-dup but keeps
    * the corpus fixed, which is the contract an append-only corpus
    * wants. Batch and corpus ids must come from one id space with no
    * value collisions (component membership mixes them).
    *
    * MULTI-DAY composition (spec-pinned over three chained CLI
    * increments with artifact-union maintenance): with contiguous
    * day slices in id order the chained standing corpus equals one
    * full [[run]] over all slices, EXCEPT for the one documented
    * drift — a transitive chain a–b–c spanning days with no direct
    * a–c edge keeps c (b was rejected on its day, so it is absent
    * from the corpus when c arrives; the full run's global clustering
    * drops c through b). This is inherent to append-on-accept: the
    * incremental contract is "nothing near the ACCEPTED corpus
    * enters", not "global clustering replay". Both behaviors are
    * asserted in CurateSpec.
    *
    * `corpusSigs` (text methods): the corpus's stored
    * [[graft.dedup.Dedup.lshSignatures]] (MinHashLsh) or
    * [[graft.dedup.Dedup.simhashSignatures]] (SimHash) table — the
    * train-once shape: the standing corpus text is then never re-read
    * by the near stage. `corpusFps`: the stored [[textFingerprints]]
    * table — with both supplied, the daily run reads the corpus
    * content zero times. */
  def runIncremental(newDocs: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String,
                     minQuality: Double = 0.5,
                     method: SimilarityMethod = SimilarityMethod.MinHashLsh(minJaccard = 0.8),
                     corpusSigs: Option[DataFrame] = None,
                     corpusFps: Option[DataFrame] = None,
                     log: String => Unit = m => System.err.println(m)): (DataFrame, Report) = {
    val (curated, report, _) = curateIncremental(newDocs, corpus, idCol,
      textModality(textCol, minQuality, method), () => method, corpusSigs,
      corpusFps, keepLedger = false, log)
    (curated, report)
  }

  /** [[runIncremental]] that ALSO returns the per-document DROP
    * AUDIT — the [[PretrainPrep.Tracked]] ledger contract for the
    * curate chain: one row `(idCol, stage, reason, winner_id)` per
    * rejected batch doc, `stage` ∈ {quality, exact, near}, corpus-
    * caused drops distinguished (`duplicate_of_corpus` with NULL
    * winner — the fingerprint table has no ids;
    * `near_duplicate_of_corpus` with the component's min CORPUS
    * member as winner), batch-internal ones naming their surviving
    * twin. Ledger ids and accepted ids partition the quality-input
    * exactly (spec-pinned). Both returned frames are materialized
    * ([[graft.ops.StageCut]]) — release both. Cost when enabled: one
    * id anti-join per stage plus materializing the shared
    * fingerprint and near-drop frames — no extra pass over any text. */
  def runIncrementalTracked(newDocs: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String,
                     minQuality: Double = 0.5,
                     method: SimilarityMethod = SimilarityMethod.MinHashLsh(minJaccard = 0.8),
                     corpusSigs: Option[DataFrame] = None,
                     corpusFps: Option[DataFrame] = None,
                     log: String => Unit = m => System.err.println(m)): (DataFrame, Report, DataFrame) = {
    val (curated, report, ledger) = curateIncremental(newDocs, corpus, idCol,
      textModality(textCol, minQuality, method), () => method, corpusSigs,
      corpusFps, keepLedger = true, log)
    (curated, report, ledger.get)
  }
}

/** `curate <sfDir> <outDir> [minQuality] [method] [checkpointDir]` —
  * read the `documents` table, run the full curation pipeline, write
  * the surviving rows as parquet, stage counts on stderr.
  *
  * `method`: a bare number or `minhash:<minJaccard>` selects
  * MinHash-LSH; `simhash:<maxHamming>` selects SimHash banding;
  * `cosine:<minCos>` switches to the EMBEDDING pipeline
  * ([[Curate.runEmbedding]] over the `embeddings` table — minQuality is
  * ignored; validity replaces the quality stage); `dhash:<maxHamming>`
  * switches to the MEDIA pipeline ([[Curate.runMedia]] over
  * `<sfDir>/media.parquet` with (media_id, payload) columns). With a
  * `checkpointDir` the whole run is inside
  * [[graft.ops.StageCut.withReliableCuts]]: every stage cut is a
  * reliable checkpoint and the near-dup clustering runs
  * parquet-snapshot rounds — fault-tolerant on a real cluster, every
  * file cleaned up once the curated output is written. */
object CurateMain {

  private[apps] def parseMethod(s: String): SimilarityMethod = s match {
    case m if m.startsWith("simhash:") =>
      SimilarityMethod.SimHash(maxHamming = m.stripPrefix("simhash:").toInt)
    case m if m.startsWith("minhash:") =>
      SimilarityMethod.MinHashLsh(minJaccard = m.stripPrefix("minhash:").toDouble)
    case m if m.startsWith("cosine:") =>
      SimilarityMethod.EmbeddingCosine(minCos = m.stripPrefix("cosine:").toDouble)
    case m if m.startsWith("dhash:") =>
      SimilarityMethod.ImageDHash(maxHamming = m.stripPrefix("dhash:").toInt)
    case m if m.startsWith("audiohash:") =>
      SimilarityMethod.AudioHash(maxHamming = m.stripPrefix("audiohash:").toInt)
    case m => SimilarityMethod.MinHashLsh(minJaccard = m.toDouble)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2)
      throw new IllegalArgumentException(
        "usage: curate <sfDir> <outDir> [minQuality] [method] [checkpointDir]")
    val Array(sfDir, outDir, rest @ _*) = args.toSeq.toArray: @unchecked
    val minQuality = rest.headOption.map(_.toDouble).getOrElse(0.5)
    val method = rest.lift(1).map(parseMethod)
      .getOrElse(SimilarityMethod.MinHashLsh(minJaccard = 0.8))
    val spark = Mains.session("graft-curate")
    def pipeline(): Unit = method match {
      case emb: SimilarityMethod.EmbeddingCosine =>
        val vecs = graft.Tables.load(spark, sfDir, "embeddings")
        val (curated, report) = Curate.runEmbedding(vecs, "vec_id",
          "embedding", emb)
        curated.write.mode("overwrite").parquet(outDir)
        graft.ops.StageCut.release(curated)
        println(s"[curate] ${report.input} in -> ${report.afterNear} out " +
          s"($outDir)")
      case ph: SimilarityMethod.PerceptualHash =>
        // media corpora have no standard driver table — the CLI reads
        // `<sfDir>/media.parquet` with (media_id, payload) columns
        val media = spark.read.parquet(s"$sfDir/media.parquet")
        val (curated, report) = Curate.runMedia(media, "media_id",
          "payload", ph)
        curated.write.mode("overwrite").parquet(outDir)
        graft.ops.StageCut.release(curated)
        println(s"[curate] ${report.input} in -> ${report.afterNear} out " +
          s"($outDir)")
      case _ =>
        val docs = graft.Tables.load(spark, sfDir, "documents")
        val (curated, report) = Curate.run(docs, "doc_id", "text", minQuality,
          method)
        curated.write.mode("overwrite").parquet(outDir)
        graft.ops.StageCut.release(curated)
        println(s"[curate] ${report.input} in -> ${report.afterNear} out " +
          s"($outDir)")
    }
    rest.lift(2) match {
      case Some(ckpt) =>
        graft.ops.StageCut.withReliableCuts(spark, ckpt) { pipeline() }
      case None => pipeline()
    }
    Mains.stop(spark)
  }
}

/** `curate-incremental <batchDir> <corpusParquet> <outDir> [key=value...]`
  * — the DAILY run as one CLI: read the batch from `batchDir`
  * (`documents.parquet`, or `embeddings.parquet` for a `cosine:`
  * method), the standing corpus from a previous run's parquet, run
  * [[Curate.runIncremental]] / [[Curate.runIncrementalEmbedding]], and
  * write the full train-once artifact set under `<outDir>`:
  * `accepted/` (the surviving batch rows — union into the standing
  * corpus), `fps/` (fingerprints of the accepted rows) and, for the
  * text path, `sigs/` (their [[graft.dedup.Dedup.lshSignatures]]
  * table) — each union-ready for the append-on-accept maintenance
  * move, so the NEXT daily run never reads the corpus content.
  *
  * Options: `minQuality=0.5` (text), `method=minhash:0.8 |
  * simhash:<h> | cosine:<c> | dhash:<h>` (`dhash:` = the MEDIA
  * pipeline, [[Curate.runIncrementalMedia]] over
  * `<batchDir>/media.parquet`), `sigs=<parquet>` (stored corpus
  * signature table — [[graft.dedup.Dedup.lshSignatures]],
  * [[graft.dedup.Dedup.simhashSignatures]] or
  * [[graft.dedup.Dedup.dhashSignatures]] matching the method;
  * loud error with cosine), `fps=<parquet>` (stored corpus
  * fingerprint table), `index=<dir>` (stored [[graft.sim.CellIndex]],
  * cosine only), `checkpoint=<dir>` (reliable stage cuts and
  * clustering, as in `curate`), `ledger=on` (adds `ledger/` — the
  * per-document drop audit of [[Curate.runIncrementalTracked]] /
  * [[Curate.runIncrementalEmbeddingTracked]]). */
object CurateIncrementalMain {

  private val usage =
    "usage: curate-incremental <batchDir> <corpusParquet> <outDir> " +
      "[minQuality=0.5] [method=minhash:0.8] [sigs=parquet] " +
      "[fps=parquet] [index=dir] [checkpoint=dir] [ledger=on]"
  private val knownKeys =
    Set("minQuality", "method", "sigs", "fps", "index", "checkpoint",
      "ledger")

  def main(args: Array[String]): Unit = {
    if (args.length < 3) throw new IllegalArgumentException(usage)
    val Array(batchDir, corpusDir, outDir, rest @ _*) =
      args.toSeq.toArray: @unchecked
    val opts = rest.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if knownKeys(k) => k -> v
        case _ => throw new IllegalArgumentException(
          s"unrecognized option '$kv'\n$usage")
      }
    }.toMap
    val minQuality = opts.get("minQuality").map(_.toDouble).getOrElse(0.5)
    opts.get("ledger").foreach(v => require(v == "on" || v == "off",
      s"ledger must be 'on' or 'off', got '$v'\n$usage"))
    val keepLedger = opts.get("ledger").contains("on")
    val method = opts.get("method").map(CurateMain.parseMethod)
      .getOrElse(SimilarityMethod.MinHashLsh(minJaccard = 0.8))
    // cross-wired artifacts fail BEFORE any I/O
    method match {
      case _: SimilarityMethod.EmbeddingCosine =>
        require(!opts.contains("sigs"),
          "sigs= is the MinHashLsh train-once artifact; with a cosine: " +
            "method pass index=<dir> (a stored CellIndex) instead")
      case _ =>
        require(!opts.contains("index"),
          "index= is the embedding train-once artifact; with a text " +
            "method pass sigs=<parquet> (Dedup.lshSignatures) instead")
    }
    val spark = Mains.session("graft-curate-incremental")
    val corpus = spark.read.parquet(corpusDir)
    val corpusFps = opts.get("fps").map(p => spark.read.parquet(p))
    def run(): Unit = method match {
      case emb: SimilarityMethod.EmbeddingCosine =>
        val m = opts.get("index")
          .map(p => emb.copy(index = Some(graft.sim.CellIndex.load(spark, p))))
          .getOrElse(emb)
        val batch = graft.Tables.load(spark, batchDir, "embeddings")
        val (accepted, report, ledger) =
          if (keepLedger) {
            val (a, r, l) = Curate.runIncrementalEmbeddingTracked(
              batch, corpus, "vec_id", "embedding", m, corpusFps = corpusFps)
            (a, r, Some(l))
          } else {
            val (a, r) = Curate.runIncrementalEmbedding(
              batch, corpus, "vec_id", "embedding", m, corpusFps = corpusFps)
            (a, r, None)
          }
        ledger.foreach { l =>
          l.write.mode("overwrite").parquet(s"$outDir/ledger")
          graft.ops.StageCut.release(l)
        }
        accepted.write.mode("overwrite").parquet(s"$outDir/accepted")
        // maintenance artifact off the still-cached accepted frame
        Curate.embeddingFingerprints(accepted, "embedding")
          .write.mode("overwrite").parquet(s"$outDir/fps")
        graft.ops.StageCut.release(accepted)
        println(s"[curate+] ${report.input} in -> ${report.afterNear} " +
          s"accepted ($outDir/accepted)")
      case ph: SimilarityMethod.PerceptualHash =>
        val sigs = opts.get("sigs").map(p => spark.read.parquet(p))
        val batch = spark.read.parquet(s"$batchDir/media.parquet")
        val (accepted, report, ledger) =
          if (keepLedger) {
            val (a, r, l) = Curate.runIncrementalMediaTracked(
              batch, corpus, "media_id", "payload", ph,
              corpusFps = corpusFps, corpusSigs = sigs)
            (a, r, Some(l))
          } else {
            val (a, r) = Curate.runIncrementalMedia(
              batch, corpus, "media_id", "payload", ph,
              corpusFps = corpusFps, corpusSigs = sigs)
            (a, r, None)
          }
        ledger.foreach { l =>
          l.write.mode("overwrite").parquet(s"$outDir/ledger")
          graft.ops.StageCut.release(l)
        }
        accepted.write.mode("overwrite").parquet(s"$outDir/accepted")
        // maintenance artifacts off the still-cached accepted frame
        Curate.mediaFingerprints(accepted, "payload")
          .write.mode("overwrite").parquet(s"$outDir/fps")
        (ph match {
          case _: SimilarityMethod.ImageDHash =>
            graft.dedup.Dedup.dhashSignatures(accepted, "media_id", "payload")
          case _: SimilarityMethod.AudioHash =>
            graft.dedup.Dedup.audioSignatures(accepted, "media_id", "payload")
        }).write.mode("overwrite").parquet(s"$outDir/sigs")
        graft.ops.StageCut.release(accepted)
        println(s"[curate+] ${report.input} in -> ${report.afterNear} " +
          s"accepted ($outDir/accepted)")
      case m =>
        val sigs = opts.get("sigs").map(p => spark.read.parquet(p))
        val batch = graft.Tables.load(spark, batchDir, "documents")
        val (accepted, report, ledger) =
          if (keepLedger) {
            val (a, r, l) = Curate.runIncrementalTracked(
              batch, corpus, "doc_id", "text", minQuality, m,
              corpusSigs = sigs, corpusFps = corpusFps)
            (a, r, Some(l))
          } else {
            val (a, r) = Curate.runIncremental(
              batch, corpus, "doc_id", "text", minQuality, m,
              corpusSigs = sigs, corpusFps = corpusFps)
            (a, r, None)
          }
        ledger.foreach { l =>
          l.write.mode("overwrite").parquet(s"$outDir/ledger")
          graft.ops.StageCut.release(l)
        }
        accepted.write.mode("overwrite").parquet(s"$outDir/accepted")
        // maintenance artifacts off the still-cached accepted frame
        Curate.textFingerprints(accepted, "text")
          .write.mode("overwrite").parquet(s"$outDir/fps")
        m match {
          case SimilarityMethod.MinHashLsh(n, b, _) =>
            graft.dedup.Dedup.lshSignatures(accepted, "doc_id", "text", n, b)
              .write.mode("overwrite").parquet(s"$outDir/sigs")
          case _: SimilarityMethod.SimHash =>
            graft.dedup.Dedup.simhashSignatures(accepted, "doc_id", "text")
              .write.mode("overwrite").parquet(s"$outDir/sigs")
          case _ => ()
        }
        graft.ops.StageCut.release(accepted)
        println(s"[curate+] ${report.input} in -> ${report.afterNear} " +
          s"accepted ($outDir/accepted)")
    }
    opts.get("checkpoint") match {
      case Some(ckpt) =>
        graft.ops.StageCut.withReliableCuts(spark, ckpt) { run() }
      case None => run()
    }
    Mains.stop(spark)
  }
}
