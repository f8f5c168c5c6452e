package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup is a single hash-groupBy (map-side partial
  * aggregation, one shuffle on the fingerprint). MinHash-LSH follows the
  * classic shingle → minhash → band → bucket-join shape: candidate
  * generation is an equi-join on band values, so the only shuffle is on
  * band keys and the quadratic Jaccard verification runs ONLY inside
  * buckets — never across the full corpus. At 100 TB the band join is
  * skew-sensitive (a degenerate common shingle ⇒ hot bucket): both pair
  * finders bound that via [[defaultMaxBucket]] ([[dropHotBuckets]] —
  * oversized buckets are dropped from candidate generation, loudly);
  * AQE skew-join handles the moderate cases below the cap.
  */
object Dedup {

  /** Default hot-bucket cap for the banded pair finders. A band bucket
    * of n members generates n(n-1)/2 candidate pairs, so one degenerate
    * bucket (boilerplate text, a common shingle, signature 0) turns the
    * bucketed design quadratic: at 10k members that is ~5e7 pairs from a
    * SINGLE bucket — survivable; at 1M it is ~5e11 — not. 10k never
    * fires at gate scale (sf0.1 buckets are O(100)) and bounds the
    * worst single-bucket cost at 100 TB. Pass `Int.MaxValue` to
    * disable. */
  val defaultMaxBucket: Int = 10000

  /** Log sink for dropped hot buckets — a hook so specs can assert the
    * cap is NEVER silent; production default is stderr. */
  @volatile private[graft] var hotBucketLog: String => Unit =
    m => System.err.println(m)

  /** The documented escape hatch for degenerate hot bands: buckets with
    * more than `maxBucket` members are DROPPED from candidate
    * generation, loudly. Rationale: a bucket that large is almost never
    * near-duplicate signal — it is boilerplate/empty text that exact
    * dedup (one cheap groupBy) removes up front — and keeping it costs
    * O(n^2) pairs. Dropping trades that quadratic blow-up for bounded
    * recall loss ONLY among pairs whose every other band also overflows.
    *
    * Scale shape: one count-agg over the (key, id) band rows (map-side
    * partial combine, one shuffle on the band key), then the hot keys —
    * at most totalBandRows / maxBucket of them, bounded by
    * construction — broadcast into a LEFT ANTI join. No second shuffle
    * of the band rows and nothing at all when no bucket overflows.
    *
    * The overflow scan is an EAGER job at operator-build time (the drop
    * must be loggable before any result materializes). With the default
    * `cacheSignatures=true` it reads the signature cache, costing one
    * cheap agg; with `cacheSignatures=false` it re-evaluates the
    * signature pipeline once to build the hot-keys cache — callers
    * managing their own caching should persist upstream or pass
    * maxBucket=Int.MaxValue. */
  private[graft] def dropHotBuckets(banded: DataFrame, keyCols: Seq[String],
                                    maxBucket: Int, opName: String): DataFrame = {
    if (maxBucket >= Int.MaxValue) return banded
    val keys = keyCols.map(col)
    // the hot-keys frame is persisted BEFORE its three consumers (the
    // stats row, the top-3 log probe, the anti-join's broadcast build)
    // so the banded aggregation — and, when signatures are uncached,
    // the whole upstream signature pipeline under it — runs exactly
    // once. The cache is ≤ bandRows/maxBucket tiny rows and intentional:
    // the returned plan's broadcast references it for the lifetime of
    // the result. No per-key Array lives on the driver and nothing
    // driver-side is sorted — the broadcast side does pass through the
    // driver (that is how BroadcastExchange works), but it is the
    // bounded aggregated frame, never the band rows.
    val hot = banded.groupBy(keys: _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = hot.agg(count(lit(1)).as("_k"), sum(col("_n")).as("_d")).head()
    if (stats.getLong(0) == 0L) { hot.unpersist(); banded }
    else {
      val worst = hot.orderBy(col("_n").desc).take(3)
        .map(r => keyCols.map(k => String.valueOf(r.get(r.fieldIndex(k))))
          .mkString(":") + "(n=" + r.getAs[Long]("_n") + ")")
      hotBucketLog(s"[graft.dedup] $opName: dropped ${stats.getLong(0)} hot " +
        s"bucket(s) exceeding maxBucket=$maxBucket (${stats.getLong(1)} band rows); " +
        s"largest: ${worst.mkString(", ")}. Pairs matched ONLY inside these " +
        "buckets are not emitted — run exact dedup first or raise maxBucket.")
      banded.join(broadcast(hot.select(keys: _*)), keyCols, "left_anti")
    }
  }

  /** Exact duplicate groups by normalized-text fingerprint. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("min_id"))
      .filter(col("cnt") > 1)
      .orderBy(col("fp"))

  /** id + one minhash column per band seed (the 8-hex-char md5 window
    * minima of the shingle set — the engine-portable minhash family).
    *
    * bands ≤ 4 rides the SAME native codegen'd expression that powers
    * [[lshNearDupPairs]] (`graft_lsh_sig`, one JVM pass per document) —
    * a single implementation of the value contract in
    * `functions/TextHash.scala:16-31`. The hex presentation is recovered
    * from the numeric band minima: fixed-width lowercase hex is
    * order-isomorphic with the unsigned value, so hex(min) == min(hex)
    * character-for-character. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   nGram: Int, bands: Int): DataFrame = {
    if (bands <= 4) {
      import org.apache.spark.sql.graft.bridge
      df.select(col(idCol), col(textCol))
        .withColumn("_lsig", bridge.column(graft.functions.LshSignature(
          bridge.expression(col(textCol)), nGram, bands)))
        .select((col(idCol) +: (0 until bands).map(b =>
          lower(lpad(hex(element_at(col("_lsig.bands"), b + 1)), 8, "0"))
            .as(s"mh$b"))): _*)
    } else {
      // general path ONLY for bands > 4: those seeds need the second
      // digest family (md5("<seed>|" + shingle)) that the 4-window
      // native expression cannot produce — see TextOps.minhash.
      val sh = TextOps.shingles(col(textCol), nGram)
      val mh = (0 until bands).map(b => TextOps.minhash(sh, b).as(s"mh$b"))
      df.select((col(idCol) +: mh): _*)
    }
  }

  /** Jaccard similarity of two shingle arrays (dedups its inputs). */
  def jaccard(a: Column, b: Column): Column =
    jaccardDistinct(array_distinct(a), array_distinct(b))

  /** Jaccard over arrays ALREADY distinct — skips the re-dedup. */
  private def jaccardDistinct(da: Column, db: Column): Column = {
    val inter = size(array_intersect(da, db)).cast("double")
    val union = (size(da) + size(db)).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** LSH candidate pairs: documents sharing ANY minhash band, verified
    * with true n-gram Jaccard. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, one row per pair even if several bands collide.
    *
    * Scale shape: bands come from ONE shingle pass (explode, not a
    * per-band union re-reading the corpus); the candidate join carries
    * only (band, id) — the heavy shingle arrays are fetched AFTER pair
    * dedup, so the band shuffle stays bytes-per-doc small and Jaccard
    * is computed once per distinct pair, not once per colliding band. */
  def lshNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                      nGram: Int = 3, bands: Int = 4,
                      minJaccard: Double = 0.0,
                      cacheSignatures: Boolean = true,
                      maxBucket: Int = defaultMaxBucket): DataFrame = {
    val (sig, verified) = lshPlan(df, idCol, textCol, nGram, bands,
      minJaccard, cacheSignatures, maxBucket)
    if (!cacheSignatures) verified
    else {
      // materialize the pair list eagerly, then RELEASE the signature
      // cache — otherwise repeated calls in a long-lived session leak
      // MEMORY_AND_DISK blocks the size of the corpus. persist (NOT
      // localCheckpoint): under hot bands the pair list is not small,
      // and a checkpoint's truncated lineage would fail the job on
      // executor loss where a persisted plan just recomputes; the
      // MEMORY_AND_DISK level also spills a huge pair list instead of
      // pinning it in block storage.
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // force materialization before dropping the input cache
      sig.unpersist()
      out
    }
  }

  /** The un-materialized LSH plan — exposed so PlanQualitySpec can pin
    * the join shape (one band-key exchange, cached signature reuse)
    * before persist()/count() hide it behind an InMemoryTableScan. */
  private[graft] def lshPlan(df: DataFrame, idCol: String, textCol: String,
                             nGram: Int, bands: Int, minJaccard: Double,
                             cacheSignatures: Boolean,
                             maxBucket: Int = defaultMaxBucket): (DataFrame, DataFrame) = {
    // signature pass: shingles + banded minhashes computed ONCE per doc.
    // The self-join and the two late sh-fetches would otherwise
    // re-evaluate the (interpreted, higher-order) shingle expressions
    // 4x — caching the signature table is the same call Spark ML's LSH
    // makes; MEMORY_AND_DISK so a 100 TB corpus spills instead of OOM.
    val sig0 = lshSigFrame(df, idCol, textCol, nGram, bands)
    val sig = if (cacheSignatures)
      sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sig0

    val banded0 = sig.select(col("id"), explode(col("bands")).as("band"))
      .filter(col("band").isNotNull)
    val banded = dropHotBuckets(banded0, Seq("band"), maxBucket, "lshNearDupPairs")
    val pairs = banded.select(col("band"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("id").as("id_b")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // bands <= 4: the sig frame carries sorted long hashes — verify
    // with the allocation-free native merge (value-identical: Jaccard
    // over the same distinct sets). bands > 4: string shingles, the
    // composable set-intersection form remains.
    val jac =
      if (bands <= 4) {
        import org.apache.spark.sql.graft.bridge
        bridge.column(graft.functions.JaccardSorted(
          bridge.expression(col("sh_a")), bridge.expression(col("sh_b"))))
      } else jaccardDistinct(col("sh_a"), col("sh_b"))
    val verified = pairs
      .join(sig.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("id_a"), col("id_b"))
    (sig, verified)
  }

  /** The per-document LSH signature frame `(id, sh, bands)` — shared by
    * the self-join and A-vs-B plans.
    *
    * bands <= 4: ONE native codegen'd pass per doc
    * (functions.LshSignature) computes BOTH the 32-bit hashed shingle
    * set (verification) and the numeric band minima (candidates) —
    * value-identical to the staged transform/md5/conv/substring Column
    * chain it replaces (see TextHashImpl's value contract), but
    * whole-stage-compiled where interpreted higher-order lambdas never
    * are, and it shuffles/caches longs instead of hex strings. Jaccard
    * over the hashed shingles equals string Jaccard except on 32-bit
    * collisions — the oracle hashes identically, so values stay
    * engine-exact. `sh` is SORTED here — once per document, inside the
    * (to-be-)cached frame — so the verify step's graft_jaccard can
    * merge-count per pair instead of building a boxed hash set per pair
    * (set identity, and therefore Jaccard, is order-independent).
    *
    * bands > 4: those seeds need the second digest family the native
    * expression cannot produce — the composable string-shingle form. */
  private def lshSigFrame(df: DataFrame, idCol: String, textCol: String,
                          nGram: Int, bands: Int): DataFrame =
    if (bands <= 4) {
      import org.apache.spark.sql.graft.bridge
      df.select(col(idCol).as("id"), col(textCol))
        .withColumn("_lsig", bridge.column(graft.functions.LshSignature(
          bridge.expression(col(textCol)), nGram, bands)))
        .select(col("id"), sort_array(col("_lsig.sh")).as("sh"),
          col("_lsig.bands").as("bands"))
    } else df.select(
      col(idCol).as("id"),
      array_distinct(TextOps.shingles(col(textCol), nGram)).as("sh"))
      .withColumn("bands",
        array((0 until bands).map(b => TextOps.minhash(col("sh"), b)): _*))

  /** The persistable LSH signature table of a standing corpus —
    * `(id, sh, bands)` with `sh` the SORTED 32-bit-hashed shingle set
    * (verification input) and `bands` the minhash band minima
    * (candidate keys). This is the train-once artifact of the
    * incremental text pipeline: build it once over the corpus, store
    * it (`sigs.write.parquet(path)` / `spark.read.parquet(path)`), and
    * feed it to [[lshNearDupPairsAgainst]]'s `corpusSigs` so each daily
    * batch skips the corpus's shingle pass entirely — at 100 TB that
    * pass, not the band join, dominates the incremental run's cost.
    *
    * UNLIKE [[graft.sim.CellIndex]] (where a stale index only degrades
    * pruning), LSH signatures ARE the corpus: a stale table means
    * missing/phantom pairs. Rebuild (or append signatures for accepted
    * rows — the frame is row-wise, so `union` of the accepted batch's
    * own signatures is the standing maintenance move) whenever the
    * corpus changes. `nGram` cannot be re-derived from the shingle
    * hashes, so it is STAMPED as a literal `ngram` column and asserted
    * at use alongside `bands` — a table built with a different nGram
    * would silently produce missing/phantom pairs, the one failure mode
    * worse than a loud one. */
  def lshSignatures(df: DataFrame, idCol: String, textCol: String,
                    nGram: Int = 3, bands: Int = 4): DataFrame =
    lshSigFrame(df, idCol, textCol, nGram, bands)
      .withColumn("ngram", lit(nGram))

  /** Structural validation of a caller-supplied signature table:
    * required columns present, band count AND stamped nGram matching
    * the call on EVERY row (aggregates, not a one-row probe — the
    * documented maintenance move is union-appending batches, and a
    * single append built with the wrong parameters must fail here, not
    * silently miss its pairs). A NULL `bands` row is rejected for the
    * same reason: it would pass a min/max check yet contribute zero
    * candidates. One columnar pass over array lengths and the literal
    * column only — trivial next to the shingle pass the table exists
    * to avoid. */
  private def validateSigs(sigs: DataFrame, nGram: Int, bands: Int): DataFrame = {
    val cols = sigs.columns.toSet
    require(Set("id", "sh", "bands", "ngram").subsetOf(cols),
      s"corpus signature frame needs columns (id, sh, bands, ngram), got " +
        s"(${sigs.columns.mkString(", ")}) — build it with Dedup.lshSignatures" +
        (if (cols.contains("bands") && !cols.contains("ngram"))
          " (tables stored before the ngram stamp must be rebuilt)" else ""))
    val s = sigs.agg(
      count(lit(1)).as("n"),
      // size(NULL) is NULL ⇒ a NULL-bands row fails BOTH conditions and
      // shows up as n - bandsOk, covering shape drift and NULLs in one
      // count; same trick for a NULL ngram stamp
      count(when(size(col("bands")) === bands, 1)).as("bandsOk"),
      count(when(col("ngram") === nGram, 1)).as("ngramOk"))
      .collect().head
    val (n, bandsOk, ngramOk) = (s.getLong(0), s.getLong(1), s.getLong(2))
    require(bandsOk == n,
      s"corpus signature frame has ${n - bandsOk} of $n rows whose band " +
        s"count differs from the expected $bands (or is NULL) — rebuild " +
        s"with Dedup.lshSignatures(..., bands = $bands)")
    require(ngramOk == n,
      s"corpus signature frame has ${n - ngramOk} of $n rows stamped with " +
        s"an nGram other than the expected $nGram (or NULL) — rebuild " +
        s"with Dedup.lshSignatures(..., nGram = $nGram)")
    sigs.select(col("id"), col("sh"), col("bands"))
  }

  /** Two-sided (A vs B) LSH near-dup pairs: new-side band signatures
    * probed into the corpus-side band index — the incremental-curation
    * shape ([[SimilarJoin.similarJoinAgainst]] documents the contract).
    * Candidates share ANY minhash band ACROSS the sides; the quadratic
    * work per band key is |A_bucket| × |B_bucket|, so the hot-bucket
    * cap applies to EACH side (bounding any band's pair count at
    * maxBucket²). Returns (id_a, id_b, jaccard) with id_a from `newDf`
    * and id_b from `corpusDf` — independent id spaces, no `<`
    * canonicalization. Signatures are computed once per side, cached,
    * and released after the pair list materializes, exactly like the
    * self-join form.
    *
    * `corpusSigs`: a [[lshSignatures]] table for the corpus side —
    * `corpusDf` is then never read (pass it anyway for the signature;
    * it is ignored), the corpus shingle pass is skipped, and the
    * caller keeps ownership of the frame's cache lifecycle (this call
    * neither persists nor unpersists it). Must have been built with
    * the SAME nGram and bands. */
  def lshNearDupPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
                             idCol: String, textCol: String,
                             nGram: Int = 3, bands: Int = 4,
                             minJaccard: Double = 0.0,
                             cacheSignatures: Boolean = true,
                             maxBucket: Int = defaultMaxBucket,
                             corpusSigs: Option[DataFrame] = None): DataFrame = {
    val (caches, verified) = lshPlanAgainst(newDf, corpusDf, idCol, textCol,
      nGram, bands, minJaccard, cacheSignatures, maxBucket, corpusSigs)
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      caches.foreach(_.unpersist())
      out
    }
  }

  /** The un-materialized A-vs-B LSH plan — exposed like [[lshPlan]] for
    * PlanQualitySpec pinning. Returns (side caches, verified). */
  private[graft] def lshPlanAgainst(newDf: DataFrame, corpusDf: DataFrame,
                                    idCol: String, textCol: String,
                                    nGram: Int, bands: Int,
                                    minJaccard: Double,
                                    cacheSignatures: Boolean,
                                    maxBucket: Int = defaultMaxBucket,
                                    corpusSigs: Option[DataFrame] = None): (Seq[DataFrame], DataFrame) = {
    def sigOf(df: DataFrame) = {
      val s0 = lshSigFrame(df, idCol, textCol, nGram, bands)
      if (cacheSignatures)
        s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s0
    }
    val sigA = sigOf(newDf)
    // a caller-supplied signature table is used as-is: its cache (or
    // parquet scan) lifecycle belongs to the caller, so it joins the
    // release list only when built here
    val sigB = corpusSigs.map(validateSigs(_, nGram, bands)).getOrElse(sigOf(corpusDf))
    def bandedOf(sig: DataFrame, tag: String) = dropHotBuckets(
      sig.select(col("id"), explode(col("bands")).as("band"))
        .filter(col("band").isNotNull),
      Seq("band"), maxBucket, s"lshNearDupPairsAgainst($tag)")
    // candidates = new-side bands probed into the corpus-side band
    // index. The BATCH band rows broadcast (the daily-batch contract —
    // |batch| × bands keyed rows); the corpus band table is then
    // probed by one scan-side hash join and NEVER shuffled — a plain
    // equi-join would hash-exchange the corpus-sized side on every
    // daily run. The contract is enforced by [[graft.ops.ProbeGuard]]'s
    // TIERED shape: the batch band rows are counted first (one agg
    // over the batch signature cache — the corpus side is never
    // scanned by the guard); over spark.graft.probe.maxKeys the corpus band
    // index is Bloom-reduced at its scan instead (the exchange then
    // carries ~candidate rows, not the corpus); only beyond
    // spark.graft.probe.bloomMaxKeys does the WHOLE plan revert to the
    // pre-probe sort-merge shape, loudly — both this join and the
    // verify fetch below, whose candidate id set is only batch-bounded
    // when the band rows are.
    val bandedA = bandedOf(sigA, "new").select(col("band"), col("id").as("id_a"))
    val bandedB = bandedOf(sigB, "corpus")
      .select(col("band"), col("id").as("id_b"))
    val t = graft.ops.ProbeGuard.tiered(
      bandedB, bandedA, Seq("band"), "Dedup.lshPlanAgainst")
    val probeOk = t.shape == graft.ops.ProbeGuard.Shape.Probe
    val pairs0 = t.standing.join(t.keys, Seq("band"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // the verify fetch has the same scale trap: joining candidates
    // against the full corpus signature table shuffles it on id. With
    // the signature caches on, the candidate list is persisted (it is
    // read twice) and its DISTINCT corpus ids — at most
    // candidate-sized — broadcast-probe the corpus table down to the
    // rows the verify actually touches before any exchange.
    val pairs =
      if (cacheSignatures)
        pairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pairs0
    val shB0 = sigB.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val shB =
      if (cacheSignatures && probeOk)
        shB0.join(broadcast(pairs.select(col("id_b")).distinct()),
          Seq("id_b"), "left_semi")
      else if (cacheSignatures &&
          t.shape == graft.ops.ProbeGuard.Shape.Bloom) {
        // Bloom tier: the candidate id set is over the broadcast cap
        // by construction, but its Bloom filter is not — the verify
        // fetch scans the corpus signature table through
        // might_contain(xxhash64(id_b)) built (and counted) off the
        // persisted pair cache; the verify join's inner match drops
        // the filter's false positives
        val ids = pairs.select(col("id_b")).distinct()
        shB0.filter(graft.ops.ProbeGuard.bloomPredicate(
          ids, Seq("id_b"), ids.count(), "Dedup.lshPlanAgainst(verify)"))
      } else if (cacheSignatures)
        // shuffle fallback: keep the semi-join filter (it still prunes
        // the verify fetch) but without the forced hint — the
        // candidate id set is not batch-bounded when the band rows
        // overflowed the contract
        shB0.join(pairs.select(col("id_b")).distinct(), Seq("id_b"), "left_semi")
      else shB0
    val jac =
      if (bands <= 4) {
        import org.apache.spark.sql.graft.bridge
        bridge.column(graft.functions.JaccardSorted(
          bridge.expression(col("sh_a")), bridge.expression(col("sh_b"))))
      } else jaccardDistinct(col("sh_a"), col("sh_b"))
    val verified = pairs
      .join(sigA.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("id_a"), col("id_b"))
    val own = if (corpusSigs.isEmpty) Seq(sigA, sigB) else Seq(sigA)
    val caches = (if (cacheSignatures) own else Seq.empty) ++
      (if (cacheSignatures) Seq(pairs) else Seq.empty)
    (caches, verified)
  }

  /** The persistable SimHash signature table — `(id, sig)` — the
    * [[lshSignatures]] analog for the SimHash method (same staleness
    * rule: the table IS the corpus; append-on-accept). One 64-bit long
    * per document, so even a very large corpus's table is tiny. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withSimhash32(
        df.filter(col(textCol).isNotNull)
          .select(col(idCol).as("id"), col(textCol)), textCol, "sig")
      .select(col("id"), col("sig"))

  private def validateSimhashSigs(sigs: DataFrame): DataFrame = {
    val cols = sigs.columns.toSet
    require(cols.contains("id") && cols.contains("sig") && !cols.contains("bands"),
      s"corpus SimHash signature frame needs columns (id, sig), got " +
        s"(${sigs.columns.mkString(", ")}) — build it with " +
        "Dedup.simhashSignatures (an lshSignatures table is the LSH artifact)")
    // same NULL discipline as validateSigs: an appended row with a NULL
    // sig contributes zero candidates yet passes a schema check
    val s = sigs.agg(count(lit(1)).as("n"), count(col("sig")).as("ok"))
      .collect().head
    require(s.getLong(1) == s.getLong(0),
      s"corpus SimHash signature frame has ${s.getLong(0) - s.getLong(1)} " +
        s"of ${s.getLong(0)} rows with a NULL sig — rebuild with " +
        "Dedup.simhashSignatures")
    sigs.select(col("id"), col("sig"))
  }

  /** Two-sided (A vs B) SimHash near-dup pairs: same probe-into-index
    * shape as [[lshNearDupPairsAgainst]] over the (band index, byte
    * value) keys, verified with exact bit_count Hamming. Returns
    * (id_a, id_b, hamming) with id_a from `newDf`. `corpusSigs` takes a
    * stored [[simhashSignatures]] table for the corpus side (corpusDf
    * is then ignored; cache lifecycle stays with the caller). */
  def simhashNearDupPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
                                 idCol: String, textCol: String,
                                 maxHamming: Int = 3,
                                 cacheSignatures: Boolean = true,
                                 maxBucket: Int = defaultMaxBucket,
                                 corpusSigs: Option[DataFrame] = None): DataFrame = {
    def sigOf(df: DataFrame) = {
      val s0 = simhashSignatures(df, idCol, textCol)
      if (cacheSignatures)
        s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s0
    }
    val sigA = sigOf(newDf)
    val sigB = corpusSigs.map(validateSimhashSigs).getOrElse(sigOf(corpusDf))
    val ownB = corpusSigs.isEmpty
    val (pairCache, verified) = hammingAbPlan(sigA, sigB, 4, maxHamming,
      maxBucket, "simhashNearDupPairsAgainst", cachePairs = cacheSignatures)
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      pairCache.foreach(_.unpersist())
      sigA.unpersist()
      if (ownB) sigB.unpersist()
      out
    }
  }

  /** Runtime conf: the edge count up to which [[dupClusters]] solves
    * the components with one driver-side union-find (<= 0 always runs
    * the distributed loop). */
  val LocalMaxEdgesKey = "spark.graft.clusters.localMaxEdges"

  /** Default for [[LocalMaxEdgesKey]]: 500k doubled edges — 8 MB of
    * collected `long` pairs (see [[dupClusters]] for the full driver
    * bound). */
  val DefaultLocalMaxEdges = 500000L

  /** Duplicate CLUSTERS from a pair list: connected components by
    * iterative min-label propagation (each node's label becomes the min
    * label among itself and its neighbors, to fixpoint). No GraphX —
    * each round is one join + hash-agg, with every round's labels (and
    * the edge list, materialized ONCE) snapshotted so lineage stays
    * flat; rounds needed = graph diameter, which for near-dup clusters
    * is tiny. Returns (id, cluster) where cluster = min doc id of the
    * component.
    *
    * Fault tolerance at cluster scale: by default rounds are
    * `localCheckpoint()`ed — executor-LOCAL, non-replicated blocks, so
    * on a real cluster one lost executor mid-iteration fails the job
    * with no recompute path. Set
    * `spark.sparkContext.setCheckpointDir("hdfs://...")` before calling
    * and each round is instead written as parquet under the checkpoint
    * dir and read back: replicated storage, executor loss costs one
    * re-read. Unlike `Dataset.checkpoint()` — whose files nothing
    * deletes without GC-driven cleanup — SUPERSEDED rounds are deleted
    * as soon as the next round lands, so a diameter-D run keeps at most
    * the edge list + 2 round snapshots on disk, not D+1. The final
    * round's files back the returned DataFrame and remain until the
    * caller clears the checkpoint dir — wrap repeated calls in
    * [[graft.ops.StageCut.withReliableCuts]] to get that cleanup scoped
    * and automatic.
    * On local[*] leave the dir unset: localCheckpoint is both safe and
    * faster there. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
                  idB: String = "id_b"): DataFrame = {
    val spark = pairs.sparkSession
    val reliableBase = spark.sparkContext.getCheckpointDir.map(d =>
      s"$d/graft-dup-clusters-${java.util.UUID.randomUUID().toString}")
    var roundNo = 0
    def materialize(df: DataFrame): (DataFrame, Option[String]) =
      reliableBase match {
        case Some(base) =>
          val path = s"$base/round-$roundNo"
          roundNo += 1
          df.write.parquet(path)
          (spark.read.parquet(path), Some(path))
        case None => (df.localCheckpoint(), None)
      }
    def deleteSnapshot(path: String): Unit = // best-effort cleanup
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }

    // materialize the edge list ONCE — every propagation round joins
    // against it, and without this each round would re-evaluate the
    // upstream pair pipeline (for LSH input: the full shingle+band run)
    val (edges, edgesPath) = materialize(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
        .distinct())
    // DRIVER UNION-FIND TIER (r21): below a measured edge bound the
    // component fixpoint is computed in one collect instead of 1-3
    // materialized propagation rounds (each a join + agg + snapshot +
    // convergence count — 4-8 AQE stage jobs per round). The banded
    // pair finders' near-dup graphs are MODEL-sized (bounded by the
    // hot-bucket caps), so this is the ProbeGuard shape decision
    // applied to clustering: measure, then pick the plan. The edge
    // list is already materialized here either way; its count is one
    // cheap cached-scan job. Bound: `spark.graft.clusters
    // .localMaxEdges` doubled edges E (default 500k). Each partition
    // packs its edges into one primitive `long[]` (src, dst
    // interleaved), so the driver holds 16·E bytes of pairs (8 MB at
    // the default), 8·E of sorted ids and 4·E of union-find parents
    // (every id is a `src` of the doubled list, so ids <= E) — about
    // 14 MB at the default, under any maxResultSize — plus the output
    // frame's E local rows. INTEGRAL id types only: the distributed
    // path's min() over strings orders by UTF8 binary bytes, which
    // differs from String#compareTo on supplementary planes — don't
    // risk a cross-tier divergence.
    // Identical fixpoint (component min id), identical output schema
    // and order — pinned tier-vs-tier in ClusterSpec.
    // (reliable mode — a checkpoint dir — is an explicit opt-in to
    // replicated round snapshots; it keeps the distributed loop
    // unconditionally so its materialization contract stays intact)
    val srcType = edges.schema("src").dataType
    val localMaxEdges = graft.ops.ProbeGuard.longConf(spark,
      LocalMaxEdgesKey, DefaultLocalMaxEdges)
    val integralId = srcType == org.apache.spark.sql.types.ByteType ||
      srcType == org.apache.spark.sql.types.ShortType ||
      srcType == org.apache.spark.sql.types.IntegerType ||
      srcType == org.apache.spark.sql.types.LongType
    val localPairs: Option[Array[Array[Long]]] =
      if (reliableBase.isEmpty && integralId && localMaxEdges > 0 &&
          edges.count() <= localMaxEdges) {
        val parts = edges
          .select(col("src").cast("long"), col("dst").cast("long"))
          .queryExecution.toRdd.mapPartitions { it =>
            val b = new scala.collection.mutable.ArrayBuilder.ofLong
            var nulls = false
            it.foreach { r =>
              if (r.isNullAt(0) || r.isNullAt(1)) nulls = true
              else { b += r.getLong(0); b += r.getLong(1) }
            }
            Iterator((nulls, b.result()))
          }.collect()
        // a NULL id would silently read as 0 and merge with a real id
        // 0 — no pair finder emits one, but if a direct caller does,
        // the distributed loop (whose joins drop null keys) keeps its
        // historical behavior rather than corrupting
        if (parts.exists(_._1)) None else Some(parts.map(_._2))
      } else None
    if (localPairs.isDefined) {
      val pairs = localPairs.get
      // the distinct ids, sorted: index order is id order, so a
      // min-index union keeps each component's min id at its root
      val ids = {
        val all = new Array[Long](pairs.map(_.length / 2).sum)
        var n = 0
        pairs.foreach { p =>
          var i = 0
          while (i < p.length) { all(n) = p(i); n += 1; i += 2 }
        }
        java.util.Arrays.sort(all)
        n = 0
        var i = 0
        while (i < all.length) {
          if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
          i += 1
        }
        java.util.Arrays.copyOf(all, n)
      }
      val parent = Array.range(0, ids.length)
      def find(x0: Int): Int = {
        var x = x0 // path halving
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      pairs.foreach { p =>
        var i = 0
        while (i < p.length) {
          val rs = find(java.util.Arrays.binarySearch(ids, p(i)))
          val rd = find(java.util.Arrays.binarySearch(ids, p(i + 1)))
          if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
          i += 2
        }
      }
      edges.queryExecution.analyzed match { // free the edge snapshot
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false)
        case _ => ()
      }
      import spark.implicits._
      return ids.indices.map(i => (ids(i), ids(find(i)))).toDF("id", "cluster")
        .select(col("id").cast(srcType).as("id"),
          col("cluster").cast(srcType).as("cluster"))
        .orderBy(col("id"))
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var labelsPath: Option[String] = None
    var changed = true
    // one min-propagation sweep: label' = min(label, min over
    // neighbors' labels), with `from`/`to` naming so two sweeps chain
    // inside one materialized round
    def sweep(ls: DataFrame, from: String, to: String): DataFrame = {
      val nm = edges
        .join(ls.select(col("id").as("dst"), col(from).as("nlabel")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("_nmin"))
      ls.join(nm, Seq("id"), "left")
        .select(col("id"), col(from),
          least(col(from), coalesce(col("_nmin"), col(from))).as(to))
    }
    while (changed) {
      // TWO sweeps per materialized round (r20): labels only DECREASE
      // toward the per-component min (monotone + confluent), so
      // unrolling a second sweep into the same checkpointed plan
      // halves the round count on chains — and the fixpoint test reads
      // off the SECOND sweep alone: if sweep 2 changed nothing, its
      // input was already the fixpoint, so the star-shaped components
      // the banded pair finders produce converge in ONE materialized
      // round where the old change-since-round-start test needed a
      // whole extra round (and the single-sweep loop needed three).
      // Same fixpoint, same labels — pinned in DupClustersSpec.
      val (next, nextPath) = materialize(
        sweep(sweep(labels, "label", "_mid").select(col("id"), col("_mid")),
          "_mid", "label"))
      changed = next.filter(col("label") =!= col("_mid")).limit(1).count() > 0
      // `next` is safely on disk (and its convergence read): the
      // previous round's snapshot is superseded — drop it now
      labelsPath.foreach(deleteSnapshot)
      labelsPath = nextPath
      labels = next.select(col("id"), col("label"))
    }
    // the fixpoint depends only on the final round's snapshot
    edgesPath.foreach(deleteSnapshot)
    labels.select(col("id"), col("label").as("cluster")).orderBy(col("id"))
  }

  /** SimHash-style 32-bit signature: per bit, majority vote over the
    * word stream's md5-32 hashes. Hamming-near signatures ⇒ near-dup
    * texts. Pure expressions: transform/aggregate over the token array,
    * so the whole signature is computed in one codegen'd map stage. */
  def simhash32(textCol: Column): Column = {
    val hashes = transform(TextOps.words(lower(textCol)), w => TextOps.md5_32(w))
    simhashFromHashes(hashes)
  }

  /** The 32 majority-vote bit sums over an ALREADY-computed word-hash
    * array. Split out so [[withSimhash32]] can stage the hashes: each
    * bit's aggregate embeds the hash expression, and interpreted
    * higher-order functions re-evaluate it per use — inline, the
    * tokenize+md5 pass would run 32 times per document. */
  private[graft] def simhashFromHashes(hashes: Column): Column = {
    val bitSums = (0 until 32).map { bit =>
      val mask = lit(1L << bit)
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0, 1L).otherwise(-1L)) > 0,
        lit(1L << bit)).otherwise(lit(0L))
    }
    bitSums.reduce(_ + _)
  }

  /** [[simhash32]] as ONE native codegen'd pass per document
    * (functions.SimHash32): tokenize + per-word md5-32 + all 32 bit
    * votes in a single JVM loop — value-identical to the staged
    * word-hash Column form (StagedEquivalenceSpec cross-validates the
    * two), with no interpreted per-bit aggregates. One DELIBERATE
    * divergence: null text now yields a null signature (null-intolerant
    * expression), where the staged form's `aggregate` seed leaked a
    * meaningless 0 — callers that pair on signatures must drop nulls
    * (simhashNearDupPairs already does). */
  def withSimhash32(df: DataFrame, textCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    df.withColumn(out, bridge.column(
      graft.functions.SimHash32(bridge.expression(col(textCol)))))
  }

  /** SimHash near-dup PAIRS — banded, not all-pairs: the 32-bit
    * signature splits into 4 byte-bands; candidates share (band index,
    * byte value), then exact Hamming distance (bit_count of xor — one
    * codegen'd instruction pair) verifies. Pigeonhole guarantee: any
    * pair within Hamming distance 3 has at least one intact band, so
    * recall is exact up to 3 and band-approximate beyond (standard
    * SimHash-LSH semantics; the gate oracle banding is identical, so
    * results stay engine-exact at any threshold).
    *
    * Scale shape mirrors [[lshNearDupPairs]]: the self-join shuffles
    * (band, id) only — 3 small ints per doc-band — and the one-long
    * signature is fetched per candidate after pair-dedup. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          cacheSignatures: Boolean = true,
                          maxBucket: Int = defaultMaxBucket): DataFrame = {
    val (sig, verified) = simhashPairPlan(df, idCol, textCol, maxHamming,
      cacheSignatures, maxBucket)
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize, then release the signature cache
      sig.unpersist()
      out
    }
  }

  /** The un-materialized simhash pair plan — exposed like [[lshPlan]]
    * so PlanQualitySpec pins the SHIPPED join shape rather than a
    * copy. Contentless (NULL-text) documents are dropped up front:
    * they would all collapse to signature 0 and emit a quadratic
    * hot-bucket of meaningless "hamming 0" pairs — and the SQL oracle
    * never sees them at all (unnest of a NULL split yields no rows). */
  private[graft] def simhashPairPlan(df: DataFrame, idCol: String,
                                     textCol: String, maxHamming: Int,
                                     cacheSignatures: Boolean,
                                     maxBucket: Int = defaultMaxBucket): (DataFrame, DataFrame) = {
    val sig0 = withSimhash32(
        df.filter(col(textCol).isNotNull)
          .select(col(idCol).as("id"), col(textCol)), textCol, "sig")
      .select(col("id"), col("sig"))
    val sig = if (cacheSignatures)
      sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sig0
    (sig, hammingSelfPlan(sig, 4, maxHamming, maxBucket, "simhashNearDupPairs"))
  }

  // ------------------------------------------------ banded Hamming core
  //
  // The byte-band candidate machinery shared by every Hamming-signature
  // method: 32-bit text SimHash (4 bands) and 64-bit image dHash
  // (8 bands). Pigeonhole: a pair within Hamming distance nBands-1 has
  // at least one intact byte-band, so recall is exact up to nBands-1
  // and band-approximate beyond. `shiftright` is arithmetic but the
  // 255-mask makes the top band of a negative 64-bit signature correct
  // anyway.

  /** Self-join form over a `(id, sig)` frame: explode into (band index,
    * byte value), cap hot buckets, equi-join on the band key carrying
    * (band, id) only, pair-dedup, THEN fetch the one-long signatures
    * and verify with exact bit_count Hamming. */
  private def hammingSelfPlan(sig: DataFrame, nBands: Int, maxHamming: Int,
                              maxBucket: Int, tag: String): DataFrame = {
    val banded = dropHotBuckets(bandedOf(sig, nBands), Seq("bi", "bv"),
      maxBucket, tag)
    val pairs = banded.select(col("bi"), col("bv"), col("id").as("id_a"))
      .join(banded.select(col("bi"), col("bv"), col("id").as("id_b")), Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    hammingVerify(pairs, sig, sig, maxHamming)
  }

  /** A-vs-B form: new-side bands probed into the corpus-side band
    * index; independent id spaces, no `<` canonicalization. */
  /** The A-vs-B Hamming plan. The batch side's band rows BROADCAST
    * into the probe join and, with `cachePairs`, the candidate list is
    * persisted so its distinct corpus ids can broadcast-probe the
    * corpus signature table before the verify fetch — the corpus side
    * is then scanned, never shuffled (the [[lshPlanAgainst]] shape).
    * Returns the pair cache (release AFTER materializing the verified
    * frame) alongside the plan. */
  private def hammingAbPlan(sigA: DataFrame, sigB: DataFrame, nBands: Int,
                            maxHamming: Int, maxBucket: Int,
                            tag: String,
                            cachePairs: Boolean): (Option[DataFrame], DataFrame) = {
    def capped(sig: DataFrame, side: String) = dropHotBuckets(
      bandedOf(sig, nBands), Seq("bi", "bv"), maxBucket, s"$tag($side)")
    // one [[graft.ops.ProbeGuard]] count on the batch band rows gates
    // the WHOLE probe shape — the candidate id set broadcast below is
    // only batch-bounded when the band rows are (lshPlanAgainst shape,
    // including its Bloom middle tier: over spark.graft.probe.maxKeys the
    // corpus band index and the verify fetch are Bloom-reduced at
    // their scans instead of broadcast-probed)
    val bandedA = capped(sigA, "new")
      .select(col("bi"), col("bv"), col("id").as("id_a"))
    val bandedB = capped(sigB, "corpus")
      .select(col("bi"), col("bv"), col("id").as("id_b"))
    val t = graft.ops.ProbeGuard.tiered(
      bandedB, bandedA, Seq("bi", "bv"), tag)
    val probeOk = t.shape == graft.ops.ProbeGuard.Shape.Probe
    val pairs0 = t.standing.join(t.keys, Seq("bi", "bv"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val pairs =
      if (cachePairs)
        pairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pairs0
    val sigBFetch =
      if (cachePairs && probeOk)
        sigB.join(broadcast(pairs.select(col("id_b").as("id")).distinct()),
          Seq("id"), "left_semi")
      else if (cachePairs &&
          t.shape == graft.ops.ProbeGuard.Shape.Bloom) {
        // Bloom tier: scan-side might_contain over the candidate ids
        // (counted off the persisted pair cache); the verify join's
        // inner match drops the filter's false positives
        val ids = pairs.select(col("id_b").as("id")).distinct()
        sigB.filter(graft.ops.ProbeGuard.bloomPredicate(
          ids, Seq("id"), ids.count(), s"$tag(verify)"))
      } else if (cachePairs)
        sigB.join(pairs.select(col("id_b").as("id")).distinct(),
          Seq("id"), "left_semi")
      else sigB
    (if (cachePairs) Some(pairs) else None,
      hammingVerify(pairs, sigA, sigBFetch, maxHamming))
  }

  private def bandedOf(sig: DataFrame, nBands: Int): DataFrame =
    sig.select(col("id"),
      explode(array((0 until nBands).map(b => struct(lit(b).as("bi"),
        shiftright(col("sig"), 8 * b).bitwiseAND(lit(255L)).as("bv"))): _*)).as("b"))
      .select(col("id"), col("b.bi").as("bi"), col("b.bv").as("bv"))

  private def hammingVerify(pairs: DataFrame, sigA: DataFrame,
                            sigB: DataFrame, maxHamming: Int): DataFrame =
    pairs
      .join(sigA.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigB.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))

  // ------------------------------------------------ image dHash method

  /** The persistable image-dHash signature table — `(id, dsig)`, the
    * [[simhashSignatures]] analog for image payloads (same staleness
    * rule: the table IS the corpus; append-on-accept). The column is
    * named `dsig`, NOT `sig`, so a stored SimHash table cross-wired
    * into the image path (or vice versa) fails the schema check loudly
    * — both are one long per row, so a value-level mix-up would just
    * silently pair nothing. Rows whose payload doesn't decode to a
    * >= 9×8 image are ABSENT (no hash exists for them; mirrors
    * NULL-text dropping in the text methods). */
  def dhashSignatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    graft.multimodal.Multimodal.withDHash(df, idCol, payloadCol)
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig").as("dsig"))

  private def validateDhashSigs(sigs: DataFrame): DataFrame = {
    val cols = sigs.columns.toSet
    require(cols.contains("id") && cols.contains("dsig"),
      s"corpus image-dHash signature frame needs columns (id, dsig), got " +
        s"(${sigs.columns.mkString(", ")}) — build it with " +
        "Dedup.dhashSignatures" +
        (if (cols.contains("asig")) " (this table belongs to the AUDIO method)"
        else if (cols.contains("sig") || cols.contains("bands"))
          " (this table belongs to a TEXT method)" else ""))
    val s = sigs.agg(count(lit(1)).as("n"), count(col("dsig")).as("ok"))
      .collect().head
    require(s.getLong(1) == s.getLong(0),
      s"corpus image-dHash signature frame has ${s.getLong(0) - s.getLong(1)} " +
        s"of ${s.getLong(0)} rows with a NULL dsig — rebuild with " +
        "Dedup.dhashSignatures")
    sigs.select(col("id"), col("dsig").as("sig"))
  }

  /** Perceptual image near-dup PAIRS over a binary payload column:
    * [[graft.multimodal.Multimodal.dHash64]] per image (the one
    * O(pixels) pass), then the same byte-band machinery as
    * [[simhashNearDupPairs]] at 64 bits / 8 bands — candidates share
    * (band index, byte value), exact bit_count Hamming verifies.
    * Recall is exact up to Hamming 7 (pigeonhole over 8 bands).
    * Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Scale shape: the decode pass runs ONCE per image into a cached
    * one-long signature frame; everything after shuffles (band, id)
    * ints only. At 100 TB of images the decode dominates — which is
    * why [[dhashSignatures]] exists as the train-once artifact. */
  def imageNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                        maxHamming: Int = 7,
                        cacheSignatures: Boolean = true,
                        maxBucket: Int = defaultMaxBucket): DataFrame = {
    val sig0 = graft.multimodal.Multimodal.withDHash(df, idCol, payloadCol)
      .filter(col("sig").isNotNull)
    val sig = if (cacheSignatures)
      sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sig0
    val verified = hammingSelfPlan(sig, 8, maxHamming, maxBucket,
      "imageNearDupPairs")
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      sig.unpersist()
      out
    }
  }

  // ------------------------------------------------ audio hash method

  /** The persistable audio perceptual-hash signature table —
    * `(id, asig)`, the [[dhashSignatures]] analog for audio payloads
    * ([[graft.multimodal.Multimodal.aHash64]] over decoded PCM). The
    * column is named `asig` so a stored image/text signature table
    * cross-wired into the audio path fails the schema check loudly.
    * Rows whose payload doesn't decode to >= 65 PCM frames are ABSENT
    * (no hash exists; mirrors NULL-text dropping). */
  def audioSignatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    graft.multimodal.Multimodal.withAudioHash(df, idCol, payloadCol)
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig").as("asig"))

  private def validateAudioSigs(sigs: DataFrame): DataFrame = {
    val cols = sigs.columns.toSet
    require(cols.contains("id") && cols.contains("asig"),
      s"corpus audio-hash signature frame needs columns (id, asig), got " +
        s"(${sigs.columns.mkString(", ")}) — build it with " +
        "Dedup.audioSignatures" +
        (if (cols.contains("dsig")) " (this table belongs to the IMAGE method)"
        else if (cols.contains("sig") || cols.contains("bands"))
          " (this table belongs to a TEXT method)" else ""))
    val s = sigs.agg(count(lit(1)).as("n"), count(col("asig")).as("ok"))
      .collect().head
    require(s.getLong(1) == s.getLong(0),
      s"corpus audio-hash signature frame has ${s.getLong(0) - s.getLong(1)} " +
        s"of ${s.getLong(0)} rows with a NULL asig — rebuild with " +
        "Dedup.audioSignatures")
    sigs.select(col("id"), col("asig").as("sig"))
  }

  /** Perceptual audio near-dup PAIRS over a binary payload column:
    * [[graft.multimodal.Multimodal.aHash64]] per clip (the one
    * O(samples) decode pass), then the shared byte-band machinery at
    * 64 bits / 8 bands — exact recall up to Hamming 7 (pigeonhole),
    * catching the re-encodes and gain shifts byte dedup is blind to.
    * Returns (id_a, id_b, hamming), id_a < id_b. Scale shape matches
    * [[imageNearDupPairs]]: decode once into a cached one-long
    * signature frame; everything after shuffles (band, id) ints. */
  def audioNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                        maxHamming: Int = 7,
                        cacheSignatures: Boolean = true,
                        maxBucket: Int = defaultMaxBucket): DataFrame = {
    val sig0 = graft.multimodal.Multimodal.withAudioHash(df, idCol, payloadCol)
      .filter(col("sig").isNotNull)
    val sig = if (cacheSignatures)
      sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sig0
    val verified = hammingSelfPlan(sig, 8, maxHamming, maxBucket,
      "audioNearDupPairs")
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      sig.unpersist()
      out
    }
  }

  /** Two-sided (A vs B) audio near-dup pairs — [[audioNearDupPairs]]'
    * incremental shape, mirroring [[imageNearDupPairsAgainst]] (same
    * ProbeGuard-tiered probe join, same cache lifecycle). `corpusSigs`
    * takes a stored [[audioSignatures]] table — the corpus is then
    * never re-decoded on a daily run. */
  def audioNearDupPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
                               idCol: String, payloadCol: String,
                               maxHamming: Int = 7,
                               cacheSignatures: Boolean = true,
                               maxBucket: Int = defaultMaxBucket,
                               corpusSigs: Option[DataFrame] = None): DataFrame = {
    def sigOf(df: DataFrame) = {
      val s0 = graft.multimodal.Multimodal.withAudioHash(df, idCol, payloadCol)
        .filter(col("sig").isNotNull)
      if (cacheSignatures)
        s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s0
    }
    val sigA = sigOf(newDf)
    val sigB = corpusSigs.map(validateAudioSigs).getOrElse(sigOf(corpusDf))
    val ownB = corpusSigs.isEmpty
    val (pairCache, verified) = hammingAbPlan(sigA, sigB, 8, maxHamming,
      maxBucket, "audioNearDupPairsAgainst", cachePairs = cacheSignatures)
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      pairCache.foreach(_.unpersist())
      sigA.unpersist()
      if (ownB) sigB.unpersist()
      out
    }
  }

  /** Two-sided (A vs B) image near-dup pairs — [[imageNearDupPairs]]'
    * incremental shape, mirroring [[simhashNearDupPairsAgainst]]:
    * new-side hashes probed into the corpus-side (band, byte) index.
    * `corpusSigs` takes a stored [[dhashSignatures]] table (corpusDf
    * is then never decoded; cache lifecycle stays with the caller) —
    * at 100 TB the corpus DECODE pass, not the band join, is the cost
    * the artifact removes from the daily run. */
  def imageNearDupPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
                               idCol: String, payloadCol: String,
                               maxHamming: Int = 7,
                               cacheSignatures: Boolean = true,
                               maxBucket: Int = defaultMaxBucket,
                               corpusSigs: Option[DataFrame] = None): DataFrame = {
    def sigOf(df: DataFrame) = {
      val s0 = graft.multimodal.Multimodal.withDHash(df, idCol, payloadCol)
        .filter(col("sig").isNotNull)
      if (cacheSignatures)
        s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s0
    }
    val sigA = sigOf(newDf)
    val sigB = corpusSigs.map(validateDhashSigs).getOrElse(sigOf(corpusDf))
    val ownB = corpusSigs.isEmpty
    val (pairCache, verified) = hammingAbPlan(sigA, sigB, 8, maxHamming,
      maxBucket, "imageNearDupPairsAgainst", cachePairs = cacheSignatures)
    if (!cacheSignatures) verified
    else {
      val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      pairCache.foreach(_.unpersist())
      sigA.unpersist()
      if (ownB) sigB.unpersist()
      out
    }
  }
}
