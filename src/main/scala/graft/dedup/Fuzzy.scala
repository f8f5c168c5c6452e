package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy string join — the entity-resolution primitive
  * (match "Jon Smyth" records against a master list despite typos):
  * candidates come from MULTI-PASS blocking keys, then a Levenshtein
  * verify keeps pairs within `maxDist` edits.
  *
  * Blocking is the standard published multi-pass recipe: a single
  * key misses typos inside the key itself, so each record is keyed
  * TWICE — 2-char prefix and 2-char suffix — and a pair is a
  * candidate if EITHER key matches. Complete by construction for
  * `maxDist <= 1` when both strings have length >= 4 (one edit
  * cannot corrupt both DISJOINT key zones; an indel before the
  * suffix leaves the end-relative suffix window intact). Strings
  * shorter than 4 have overlapping zones — a middle edit can corrupt
  * both keys — so every string short enough to pair with one
  * (len <= 3 + maxDist) ALSO carries a catch-all per-band key,
  * restoring completeness for short pairs; the bucket is bounded by
  * the hot-block cap like any other. For `maxDist >= 2` a THIRD pass
  * keys the center 2-char window (probe side fans the position, see
  * [[keyed]]): two edits cannot corrupt three disjoint windows, so
  * maxDist = 2 is complete for pairs of strings >= 6 chars (zones
  * disjoint from len 6 up; `FuzzySpec` measures recall 1.0 vs brute
  * force on a 2-typo corpus) and for pairs both short enough for the
  * catch-all key — whose cutoff widens at maxDist >= 2 to
  * 3 + 2*maxDist, i.e. to every possible PARTNER of an
  * overlapping-zone string, so MIXED (short, long) pairs whose edits
  * corrupt both short-side end zones still meet in the catch-all
  * bucket. Blocking at maxDist <= 2 is therefore COMPLETE at every
  * length mix (`FuzzySpec` measures recall 1.0 on a mixed 4-11-char
  * 2-typo corpus too); beyond maxDist = 2 it is best-effort as in
  * every production stack (add phonetic or q-gram passes to taste).
  * Keys also carry a length band of width
  * `maxDist + 1`; the probe side explodes to adjacent bands, so a
  * pair whose lengths straddle a band boundary (|Δlen| <= maxDist
  * always holds within distance maxDist) is still generated.
  *
  * Shape at 100 TB: candidate generation is ONE hash join carrying
  * only `(id, _k)` — the strings do NOT ride the candidate shuffle —
  * and in the default probe shape (`probeScale`) the batch key rows
  * BROADCAST into it, so the standing registry's key table is
  * scanned, never exchanged; the corpus-side strings are then fetched
  * by broadcasting the surviving id pairs (registry streams again),
  * and the batch strings by one batch-scale id join. Block sizes
  * are bounded by the same [[Dedup.dropHotBuckets]] discipline as
  * every banded finder (a skewed key — every entity starting "ma" in
  * one length band — would otherwise make one block quadratic); the
  * quadratic Levenshtein DP runs only on capped blocks, never
  * all-pairs. Strings are compared lower/trimmed.
  */
object Fuzzy {

  private def norm(c: Column): Column = lower(trim(c))

  /** Normalized-string lookup frame: (id, _sAlias). */
  private def normed(df: DataFrame, id: String, s: String,
                     sAlias: String): DataFrame =
    df.select(col(id), norm(col(s)).as(sAlias))

  /** Blocking-key rows: (id, _k). Prefix + suffix keys always; the
    * catch-all short-string key when len <= 3 + maxDist (zone-overlap
    * completeness, see object scaladoc); for maxDist >= 2 additionally
    * the MIDDLE-window pass (third zone — two edits cannot corrupt
    * three disjoint 2-char windows, so pairs of strings >= 6 chars are
    * caught even when both end zones took an edit): the index side
    * keys its center 2-char window once, the probe side fans the
    * window position by ±(maxDist + ceil(maxDist/2)) — maxDist covers
    * the net-indel shift of the preserved window, the ceil term the
    * center-definition drift between lengths. The probe side
    * (`explodeBands`) fans out to the three adjacent bands. Strings
    * do not leave this frame — candidates shuffle ids only. */
  private def keyed(df: DataFrame, id: String, s: String, maxDist: Int,
                    explodeBands: Boolean): DataFrame = {
    val bandW = maxDist + 1
    // catch-all cutoff: strings with OVERLAPPING end zones
    // (len <= 3 + maxDist) need the key for their own completeness;
    // at maxDist >= 2 every possible PARTNER of such a string
    // (|Δlen| <= maxDist, so len <= 3 + 2*maxDist) carries it too —
    // a mixed (short, long) pair whose edits corrupt both short-side
    // end zones then still meets in the catch-all bucket, closing
    // what used to be the documented (<=5, >=6) sliver. The wider
    // bucket stays bounded by the hot-block cap like any other.
    val wCut = if (maxDist >= 2) 3 + 2 * maxDist else 3 + maxDist
    val offsets =
      if (explodeBands) array(lit(-1), lit(0), lit(1)) else array(lit(0))
    val midDeltas: Seq[Int] =
      if (maxDist < 2) Seq.empty // dual-pass is already complete at <= 1
      else if (explodeBands) {
        val r = maxDist + (maxDist + 1) / 2
        (-r to r).toSeq
      } else Seq(0)
    val midKeys = midDeltas.map { dlt =>
      val pos = (expr("(_len - 2) DIV 2") + lit(1 + dlt)).cast("int")
      when(col("_len") >= 6 && pos >= 1 && (pos + lit(1)) <= col("_len"),
        concat(lit("m"), col("_s").substr(pos, lit(2)), lit("_"),
          col("_band").cast("string")))
    }
    df.select(col(id), norm(col(s)).as("_s"))
      .withColumn("_len", length(col("_s")))
      .withColumn("_o", explode(offsets))
      .withColumn("_band", expr(s"_len DIV $bandW") + col("_o"))
      .withColumn("_k", explode(array((Seq(
        concat(lit("p"), col("_s").substr(lit(1), lit(2)), lit("_"),
          col("_band").cast("string")),
        concat(lit("s"), col("_s").substr(col("_len") - 1, lit(2)),
          lit("_"), col("_band").cast("string")),
        when(col("_len") <= lit(wCut),
          concat(lit("w_"), col("_band").cast("string")))) ++ midKeys): _*)))
      .filter(col("_k").isNotNull)
      .select(col(id), col("_k"))
  }

  /** The persistable blocking-key table — `(id, _n, _k)`: one row per
    * (record, blocking key) with the normalized string alongside — the
    * [[Dedup.lshSignatures]] analog for the fuzzy method (same
    * staleness rule: the table IS the registry; append-on-accept).
    * Stored once, a daily batch probes it without ever re-reading or
    * re-keying the master side's strings. `maxDist` is baked into the
    * keys (band width, short-string cutoff) — a mismatched probe would
    * silently miss pairs, so [[fuzzyJoinAgainst]] revalidates it via
    * the `_w<bandW>` tag row convention below. */
  /** The blocking-key SCHEME version baked into stored artifacts:
    * bumped whenever [[keyed]] changes what keys exist (v2 = the
    * middle-window pass; v3 = the widened catch-all cutoff that
    * closed the mixed-length sliver), so a pre-change artifact fails
    * loudly at the probe instead of silently missing the pairs only
    * the new keys can generate (the Importance `_b` discipline). */
  private val KeyScheme = 3

  def entityKeys(df: DataFrame, idCol: String, strCol: String,
                 maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    keyed(df, idCol, strCol, maxDist, explodeBands = false)
      .join(normed(df, idCol, strCol, "_n"), Seq(idCol))
      .withColumn("_w", lit(maxDist + 1))
      .withColumn("_v", lit(KeyScheme))
      .select(col(idCol).as("id"), col("_n"), col("_k"), col("_w"),
        col("_v"))
  }

  private def requireKeys(keys: DataFrame, maxDist: Int): DataFrame = {
    require(keys.columns.toSet == Set("id", "_n", "_k", "_w", "_v"),
      s"not a Fuzzy.entityKeys artifact: ${keys.columns.mkString(",")}" +
        (if (keys.columns.toSet == Set("id", "_n", "_k", "_w"))
          " (artifacts stored before the middle-window key scheme must" +
            " be rebuilt with entityKeys)"
        else ""))
    keys
  }

  /** Pairs `(idA, idB, dist)` with `dist <= maxDist`, `a` probed
    * against `b` (the A-vs-B shape of the other similarity joins —
    * self-join callers pass the same frame twice and drop the
    * diagonal). A pair generated by several passes is emitted once.
    * Blocks larger than `maxBucket` rows on either side are dropped
    * loudly (the [[Dedup.dropHotBuckets]] contract — pairs matched
    * ONLY inside a dropped block are not emitted).
    *
    * `corpusKeys` is the train-once artifact ([[entityKeys]] of `b`
    * at the SAME maxDist): when supplied, the b side's strings are
    * never re-read — keys and normalized strings both come from the
    * artifact (`b` may be passed as an empty frame; it is unused).
    *
    * `probeScale` (default true — the daily-batch contract): the A
    * side's key rows BROADCAST into the corpus key index and the
    * candidate id pairs broadcast into the corpus string fetch, so
    * the b side is scanned, never shuffled — the standing registry
    * does not move on a daily run. The contract is ENFORCED by
    * [[graft.ops.ProbeGuard]]: the A-side key rows are counted first
    * (batch-scale — the guard never scans b), and above
    * `spark.graft.probe.maxKeys` the whole join reverts to the symmetric
    * sort-merge shape, loudly — so a symmetric corpus-vs-corpus
    * caller that leaves the default on picks up the right shape from
    * the measured size rather than from a silent assumption. Pass
    * false to skip the probe shape (and the guard count) outright
    * when the A side is known to be corpus-scale.
    *
    * Cache ownership: on the BLOOM tier the returned frame is
    * persisted (materialized eagerly so the internal pair cache could
    * be released before return) — callers looping in a long-lived
    * session should [[graft.ops.StageCut.release]] it after
    * consuming (a no-op on the other tiers' plain frames;
    * [[EntityResolve.resolveBatch]] does exactly this). */
  def fuzzyJoinAgainst(a: DataFrame, b: DataFrame, idA: String,
                       strA: String, idB: String, strB: String,
                       maxDist: Int,
                       maxBucket: Int = Dedup.defaultMaxBucket,
                       corpusKeys: Option[DataFrame] = None,
                       probeScale: Boolean = true): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val ck = corpusKeys.map(requireKeys(_, maxDist))
    ck.foreach { k =>
      // fail loudly on a band-width or key-scheme mismatch BEFORE
      // silently missing pairs; one row's tags suffice (constant cols)
      val w = k.select(col("_w"), col("_v")).limit(1).collect()
      require(w.isEmpty || w.head.getInt(0) == maxDist + 1,
        s"entityKeys artifact was built for maxDist=${w.head.getInt(0) - 1}, " +
          s"probe uses maxDist=$maxDist")
      require(w.isEmpty || w.head.getInt(1) == KeyScheme,
        s"entityKeys artifact uses key scheme v${w.head.getInt(1)}, this " +
          s"build probes v$KeyScheme — rebuild the artifact with entityKeys")
    }
    val ak = Dedup.dropHotBuckets(
      keyed(a, idA, strA, maxDist, explodeBands = true),
      Seq("_k"), maxBucket, "fuzzyJoinAgainst(probe)")
    val bkRaw = ck.map(_.select(col("id").as(idB), col("_k")))
      .getOrElse(keyed(b, idB, strB, maxDist, explodeBands = false))
    val bk = Dedup.dropHotBuckets(bkRaw, Seq("_k"), maxBucket,
      "fuzzyJoinAgainst(corpus)")
    // the artifact carries one row per (id, key) — its per-id string
    // must be deduplicated before verification, but WHERE matters:
    // a corpus-wide distinct() is itself a standing-table shuffle, so
    // the probe shape defers it to after the candidate filter
    val bNormRaw = ck.map(_.select(col("id").as(idB), col("_n").as("_nb")))
      .getOrElse(normed(b, idB, strB, "_nb"))
    val aNorm = normed(a, idA, strA, "_na")
    import graft.ops.ProbeGuard
    val t =
      if (probeScale)
        ProbeGuard.tiered(bk, ak, Seq("_k"), "Fuzzy.fuzzyJoinAgainst")
      else ProbeGuard.Sides(ProbeGuard.Shape.Shuffle, -1L, bk, ak)
    // the edit-distance verify, applied per tier so the Bloom branch
    // can materialize its final output eagerly and release its pair
    // cache before returning
    // THRESHOLDED levenshtein (Spark 3.5+): the banded DP visits
    // O(maxDist · len) cells instead of the full O(lenA · lenB)
    // matrix and bails out early once every band cell exceeds the
    // bound — at maxDist=2 over ~25-char entity strings that is
    // ~5x less DP work per candidate pair. Returns -1 above the
    // bound, so `>= 0` is exactly the old `<= maxDist` keep set and
    // kept rows carry the identical distance (r20 optimization;
    // FuzzySpec pins the join output either way).
    def verify(joined: DataFrame): DataFrame = joined
      .withColumn("dist", levenshtein(col("_na"), col("_nb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col(idA), col(idB), col("dist").cast("long").as("dist"))
    t.shape match {
      case ProbeGuard.Shape.Probe =>
        // daily shape: batch keys broadcast → the corpus key index is
        // scanned, not exchanged; the candidate id pairs (bounded by
        // the hot-block caps, batch-∝ because the guarded key set is)
        // broadcast → the corpus string table streams through the
        // fetch, and the artifact's per-key duplicate rows collapse at
        // candidate scale. ONE guard count gates the whole shape — the
        // pair set is not separately counted because counting it would
        // re-run the candidate join it feeds.
        val pairs = t.standing.join(t.keys, Seq("_k"))
          .select(col(idA), col(idB)).distinct()
        val fetched = bNormRaw.join(broadcast(pairs), Seq(idB))
          .select(col(idA), col(idB), col("_nb"))
        verify((if (ck.isDefined) fetched.distinct() else fetched)
          .join(aNorm, Seq(idA)))
      case ProbeGuard.Shape.Bloom =>
        // Bloom tier: the candidate pair set is over the broadcast cap
        // (its parent key set is), so the corpus string fetch scans
        // through might_contain(xxhash64(idB)) instead of a broadcast
        // probe — the Dedup.lshPlanAgainst verify discipline: the pair
        // plan is PERSISTED (key-scale — two id columns, bounded by
        // the hot-block caps), its distinct idB set is COUNTED for the
        // filter sizing (the guarded key count is the wrong proxy —
        // key fan-out can put orders of magnitude more ids in than the
        // sizing expects, degrading fpp toward 1), and both the filter
        // build and the fetch join read the one cached evaluation.
        // The branch materializes its VERIFIED output eagerly (the
        // simhashNearDupPairsAgainst lifecycle) so the pair cache is
        // released HERE — a long-lived session running many A-vs-B
        // scrubs no longer stacks one cached pair plan per call; the
        // returned frame's own (bounded, final-result-sized) cache is
        // the caller's to release.
        val pairs = t.standing.join(t.keys, Seq("_k"))
          .select(col(idA), col(idB)).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ids = pairs.select(col(idB)).distinct()
        val fetched = bNormRaw
          .filter(ProbeGuard.bloomPredicate(ids,
            Seq(idB), ids.count(), "Fuzzy.fuzzyJoinAgainst(fetch)"))
          .join(pairs, Seq(idB))
          .select(col(idA), col(idB), col("_nb"))
        val out = verify(
          (if (ck.isDefined) fetched.distinct() else fetched)
            .join(aNorm, Seq(idA)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out.count()
        pairs.unpersist()
        out
      case ProbeGuard.Shape.Shuffle =>
        val bNorm =
          if (ck.isDefined) bNormRaw.distinct() else bNormRaw
        verify(t.keys.join(t.standing, Seq("_k"))
          .select(col(idA), col(idB)).distinct()
          .join(aNorm, Seq(idA))
          .join(bNorm, Seq(idB)))
    }
  }
}
