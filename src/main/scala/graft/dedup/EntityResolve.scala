package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental fuzzy entity RESOLUTION — the daily-batch shape of the
  * q115 composition (block → Levenshtein verify → cluster), run
  * against a standing master registry instead of re-clustering the
  * world: new records that fuzzy-match a master entity adopt its id;
  * records matching only each other form NEW entities via the same
  * min-label connected components. This gives entity resolution the
  * train-once/probe-many story every other similarity method already
  * has — the registry's blocking keys are a stored artifact
  * ([[Fuzzy.entityKeys]]), so the master side's strings are never
  * re-read, and candidate work is ∝ |batch|.
  *
  * Assignment semantics (deterministic):
  *  - a batch record within `maxDist` of ≥1 master entity takes the
  *    CLOSEST master's id (ties broken by min id) — `matched = true`;
  *  - the remaining records are self-joined (same blocked fuzzy join)
  *    and each connected component becomes one new entity labeled by
  *    its min batch id — `matched = false`; singletons label
  *    themselves. Matched records do NOT bridge unmatched ones to the
  *    registry (a record adopting master id M says nothing about its
  *    other fuzzy neighbors — transitive chaining through matched
  *    records is the classic ER over-merge; production recipes keep
  *    match and dedup phases separate, and so does this one).
  *
  * Scale shape: two blocked fuzzy joins (batch×registry-artifact,
  * batch×batch) — both capped by the [[Dedup.dropHotBuckets]]
  * discipline — one min-aggregate, one component pass over batch-only
  * edges. Nothing corpus-sized shuffles; the registry contributes its
  * key artifact only.
  */
object EntityResolve {

  /** Returns `(<batchIdCol>, entity_id, dist, matched)` — one row per
    * batch record. `dist` is the Levenshtein distance to the adopted
    * master (0-maxDist) for matched rows and 0 for new entities.
    * `masterKeys` is the registry's stored [[Fuzzy.entityKeys]]
    * artifact; when absent the keys are built from `master` inline
    * (the bootstrap / ad-hoc form). The returned frame is already
    * materialized (batch-sized; every internal cache is released
    * before return) — free it with [[graft.ops.StageCut.release]]
    * after consuming.
    *
    * `probeScale` threads through to BOTH internal
    * [[Fuzzy.fuzzyJoinAgainst]] calls (registry join and the
    * unmatched self-join). The default true is right for the daily
    * shape and self-protecting — [[graft.ops.ProbeGuard]] measures the
    * batch key set and falls back to sort-merge above the cap — but a
    * bootstrap/ad-hoc caller resolving a known corpus-scale "batch"
    * can pass false to skip the probe shape (and the guard counts)
    * outright. */
  def resolveBatch(batch: DataFrame, master: DataFrame,
                   batchIdCol: String, batchStrCol: String,
                   masterIdCol: String, masterStrCol: String,
                   maxDist: Int,
                   masterKeys: Option[DataFrame] = None,
                   maxBucket: Int = Dedup.defaultMaxBucket,
                   probeScale: Boolean = true): DataFrame = {
    require(batchIdCol != masterIdCol,
      s"batch and master id columns must differ (got $batchIdCol both)")
    val toMaster = Fuzzy.fuzzyJoinAgainst(batch, master,
      batchIdCol, batchStrCol, masterIdCol, masterStrCol,
      maxDist, maxBucket, masterKeys, probeScale)
    // every internal frame's release lives in a finally so a failure
    // ANYWHERE in the resolve (including dupClusters or the final
    // materializing count) frees the fuzzy joins' Bloom-tier caches
    // too — not just the stage cuts (ADVICE r19: toMaster/selfRaw
    // were released on the success path only)
    try {
    // closest master wins, ties by min id — one struct-min aggregate.
    // Stage-cut ([[graft.ops.StageCut]]): consumed twice (anti-join
    // source + final union), and cutting keeps the blocked-join tree
    // out of every downstream analysis pass
    val matched = graft.ops.StageCut(toMaster
      .groupBy(col(batchIdCol))
      .agg(min(struct(col("dist"), col(masterIdCol))).as("_best"))
      .select(col(batchIdCol), col("_best").getField(masterIdCol).as("entity_id"),
        col("_best").getField("dist").as("dist"), lit(true).as("matched")))
    try {
      // stage-cut: the self-join below evaluates its input SIX times
      // (two keyed sides, two eager hot-block count scans, two
      // normalized-string fetches) and each evaluation would otherwise
      // re-run — and re-ANALYZE — the registry join + anti-join above
      val unmatched = graft.ops.StageCut(batch.join(
          matched.select(col(batchIdCol)), Seq(batchIdCol), "left_anti")
        .select(col(batchIdCol), col(batchStrCol)))
      try {
        // batch-only components over the SAME blocked join, min-id
        // labels. The RAW frame is kept for the release below:
        // fuzzyJoinAgainst's Bloom tier returns a cached frame, and
        // unpersisting a derived filter/select would be a no-op on the
        // cached root (the round-18 StageCut-release lesson)
        val selfRaw = Fuzzy.fuzzyJoinAgainst(
            unmatched.select(col(batchIdCol).as("_ra"), col(batchStrCol)),
            unmatched.select(col(batchIdCol).as("_rb"), col(batchStrCol)),
            "_ra", batchStrCol, "_rb", batchStrCol, maxDist, maxBucket,
            probeScale = probeScale)
        try {
        val selfPairs = selfRaw
          .filter(col("_ra") < col("_rb"))
          .select(col("_ra").as("id_a"), col("_rb").as("id_b"))
        val clusters = Dedup.dupClusters(selfPairs)
        val fresh = unmatched.select(col(batchIdCol))
          .join(clusters.withColumnRenamed("id", batchIdCol),
            Seq(batchIdCol), "left")
          .select(col(batchIdCol),
            coalesce(col("cluster"), col(batchIdCol)).as("entity_id"),
            lit(0L).as("dist"), lit(false).as("matched"))
        // materialize the result EAGERLY so the internal stage frames
        // can be released before return (the lshNearDupPairs
        // materialize-then-release precedent — repeated direct calls in
        // a long-lived session must not accumulate cache blocks). The
        // try/finally shape frees the internal frames on ANY exit, so a
        // mid-resolve failure cannot leak them either. The returned
        // frame is batch-sized; callers free it with StageCut.release
        // after consuming — or use [[withResolvedBatch]], which
        // enforces that pairing.
        val out = graft.ops.StageCut(matched.unionByName(fresh))
        out
        // the fuzzy joins' OWN caches (the Bloom tier returns a
        // persisted result frame) are released in the finallys below,
        // after `out` holds the data on the success path — a
        // long-lived stream trigger leaves zero cached frames per call
        // whether the resolve succeeded or threw (release is a no-op
        // unpersist on the probe/shuffle tiers' plain frames)
        } finally graft.ops.StageCut.release(selfRaw)
      } finally graft.ops.StageCut.release(unmatched)
    } finally graft.ops.StageCut.release(matched)
    } finally graft.ops.StageCut.release(toMaster)
  }

  /** Loan-pattern form of [[resolveBatch]]: hands the resolved frame to
    * `use` and ALWAYS releases it afterwards — the cleanup contract
    * enforced by the API instead of by scaladoc. resolveBatch returns
    * an eagerly-materialized stage-cut frame; a caller that forgets the
    * paired [[graft.ops.StageCut.release]] accumulates checkpoint
    * blocks until driver GC in a long-lived session, so prefer this
    * form anywhere the resolved frame's lifetime is lexical (collect
    * or write inside `use`; don't leak the frame itself out). */
  def withResolvedBatch[T](batch: DataFrame, master: DataFrame,
                           batchIdCol: String, batchStrCol: String,
                           masterIdCol: String, masterStrCol: String,
                           maxDist: Int,
                           masterKeys: Option[DataFrame] = None,
                           maxBucket: Int = Dedup.defaultMaxBucket,
                           probeScale: Boolean = true)
                          (use: DataFrame => T): T = {
    val resolved = resolveBatch(batch, master, batchIdCol, batchStrCol,
      masterIdCol, masterStrCol, maxDist, masterKeys, maxBucket, probeScale)
    try use(resolved) finally graft.ops.StageCut.release(resolved)
  }

  /** The rows of `batch` that became new canonical entities under a
    * [[resolveBatch]] result — the component representatives
    * (`!matched && entity_id = id`). Append these to the registry and
    * their [[Fuzzy.entityKeys]] to the key artifact to accept the
    * batch. */
  def newEntities(batch: DataFrame, resolved: DataFrame,
                  batchIdCol: String): DataFrame =
    batch.join(
      resolved.filter(!col("matched") &&
          col("entity_id") === col(batchIdCol))
        .select(col(batchIdCol)),
      Seq(batchIdCol), "left_semi")
}
