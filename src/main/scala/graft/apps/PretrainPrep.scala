package graft.apps

import graft.dedup.{SimilarJoin, SimilarityMethod}
import graft.ops.{Packing, Profile, Sampling, StageCut}
import graft.text.{C4Clean, Decontaminate, FilterPolicy, PolicyConfig, SpanDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The FULL published pre-training data-prep recipe as one pipeline —
  * what [[Curate]] is to curation, this is to corpus release: raw
  * crawl in, training shards out, every stage an operator this engine
  * already gates on its own:
  *
  *   1. Gopher policy gate ([[FilterPolicy]], config is the shipped
  *      artifact),
  *   2. C4 bad-words page drop ([[C4Clean.dropBadWordDocs]]),
  *   3. exact dedup (min id per [[graft.text.TextOps.fingerprint]] of
  *      the raw text — q24's operator; MUST run before the span scrub:
  *      scrubbing first would see every span of an exact-duplicate
  *      pair as a cross-document duplicate and annihilate BOTH
  *      copies),
  *   4. duplicated-span scrub ([[SpanDedup.removeDuplicatedSpans]] —
  *      Lee et al.'s cross-document boilerplate cut; `spanMinDocs`
  *      sets the multiplicity that counts as boilerplate — at the
  *      default 2 the scrub doubles as a hyper-aggressive near-dedup
  *      (both members of any near-dup pair lose their shared spans),
  *      at 3+ it targets boilerplate and leaves pair-wise similarity
  *      to the near-dup stage),
  *   5. near-dup dedup ([[SimilarJoin.similarClusters]], keep each
  *      cluster's min id),
  *   6. n-gram benchmark decontamination
  *      ([[Decontaminate.decontaminate]] — the published recipe uses
  *      13-grams; the gate corpus uses 5),
  *   7. optional EMBEDDING-space decontamination
  *      ([[Decontaminate.decontaminateByEmbedding]] — catches
  *      paraphrased eval questions n-grams miss),
  *   8. per-source quota ([[Sampling.capPerGroup]] — bounded heaps,
  *      keep the token-richest K per source), then optional
  *      PER-SOURCE token budgets ([[Sampling.tokenBudgetByGroup]] —
  *      the mixture caps: each source's token-richest prefix within
  *      its own budget), then an optional GLOBAL token budget
  *      ([[Sampling.tokenBudgetSelect]] — the token-richest (n_kept
  *      DESC, id ASC) prefix that fits `tokenBudget`; driver-side
  *      range narrowing, so each selection is a scan-side filter,
  *      never a global sort/window; the incremental forms fill each
  *      budget's HEADROOM after the standing corpus' spent tokens,
  *      per source and globally),
  *   9. deterministic shuffle into training shards
  *      ([[Sampling.shuffleShards]]).
  *
  * Scale shape: every stage keeps its own discipline (documented at
  * each operator) — document text never rides a dedup or candidate
  * shuffle, the benchmark side broadcasts, quota is O(k) heaps, the
  * shuffle is one exchange + per-shard sort. Stage counts are read
  * off materialized stage frames (no stage computed twice).
  *
  * Stage boundaries cut the lineage by default ([[graft.ops.StageCut]]
  * — eager `localCheckpoint`): a nine-stage composed plan re-enters
  * Catalyst analysis at EVERY downstream action, and that constant
  * grows superlinearly with plan size — measured 4× on the q128 gate
  * (43.7 s chained-persist vs 10.8 s with stage cuts, identical
  * results). A checkpoint dir makes every cut reliable; see StageCut's
  * scaladoc for the recovery trade.
  *
  * The q128 gate pins stages 1-6 + 8-9 end-to-end against a DuckDB
  * oracle; `PretrainPrepSpec` pins run() == the hand-composed
  * operator chain stage by stage, plus the CLI's artifact layout.
  */
object PretrainPrep {

  /** Per-stage survivor counts. `afterEmbDecontam == afterDecontam`
    * when no embedding decontamination is configured. `input` is -1
    * when the run skipped the input count (`countInput = false`). */
  case class Report(input: Long, afterPolicy: Long, afterBadWords: Long,
                    afterExact: Long, afterSpanScrub: Long,
                    afterNear: Long, afterDecontam: Long,
                    afterEmbDecontam: Long, afterQuota: Long)

  /** Embedding-space decontamination input: per-document vectors and
    * the benchmark's vectors, both keyed by the pipeline's idCol. */
  case class EmbDecontam(docVecs: DataFrame, benchVecs: DataFrame,
                         vecCol: String, minCos: Double)

  /** The TRAIN-ONCE maintenance artifacts a run leaves behind so the
    * NEXT daily [[runIncremental]] never re-reads the standing
    * corpus's raw text:
    *
    *   - `fps` — DISTINCT raw-text fingerprints of the scrub stage's
    *     input docs ([[graft.apps.Curate.textFingerprints]] shape,
    *     `_fp_text`): the incremental exact stage anti-joins these.
    *     Built over the scrub INPUT, not the accepted output — the
    *     full run's exact stage sees every post-bad-words doc, so
    *     docs dropped LATER (scrub/near/decontam/quota) still block a
    *     re-submitted exact copy, exactly as a full-run replay would.
    *   - `gramCounts` — [[graft.text.SpanDedup.gramDocCounts]] `(h,
    *     nd)` over the same docs' raw text: the incremental scrub's
    *     multiplicity-exact threshold arithmetic.
    *   - `scrubInput` — the still-materialized stage frame both were
    *     built from. The caller materializes the artifact frames
    *     (write/collect) and then MUST [[graft.ops.StageCut.release]]
    *     this frame; until then fps/gramCounts evaluate against the
    *     cached blocks instead of recomputing three stages.
    *
    * Union maintenance after each accepted increment (disjoint daily
    * ids — see [[graft.text.SpanDedup.removeDuplicatedSpansWithCounts]]):
    * `fps' = (fps ∪ batch.fps).distinct`, `gramCounts' = (gramCounts ∪
    * batch.gramCounts) groupBy h sum nd`, corpus' = corpus ∪ accepted,
    * and LSH signatures over the accepted clean_text union into the
    * standing sigs table. */
  case class PrepArtifacts(fps: DataFrame, gramCounts: DataFrame,
                           scrubInput: DataFrame)

  /** Per-stage survivor counts of [[runIncremental]]. `input` is -1
    * when the run skipped the input count (`countInput = false`). */
  case class IncReport(input: Long, afterPolicy: Long, afterBadWords: Long,
                       afterExact: Long, afterSpanScrub: Long,
                       afterNear: Long, afterDecontam: Long,
                       afterQuota: Long)

  /** [[runTracked]] / [[runIncrementalTracked]] result: the accepted
    * frame and report of the plain run, plus the opted-into extras.
    * `ledger` is the per-document DROP AUDIT — one row `(idCol,
    * stage, reason, winner_id)` for every input document that did NOT
    * reach the output: `stage` ∈ {policy, bad_words, exact,
    * span_scrub, near, decontam, emb_decontam, quota}, `reason` is
    * machine-readable (the policy stage carries
    * [[graft.text.FilterPolicy]]'s first-failing-rule verdict;
    * dedup stages distinguish batch-internal from corpus-caused
    * drops), and `winner_id` names the surviving twin where the drop
    * has one (exact dedup: the min-id fingerprint holder; near dedup:
    * the cluster representative, or for a corpus-touched component the
    * min corpus member — always a real survivor) and is NULL
    * otherwise. Ledger ids
    * and output ids partition the input exactly — reconciliation
    * against the report deltas is spec-pinned. The frame is
    * materialized ([[graft.ops.StageCut]]); release it like `out`.
    * Cost when enabled: one id-column anti-join per stage plus the
    * materialization of the (shared, single-evaluation) policy
    * verdict and fingerprint frames — no extra pass over any text,
    * batch- or corpus-sized. */
  case class Tracked[R](out: DataFrame, report: R,
                        artifacts: Option[PrepArtifacts],
                        ledger: Option[DataFrame])

  /** Returns the training-ready frame `(idCol, srcCol, clean_text,
    * n_kept, shard, pos)` — already materialized (see
    * [[graft.ops.StageCut]] for the cleanup contract) — and the
    * per-stage [[Report]]. `bench` is the held-out eval set (same
    * textCol); pass None to skip decontamination. `docs` must not
    * contain the benchmark rows — exclude them before calling (the
    * corpus and the eval set are disjoint by construction in a real
    * release, and stage counts would otherwise mix the two). */
  def run(docs: DataFrame, idCol: String, textCol: String,
          srcCol: String,
          bench: Option[DataFrame] = None,
          config: PolicyConfig = PolicyConfig.Gopher,
          badWords: Seq[String] = Seq.empty,
          spanN: Int = 4,
          spanMinDocs: Int = 2,
          method: SimilarityMethod =
            SimilarityMethod.MinHashLsh(minJaccard = 0.8),
          decontamN: Int = 13,
          embDecontam: Option[EmbDecontam] = None,
          quotaPerSource: Int = Int.MaxValue,
          tokenBudget: Long = Long.MaxValue,
          sourceBudgets: Map[String, Long] = Map.empty,
          sourceBudgetDefault: Long = Long.MaxValue,
          nShards: Int = 64,
          seed: Int = 0,
          countInput: Boolean = true,
          log: String => Unit = m => System.err.println(m)): (DataFrame, Report) = {
    val r = runTracked(docs, idCol, textCol, srcCol, bench, config, badWords,
      spanN, spanMinDocs, method, decontamN, embDecontam, quotaPerSource,
      tokenBudget, sourceBudgets, sourceBudgetDefault, nShards, seed,
      countInput, log = log)
    (r.out, r.report)
  }

  /** [[run]] that ALSO returns the [[PrepArtifacts]] the next
    * [[runIncremental]] consumes — same stages, same output, but the
    * scrub-input frame stays materialized so the artifact frames are
    * one cached-pass each. Release `artifacts.scrubInput` after
    * materializing them. */
  def runWithArtifacts(docs: DataFrame, idCol: String, textCol: String,
          srcCol: String,
          bench: Option[DataFrame] = None,
          config: PolicyConfig = PolicyConfig.Gopher,
          badWords: Seq[String] = Seq.empty,
          spanN: Int = 4,
          spanMinDocs: Int = 2,
          method: SimilarityMethod =
            SimilarityMethod.MinHashLsh(minJaccard = 0.8),
          decontamN: Int = 13,
          embDecontam: Option[EmbDecontam] = None,
          quotaPerSource: Int = Int.MaxValue,
          tokenBudget: Long = Long.MaxValue,
          sourceBudgets: Map[String, Long] = Map.empty,
          sourceBudgetDefault: Long = Long.MaxValue,
          nShards: Int = 64,
          seed: Int = 0,
          countInput: Boolean = true,
          log: String => Unit = m => System.err.println(m)): (DataFrame, Report, PrepArtifacts) = {
    val r = runTracked(docs, idCol, textCol, srcCol, bench, config, badWords,
      spanN, spanMinDocs, method, decontamN, embDecontam, quotaPerSource,
      tokenBudget, sourceBudgets, sourceBudgetDefault, nShards, seed,
      countInput, keepArtifacts = true, log = log)
    (r.out, r.report, r.artifacts.get)
  }

  /** [[run]] with OPT-IN extras: `keepArtifacts` adds the
    * [[PrepArtifacts]] maintenance tables, `keepLedger` the
    * per-document drop audit — see [[Tracked]] for both contracts. */
  def runTracked(docs: DataFrame, idCol: String, textCol: String,
          srcCol: String,
          bench: Option[DataFrame] = None,
          config: PolicyConfig = PolicyConfig.Gopher,
          badWords: Seq[String] = Seq.empty,
          spanN: Int = 4,
          spanMinDocs: Int = 2,
          method: SimilarityMethod =
            SimilarityMethod.MinHashLsh(minJaccard = 0.8),
          decontamN: Int = 13,
          embDecontam: Option[EmbDecontam] = None,
          quotaPerSource: Int = Int.MaxValue,
          tokenBudget: Long = Long.MaxValue,
          sourceBudgets: Map[String, Long] = Map.empty,
          sourceBudgetDefault: Long = Long.MaxValue,
          nShards: Int = 64,
          seed: Int = 0,
          countInput: Boolean = true,
          keepArtifacts: Boolean = false,
          keepLedger: Boolean = false,
          log: String => Unit = m => System.err.println(m)): Tracked[Report] = {
    requireKnobs(spanN, spanMinDocs, decontamN, quotaPerSource, nShards)
    val p = new PrepRun(idCol, textCol, srcCol,
      new Stages.DropLedger(keepLedger, idCol, docs.schema(idCol).dataType),
      "[prep]", log)
    val s = p.screen(docs, config, badWords, countInput)

    // stage 3: exact dedup on the raw-text fingerprint — (fp, id)
    // only through the exchange, the heavy text never shuffles
    val fps = p.fingerprints(s.noBad)
    val exact = s.noBad.join(fps.keepIds.select(col(idCol)), Seq(idCol), "left_semi")
      .transform(StageCut.apply)
    val afterExact = exact.count()
    fps.attribute("duplicate_text")
    StageCut.release(s.root)
    log(s"[prep] exact dedup: ${s.afterBadWords} -> $afterExact")

    // stage 4: span scrub — text becomes clean_text (+ n_kept);
    // documents whose every token was boilerplate disappear
    val (scrubbed, afterSpanScrub, artifacts) = p.scrub(exact,
      SpanDedup.removeDuplicatedSpans(exact, idCol, textCol, spanN, spanMinDocs),
      spanN, keepArtifacts)
    log(s"[prep] span scrub (n=$spanN, minDocs=$spanMinDocs): " +
      s"$afterExact -> $afterSpanScrub")

    // stage 5: near-dup clusters over the scrubbed text
    val (near, afterNear) = Stages.nearWithin(p.ledger, scrubbed,
      SimilarJoin.similarClusters(
        scrubbed.select(col(idCol), col("clean_text").as(textCol)),
        idCol, textCol, method), idCol)
    StageCut.release(scrubbed)
    log(s"[prep] near dedup (${method.getClass.getSimpleName}): " +
      s"$afterSpanScrub -> $afterNear")

    val (dec, afterDecontam) = p.decontam(near, afterNear, bench, decontamN)

    // stage 7: embedding-space decontamination (optional). Only the
    // vectors of still-surviving docs probe the benchmark-side index.
    val embClean = embDecontam match {
      case Some(e) =>
        val liveVecs = e.docVecs
          .select(col(idCol), col(e.vecCol))
          .join(dec.select(col(idCol)), Seq(idCol), "left_semi")
        val keepIds = Decontaminate.decontaminateByEmbedding(
            liveVecs, e.benchVecs.select(col(idCol), col(e.vecCol)),
            idCol, e.vecCol, e.minCos)
          .select(col(idCol))
        dec.join(keepIds, Seq(idCol), "left_semi")
          .transform(StageCut.apply)
      case None => dec
    }
    val afterEmbDecontam = embClean.count()
    if (embDecontam.isDefined) {
      p.ledger.lost(dec, embClean, "emb_decontam", "bench_embedding_overlap")
      StageCut.release(dec)
    }
    log(s"[prep] embedding decontamination: " +
      s"$afterDecontam -> $afterEmbDecontam")

    // stage 8: per-source quota — the token-richest K per source; then
    // the opt-in per-source token budgets (the mixture caps shape the
    // pool, [[graft.ops.Sampling.tokenBudgetByGroup]]) and the global
    // token budget (the token-richest (n_kept DESC, id ASC) prefix that
    // fits — [[graft.ops.Sampling.tokenBudgetSelect]], a scan-side
    // filter whose cutoff is resolved by driver-side range narrowing);
    // stage 9: deterministic shuffle into shards (adds shard, pos)
    val bySource = Option.when(sourceBudgeted(sourceBudgets, sourceBudgetDefault)) {
      (q: DataFrame) => Sampling.tokenBudgetByGroup(q, idCol, srcCol, "n_kept",
        "n_kept", sourceBudgets, sourceBudgetDefault, log = log)
    }
    val budget = Option.when(tokenBudget != Long.MaxValue) {
      (b: DataFrame) => Sampling.tokenBudgetSelect(b, idCol, "n_kept", "n_kept",
        tokenBudget, log = log)
    }
    val (sharded, afterQuota) = p.release(embClean,
      Option.when(quotaPerSource != Int.MaxValue) {
        (pool: DataFrame) => Sampling.capPerGroup(pool, Seq(srcCol),
          Seq(("n_kept", false), (idCol, true)), quotaPerSource).drop("rn")
      }, bySource, budget, Sampling.shuffleShards(_, idCol, nShards, seed))
    log(s"[prep] quota (<= $quotaPerSource/source)" +
      (if (bySource.isDefined) s" + source budgets (${sourceBudgets.size} " +
        s"listed, default $sourceBudgetDefault)" else "") +
      (if (budget.isDefined) s" + token budget $tokenBudget" else "") +
      s" + shuffle ($nShards shards, seed $seed): " +
      s"$afterEmbDecontam -> $afterQuota")

    Tracked(sharded, Report(s.input, s.afterPolicy, s.afterBadWords, afterExact,
      afterSpanScrub, afterNear, afterDecontam, afterEmbDecontam,
      afterQuota), artifacts, p.ledger.result())
  }

  /** The DAILY run — today's crawl batch through the SAME release
    * recipe, against a STANDING corpus, without re-reading the corpus
    * text: every stage swaps its self-join form for the A-vs-B form
    * this engine already gates one by one. Corpus survivors are
    * INVARIANT — only batch documents are ever dropped or trimmed.
    *
    *   1. Gopher policy gate on the batch (the corpus already passed),
    *   2. C4 bad-words drop,
    *   3. exact dedup — min id per raw-text fingerprint WITHIN the
    *      batch, then anti-join the stored corpus `fps` artifact,
    *   4. duplicated-span scrub with MULTIPLICITY-EXACT union
    *      arithmetic ([[graft.text.SpanDedup.removeDuplicatedSpansWithCounts]]
    *      against the stored [[graft.text.SpanDedup.gramDocCounts]]
    *      artifact): a batch position is cut when batch + corpus
    *      document counts reach `spanMinDocs`, exactly the rule a full
    *      run applies over the union,
    *   5. near-dup — within-batch pairs plus batch×corpus pairs
    *      ([[graft.dedup.SimilarJoin.similarJoinAgainst]] over the
    *      corpus `clean_text`, or the stored `corpusSigs` signature
    *      table) through ONE connected-components pass
    *      ([[Curate]]'s incremental drop rule: a batch doc falls if
    *      its component touches the corpus or it is a non-min-id
    *      member of a batch-only component),
    *   6. n-gram benchmark decontamination (same bench, per-doc —
    *      stateless, so the batch form IS the full form),
    *   7. per-source quota as HEADROOM fill: the batch keeps its
    *      token-richest rows per source only up to `quotaPerSource`
    *      minus the standing corpus's count for that source (a full
    *      quota means no batch row of that source enters — the corpus
    *      is never evicted),
    *   8. deterministic shard assignment with the SAME (seed,
    *      nShards) as the standing corpus — `shard` is a pure function
    *      of the id, so batch rows land in their forever-shards; `pos`
    *      continues each shard's sequence after the corpus's rows
    *      (pos = corpus shard count + batch rank), so corpus ∪
    *      accepted is a dense, collision-free epoch per shard.
    *
    * `corpus` must be the ACCEPTED output of a previous [[run]] /
    * runIncremental (columns idCol, srcCol, clean_text, n_kept, shard,
    * pos) — `seed`/`nShards` must match the run that produced it.
    * `corpusFps` and `corpusGramCounts` are the [[PrepArtifacts]]
    * tables; batch and corpus ids must be DISJOINT (see
    * removeDuplicatedSpansWithCounts — a replayed id double-counts).
    *
    * Equivalence vs a full run over corpus ∪ batch (spec-pinned in
    * `PretrainPrepSpec`): stages 1-4 and 6 match the full run's batch
    * slice exactly (same preconditions as
    * [[graft.apps.Curate.runIncremental]]: batch ids sort after corpus
    * ids, no value collisions). Three documented drifts are inherent
    * to append-on-accept: (a) the near stage pairs the batch against
    * ACCEPTED corpus docs only, so a batch doc near-duplicating a
    * corpus doc that the corpus run itself dropped (quota, decontam)
    * is kept here but dropped by a full-run replay; (b) a gram whose
    * corpus-side count sits below `spanMinDocs` until BATCH copies
    * push it over scrubs the batch positions (exact) but cannot
    * retroactively scrub the standing corpus's copies, where a full
    * run scrubs both sides; (c) quota is headroom-fill — a full run's
    * global top-K may instead evict a corpus doc in favor of a richer
    * batch doc. All three keep the corpus fixed, which is the contract
    * an append-only release wants.
    *
    * Scale shape: the corpus contributes the `fps`/`gramCounts`/`sigs`
    * artifact scans plus two id-or-shard-column reads (near-stage
    * component ids, per-source/per-shard counts) — its TEXT is read
    * zero times with stored sigs. The fps table is PROBED by the
    * broadcast batch fingerprints ([[Curate.corpusFpHits]] — never
    * shuffled); every remaining shuffle is batch-sized including the
    * gram-count join, which runs under the [[graft.ops.ProbeGuard]]
    * tiered contract (batch counts broadcast within the probe cap;
    * past it the corpus artifact's scan is Bloom-reduced, so its
    * exchange carries ~matching rows; only past the Bloom cap does
    * the full corpus-sided sort-merge run, loudly). */
  def runIncremental(newDocs: DataFrame, corpus: DataFrame,
          corpusFps: DataFrame, corpusGramCounts: DataFrame,
          idCol: String, textCol: String, srcCol: String,
          bench: Option[DataFrame] = None,
          config: PolicyConfig = PolicyConfig.Gopher,
          badWords: Seq[String] = Seq.empty,
          spanN: Int = 4,
          spanMinDocs: Int = 2,
          method: SimilarityMethod =
            SimilarityMethod.MinHashLsh(minJaccard = 0.8),
          corpusSigs: Option[DataFrame] = None,
          decontamN: Int = 13,
          quotaPerSource: Int = Int.MaxValue,
          tokenBudget: Long = Long.MaxValue,
          sourceBudgets: Map[String, Long] = Map.empty,
          sourceBudgetDefault: Long = Long.MaxValue,
          nShards: Int = 64,
          seed: Int = 0,
          countInput: Boolean = true,
          log: String => Unit = m => System.err.println(m)): (DataFrame, IncReport) = {
    val r = runIncrementalTracked(newDocs, corpus, corpusFps,
      corpusGramCounts, idCol, textCol, srcCol, bench, config, badWords,
      spanN, spanMinDocs, method, corpusSigs, decontamN, quotaPerSource,
      tokenBudget, sourceBudgets, sourceBudgetDefault, nShards, seed,
      countInput, log = log)
    (r.out, r.report)
  }

  /** [[runIncremental]] with OPT-IN extras: `keepArtifacts` adds the
    * batch-side [[PrepArtifacts]] (fingerprints + gram counts of the
    * batch's scrub-input docs, for the union maintenance move — release
    * `artifacts.scrubInput` after materializing them), `keepLedger` the
    * per-document drop audit — see [[Tracked]]. The incremental ledger
    * additionally distinguishes corpus-caused drops
    * (`duplicate_of_corpus`, `near_duplicate_of_corpus`) from
    * batch-internal ones — the audit trail a daily run needs to explain
    * rejects against a standing corpus nobody can eyeball. */
  def runIncrementalTracked(newDocs: DataFrame, corpus: DataFrame,
          corpusFps: DataFrame, corpusGramCounts: DataFrame,
          idCol: String, textCol: String, srcCol: String,
          bench: Option[DataFrame] = None,
          config: PolicyConfig = PolicyConfig.Gopher,
          badWords: Seq[String] = Seq.empty,
          spanN: Int = 4,
          spanMinDocs: Int = 2,
          method: SimilarityMethod =
            SimilarityMethod.MinHashLsh(minJaccard = 0.8),
          corpusSigs: Option[DataFrame] = None,
          decontamN: Int = 13,
          quotaPerSource: Int = Int.MaxValue,
          tokenBudget: Long = Long.MaxValue,
          sourceBudgets: Map[String, Long] = Map.empty,
          sourceBudgetDefault: Long = Long.MaxValue,
          nShards: Int = 64,
          seed: Int = 0,
          countInput: Boolean = true,
          keepArtifacts: Boolean = false,
          keepLedger: Boolean = false,
          log: String => Unit = m => System.err.println(m)): Tracked[IncReport] = {
    requireKnobs(spanN, spanMinDocs, decontamN, quotaPerSource, nShards)
    val missing = Seq(idCol, srcCol, "clean_text", "shard")
      .filterNot(corpus.columns.contains)
    require(missing.isEmpty,
      s"corpus must be a previous run's ACCEPTED output; missing " +
        s"columns: ${missing.mkString(", ")}")
    val p = new PrepRun(idCol, textCol, srcCol,
      new Stages.DropLedger(keepLedger, idCol, newDocs.schema(idCol).dataType),
      "[prep+]", log)
    val s = p.screen(newDocs, config, badWords, countInput)

    // stage 3: exact dedup within the batch, then against the stored
    // corpus fingerprints. The corpus table is PROBED, never shuffled
    // ([[Curate.corpusFpHits]] — the anti-join and the ledger
    // attribution both consume the broadcast hit set); afterBadWords
    // (already counted) soundly bounds the distinct fingerprints, so
    // the guard skips its own count.
    val cfps = Curate.requireFps(corpusFps, "_fp_text", "textFingerprints")
    val fps = p.fingerprints(s.noBad)
    val fpHits = Curate.corpusFpHits(fps.keepIds, "_fp", cfps, s.afterBadWords)
    val winners = fps.keepIds.join(fpHits, Seq("_fp"), "left_anti")
      .select(col(idCol))
    val exact = s.noBad.join(winners, Seq(idCol), "left_semi")
      .transform(StageCut.apply)
    val afterExact = exact.count()
    fps.attribute("duplicate_text", Some(fpHits))
    StageCut.release(s.root)
    log(s"[prep+] exact dedup (batch + corpus fps): " +
      s"${s.afterBadWords} -> $afterExact")

    // stage 4: multiplicity-exact span scrub vs the stored counts
    val (scrubbed, afterSpanScrub, artifacts) = p.scrub(exact,
      SpanDedup.removeDuplicatedSpansWithCounts(exact, corpusGramCounts,
        idCol, textCol, spanN, spanMinDocs), spanN, keepArtifacts)
    log(s"[prep+] span scrub (n=$spanN, minDocs=$spanMinDocs, corpus " +
      s"counts): $afterExact -> $afterSpanScrub")

    // stage 5: near-dup vs self + corpus clean_text (or stored sigs) —
    // ONE component pass, Curate's incremental drop rule
    val nearBase = scrubbed.select(col(idCol), col(srcCol), col("n_kept"),
      col("clean_text"), col("clean_text").as(textCol))
    val (near, afterNear) = Stages.nearVsCorpus(p.ledger, nearBase,
      corpus.select(col(idCol), col("clean_text").as(textCol)),
      idCol, textCol, method, corpusSigs, _.drop(textCol))
    StageCut.release(scrubbed)
    log(s"[prep+] near dedup vs corpus (${method.getClass.getSimpleName}): " +
      s"$afterSpanScrub -> $afterNear")

    val (dec, afterDecontam) = p.decontam(near, afterNear, bench, decontamN)

    // stage 7: per-source HEADROOM quota — the standing corpus's count
    // per source is a (srcCol)-only aggregate; the batch keeps its
    // token-richest rows only into the remaining headroom. The opt-in
    // token budgets fill HEADROOM too: each listed source's budget
    // minus the standing corpus' per-source n_kept sum, then the global
    // budget minus the corpus' whole n_kept sum (one corpus aggregate
    // each, only when set). Same headroom-fill caveat as the quota
    // (drift (c) above): a full-run replay's global prefix may instead
    // evict a standing doc in favor of a richer batch doc.
    val bySource = Option.when(sourceBudgeted(sourceBudgets, sourceBudgetDefault)) {
      (quota: DataFrame) =>
        val spentBySrc = corpus.groupBy(col(srcCol))
          .agg(coalesce(sum(col("n_kept")), lit(0L)).as("_t")).collect()
          .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
        def headroom(b: Long, g: String): Long =
          if (b == Long.MaxValue) b
          else math.max(0L, b - spentBySrc.getOrElse(g, 0L))
        val adjusted = (sourceBudgets.keySet ++
            (if (sourceBudgetDefault != Long.MaxValue) spentBySrc.keySet
             else Set.empty[String]))
          .map(g => g ->
            headroom(sourceBudgets.getOrElse(g, sourceBudgetDefault), g))
          .toMap
        log(s"[prep+] source budgets: ${adjusted.size} sources with " +
          "explicit headroom after corpus spend")
        Sampling.tokenBudgetByGroup(quota, idCol, srcCol, "n_kept",
          "n_kept", adjusted, sourceBudgetDefault, log = log)
    }
    val budget = Option.when(tokenBudget != Long.MaxValue) {
      (b: DataFrame) =>
        val spent = corpus.agg(coalesce(sum(col("n_kept")), lit(0L)))
          .head().getLong(0)
        val headroom = tokenBudget - spent
        log(s"[prep+] token budget $tokenBudget: corpus holds $spent " +
          s"tokens, headroom ${math.max(0L, headroom)}")
        if (headroom <= 0L) b.filter(lit(false))
        else Sampling.tokenBudgetSelect(b, idCol, "n_kept",
          "n_kept", headroom, log = log)
    }
    // stage 8: same-epoch shard assignment; pos continues each shard's
    // sequence after the standing corpus ((shard)-only aggregate)
    val (sharded, afterQuota) = p.release(dec,
      Option.when(quotaPerSource != Int.MaxValue) { (pool: DataFrame) =>
        val standing = corpus.groupBy(col(srcCol))
          .agg(count(lit(1)).as("_cn"))
        Sampling.capPerGroup(pool, Seq(srcCol),
            Seq(("n_kept", false), (idCol, true)), quotaPerSource)
          .join(standing, Seq(srcCol), "left")
          .filter(col("rn") + coalesce(col("_cn"), lit(0L)) <=
            quotaPerSource)
          .drop("rn", "_cn")
      }, bySource, budget, { (b: DataFrame) =>
        val shardCounts = corpus.groupBy(col("shard"))
          .agg(count(lit(1)).as("_sn"))
        Sampling.shuffleShards(b, idCol, nShards, seed)
          .join(shardCounts, Seq("shard"), "left")
          .withColumn("pos", col("pos") + coalesce(col("_sn"), lit(0L)))
          .drop("_sn")
      })
    log(s"[prep+] quota headroom (<= $quotaPerSource/source incl corpus)" +
      (if (bySource.isDefined) " + source budgets" else "") +
      (if (budget.isDefined) s" + token budget $tokenBudget" else "") +
      s" + shards ($nShards, seed $seed): $afterDecontam -> $afterQuota")

    Tracked(sharded, IncReport(s.input, s.afterPolicy, s.afterBadWords,
      afterExact, afterSpanScrub, afterNear, afterDecontam, afterQuota),
      artifacts, p.ledger.result())
  }

  private def requireKnobs(spanN: Int, spanMinDocs: Int, decontamN: Int,
                           quotaPerSource: Int, nShards: Int): Unit = {
    require(spanN >= 1, s"spanN must be >= 1, got $spanN")
    require(spanMinDocs >= 2, s"spanMinDocs must be >= 2, got $spanMinDocs")
    require(decontamN >= 1, s"decontamN must be >= 1, got $decontamN")
    require(quotaPerSource >= 1,
      s"quotaPerSource must be >= 1, got $quotaPerSource")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
  }

  private def sourceBudgeted(sourceBudgets: Map[String, Long],
                             sourceBudgetDefault: Long): Boolean =
    sourceBudgets.nonEmpty || sourceBudgetDefault != Long.MaxValue

  /** Stages 1–2's output: the screened rows, the stage-1 frame to
    * release once stage 3 has materialized (the screened rows are a
    * lazy view over it), and the counts. */
  private case class Screened(noBad: DataFrame, root: DataFrame, input: Long,
                              afterPolicy: Long, afterBadWords: Long)

  /** The stages the full and the daily run share, over one run's
    * columns, drop ledger and log tag. */
  private final class PrepRun(idCol: String, textCol: String, srcCol: String,
                              val ledger: Stages.DropLedger, tag: String,
                              log: String => Unit) {

    /** Stages 1–2: the policy gate and the C4 bad-words drop.
      *
      * The input stat is a dedicated count(): free only when `docs` is
      * a plain parquet scan (row-group counts, no data read); a
      * TRANSFORMED input pays one full scan here — `countInput = false`
      * skips it (input becomes -1). The policy verdict is a pure
      * per-row expression ([[FilterPolicy.withVerdict]]), so the gate
      * FILTERS THE SCAN ITSELF. Ledger mode materializes the flagged
      * frame once so keep AND drop reasons come from one policy
      * evaluation and one scan; `kept` is then a LAZY filter over it
      * (cutting it again would store a second corpus-sized checkpoint
      * whose only reader is the next stage's scan).
      *
      * The bad-words verdict `_nb` = `badWordCount <=> 0` (null-safe —
      * false for hit docs AND null-text docs, exactly the complement
      * the ledger fragment wants) rides the same one-pass policy scan,
      * so stage 2 is a trivial boolean filter over the stage-1 blocks
      * and its ledger fragment the in-row complement. */
    def screen(docs: DataFrame, config: PolicyConfig, badWords: Seq[String],
               countInput: Boolean): Screened = {
      val input = if (countInput) docs.count() else -1L
      def withNb(df: DataFrame): DataFrame =
        if (badWords.isEmpty) df
        else df.withColumn("_nb",
          C4Clean.badWordCount(col(textCol), badWords) <=> 0)
      val verdict = FilterPolicy.withVerdict(
        docs.select(col(idCol), col(srcCol), col(textCol)), textCol, config)
      val flagged =
        if (ledger.on) Some(StageCut(withNb(verdict.select(col(idCol),
          col(srcCol), col(textCol), col("keep"), col("reason")))))
        else None
      val kept = flagged
        .map(_.filter(col("keep")).drop("keep", "reason"))
        .getOrElse(StageCut(withNb(verdict.filter(col("keep"))
          .select(col(idCol), col(srcCol), col(textCol)))))
      val afterPolicy = kept.count()
      flagged.foreach(v =>
        ledger.drop(v.filter(!col("keep")), "policy", col("reason")))
      log(s"$tag policy gate: $input -> $afterPolicy")

      val noBad =
        if (badWords.isEmpty) kept
        else kept.filter(col("_nb"))
          .select(col(idCol), col(srcCol), col(textCol))
      val afterBadWords = noBad.count()
      ledger.drop(
        if (badWords.isEmpty) kept.filter(lit(false))
        else kept.filter(!col("_nb")),
        "bad_words", lit("bad_word"))
      log(s"$tag bad-words (${badWords.size} terms): " +
        s"$afterPolicy -> $afterBadWords")
      Screened(noBad, flagged.getOrElse(kept), input, afterPolicy, afterBadWords)
    }

    /** Stage 3's keys: min id per raw-text fingerprint of the screened
      * rows. */
    def fingerprints(noBad: DataFrame): Stages.MinIdPerFp =
      new Stages.MinIdPerFp(ledger, noBad.select(
        graft.text.TextOps.fingerprint(col(textCol)).as("_fp"), col(idCol)), idCol)

    /** Stage 4 around its scrub: `scrub` is the scrubbed text
      * (`idCol, clean_text, n_kept`) of `exact`. Returns the cut
      * scrubbed frame, its count, and — in artifact mode — the
      * [[PrepArtifacts]] over the scrub input, which then stays alive
      * for the CALLER to release (fps and gram counts are one cached
      * pass each); otherwise `exact` is released here. */
    def scrub(exact: DataFrame, scrub: DataFrame, spanN: Int,
              keepArtifacts: Boolean): (DataFrame, Long, Option[PrepArtifacts]) = {
      val scrubbed = StageCut(scrub.join(exact.select(col(idCol), col(srcCol)), Seq(idCol)))
      val n = scrubbed.count()
      ledger.lost(exact, scrubbed, "span_scrub", "all_spans_duplicated")
      val artifacts =
        if (keepArtifacts) Some(PrepArtifacts(
          Curate.textFingerprints(exact, textCol),
          SpanDedup.gramDocCounts(exact, idCol, textCol, spanN),
          exact))
        else { StageCut.release(exact); None }
      (scrubbed, n, artifacts)
    }

    /** Stage 6: n-gram decontamination of the scrubbed text against the
      * raw bench (skipped without one). */
    def decontam(near: DataFrame, afterNear: Long, bench: Option[DataFrame],
                 decontamN: Int): (DataFrame, Long) = {
      val dec = bench match {
        case Some(b) =>
          Decontaminate.decontaminate(
              near.withColumn(textCol, col("clean_text")), b,
              idCol, textCol, decontamN)
            .drop(textCol)
            .transform(StageCut.apply)
        case None => near
      }
      val n = dec.count()
      if (bench.isDefined) {
        ledger.lost(near, dec, "decontam", "bench_overlap")
        StageCut.release(near)
      }
      log(s"$tag $decontamN-gram decontamination: $afterNear -> $n")
      (dec, n)
    }

    /** The release stages: the per-source quota `cap`, then the opt-in
      * per-source and global token budgets, then the shard assignment
      * `shard`, applied in that order to `pool`. The quota frame is cut
      * when a budget follows (the budget decision and the ledger
      * anti-join both re-read it), and so is the per-source result when
      * the global budget follows it. Returns the cut sharded frame and
      * its count; `pool` and every intermediate cut are released. */
    def release(pool: DataFrame, cap: Option[DataFrame => DataFrame],
                bySource: Option[DataFrame => DataFrame],
                budget: Option[DataFrame => DataFrame],
                shard: DataFrame => DataFrame): (DataFrame, Long) = {
      val budgeted = bySource.isDefined || budget.isDefined
      val bothBudgets = bySource.isDefined && budget.isDefined
      val quota0 = cap.fold(pool)(_(pool))
      val quota = if (budgeted) StageCut(quota0) else quota0
      val srcBudgeted0 = bySource.fold(quota)(_(quota))
      val srcBudgeted = if (bothBudgets) StageCut(srcBudgeted0) else srcBudgeted0
      val sharded = StageCut(shard(budget.fold(srcBudgeted)(_(srcBudgeted))))
      val n = sharded.count()
      if (budgeted) {
        ledger.lost(pool, quota, "quota", "source_quota")
        if (bySource.isDefined)
          ledger.lost(quota, srcBudgeted, "budget", "source_token_budget")
        if (budget.isDefined)
          ledger.lost(srcBudgeted, sharded, "budget", "token_budget")
        if (bothBudgets) StageCut.release(srcBudgeted)
        StageCut.release(quota)
      } else ledger.lost(pool, sharded, "quota", "source_quota")
      StageCut.release(pool)
      (sharded, n)
    }
  }
}

/** `pretrain-prep <sfDir> <outDir> [key=value...]` — the crawl-to-
  * shards release CLI: read the `documents` table, run the full
  * [[PretrainPrep.run]] recipe, and write the complete release layout:
  *
  *   - `data/` — the shards via [[graft.io.Publish.writePartitioned]]
  *     (partition-pruned by `shard`, rows clustered by `pos`: the
  *     written files ARE the shuffled epoch),
  *   - `manifest/` — the [[Packing.packSequences]] manifest packing
  *     each shard's documents in shuffled (`pos`) order into fixed
  *     `seqLen` sequences,
  *   - `card/` + `length_hist/` — [[Profile.datasetCard]] (when the
  *     table carries a `lang` column) and [[Profile.lengthHistogram]]
  *     over the released text,
  *   - `policy/` — the [[PolicyConfig]] artifact that produced the
  *     keep decisions ([[FilterPolicy.savePolicy]]),
  *   - `fps/` + `gram_counts/` + `sigs/` — the
  *     [[PretrainPrep.PrepArtifacts]] maintenance tables (plus LSH /
  *     SimHash signatures over the accepted clean text) that the
  *     DAILY `pretrain-prep-incremental` run consumes.
  *
  * Options: `bench=<parquet>` (held-out eval set, enables
  * decontamination), `policy=<parquet>` (stored config artifact),
  * `badwords=a,b,c`, `spanN=4`, `method=minhash:0.8|simhash:<h>`,
  * `decontamN=13`, `embvecs=<parquet>` + `embbench=<parquet>` +
  * `veccol=embedding` + `mincos=0.98` (embedding decontamination),
  * `quota=<k>`, `shards=64`, `seed=0`, `seqLen=2048`, `ledger=on`
  * (adds `ledger/` — the [[PretrainPrep.Tracked]] per-document drop
  * audit). Stage counts land on stderr. */
object PretrainPrepMain {

  private val usage =
    "usage: pretrain-prep <sfDir> <outDir> [bench=parquet] " +
      "[policy=parquet] [badwords=a,b,c] [spanN=4] [spanMinDocs=2] " +
      "[method=minhash:0.8] [decontamN=13] [embvecs=parquet] " +
      "[embbench=parquet] [veccol=embedding] [mincos=0.98] [quota=k] " +
      "[budget=tokens] [budgets=src:tok,src2:tok] [budgetDefault=tok] " +
      "[shards=64] [seed=0] [seqLen=2048] [ledger=on]"
  private val knownKeys = Set("bench", "policy", "badwords", "spanN",
    "spanMinDocs", "method", "decontamN", "embvecs", "embbench",
    "veccol", "mincos", "quota", "budget", "budgets", "budgetDefault",
    "shards", "seed", "seqLen", "ledger")

  /** `src:tokens,src2:tokens` -> per-source budget map (shared by the
    * incremental CLI). Source names must not contain ':' or ','. */
  private[apps] def parseBudgets(s: String): Map[String, Long] =
    s.split(",").filter(_.nonEmpty).map { kv =>
      kv.split(":", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v.toLong
        case _ => throw new IllegalArgumentException(
          s"budgets entries must be source:tokens, got '$kv'")
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.length < 2) throw new IllegalArgumentException(usage)
    val Array(sfDir, outDir, rest @ _*) = args.toSeq.toArray: @unchecked
    val opts = rest.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if knownKeys(k) => k -> v
        case _ => throw new IllegalArgumentException(
          s"unrecognized option '$kv'\n$usage")
      }
    }.toMap
    require(opts.contains("embvecs") == opts.contains("embbench"),
      "embedding decontamination needs BOTH embvecs= and embbench=")
    opts.get("ledger").foreach(v => require(v == "on" || v == "off",
      s"ledger must be 'on' or 'off', got '$v'\n$usage"))
    val wantLedger = opts.get("ledger").contains("on")
    val spark = Mains.session("graft-pretrain-prep")
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val bench = opts.get("bench").map(p => spark.read.parquet(p))
    val config = opts.get("policy")
      .map(p => FilterPolicy.loadPolicy(spark, p))
      .getOrElse(PolicyConfig.Gopher)
    val emb = opts.get("embvecs").map { p =>
      PretrainPrep.EmbDecontam(
        spark.read.parquet(p),
        spark.read.parquet(opts("embbench")),
        opts.getOrElse("veccol", "embedding"),
        opts.get("mincos").map(_.toDouble).getOrElse(0.98))
    }
    val seqLen = opts.get("seqLen").map(_.toInt).getOrElse(2048)
    val method = opts.get("method").map(CurateMain.parseMethod)
      .getOrElse(SimilarityMethod.MinHashLsh(minJaccard = 0.8))
    // the prep pipelines dedup CLEAN TEXT — an embedding or image
    // method would feed a string column to a vector/decoder join and
    // die mid-pipeline; fail at the argument instead
    require(method.isInstanceOf[SimilarityMethod.MinHashLsh] ||
        method.isInstanceOf[SimilarityMethod.SimHash],
      s"method must be a TEXT method (minhash:<j> | simhash:<h>), got $method")
    val tracked = PretrainPrep.runTracked(
      docs, "doc_id", "text", "source",
      bench = bench, config = config,
      badWords = opts.get("badwords")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty),
      spanN = opts.get("spanN").map(_.toInt).getOrElse(4),
      spanMinDocs = opts.get("spanMinDocs").map(_.toInt).getOrElse(2),
      method = method,
      decontamN = opts.get("decontamN").map(_.toInt).getOrElse(13),
      embDecontam = emb,
      quotaPerSource = opts.get("quota").map(_.toInt)
        .getOrElse(Int.MaxValue),
      tokenBudget = opts.get("budget").map(_.toLong)
        .getOrElse(Long.MaxValue),
      sourceBudgets = opts.get("budgets").map(parseBudgets)
        .getOrElse(Map.empty),
      sourceBudgetDefault = opts.get("budgetDefault").map(_.toLong)
        .getOrElse(Long.MaxValue),
      nShards = opts.get("shards").map(_.toInt).getOrElse(64),
      seed = opts.get("seed").map(_.toInt).getOrElse(0),
      keepArtifacts = true, keepLedger = wantLedger)
    val (out, report, arts) = (tracked.out, tracked.report,
      tracked.artifacts.get)
    // ledger/: the per-document drop audit (opt-in)
    tracked.ledger.foreach { l =>
      l.write.mode("overwrite").parquet(s"$outDir/ledger")
      graft.ops.StageCut.release(l)
    }
    // maintenance artifacts for the daily incremental run — off the
    // still-cached scrub-input frame, then release it
    arts.fps.write.mode("overwrite").parquet(s"$outDir/fps")
    arts.gramCounts.write.mode("overwrite").parquet(s"$outDir/gram_counts")
    PretrainPrepIncrementalMain.writeSigs(out, method, s"$outDir/sigs")
    graft.ops.StageCut.release(arts.scrubInput)

    // data/: partition pruning on shard, row groups clustered by pos
    val written = graft.io.Publish.writePartitioned(out, s"$outDir/data",
      Seq("shard"), "pos")
    // chain.meta sidecar (no chain.txt — a full-run root is the
    // pre-manifest single-data/ form): day-1 incremental runs check
    // density from this instead of scanning the corpus
    PretrainPrepIncrementalMain.writeChainMeta(spark,
      Seq(s"$outDir/data" ->
        PretrainPrepIncrementalMain.linkShardStats(out, s"$outDir/data")),
      outDir)
    // manifest/: pack each shard's docs in SHUFFLED (pos) order
    Packing.packSequences(out, "pos", "shard", "n_kept", seqLen)
      .join(out.select(col("shard"), col("pos"), col("doc_id")),
        Seq("shard", "pos"))
      .write.mode("overwrite").parquet(s"$outDir/manifest")
    // card/ + length_hist/ over the RELEASED text
    if (docs.columns.contains("lang")) {
      Profile.datasetCard(
          out.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .withColumnRenamed("clean_text", "text"),
          "source", "lang", "text")
        .write.mode("overwrite").parquet(s"$outDir/card")
    } else System.err.println("[prep] no lang column — card skipped")
    Profile.lengthHistogram(
        out.withColumnRenamed("clean_text", "text"), "text")
      .write.mode("overwrite").parquet(s"$outDir/length_hist")
    FilterPolicy.savePolicy(spark, config, s"$outDir/policy")
    graft.ops.StageCut.release(out)
    println(s"[prep] ${report.input} in -> ${report.afterQuota} docs / " +
      s"$written rows published under $outDir")
    Mains.stop(spark)
  }
}

/** `pretrain-prep-incremental <batchDir> <corpusOutDir> <outDir>
  * [key=value...]` — the DAILY release run as one CLI: read today's
  * batch from `batchDir` (a `documents` table), the standing corpus
  * and its maintenance artifacts from a previous `pretrain-prep` (or
  * `pretrain-prep-incremental`) output directory, run
  * [[PretrainPrep.runIncremental]], and write the same layout the
  * next day's run reads:
  *
  *   - `data/` — the accepted batch rows, shard-partitioned like the
  *     full run's (pos continues each shard's sequence after the
  *     standing corpus),
  *   - `chain.txt` — the standing-corpus CHAIN manifest: one
  *     qualified `data/` directory URI per line, oldest first, ending
  *     in this run's own `data/`. The standing corpus IS the union of
  *     these directories; the next day's run assembles it from this
  *     manifest, so chained daily runs never rewrite the corpus (at
  *     corpus scale a daily rewrite would dwarf the batch work) and
  *     day N+1 sees the FULL corpus for pos continuation, quota
  *     headroom and near-dup, not just day N's batch,
  *   - `accepted/` — the same rows unpartitioned (the frame to union
  *     into the standing corpus table),
  *   - `fps/` + `gram_counts/` — the batch-side [[PretrainPrep
  *     .PrepArtifacts]], already UNIONED with the standing tables
  *     (fps distinct, counts summed per hash) so the directory is the
  *     next run's artifact input as-is,
  *   - `sigs/` — standing ∪ accepted-batch signatures (same union
  *     maintenance; when the standing dir carries no sigs table, the
  *     corpus clean text is signed ONCE here so the chain is
  *     signature-complete from this day forward).
  *
  * Before running, the assembled corpus is integrity-checked: every
  * shard's `pos` sequence must be dense (`count == max(pos) ==
  * count(distinct pos)`), which fails fast on a broken or partial
  * chain. The default `check=on` validates this from the `chain.meta`
  * sidecar (per-link per-shard pos ranges, recorded when each link
  * was written) — O(links) driver arithmetic, no corpus read —
  * scanning only links the sidecar does not cover (pre-metadata
  * roots, once). `check=full` forces the original whole-corpus
  * (shard, pos) scan for data the sidecar cannot vouch for;
  * `check=off` skips validation entirely.
  *
  * Options: `bench=<parquet>`, `policy=<parquet>`, `badwords=a,b,c`,
  * `spanN=4`, `spanMinDocs=2`, `method=minhash:0.8|simhash:<h>`,
  * `decontamN=13`, `quota=<k>`, `shards=64`, `seed=0`,
  * `check=on|off|full`,
  * `ledger=on` (adds `ledger/` — the [[PretrainPrep.Tracked]] drop
  * audit for the batch) — `shards` and `seed` MUST match the run
  * that produced the standing corpus (the epoch is a pure function
  * of them). Stage counts land on stderr.
  *
  * Maintenance verbs: `compact <chainRootDir> <outDir>` folds the
  * chain into one consolidated root (see [[compactChain]]) so the
  * manifest does not grow one parquet root per day forever —
  * per-day drop ledgers consolidate with it, run-tagged; and
  * `why <chainRootDir> <docId>` resolves a document's drop record
  * across every ledger the chain can reach (see [[whyDropped]]). */
object PretrainPrepIncrementalMain {

  private val usage =
    "usage: pretrain-prep-incremental <batchDir> <corpusOutDir> <outDir> " +
      "[bench=parquet] [policy=parquet] [badwords=a,b,c] [spanN=4] " +
      "[spanMinDocs=2] [method=minhash:0.8] [decontamN=13] [quota=k] " +
      "[budget=tokens] [budgets=src:tok,...] [budgetDefault=tok] " +
      "[shards=64] [seed=0] [check=on|off|full] [ledger=on]\n" +
      "   or: pretrain-prep-incremental compact <chainRootDir> <outDir> " +
      "[check=off]\n" +
      "   or: pretrain-prep-incremental gc <chainRootDir> " +
      "<compactedRootDir> [apply]\n" +
      "   or: pretrain-prep-incremental why <chainRootDir> <docId>\n" +
      "check=on (default) trusts the chain.meta sidecar recorded when " +
      "each link was WRITTEN (O(links), no corpus read) plus a per-link " +
      "file-count/byte fingerprint re-listed each run; it detects " +
      "dropped/duplicated/reordered links and out-of-band file changes, " +
      "but NOT an in-place byte edit that preserves sizes — " +
      "check=full re-scans every (shard, pos) for that"
  private val knownKeys = Set("bench", "policy", "badwords", "spanN",
    "spanMinDocs", "method", "decontamN", "quota", "budget", "budgets",
    "budgetDefault", "shards", "seed", "check", "ledger")

  /** Hadoop-FS probe (works on hdfs://, s3a://, file:// alike —
    * `java.io.File` is silently false for every non-local scheme):
    * does `path` exist as a non-empty directory? */
  private[apps] def dirNonEmpty(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.getFileStatus(p).isDirectory && fs.listStatus(p).nonEmpty
  }

  /** The ordered `data/` directories whose union IS the standing
    * corpus rooted at `dir`: the `chain.txt` manifest when present
    * (one qualified URI per line, oldest first), else the single
    * `<dir>/data` of a pre-manifest full run. */
  private[apps] def corpusChain(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/chain.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (fs.exists(p)) {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      } else List(s"$dir/data")
    val missing = dirs.filterNot(dirNonEmpty(spark, _))
    require(missing.isEmpty,
      s"standing-corpus chain under $dir references missing or empty " +
        s"data directories: ${missing.mkString(", ")}")
    dirs
  }

  /** Write the chain manifest for `outDir`: the inherited chain plus
    * this run's own `data/`, each qualified against its filesystem so
    * the lines are scheme-complete URIs. */
  private[apps] def writeChain(spark: SparkSession, dirs: Seq[String],
                               outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val qualified = dirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val p = new org.apache.hadoop.fs.Path(s"$outDir/chain.txt")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write((qualified.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  // ------------- chain.meta: cached per-link density metadata -------------

  /** Per-shard `(rows, minPos, maxPos)` of one chain link. */
  private[apps] type LinkStats = Map[Long, (Long, Long, Long)]

  /** One aggregation over a single link (batch-scale for a daily run's
    * own accepted frame): per-shard (rows, min pos, max pos). The
    * LINK-INTERNAL invariant — every shard slice is a dense CONTIGUOUS
    * pos range (`rows == distinct pos == max-min+1`; full runs write
    * 1..n, daily runs continue each shard's sequence consecutively) —
    * is checked here, so the chain-level check reduces to interval
    * arithmetic over these triples. */
  private[apps] def linkShardStats(link: DataFrame,
                                   context: String): LinkStats =
    link.select(col("shard").cast("long").as("_s"),
        col("pos").cast("long").as("_p"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), countDistinct(col("_p")).as("_d"),
        min(col("_p")).as("_mn"), max(col("_p")).as("_mx"))
      .collect()
      .map { r =>
        val (s, n, d, mn, mx) = (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))
        if (n != d || n != mx - mn + 1) throw new IllegalStateException(
          s"chain link $context shard $s is not a dense contiguous pos " +
            s"range ($n rows, $d distinct pos, span [$mn, $mx]) — the " +
            "link is corrupt or was not written by a prep run")
        s -> (n, mn, mx)
      }.toMap

  /** `chain.meta` — the sidecar that makes the DAILY integrity check
    * O(links) driver arithmetic instead of an O(corpus) (shard, pos)
    * scan: one line per (link, shard),
    * `<qualifiedDataDirURI>\t<shard>\t<rows>\t<minPos>\t<maxPos>`,
    * recorded when the link is WRITTEN (when its density was last
    * actually verified). Reference-analog: lwetl probes target state
    * per copy instead of re-validating the whole target every run
    * (`lwetl/programs/db_copy/main.py:260-268`). Written BEFORE
    * `chain.txt` so the manifest-last crash discipline is unchanged —
    * a root is usable iff `chain.txt` exists; a missing or partial
    * sidecar only costs a one-time fallback scan of the uncovered
    * links. */
  private[apps] val ChainMetaFile = "chain.meta"

  private def chainMetaLines(spark: SparkSession,
                             dir: String): List[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ChainMetaFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Sentinel in the shard slot marking a per-link file fingerprint
    * line: `<dir>\tFP\t<nFiles>\t<totalBytes>`. Never a shard id, so
    * pre-fingerprint sidecars parse unchanged. */
  private[apps] val FpTag = "FP"

  private[apps] def readChainMeta(spark: SparkSession,
                                  dir: String): Map[String, LinkStats] =
    chainMetaLines(spark, dir).flatMap { l =>
      l.split("\t") match {
        case Array(d, FpTag, _, _) => None
        case Array(d, s, n, mn, mx) =>
          Some((d, s.toLong, (n.toLong, mn.toLong, mx.toLong)))
        case _ => throw new IllegalStateException(
          s"$dir/$ChainMetaFile: malformed line '$l' — regenerate the " +
            "sidecar (delete it; the next checked run rebuilds it from " +
            "a one-time scan)")
      }
    }.groupBy(_._1).map { case (d, es) =>
      d -> es.map { case (_, s, st) => s -> st }.toMap
    }

  /** The recorded per-link file fingerprints `(nFiles, totalBytes)` of
    * a sidecar (empty for pre-fingerprint sidecars). */
  private[apps] def readChainFp(spark: SparkSession,
                                dir: String): Map[String, (Long, Long)] =
    chainMetaLines(spark, dir).flatMap { l =>
      l.split("\t") match {
        case Array(d, FpTag, n, b) => Some(d -> (n.toLong, b.toLong))
        case _ => None
      }
    }.toMap

  /** Count + total size of a link's non-hidden data files — ONE
    * filesystem listing, no data read. The cheap out-of-band-mutation
    * tripwire `check=on` re-verifies each run: a file added, removed,
    * truncated or grown since the link was written flips it. (An
    * in-place byte edit that preserves every size is invisible here —
    * that is `check=full`'s job, and the usage string says so.) */
  private[apps] def listFingerprint(spark: SparkSession,
                                    dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val nm = f.getPath.getName
      if (!nm.startsWith("_") && !nm.startsWith(".")) {
        n += 1; bytes += f.getLen
      }
    }
    (n, bytes)
  }

  /** Writes the sidecar. Fingerprints are INHERITED for links that
    * already carry one (`inheritedFp` — recomputing would silently
    * re-vouch a link mutated since it was written) and freshly listed
    * only for links without one (this run's own link, pre-fingerprint
    * roots). */
  private[apps] def writeChainMeta(spark: SparkSession,
                                   meta: Seq[(String, LinkStats)],
                                   outDir: String,
                                   inheritedFp: Map[String, (Long, Long)] =
                                     Map.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val lines = meta.flatMap { case (d, st) =>
      val p = new org.apache.hadoop.fs.Path(d)
      val q = p.getFileSystem(conf).makeQualified(p).toString
      val (fn, fb) = inheritedFp.getOrElse(q, listFingerprint(spark, q))
      st.toSeq.sortBy(_._1).map { case (s, (n, mn, mx)) =>
        s"$q\t$s\t$n\t$mn\t$mx" } :+ s"$q\t$FpTag\t$fn\t$fb"
    }
    val p = new org.apache.hadoop.fs.Path(s"$outDir/$ChainMetaFile")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The chain-level density invariant over per-link metadata: within
    * every shard, the links' [min, max] pos ranges must TILE 1..total
    * — sorted by start, the first range starts at 1 and each next
    * range starts where the previous ended + 1. Equivalent to
    * [[requireDenseEpoch]] for link-wise contiguous chains (which is
    * every chain a prep run writes): a dropped, doubled, or reordered
    * link surfaces as a gap or overlap. Pure driver arithmetic. */
  private[apps] def requireTiling(perLink: Seq[(String, LinkStats)],
                                  context: String): Unit =
    perLink.flatMap { case (d, st) =>
      st.toSeq.map { case (s, (n, mn, mx)) => (s, (mn, mx, d)) }
    }.groupBy(_._1).foreach { case (shard, es) =>
      var expect = 1L
      es.map(_._2).sortBy(_._1).foreach { case (mn, mx, d) =>
        if (mn != expect) throw new IllegalStateException(
          s"standing corpus ($context) is not a dense per-shard epoch: " +
            s"shard $shard expects pos $expect next but link $d covers " +
            s"[$mn, $mx] — chained data directories are inconsistent " +
            "(a dropped, duplicated, or reordered chain link)")
        expect = mx + 1
      }
    }

  /** The default (`check=on`) integrity check: validate the chain from
    * cached `chain.meta` entries — O(links) driver arithmetic, NO data
    * files read — scanning only links the sidecar does not cover (a
    * pre-metadata root; logged, one-time: the returned complete
    * metadata is what the caller writes forward). `check=full` keeps
    * the original whole-corpus [[requireDenseEpoch]] scan for
    * externally-modified data the sidecar cannot vouch for. */
  private[apps] def checkChainCached(spark: SparkSession, rootDir: String,
                                     chain: Seq[String],
                                     context: String): Seq[(String, LinkStats)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val cached = readChainMeta(spark, rootDir)
    // fingerprint tripwire: links the sidecar vouches for must still
    // LIST the same (file count, total bytes) — an out-of-band file
    // add/remove/resize since write time fails here instead of
    // passing on stale metadata (in-place same-size edits need
    // check=full; the usage string says so)
    val fps = readChainFp(spark, rootDir)
    chain.map(qual).distinct.foreach { d =>
      fps.get(d).foreach { case (fn, fb) =>
        val (an, ab) = listFingerprint(spark, d)
        if ((an, ab) != (fn, fb)) throw new IllegalStateException(
          s"chain link $d was modified after it was written: recorded " +
            s"$fn files / $fb bytes, found $an files / $ab bytes — the " +
            "chain.meta sidecar cannot vouch for it; rerun with " +
            "check=full to re-validate the data (or restore the link)")
      }
    }
    // scan each UNCOVERED directory once even if the manifest lists it
    // twice — the tiling check still sees one entry per manifest line
    val scanned = scala.collection.mutable.Map.empty[String, LinkStats]
    val perLink = chain.map(qual).map { d =>
      d -> cached.getOrElse(d, scanned.getOrElseUpdate(d, {
        System.err.println(s"[chain-check] no cached metadata for $d — " +
          "scanning this link once (the refreshed chain.meta makes the " +
          "next run's check O(links))")
        linkShardStats(graft.io.Publish.readPartitioned(spark, d), d)
      }))
    }
    requireTiling(perLink, context)
    if (scanned.isEmpty)
      System.err.println(s"[chain-check] ${perLink.size}-link chain " +
        s"($context) validated from cached metadata — no corpus scan")
    perLink
  }

  // ----------------- ledger lifecycle: consolidation + lookup -----------------

  /** The per-run `ledger/` directories reachable from a chain root, in
    * chain order: every link is some run's `<runDir>/data`, so its
    * sibling `<runDir>/ledger` (present only when that run passed
    * `ledger=on`) is that day's drop audit. A compacted root's
    * consolidated `ledger/` is found the same way — its one link's
    * parent IS the root. */
  private[apps] def ledgerDirs(spark: SparkSession,
                               rootDir: String): Seq[String] =
    corpusChain(spark, rootDir).flatMap { d =>
      val l = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(d).getParent, "ledger").toString
      if (dirNonEmpty(spark, l)) Some(l) else None
    }

  /** The chain's drop ledger as ONE frame: the union of every
    * reachable per-run `ledger/`, each row tagged with a `run` column
    * naming the run directory that dropped it (rows from an
    * already-consolidated ledger keep their original tag). Returns
    * None when no run along the chain kept a ledger. Scale shape:
    * ledgers are batch-sized audit tables and a `doc_id` filter on the
    * union pushes down to every parquet scan — the lookup never reads
    * corpus data. */
  def chainLedger(spark: SparkSession,
                  rootDir: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = ledgerDirs(spark, rootDir)
    if (dirs.isEmpty) None
    else Some(dirs.map { l =>
      val df = spark.read.parquet(l)
      if (df.columns.contains("run")) df
      else {
        val runDir = new org.apache.hadoop.fs.Path(l).getParent
        df.withColumn("run",
          lit(runDir.getFileSystem(conf).makeQualified(runDir).toString))
      }
    }.reduce(_ unionByName _))
  }

  /** "Why was document X dropped?" across the whole chain: every
    * ledger row for `docId` any run along `rootDir`'s chain recorded,
    * with the `run` provenance column. Empty result = accepted, never
    * submitted, or the dropping run had `ledger=off`. */
  def whyDropped(spark: SparkSession, rootDir: String,
                 docId: Long): DataFrame = {
    val l = chainLedger(spark, rootDir).getOrElse(throw
      new IllegalArgumentException(
        s"no ledger/ outputs found along the chain under $rootDir — " +
          "run the prep with ledger=on to record drop audits"))
    l.filter(col("doc_id") === docId)
  }

  /** The sidecar entries that exist for `chain`'s links, in chain
    * order, with NO validation and NO fallback scans — what an
    * unchecked (`check=off`) or scan-checked (`check=full`) run
    * carries forward; uncovered links stay uncovered until a
    * `check=on` run fills them. */
  private[apps] def carriedMeta(spark: SparkSession, rootDir: String,
                                chain: Seq[String]): Seq[(String, LinkStats)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val cached = readChainMeta(spark, rootDir)
    chain.map(qual).flatMap(d => cached.get(d).map(d -> _))
  }

  /** Fail fast on a broken chain: each shard of the assembled corpus
    * must be a dense, collision-free 1..n `pos` sequence — the exact
    * invariant a dropped or doubled chain link violates (day-3 pos
    * would collide with the forgotten older corpus). Costs one
    * two-column corpus scan. */
  private[apps] def requireDenseEpoch(corpus: DataFrame,
                                      context: String): Unit = {
    val bad = corpus.groupBy(col("shard"))
      .agg(count(lit(1)).as("_n"), max(col("pos")).as("_mx"),
        countDistinct(col("pos")).as("_dp"))
      .filter(col("_n") =!= col("_mx") || col("_n") =!= col("_dp"))
      .limit(4).collect()
    if (bad.nonEmpty) throw new IllegalStateException(
      s"standing corpus ($context) is not a dense per-shard epoch — " +
        "chained data directories are inconsistent (shard, rows, " +
        "max pos, distinct pos): " + bad.mkString(", "))
  }

  /** Signature table over an accepted frame's `clean_text` — the near
    * stage's train-once artifact; a cosine/embedding method has no
    * text signature table (nothing written). */
  private[apps] def writeSigs(accepted: DataFrame,
                              method: SimilarityMethod,
                              dir: String): Unit = method match {
    case SimilarityMethod.MinHashLsh(n, b, _) =>
      graft.dedup.Dedup.lshSignatures(
          accepted.select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", "text", n, b)
        .write.mode("overwrite").parquet(dir)
    case _: SimilarityMethod.SimHash =>
      graft.dedup.Dedup.simhashSignatures(
          accepted.select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", "text")
        .write.mode("overwrite").parquet(dir)
    case _ => ()
  }

  private val compactUsage =
    "usage: pretrain-prep-incremental compact <chainRootDir> <outDir> " +
      "[check=off]"

  /** Fold the chain rooted at `rootDir` into ONE consolidated corpus
    * root at `outDir`: the union of the chain's `data/` directories is
    * republished as a single `data/` (same shard/pos values — the
    * epoch is untouched), the standing artifacts (`fps`,
    * `gram_counts`, and `sigs` when present) carry over as-is — they
    * are already CUMULATIVE at the chain head, so this is a rewrite,
    * not a recomputation — and a one-link `chain.txt` is written LAST
    * (the crash-safe manifest-last discipline shared with the daily
    * run and [[graft.streaming.StreamState]] compaction: a crashed
    * compact leaves no manifest, so a partial dir never parses as a
    * valid chain root).
    *
    * Why: `chain.txt` otherwise grows one link per day forever —
    * after a year, every daily run opens 365 parquet roots and
    * [[requireDenseEpoch]] scans the whole chain link by link.
    * Compacting periodically re-roots the chain so both costs are
    * O(one consolidated directory).
    *
    * Ledgers ARE carried: every reachable per-run `ledger/` along the
    * chain is consolidated into `<outDir>/ledger` with a `run`
    * provenance column ([[chainLedger]]), so "why was doc X dropped"
    * ([[whyDropped]]) still resolves after the original run
    * directories are deleted. NOT carried: per-run `accepted/`
    * outputs — corpus state already holds the accepted rows. The
    * source dirs are left untouched by compact itself; the
    * `gc <chainRootDir> <compactedRootDir>` verb ([[gcChain]])
    * verifies coverage + ledger consolidation and deletes them (dry
    * run by default).
    *
    * Returns the consolidated row count. */
  private[apps] def compactChain(spark: SparkSession, rootDir: String,
                                 outDir: String,
                                 check: Boolean = true): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    require(qual(rootDir) != qual(outDir),
      "compact must write to a NEW directory — an in-place compact " +
        "would overwrite chain links while reading them")
    val chain = corpusChain(spark, rootDir)
    require(!chain.map(qual).contains(qual(s"$outDir/data")),
      s"$outDir/data is itself a link of the chain being compacted")
    val corpus = chain.map(d => graft.io.Publish.readPartitioned(spark, d))
      .reduce(_.unionByName(_))
    if (check) requireDenseEpoch(corpus,
      s"${chain.size}-link chain under $rootDir (pre-compact)")
    val written = graft.io.Publish.writePartitioned(
      corpus, s"$outDir/data", Seq("shard"), "pos")
    spark.read.parquet(s"$rootDir/fps")
      .write.mode("overwrite").parquet(s"$outDir/fps")
    spark.read.parquet(s"$rootDir/gram_counts")
      .write.mode("overwrite").parquet(s"$outDir/gram_counts")
    if (dirNonEmpty(spark, s"$rootDir/sigs"))
      spark.read.parquet(s"$rootDir/sigs")
        .write.mode("overwrite").parquet(s"$outDir/sigs")
    // consolidate the chain's drop ledgers (run-tagged) so the audit
    // trail survives deletion of the folded run directories
    chainLedger(spark, rootDir).foreach(
      _.write.mode("overwrite").parquet(s"$outDir/ledger"))
    // fresh chain.meta for the one consolidated link (compact reads
    // the whole corpus anyway — this aggregation is marginal, and it
    // re-grounds the sidecar in actually-scanned data). Under
    // check=off a non-dense epoch cannot be described by the sidecar's
    // contiguous-range format: skip it loudly rather than refuse the
    // unchecked compact.
    try writeChainMeta(spark,
      Seq(s"$outDir/data" -> linkShardStats(
        graft.io.Publish.readPartitioned(spark, s"$outDir/data"),
        s"$outDir/data")), outDir)
    catch {
      case e: IllegalStateException if !check =>
        System.err.println("[prep-compact] consolidated epoch is not " +
          s"dense — chain.meta not written (${e.getMessage}); the next " +
          "checked run will fail as it should")
    }
    writeChain(spark, Seq(s"$outDir/data"), outDir)
    System.err.println(s"[prep-compact] ${chain.size}-link chain under " +
      s"$rootDir -> $written rows consolidated at $outDir")
    written
  }

  private val gcUsage =
    "usage: pretrain-prep-incremental gc <chainRootDir> <compactedRootDir> " +
      "[apply]\n" +
      "Deletes the run directories of the chain under <chainRootDir> once " +
      "a compacted root covers them. DRY-RUN by default (lists what would " +
      "be deleted); pass 'apply' to delete. Refuses loudly when the " +
      "compacted root is unusable (no chain.txt), still references a " +
      "directory slated for deletion, does not cover every shard's rows, " +
      "or lacks the consolidated drop ledger the chain carries."

  /** `gc <chainRootDir> <compactedRootDir> [apply]` — the deletion half
    * of [[compactChain]]'s lifecycle (whose doc used to end at "delete
    * them once the compacted root is in use", a manual step; the
    * reference's sync mode deletes orphans itself rather than printing
    * instructions — `/root/reference/lwetl/programs/db_copy/main.py:362-391`).
    * Returns the run directories slated for (or, with `apply`,
    * actually) deleted — the PARENT of each chain data link, which
    * holds that day's `data/`, `ledger/`, `accepted/` and artifacts.
    *
    * Safety gates, each a loud refusal, all BEFORE any deletion:
    *  1. the compacted root must be usable — `chain.txt` present (the
    *     manifest-last discipline makes this exactly "compact
    *     completed");
    *  2. no link of the compacted root's own chain may live under a
    *     directory slated for deletion (catches gc against an
    *     uncompacted root, the old root itself, or a compact written
    *     inside a run directory);
    *  3. coverage: per shard, the compacted root's dense epoch must
    *     reach at least the old chain's max pos — verified from
    *     chain.meta arithmetic ([[checkChainCached]], which also
    *     re-validates both chains' tiling and fingerprints; O(links),
    *     no corpus read on sidecar-covered roots);
    *  4. every drop ledger along the old chain must already be
    *     consolidated: the compacted root's `ledger/` must hold at
    *     least as many rows per source run as the run's own ledger
    *     (ledgers are batch-scale audit tables — the count is cheap).
    */
  private[apps] def gcChain(spark: SparkSession, rootDir: String,
                            compactedRoot: String,
                            apply: Boolean): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    def under(child: String, dir: String) =
      child == dir || child.startsWith(dir.stripSuffix("/") + "/")
    // 1. usable compacted root
    val manifest = new org.apache.hadoop.fs.Path(s"$compactedRoot/chain.txt")
    require(manifest.getFileSystem(conf).exists(manifest),
      s"refusing gc: $compactedRoot has no chain.txt — the compact did " +
        "not complete (or this is not a corpus root); nothing was deleted")
    val oldChain = corpusChain(spark, rootDir).map(qual).distinct
    val newChain = corpusChain(spark, compactedRoot).map(qual).distinct
    val runDirs = oldChain
      .map(d => new org.apache.hadoop.fs.Path(d).getParent.toString)
      .distinct
    // 2. the compacted root and its links must be outside the blast radius
    (qual(compactedRoot) +: newChain).foreach { nl =>
      runDirs.find(under(nl, _)).foreach { rd =>
        throw new IllegalStateException(
          s"refusing gc: $nl is (under) run directory $rd slated for " +
            s"deletion — the chain under $rootDir is not compacted away " +
            "from it; nothing was deleted")
      }
    }
    // 3. per-shard coverage from sidecar arithmetic (both chains also
    // re-validate tiling + fingerprints here)
    def shardMax(stats: Seq[(String, LinkStats)]): Map[Long, Long] =
      stats.flatMap(_._2.toSeq).groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2._3).max }
    val oldMax = shardMax(checkChainCached(spark, rootDir, oldChain,
      s"gc source $rootDir"))
    val newMax = shardMax(checkChainCached(spark, compactedRoot, newChain,
      s"gc target $compactedRoot"))
    oldMax.foreach { case (s, mx) =>
      val n = newMax.getOrElse(s, 0L)
      require(n >= mx,
        s"refusing gc: compacted root covers shard $s only to pos $n " +
          s"but the chain under $rootDir reaches $mx — wrong compacted " +
          "root, or the chain advanced after the compact; nothing was " +
          "deleted")
    }
    // 4. ledgers consolidated
    val oldLedgerDirs = ledgerDirs(spark, rootDir)
    if (oldLedgerDirs.nonEmpty) {
      require(dirNonEmpty(spark, s"$compactedRoot/ledger"),
        s"refusing gc: the chain under $rootDir carries " +
          s"${oldLedgerDirs.size} drop ledger(s) but $compactedRoot has " +
          "no consolidated ledger/ — rerun compact (ledger consolidation " +
          "landed with it); nothing was deleted")
      val cons = spark.read.parquet(s"$compactedRoot/ledger")
        .groupBy(col("run")).agg(count(lit(1)).as("_n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      oldLedgerDirs.foreach { l =>
        val df = spark.read.parquet(l)
        // per-PROVENANCE counts: an old ledger that is ITSELF a
        // consolidated one (a second-generation compact) carries its
        // ORIGINAL run tags — those, not the old root's directory, are
        // what the new consolidated ledger preserves (chainLedger's
        // keep-original-tags contract); looking the old compacted root
        // up by its parent dir would find 0 rows and refuse forever
        val runDir = new org.apache.hadoop.fs.Path(l).getParent
        val oldCounts: Map[String, Long] =
          if (df.columns.contains("run"))
            df.groupBy(col("run")).agg(count(lit(1)).as("_n"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          else Map(qual(runDir.toString) -> df.count())
        oldCounts.foreach { case (tag, have) =>
          val got = cons.getOrElse(tag, 0L)
          require(got >= have,
            s"refusing gc: run $tag recorded $have ledger rows (under " +
              s"$l) but the consolidated ledger carries $got for it — " +
              "the audit trail would be lost; rerun compact; nothing " +
              "was deleted")
        }
      }
    }
    if (apply) runDirs.foreach { rd =>
      val p = new org.apache.hadoop.fs.Path(rd)
      p.getFileSystem(conf).delete(p, true)
      System.err.println(s"[prep-gc] deleted $rd")
    }
    runDirs
  }

  private def gcMain(args: Array[String]): Unit = {
    require(args.length == 2 ||
      (args.length == 3 && args(2) == "apply"),
      gcUsage)
    val spark = Mains.session("graft-pretrain-prep-gc")
    val apply = args.length == 3
    val dirs = gcChain(spark, args(0), args(1), apply)
    if (!apply) {
      dirs.foreach(d => println(s"[prep-gc] would delete $d"))
      println(s"[prep-gc] dry run — ${dirs.size} run director" +
        s"${if (dirs.size == 1) "y" else "ies"} covered by ${args(1)}; " +
        "pass 'apply' to delete")
    } else
      println(s"[prep-gc] deleted ${dirs.size} run directories covered " +
        s"by ${args(1)}")
    Mains.stop(spark)
  }

  private val whyUsage =
    "usage: pretrain-prep-incremental why <chainRootDir> <docId>"

  /** `why <chainRootDir> <docId>` — print every drop-ledger row for
    * the document across the whole chain (see [[whyDropped]]). */
  private def whyMain(args: Array[String]): Unit = {
    if (args.length != 2) throw new IllegalArgumentException(whyUsage)
    val docId =
      try args(1).toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"docId must be a long, got '${args(1)}'\n$whyUsage")
      }
    val spark = Mains.session("graft-pretrain-prep-why")
    val hits = whyDropped(spark, args(0), docId)
    val names = hits.columns
    val rows = hits.collect()
    if (rows.isEmpty)
      println(s"[prep-why] doc $docId: no drop record along the chain " +
        s"under ${args(0)} (accepted, never submitted, or ledger=off)")
    else rows.foreach { r =>
      println("[prep-why] " + names.zip(r.toSeq)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    Mains.stop(spark)
  }

  private def compactMain(args: Array[String]): Unit = {
    if (args.length < 2) throw new IllegalArgumentException(compactUsage)
    val Array(rootDir, outDir, rest @ _*) = args: @unchecked
    val opts = rest.map { kv =>
      kv.split("=", 2) match {
        case Array("check", v) if v == "on" || v == "off" => "check" -> v
        case _ => throw new IllegalArgumentException(
          s"unrecognized option '$kv'\n$compactUsage")
      }
    }.toMap
    val spark = Mains.session("graft-pretrain-prep-compact")
    compactChain(spark, rootDir, outDir,
      check = !opts.get("check").contains("off"))
    Mains.stop(spark)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("compact")) return compactMain(args.tail)
    if (args.headOption.contains("gc")) return gcMain(args.tail)
    if (args.headOption.contains("why")) return whyMain(args.tail)
    if (args.length < 3) throw new IllegalArgumentException(usage)
    val Array(batchDir, corpusOut, outDir, rest @ _*) =
      args.toSeq.toArray: @unchecked
    val opts = rest.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if knownKeys(k) => k -> v
        case _ => throw new IllegalArgumentException(
          s"unrecognized option '$kv'\n$usage")
      }
    }.toMap
    opts.get("check").foreach(v =>
      require(v == "on" || v == "off" || v == "full",
        s"check must be 'on', 'off' or 'full', got '$v'\n$usage"))
    opts.get("ledger").foreach(v => require(v == "on" || v == "off",
      s"ledger must be 'on' or 'off', got '$v'\n$usage"))
    val spark = Mains.session("graft-pretrain-prep-incremental")
    val batch = graft.Tables.load(spark, batchDir, "documents")
    // the standing corpus is the UNION of the chain's data directories
    // (chain.txt when present, a pre-manifest run's single data/
    // otherwise) — chained daily runs never rewrite corpus text, and
    // day N+1 sees the FULL corpus for pos continuation, quota
    // headroom and near-dup, not just day N's batch
    val chain = corpusChain(spark, corpusOut)
    val corpus = chain.map(d => graft.io.Publish.readPartitioned(spark, d))
      .reduce(_.unionByName(_))
    // integrity check: the default (`on`) validates density from the
    // chain.meta sidecar — O(links) driver arithmetic, scanning only
    // links the sidecar does not cover (pre-metadata roots, one-time);
    // `full` keeps the whole-corpus (shard, pos) scan for data the
    // sidecar cannot vouch for (external modification)
    val checkMode = opts.getOrElse("check", "on")
    val chainCtx = s"${chain.size}-link chain under $corpusOut"
    val inheritedMeta: Seq[(String, LinkStats)] = checkMode match {
      case "on" => checkChainCached(spark, corpusOut, chain, chainCtx)
      case "full" =>
        requireDenseEpoch(corpus, chainCtx)
        carriedMeta(spark, corpusOut, chain)
      case _ => carriedMeta(spark, corpusOut, chain)
    }
    val corpusFps = spark.read.parquet(s"$corpusOut/fps")
    val corpusCounts = spark.read.parquet(s"$corpusOut/gram_counts")
    val method = opts.get("method").map(CurateMain.parseMethod)
      .getOrElse(SimilarityMethod.MinHashLsh(minJaccard = 0.8))
    // the prep pipelines dedup CLEAN TEXT — an embedding or image
    // method would feed a string column to a vector/decoder join and
    // die mid-pipeline; fail at the argument instead
    require(method.isInstanceOf[SimilarityMethod.MinHashLsh] ||
        method.isInstanceOf[SimilarityMethod.SimHash],
      s"method must be a TEXT method (minhash:<j> | simhash:<h>), got $method")
    val corpusSigs =
      if (dirNonEmpty(spark, s"$corpusOut/sigs"))
        Some(spark.read.parquet(s"$corpusOut/sigs"))
      else None
    val bench = opts.get("bench").map(p => spark.read.parquet(p))
    val config = opts.get("policy")
      .map(p => FilterPolicy.loadPolicy(spark, p))
      .getOrElse(PolicyConfig.Gopher)
    val tracked = PretrainPrep.runIncrementalTracked(
      batch, corpus, corpusFps, corpusCounts, "doc_id", "text", "source",
      bench = bench, config = config,
      badWords = opts.get("badwords")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty),
      spanN = opts.get("spanN").map(_.toInt).getOrElse(4),
      spanMinDocs = opts.get("spanMinDocs").map(_.toInt).getOrElse(2),
      method = method, corpusSigs = corpusSigs,
      decontamN = opts.get("decontamN").map(_.toInt).getOrElse(13),
      quotaPerSource = opts.get("quota").map(_.toInt)
        .getOrElse(Int.MaxValue),
      tokenBudget = opts.get("budget").map(_.toLong)
        .getOrElse(Long.MaxValue),
      sourceBudgets = opts.get("budgets")
        .map(PretrainPrepMain.parseBudgets).getOrElse(Map.empty),
      sourceBudgetDefault = opts.get("budgetDefault").map(_.toLong)
        .getOrElse(Long.MaxValue),
      nShards = opts.get("shards").map(_.toInt).getOrElse(64),
      seed = opts.get("seed").map(_.toInt).getOrElse(0),
      keepArtifacts = true,
      keepLedger = opts.get("ledger").contains("on"))
    val (out, report, arts) = (tracked.out, tracked.report,
      tracked.artifacts.get)
    // ledger/: why each batch doc was rejected — the audit a daily
    // run needs against a corpus nobody can eyeball
    tracked.ledger.foreach { l =>
      l.write.mode("overwrite").parquet(s"$outDir/ledger")
      graft.ops.StageCut.release(l)
    }

    val written = graft.io.Publish.writePartitioned(out, s"$outDir/data",
      Seq("shard"), "pos")
    out.write.mode("overwrite").parquet(s"$outDir/accepted")
    // UNION maintenance: the written artifact dirs are the next run's
    // inputs as-is (fps distinct, per-hash counts summed, sigs unioned)
    arts.fps.unionByName(corpusFps.select(col("_fp_text"))).distinct()
      .write.mode("overwrite").parquet(s"$outDir/fps")
    arts.gramCounts.unionByName(corpusCounts)
      .groupBy(col("h")).agg(sum(col("nd")).as("nd"))
      .write.mode("overwrite").parquet(s"$outDir/gram_counts")
    graft.ops.StageCut.release(arts.scrubInput)
    // an ALL-REJECTED day leaves accepted/ with no parquet files
    // (Spark writes none for empty partitions), so the sig re-reads
    // below would die on schema inference — there is nothing new to
    // sign anyway, the standing tables carry forward as-is
    corpusSigs match {
      case Some(sigs) if written == 0 =>
        sigs.write.mode("overwrite").parquet(s"$outDir/sigs")
      case Some(sigs) =>
        // re-read the accepted rows (tiny) so the sig pass does not
        // re-run the pipeline tail, then union with the standing table
        val acc = spark.read.parquet(s"$outDir/accepted")
        val fresh = method match {
          case SimilarityMethod.MinHashLsh(n, b, _) =>
            Some(graft.dedup.Dedup.lshSignatures(
              acc.select(col("doc_id"), col("clean_text").as("text")),
              "doc_id", "text", n, b))
          case _: SimilarityMethod.SimHash =>
            Some(graft.dedup.Dedup.simhashSignatures(
              acc.select(col("doc_id"), col("clean_text").as("text")),
              "doc_id", "text"))
          case _ => None
        }
        fresh.foreach(_.unionByName(sigs)
          .write.mode("overwrite").parquet(s"$outDir/sigs"))
      case None if written == 0 =>
        writeSigs(corpus.select(col("doc_id"), col("clean_text")),
          method, s"$outDir/sigs")
      case None =>
        // first signing on this chain: sign corpus ∪ batch clean text
        // ONCE so the chain is signature-complete from this day on
        // (re-read accepted so the sig pass does not re-run the tail)
        val acc = spark.read.parquet(s"$outDir/accepted")
        writeSigs(
          corpus.select(col("doc_id"), col("clean_text"))
            .unionByName(acc.select(col("doc_id"), col("clean_text"))),
          method, s"$outDir/sigs")
    }
    // chain.meta first (inherited entries + this run's own link — a
    // batch-scale aggregation over the accepted frame), THEN the
    // manifest: the crash discipline is unchanged (a run that died
    // between the two leaves no chain.txt, so the root never parses),
    // and the next day's default check is O(links) off this sidecar
    val ownLink = s"$outDir/data"
    // an ALL-REJECTED day writes no data rows: its data/ holds no
    // parquet, so a chain line for it would fail tomorrow's read
    // (schema inference over _SUCCESS alone). The chain re-roots to
    // the inherited links instead — a zero-acceptance day adds
    // nothing to the corpus, and the artifact unions above are
    // no-ops by value.
    val ownEntry =
      if (written == 0) {
        System.err.println(s"[prep+] zero rows accepted — $ownLink is " +
          "not added to the chain (the inherited links ARE the corpus)")
        Seq.empty
      } else Seq(ownLink -> linkShardStats(out, ownLink))
    if (checkMode == "on")
      // the inherited metadata is complete here, so pos continuation
      // of the link just written is verifiable at WRITE time — a
      // placement bug fails this run, not tomorrow's
      requireTiling(inheritedMeta ++ ownEntry,
        s"$chainCtx + $ownLink (post-write)")
    writeChainMeta(spark, inheritedMeta ++ ownEntry, outDir,
      inheritedFp = readChainFp(spark, corpusOut))
    writeChain(spark, chain ++ ownEntry.map(_._1), outDir)
    graft.ops.StageCut.release(out)
    println(s"[prep+] ${report.input} in -> ${report.afterQuota} accepted / " +
      s"$written rows published under $outDir")
    Mains.stop(spark)
  }
}
