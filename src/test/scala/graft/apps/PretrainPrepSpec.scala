package graft.apps

import graft.SparkSpec
import graft.dedup.{SimilarJoin, SimilarityMethod}
import graft.text.{C4Clean, Decontaminate, FilterPolicy, SpanDedup, TextOps}
import org.apache.spark.sql.functions._

/** PretrainPrep — the full crawl-to-shards recipe: run() must equal
  * the hand-composed operator chain stage by stage (same frames, same
  * order), every dedup stage must actually DROP rows on the gate
  * fixture (the q126 vacuity lesson), and the CLI must write the
  * complete release layout. The q128 gate pins the composition
  * against DuckDB at sf0.01/sf0.1. */
class PretrainPrepSpec extends SparkSpec {
  import spark.implicits._

  private val benchPred = col("doc_id") % 2 === 1 && col("doc_id") % 7 === 0

  /** The q128 gate fixture: the non-bench corpus augmented with
    * deterministic exact copies (%10==2, +100000) and near copies
    * (%10==4, +200000, 6-word tail) so exact AND near dedup have work
    * at every SF (the q24 manufactured-collision discipline). */
  private def gateCorpus(docs: org.apache.spark.sql.DataFrame) = {
    val base = docs.filter(!benchPred)
      .select(col("doc_id"), col("source"), col("text"))
    base
      .unionByName(base.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 100000).as("doc_id"), col("source"),
          col("text")))
      .unionByName(base.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 200000).as("doc_id"), col("source"),
          concat(col("text"),
            lit(" tail marker alpha beta gamma delta")).as("text")))
  }

  private def gateRun() = {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val logs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, report) = PretrainPrep.run(
      gateCorpus(docs), "doc_id", "text", "source",
      bench = Some(docs.filter(benchPred)),
      badWords = Seq("dup"), spanN = 4, spanMinDocs = 3,
      method = SimilarityMethod.MinHashLsh(minJaccard = 0.6),
      decontamN = 5, quotaPerSource = 15, nShards = 4, seed = 7,
      log = logs += _)
    (docs, out, report, logs.toSeq)
  }

  test("run() == the hand-composed operator chain, stage by stage") {
    val (docs, out, report, logs) = gateRun()
    val corpus = gateCorpus(docs)
    val bench = docs.filter(benchPred)

    // hand-composed chain, each stage the already-gated operator
    val pol = FilterPolicy(corpus, "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"))
    val kept = corpus.join(pol, Seq("doc_id"), "left_semi")
    val noBad = C4Clean.dropBadWordDocs(kept, "text", Seq("dup"))
    val winners = noBad
      .select(TextOps.fingerprint(col("text")).as("_f"), col("doc_id"))
      .groupBy(col("_f")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = noBad.join(winners, Seq("doc_id"), "left_semi")
    val scrubbed = SpanDedup
      .removeDuplicatedSpans(exact, "doc_id", "text", 4, minDocs = 3)
      .join(exact.select(col("doc_id"), col("source")), Seq("doc_id"))
    val clusters = SimilarJoin.similarClusters(
      scrubbed.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", SimilarityMethod.MinHashLsh(minJaccard = 0.6))
    val near = scrubbed.join(
      clusters.filter(col("cluster") =!= col("id"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val dec = Decontaminate.decontaminate(
        near.withColumn("text", col("clean_text")), bench,
        "doc_id", "text", 5)
      .drop("text")
    val quota = graft.ops.Sampling.capPerGroup(dec, Seq("source"),
      Seq(("n_kept", false), ("doc_id", true)), 15).drop("rn")
    val expected = graft.ops.Sampling.shuffleShards(quota, "doc_id", 4, 7)
      .select(col("doc_id"), col("source"), col("n_kept"),
        col("shard"), col("pos"))
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq

    val got = out
      .select(col("doc_id"), col("source"), col("n_kept"),
        col("shard"), col("pos"))
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == expected)

    // stage counts are the hand chain's counts
    assert(report.afterPolicy == kept.count())
    assert(report.afterBadWords == noBad.count())
    assert(report.afterExact == exact.count())
    assert(report.afterSpanScrub == scrubbed.count())
    assert(report.afterNear == near.count())
    assert(report.afterDecontam == dec.count())
    assert(report.afterEmbDecontam == report.afterDecontam)
    assert(report.afterQuota == got.size.toLong)
    info(s"stage counts: $report")
    assert(logs.size == 8, s"one log line per stage pair: $logs")
    out.unpersist()
  }

  test("survivorship: rows survive to the end AND every dropping " +
      "stage drops on the gate fixture (the q126 vacuity lesson)") {
    val (docs, out, r, _) = gateRun()
    assert(r.afterQuota > 0, s"pipeline emptied: $r")
    assert(r.afterPolicy < r.input, s"policy dropped nothing: $r")
    assert(r.afterBadWords < r.afterPolicy, s"bad-words dropped nothing: $r")
    assert(r.afterExact < r.afterBadWords, s"exact dropped nothing: $r")
    assert(r.afterNear < r.afterSpanScrub, s"near dropped nothing: $r")
    assert(r.afterDecontam < r.afterNear, s"decontam dropped nothing: $r")
    assert(r.afterQuota < r.afterDecontam, s"quota dropped nothing: $r")
    // the span scrub's bite is text REMOVAL, not document drops: some
    // survivor must have lost tokens (the near copies lose their tail)
    val trimmed = out
      .join(gateCorpus(docs).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("_nt")), Seq("doc_id"))
      .filter(col("n_kept") < col("_nt")).count()
    assert(trimmed > 0, "span scrub removed no spans from any survivor")
    out.unpersist()
  }

  test("countInput=false skips exactly the one input-scan job on a " +
      "transformed input, with an otherwise identical run") {
    // a TRANSFORMED input: its count() is a real scan, not a parquet
    // row-group metadata read — the scan the knob exists to skip
    val docs = graft.Tables.load(spark, sf(), "documents")
      .filter(col("doc_id") % 3 =!= 1)
      .select(col("doc_id"), col("source"), col("text"))
    def jobs[T](body: => T): (Long, T) = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = body
        // drain the async listener bus before reading the counter
        var last = -1L; var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val b = n.get
          if (b == last) stable += 1 else { stable = 0; last = b }
        }
        (n.get, r)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    def run(ci: Boolean) = {
      val (out, r) = PretrainPrep.run(docs, "doc_id", "text", "source",
        badWords = Seq("dup"), spanN = 4, spanMinDocs = 3,
        method = SimilarityMethod.MinHashLsh(minJaccard = 0.6),
        quotaPerSource = 15, nShards = 4, seed = 7,
        countInput = ci, log = _ => ())
      val rows = out.select(col("doc_id"), col("shard"), col("pos"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      graft.ops.StageCut.release(out)
      (r, rows)
    }
    run(ci = true) // warm-up: file listing, codegen, broadcast thresholds
    // what the skipped scan costs, measured the same way (AQE may split
    // one count() into several jobs — calibrate instead of assuming 1)
    val (countJobs, _) = jobs(docs.count())
    val (jobsOn, (rOn, rowsOn)) = jobs(run(ci = true))
    val (jobsOff, (rOff, rowsOff)) = jobs(run(ci = false))
    assert(rowsOff == rowsOn, "countInput must not change results")
    assert(rOff == rOn.copy(input = -1L), s"only input differs: $rOn vs $rOff")
    assert(countJobs >= 1, "the transformed-input count must be a real job")
    assert(jobsOff == jobsOn - countJobs,
      s"countInput=false must skip exactly the input-count scan " +
        s"($countJobs jobs; true: $jobsOn, false: $jobsOff)")
  }

  // ---- runIncremental: the daily A-vs-B release run ----

  /** Policy-passing filler: `n` tokens, unique to `tag` (every 4-gram
    * window contains a tagged word — no unintended cross-doc grams),
    * a stopword every 4th token (>= 2 for n >= 8), mean word len ~4.5. */
  private def filler(tag: String, n: Int): String = {
    val stops = Seq("the", "and", "of", "is", "on", "to", "in", "for",
      "an", "a")
    (1 to n).map(i =>
      if (i % 4 == 0) stops((i / 4 - 1) % stops.size) else s"${tag}x$i")
      .mkString(" ")
  }

  /** The shared boilerplate phrase (8 tokens = five 4-grams): present
    * in THREE corpus docs, so the corpus run scrubs it (minDocs=3) and
    * the stored gram counts carry nd=3 — a batch doc containing it is
    * trimmed identically by the incremental counts path and a full-run
    * replay (the scrub-stability precondition). */
  private val P = "crimson harbor lantern glows beyond the midnight quay"
  private val benchGram = "zeta omega theta sigma lambda"

  private def incFixture() = {
    val corpusDocs = Seq(
      (1L, "w1", filler("c1", 16) + " " + P + " " + filler("c1b", 16)),
      (2L, "w1", filler("c2", 16) + " " + P + " " + filler("c2b", 16)),
      (3L, "w1", filler("c3", 16) + " " + P + " " + filler("c3b", 16)),
      (4L, "w1", filler("c4", 32)),
      (5L, "w2", filler("c5", 32))).toDF("doc_id", "source", "text")
    val t101 = filler("n1", 32)
    val t107 = filler("n7", 16) + " " + P + " " + filler("n7b", 16)
    val batch = Seq(
      (101L, "w1", t101),                         // novel -> accepted
      (102L, "w1", filler("n2", 8)),              // < 30 tokens -> policy
      (103L, "w1", filler("n3", 31) + " dup"),    // bad word -> badwords
      (104L, "w1", t101),                         // = 101 -> batch exact
      (105L, "w1", filler("c4", 32)),             // = corpus 4 -> fps exact
      (106L, "w1", filler("c5", 32) + " " + filler("t6", 4)), // ~ corpus 5 -> near
      (107L, "w1", t107),                         // P trimmed -> accepted
      (108L, "w1", t107 + " " + filler("t8", 4)), // ~ 107 -> batch near
      (109L, "w1", filler("n9", 27) + " " + benchGram)) // -> decontam
      .toDF("doc_id", "source", "text")
    val bench = Seq((900L, benchGram + " " + filler("bb", 16)))
      .toDF("doc_id", "text")
    (corpusDocs, batch, bench)
  }

  private val incMethod = SimilarityMethod.MinHashLsh(minJaccard = 0.6)

  private def corpusRun(corpusDocs: org.apache.spark.sql.DataFrame,
                        bench: org.apache.spark.sql.DataFrame) =
    PretrainPrep.runWithArtifacts(corpusDocs, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      nShards = 4, seed = 7, log = _ => ())

  test("runIncremental == the batch slice of a full run over the union " +
      "(the q70 equivalence discipline), with every stage dropping") {
    val (corpusDocs, batch, bench) = incFixture()
    val (corpus, corpusReport, arts) = corpusRun(corpusDocs, bench)
    assert(corpusReport.afterQuota == 5, s"corpus run: $corpusReport")

    val logs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (inc, r) = PretrainPrep.runIncremental(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      nShards = 4, seed = 7, log = logs += _)

    // every incremental stage drops on this fixture
    assert(r == PretrainPrep.IncReport(9, 8, 7, 5, 5, 3, 2, 2), s"$r")
    assert(logs.size == 7, s"one log line per stage pair: $logs")
    // the span stage's bite is token REMOVAL: 107 lost P's 8 tokens
    // plus the preceding stopword (all four P-hosting docs end their
    // leading filler with the same 16th-position stopword, so the
    // boundary gram "<stop> crimson harbor lantern" is duplicated too)
    val kept107 = inc.filter(col("doc_id") === 107).select("n_kept")
      .as[Long].head()
    assert(kept107 == 31L, s"107 must be trimmed 40 -> 31, got $kept107")

    // equivalence: the full run over corpus ∪ batch, batch slice
    val (full, _) = PretrainPrep.run(
      corpusDocs.unionByName(batch), "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      nShards = 4, seed = 7, log = _ => ())
    def slice(df: org.apache.spark.sql.DataFrame,
              pred: org.apache.spark.sql.Column) = df
      .filter(pred)
      .select(col("doc_id"), col("source"), col("clean_text"),
        col("n_kept"), col("shard").cast("long"))
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(slice(inc, lit(true)) == slice(full, col("doc_id") > 100),
      "incremental != full-run batch slice")
    // corpus invariance: the full run keeps exactly the standing corpus
    assert(slice(full, col("doc_id") <= 100) == slice(corpus, lit(true)))

    // the pos contract: corpus ∪ accepted is a DENSE per-shard epoch
    val union = corpus
      .select(col("shard").cast("long"), col("pos").cast("long"))
      .unionByName(inc
        .select(col("shard").cast("long"), col("pos").cast("long")))
      .as[(Long, Long)].collect().groupBy(_._1)
    union.foreach { case (shard, rows) =>
      val ps = rows.map(_._2).sorted.toSeq
      assert(ps == (1L to ps.size).toSeq,
        s"shard $shard positions not dense: $ps")
    }

    // the train-once path: stored corpus signatures change nothing
    val sigs = graft.dedup.Dedup.lshSignatures(
      corpus.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", nGram = 3, bands = 4)
    val (incS, rS) = PretrainPrep.runIncremental(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, corpusSigs = Some(sigs),
      decontamN = 5, nShards = 4, seed = 7, log = _ => ())
    assert(rS == r)
    assert(slice(incS, lit(true)) == slice(inc, lit(true)))

    graft.ops.StageCut.release(arts.scrubInput)
    graft.ops.StageCut.release(incS)
    graft.ops.StageCut.release(full)
    graft.ops.StageCut.release(inc)
    graft.ops.StageCut.release(corpus)
  }

  // The daily run with keepArtifacts = true (formerly runIncrementalWithArtifacts).
  test("runIncrementalWithArtifacts emits union-ready maintenance tables") {
    val (corpusDocs, batch, bench) = incFixture()
    val (corpus, _, arts) = corpusRun(corpusDocs, bench)
    val tracked = PretrainPrep.runIncrementalTracked(
      batch, corpus, arts.fps, arts.gramCounts, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      nShards = 4, seed = 7, keepArtifacts = true, log = _ => ())
    val (inc, bArts) = (tracked.out, tracked.artifacts.get)
    // batch scrub input = {101, 106, 107, 108, 109}
    assert(bArts.fps.count() == 5)
    // union maintenance: summed counts == gramDocCounts over the union
    // of both scrub inputs (P's hash: 3 corpus + 2 batch docs)
    val merged = bArts.gramCounts.unionByName(arts.gramCounts)
      .groupBy(col("h")).agg(sum(col("nd")).as("nd"))
    val pHash = spark.sql(
      s"SELECT md5('${P.split(" ").take(4).mkString(" ")}')")
      .as[String].head()
    assert(merged.filter(col("h") === pHash).select("nd").as[Long].head()
      == 5L)
    val replay = graft.text.SpanDedup.gramDocCounts(
      bArts.scrubInput.select(col("doc_id"), col("text"))
        .unionByName(arts.scrubInput.select(col("doc_id"), col("text"))),
      "doc_id", "text", 4)
    val diff = merged.unionByName(replay).groupBy("h", "nd")
      .count().filter(col("count") =!= 2).count()
    assert(diff == 0, "merged counts != union replay")
    graft.ops.StageCut.release(bArts.scrubInput)
    graft.ops.StageCut.release(arts.scrubInput)
    graft.ops.StageCut.release(inc)
    graft.ops.StageCut.release(corpus)
  }

  test("incremental quota is HEADROOM fill: corpus counts consume the " +
      "per-source budget and are never evicted") {
    val (corpusDocs, batch, bench) = incFixture()
    val (corpus, _, arts) = corpusRun(corpusDocs, bench)
    // corpus accepted: w1 x4, w2 x1. quota=5 -> headroom w1=1, w2=4.
    // batch candidates after decontam: 101 (w1, n_kept 32) and 107
    // (w1, trimmed to 31) — richer 101 fills the single w1 slot.
    val (inc, r) = PretrainPrep.runIncremental(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      quotaPerSource = 5, nShards = 4, seed = 7, log = _ => ())
    assert(r.afterDecontam == 2 && r.afterQuota == 1, s"$r")
    assert(inc.select("doc_id").as[Long].collect().toSeq == Seq(101L))
    graft.ops.StageCut.release(arts.scrubInput)
    graft.ops.StageCut.release(inc)
    graft.ops.StageCut.release(corpus)
  }

  test("drop ledger (full run): per-stage rows reconcile exactly with " +
      "the report deltas, ids partition the input, winners are real") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val corpus = gateCorpus(docs)
    val t = PretrainPrep.runTracked(corpus, "doc_id", "text", "source",
      bench = Some(docs.filter(benchPred)), badWords = Seq("dup"),
      spanN = 4, spanMinDocs = 3,
      method = SimilarityMethod.MinHashLsh(minJaccard = 0.6),
      decontamN = 5, quotaPerSource = 15, nShards = 4, seed = 7,
      keepLedger = true, log = _ => ())
    val (r, led) = (t.report, t.ledger.get)
    def n(st: String) = led.filter(col("stage") === st).count()
    // per-stage reconciliation against the survivor-count deltas
    assert(n("policy") == r.input - r.afterPolicy)
    assert(n("bad_words") == r.afterPolicy - r.afterBadWords)
    assert(n("exact") == r.afterBadWords - r.afterExact)
    assert(n("span_scrub") == r.afterExact - r.afterSpanScrub)
    assert(n("near") == r.afterSpanScrub - r.afterNear)
    assert(n("decontam") == r.afterNear - r.afterDecontam)
    assert(n("quota") == r.afterEmbDecontam - r.afterQuota)
    // the ledger and the output PARTITION the input: one row per
    // dropped doc, none for survivors, nothing uncovered
    assert(led.count() == r.input - r.afterQuota)
    assert(led.select("doc_id").distinct().count() == led.count())
    assert(led.join(t.out, Seq("doc_id"), "left_semi").count() == 0)
    val covered = led.select("doc_id").unionByName(t.out.select("doc_id"))
    assert(covered.count() == r.input &&
      covered.exceptAll(corpus.select("doc_id")).count() == 0)
    // winners: the manufactured exact family names its original; near
    // reps are the component min id (always below the dropped id)
    val ex = led.filter(col("stage") === "exact")
    assert(ex.count() > 0 && ex.filter(col("winner_id").isNull).count() == 0)
    assert(ex.filter(col("doc_id") > 100000 && col("doc_id") < 200000)
      .filter(col("winner_id") =!= col("doc_id") - 100000).count() == 0)
    val nr = led.filter(col("stage") === "near")
    assert(nr.count() > 0 && nr.filter(col("winner_id").isNull ||
      col("winner_id") >= col("doc_id")).count() == 0)
    // policy reasons come from FilterPolicy's verdict vocabulary
    assert(led.filter(col("stage") === "policy").filter(!col("reason")
      .isin("n_tokens", "word_len", "stopwords", "repetition"))
      .count() == 0)
    graft.ops.StageCut.release(led)
    graft.ops.StageCut.release(t.out)
  }

  test("drop ledger (incremental): every reject attributed, corpus-" +
      "caused drops distinguished, quota rejects appear when capped") {
    val (corpusDocs, batch, bench) = incFixture()
    val (corpus, _, arts) = corpusRun(corpusDocs, bench)
    val t = PretrainPrep.runIncrementalTracked(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      nShards = 4, seed = 7, keepLedger = true, log = _ => ())
    val rows = t.ledger.get
      .select(col("doc_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (102L, "policy", "n_tokens", None),
      (103L, "bad_words", "bad_word", None),
      (104L, "exact", "duplicate_text", Some(101L)),
      (105L, "exact", "duplicate_of_corpus", None),
      (106L, "near", "near_duplicate_of_corpus", Some(5L)),
      (108L, "near", "near_duplicate", Some(107L)),
      (109L, "decontam", "bench_overlap", None)), s"ledger: $rows")
    graft.ops.StageCut.release(t.ledger.get)
    graft.ops.StageCut.release(t.out)
    // capped: 107 loses the one w1 headroom slot to richer 101
    val t2 = PretrainPrep.runIncrementalTracked(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      bench = Some(bench), badWords = Seq("dup"), spanN = 4,
      spanMinDocs = 3, method = incMethod, decontamN = 5,
      quotaPerSource = 5, nShards = 4, seed = 7, keepLedger = true,
      log = _ => ())
    assert(t2.ledger.get.filter(col("stage") === "quota")
      .select(col("doc_id"), col("reason"))
      .as[(Long, String)].collect().toSeq == Seq((107L, "source_quota")))
    assert(t2.ledger.get.count() == 8)
    graft.ops.StageCut.release(t2.ledger.get)
    graft.ops.StageCut.release(t2.out)
    graft.ops.StageCut.release(arts.scrubInput)
    graft.ops.StageCut.release(corpus)
  }

  test("CLI writes the full release layout (data, manifest, card, " +
      "length_hist, policy)") {
    val dir = java.nio.file.Files.createTempDirectory("prep").toString
    Mains.keepSessionForTests = true
    try PretrainPrepMain.main(Array(sf(), dir,
      "badwords=dup", "spanN=4", "method=minhash:0.6", "decontamN=5",
      "quota=15", "shards=4", "seed=7", "seqLen=64", "ledger=on"))
    finally Mains.keepSessionForTests = false
    val data = graft.io.Publish.readPartitioned(spark, s"$dir/data")
    assert(data.count() > 0)
    // partition pruning layout: shard directories exist
    val shardDirs = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.startsWith("shard=")).toSeq
    assert(shardDirs.nonEmpty, s"no shard partitions under $dir/data")
    // manifest packs exactly the released token counts
    val manifest = spark.read.parquet(s"$dir/manifest")
    assert(manifest.agg(sum("n_in_seq")).as[Long].head() ==
      data.agg(sum("n_kept")).as[Long].head())
    // every sequence holds at most seqLen tokens
    assert(manifest.groupBy("shard", "seq").agg(sum("n_in_seq").as("n"))
      .filter(col("n") > 64).count() == 0)
    val card = spark.read.parquet(s"$dir/card")
    assert(card.count() > 0 && card.columns.contains("token_share"))
    assert(spark.read.parquet(s"$dir/length_hist").count() > 0)
    assert(FilterPolicy.loadPolicy(spark, s"$dir/policy") ==
      graft.text.PolicyConfig.Gopher)
    // ...including the incremental run's artifact inputs
    assert(spark.read.parquet(s"$dir/fps").columns.toSeq == Seq("_fp_text"))
    assert(spark.read.parquet(s"$dir/gram_counts").columns.sorted.toSeq ==
      Seq("h", "nd"))
    assert(spark.read.parquet(s"$dir/sigs").count() > 0)
    // ...and the opted-in drop ledger, disjoint from the released ids
    val ledger = spark.read.parquet(s"$dir/ledger")
    assert(ledger.columns.toSeq ==
      Seq("doc_id", "stage", "reason", "winner_id"))
    assert(ledger.count() > 0 &&
      ledger.join(data, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("incremental CLI chains off a full-run output dir and re-emits " +
      "the next day's artifact layout") {
    val (corpusDocs, batch, bench) = incFixture()
    val day0 = java.nio.file.Files.createTempDirectory("prep0").toString
    val day1 = java.nio.file.Files.createTempDirectory("prep1").toString
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    val batchDir = java.nio.file.Files.createTempDirectory("batch").toString
    // lay out a documents table for each CLI input
    val corpusIn = java.nio.file.Files.createTempDirectory("cin").toString
    corpusDocs.withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$corpusIn/documents.parquet")
    batch.withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
    bench.write.mode("overwrite").parquet(benchDir)
    Mains.keepSessionForTests = true
    try {
      PretrainPrepMain.main(Array(corpusIn, day0, s"bench=$benchDir",
        "badwords=dup", "spanN=4", "spanMinDocs=3", "method=minhash:0.6",
        "decontamN=5", "shards=4", "seed=7", "seqLen=64"))
      PretrainPrepIncrementalMain.main(Array(batchDir, day0, day1,
        s"bench=$benchDir", "badwords=dup", "spanN=4", "spanMinDocs=3",
        "method=minhash:0.6", "decontamN=5", "shards=4", "seed=7"))
    } finally Mains.keepSessionForTests = false
    // accepted matches the library run (101 novel + 107 trimmed)
    val accepted = spark.read.parquet(s"$day1/accepted")
    assert(accepted.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(101L, 107L))
    // shard-partitioned data dir unions with day0's for the epoch
    val d0 = graft.io.Publish.readPartitioned(spark, s"$day0/data")
    val d1 = graft.io.Publish.readPartitioned(spark, s"$day1/data")
    assert(d1.count() == 2 && d0.count() == 5)
    d0.select(col("shard").cast("long"), col("pos").cast("long"))
      .unionByName(d1.select(col("shard").cast("long"),
        col("pos").cast("long")))
      .as[(Long, Long)].collect().groupBy(_._1).foreach { case (s, rows) =>
        val ps = rows.map(_._2).sorted.toSeq
        assert(ps == (1L to ps.size).toSeq, s"shard $s not dense: $ps")
      }
    // day1 artifacts are the UNION tables — the next run's inputs as-is
    val fps0 = spark.read.parquet(s"$day0/fps")
    val fps1 = spark.read.parquet(s"$day1/fps")
    assert(fps1.count() == fps0.count() + 5) // 5 batch scrub-input docs
    val c0 = spark.read.parquet(s"$day0/gram_counts")
    val c1 = spark.read.parquet(s"$day1/gram_counts")
    val pHash = spark.sql(
      s"SELECT md5('${P.split(" ").take(4).mkString(" ")}')")
      .as[String].head()
    assert(c0.filter(col("h") === pHash).select("nd").as[Long].head() == 3L)
    assert(c1.filter(col("h") === pHash).select("nd").as[Long].head() == 5L)
    val sigs1 = spark.read.parquet(s"$day1/sigs")
    assert(sigs1.select("id").distinct().count() == 7) // 5 + 2 accepted
  }

  // ---- the CHAIN manifest: day-3 chained daily runs ----

  private def writeDocsDir(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    df.withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val chainArgs = Seq("badwords=dup", "spanN=4", "spanMinDocs=3",
    "method=minhash:0.6", "decontamN=5", "shards=4", "seed=7")

  /** Day-2 batch: exercises the chain against BOTH prior days —
    * 202 exact-copies a day-1 accepted doc (fps union), 203
    * near-duplicates a DAY-0 corpus doc (sigs union), 204 fails
    * policy, 201 is the one acceptance. */
  private def chainBatch2(corpusDocs: org.apache.spark.sql.DataFrame,
                          batch1: org.apache.spark.sql.DataFrame) = {
    val t101 = batch1.filter(col("doc_id") === 101)
      .select("text").as[String].head()
    val c4 = corpusDocs.filter(col("doc_id") === 4)
      .select("text").as[String].head()
    Seq(
      (201L, "w1", filler("m1", 32)),           // novel -> accepted
      (202L, "w1", t101),                       // = day-1 accepted -> exact
      (203L, "w1", c4 + " " + filler("m3", 4)), // ~ DAY-0 corpus -> near
      (204L, "w1", filler("m4", 8)))            // < 30 tokens -> policy
      .toDF("doc_id", "source", "text")
  }

  /** Day-0 full + day-1/day-2 incremental CLI runs, built ONCE and
    * shared by the chain tests below. */
  private lazy val chained = {
    val (corpusDocs, batch1, bench) = incFixture()
    val batch2 = chainBatch2(corpusDocs, batch1)
    val day0 = java.nio.file.Files.createTempDirectory("chain0").toString
    val day1 = java.nio.file.Files.createTempDirectory("chain1").toString
    val day2 = java.nio.file.Files.createTempDirectory("chain2").toString
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    bench.write.mode("overwrite").parquet(benchDir)
    val (cin, b1, b2) =
      (writeDocsDir(corpusDocs), writeDocsDir(batch1), writeDocsDir(batch2))
    Mains.keepSessionForTests = true
    try {
      PretrainPrepMain.main((Seq(cin, day0, s"bench=$benchDir",
        "ledger=on") ++ chainArgs :+ "seqLen=64").toArray)
      PretrainPrepIncrementalMain.main((Seq(b1, day0, day1,
        s"bench=$benchDir", "ledger=on") ++ chainArgs).toArray)
      PretrainPrepIncrementalMain.main((Seq(b2, day1, day2,
        s"bench=$benchDir", "ledger=on") ++ chainArgs).toArray)
    } finally Mains.keepSessionForTests = false
    (day0, day1, day2, corpusDocs, batch1, batch2, bench)
  }

  test("day-3 chain: manifests accumulate oldest-first and the next " +
      "run assembles the corpus from the chain union") {
    val (day0, day1, day2, _, _, _, _) = chained
    def lines(dir: String) = scala.io.Source.fromFile(s"$dir/chain.txt")
      .getLines().filter(_.nonEmpty).toList
    // day-0 (full run) predates the manifest; corpusChain falls back
    assert(!new java.io.File(s"$day0/chain.txt").exists())
    assert(PretrainPrepIncrementalMain.corpusChain(spark, day0) ==
      List(s"$day0/data"))
    // day-1/day-2 manifests: inherited chain + own data/, qualified
    assert(lines(day1).map(d => new java.io.File(new java.net.URI(d))
      .toString) == List(s"$day0/data", s"$day1/data"))
    assert(PretrainPrepIncrementalMain.corpusChain(spark, day2)
      .map(d => new java.io.File(new java.net.URI(d)).toString) ==
      List(s"$day0/data", s"$day1/data", s"$day2/data"))
    // day-2 dropped the day-1 exact copy AND the day-0 near copy
    val acc2 = spark.read.parquet(s"$day2/accepted")
    assert(acc2.select("doc_id").as[Long].collect().toSeq == Seq(201L))
  }

  test("day-3 chain: corpus ∪ day1 ∪ day2 is a dense per-shard epoch " +
      "(pos continues across the WHOLE chain, not just the last batch)") {
    val (day0, day1, day2, _, _, _, _) = chained
    val union = Seq(day0, day1, day2)
      .map(d => graft.io.Publish.readPartitioned(spark, s"$d/data")
        .select(col("shard").cast("long"), col("pos").cast("long")))
      .reduce(_ unionByName _)
    union.as[(Long, Long)].collect().groupBy(_._1).foreach {
      case (shard, rows) =>
        val ps = rows.map(_._2).sorted.toSeq
        assert(ps == (1L to ps.size).toSeq, s"shard $shard not dense: $ps")
    }
    // and the shipped integrity check agrees
    PretrainPrepIncrementalMain.requireDenseEpoch(
      Seq(day0, day1, day2).map(d =>
        graft.io.Publish.readPartitioned(spark, s"$d/data"))
        .reduce(_ unionByName _), "3-link spec chain")
  }

  test("day-3 chain: day-2 acceptance == the batch slice of ONE full " +
      "run over corpus ∪ batch1 ∪ batch2, and day-1 stays invariant") {
    val (_, day1, day2, corpusDocs, batch1, batch2, bench) = chained
    val (full, _) = PretrainPrep.run(
      corpusDocs.unionByName(batch1).unionByName(batch2),
      "doc_id", "text", "source", bench = Some(bench),
      badWords = Seq("dup"), spanN = 4, spanMinDocs = 3,
      method = incMethod, decontamN = 5, nShards = 4, seed = 7,
      log = _ => ())
    def slice(df: org.apache.spark.sql.DataFrame,
              pred: org.apache.spark.sql.Column) = df
      .filter(pred)
      .select(col("doc_id"), col("source"), col("clean_text"),
        col("n_kept"), col("shard").cast("long"))
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1).toSeq
    val acc1 = spark.read.parquet(s"$day1/accepted")
    val acc2 = spark.read.parquet(s"$day2/accepted")
    assert(slice(acc2, lit(true)) ==
      slice(full, col("doc_id") > 200), "day-2 != full-run batch slice")
    assert(slice(acc1, lit(true)) ==
      slice(full, col("doc_id") > 100 && col("doc_id") <= 200),
      "day-1 not invariant under the day-2 replay")
    graft.ops.StageCut.release(full)
  }

  test("day-3 chain: artifact tables are three-way unions (fps adds " +
      "day-2's scrub input; gram counts sum across the chain)") {
    val (_, day1, day2, corpusDocs, _, _, _) = chained
    val fps1 = spark.read.parquet(s"$day1/fps").count()
    val fps2 = spark.read.parquet(s"$day2/fps").count()
    assert(fps2 == fps1 + 2) // day-2 scrub input = {201, 203}
    // doc 4's leading 4-gram now counts corpus doc 4 AND near-copy 203
    val c4gram = corpusDocs.filter(col("doc_id") === 4)
      .select("text").as[String].head().split(" ").take(4).mkString(" ")
    val h = spark.sql(s"SELECT md5('$c4gram')").as[String].head()
    assert(spark.read.parquet(s"$day2/gram_counts")
      .filter(col("h") === h).select("nd").as[Long].head() == 2L)
    // sigs stay signature-complete: 5 corpus + 2 day-1 + 1 day-2
    assert(spark.read.parquet(s"$day2/sigs")
      .select("id").distinct().count() == 8)
  }

  test("day-3 chain + ledger: the day-2 run explains every reject " +
      "against the TWO-day-old standing corpus") {
    val (_, _, day2, _, _, _, _) = chained
    // 202 duplicates a DAY-1 accepted doc's fingerprint (now standing
    // in the chained fps artifact), 203 near-duplicates a DAY-0
    // corpus doc through the chained sigs, 204 fails policy — the
    // audit a daily run owes against a corpus nobody can eyeball
    val rows = spark.read.parquet(s"$day2/ledger")
      .select(col("doc_id"), col("stage"), col("reason"), col("winner_id"))
      .as[(Long, String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (202L, "exact", "duplicate_of_corpus", None),
      (203L, "near", "near_duplicate_of_corpus", Some(4L)),
      (204L, "policy", "n_tokens", None)), s"ledger: $rows")
  }

  test("chain integrity: a dropped link fails fast with check=on and " +
      "is skippable with check=off; a missing dir always fails") {
    val (day0, day1, _, _, _, batch2, _) = chained
    val b2 = writeDocsDir(batch2)
    // a BROKEN root: the manifest doubles the day-0 link, so every
    // day-0 pos appears twice — never a dense epoch
    val broken = java.nio.file.Files.createTempDirectory("broke").toString
    for (t <- Seq("fps", "gram_counts", "sigs"))
      spark.read.parquet(s"$day1/$t")
        .write.mode("overwrite").parquet(s"$broken/$t")
    PretrainPrepIncrementalMain.writeChain(spark,
      Seq(s"$day0/data", s"$day0/data"), broken)
    val outA = java.nio.file.Files.createTempDirectory("chainA").toString
    Mains.keepSessionForTests = true
    try {
      val e = intercept[IllegalStateException] {
        PretrainPrepIncrementalMain.main(
          (Seq(b2, broken, outA) ++ chainArgs).toArray)
      }
      assert(e.getMessage.contains("dense"))
      // check=off skips the scan and the (wrong-corpus) run completes
      PretrainPrepIncrementalMain.main(
        (Seq(b2, broken, outA) ++ chainArgs :+ "check=off").toArray)
      assert(spark.read.parquet(s"$outA/accepted").count() > 0)
      // a chain line whose directory is MISSING fails regardless
      val gone = java.nio.file.Files.createTempDirectory("gone").toString
      PretrainPrepIncrementalMain.writeChain(spark,
        Seq(s"$day1/data", s"$gone/nope/data"), broken)
      val e2 = intercept[IllegalArgumentException] {
        PretrainPrepIncrementalMain.main(
          (Seq(b2, broken, outA) ++ chainArgs :+ "check=off").toArray)
      }
      assert(e2.getMessage.contains("missing or empty"))
      // option hygiene: only on|off are accepted
      val e3 = intercept[IllegalArgumentException] {
        PretrainPrepIncrementalMain.main(
          (Seq(b2, broken, outA) ++ chainArgs :+ "check=maybe").toArray)
      }
      assert(e3.getMessage.contains("check must be"))
    } finally Mains.keepSessionForTests = false
  }

  // ---- ledger lifecycle: consolidation + why-lookup ----

  test("ledger lifecycle: compact consolidates run-tagged ledgers " +
      "(≡ the union of the dailies') and why-lookup resolves a drop " +
      "through the compacted root; ledger-less chains fail loudly") {
    val (day0, day1, _, _, _, _, _) = chained
    import org.apache.spark.sql.DataFrame
    def tagged(dir: String): DataFrame =
      spark.read.parquet(s"$dir/ledger").withColumn("run",
        lit(new java.io.File(dir).toURI.toString.stripSuffix("/")))
    // chain ledger off the uncompacted day-1 root = day0 ∪ day1 runs
    val live = PretrainPrepIncrementalMain.chainLedger(spark, day1).get
    def snap(df: DataFrame) =
      df.select(col("doc_id"), col("stage"), col("reason"),
          col("winner_id"), col("run"))
        .collect().map(_.toString).sorted.toSeq
    assert(snap(live) == snap(tagged(day0).unionByName(tagged(day1))))
    // compact: the consolidated ledger equals the union of the dailies
    val cDir = java.nio.file.Files.createTempDirectory("compactL").toString
    PretrainPrepIncrementalMain.compactChain(spark, day1, cDir)
    assert(snap(spark.read.parquet(s"$cDir/ledger")) == snap(live))
    // the day-1 exact-dup drop (104, winner 101) resolves through the
    // COMPACTED root, tagged with the original run directory
    val w = PretrainPrepIncrementalMain.whyDropped(spark, cDir, 104L)
      .select(col("stage"), col("reason"), col("winner_id"), col("run"))
      .as[(String, String, Option[Long], String)].collect().toSeq
    assert(w.map(r => (r._1, r._2, r._3)) ==
      Seq(("exact", "duplicate_text", Some(101L))), s"why(104): $w")
    assert(w.head._4.contains(new java.io.File(day1).getName))
    // an accepted doc has no drop record
    assert(PretrainPrepIncrementalMain.whyDropped(spark, cDir, 101L)
      .count() == 0)
    // a chain with no ledgers anywhere fails with guidance (the link's
    // parent dir holds data only — no ledger/ sibling)
    val bareRun = java.nio.file.Files.createTempDirectory("bareL").toString
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(bareRun, "data"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bareRun, "data", "stub.bin"), Array[Byte](1))
    val bare = java.nio.file.Files.createTempDirectory("bareRoot").toString
    PretrainPrepIncrementalMain.writeChain(spark,
      Seq(s"$bareRun/data"), bare)
    val e = intercept[IllegalArgumentException] {
      PretrainPrepIncrementalMain.whyDropped(spark, bare, 104L)
    }
    assert(e.getMessage.contains("ledger=on"))
  }

  test("why CLI verb: prints the drop rows (smoke) and validates args") {
    val (_, day1, _, _, _, _, _) = chained
    Mains.keepSessionForTests = true
    try {
      PretrainPrepIncrementalMain.main(Array("why", day1, "104"))
      val e = intercept[IllegalArgumentException] {
        PretrainPrepIncrementalMain.main(Array("why", day1, "not-a-long"))
      }
      assert(e.getMessage.contains("docId"))
      val e2 = intercept[IllegalArgumentException] {
        PretrainPrepIncrementalMain.main(Array("why", day1))
      }
      assert(e2.getMessage.contains("usage"))
    } finally Mains.keepSessionForTests = false
  }

  // ---- chain.meta: the O(links) cached integrity check ----

  test("chain.meta: every run writes the sidecar, its stats equal the " +
      "data's, and the default check reads NO data files (junk-backed " +
      "chain with real metadata validates; without metadata it dies " +
      "in the fallback scan)") {
    val (day0, day1, day2, _, _, _, _) = chained
    val m0 = PretrainPrepIncrementalMain.readChainMeta(spark, day0)
    val m1 = PretrainPrepIncrementalMain.readChainMeta(spark, day1)
    val m2 = PretrainPrepIncrementalMain.readChainMeta(spark, day2)
    assert(m0.size == 1 && m1.size == 2 && m2.size == 3)
    val chain = PretrainPrepIncrementalMain.corpusChain(spark, day2)
    chain.foreach { d =>
      assert(m2.contains(d), s"sidecar missing $d")
      assert(m2(d) == PretrainPrepIncrementalMain.linkShardStats(
        graft.io.Publish.readPartitioned(spark, d), d),
        s"cached stats diverge from the data for $d")
    }
    // PROOF the cached check is pure arithmetic: a chain whose data
    // dirs hold only junk bytes (any parquet read dies), with the real
    // chain's metadata copied in, validates fine
    val fake = java.nio.file.Files.createTempDirectory("fakemeta").toString
    val junkDirs = chain.indices.map { i =>
      val jd = java.nio.file.Files.createTempDirectory(s"junk$i")
      java.nio.file.Files.write(jd.resolve("garbage.bin"),
        Array[Byte](1, 2, 3))
      jd.toString
    }
    PretrainPrepIncrementalMain.writeChain(spark, junkDirs, fake)
    PretrainPrepIncrementalMain.writeChainMeta(spark,
      junkDirs.zip(chain).map { case (j, d) => j -> m2(d) }, fake)
    val checked = PretrainPrepIncrementalMain.checkChainCached(spark,
      fake, PretrainPrepIncrementalMain.corpusChain(spark, fake),
      "junk-backed chain")
    assert(checked.size == 3)
    // and WITHOUT the sidecar the same root must hit the fallback
    // scan, which dies on the junk — the scan is real, not skipped
    assert(new java.io.File(s"$fake/chain.meta").delete())
    intercept[Exception] {
      PretrainPrepIncrementalMain.checkChainCached(spark, fake,
        PretrainPrepIncrementalMain.corpusChain(spark, fake),
        "junk-backed chain")
    }
  }

  test("chain.meta fingerprint tripwire: an out-of-band file added to " +
      "a vouched link fails the cached check loudly; restoring the " +
      "link heals it; fingerprints are inherited, not re-vouched") {
    val (day0, day1, day2, _, _, _, _) = chained
    val chain = PretrainPrepIncrementalMain.corpusChain(spark, day2)
    // the sidecar carries one fingerprint per link, and day2's entry
    // for day0's link equals day1's (inherited, not re-listed)
    val fp2 = PretrainPrepIncrementalMain.readChainFp(spark, day2)
    val fp1 = PretrainPrepIncrementalMain.readChainFp(spark, day1)
    assert(fp2.keySet == chain.toSet)
    val day0Link = chain.head
    assert(fp2(day0Link) == fp1(day0Link))
    // out-of-band mutation: drop an extra (non-hidden) file into the
    // oldest link's data dir — metadata arithmetic alone cannot see
    // it, the fingerprint re-listing must
    val intruder = new java.io.File(
      new java.net.URI(day0Link).getPath, "intruder.bin")
    java.nio.file.Files.write(intruder.toPath, Array[Byte](9, 9))
    try {
      val e = intercept[IllegalStateException] {
        PretrainPrepIncrementalMain.checkChainCached(spark, day2, chain,
          "mutated link")
      }
      assert(e.getMessage.contains("modified after it was written"),
        e.getMessage)
    } finally assert(intruder.delete())
    // restored: the same check passes again
    val ok = PretrainPrepIncrementalMain.checkChainCached(spark, day2,
      chain, "restored link")
    assert(ok.size == chain.size)
  }

  test("chain.meta: a pre-metadata root falls back to a one-time scan " +
      "reproducing the cached stats; duplicated or gapped links fail " +
      "loudly from arithmetic alone") {
    val (day0, _, day2, _, _, _, _) = chained
    val chain2 = PretrainPrepIncrementalMain.corpusChain(spark, day2)
    val m2 = PretrainPrepIncrementalMain.readChainMeta(spark, day2)
    // same chain, no sidecar: the fallback scan lands on identical stats
    val noMeta = java.nio.file.Files.createTempDirectory("nometa").toString
    PretrainPrepIncrementalMain.writeChain(spark, chain2, noMeta)
    val scanned = PretrainPrepIncrementalMain.checkChainCached(spark,
      noMeta, PretrainPrepIncrementalMain.corpusChain(spark, noMeta),
      "scan-fallback chain")
    assert(scanned.toMap == chain2.map(d => d -> m2(d)).toMap)
    // DUPLICATED link (metadata present, so no scan): pos overlap
    val q0 = chain2.head
    val dup = java.nio.file.Files.createTempDirectory("dupmeta").toString
    PretrainPrepIncrementalMain.writeChain(spark, Seq(q0, q0), dup)
    PretrainPrepIncrementalMain.writeChainMeta(spark, Seq(q0 -> m2(q0)), dup)
    val eDup = intercept[IllegalStateException] {
      PretrainPrepIncrementalMain.checkChainCached(spark, dup,
        PretrainPrepIncrementalMain.corpusChain(spark, dup), "doubled link")
    }
    assert(eDup.getMessage.contains("dense per-shard epoch"), eDup.getMessage)
    // GAPPED chain: fabricated metadata whose first range starts at 2
    val gap = java.nio.file.Files.createTempDirectory("gapmeta").toString
    PretrainPrepIncrementalMain.writeChain(spark, Seq(q0), gap)
    PretrainPrepIncrementalMain.writeChainMeta(spark,
      Seq(q0 -> Map(0L -> ((5L, 2L, 6L)))), gap)
    val eGap = intercept[IllegalStateException] {
      PretrainPrepIncrementalMain.checkChainCached(spark, gap,
        PretrainPrepIncrementalMain.corpusChain(spark, gap), "dropped link")
    }
    assert(eGap.getMessage.contains("dense per-shard epoch"), eGap.getMessage)
  }

  test("day-4 chain: a third daily run rides the cached check (the " +
      "no-scan line fires), extends the sidecar to four links, and the " +
      "new link's placement was validated at write time") {
    val (_, _, day2, _, _, _, bench) = chained
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    bench.write.mode("overwrite").parquet(benchDir)
    val b3 = writeDocsDir(
      Seq((301L, "w1", filler("zz", 40))).toDF("doc_id", "source", "text"))
    val day3 = java.nio.file.Files.createTempDirectory("chain3").toString
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    Mains.keepSessionForTests = true
    try {
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      try PretrainPrepIncrementalMain.main((Seq(b3, day2, day3,
        s"bench=$benchDir") ++ chainArgs).toArray)
      finally System.setErr(realErr)
    } finally Mains.keepSessionForTests = false
    assert(errBuf.toString("UTF-8")
      .contains("validated from cached metadata — no corpus scan"))
    val m3 = PretrainPrepIncrementalMain.readChainMeta(spark, day3)
    assert(m3.size == 4)
    assert(spark.read.parquet(s"$day3/accepted").count() == 1)
    // the full sidecar still describes one dense epoch
    PretrainPrepIncrementalMain.requireTiling(
      PretrainPrepIncrementalMain.corpusChain(spark, day3)
        .map(d => d -> m3(d)), "day-4 chain")
  }

  test("all-rejected day: the empty data link is NOT chained (no " +
      "unreadable parquet dir), and the next day runs off the root") {
    val (day0, _, _, _, _, _, bench) = chained
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    bench.write.mode("overwrite").parquet(benchDir)
    // every doc under the 30-token policy floor → zero acceptances
    val bEmpty = writeDocsDir(Seq(
      (501L, "w1", filler("ez", 5)), (502L, "w1", filler("ez2", 4)))
      .toDF("doc_id", "source", "text"))
    val dayE = java.nio.file.Files.createTempDirectory("chainE").toString
    Mains.keepSessionForTests = true
    try {
      PretrainPrepIncrementalMain.main((Seq(bEmpty, day0, dayE,
        s"bench=$benchDir") ++ chainArgs).toArray)
      // the chain re-roots to the inherited link only
      assert(PretrainPrepIncrementalMain.corpusChain(spark, dayE)
        .map(d => new java.io.File(new java.net.URI(d)).toString) ==
        List(s"$day0/data"))
      assert(PretrainPrepIncrementalMain.readChainMeta(spark, dayE).size == 1)
      // the PARTITIONED data/ write emits no parquet for an all-empty
      // frame (exactly why the link must not chain); the flat
      // accepted/ write does carry an empty schema'd file
      assert(spark.read.parquet(s"$dayE/accepted").count() == 0)
      val dataFiles = java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$dayE/data"))
        .filter(f => f.toString.endsWith(".parquet")).count()
      assert(dataFiles == 0, s"expected a fileless data dir, found $dataFiles")
      // and a REAL day chains off the zero-acceptance root cleanly
      val (_, batch1, _) = incFixture()
      val dayN = java.nio.file.Files.createTempDirectory("chainN").toString
      PretrainPrepIncrementalMain.main((Seq(writeDocsDir(batch1), dayE,
        dayN, s"bench=$benchDir") ++ chainArgs).toArray)
      assert(spark.read.parquet(s"$dayN/accepted")
        .select("doc_id").as[Long].collect().sorted.toSeq == Seq(101L, 107L))
    } finally Mains.keepSessionForTests = false
  }

  test("first signing on a sig-less chain signs corpus ∪ batch, so the " +
      "chain is signature-complete from that day forward") {
    val (corpusDocs, batch1, bench) = incFixture()
    val (corpus, _, arts) = corpusRun(corpusDocs, bench)
    // a standing dir WITHOUT sigs (e.g. produced by a library run)
    val day0 = java.nio.file.Files.createTempDirectory("nosig0").toString
    graft.io.Publish.writePartitioned(corpus, s"$day0/data",
      Seq("shard"), "pos")
    arts.fps.write.mode("overwrite").parquet(s"$day0/fps")
    arts.gramCounts.write.mode("overwrite").parquet(s"$day0/gram_counts")
    graft.ops.StageCut.release(arts.scrubInput)
    graft.ops.StageCut.release(corpus)
    val day1 = java.nio.file.Files.createTempDirectory("nosig1").toString
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    bench.write.mode("overwrite").parquet(benchDir)
    Mains.keepSessionForTests = true
    try PretrainPrepIncrementalMain.main((Seq(writeDocsDir(batch1), day0,
      day1, s"bench=$benchDir", "check=on") ++ chainArgs).toArray)
    finally Mains.keepSessionForTests = false
    // 5 corpus docs + 2 accepted batch docs — NOT batch-only
    assert(spark.read.parquet(s"$day1/sigs")
      .select("id").distinct().count() == 7)
  }

  // ---- chain COMPACTION: fold N links into one re-rooted corpus ----

  test("compact: day-2 off the compacted day-1 root equals the " +
      "uncompacted twin, and the new chain is ONE link") {
    val (day0, day1, day2, _, _, batch2, bench) = chained
    val cDir = java.nio.file.Files.createTempDirectory("compact").toString
    val day2c = java.nio.file.Files.createTempDirectory("chain2c").toString
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    bench.write.mode("overwrite").parquet(benchDir)
    val b2 = writeDocsDir(batch2)
    Mains.keepSessionForTests = true
    try {
      // fold the 2-link chain (day0/data + day1/data) into one root
      PretrainPrepIncrementalMain.main(
        Array("compact", day1, cDir, "check=on"))
      // the manifest re-roots to exactly one link: the integrity scan
      // and the corpus read are O(compacted corpus) from here on
      assert(PretrainPrepIncrementalMain.corpusChain(spark, cDir)
        .map(d => new java.io.File(new java.net.URI(d)).toString) ==
        List(s"$cDir/data"))
      // consolidated data = the union of the folded links, same epoch
      val folded = graft.io.Publish.readPartitioned(spark, s"$cDir/data")
      val union = Seq(day0, day1)
        .map(d => graft.io.Publish.readPartitioned(spark, s"$d/data"))
        .reduce(_ unionByName _)
      assert(folded.count() == union.count())
      PretrainPrepIncrementalMain.requireDenseEpoch(folded, "compacted root")
      // day-2 TWIN off the compacted root: same args, same batch
      PretrainPrepIncrementalMain.main((Seq(b2, cDir, day2c,
        s"bench=$benchDir", "ledger=on") ++ chainArgs).toArray)
    } finally Mains.keepSessionForTests = false
    def snap(dir: String, tail: String, cols: Seq[String]) =
      spark.read.parquet(s"$dir/$tail").select(cols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    // acceptance, placement, audit and artifacts all match the twin
    assert(snap(day2c, "accepted", Seq("doc_id", "clean_text", "shard", "pos"))
      == snap(day2, "accepted", Seq("doc_id", "clean_text", "shard", "pos")))
    assert(snap(day2c, "ledger", Seq("doc_id", "stage", "reason", "winner_id"))
      == snap(day2, "ledger", Seq("doc_id", "stage", "reason", "winner_id")))
    assert(snap(day2c, "fps", Seq("_fp_text")) ==
      snap(day2, "fps", Seq("_fp_text")))
    assert(snap(day2c, "gram_counts", Seq("h", "nd")) ==
      snap(day2, "gram_counts", Seq("h", "nd")))
    assert(spark.read.parquet(s"$day2c/sigs").select("id").distinct().count()
      == spark.read.parquet(s"$day2/sigs").select("id").distinct().count())
    // the twin's chain: compacted root + its own day
    assert(PretrainPrepIncrementalMain.corpusChain(spark, day2c)
      .map(d => new java.io.File(new java.net.URI(d)).toString) ==
      List(s"$cDir/data", s"$day2c/data"))
  }

  test("compact: refuses in-place targets and chain-link collisions; " +
      "a crashed compact leaves no parseable root") {
    val (_, day1, _, _, _, _, _) = chained
    val e = intercept[IllegalArgumentException] {
      PretrainPrepIncrementalMain.compactChain(spark, day1, day1)
    }
    assert(e.getMessage.contains("NEW directory"))
    // manifest-last crash safety: an output dir holding data but no
    // chain.txt (a compact that died before the final write) must not
    // parse as a chain root UNLESS it has a pre-manifest data/ — and a
    // fresh empty dir has none, so corpusChain fails loudly
    val dead = java.nio.file.Files.createTempDirectory("dead").toString
    val e2 = intercept[IllegalArgumentException] {
      PretrainPrepIncrementalMain.corpusChain(spark, dead)
    }
    assert(e2.getMessage.contains("missing or empty"))
    // option hygiene
    val e3 = intercept[IllegalArgumentException] {
      PretrainPrepIncrementalMain.main(
        Array("compact", day1, dead, "ledger=on"))
    }
    assert(e3.getMessage.contains("unrecognized option"))
  }

  // ---- chain GC: verified deletion of compact-covered run dirs ----

  test("gc: every unsafe precondition refuses loudly and deletes " +
      "nothing (missing manifest, uncompacted target, chain advanced " +
      "past the compact, missing consolidated ledger); dry run lists") {
    val (day0, day1, day2, _, _, _, _) = chained
    // target without chain.txt: the compact never completed
    val dead = java.nio.file.Files.createTempDirectory("gcdead").toString
    val e1 = intercept[IllegalArgumentException] {
      PretrainPrepIncrementalMain.gcChain(spark, day1, dead, apply = false)
    }
    assert(e1.getMessage.contains("no chain.txt"), e1.getMessage)
    // uncompacted target (the root itself): its links sit inside the
    // blast radius
    val e2 = intercept[IllegalStateException] {
      PretrainPrepIncrementalMain.gcChain(spark, day2, day2, apply = false)
    }
    assert(e2.getMessage.contains("slated for deletion"), e2.getMessage)
    val cDir = java.nio.file.Files.createTempDirectory("gccov").toString
    Mains.keepSessionForTests = true
    try {
      PretrainPrepIncrementalMain.main(
        Array("compact", day1, cDir, "check=on"))
      // the chain advanced past the compact: day2 reaches further
      val e3 = intercept[IllegalArgumentException] {
        PretrainPrepIncrementalMain.gcChain(spark, day2, cDir,
          apply = false)
      }
      assert(e3.getMessage.contains("only to pos"), e3.getMessage)
      // correct pairing, DRY RUN: lists exactly the covered run dirs,
      // deletes nothing
      val listed = PretrainPrepIncrementalMain.gcChain(spark, day1, cDir,
        apply = false)
      assert(listed.map(d => new java.io.File(new java.net.URI(d))
        .toString).toSet == Set(day0, day1))
      assert(new java.io.File(s"$day0/data").exists() &&
        new java.io.File(s"$day1/data").exists())
      // SECOND-GENERATION compact: gc of a chain whose root is itself
      // a compacted root must verify the consolidated ledger by its
      // ORIGINAL run tags (the rows keep them), not by the old root's
      // directory — a parent-dir lookup would find 0 rows and refuse
      // a perfectly covered chain forever
      val cDir2 = java.nio.file.Files.createTempDirectory("gccov2").toString
      PretrainPrepIncrementalMain.main(
        Array("compact", cDir, cDir2, "check=on"))
      val listed2 = PretrainPrepIncrementalMain.gcChain(spark, cDir, cDir2,
        apply = false)
      assert(listed2.map(d => new java.io.File(new java.net.URI(d))
        .toString) == Seq(cDir))
      assert(new java.io.File(s"$cDir/data").exists(),
        "dry run must not delete")
      // consolidated ledger gone → refusal (the audit trail would die
      // with the run dirs)
      val led = new java.io.File(s"$cDir/ledger")
      led.listFiles().foreach(_.delete()); assert(led.delete())
      val e4 = intercept[IllegalArgumentException] {
        PretrainPrepIncrementalMain.gcChain(spark, day1, cDir,
          apply = false)
      }
      assert(e4.getMessage.contains("no consolidated ledger"),
        e4.getMessage)
    } finally Mains.keepSessionForTests = false
  }

  test("gc apply: deletes the covered run dirs; the next daily run " +
      "off the compacted root is identical before and after, and the " +
      "consolidated audit trail still resolves") {
    // a fresh, private chain — apply DELETES it; the shared fixture
    // must survive for the other tests
    val (corpusDocs, batch1, bench) = incFixture()
    val batch2 = chainBatch2(corpusDocs, batch1)
    val g0 = java.nio.file.Files.createTempDirectory("gcap0").toString
    val g1 = java.nio.file.Files.createTempDirectory("gcap1").toString
    val cDir = java.nio.file.Files.createTempDirectory("gcapc").toString
    val d2a = java.nio.file.Files.createTempDirectory("gcap2a").toString
    val d2b = java.nio.file.Files.createTempDirectory("gcap2b").toString
    val benchDir = java.nio.file.Files.createTempDirectory("bench").toString
    bench.write.mode("overwrite").parquet(benchDir)
    val (cin, b1, b2) =
      (writeDocsDir(corpusDocs), writeDocsDir(batch1), writeDocsDir(batch2))
    Mains.keepSessionForTests = true
    try {
      PretrainPrepMain.main((Seq(cin, g0, s"bench=$benchDir",
        "ledger=on") ++ chainArgs :+ "seqLen=64").toArray)
      PretrainPrepIncrementalMain.main((Seq(b1, g0, g1,
        s"bench=$benchDir", "ledger=on") ++ chainArgs).toArray)
      PretrainPrepIncrementalMain.main(
        Array("compact", g1, cDir, "check=on"))
      // day-2 off the compacted root BEFORE gc
      PretrainPrepIncrementalMain.main((Seq(b2, cDir, d2a,
        s"bench=$benchDir", "ledger=on") ++ chainArgs).toArray)
      // gc apply through the CLI verb
      PretrainPrepIncrementalMain.main(Array("gc", g1, cDir, "apply"))
      assert(!new java.io.File(g0).exists(), "day-0 run dir must be gone")
      assert(!new java.io.File(g1).exists(), "day-1 run dir must be gone")
      // day-2 AFTER gc — the compacted root is self-contained
      PretrainPrepIncrementalMain.main((Seq(b2, cDir, d2b,
        s"bench=$benchDir", "ledger=on") ++ chainArgs).toArray)
    } finally Mains.keepSessionForTests = false
    def snap(dir: String, tail: String, cols: Seq[String]) =
      spark.read.parquet(s"$dir/$tail").select(cols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(snap(d2b, "accepted", Seq("doc_id", "clean_text", "shard", "pos"))
      == snap(d2a, "accepted", Seq("doc_id", "clean_text", "shard", "pos")))
    assert(snap(d2b, "ledger", Seq("doc_id", "stage", "reason", "winner_id"))
      == snap(d2a, "ledger", Seq("doc_id", "stage", "reason", "winner_id")))
    // the folded days' drop records survive their run dirs: every
    // consolidated row still resolves through whyDropped
    val led = spark.read.parquet(s"$cDir/ledger")
    assert(led.count() > 0, "the consolidated ledger must be non-empty")
    val someDoc = led.select(col("doc_id")).as[Long].head()
    assert(PretrainPrepIncrementalMain.whyDropped(spark, cDir, someDoc)
      .count() > 0)
  }

  // -------------------------------------------- token-budget stage 8b

  /** Everything passes, so the budget stage is the only dropper. */
  private val openPolicy = graft.text.PolicyConfig(
    minTokens = 1, maxTokens = 1000000, minMeanWordLen = 0.0,
    maxMeanWordLen = 1000.0, minStopwords = 0, maxTop2Frac = 1.0,
    maxDup5Frac = 1.0)

  /** Unique-word docs (no exact/near/span dups anywhere): doc `id`
    * gets `n` tokens, so post-scrub n_kept == n. */
  private def budgetDocs(rows: Seq[(Long, String, Int)]) =
    rows.map { case (id, src, n) =>
      (id, src, (1 to n).map(j => s"d${id}w$j").mkString(" "))
    }.toDF("doc_id", "source", "text")

  private def prefixIds(rows: Seq[(Long, Int)], budget: Long): Set[Long] = {
    var acc = 0L
    rows.sortBy { case (id, n) => (-n, id) }
      .takeWhile { case (_, n) => { acc += n; acc <= budget } }
      .map(_._1).toSet
  }

  test("run(tokenBudget): keeps the (n_kept DESC, id ASC) prefix, " +
      "ledger attributes the budget drops separately from quota") {
    // two sources with IDENTICAL length profiles -> cross-source
    // n_kept ties, broken by id
    val rows = (1 to 15).flatMap(i =>
      Seq((100L + i, "a", i + 5), (200L + i, "b", i + 5)))
    val docs = budgetDocs(rows)
    val budget = 100L
    val tracked = PretrainPrep.runTracked(docs, "doc_id", "text",
      "source", config = openPolicy, tokenBudget = budget,
      keepLedger = true, log = _ => ())
    val got = tracked.out.select("doc_id").as[Long].collect().toSet
    val expect = prefixIds(rows.map(r => (r._1, r._3)), budget)
    assert(got == expect, s"expected $expect, got $got")
    val ledger = tracked.ledger.get.collect()
    assert(ledger.forall(r => r.getString(1) == "budget" &&
      r.getString(2) == "token_budget"),
      "the open policy makes budget the only dropping stage")
    assert(ledger.map(_.getLong(0)).toSet ==
      rows.map(_._1).toSet -- expect,
      "ledger ∪ accepted must partition the input")
    graft.ops.StageCut.release(tracked.out)
    tracked.ledger.foreach(graft.ops.StageCut.release)
  }

  test("run(sourceBudgets): per-source caps apply before the global " +
      "budget; ledger distinguishes the two budget reasons") {
    // a: 6..20 tokens (sum 195); b: same profile
    val rows = (1 to 15).flatMap(i =>
      Seq((100L + i, "a", i + 5), (200L + i, "b", i + 5)))
    val docs = budgetDocs(rows)
    def perSource(src: String, b: Long): Set[Long] =
      prefixIds(rows.filter(_._2 == src).map(r => (r._1, r._3)), b)
    // source caps only: each source's own (n desc, id) prefix
    val srcOnly = PretrainPrep.runTracked(docs, "doc_id", "text",
      "source", config = openPolicy,
      sourceBudgets = Map("a" -> 50L, "b" -> 80L),
      keepLedger = true, log = _ => ())
    val gotSrc = srcOnly.out.select("doc_id").as[Long].collect().toSet
    assert(gotSrc == perSource("a", 50L) ++ perSource("b", 80L))
    assert(srcOnly.ledger.get.collect().forall(r =>
      r.getString(1) == "budget" &&
        r.getString(2) == "source_token_budget"))
    graft.ops.StageCut.release(srcOnly.out)
    srcOnly.ledger.foreach(graft.ops.StageCut.release)
    // combined: caps shape the pool, then the global prefix trims it
    val combined = PretrainPrep.runTracked(docs, "doc_id", "text",
      "source", config = openPolicy,
      sourceBudgets = Map("a" -> 50L, "b" -> 80L), tokenBudget = 90L,
      keepLedger = true, log = _ => ())
    val pool = rows.filter(r =>
      (perSource("a", 50L) ++ perSource("b", 80L)).contains(r._1))
    val expect = prefixIds(pool.map(r => (r._1, r._3)), 90L)
    assert(combined.out.select("doc_id").as[Long].collect().toSet ==
      expect)
    val reasons = combined.ledger.get.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(reasons.values.toSet ==
      Set("source_token_budget", "token_budget"),
      s"both budget stages must attribute their own drops: $reasons")
    graft.ops.StageCut.release(combined.out)
    combined.ledger.foreach(graft.ops.StageCut.release)
  }

  test("runIncremental(sourceBudgets): per-source headroom subtracts " +
      "the corpus' per-source spend (finite default included)") {
    // corpus: source a = 3 docs x 10 tokens (spent 30); source c = 1
    // doc x 10 (spent 10, exercises the finite-default headroom)
    val corpusRows = (1 to 3).map(i => (i.toLong, "a", 10)) :+
      (4L, "c", 10)
    val (corpus, _, arts) = PretrainPrep.runWithArtifacts(
      budgetDocs(corpusRows), "doc_id", "text", "source",
      config = openPolicy, log = _ => ())
    // batch: a rows (headroom 45-30=15 -> 9,8 kept? 9+8=17>15 -> only
    // 9 wait: ranked desc 9,8,7 -> 9 <= 15, 9+8=17 > 15 -> {9}),
    // b rows (unlisted, default 20 -> no corpus spend -> 8+7 = 15),
    // c rows (default 20 - spent 10 = 10 -> 6 only)
    val batchRows = Seq(
      (1001L, "a", 9), (1002L, "a", 8), (1003L, "a", 7),
      (1101L, "b", 8), (1102L, "b", 7), (1103L, "b", 6),
      (1201L, "c", 6), (1202L, "c", 5))
    val tracked = PretrainPrep.runIncrementalTracked(
      budgetDocs(batchRows), corpus, arts.fps, arts.gramCounts,
      "doc_id", "text", "source", config = openPolicy,
      sourceBudgets = Map("a" -> 45L), sourceBudgetDefault = 20L,
      keepLedger = true, log = _ => ())
    val got = tracked.out.select("doc_id").as[Long].collect().toSet
    assert(got == Set(1001L, 1101L, 1102L, 1201L),
      s"per-source headroom arithmetic: got $got")
    assert(tracked.ledger.get.collect().forall(r =>
      r.getString(2) == "source_token_budget"))
    graft.ops.StageCut.release(tracked.out)
    tracked.ledger.foreach(graft.ops.StageCut.release)
    graft.ops.StageCut.release(arts.scrubInput)
  }

  test("runIncremental(tokenBudget): the batch fills the HEADROOM " +
      "left by the standing corpus; zero headroom keeps nothing") {
    val corpusRows = (1 to 6).map(i => (i.toLong, "a", 10))
    val (corpus, _, arts) = PretrainPrep.runWithArtifacts(
      budgetDocs(corpusRows), "doc_id", "text", "source",
      config = openPolicy, log = _ => ())
    val spent = 60L // 6 docs x 10 tokens, nothing dropped
    assert(corpus.agg(sum(col("n_kept"))).head().getLong(0) == spent)
    val batchRows = (1 to 6).map(i => (1000L + i, "a", i + 4))
    val batch = budgetDocs(batchRows)
    // headroom = 85 - 60 = 25: ranked 10,9,8,... -> 10+9 =19 <= 25,
    // +8 would be 27 > 25
    val tracked = PretrainPrep.runIncrementalTracked(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      config = openPolicy, tokenBudget = spent + 25L,
      keepLedger = true, log = _ => ())
    val got = tracked.out.select("doc_id").as[Long].collect().toSet
    val expect = prefixIds(batchRows.map(r => (r._1, r._3)), 25L)
    assert(got == expect, s"expected $expect, got $got")
    assert(tracked.ledger.get.collect().forall(r =>
      r.getString(1) == "budget"))
    graft.ops.StageCut.release(tracked.out)
    tracked.ledger.foreach(graft.ops.StageCut.release)
    // a budget the corpus has already exhausted admits nothing
    val none = PretrainPrep.runIncrementalTracked(batch, corpus,
      arts.fps, arts.gramCounts, "doc_id", "text", "source",
      config = openPolicy, tokenBudget = 10L,
      keepLedger = true, log = _ => ())
    assert(none.out.count() == 0L)
    assert(none.ledger.get.filter(col("stage") === "budget").count() ==
      batchRows.size.toLong)
    graft.ops.StageCut.release(none.out)
    none.ledger.foreach(graft.ops.StageCut.release)
    graft.ops.StageCut.release(arts.scrubInput)
  }
}
