package perfbench

import graft.apps.PretrainPrep
import graft.dedup.{Dedup, SimilarityMethod}
import graft.io.Publish
import graft.ops.StageCut
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** prep-daily: one full pretrain-prep release with its maintenance
  * artifacts (fingerprints, gram counts, LSH signatures), then a fixed
  * cycle of equal-size seeded daily batches through
  * PretrainPrep.runIncremental against the stored artifacts. Every
  * batch carries planted exact copies, near copies, benchmark-
  * contaminated docs and bad-word pages, so every stage drops rows. */
object PrepDaily extends Workload {
  val BenchDocs = 250
  val CorpusBase = 800
  /** Corpus families: exact copies, near copies (6-word tail) and
    * bad-word pages of base docs. */
  val CorpusFamily = 80
  val CorpusBadPages = 14
  val Batches = 3
  val Fresh = 150
  /** Each batch family: exact copies of corpus docs, exact copies of
    * the batch's own fresh docs, near copies of corpus docs,
    * contaminated docs and bad-word pages. */
  val Family = 15
  val BatchDocs: Int = Fresh + 5 * Family
  val BadWord = "zqspam"
  val SpanN = 4
  val SpanMinDocs = 3
  val Method: SimilarityMethod.MinHashLsh = SimilarityMethod.MinHashLsh(minJaccard = 0.6)
  val DecontamN = 13
  val BuildQuota = 35
  val ServeQuota = 39
  val NShards = 4
  val ShardSeed = 7
  val buildReps = 1
  /** No warm-up: the build runs the same stage chain first, and a first
    * daily batch measured no slower than the later ones. */
  val warmupReps = 0
  val serveReps = 3
  override def ownLayers: Seq[(String, String)] = Layers.stagedAll

  final case class Doc(id: Long, source: String, text: String)
  /** A released row. */
  final case class Rel(id: Long, source: String, clean: String, shard: Long, pos: Long)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType), StructField("text", StringType)))

  private var bench: Seq[Doc] = Nil
  private var corpusIn: Seq[Doc] = Nil
  private var batchDocs: IndexedSeq[Seq[Doc]] = IndexedSeq.empty
  /** Per batch: ids that must not be released (exact copies and
    * bad-word pages). Contaminated docs are checked by the n-gram
    * property instead: the pipeline decontaminates the span-scrubbed
    * text, so a quote the scrub has cut may legitimately survive. */
  private var mustDrop: IndexedSeq[Set[Long]] = IndexedSeq.empty
  private var corpusRel: Seq[Rel] = Nil
  private var benchGrams: Set[String] = Set.empty
  private var standing: Option[(DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)] = None

  private def write(ctx: Ctx, docs: Seq[Doc], rel: String): Unit =
    ctx.spark.createDataFrame(java.util.Arrays.asList(
        docs.map(d => Row(d.id, d.source, d.text)): _*), docSchema)
      .repartition(ctx.cores).write.mode("overwrite").parquet(ctx.path(rel))

  def prepare(ctx: Ctx): Unit = {
    val all = graft.Tables.load(ctx.spark, ctx.sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text")).orderBy(col("doc_id")).collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2))).toVector
    require(all.map(_.id).max < 100000L, "family id offsets assume doc_id < 100000")
    val rnd = scala.util.Random.javaRandomToRandom(ctx.rng(1))
    val shuffled = rnd.shuffle(all)
    bench = shuffled.take(BenchDocs)
    val base = shuffled.slice(BenchDocs, BenchDocs + CorpusBase)
    val pool = shuffled.drop(BenchDocs + CorpusBase)
    def fam(ds: Seq[Doc], off: Long, f: Doc => String) = ds.map(d => Doc(d.id + off, d.source, f(d)))
    corpusIn = base ++
      fam(base.take(CorpusFamily), 100000L, _.text) ++
      fam(base.slice(CorpusFamily, 2 * CorpusFamily), 200000L,
        _.text + " tail marker alpha beta gamma delta") ++
      fam(base.slice(2 * CorpusFamily, 2 * CorpusFamily + CorpusBadPages), 300000L,
        _.text + s" $BadWord")
    // contaminated docs quote a benchmark doc long enough to hold n-grams
    val quotable = bench.filter(d => Check.words(d.text).length >= DecontamN + 5)
    val (docsByBatch, drops) = (0 until Batches).map { b =>
      val off = (b + 1) * 1000000L
      val br = scala.util.Random.javaRandomToRandom(ctx.rng(100 + b))
      val fresh = pool.slice(b * Fresh, (b + 1) * Fresh)
      val corpusExact = fam(br.shuffle(base).take(Family), off + 100000L, _.text)
      val batchExact = fam(br.shuffle(fresh).take(Family), off + 200000L, _.text)
      val corpusNear = fam(br.shuffle(base).take(Family), off + 300000L,
        d => d.text + s" qn${d.id} qm${d.id}")
      val contaminated = fam(br.shuffle(quotable).take(Family), off + 400000L,
        d => s"qv${d.id} " + d.text)
      val badPages = fam(pool.slice(Batches * Fresh + b * Family, Batches * Fresh + (b + 1) * Family),
        off + 500000L, _.text + s" $BadWord")
      val docs = fam(fresh, off, _.text) ++ corpusExact ++ batchExact ++ corpusNear ++
        contaminated ++ badPages
      (docs, (corpusExact ++ batchExact ++ badPages).map(_.id).toSet)
    }.unzip
    batchDocs = docsByBatch
    mustDrop = drops
    require(batchDocs.forall(_.length == BatchDocs), "every batch holds the same number of docs")
    benchGrams = bench.flatMap(d => Check.ngrams(d.text, DecontamN)).toSet
    write(ctx, bench, "prep/bench")
    write(ctx, corpusIn, "prep/corpus_in")
    batchDocs.indices.foreach(b => write(ctx, batchDocs(b), s"prep/batch$b"))
  }

  /** A log callback that cuts the run into stage spans: the pipeline
    * logs each stage right after the count that materializes it, so a
    * log line closes that stage and opens the next. */
  private final class StageClock(ctx: Ctx, phase: String, keys: Seq[(String, String)]) {
    private var i = 0
    ctx.tracer.begin(s"$phase.${keys.head._2}")
    def log(line: String): Unit =
      if (i < keys.length && line.contains(keys(i)._1)) {
        ctx.tracer.end()
        i += 1
        if (i < keys.length) ctx.tracer.begin(s"$phase.${keys(i)._2}")
      }
    def close(): Unit = if (i < keys.length) { ctx.tracer.end(); i = keys.length }
  }

  private val fullStages = Seq("policy gate" -> "text.policy", "bad-words" -> "text.badwords",
    "exact dedup" -> "text.exact", "span scrub" -> "text.scrub", "near dedup" -> "dedup.near",
    "gram decontamination" -> "text.decontam", "embedding decontamination" -> "text.decontam",
    "quota" -> "ops.quota")
  private val incStages = fullStages.filterNot(_._1 == "embedding decontamination")

  private def read(ctx: Ctx, rel: String): DataFrame = ctx.spark.read.parquet(ctx.path(rel))

  private def released(out: DataFrame): Seq[Rel] =
    out.select(col("doc_id"), col("source"), col("clean_text"),
        col("shard").cast("long"), col("pos").cast("long")).collect().toSeq
      .map(r => Rel(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))

  def build(ctx: Ctx, rep: Int): Outcome = {
    val clock = new StageClock(ctx, "build", fullStages)
    val (out, _, arts) = try PretrainPrep.runWithArtifacts(
      read(ctx, "prep/corpus_in"), "doc_id", "text", "source",
      bench = Some(read(ctx, "prep/bench")), badWords = Seq(BadWord),
      spanN = SpanN, spanMinDocs = SpanMinDocs, method = Method, decontamN = DecontamN,
      quotaPerSource = BuildQuota, nShards = NShards, seed = ShardSeed, log = clock.log)
    finally clock.close()
    ctx.tracer.span("build.io.publish") {
      arts.fps.write.mode("overwrite").parquet(ctx.path("prep/fps"))
      arts.gramCounts.write.mode("overwrite").parquet(ctx.path("prep/gram_counts"))
      Dedup.lshSignatures(out.select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", "text", Method.nGram, Method.bands)
        .write.mode("overwrite").parquet(ctx.path("prep/sigs"))
      out.write.mode("overwrite").parquet(ctx.path("prep/corpus"))
      Publish.writePartitioned(out, ctx.path("prep/data"), Seq("shard"), "pos")
    }
    StageCut.release(arts.scrubInput)
    Outcome(corpusIn.length.toLong, () => {
      val rel = released(out)
      StageCut.release(out)
      corpusRel = rel
      standing = Some((read(ctx, "prep/corpus"), read(ctx, "prep/fps"),
        read(ctx, "prep/gram_counts"), read(ctx, "prep/sigs"), read(ctx, "prep/bench")))
      val copies = corpusIn.filter(d => d.id >= 100000L && d.id < 200000L).map(_.id).toSet ++
        corpusIn.filter(_.id >= 300000L).map(_.id)
      verify(rel, corpusIn, copies, Nil, BuildQuota)
    })
  }

  /** The release's properties, each checked apart from the program. */
  private def verify(rel: Seq[Rel], input: Seq[Doc], mustGo: Set[Long],
                     corpus: Seq[Rel], quota: Int): Seq[String] = {
    val inById = input.map(d => d.id -> d).toMap
    val corpusText = if (corpus.isEmpty) Set.empty[String] else standingTexts
    val p = Seq.newBuilder[String]
    val ids = rel.map(_.id)
    if (!ids.forall(inById.contains)) p += "released ids outside the input"
    if (ids.distinct.length != ids.length) p += "a released id sits in more than one row"
    val texts = rel.map(r => inById.get(r.id).map(_.text).getOrElse(""))
    if (texts.map(Check.hash64).distinct.length != texts.length) p += "two released docs share raw text"
    if (texts.exists(corpusText.contains)) p += "a released doc repeats a standing-corpus doc"
    rel.find(r => Check.ngrams(r.clean, DecontamN).exists(benchGrams.contains))
      .foreach(r => p += s"doc ${r.id} holds a benchmark $DecontamN-gram")
    val kept = ids.toSet.intersect(mustGo)
    if (kept.nonEmpty) p += s"planted docs released: ${kept.take(5).mkString(",")}"
    val perSource = (corpus ++ rel).groupBy(_.source).map { case (s, rs) => s -> rs.length }
    perSource.find(_._2 > quota).foreach { case (s, n) => p += s"source $s holds $n > quota $quota" }
    (corpus ++ rel).groupBy(_.shard).foreach { case (sh, rs) =>
      if (rs.map(_.pos).sorted != (1L to rs.length.toLong)) p += s"shard $sh positions are not 1..${rs.length}"
    }
    p.result()
  }

  /** Raw input text of every standing-corpus doc. */
  private def standingTexts: Set[String] = {
    val ids = corpusRel.map(_.id).toSet
    corpusIn.filter(d => ids.contains(d.id)).map(_.text).toSet
  }

  def serve(ctx: Ctx, rep: Int): Outcome = {
    val b = rep % Batches
    val (corpus, fps, grams, sigs, benchDf) = standing.get
    val clock = new StageClock(ctx, "serve", incStages)
    val (out, _) = try PretrainPrep.runIncremental(read(ctx, s"prep/batch$b"), corpus, fps, grams,
      "doc_id", "text", "source", bench = Some(benchDf), badWords = Seq(BadWord),
      spanN = SpanN, spanMinDocs = SpanMinDocs, method = Method, corpusSigs = Some(sigs),
      decontamN = DecontamN, quotaPerSource = ServeQuota, nShards = NShards,
      seed = ShardSeed, log = clock.log)
    finally clock.close()
    ctx.tracer.span("serve.io.publish")(
      Publish.writePartitioned(out, ctx.path("prep/day"), Seq("shard"), "pos"))
    Outcome(BatchDocs.toLong, () => {
      val rel = released(out)
      StageCut.release(out)
      verify(rel, batchDocs(b), mustDrop(b), corpusRel, ServeQuota)
    })
  }

  /** Corrupt a daily release and confirm the checks reject it. */
  def selfTest(ctx: Ctx): Seq[(String, Boolean)] = {
    build(ctx, 0).check()
    val (corpus, fps, grams, sigs, benchDf) = standing.get
    val (out, _) = PretrainPrep.runIncremental(read(ctx, "prep/batch0"), corpus, fps, grams,
      "doc_id", "text", "source", bench = Some(benchDf), badWords = Seq(BadWord),
      spanN = SpanN, spanMinDocs = SpanMinDocs, method = Method, corpusSigs = Some(sigs),
      decontamN = DecontamN, quotaPerSource = ServeQuota, nShards = NShards,
      seed = ShardSeed, log = _ => ())
    val rel = released(out)
    def rejects(r: Seq[Rel]) = verify(r, batchDocs(0), mustDrop(0), corpusRel, ServeQuota).nonEmpty
    def planted(off: Long) = batchDocs(0).find(d => d.id % 1000000L >= off && d.id % 1000000L < off + 100000L).get
    def add(d: Doc, like: Rel) = rel :+ Rel(d.id, like.source, d.text, like.shard, rel.count(_.shard == like.shard) + corpusRel.count(_.shard == like.shard) + 1)
    val last = rel.maxBy(r => (r.shard, r.pos))
    Seq(("prep-daily clean daily release passes", !rejects(rel)),
      ("prep-daily planted exact copy kept", rejects(add(planted(200000L), last))),
      ("prep-daily contaminated doc kept (benchmark n-gram)", rejects(add(planted(400000L), last))),
      ("prep-daily one released row dropped (shard positions)", rejects(rel.filterNot(_ == rel.head))),
      ("prep-daily one id swapped for a non-input id", rejects(rel.updated(0, rel.head.copy(id = 42L)))),
      ("prep-daily quota exceeded", verify(rel, batchDocs(0), mustDrop(0), corpusRel, 1).nonEmpty))
  }
}
