package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, document
  * fingerprints. All pure `Column` expressions (no UDFs) so they stay
  * inside whole-stage codegen and scale linearly with input splits —
  * no shuffle is introduced by any function here.
  */
object TextOps {

  /** Whitespace tokenization. `trim` first so leading/trailing
    * whitespace doesn't produce empty tokens. */
  def words(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L)).otherwise(size(words(c)).cast("long"))

  /** Normalized text: lowercase, whitespace collapsed, trimmed. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Deterministic document fingerprint = md5 of normalized text.
    * Exact-dedup key; scales as a pure map + hash-groupBy. */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Word n-gram shingles of the normalized token stream; empty array
    * when the document has fewer than n tokens.
    *
    * NOTE: when `c` is a raw text column, the tokenization expression is
    * embedded in the slice lambda and — interpreted, no codegen CSE —
    * re-splits the text once PER SHINGLE POSITION: O(words²) per doc.
    * Hot paths must stage the word array first ([[withShingles]]). */
  def shingles(c: Column, n: Int): Column = {
    val w = words(lower(c))
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Shingles with the tokenization staged as a real column, so the
    * per-position slice lambda reads a materialized array instead of
    * re-splitting the document text each time — linear, not quadratic,
    * in document length. Adds `out` (the distinct shingle array). */
  def withShingles(df: DataFrame, textCol: String, out: String,
                   n: Int): DataFrame =
    df.withColumn("_words", words(lower(col(textCol))))
      .withColumn(out, array_distinct(
        when(size(col("_words")) >= n,
          transform(sequence(lit(1), size(col("_words")) - (n - 1)),
            i => concat_ws(" ", slice(col("_words"), i, lit(n)))))
          .otherwise(array().cast(ArrayType(StringType)))))
      .drop("_words")

  /** One minhash value over a shingle array: lexicographic min of a
    * per-seed hash. Seeds 0-3 slice disjoint 8-hex-char windows out of
    * ONE md5 per shingle — 4 independent hash functions for the price
    * of one digest (the md5 is the hot instruction in LSH banding);
    * larger seeds fall back to md5("<seed>|" + shingle). md5-hex keeps
    * the family identical across engines (reproducible in any SQL
    * oracle), while behaving like a random permutation per seed. */
  def minhash(shingleCol: Column, seed: Int): Column =
    if (seed < 4)
      array_min(transform(shingleCol, s => substring(md5(s), 1 + 8 * seed, 8)))
    else
      array_min(transform(shingleCol, s => md5(concat(lit(s"$seed|"), s))))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

  def stopwordCount(c: Column): Column =
    size(filter(words(lower(c)), w => w.isInCollection(Stopwords))).cast("long")

  def punctCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[.,;:!?]", ""))).cast("long")

  /** Composite quality score in [0,1]-ish: favors texts with a sane
    * stopword ratio and low punctuation density (cheap heuristics in the
    * spirit of C4/Gopher quality filters). */
  def qualityScore(c: Column): Column = {
    val toks = tokenCount(c)
    val stopRatio = when(toks > 0, stopwordCount(c).cast("double") / toks).otherwise(lit(0.0))
    val punctRatio = when(length(c) > 0, punctCount(c).cast("double") / length(c)).otherwise(lit(0.0))
    round(least(lit(1.0), stopRatio * 2 + (lit(1.0) - punctRatio) * 0.5), 4)
  }

  /** [[qualityScore]] with token/stopword counts staged as columns —
    * one split + one stopword filter per doc instead of re-tokenizing
    * for the count, the guard, and the ratio separately. */
  def withQualityScore(df: DataFrame, textCol: String, out: String): DataFrame = {
    val c = col(textCol)
    df.withColumn("_qw", words(lower(c)))
      .withColumn("_qtoks",
        when(length(trim(c)) === 0, lit(0L)).otherwise(size(col("_qw")).cast("long")))
      .withColumn("_qstop",
        size(filter(col("_qw"), w => w.isInCollection(Stopwords))).cast("long"))
      .withColumn(out, {
        val stopRatio = when(col("_qtoks") > 0,
          col("_qstop").cast("double") / col("_qtoks")).otherwise(lit(0.0))
        val punctRatio = when(length(c) > 0,
          punctCount(c).cast("double") / length(c)).otherwise(lit(0.0))
        round(least(lit(1.0), stopRatio * 2 + (lit(1.0) - punctRatio) * 0.5), 4)
      })
      .drop("_qw", "_qtoks", "_qstop")
  }

  /** Tiny per-language stopword tables for the language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "y", "los", "que", "es"),
    "fr" -> Seq("le", "et", "les", "des", "est"),
    "zh" -> Seq("的", "了", "是"))

  /** N-gram/stopword language-ID heuristic: count marker hits per
    * language, argmax with a fixed tie-break order (the declaration
    * order above); zero hits everywhere → "und".
    *
    * NOTE: the argmax embeds every hit count (and the tokenization
    * under it) many times; interpreted HOFs re-evaluate per use —
    * ~30 split+filter passes per doc inline. Hot paths use
    * [[withLangId]], which stages tokens and hit counts as columns. */
  def langIdHeuristic(c: Column): Column = {
    val w = words(lower(c))
    val hits = LangMarkers.map { case (lang, ms) =>
      lang -> size(filter(w, x => x.isInCollection(ms))).cast("long")
    }
    langArgmax(hits)
  }

  private def langArgmax(hits: Seq[(String, Column)]): Column = {
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val firstMatch = hits.foldLeft(when(best === 0, "und")) {
      case (acc, (lang, h)) => acc.when(h === best, lang)
    }
    firstMatch.otherwise("und")
  }

  /** [[langIdHeuristic]] with tokens and per-language hit counts staged
    * as real columns: ONE split + one marker filter per language per
    * document; the argmax then compares cheap attributes. */
  def withLangId(df: DataFrame, textCol: String, out: String): DataFrame = {
    val hitCols = LangMarkers.map { case (lang, _) => s"_hit_$lang" }
    val staged = df.withColumn("_lw", words(lower(col(textCol))))
    val withHits = LangMarkers.foldLeft(staged) { case (d, (lang, ms)) =>
      d.withColumn(s"_hit_$lang",
        size(filter(col("_lw"), x => x.isInCollection(ms))).cast("long"))
    }
    withHits
      .withColumn(out, langArgmax(
        LangMarkers.map { case (lang, _) => lang -> col(s"_hit_$lang") }))
      .drop("_lw")
      .drop(hitCols: _*)
  }

  // -------------------------------------------- repetition metrics

  /** Every Gopher-policy signal in one codegen'd scan expression —
    * `struct<n_tokens, alpha, n_stop : bigint, top2_frac, dup5_frac :
    * double>`, null for null text ([[graft.functions.PolicySignals]];
    * values bit-identical to the composed forms, callers re-apply the
    * 0.0 repetition default with `coalesce` where needed). */
  def policySignals(c: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    val stop = new java.util.HashSet[String]()
    Stopwords.foreach(stop.add)
    bridge.column(graft.functions.PolicySignals(bridge.expression(c), stop))
  }

  /** One position-tagged word n-gram stream as an array of
    * `struct<n:int, g:string>` over a staged word-array column —
    * empty when the document has fewer than `n` words. NOT distinct:
    * repetition metrics need every occurrence. */
  private def gramStructs(wsCol: Column, n: Int): Column =
    when(size(wsCol) >= n,
      transform(sequence(lit(1), size(wsCol) - (n - 1)),
        i => struct(lit(n).as("n"),
          concat_ws(" ", slice(wsCol, i, lit(n))).as("g"))))
      .otherwise(array().cast("array<struct<n:int,g:string>>"))

  /** Gopher-style repetition quality metrics (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", appendix A quality
    * filters — published paper, public knowledge): per document,
    *
    *  - `top2_frac`: fraction of non-whitespace characters covered by
    *    the most repetition-heavy word 2-gram — max over 2-grams of
    *    `count × chars(gram) / totalChars` (the max is taken over the
    *    product, so equal-count ties cannot make the metric
    *    nondeterministic);
    *  - `dup5_frac`: fraction of non-whitespace characters inside
    *    DUPLICATED word 5-grams — sum over 5-grams with `count > 1`
    *    of `count × chars(gram) / totalChars` (overlapping
    *    occurrences double-count, as in the paper's approximation;
    *    the value may exceed 1 for pathologically repetitive text).
    *
    * `chars(gram)` = non-space characters (sum of word lengths);
    * `totalChars` = sum of all word lengths in the document. Both
    * metrics are 0.0 for documents too short to have an n-gram.
    *
    * Distributed shape (r20): ONE codegen'd scan expression
    * ([[policySignals]] — hash-map gram counting, O(grams) per row,
    * zero shuffle, the text never leaves its scan); the pre-r20
    * explode + two doc-keyed exchanges survives as the value-pinning
    * twin [[repetitionStatsAgg]].
    * Returns one row per input row: `(idCol, top2_frac, dup5_frac)`.
    */
  def repetitionStats(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    df.withColumn("_sig", policySignals(col(textCol)))
      .select(col(idCol),
        coalesce(col("_sig.top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("_sig.dup5_frac"), lit(0.0)).as("dup5_frac"))

  /** The pre-r20 aggregate form of [[repetitionStats]] — the tagged
    * explode + two doc-keyed shuffles described above. Kept as the
    * independently-derived value twin (`RepetitionSpec` pins the
    * one-pass expression ≡ this bitwise) and for duplicate-id inputs,
    * where this form merges gram counts across an id's rows into one
    * output row while the scan form scores each row alone. */
  private[graft] def repetitionStatsAgg(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val tagged = df
      .withColumn("_rw",
        filter(words(lower(col(textCol))), w => length(w) > 0))
      .withColumn("_rtotal",
        aggregate(col("_rw"), lit(0L), (acc, w) => acc + length(w)))
      .select(col(idCol), col("_rtotal"), explode_outer(
        concat(gramStructs(col("_rw"), 2), gramStructs(col("_rw"), 5)))
        .as("_g"))
    tagged
      .groupBy(col(idCol), col("_rtotal"),
        col("_g.n").as("_n"), col("_g.g").as("_gram"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_chars",
        length(regexp_replace(col("_gram"), " ", "")).cast("long"))
      .groupBy(col(idCol), col("_rtotal"))
      .agg(
        max(when(col("_n") === 2, col("_c") * col("_chars"))).as("_top2"),
        sum(when(col("_n") === 5 && col("_c") > 1,
          col("_c") * col("_chars"))).as("_dup5"))
      .select(col(idCol),
        when(col("_rtotal") > 0,
          coalesce(col("_top2"), lit(0L)).cast("double") / col("_rtotal"))
          .otherwise(lit(0.0)).as("top2_frac"),
        when(col("_rtotal") > 0,
          coalesce(col("_dup5"), lit(0L)).cast("double") / col("_rtotal"))
          .otherwise(lit(0.0)).as("dup5_frac"))
  }

  /** Gopher's published keep-thresholds for the two metrics computed
    * here (top 2-gram char fraction ≤ 0.20, duplicated 5-gram char
    * fraction ≤ 0.15). */
  val RepTop2Max = 0.20
  val RepDup5Max = 0.15

  /** [[repetitionStats]] as PURE per-row column expressions — no
    * groupBy, no shuffle, no state — so the metrics (and everything
    * built on them, e.g. [[FilterPolicy.withDecision]]) work inside a
    * Structured Streaming map without watermarks or output-mode
    * constraints. Cost: the per-gram count is a quadratic HOF scan
    * over the document's own grams (O(grams²) per row, fine at
    * real document lengths and embarrassingly parallel); the batch
    * aggregate version stays the cheaper shape for corpus-wide batch
    * jobs. Values are IDENTICAL to the aggregate version: same
    * integer cnt×chars products, same long total, same double
    * division. Adds `top2Col` and `dup5Col`. */
  def withRepetitionCols(df: DataFrame, textCol: String,
                         top2Col: String, dup5Col: String): DataFrame = {
    val statTy = "array<struct<cnt:bigint,chars:bigint>>"
    val stats = (grams: Column) =>
      transform(array_distinct(grams), g => struct(
        size(filter(grams, x => x === g)).cast("long").as("cnt"),
        length(call_function("replace", g, lit(" "), lit(""))).cast("long")
          .as("chars")))
    df.withColumn("_rw",
        filter(words(lower(col(textCol))), w => length(w) > 0))
      .withColumn("_rtotal",
        aggregate(col("_rw"), lit(0L), (acc, w) => acc + length(w)))
      .withColumn("_g2s", {
        val grams = when(size(col("_rw")) >= 2,
          transform(sequence(lit(1), size(col("_rw")) - 1),
            i => concat_ws(" ", slice(col("_rw"), i, lit(2)))))
          .otherwise(array().cast("array<string>"))
        stats(grams)
      })
      .withColumn("_g5s", {
        val grams = when(size(col("_rw")) >= 5,
          transform(sequence(lit(1), size(col("_rw")) - 4),
            i => concat_ws(" ", slice(col("_rw"), i, lit(5)))))
          .otherwise(array().cast("array<string>"))
        stats(grams)
      })
      .withColumn("_top2", array_max(
        transform(col("_g2s"), s => s.getField("cnt") * s.getField("chars"))))
      .withColumn("_dup5", aggregate(
        filter(col("_g5s"), s => s.getField("cnt") > 1), lit(0L),
        (acc, s) => acc + s.getField("cnt") * s.getField("chars")))
      .withColumn(top2Col,
        when(col("_rtotal") > 0,
          coalesce(col("_top2"), lit(0L)).cast("double") / col("_rtotal"))
          .otherwise(lit(0.0)))
      .withColumn(dup5Col,
        when(col("_rtotal") > 0,
          coalesce(col("_dup5"), lit(0L)).cast("double") / col("_rtotal"))
          .otherwise(lit(0.0)))
      .drop("_rw", "_rtotal", "_g2s", "_g5s", "_top2", "_dup5")
  }

  /** 32-bit hash derived from the first 8 hex chars of md5 — chosen over
    * crc32/xxhash because every SQL engine with md5 can reproduce it
    * (the DuckDB oracle uses `try_cast('0x'||substring(md5(x),1,8))`). */
  def md5_32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Rolling polynomial hash over the word stream (base 31, mod 1e9+7,
    * md5-32 per word) — a cheap order-sensitive document signature,
    * complementing the order-insensitive minhash. Modular at every step
    * so the fold never overflows (and never wraps differently across
    * engines).
    *
    * This composed Column form is the REFERENCE semantics (an
    * interpreted transform + aggregate fold — any SQL oracle can
    * reproduce it); hot paths use [[rollingWordHashNative]], the
    * value-identical one-pass codegen'd expression. */
  val RollingMod = 1000000007L

  def rollingWordHash(c: Column): Column =
    aggregate(
      transform(words(lower(c)), w => md5_32(w) % RollingMod),
      lit(0L),
      (acc, h) => (acc * 31 + h) % RollingMod)

  /** [[rollingWordHash]] as ONE native codegen'd pass per document
    * (functions.RollingWordHash): tokenize + per-word md5-32 + modular
    * fold in a single JVM loop — interpreted higher-order functions are
    * CodegenFallback and can never be whole-stage-compiled
    * (TextHashSpec cross-validates the two forms on the edge corpus). */
  def rollingWordHashNative(c: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.RollingWordHash(bridge.expression(c)))
  }

  // ----------------------------------------------------------- BPE

  /** Sentinel markers wrapping every token during BPE training and
    * application: a token sequence is stored as the single string
    * `\u0001tok\u0002\u0001tok\u0002...`, so applying the merge rule
    * (x, y) is ONE literal (codegen'd, non-regex) string replace of
    * `\u0001x\u0002\u0001y\u0002` -> `\u0001xy\u0002` --- which is
    * exactly BPE's greedy left-to-right non-overlapping pass, and can
    * never false-match inside a token or across a word boundary (the
    * sentinels bound every token; merges never contain them; control
    * chars never appear inside whitespace-tokenized words). */
  private val BpeL = "\u0001"
  private val BpeR = "\u0002"

  /** Each character of `c` wrapped in the BPE sentinels — the initial
    * (all-single-character) tokenization. `.`-per-char regex: one
    * UTF-16 unit per token, identical to the oracle's RE2 codepoint
    * semantics on the BMP text this operates on. */
  private def bpeWrapChars(c: Column): Column =
    regexp_replace(c, "(.)", s"$BpeL$$1$BpeR")

  /** Literal sentinel-bounded replace applying one merge rule. Uses
    * the built-in `replace` (UTF8String, non-regex) — stays inside
    * whole-stage codegen. */
  private def bpeReplaceOne(c: Column, lhs: String, rhs: String): Column =
    call_function("replace", c,
      lit(BpeL + lhs + BpeR + BpeL + rhs + BpeR), lit(BpeL + lhs + rhs + BpeR))

  /** One learned byte-pair-encoding merge: at `step` the adjacent
    * token pair (lhs, rhs) had the highest summed corpus frequency
    * `pairCount` (ties broken by (lhs, rhs) ascending — deterministic
    * across engines on binary-collated strings) and fused into
    * `merged = lhs + rhs`. */
  final case class BpeMerge(step: Int, lhs: String, rhs: String,
                            merged: String, pairCount: Long)

  /** DISTRIBUTED BPE tokenizer training — the classic algorithm
    * (Sennrich et al. 2016, public knowledge) re-expressed for Spark's
    * execution model. The training state is the DISTINCT-WORD table
    * `(wrapped-token-string, freq)` — the standard trick that makes
    * the merge loop corpus-size-independent: one pass over the corpus
    * builds it (map + hash-groupBy; at 100 TB it is the only
    * corpus-sized shuffle), after which every iteration touches only
    * |vocab| rows. Per merge step:
    *
    *   1. adjacent-pair counts: a narrow map explodes each word's
    *      token pairs weighted by word freq, then ONE hash-groupBy on
    *      (lhs, rhs) with map-side partial aggregation;
    *   2. the argmax pair comes to the driver via `limit(1)` over
    *      (count DESC, lhs, rhs) — the driver holds ONLY the merge
    *      rules (O(numMerges) strings), never data rows;
    *   3. the rule is applied as one codegen'd literal replace over
    *      the cached vocab ([[bpeReplaceOne]]), the result cut with an
    *      eager `localCheckpoint` for the next iteration, and the
    *      parent released — a persist chain would embed every parent
    *      plan in the child's, growing Catalyst analysis per iteration
    *      and the loop quadratically (measured 6.7 s → 2.6 s for 12
    *      merges at sf0.1).
    *
    * Stops early (returns fewer than `numMerges` rules) when no
    * adjacent pair remains — every word fused to a single token. */
  def trainBpe(df: DataFrame, textCol: String,
               numMerges: Int): Seq[BpeMerge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val pairTy = "array<struct<lhs:string,rhs:string>>"
    // the vocab table is the loop's whole working set — cut the corpus
    // lineage off it up front so no iteration re-analyzes the scan
    var cur = df.select(explode(words(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(bpeWrapChars(col("w")).as("wrapped"), col("freq"))
      .localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var exhausted = false
    while (acc.size < numMerges && !exhausted) {
      val toks = split(
        regexp_replace(col("wrapped"), s"^$BpeL|$BpeR$$", ""), s"$BpeR$BpeL")
      // single-token words contribute no pairs; the guard keeps
      // element_at away from the empty-sequence case under ANSI mode
      val pairs = when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("lhs"),
                      element_at(col("t"), i + 1).as("rhs"))))
        .otherwise(array().cast(pairTy))
      val top = cur.select(col("freq"), toks.as("t"))
        .select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (l, rr, c) = (r.getString(0), r.getString(1), r.getLong(2))
        acc += BpeMerge(acc.size + 1, l, rr, l + rr, c)
        val next0 = cur.withColumn("wrapped",
          bpeReplaceOne(col("wrapped"), l, rr))
        // cut EVERY iteration: a persist chain keeps each parent's
        // plan tree embedded in the child's, so per-iteration Catalyst
        // analysis grows linearly and the loop quadratically (measured
        // 6.7 s -> 2.6 s for 12 merges at sf0.1 switching to cuts)
        val next = next0.localCheckpoint(true)
        graft.ops.StageCut.release(cur)
        cur = next
      }
    }
    graft.ops.StageCut.release(cur)
    acc.toSeq
  }

  /** [[trainBpe]] with PROVABLY-EXACT MERGE BATCHING — same merge
    * table (the q88 gate hashes it against the q76 oracle), far fewer
    * driver round trips. Plain training is one Spark job + one
    * `limit(1)` collect PER MERGE: a 30k-merge vocabulary is 30k
    * sequential driver round trips, and scheduling latency — not
    * compute — dominates. Each round here collects the top
    * `candidatePool` pairs once and accepts the longest prefix that
    * sequential training would provably pick unchanged, applying the
    * whole batch as one codegen'd replace chain in ONE job.
    *
    * A candidate prefix p₁..pₖ is exact because, inductively, when
    * sequential training reaches pⱼ:
    *  - pⱼ's own count is untouched — its tokens are DISJOINT from
    *    every earlier accepted pair's tokens, and fusing (a,b)
    *    preserves every adjacency not involving a or b;
    *  - nothing outranks it: old pairs only lose occurrences, and any
    *    NEW pair spawned by fusing pᵢ=(a,b) — some (x,ab) or (ab,y) —
    *    inherits ≤ the pre-merge count of the (x,a) / (b,y) pair it
    *    came from, i.e. ≤ the max count TOUCHING {a,b}. Acceptance
    *    requires pⱼ.count STRICTLY above every non-accepted
    *    candidate touching previously-accepted tokens, and above the
    *    pool floor when the pool truncated (an unseen touching pair
    *    can count at most poolMin). Strictness also settles the
    *    (count, lhs, rhs) tie-break: nothing can tie from below.
    * The first candidate failing any test ends the batch (a skipped
    * candidate's count may change, so nothing after it is provable).
    * Worst case every batch has size 1 = plain training; typical
    * early rounds accept many mutually-disjoint pairs at once. */
  def trainBpeBatched(df: DataFrame, textCol: String, numMerges: Int,
                      maxBatch: Int = 32,
                      candidatePool: Int = 256): Seq[BpeMerge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    require(candidatePool >= maxBatch,
      s"candidatePool ($candidatePool) must be >= maxBatch ($maxBatch)")
    val pairTy = "array<struct<lhs:string,rhs:string>>"
    // the vocab table is the loop's whole working set — cut the corpus
    // lineage off it up front so no iteration re-analyzes the scan
    var cur = df.select(explode(words(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(bpeWrapChars(col("w")).as("wrapped"), col("freq"))
      .localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var exhausted = false
    while (acc.size < numMerges && !exhausted) {
      val toks = split(
        regexp_replace(col("wrapped"), s"^$BpeL|$BpeR$$", ""), s"$BpeR$BpeL")
      val pairs = when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("lhs"),
                      element_at(col("t"), i + 1).as("rhs"))))
        .otherwise(array().cast(pairTy))
      val cand = cur.select(col("freq"), toks.as("t"))
        .select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(candidatePool).collect()
      if (cand.isEmpty) exhausted = true
      else {
        val truncated = cand.length == candidatePool
        val poolMin = cand.last.getLong(2)
        val batchTokens = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        val room = math.min(maxBatch, numMerges - acc.size)
        var i = 0
        var stop = false
        while (!stop && i < cand.length && batch.size < room) {
          val (l, r, c) = (cand(i).getString(0), cand(i).getString(1),
            cand(i).getLong(2))
          if (batch.isEmpty) {
            batch += ((l, r, c)); batchTokens += l; batchTokens += r
          } else {
            val disjoint = !batchTokens(l) && !batchTokens(r)
            val abovePoolFloor = !truncated || c > poolMin
            // any LATER candidate touching already-accepted tokens can
            // seed a new pair of up to its own count; require strict
            // dominance over all of them
            val dominatesTouching = cand.iterator.drop(i + 1).forall { row =>
              val (jl, jr, jc) =
                (row.getString(0), row.getString(1), row.getLong(2))
              jc < c || (!batchTokens(jl) && !batchTokens(jr))
            }
            if (disjoint && abovePoolFloor && dominatesTouching) {
              batch += ((l, r, c)); batchTokens += l; batchTokens += r
            } else stop = true
          }
          i += 1
        }
        val next0 = batch.foldLeft(cur) { case (d, (l, r, _)) =>
          d.withColumn("wrapped", bpeReplaceOne(col("wrapped"), l, r))
        }
        batch.foreach { case (l, r, c) =>
          acc += BpeMerge(acc.size + 1, l, r, l + r, c)
        }
        // cut every pass (the trainBpe rationale: persist chains embed
        // every parent plan, so analysis grows per pass)
        val next = next0.localCheckpoint(true)
        graft.ops.StageCut.release(cur)
        cur = next
      }
    }
    graft.ops.StageCut.release(cur)
    acc.toSeq
  }

  /** Apply a learned merge table to a text column: normalized text →
    * per-character sentinel wrap → the merge rules as a chain of
    * literal replaces IN TRAINING ORDER (the fold is one codegen'd
    * expression; no shuffle, no UDF). Whitespace survives as
    * single-space tokens that no rule can touch (rules come from
    * whitespace-split words), so word boundaries hold without a
    * per-word explode. Adds
    *   - `segCol`: the segmentation with each token terminated by `|`
    *   - `nTokensCol`: BPE token count (space tokens excluded). */
  def withBpeSegmentation(df: DataFrame, textCol: String,
                          merges: Seq[BpeMerge],
                          segCol: String, nTokensCol: String): DataFrame = {
    val rep = (c: Column, find: String, to: String) =>
      call_function("replace", c, lit(find), lit(to))
    df.withColumn("_bnorm", normText(col(textCol)))
      .withColumn("_bpe", merges.foldLeft(bpeWrapChars(col("_bnorm"))) {
        (acc, m) => bpeReplaceOne(acc, m.lhs, m.rhs)
      })
      .withColumn(nTokensCol,
        ((length(col("_bpe")) - length(rep(col("_bpe"), BpeL, "")))
          - (length(col("_bnorm")) - length(rep(col("_bnorm"), " ", ""))))
          .cast("long"))
      .withColumn(segCol, rep(rep(col("_bpe"), BpeL, ""), BpeR, "|"))
      .drop("_bnorm", "_bpe")
  }

  /** One tokenizer-vocabulary entry: a surface token string and its
    * integer id. */
  final case class BpeVocabEntry(token: String, id: Int)

  /** The tokenizer vocabulary induced by a training corpus and a merge
    * table — the standard BPE layout: the corpus ALPHABET (distinct
    * single characters of the whitespace-split words, sorted — binary
    * collation, same order as the SQL oracle) takes ids 0..A-1, then
    * each merge's fused token takes A+step-1 in training order. The
    * vocabulary is the model — O(alphabet + numMerges) strings held on
    * the driver, like the merge rules themselves; the alphabet scan is
    * one distributed distinct over characters.
    *
    * A merge can in principle re-create a surface string that already
    * exists (two different splits fusing to the same text); the
    * smallest id wins per token so the mapping is deterministic —
    * mirrored by the oracle's min(id) GROUP BY. */
  def bpeVocab(df: DataFrame, textCol: String,
               merges: Seq[BpeMerge]): Seq[BpeVocabEntry] = {
    val alphabet = df.select(explode(words(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .distinct().orderBy(col("ch"))
      .collect().map(_.getString(0)).toSeq
    val raw = alphabet.zipWithIndex.map { case (c, i) => BpeVocabEntry(c, i) } ++
      merges.zipWithIndex.map { case (m, i) =>
        BpeVocabEntry(m.merged, alphabet.size + i) }
    raw.groupBy(_.token).map { case (_, es) => es.minBy(_.id) }
      .toSeq.sortBy(_.id)
  }

  /** ENCODE a text column to BPE token ids — the shape an LLM training
    * pipeline consumes. Applies the merge rules ([[withBpeSegmentation]]
    * semantics), then emits one row per non-space token:
    * `(<idCol>, pos, token, token_id)` with `pos` contiguous from 0
    * per document and `token_id` resolved against `vocab` via a
    * BROADCAST join (never a map-literal lookup: `GetMapValue` over a
    * literal map is a linear scan per token, quadratic-ish at real
    * vocab sizes, while the broadcast hash join stays O(1) per token
    * and adds no shuffle — the explode is narrow). Tokens absent from
    * the vocabulary (held-out characters the training corpus never
    * saw) encode as -1, the conventional UNK sentinel. */
  def withBpeTokenIds(df: DataFrame, idCol: String, textCol: String,
                      merges: Seq[BpeMerge],
                      vocab: Seq[BpeVocabEntry]): DataFrame = {
    val spark = df.sparkSession
    val vocabDf = spark.createDataFrame(vocab)
    val toks = when(length(col("_bpe")) === 0, array().cast("array<string>"))
      .otherwise(filter(
        split(regexp_replace(col("_bpe"), s"^$BpeL|$BpeR$$", ""), s"$BpeR$BpeL"),
        t => t =!= " "))
    df.withColumn("_bnorm", normText(col(textCol)))
      .withColumn("_bpe", merges.foldLeft(bpeWrapChars(col("_bnorm"))) {
        (acc, m) => bpeReplaceOne(acc, m.lhs, m.rhs)
      })
      .withColumn("_toks", toks)
      .select(col(idCol), posexplode(col("_toks")))
      .toDF(idCol, "pos", "token")
      .join(broadcast(vocabDf), Seq("token"), "left")
      .select(col(idCol), col("pos"), col("token"),
        coalesce(col("id"), lit(-1)).as("token_id"))
  }

  // ------------------------------------------------------------------
  // Scale-path BPE APPLICATION (mapPartitions + broadcast rank table).
  //
  // The expression-chain appliers above fold one `replace` per merge
  // rule into a single codegen'd expression — ideal at the 12-merge
  // gate size, but the fold is numMerges DEEP: at a real tokenizer
  // vocabulary (30k merges) it blows the JVM 64KB method limit /
  // Janino codegen and, even interpreted, costs O(numMerges) full
  // passes over every document. The partitioned applier below is the
  // production-tokenizer algorithm instead: the merge table rides a
  // broadcast as a rank map, and each WORD is merged greedily
  // (lowest-rank adjacent pair first, leftmost on ties) inside
  // mapPartitions — per-word cost depends on word length only, never
  // on vocabulary size. This is `mapPartitions`-as-designed (brief
  // preference (d)): a data-dependent per-row loop no fixed-depth
  // expression can express at real vocab sizes.
  //
  // EQUIVALENCE to the training-order replace chain: greedy
  // lowest-rank merging reproduces training-order replay whenever
  // every rule's operands exist only via earlier rules or single
  // characters — exactly the invariant `trainBpe` tables satisfy (a
  // merge is learned over the state AFTER all earlier merges applied).
  // The q85/q86 gates pin this: the partitioned applier is hashed
  // against the SAME DuckDB oracle as the expression chain.
  // ------------------------------------------------------------------

  /** The broadcastable tokenizer model: merge rank by adjacent pair
    * (training step = rank; lower fuses first). */
  def bpeRanks(merges: Seq[BpeMerge]): Map[(String, String), Int] =
    merges.map(m => (m.lhs, m.rhs) -> m.step).toMap

  /** JVM-side mirror of [[normText]] (lower, collapse whitespace,
    * trim) — Locale.ROOT lowercase and Java regex match Spark's
    * codegen'd `lower`/`regexp_replace` on the BMP text this runs on. */
  private[text] def bpeNormalize(s: String): String = {
    val collapsed = s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    var b = 0
    var e = collapsed.length
    while (b < e && collapsed.charAt(b) == ' ') b += 1
    while (e > b && collapsed.charAt(e - 1) == ' ') e -= 1
    collapsed.substring(b, e)
  }

  /** Greedy BPE merge of one word: start from single characters,
    * repeatedly fuse the adjacent pair with the LOWEST rank (leftmost
    * occurrence on equal rank) until no adjacent pair is in the
    * table. O(len²) scans with a tiny constant — words are short and
    * the cost is independent of vocabulary size. */
  private[text] def bpeSegmentWord(word: String,
      ranks: Map[(String, String), Int]): List[String] = {
    if (word.isEmpty) return Nil
    val toks = scala.collection.mutable.ArrayBuffer.tabulate(word.length)(
      i => word.substring(i, i + 1))
    var done = toks.length < 2
    while (!done) {
      var best = -1
      var bestRank = Int.MaxValue
      var j = 0
      while (j < toks.length - 1) {
        val rk = ranks.getOrElse((toks(j), toks(j + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; best = j }
        j += 1
      }
      if (best < 0) done = true
      else {
        toks(best) = toks(best) + toks(best + 1)
        toks.remove(best + 1)
        if (toks.length < 2) done = true
      }
    }
    toks.toList
  }

  /** Segment one pre-normalized document: words merged per
    * [[bpeSegmentWord]], each token (spaces included, as in the
    * expression chain) terminated by `|`; returns (segmentation,
    * non-space token count). */
  private[text] def bpeSegmentDoc(norm: String,
      ranks: Map[(String, String), Int]): (String, Long) = {
    if (norm.isEmpty) return ("", 0L)
    val sb = new StringBuilder
    var n = 0L
    var start = 0
    var i = 0
    val len = norm.length
    while (i <= len) {
      if (i == len || norm.charAt(i) == ' ') {
        bpeSegmentWord(norm.substring(start, i), ranks).foreach { t =>
          sb.append(t).append('|'); n += 1
        }
        if (i < len) sb.append(" |")
        start = i + 1
      }
      i += 1
    }
    (sb.toString, n)
  }

  /** [[withBpeSegmentation]] semantics at production vocabulary
    * sizes: same `segCol`/`nTokensCol` output, but the merge table is
    * a BROADCAST rank map applied per word inside `mapPartitions`
    * (see the scale-path note above). Narrow — adds no shuffle; null
    * text segments as empty. */
  def withBpeSegmentationPartitioned(df: DataFrame, textCol: String,
      merges: Seq[BpeMerge], segCol: String,
      nTokensCol: String): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(bpeRanks(merges))
    val out = df.schema
      .add(segCol, StringType)
      .add(nTokensCol, org.apache.spark.sql.types.LongType, nullable = false)
    val ti = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      val r = bc.value
      it.map { row =>
        val raw = if (row.isNullAt(ti)) "" else row.getString(ti)
        val (seg, n) = bpeSegmentDoc(bpeNormalize(raw), r)
        Row.fromSeq(row.toSeq :+ seg :+ n)
      }
    }(Encoders.row(out))
  }

  /** [[withBpeTokenIds]] semantics at production vocabulary sizes:
    * `(<idCol>, pos, token, token_id)` rows via the broadcast-rank
    * `mapPartitions` applier; vocabulary ids still resolve through a
    * BROADCAST hash join (the vocab is O(alphabet + numMerges), the
    * token stream is corpus-sized — the big side never shuffles). */
  def withBpeTokenIdsPartitioned(df: DataFrame, idCol: String,
      textCol: String, merges: Seq[BpeMerge],
      vocab: Seq[BpeVocabEntry]): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(bpeRanks(merges))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(idCol),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("token", StringType,
        nullable = false)))
    val ii = df.schema.fieldIndex(idCol)
    val ti = df.schema.fieldIndex(textCol)
    val rows = df.mapPartitions { it =>
      val r = bc.value
      it.flatMap { row =>
        val raw = if (row.isNullAt(ti)) "" else row.getString(ti)
        val id = row.get(ii)
        val toks = bpeNormalize(raw).split(" ").iterator
          .filter(_.nonEmpty).flatMap(w => bpeSegmentWord(w, r)).toArray
        Iterator.tabulate(toks.length)(p => Row(id, p, toks(p)))
      }
    }(Encoders.row(outSchema))
    rows.join(broadcast(spark.createDataFrame(vocab)), Seq("token"), "left")
      .select(col(idCol), col("pos"), col("token"),
        coalesce(col("id"), lit(-1)).as("token_id"))
  }

  /** Deflate compression ratio — the cheap whole-document redundancy
    * signal the published open-data pipelines (Dolma, RedPajama-v2)
    * filter on: highly compressible text (ratio far below ~0.3) is
    * boilerplate/repetition, barely compressible text (≈1.0) is
    * noise/binary spill. Adds `n_raw` / `n_comp` (UTF-8 byte counts)
    * and `<outCol>` = n_comp / n_raw rounded to 6dp (empty text →
    * 0.0 by convention).
    *
    * DEFLATE is codec work, not expression arithmetic, so like the
    * image decode path it rides `mapPartitions` (one `Deflater` per
    * partition, reset per row — allocation-free inner loop); a SQL
    * oracle cannot deflate, so this is spec-gated (known-string
    * pins + determinism), the [[graft.io.Xlsx]]/streaming precedent.
    * Level is FIXED at 6 so the signal is stable across runs on the
    * same JVM family. */
  def withCompressionRatio(df: DataFrame, textCol: String,
                           outCol: String): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("n_raw",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_comp",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(outCol,
          org.apache.spark.sql.types.DoubleType, nullable = false)))
    val ti = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      val defl = new java.util.zip.Deflater(6, false)
      val buf = new Array[Byte](64 * 1024)
      it.map { row =>
        val raw = if (row.isNullAt(ti)) Array.emptyByteArray
          else row.getString(ti)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var comp = 0L
        if (raw.nonEmpty) {
          defl.reset()
          defl.setInput(raw)
          defl.finish()
          while (!defl.finished())
            comp += defl.deflate(buf)
        }
        val ratio =
          if (raw.isEmpty) 0.0
          else BigDecimal(comp.toDouble / raw.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        // Seq[Any]: a bare Seq(long, long, double) would unify to
        // Seq[Double] and silently widen the byte counts
        Row.fromSeq(row.toSeq ++ Seq[Any](raw.length.toLong, comp, ratio))
      }
    }(Encoders.row(outSchema))
  }

  // ------------------------------------------------ tokenizer artifact

  /** Persist a trained tokenizer (merge rules + vocabulary) as a
    * parquet artifact — the train-once half of the production shape
    * (like CellIndex / SQ8 params / LSH sigs): tokenizers are trained
    * on one corpus snapshot and then applied to every later batch,
    * so the model must survive the session. Two tiny tables:
    * `merges/` (step, lhs, rhs, merged, pairCount) and `vocab/`
    * (token, id). */
  def saveTokenizer(spark: SparkSession, path: String,
                    merges: Seq[BpeMerge],
                    vocab: Seq[BpeVocabEntry]): Unit = {
    import spark.implicits._
    merges.toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$path/merges")
    vocab.toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$path/vocab")
  }

  /** Load a [[saveTokenizer]] artifact; merge order (the semantics
    * of rule application) is restored by `step`, vocab by `id`.
    * Fails loudly on a malformed artifact. */
  def loadTokenizer(spark: SparkSession,
                    path: String): (Seq[BpeMerge], Seq[BpeVocabEntry]) = {
    import spark.implicits._
    val merges = spark.read.parquet(s"$path/merges").as[BpeMerge]
      .collect().sortBy(_.step).toSeq
    val vocab = spark.read.parquet(s"$path/vocab").as[BpeVocabEntry]
      .collect().sortBy(_.id).toSeq
    require(merges.map(_.step) == merges.indices.map(_ + 1),
      s"tokenizer artifact at $path has non-contiguous merge steps")
    require(vocab.map(_.id).distinct.size == vocab.size,
      s"tokenizer artifact at $path has duplicate vocab ids")
    (merges, vocab)
  }
}
