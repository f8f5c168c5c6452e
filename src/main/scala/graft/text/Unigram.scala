package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer — the other
  * tokenizer family production pipelines train alongside BPE
  * ([[TextOps.trainBpe]]): instead of greedy pair merges, a vocabulary
  * of candidate pieces is scored as a unigram language model and each
  * word is segmented by VITERBI — the piece sequence maximizing the
  * summed piece log-probabilities (Kudo 2018, the SentencePiece
  * `unigram` trainer; reference-analog: lwetl has no tokenizer — this
  * is part of the LLM-pipeline extension layer).
  *
  * Engine-exactness: every training decision is INTEGER arithmetic.
  * Log-probabilities use [[ilog2f]] — a piecewise-linear fixed-point
  * log2 (`msb·2^16 + frac`, computable from `bin()`/bit arithmetic in
  * any engine, max ~1.4% relative error: irrelevant to a tokenizer
  * objective, decisive for cross-engine reproducibility because no
  * transcendental ever feeds a DECISION). Viterbi DP sums these
  * integer scores; ties break toward the LONGER piece, then the
  * lexicographic argmax of the (score, length) struct — the q150/q151
  * gates pin the whole train → prune → segment pipeline against a
  * DuckDB oracle that re-derives it with recursive-CTE DP.
  *
  * Training is hard-EM (Viterbi counts, not forward-backward
  * expectations — the standard hard-EM simplification; expected
  * counts in floating point would break engine-exactness), and
  * pruning keeps the count-top pieces rather than re-estimating
  * likelihood loss per removal — both deviations documented here, not
  * hidden.
  *
  * Distributed shape: the corpus collapses to a DISTINCT-word
  * frequency table up front (the BPE discipline — segmentation cost
  * scales with vocabulary, not corpus); the piece table is
  * model-sized driver state broadcast as a map literal; each EM pass
  * is ONE codegen'd DP over the word table plus a vocab-sized count
  * aggregate; final segmentation is a narrow per-row expression (or
  * the [[withUnigramTokensPartitioned]] mapPartitions twin). */
object Unigram {

  /** One trained piece: surface, hard-EM count, integer log-score. */
  case class Piece(piece: String, cnt: Long, score: Long)

  /** Fixed-point log2 fraction bits. */
  val LogScaleBits: Int = 16

  /** Hard per-word length bound, enforced LOUDLY in both segmentation
    * paths: (a) a 512-char "word" is not natural-language input (a
    * whitespace-free CJK/binary run needs pre-segmentation — C4Clean's
    * territory), and (b) the bound is what makes [[Miss]] accumulation
    * overflow-free by arithmetic (512 · 2^53 = 2^62 < Long range); an
    * unbounded all-OOV run would wrap past Long.MinValue at ~4093
    * consecutive unknown characters and silently garble the argmax. */
  val MaxWordChars: Int = 512

  /** UTF-8 binary string order — what Spark's string comparison and
    * DuckDB's ORDER BY both implement. Java's String ordering compares
    * UTF-16 code units, which ranks supplementary-plane characters
    * (surrogates, < 0xE000) BEFORE U+E000..U+FFFF — the opposite of
    * codepoint/UTF-8 order — so every driver-side piece sort must use
    * this ordering or token ids drift from the engine-side sorts on
    * exotic vocabularies. */
  private[text] val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8")
      val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }
  }

  /** Codepoint length — what Spark's `length()`/`substr()` and
    * DuckDB's `length()` count. Java's `String.length` counts UTF-16
    * code units, so a supplementary-plane character (emoji, CJK
    * extensions) is 2 there but 1 everywhere the oracle looks; every
    * driver-side length decision must use THIS or the twin paths
    * silently diverge on astral input. */
  private[text] def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** UTF-16 offsets of each codepoint boundary in `w` (length
    * `cpLen(w) + 1`, first 0, last `w.length`) — the index map that
    * lets driver-side DP walk codepoints without ever splitting a
    * surrogate pair. */
  private[text] def cpOffsets(w: String): Array[Int] = {
    val out = new Array[Int](cpLen(w) + 1)
    var i = 0; var k = 0
    while (i < w.length) {
      out(k) = i; k += 1
      i += Character.charCount(w.codePointAt(i))
    }
    out(k) = w.length
    out
  }

  /** Sentinel score for out-of-vocab pieces: −2^53 — more negative
    * than any real path (scores are ≥ −(63·2^16) per piece) yet far
    * from Long overflow even summed over a pathological 512-char
    * word. */
  val Miss: Long = -(1L << 53)

  /** Piecewise-linear fixed-point log2: `msb·2^16 + (c − 2^msb)·2^16
    * / 2^msb` (floor). Exact integer arithmetic — `bin()`-derivable
    * in SQL — and monotone in `c`. Requires `0 < c < 2^46` (the
    * interpolation product must not overflow). */
  def ilog2f(c: Long): Long = {
    require(c > 0 && c < (1L << 46), s"ilog2f domain: 0 < $c < 2^46")
    val msb = 63 - java.lang.Long.numberOfLeadingZeros(c)
    (msb.toLong << LogScaleBits) +
      ((c - (1L << msb)) << LogScaleBits) / (1L << msb)
  }

  /** Distinct lowercase words with corpus frequencies — the working
    * set every training pass runs over. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.words(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** All substrings up to `maxPieceLen` with occurrence-weighted
    * counts (`freq` per occurrence, so a piece appearing twice in one
    * word counts twice) — the seed candidate pool. */
  def seedCounts(wf: DataFrame, maxPieceLen: Int): DataFrame =
    wf.select(col("freq"), explode(flatten(
        transform(sequence(lit(1), least(length(col("w")), lit(maxPieceLen))),
          d => transform(sequence(lit(1), length(col("w")) - d + 1),
            i => col("w").substr(i, d))))).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))

  /** The per-word Viterbi DP as ONE codegen'd expression: `dp(j+1)` =
    * the best (score, last-piece-length) reaching position `j`,
    * folded left to right with candidates over the last `maxLen`
    * characters; out-of-vocab pieces score [[Miss]]. Ties prefer the
    * longer piece (`array_max` over (s, d) structs — lexicographic).
    * A second bounded fold backtraces the piece sequence. Cost
    * O(len·maxLen) per word, no shuffle, no UDF. */
  private def viterbiTokens(w0: Column, scoreMap: Column,
                            maxLen: Int): Column = {
    // loud length guard (see MaxWordChars): a silent overflow would
    // garble segmentation; the oracle would error differently
    val w = when(length(w0) > lit(MaxWordChars),
      raise_error(concat(lit(s"Unigram: word longer than $MaxWordChars " +
        "chars ('"), substring(w0, 1, 32),
        lit("…') — pre-segment whitespace-free runs before tokenizing"))))
      .otherwise(w0)
    val n = length(w)
    val dp = aggregate(sequence(lit(1), n),
      array(struct(lit(0L).as("s"), lit(0).as("d"))),
      (acc, j) => concat(acc, array(array_max(
        transform(sequence(lit(1), least(j, lit(maxLen))), d =>
          struct((element_at(acc, j - d + 1).getField("s") +
            coalesce(try_element_at(scoreMap, w.substr(j - d + 1, d)),
              lit(Miss))).as("s"),
            d.cast("int").as("d")))))))
    val bt = aggregate(sequence(lit(1), n),
      struct(n.as("p"), array().cast("array<string>").as("t")),
      (st, _) => {
        val p = st.getField("p")
        val d = element_at(dp, p + 1).getField("d")
        when(p > 0,
          struct((p - d).as("p"),
            concat(st.getField("t"),
              array(w.substr(p - d + 1, d))).as("t")))
          .otherwise(st)
      }).getField("t")
    reverse(bt)
  }

  private def scoreMapLit(pieces: Seq[Piece]): Column =
    typedLit(pieces.map(p => p.piece -> p.score).toMap)

  private def withScores(counts: Seq[(String, Long)]): Seq[Piece] = {
    val total = counts.map(_._2).sum
    val lt = ilog2f(total)
    counts.map { case (p, c) => Piece(p, c, ilog2f(c) - lt) }
  }

  /** Train a unigram vocabulary over `df(textCol)`:
    *  1. seed = every single character plus the `seedMulti`
    *     count-top multi-char substrings (≤ `maxPieceLen`), scored
    *     `ilog2f(cnt) − ilog2f(total)`;
    *  2. `emIters` hard-EM passes: Viterbi-segment the distinct-word
    *     table under current scores, re-count pieces
    *     (occurrence-weighted, integer), drop multi-char pieces that
    *     won no occurrences (characters stay, floored at count 1 —
    *     coverage must survive), re-score;
    *  3. prune to `vocabSize`: all characters plus the count-top
    *     multi-char pieces (ties: lexicographically smaller piece),
    *     re-scored over the pruned total.
    * Returns pieces sorted by surface. All counts/scores integer —
    * the q150 oracle re-derives every step. */
  def trainUnigram(df: DataFrame, textCol: String, vocabSize: Int,
                   maxPieceLen: Int = 4, seedMulti: Int = 64,
                   emIters: Int = 1): Seq[Piece] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emIters >= 0, s"emIters must be >= 0, got $emIters")
    val wf = wordFreq(df, textCol).localCheckpoint(true)
    try {
      val sc = seedCounts(wf, maxPieceLen)
      val chars = sc.filter(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      if (chars.isEmpty) return Seq.empty
      val multi = sc.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece"))
        .limit(seedMulti)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      var vocab = withScores(chars ++ multi)
      for (_ <- 0 until emIters) {
        val counts = emCounts(wf, vocab, maxPieceLen)
        // cpLen, not String.length: the engine's seed filter counted
        // codepoints, so an astral single character must keep its
        // count-1 coverage floor here too
        vocab = withScores(
          vocab.filter(p => cpLen(p.piece) == 1)
            .map(p => p.piece -> math.max(counts.getOrElse(p.piece, 0L), 1L)) ++
          vocab.filter(p => cpLen(p.piece) > 1)
            .flatMap(p => counts.get(p.piece).map(p.piece -> _)))
      }
      val cs = vocab.filter(p => cpLen(p.piece) == 1)
      val keepMulti = vocab.filter(p => cpLen(p.piece) > 1)
        .sortBy(p => (-p.cnt, p.piece))(
          Ordering.Tuple2(Ordering.Long, utf8Order))
        .take(math.max(0, vocabSize - cs.length))
      withScores((cs ++ keepMulti).map(p => p.piece -> p.cnt))
        .sortBy(_.piece)(utf8Order)
    } finally graft.ops.StageCut.release(wf)
  }

  /** Conf key: vocabulary size above which [[trainUnigram]]'s hard-EM
    * counting pass routes through the [[viterbiScala]] mapPartitions
    * twin instead of the codegen'd expression DP. The expression path
    * carries the vocabulary as a `typedLit` map — ideal at gate-sized
    * vocabularies (zero broadcast, whole-stage codegen), but the map
    * literal bloats the plan linearly with vocabulary size and at the
    * 32k–128k pieces real tokenizers train it stops being viable
    * (plan analysis cost, Janino method limits). The twin is pinned
    * token-for-token equal (UnigramSpec), and per-piece counts are
    * order-free integer sums, so the two paths produce bit-identical
    * vocabularies — the route is a pure performance decision. */
  val EmExprMaxVocabKey = "spark.graft.unigram.emExprMaxVocab"

  /** Default for [[EmExprMaxVocabKey]]: past ~2k pieces the typedLit
    * plan cost dominates; gate configs (≤ 88 seed pieces) stay on the
    * expression path, so the bench keeps measuring codegen DP. */
  val DefaultEmExprMaxVocab = 2048

  /** One hard-EM counting pass: Viterbi-segment the distinct-word
    * table under `vocab`, sum occurrence-weighted integer counts per
    * piece. Expression path at small vocabularies, [[viterbiScala]]
    * mapPartitions past [[EmExprMaxVocabKey]] — identical counts
    * (spec-pinned; sums are associative integers). */
  private def emCounts(wf: DataFrame, vocab: Seq[Piece],
                       maxPieceLen: Int): Map[String, Long] = {
    val spark = wf.sparkSession
    val maxExpr = graft.ops.ProbeGuard.longConf(spark, EmExprMaxVocabKey,
      DefaultEmExprMaxVocab)
    val counted =
      if (vocab.size <= maxExpr)
        wf.select(col("freq"),
            explode(viterbiTokens(col("w"), scoreMapLit(vocab),
              maxPieceLen)).as("piece"))
          .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      else {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          vocab.map(p => p.piece -> p.score).toMap)
        wf.select(col("w"), col("freq")).as[(String, Long)]
          .mapPartitions { it =>
            val sc = bc.value
            it.flatMap { case (w, f) =>
              viterbiScala(w, sc, maxPieceLen).map(_ -> f) }
          }
          .toDF("piece", "cnt")
          .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
      }
    counted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Per-document unigram segmentation: `(idCol, pos, token)` — each
    * word Viterbi-segmented under the trained vocabulary, tokens
    * numbered 0.. in document order.
    *
    * Since r20 this DISPATCHES to the [[withUnigramTokensPartitioned]]
    * mapPartitions twin whenever the id column is integral (the twin's
    * one precondition): the expression-path DP builds and tears down
    * O(len) struct arrays per word inside Catalyst aggregates, and a
    * head-to-head at sf0.1 measured the twin 9.2× faster (4.56 s →
    * 0.49 s) with token-for-token pinned equality (UnigramSpec's twin
    * tests, and the q151/q152 oracle hashes are unchanged). Exotic id
    * types keep the expression path ([[withUnigramTokensExpr]]). */
  def withUnigramTokens(df: DataFrame, idCol: String, textCol: String,
                        vocab: Seq[Piece],
                        maxPieceLen: Int = 4): DataFrame =
    if (Set("long", "int", "integer", "short", "byte")
        .contains(df.schema(idCol).dataType.typeName))
      withUnigramTokensPartitioned(df, idCol, textCol, vocab, maxPieceLen)
    else withUnigramTokensExpr(df, idCol, textCol, vocab, maxPieceLen)

  /** The codegen'd EXPRESSION form of the segmentation — one narrow
    * pass, vocabulary as a map literal. The construction that mirrors
    * the SQL oracle's recursive-CTE DP; kept as the pinning twin (and
    * the path for non-integral id columns). */
  private[graft] def withUnigramTokensExpr(df: DataFrame, idCol: String,
                                          textCol: String,
                                          vocab: Seq[Piece],
                                          maxPieceLen: Int = 4): DataFrame = {
    val sm = scoreMapLit(vocab)
    df.select(col(idCol),
        posexplode(flatten(transform(
          filter(TextOps.words(lower(col(textCol))), w => length(w) > 0),
          w => viterbiTokens(w, sm, maxPieceLen)))).as(Seq("pos", "token")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token"))
  }

  /** Driver-side Viterbi twin (same scores, same tie-breaks) — the
    * scale path: segmentation as plain Scala over mapPartitions with
    * the vocab broadcast once per executor, no per-row expression
    * evaluation of a map literal. UnigramSpec pins token-for-token
    * equality with [[withUnigramTokens]]. */
  private[text] def viterbiScala(w: String, scores: Map[String, Long],
                                 maxLen: Int): Seq[String] = {
    // codepoint indexing throughout — the engine path's substr/length
    // count codepoints, and UTF-16 indices would split surrogate
    // pairs into invalid tokens on supplementary-plane input
    val off = cpOffsets(w)
    val n = off.length - 1
    if (n == 0) return Seq.empty
    require(n <= MaxWordChars,
      s"Unigram: word longer than $MaxWordChars chars " +
        s"('${w.take(32)}…') — pre-segment whitespace-free runs " +
        "before tokenizing")
    val best = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var bs = Long.MinValue
      var bd = 0
      var d = 1
      val dm = math.min(j, maxLen)
      while (d <= dm) {
        val s = best(j - d) +
          scores.getOrElse(w.substring(off(j - d), off(j)), Miss)
        // strict >=: later (larger) d wins ties — array_max's
        // lexicographic (s, d) preference
        if (s >= bs) { bs = s; bd = d }
        d += 1
      }
      best(j) = bs; bp(j) = bd
      j += 1
    }
    var p = n
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (p > 0) {
      out += w.substring(off(p - bp(p)), off(p)); p -= bp(p)
    }
    out.reverse.toSeq
  }

  /** [[withUnigramTokens]] on the mapPartitions scale path. */
  def withUnigramTokensPartitioned(df: DataFrame, idCol: String,
                                   textCol: String, vocab: Seq[Piece],
                                   maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the rows ride as (Long, String) pairs — a non-integral id would
    // silently null out under a cast; fail loudly instead (the
    // expression path handles any id type)
    require(Set("long", "int", "integer", "short", "byte")
        .contains(df.schema(idCol).dataType.typeName),
      s"withUnigramTokensPartitioned needs an integral $idCol, got " +
        s"${df.schema(idCol).dataType.typeName} — use withUnigramTokens " +
        "for other id types")
    val scores = vocab.map(p => p.piece -> p.score).toMap
    val bc = spark.sparkContext.broadcast(scores)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val sc = bc.value
        it.flatMap { case (id, text) =>
          // Locale.ROOT: Spark's lower() takes the locale-independent
          // path — a tr_TR default locale would map 'I' to dotless ı
          // here and break the pinned twin equality
          val toks = Option(text).toSeq
            .flatMap(_.toLowerCase(java.util.Locale.ROOT)
              .trim.split("\\s+").toSeq)
            .filter(_.nonEmpty)
            .flatMap(w => viterbiScala(w, sc, maxPieceLen))
          toks.zipWithIndex.map { case (t, i) => (id, i.toLong, t) }
        }
      }
      .toDF(idCol, "pos", "token")
  }

  /** ENCODE to unigram token ids — the [[TextOps.withBpeTokenIds]]
    * contract on this family: `(idCol, pos, token, token_id)` with
    * ids = the vocabulary's piece rank in surface order (stable
    * across engines: pieces are unique and sorted), resolved via a
    * BROADCAST join (never a map-literal lookup — O(1) per token, no
    * shuffle). Pieces outside the vocabulary (an OOV character a
    * held-out doc introduced) encode as -1, the UNK sentinel. */
  def withUnigramTokenIds(df: DataFrame, idCol: String, textCol: String,
                          vocab: Seq[Piece],
                          maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // internal rank name: a caller idCol of "id" must not collide;
    // UTF-8 order matches the engine-side ORDER BY (see utf8Order)
    val vocabDf = vocab.map(_.piece).sorted(utf8Order).zipWithIndex
      .map { case (p, i) => (p, i) }.toDF("token", "_uid")
    withUnigramTokens(df, idCol, textCol, vocab, maxPieceLen)
      .join(broadcast(vocabDf), Seq("token"), "left")
      .select(col(idCol), col("pos"), col("token"),
        coalesce(col("_uid"), lit(-1)).as("token_id"))
  }

  /** The trained vocabulary as a gate-comparable frame. */
  def vocabRows(spark: SparkSession, vocab: Seq[Piece]): DataFrame = {
    import spark.implicits._
    vocab.map(p => (p.piece, p.cnt, p.score)).toDF("piece", "cnt", "score")
  }

  /** Persist / reload the vocabulary artifact (the
    * [[TextOps.saveTokenizer]] contract: train once, segment daily
    * batches against FROZEN pieces). Load fails loudly on wrong
    * columns or duplicate pieces. */
  def saveVocab(spark: SparkSession, path: String,
                vocab: Seq[Piece]): Unit =
    vocabRows(spark, vocab).coalesce(1).write.mode("overwrite").parquet(path)

  def loadVocab(spark: SparkSession, path: String): Seq[Piece] = {
    val df = spark.read.parquet(path)
    require(df.columns.toSet == Set("piece", "cnt", "score"),
      s"not a unigram vocab artifact: ${df.columns.mkString(",")}")
    val rows = df.collect()
      .map(r => Piece(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.piece)(utf8Order).toSeq
    require(rows.map(_.piece).distinct.length == rows.length,
      s"unigram vocab artifact at $path carries duplicate pieces")
    rows
  }
}
