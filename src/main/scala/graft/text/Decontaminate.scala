package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the standard LLM-pipeline defense
  * against test-set leakage: a training document is CONTAMINATED when
  * it shares any word n-gram with a held-out benchmark/eval set (the
  * published recipe uses 13-grams; the n is a parameter because
  * sensible values differ with tokenization). Scale shape:
  *
  *   - the benchmark side is distilled to its DISTINCT n-gram set
  *     once and BROADCAST — eval sets are small by definition (MBs
  *     against a 100 TB corpus), and the broadcast turns the
  *     corpus-side probe into a narrow map stage: no corpus shuffle
  *     at all until the per-doc hit aggregation. The size contract is
  *     ENFORCED ([[graft.ops.ProbeGuard]]): the gram set is counted
  *     first, and a mispointed corpus-sized "benchmark" falls back to
  *     the sort-merge semi join loudly instead of OOMing the driver;
  *   - the corpus side stages its per-doc DISTINCT shingle array in
  *     one pass ([[TextOps.withShingles]] — staged words, linear not
  *     quadratic in doc length) and explodes (doc_id, n-gram) pairs —
  *     never the text — through the broadcast semi-probe, then ONE
  *     hash-groupBy on doc_id (map-side combined) counts matched
  *     grams;
  *   - the report join-back is (doc_id)-keyed only, so document text
  *     crosses no shuffle anywhere in the plan.
  *
  * N-grams are matched as exact strings over the shared normalized
  * tokenization ([[TextOps.words]] of lowercased text) — no hashing,
  * so there are no false positives and any SQL oracle reproduces the
  * decision bit-for-bit.
  */
object Decontaminate {

  /** Memoized bench gram caches, KEYED on (analyzed bench plan,
    * textCol, n) and bounded: repeated scrubs against the same
    * benchmark reuse ONE cache entry instead of stacking a persisted
    * frame per call (the round-18 version leaked one per invocation),
    * and the LRU-evicted entry is unpersisted on the way out. 8
    * live benchmarks is far past any real decontamination session;
    * each entry is MBs by the benchmark-size contract. */
  private val gramCache = new java.util.LinkedHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
      DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
        DataFrame]): Boolean =
      if (size > 8) {
        // best-effort: the evicted frame may belong to an already
        // STOPPED SparkSession (multi-session process, test suites) —
        // its unpersist would throw from inside the map insertion and
        // fail an unrelated later benchGrams call (ADVICE r19). The
        // StageCut.release precedent: swallow NonFatal, still evict.
        try e.getValue.unpersist()
        catch { case scala.util.control.NonFatal(_) => () }
        true
      } else false
  }

  /** Budget for the r20 ROW-PATH tier: the benchmark gram set is
    * COLLECTED (bounded, like [[withContamination]]'s broadcast) and
    * each corpus row counts its distinct-gram hits in one codegen'd
    * scan expression ([[graft.functions.BenchGramCount]]) — zero
    * explode, zero exchange, the text never leaves its scan (6.10 s →
    * 2.64 s on the q82 shape at sf0.1). It is [[withContamination]]'s
    * 2M-gram broadcast budget (a 13-gram eval suite sits far below);
    * the effective budget is `min(this, spark.graft.probe.maxKeys)`, so
    * forcing the ProbeGuard cap down (the ProbeGuardSpec fallback
    * drills, a mispointed corpus-sized "benchmark") declines the row
    * path and lands on the existing tiered probe/Bloom/sort-merge
    * ladder unchanged; a cap `<= 0` turns the guard off, as at every
    * ProbeGuard site, and leaves this budget alone. */
  val DefaultRowPathMaxGrams = 2000000L

  /** Memoized COLLECTED gram sets for the row-path tier — bounded
    * like [[gramCache]] (driver strings, MBs by the benchmark-size
    * contract the budget enforces). */
  private val gramSetCache = new java.util.LinkedHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
      java.util.HashSet[String]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
        java.util.HashSet[String]]): Boolean = size > 8
  }

  /** The row-path gram set, if the benchmark fits the budget: the
    * LIMIT-bounded count probes the persisted gram frame first (the
    * same count discipline ProbeGuard's tiers run), so a mispointed
    * corpus-sized frame declines cheaply instead of OOMing the
    * driver. */
  private def rowPathGrams(bench: DataFrame, textCol: String,
                           n: Int): Option[java.util.HashSet[String]] = {
    val cap = graft.ops.ProbeGuard.longConf(bench.sparkSession,
      graft.ops.ProbeGuard.ConfKey, graft.ops.ProbeGuard.DefaultMaxKeys)
    val budget =
      if (cap <= 0L) DefaultRowPathMaxGrams
      else math.min(DefaultRowPathMaxGrams, cap)
    val key = (bench.queryExecution.analyzed, textCol, n)
    gramSetCache.synchronized {
      val hit = gramSetCache.get(key)
      // a cached set only short-circuits when it fits the CURRENT
      // budget — a session that lowered spark.graft.probe.maxKeys after a
      // larger run must still land on the tiered ladder
      if (hit != null && hit.size <= budget) return Some(hit)
    }
    val grams = benchGrams(bench, textCol, n)
    val probed = grams.limit(budget.toInt + 1).count()
    if (probed > budget) None
    else {
      val set = new java.util.HashSet[String]()
      grams.limit(budget.toInt).collect().foreach(r => set.add(r.getString(0)))
      gramSetCache.synchronized { gramSetCache.put(key, set) }
      Some(set)
    }
  }

  private def gramCountCol(textCol: String,
                           set: java.util.HashSet[String],
                           n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.BenchGramCount(
      bridge.expression(col(textCol)), set, n))
  }

  /** The benchmark's distinct n-gram set, as a 1-column frame of
    * `_gram` — distilled once, broadcast at both call sites.
    * Persisted so the ProbeGuard's eager count and the probe join
    * share ONE evaluation of the bench-side shingle+distinct (the
    * guard otherwise doubles it — measured as the q82 drift in
    * round 17); memoized in [[gramCache]] so repeated calls share one
    * entry. */
  private def benchGrams(bench: DataFrame, textCol: String,
                         n: Int): DataFrame = gramCache.synchronized {
    gramCache.computeIfAbsent(
      (bench.queryExecution.analyzed, textCol, n),
      _ => TextOps.withShingles(bench.select(col(textCol)), textCol, "_sh", n)
        .select(explode(col("_sh")).as("_gram"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** (doc_id, matched-gram) pairs: corpus shingles semi-probed through
    * the broadcast benchmark set. Per-doc shingle arrays are already
    * distinct, so downstream counts need no count_distinct. */
  private def corpusHits(corpus: DataFrame, grams: DataFrame,
                         idCol: String, textCol: String,
                         n: Int): DataFrame = {
    val shingled = TextOps.withShingles(
        corpus.select(col(idCol), col(textCol)), textCol, "_sh", n)
      .select(col(idCol), explode(col("_sh")).as("_gram"))
    // tiered guard: a contract-sized benchmark broadcasts; a
    // mispointed corpus-scale "benchmark" Bloom-reduces the corpus
    // shingle stream at its scan (or, beyond the Bloom cap, falls back
    // to the sort-merge) instead of OOMing the driver
    val t = graft.ops.ProbeGuard.tiered(shingled, grams, Seq("_gram"),
      "Decontaminate.benchGrams")
    t.standing.join(t.keys, Seq("_gram"), "left_semi")
  }

  /** Per-document contamination report: `(idCol, n_bad_grams,
    * contaminated)` for every corpus row — `n_bad_grams` = how many
    * DISTINCT benchmark n-grams the document contains, `contaminated`
    * = n_bad_grams > 0. Documents shorter than n words are trivially
    * clean. */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    rowPathGrams(bench, textCol, n) match {
      case Some(set) =>
        // row-path tier (r20): one codegen'd membership count per
        // row — no explode, no exchange, no join-back
        corpus.select(col(idCol),
          gramCountCol(textCol, set, n).as("n_bad_grams"))
          .select(col(idCol), col("n_bad_grams"),
            (col("n_bad_grams") > 0).as("contaminated"))
      case None =>
        val hits = corpusHits(corpus, benchGrams(bench, textCol, n),
            idCol, textCol, n)
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_bad_grams"))
        corpus.select(col(idCol))
          .join(hits, Seq(idCol), "left")
          .select(col(idCol),
            coalesce(col("n_bad_grams"), lit(0L)).as("n_bad_grams"),
            (coalesce(col("n_bad_grams"), lit(0L)) > 0).as("contaminated"))
    }
  }

  /** The clean corpus: every row whose document shares NO word n-gram
    * with the benchmark set. Same broadcast-probe plan as
    * [[contaminationReport]], aggregated to an anti-join — the anti
    * side carries doc ids only, so the corpus text itself still never
    * shuffles. */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    // bad ids from the row-path count when the benchmark fits the
    // budget (no explode, no gram exchange); the id-keyed anti-join
    // stays so duplicate-id corpora keep the id-level drop rule
    val badIds = rowPathGrams(bench, textCol, n) match {
      case Some(set) =>
        corpus.filter(gramCountCol(textCol, set, n) > 0)
          .select(col(idCol)).distinct()
      case None =>
        corpusHits(corpus, benchGrams(bench, textCol, n),
            idCol, textCol, n)
          .select(col(idCol)).distinct()
    }
    corpus.join(badIds, Seq(idCol), "left_anti")
  }

  /** EMBEDDING-SPACE contamination report — the paraphrase-robust
    * complement to the exact 13-gram probe above: a training vector is
    * flagged when any benchmark vector sits within cosine >= `minCos`,
    * which catches reworded test questions verbatim n-grams miss.
    *
    * Pair finding delegates to the A-vs-B cosine join
    * ([[graft.dedup.SimilarJoin.similarJoinAgainst]], corpus probed
    * into cells trained on the BENCHMARK side — the small index side,
    * same train-once shape as incremental curation; pass a pre-trained
    * [[graft.sim.CellIndex]] to skip training). The blocking is EXACT
    * (directed triangle-inequality bound), so the report equals brute
    * force; candidate work ∝ |corpus| probes against a benchmark-sized
    * index, never corpus × corpus.
    *
    * Returns one row per corpus vector: `(idCol, n_close, max_cos,
    * contaminated)` — `n_close` = how many benchmark vectors are
    * within the threshold, `max_cos` = the closest one's cosine
    * (rounded to 6dp, the shared verify rounding; 0.0 for clean rows —
    * cosine >= minCos > 0 for every hit, so 0 is unambiguous). */
  def embeddingContaminationReport(corpus: DataFrame, bench: DataFrame,
                                   idCol: String, vecCol: String,
                                   minCos: Double, numCells: Int = 0,
                                   index: Option[graft.sim.CellIndex] = None,
                                   maxBucket: Int = graft.dedup.Dedup.defaultMaxBucket): DataFrame = {
    require(minCos > 0.0, s"minCos must be positive, got $minCos")
    val hits = graft.dedup.SimilarJoin.similarJoinAgainst(
        corpus.select(col(idCol), col(vecCol)),
        bench.select(col(idCol), col(vecCol)),
        idCol, vecCol,
        graft.dedup.SimilarityMethod.EmbeddingCosine(minCos,
          numCells = numCells, index = index),
        maxBucket = maxBucket)
      .groupBy(col("id_a").as(idCol))
      .agg(count(lit(1)).as("n_close"), max(col("score")).as("max_cos"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
        coalesce(col("n_close"), lit(0L)).>(0).as("contaminated"))
  }

  /** [[contaminationReport]] as a PER-ROW pass — no join, no groupBy,
    * no state — so decontamination runs unchanged inside a Structured
    * Streaming `readStream → transform → writeStream` (flag
    * contaminated documents as they are crawled). The benchmark's
    * distinct n-gram set is collected once and broadcast — eval sets
    * are MBs by definition (the same object the batch path already
    * broadcasts into its semi-join), and `maxBenchGrams` enforces that
    * definition: the collect is LIMIT-bounded, so pointing this at a
    * corpus-sized frame fails with a message instead of a driver OOM
    * (the artifact-validation idiom). The corpus side never joins or
    * shuffles; the id column passes through untouched (any type).
    * Tokenization and shingling mirror the column version exactly —
    * `DecontaminateSpec` pins per-row == batch on the real corpus.
    * Adds `n_bad_grams` (distinct matching grams) and
    * `contaminated`.
    *
    * NOTE on the default budget: `maxBenchGrams` tightened 10,000,000
    * → 2,000,000 in round 13 (the old default let a ~1 GB broadcast
    * through silently; a 13-gram eval suite in the few-MB range sits
    * well under 2M distinct grams). Callers with genuinely larger
    * bench sets pass a higher budget explicitly — the guard is a
    * mispointed-argument tripwire, not a hard capability limit. */
  def withContamination(docs: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, n: Int,
                        maxBenchGrams: Int = 2000000): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(maxBenchGrams >= 1 && maxBenchGrams < Int.MaxValue,
      s"maxBenchGrams must be in [1, ${Int.MaxValue}), got $maxBenchGrams")
    val spark = docs.sparkSession
    // the budget check is a COUNT over limit(max+1) — the limit stops
    // the scan early on a mispointed corpus-sized frame and the count
    // moves no gram strings to the driver, so the guard itself cannot
    // OOM (the earlier limit+collect guard still pulled up to max+1
    // strings — ~GBs near the budget — before its require fired). Only
    // a frame that PASSED the check is then collected — and that
    // second evaluation is ALSO limit-bounded: the probe and the
    // collect are two separate evaluations of an uncached frame, so a
    // source that grew (or is nondeterministic) between them would
    // otherwise blow past the budget the probe just enforced. On a
    // static frame the bounded collect returns the identical set.
    val grams = benchGrams(bench, textCol, n)
    val probed = grams.limit(maxBenchGrams + 1).count()
    require(probed <= maxBenchGrams,
      s"benchmark side has > $maxBenchGrams distinct $n-grams — " +
        "withContamination broadcasts the BENCHMARK set (eval sets are " +
        "MBs by definition); a frame this large is almost certainly the " +
        "corpus side. Swap the arguments, use the batch " +
        "contaminationReport, or raise maxBenchGrams explicitly.")
    val arr = grams.limit(maxBenchGrams).collect().map(_.getString(0))
    val bc = spark.sparkContext.broadcast(arr.toSet)
    val idField = docs.schema(idCol)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(idField,
      org.apache.spark.sql.types.StructField("n_bad_grams",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("contaminated",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    docs.select(col(idCol),
        coalesce(col(textCol), lit("")).cast("string").as("_text"))
      .mapPartitions { it =>
        val g = bc.value
        it.map { r =>
          // mirror TextOps.withShingles: split(trim(lower)), n-window
          // space-joined grams, DISTINCT per doc
          val ws = r.getString(1).toLowerCase.trim.split("\\s+")
          val mine =
            if (ws.length >= n) ws.sliding(n).map(_.mkString(" ")).toSet
            else Set.empty[String]
          val bad = mine.count(g.contains).toLong
          org.apache.spark.sql.Row(r.get(0), bad, bad > 0)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF(idCol, "n_bad_grams", "contaminated")
  }

  /** The embedding-clean corpus: rows whose vector is NOT within
    * cosine `minCos` of any benchmark vector. Anti side carries ids
    * only — corpus payloads never shuffle. */
  def decontaminateByEmbedding(corpus: DataFrame, bench: DataFrame,
                               idCol: String, vecCol: String,
                               minCos: Double, numCells: Int = 0,
                               index: Option[graft.sim.CellIndex] = None,
                               maxBucket: Int = graft.dedup.Dedup.defaultMaxBucket): DataFrame = {
    require(minCos > 0.0, s"minCos must be positive, got $minCos")
    val badIds = graft.dedup.SimilarJoin.similarJoinAgainst(
        corpus.select(col(idCol), col(vecCol)),
        bench.select(col(idCol), col(vecCol)),
        idCol, vecCol,
        graft.dedup.SimilarityMethod.EmbeddingCosine(minCos,
          numCells = numCells, index = index),
        maxBucket = maxBucket)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(badIds, Seq(idCol), "left_anti")
  }
}
