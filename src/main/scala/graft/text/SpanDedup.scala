package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document duplicated-SPAN detection — the substring-level
  * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
  * Makes Language Models Better", public knowledge), approximated at
  * n-gram granularity: a position belongs to a duplicated span when
  * the n-gram starting there also occurs in ≥ `minDocs`-1 OTHER
  * documents; overlapping/adjacent duplicated positions merge into
  * maximal spans. Doc-level dedup (exact / MinHash / SimHash) misses
  * exactly this: boilerplate paragraphs shared across otherwise
  * distinct pages.
  *
  * Scale shape (suffix arrays don't distribute; this does):
  *  1. ONE narrow explode of the corpus token stream into positioned
  *     n-gram hashes — md5 at the explode, so every shuffle after it
  *     carries fixed-width hashes, never n-word strings;
  *  2. hash-keyed count(DISTINCT doc) with map-side partial
  *     aggregation — the only corpus-sized shuffle;
  *  3. the duplicated-hash set (usually a small fraction) joins back
  *     against the positioned grams on the hash key;
  *  4. span assembly is the sessionize pattern per document: running
  *     max of preceding positions flags gap starts, a running sum
  *     numbers spans, one doc-keyed aggregate emits
  *     `(doc, start_tok, end_tok, n_dup_grams)`.
  * Nothing is collected; no window is wider than one document.
  */
object SpanDedup {

  /** Positioned n-gram hashes: `(<idCol>, p, h)` with `p` the 0-based
    * token offset and `h` = md5 of the space-joined n-gram. */
  private[text] def positionedGrams(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val gramTy = "array<struct<p:int,h:string>>"
    df.select(col(idCol), TextOps.words(lower(col(textCol))).as("_w"))
      .select(col(idCol), explode(
        when(size(col("_w")) >= n,
          transform(sequence(lit(1), size(col("_w")) - (n - 1)),
            i => struct((i - 1).as("p"),
              md5(concat_ws(" ", slice(col("_w"), i, lit(n)))).as("h"))))
          .otherwise(array().cast(gramTy))).as("_s"))
      .select(col(idCol), col("_s.p").as("p"), col("_s.h").as("h"))
  }

  /** Maximal cross-document duplicated spans:
    * `(<idCol>, start_tok, end_tok, n_dup_grams)` (token offsets
    * inclusive), one row per maximal run of positions whose n-gram
    * occurs in at least `minDocs` distinct documents. Adjacent or
    * overlapping duplicated n-grams merge (gap rule: a new span
    * starts when `p > prev_max_p + n`, i.e. coverage no longer
    * touches). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = positionedGrams(df, idCol, textCol, n)
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("h"))
    mergeSpans(grams.join(dup, Seq("h")).select(col(idCol), col("p")),
      idCol, n)
  }

  /** The INCREMENTAL form every other dedup method here has: spans of
    * a NEW batch duplicated against a STANDING corpus — a position
    * hits when its n-gram occurs anywhere in the corpus. The corpus
    * side distills to the HIT set under the
    * [[graft.ops.ProbeGuard.standingHits]] tiered contract (the batch
    * gram hashes are counted; the corpus gram stream is then scanned
    * — broadcast-probed or Bloom-filtered — so its distinct
    * aggregation exchanges ~batch-matching rows, not every distinct
    * corpus gram; the full corpus-distinct sort-merge runs only
    * beyond the Bloom cap, loudly). Same output shape as
    * [[duplicatedSpans]]. */
  def duplicatedSpansAgainst(newDf: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val newGrams = positionedGrams(newDf, idCol, textCol, n)
    val hits = newGrams
      .join(corpusHitSet(corpus, newGrams, idCol, textCol, n), Seq("h"))
      .select(col(idCol), col("p"))
    mergeSpans(hits, idCol, n)
  }

  /** Shared corpus-side distillation for the A-vs-B span forms: the
    * distinct corpus gram hashes that occur in the batch, tier-guarded
    * (see [[duplicatedSpansAgainst]]). */
  private def corpusHitSet(corpus: DataFrame, newGrams: DataFrame,
                           idCol: String, textCol: String,
                           n: Int): DataFrame =
    graft.ops.ProbeGuard.standingHits(
      positionedGrams(corpus, idCol, textCol, n).select(col("h")),
      newGrams.select(col("h")).distinct(), Seq("h"),
      "SpanDedup.spansAgainst")

  /** Sessionize-pattern interval merge of duplicated positions into
    * maximal spans (shared by the self and A-vs-B detectors). */
  private def mergeSpans(hits: DataFrame, idCol: String,
                         n: Int): DataFrame = {
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("p"))
    hits
      .withColumn("_prevMax", max(col("p")).over(wPrev))
      .withColumn("_nf",
        when(col("_prevMax").isNull || col("p") > col("_prevMax") + n, 1)
          .otherwise(0))
      .withColumn("_sid", sum(col("_nf")).over(wRun))
      .groupBy(col(idCol), col("_sid"))
      .agg(min(col("p")).as("start_tok"),
        (max(col("p")) + lit(n - 1)).as("end_tok"),
        count(lit(1)).as("n_dup_grams"))
      .drop("_sid")
  }

  /** The removal step: every token covered by a duplicated n-gram is
    * cut from every document (the aggressive Lee-et-al policy; a
    * keep-one-copy policy needs a canonical-owner choice that is
    * deployment-specific). Returns `(<idCol>, clean_text, n_kept)` —
    * documents whose every token is covered disappear (nothing left
    * to keep). Shape (r20): the duplicated hit positions aggregate to
    * per-doc merged cover intervals and each document rebuilds in its
    * own row ([[scrubByHits]]) — the corpus text crosses at most one
    * exchange instead of pos-exploding every token through an
    * (id, pos) anti-join and a doc-keyed sort-aggregate. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = positionedGrams(df, idCol, textCol, n)
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("h"))
    scrubByHits(df, idCol, textCol, n, grams.join(dup, Seq("h")))
  }

  /** The incremental removal: tokens of a NEW batch covered by an
    * n-gram the standing corpus already contains are scrubbed — what
    * an ingest pipeline applies after [[duplicatedSpansAgainst]]
    * flags the boilerplate. Same tier-guarded corpus-side
    * distillation ([[corpusHitSet]]). */
  def removeDuplicatedSpansAgainst(newDf: DataFrame, corpus: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val newGrams = positionedGrams(newDf, idCol, textCol, n)
    val hits = newGrams
      .join(corpusHitSet(corpus, newGrams, idCol, textCol, n), Seq("h"))
    scrubByHits(newDf, idCol, textCol, n, hits)
  }

  /** The corpus-side train-once artifact for [[removeDuplicatedSpansWithCounts]]:
    * per-n-gram DISTINCT-document counts `(h, nd)` over the corpus —
    * one pass, fixed-width rows (md5 + count), stored as parquet and
    * appended to as batches are accepted (union + re-aggregate, or
    * keep per-increment tables and sum at read). Built over the text
    * the scrub stage actually saw (PRE-scrub), the counts make the
    * incremental threshold arithmetic match a full-run replay
    * exactly. */
  def gramDocCounts(corpus: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    positionedGrams(corpus, idCol, textCol, n)
      .groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
  }

  /** The MULTIPLICITY-exact incremental removal — what
    * [[removeDuplicatedSpansAgainst]] cannot express: a batch position
    * is scrubbed when its n-gram's document count across BATCH +
    * STANDING CORPUS reaches `minDocs`, exactly the rule
    * [[removeDuplicatedSpans]] applies in a full run over the union
    * (the against-form's any-corpus-hit rule is the minDocs-irrelevant
    * special case). `corpusCounts` is the stored [[gramDocCounts]]
    * artifact `(h, nd)`.
    *
    * PRECONDITION — disjoint id sets: a document id present in BOTH
    * the batch and the corpus the counts were built over is counted
    * twice toward `minDocs` (once in the batch's distinct-doc count,
    * once in the artifact's `nd`), which over-scrubs versus a
    * full-run replay over the true union. The artifact carries no ids,
    * so this is not checkable here; an ingest pipeline's daily batches
    * are new ids by construction (and an at-least-once replay must
    * dedup by id BEFORE this call, not after). The double-count
    * behavior is pinned in SpanDedupSpec.
    *
    * Scale shape: batch grams aggregate to per-hash counts (batch-
    * sized), and the corpus-vs-batch count join runs under the
    * [[graft.ops.ProbeGuard]] TIERED contract: within
    * `spark.graft.probe.maxKeys` the batch counts broadcast (the corpus
    * artifact streams through a scan-side hash join — zero exchange);
    * batch gram sets routinely EXCEED broadcast scale, and then the
    * Bloom tier filters the artifact's scan by a
    * `might_contain(xxhash64(h))` built from the batch hashes, so the
    * exchange the sort-merge join needs carries ~matching + fpp x
    * corpus rows instead of the whole artifact — bit-identical either
    * way (Bloom false positives fail the real join; false negatives
    * are impossible). Beyond `spark.graft.probe.bloomMaxKeys` the plan falls
    * back to the full sort-merge, loudly. The guard's count + Bloom
    * build re-evaluate the batch gram aggregation (one extra pass over
    * the batch text each — the pipelines hand this function a
    * stage-cut `newDf`, so the pass is cache-fed); the scrub tail is
    * [[removeDuplicatedSpans]]'s. */
  def removeDuplicatedSpansWithCounts(newDf: DataFrame,
                                      corpusCounts: DataFrame,
                                      idCol: String, textCol: String,
                                      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(corpusCounts.columns.toSet == Set("h", "nd"),
      s"corpusCounts must be a gramDocCounts artifact (h, nd), got " +
        s"(${corpusCounts.columns.mkString(", ")})")
    val grams = positionedGrams(newDf, idCol, textCol, n)
    val batchCounts = grams.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_bnd"))
    // batch-only grams crossing the threshold alone, plus grams whose
    // batch+corpus total crosses it; the inner join keeps the corpus
    // artifact on the scanned side (tiered shape — see the scaladoc)
    val t = graft.ops.ProbeGuard.tiered(
      corpusCounts, batchCounts, Seq("h"), "SpanDedup.gramCountJoin")
    val dup = batchCounts.filter(col("_bnd") >= minDocs).select(col("h"))
      .unionByName(t.standing.join(t.keys, Seq("h"))
        .filter(col("_bnd") + col("nd") >= minDocs).select(col("h")))
      .distinct()
    scrubByHits(newDf, idCol, textCol, n, grams.join(dup, Seq("h")))
  }

  /** Shared removal tail (r20 shape): the hit positions aggregate to
    * per-document MERGED COVER INTERVALS — a doc's duplicated spans
    * are few once merged — and each document rebuilds IN ITS OWN ROW
    * by filtering its token array against those intervals. The
    * document text crosses at most one exchange (the id join; none at
    * all when the interval table broadcasts), where the pre-r20 tail
    * pos-exploded every token through the (id, pos) anti-join exchange
    * and a doc-keyed sort-aggregate rebuild — the whole corpus token
    * stream shuffled twice. Same outputs row-for-row (the
    * [[scrubByHitsExploded]] twin, pinned in SpanDedupSpec): tokens
    * kept in position order joined by single spaces, `n_kept` = kept
    * count, documents with every token covered (or null text)
    * disappear. */
  private def scrubByHits(df: DataFrame, idCol: String, textCol: String,
                          n: Int, hits: DataFrame): DataFrame = {
    val ivTy = "array<struct<s:int,e:int>>"
    // sorted distinct gram starts fold into merged [s, e] cover
    // intervals: a start within (last start + n) touches the previous
    // gram's coverage [p, p+n-1], so the interval extends; otherwise a
    // new interval opens. O(starts) fold per doc, intervals stay few.
    val ivs = hits
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("p"))).as("_ps"))
      .select(col(idCol), aggregate(col("_ps"),
        array().cast(ivTy),
        (acc, p) => {
          val last = element_at(acc, size(acc))
          when(size(acc) === 0 || p > last.getField("e") + 1,
            concat(acc, array(struct(p.cast("int").as("s"),
              (p + (n - 1)).cast("int").as("e")))))
            .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(last.getField("s").as("s"),
                (p + (n - 1)).cast("int").as("e")))))
        }).as("_iv"))
    val w = TextOps.words(lower(col(textCol)))
    val idxTokens = filter(
      zip_with(col("_w"), sequence(lit(0), size(col("_w")) - 1),
        (tk, i) => struct(tk.as("tk"), i.as("i"))),
      s => !exists(col("_iv"),
        iv => s.getField("i") >= iv.getField("s") &&
          s.getField("i") <= iv.getField("e")))
    df.select(col(idCol), w.as("_w"))
      .filter(col("_w").isNotNull)
      .join(ivs, Seq(idCol), "left")
      .withColumn("_iv", coalesce(col("_iv"), array().cast(ivTy)))
      .withColumn("_kept", transform(idxTokens, s => s.getField("tk")))
      .filter(size(col("_kept")) > 0)
      .select(col(idCol),
        concat_ws(" ", col("_kept")).as("clean_text"),
        size(col("_kept")).cast("long").as("n_kept"))
  }

  /** The pre-r20 removal tail — expand hit positions to covered token
    * offsets, anti-join the positioned token stream, rebuild each
    * document with a doc-keyed sort-aggregate. Kept as the
    * independently-shaped value twin for SpanDedupSpec's
    * scrub-equality pin. */
  private[graft] def scrubByHitsExploded(df: DataFrame, idCol: String,
                          textCol: String,
                          n: Int, hits: DataFrame): DataFrame = {
    val covered = hits
      .select(col(idCol), explode(sequence(col("p"), col("p") + (n - 1)))
        .as("pos"))
      .distinct()
    df.select(col(idCol),
        posexplode(TextOps.words(lower(col(textCol)))).as(Seq("pos", "tk")))
      .join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tk")))),
          s => s.getField("tk"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** [[removeDuplicatedSpans]] through the pre-r20 exploded tail —
    * the value twin SpanDedupSpec pins against the shipped interval
    * path. */
  private[graft] def removeDuplicatedSpansExploded(df: DataFrame,
      idCol: String, textCol: String, n: Int, minDocs: Int = 2): DataFrame = {
    val grams = positionedGrams(df, idCol, textCol, n)
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("h"))
    scrubByHitsExploded(df, idCol, textCol, n, grams.join(dup, Seq("h")))
  }
}
