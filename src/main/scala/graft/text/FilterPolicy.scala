package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tunable thresholds for [[FilterPolicy]] — a policy someone tuned
  * for one corpus must ship WITH that corpus, so the config is a
  * first-class artifact ([[FilterPolicy.savePolicy]] /
  * [[FilterPolicy.loadPolicy]], the `saveTokenizer`/`CellIndex.save`
  * idiom): a one-row parquet that travels next to the curated data
  * and reproduces the exact keep/drop decisions later or elsewhere. */
case class PolicyConfig(minTokens: Long, maxTokens: Long,
                        minMeanWordLen: Double, maxMeanWordLen: Double,
                        minStopwords: Long,
                        maxTop2Frac: Double, maxDup5Frac: Double)

object PolicyConfig {
  /** Gopher's published bounds (Rae et al. 2021 appendix A; scaled
    * token minimum — the reference corpus documents are 10-100
    * tokens, so the 50-token paper floor is taken at 30). */
  val Gopher: PolicyConfig = PolicyConfig(
    minTokens = 30, maxTokens = 100000,
    minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
    minStopwords = 2,
    maxTop2Frac = TextOps.RepTop2Max, maxDup5Frac = TextOps.RepDup5Max)
}

/** The composed document-filter POLICY — the decision endpoint a
  * Gopher-style curation pipeline runs after computing its signals
  * (Rae et al. 2021 appendix A, public knowledge): token-count
  * bounds, mean-word-length bounds, minimum stopword count,
  * repetition caps. Every signal — token counts AND the repetition
  * fractions — comes from ONE codegen'd scan pass per document
  * ([[graft.functions.PolicySignals]], r20; no re-tokenization per
  * rule, no shuffle), and the verdict is the FIRST failing rule in
  * a fixed order — so a rejected document says why, the way a
  * production pipeline logs drop reasons.
  *
  * Output is hash-exact across engines: the published floats
  * (fractions, means) stay INTERNAL to the threshold comparisons —
  * rationals of integers compared to shared literals, deterministic
  * in IEEE doubles — and only integers, booleans and the reason
  * string leave the operator. */
object FilterPolicy {

  /** The default bounds (kept as fields for source compatibility —
    * [[PolicyConfig.Gopher]] is the structured form). */
  val MinTokens = 30
  val MaxTokens = 100000
  val MinMeanWordLen = 3.0
  val MaxMeanWordLen = 10.0
  val MinStopwords = 2

  /** The first-failing-rule verdict over staged signal columns —
    * shared by the batch and per-row variants so the two can never
    * disagree on rule order or thresholds. */
  private def reasonExpr(cfg: PolicyConfig)(
                         nt: org.apache.spark.sql.Column,
                         alpha: org.apache.spark.sql.Column,
                         nstop: org.apache.spark.sql.Column,
                         top2: org.apache.spark.sql.Column,
                         dup5: org.apache.spark.sql.Column) = {
    val mwl = alpha.cast("double") / nt
    when(nt < cfg.minTokens || nt > cfg.maxTokens, lit("n_tokens"))
      .when(mwl < cfg.minMeanWordLen || mwl > cfg.maxMeanWordLen,
        lit("word_len"))
      .when(nstop < cfg.minStopwords, lit("stopwords"))
      .when(top2 > cfg.maxTop2Frac || dup5 > cfg.maxDup5Frac,
        lit("repetition"))
      .otherwise(lit("ok"))
  }

  private def withSignals(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_fw",
        filter(TextOps.words(lower(col(textCol))), w => length(w) > 0))
      .withColumn("_nt", size(col("_fw")).cast("long"))
      .withColumn("_alpha",
        aggregate(col("_fw"), lit(0L), (acc, w) => acc + length(w)))
      .withColumn("_nstop",
        size(filter(col("_fw"),
          w => w.isInCollection(TextOps.Stopwords))).cast("long"))

  /** The one-pass verdict projection shared by [[apply]] and
    * [[withDecision]] (r20): every signal from ONE
    * [[graft.functions.PolicySignals]] scan expression — no second
    * corpus scan, no gram explode, no exchange, no join. Values are
    * bit-identical to the composed forms (the expression's contract);
    * the `coalesce(_, 0.0)` re-establishes the 0.0 repetition default
    * the join/otherwise paths produced for null text. */
  private def onePass(df: DataFrame, idCol: String, textCol: String,
                      config: PolicyConfig): DataFrame =
    df.withColumn("_sig", TextOps.policySignals(col(textCol)))
      .withColumn("reason", reasonExpr(config)(
        col("_sig.n_tokens"), col("_sig.alpha"), col("_sig.n_stop"),
        coalesce(col("_sig.top2_frac"), lit(0.0)),
        coalesce(col("_sig.dup5_frac"), lit(0.0))))
      .select(col(idCol), col("_sig.n_tokens").as("n_tokens"),
        col("_sig.n_stop").as("n_stop"),
        (col("reason") === "ok").as("keep"), col("reason"))

  /** `(<idCol>, n_tokens, n_stop, keep, reason)` — reason ∈
    * {'n_tokens', 'word_len', 'stopwords', 'repetition', 'ok'}, the
    * first failing rule in that fixed order. One single-pass scan
    * projection ([[graft.functions.PolicySignals]], r20 — measured
    * against the signals-join form it replaces; [[applyJoined]] stays
    * as the value-pinning twin). */
  def apply(df: DataFrame, idCol: String, textCol: String,
            config: PolicyConfig = PolicyConfig.Gopher): DataFrame =
    onePass(df, idCol, textCol, config)

  /** The JOIN-FREE consumer shape (r20): appends `n_tokens`, `n_stop`,
    * `keep`, `reason` to `df`'s OWN columns, so a pipeline gates its
    * corpus by filtering the scan itself — `withVerdict(docs)
    * .filter(col("keep"))` — instead of computing verdicts in one
    * scan and semi-joining them back onto a second scan of the same
    * corpus (two reads of every document plus a corpus-sized
    * exchange; at cluster scale the exchange alone dwarfs the
    * policy). Verdicts are bit-identical to [[apply]] row-for-row
    * (same [[graft.functions.PolicySignals]] expression, same
    * [[reasonExpr]]). `df` must not already carry the four output
    * names. */
  def withVerdict(df: DataFrame, textCol: String,
                  config: PolicyConfig = PolicyConfig.Gopher): DataFrame = {
    val clash = df.columns.toSet
      .intersect(Set("n_tokens", "n_stop", "keep", "reason", "_sig"))
    require(clash.isEmpty,
      s"withVerdict output columns collide with input: ${clash.mkString(", ")}")
    df.withColumn("_sig", TextOps.policySignals(col(textCol)))
      .withColumn("reason", reasonExpr(config)(
        col("_sig.n_tokens"), col("_sig.alpha"), col("_sig.n_stop"),
        coalesce(col("_sig.top2_frac"), lit(0.0)),
        coalesce(col("_sig.dup5_frac"), lit(0.0))))
      .withColumn("n_tokens", col("_sig.n_tokens"))
      .withColumn("n_stop", col("_sig.n_stop"))
      .withColumn("keep", col("reason") === "ok")
      .drop("_sig")
  }

  /** The pre-r20 composed form of [[apply]] — one narrow signal pass +
    * [[TextOps.repetitionStatsAgg]] joined back on the id. Kept as the
    * independently-derived value twin (`FilterPolicySpec` pins
    * [[apply]] ≡ this verdict-for-verdict) and for duplicate-id
    * inputs' historical join semantics; the single-pass form emits
    * exactly one verdict per input ROW, this one joins per id. */
  private[graft] def applyJoined(df: DataFrame, idCol: String, textCol: String,
            config: PolicyConfig = PolicyConfig.Gopher): DataFrame = {
    val sig = withSignals(df, textCol)
      .select(col(idCol), col("_nt"), col("_alpha"), col("_nstop"))
    val rep = TextOps.repetitionStatsAgg(df, idCol, textCol)
    sig.join(rep, Seq(idCol))
      .withColumn("reason", reasonExpr(config)(col("_nt"), col("_alpha"),
        col("_nstop"), col("top2_frac"), col("dup5_frac")))
      .select(col(idCol), col("_nt").as("n_tokens"),
        col("_nstop").as("n_stop"),
        (col("reason") === "ok").as("keep"), col("reason"))
  }

  /** [[apply]] as PURE per-row expressions — no shuffle and no state
    * anywhere: the policy runs unchanged inside a Structured Streaming
    * `readStream → filter → writeStream` (quality-filter documents as
    * they are crawled, no watermark needed). Identical verdicts to
    * the batch form — since r20 the two are literally the same
    * single-pass projection ([[graft.functions.PolicySignals]]; the
    * previous per-row form paid an O(grams²) HOF scan per document). */
  def withDecision(df: DataFrame, idCol: String, textCol: String,
                   config: PolicyConfig = PolicyConfig.Gopher): DataFrame =
    onePass(df, idCol, textCol, config)

  /** The pre-r20 per-row composed form of [[withDecision]]
    * ([[TextOps.withRepetitionCols]] over the signal columns) — kept as
    * the value-pinning twin for `StreamingPolicySpec`. */
  private[graft] def withDecisionComposed(df: DataFrame, idCol: String,
                   textCol: String,
                   config: PolicyConfig = PolicyConfig.Gopher): DataFrame =
    TextOps.withRepetitionCols(withSignals(df, textCol), textCol,
        "_t2f", "_d5f")
      .withColumn("reason", reasonExpr(config)(col("_nt"), col("_alpha"),
        col("_nstop"), col("_t2f"), col("_d5f")))
      .select(col(idCol), col("_nt").as("n_tokens"),
        col("_nstop").as("n_stop"),
        (col("reason") === "ok").as("keep"), col("reason"))

  /** Persist a [[PolicyConfig]] as a one-row parquet artifact. */
  def savePolicy(spark: SparkSession, config: PolicyConfig,
                 path: String): Unit = {
    import spark.implicits._
    Seq(config).toDS().toDF()
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[savePolicy]] artifact; fails loudly on anything that is
    * not exactly one row of the seven threshold columns. */
  def loadPolicy(spark: SparkSession, path: String): PolicyConfig = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    val want = Set("minTokens", "maxTokens", "minMeanWordLen",
      "maxMeanWordLen", "minStopwords", "maxTop2Frac", "maxDup5Frac")
    require(df.columns.toSet == want,
      s"not a policy artifact: ${df.columns.mkString(",")}")
    val rows = df.as[PolicyConfig].collect()
    require(rows.length == 1,
      s"policy artifact must be exactly one row, got ${rows.length}")
    rows.head
  }
}
