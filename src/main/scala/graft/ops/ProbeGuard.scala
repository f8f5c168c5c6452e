package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions.{broadcast, col, xxhash64}
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Self-enforcing size contract for the forced-broadcast PROBE shapes.
  *
  * The incremental paths keep standing tables (corpus fingerprints,
  * LSH band indexes, entity-key registries) on a scan by BROADCASTING
  * the batch-derived key set into the join — `broadcast()` is forced,
  * bypassing `spark.sql.autoBroadcastJoinThreshold`, because the
  * standing side has no stats and the optimizer would otherwise
  * sort-merge both sides, re-shuffling the corpus on every daily run.
  * Forcing the hint moves the size responsibility onto the caller: a
  * "batch" far beyond daily scale would be collected to the driver and
  * OOM it — silently, at runtime, with no mention of the contract.
  * (The reference has the same silent assumption in its PK-set preload,
  * `lwetl/programs/db_copy/main.py:260-268`, which materializes every
  * target-table key in client memory; the engine should do better.)
  *
  * This guard makes the contract self-enforcing: the key set is
  * COUNTED before the hint is attached (one bounded aggregation — the
  * guard never scans the standing side), and above the cap the plan
  * falls back to the un-hinted join — the pre-probe sort-merge shape,
  * slower but correct at any size — with a loud log line explaining
  * both the fallback and the knob.
  *
  * The count is an eager job at operator-BUILD time, the
  * [[graft.dedup.Dedup.dropHotBuckets]] discipline (the decision must
  * be loggable, and baked into the plan, before anything
  * materializes). Callers on the daily path count a batch-scale frame
  * that is already persisted or one cheap map away from a persisted
  * parent; abusive callers pay one scan of the oversized frame — the
  * scan that saves the driver.
  *
  * Cap: `spark.graft.probe.maxKeys` (runtime conf), default
  * [[ProbeGuard.DefaultMaxKeys]]. Keyed probe rows serialize to
  * ~50-100 bytes, so the default 4M-row cap bounds a forced broadcast
  * at roughly 200-400 MB — comfortable on a production driver, far
  * past any daily-batch shape. Set it to 0 or negative to disable the
  * guard (always hint — the pre-guard behavior, for callers that have
  * externally verified the size); every reader of the cap gives
  * `<= 0` that one meaning. The decision is baked into the returned
  * plan at build time; changing the conf later re-decides only newly
  * built plans.
  */
object ProbeGuard {

  /** Runtime conf key for the probe-broadcast row cap. */
  val ConfKey = "spark.graft.probe.maxKeys"

  /** Runtime conf key for the over-cap policy: `fallback` (default —
    * revert to the sort-merge shape, loud log), `fail` (throw the
    * same guidance when the decision lands on the SHUFFLE tier — the
    * Bloom middle tier is a designed regime and proceeds), or
    * `fail-all` (throw as soon as the key set exceeds the BROADCAST
    * cap, Bloom tier included — the pre-Bloom `fail` contract, for
    * deployments using the guard as a fast SLA tripwire: under
    * `fail` a between-caps key set now runs a Bloom build plus
    * key-scale exchanges where the job previously failed
    * immediately). A daily job with a latency SLA may prefer a loud
    * failure: the fallback shuffles the standing table, which is
    * correct at any size but can quietly turn a minutes-run into
    * hours at corpus scale — visible only as a stderr line. */
  val PolicyKey = "spark.graft.probe.onOverflow"

  /** Default cap on forced-broadcast probe rows (see object doc). */
  val DefaultMaxKeys: Long = 4000000L

  /** Log sink — a hook so specs can assert the fallback is never
    * silent; production default is stderr. */
  @volatile private[graft] var log: String => Unit =
    m => System.err.println(m)

  /** The one reader of this engine's long-valued `spark.graft.*`
    * knobs: the session value of `key`, or `dflt` when unset; a
    * non-numeric value fails loudly, naming the key. */
  private[graft] def longConf(spark: SparkSession, key: String,
                              dflt: Long): Long =
    spark.conf.getOption(key) match {
      case Some(v) =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a long, got '$v'")
        }
      case None => dflt
    }

  // ---------------------------------------------- tiered (bloom) form

  /** Which regime a standing-vs-batch join runs in (see [[tiered]]).
    * A probe key row in a broadcast hash relation costs ~50-100
    * BYTES; the same key in a Bloom filter costs ~10 BITS — so the
    * middle tier extends the "standing table is scanned, never
    * exchanged at corpus scale" regime ~16x past the broadcast cap
    * (64x per byte) before the plan has to fall back to a full
    * sort-merge. */
  sealed trait Shape
  object Shape {
    /** Keys within `spark.graft.probe.maxKeys`: force-broadcast the
      * key set; the standing side is scanned by a broadcast hash join
      * and never exchanged. */
    case object Probe extends Shape
    /** Keys over the broadcast cap but within
      * `spark.graft.probe.bloomMaxKeys`: a Bloom filter over
      * `xxhash64(join keys)` is built from the key set (one extra
      * aggregation over the batch side) and applied as a predicate on
      * the standing side's scan, so the rows the join then exchanges
      * are ~matches + fpp x standing instead of the whole standing
      * table. False positives are removed by the real join; false
      * negatives are impossible — results are bit-identical to the
      * other tiers. */
    case object Bloom extends Shape
    /** Keys beyond both caps (or the capped filter would be too weak
      * to pay for itself): the pre-probe sort-merge shape. This is the
      * tier `spark.graft.probe.onOverflow=fail` guards — the only one
      * that exchanges the standing table at its own scale. */
    case object Shuffle extends Shape
  }

  /** Runtime conf: key-count ceiling for the Bloom tier (default
    * [[DefaultBloomMaxKeys]]; <= 0 disables the tier, restoring the
    * two-tier probe-or-shuffle behavior). */
  val BloomKeysKey = "spark.graft.probe.bloomMaxKeys"

  /** Runtime conf: hard cap on Bloom filter SIZE in bits (default
    * [[DefaultBloomMaxBits]]) — the filter is built executor-side in
    * partials of this size, merged on the driver, and shipped in the
    * filtering plan as a literal, so this bounds all three. When the
    * cap forces fewer bits than [[DefaultBloomFpp]] wants, the filter is
    * built anyway at the (weaker) achievable fpp — unless that
    * exceeds 0.5, where filtering no longer pays and the decision
    * falls to [[Shape.Shuffle]]. */
  val BloomBitsKey = "spark.graft.probe.bloomMaxBits"

  /** 64M keys: at [[DefaultBloomFpp]] this is a ~32 MB filter (vs the
    * multi-GB broadcast relation the same keys would need), still a
    * one-literal ship to every executor. */
  val DefaultBloomMaxKeys: Long = 64000000L

  /** The Bloom tier's target false-positive rate — only its
    * effectiveness, never correctness, depends on it. 1% ~= 9.6
    * bits/key: the standing side's exchange shrinks to matches + 1% of
    * the standing row count. */
  val DefaultBloomFpp: Double = 0.01

  /** 2^28 bits = 32 MB. At the 64M-key ceiling this degrades fpp to
    * ~0.15 — still a ~7x exchange reduction. */
  val DefaultBloomMaxBits: Long = 1L << 28

  /** One eager count of `keys` -> the tier the whole shape runs in,
    * plus the counted size (the Bloom build reuses it for sizing).
    * Within the cap the key set is force-broadcast; above it the
    * decision falls to the Bloom tier or, beyond that, the shuffle —
    * with a loud log line naming the site, the size and the knobs.
    * The `fail` overflow policy applies only when the decision lands
    * on [[Shape.Shuffle]] — the Bloom tier is a designed regime, not
    * a contract breach, and logs an info line instead. One decision
    * should gate one whole probe SHAPE: a plan whose candidate
    * fetches are downstream of a guarded batch key set inherits its
    * bound through the hot-bucket caps, so counting every derived
    * frame again would add jobs without adding safety.
    *
    * `keysUpperBound` (r21): a caller-known SOUND upper bound on the
    * key count (e.g. the batch row count a pipeline stage already
    * paid a count() for — distinct keys can never exceed the rows
    * they derive from). When the bound itself is under the cap, the
    * actual count is too, so the Probe decision is already proven and
    * the guard's dedicated count job (a full distinct + scan of the
    * key set, re-run later inside the join anyway) is skipped. A
    * bound over the cap proves nothing and the guard counts as
    * before — the tier decision never weakens, it just stops paying
    * for certainty the caller already had. Pass -1 (default) for no
    * bound. */
  def shapeOf(keys: DataFrame, site: String,
              keysUpperBound: Long = -1L): (Shape, Long) = {
    val spark = keys.sparkSession
    val mx = longConf(spark, ConfKey, DefaultMaxKeys)
    if (mx <= 0L) return (Shape.Probe, -1L)
    if (keysUpperBound >= 0L && keysUpperBound <= mx)
      return (Shape.Probe, keysUpperBound)
    val n = keys.count()
    if (n <= mx) return (Shape.Probe, n)
    val policy = spark.conf.getOption(PolicyKey).getOrElse("fallback")
    require(Set("fallback", "fail", "fail-all").contains(policy),
      s"$PolicyKey must be 'fallback', 'fail' or 'fail-all', got '$policy'")
    if (policy == "fail-all")
      throw new IllegalStateException(
        s"[probe-guard] $site: probe key set has $n rows, over " +
          s"$ConfKey=$mx, and $PolicyKey=fail-all forbids every " +
          "over-broadcast tier (Bloom included) — this deployment " +
          "treats the cap as a hard SLA tripwire. Shrink the batch, " +
          s"raise $ConfKey, or relax the policy to 'fail'/'fallback'.")
    val bloomMax = longConf(spark, BloomKeysKey, DefaultBloomMaxKeys)
    val maxBits = longConf(spark, BloomBitsKey, DefaultBloomMaxBits)
    val bits =
      if (bloomMax > 0L && n <= bloomMax)
        math.min(BloomFilter.optimalNumOfBits(n, DefaultBloomFpp), maxBits)
      else 0L
    // achievable fpp at `bits`, optimal hash count: ~0.6185^(bits/n)
    val effFpp =
      if (bits > 0L) math.pow(0.6185, bits.toDouble / n.toDouble) else 1.0
    if (bits > 0L && effFpp <= 0.5) {
      log(s"[probe-guard] $site: probe key set has $n rows, over " +
        s"$ConfKey=$mx — bloom-reducing the standing side instead " +
        f"($bits%d bits, effective fpp ~$effFpp%.3f; " +
        s"cap $BloomKeysKey=$bloomMax).")
      (Shape.Bloom, n)
    } else {
      val detail =
        if (bloomMax <= 0L) s"the Bloom tier is disabled ($BloomKeysKey<=0)"
        else if (n > bloomMax) s"over $BloomKeysKey=$bloomMax too"
        else f"a $maxBits%d-bit filter would pass ~${effFpp * 100}%.0f%% " +
          s"of the standing side ($BloomBitsKey too small for $n keys)"
      val msg = s"[probe-guard] $site: probe key set has $n rows, over " +
        s"$ConfKey=$mx, and $detail (a forced broadcast at this size " +
        "risks driver OOM). This path is sized for batch-scale probes " +
        "against a standing table; for a symmetric corpus-scale side " +
        s"use the non-probe form, or raise $ConfKey/$BloomKeysKey if " +
        "the driver is provisioned for it."
      if (policy == "fail") throw new IllegalStateException(msg)
      else log(msg + " Falling back to the shuffle join.")
      (Shape.Shuffle, n)
    }
  }

  /** Builds the Bloom-tier predicate: a filter over `keys`'
    * `xxhash64(joinCols)` (one aggregation job — executor partials
    * merged on the driver), returned as a `might_contain` Column to
    * apply on the STANDING side's identically-named join columns.
    * Mapping keys to a 64-bit hash before the filter only ever ADDS
    * false positives (a hash collision keeps a spurious standing row
    * that the real join then drops), so any downstream equi-join
    * result is unchanged. */
  def bloomPredicate(keys: DataFrame, joinCols: Seq[String], n: Long,
                     site: String): Column = {
    require(joinCols.nonEmpty, s"$site: bloomPredicate needs join columns")
    val maxBits = longConf(keys.sparkSession, BloomBitsKey,
      DefaultBloomMaxBits)
    val bits = math.max(64L, math.min(
      BloomFilter.optimalNumOfBits(math.max(n, 1L), DefaultBloomFpp), maxBits))
    val hash = xxhash64(joinCols.map(col): _*)
    val bf = keys.select(hash.as("_h")).stat
      .bloomFilter("_h", math.max(n, 1L), bits)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    import org.apache.spark.sql.graft.bridge
    bridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType), bridge.expression(hash)))
  }

  /** A [[tiered]] decision: the tier, the guarded key count (-1 when
    * the guard is disabled — callers may reuse it to proxy-size
    * downstream Bloom builds), the standing side (Bloom-filtered in
    * the middle tier) and the key side (broadcast-hinted in the probe
    * tier). */
  final case class Sides(shape: Shape, keyCount: Long,
                         standing: DataFrame, keys: DataFrame)

  /** The whole tiered preparation for one standing-vs-keys equi-join
    * on `joinCols` (same names both sides). Callers join the two
    * returned frames exactly as before and may use the tier to steer
    * DOWNSTREAM fetches (a candidate set is only batch-bounded in the
    * probe tier). All three tiers produce bit-identical join
    * results. */
  def tiered(standing: DataFrame, keys: DataFrame, joinCols: Seq[String],
             site: String, keysUpperBound: Long = -1L): Sides =
    shapeOf(keys, site, keysUpperBound) match {
      case (Shape.Probe, n) => Sides(Shape.Probe, n, standing, broadcast(keys))
      case (Shape.Bloom, n) =>
        Sides(Shape.Bloom, n,
          standing.filter(bloomPredicate(keys, joinCols, n, site)), keys)
      case (Shape.Shuffle, n) => Sides(Shape.Shuffle, n, standing, keys)
    }

  /** The distinct hit set `standing SEMI-JOIN keys` on `joinCols`,
    * under the tiered contract — the shape for "which of my batch keys
    * exist in the standing table?" consumers (exact-dedup anti-joins,
    * A-vs-B gram/line hits): the standing side is only ever SCANNED,
    * and the hit set comes back bounded by the key set, so the caller
    * can join it against batch-side frames without touching the
    * standing table again. Probe tier returns it broadcast-hinted (a
    * subset of the guarded key set inherits the bound); Bloom tier
    * returns the filtered-scan hit set unhinted (key-scale — over the
    * broadcast cap by construction); Shuffle tier is the plain
    * semi-join. All three are value-identical. */
  def standingHits(standing: DataFrame, keys: DataFrame,
                   joinCols: Seq[String], site: String,
                   keysUpperBound: Long = -1L): DataFrame = {
    val t = tiered(standing, keys, joinCols, site, keysUpperBound)
    val hits = t.standing.select(joinCols.map(col): _*)
      .join(t.keys, joinCols, "left_semi").distinct()
    if (t.shape == Shape.Probe) broadcast(hits) else hits
  }
}
