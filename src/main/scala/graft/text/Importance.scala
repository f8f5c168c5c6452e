package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data-selection importance scoring (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" —
  * public method): rank raw documents by how target-like they are
  * under a pair of hashed n-gram bag models. The model is a
  * per-bucket log-likelihood-ratio table
  *
  *   w(b) = ln((cT(b)+1) / (NT+B)) − ln((cR(b)+1) / (NR+B))
  *
  * over `B` md5-hash buckets of word unigrams + bigrams (add-one
  * smoothing; cT/cR = bucket counts in the TARGET / RAW corpus, NT/NR
  * their gram totals), and a document's importance is the sum of its
  * grams' weights — high when the document's n-gram mass looks like
  * the target distribution.
  *
  * Scale shape: training is two corpus-sized explode→groupBy(bucket)
  * aggregates (map-side combined; the shuffle carries (bucket, count)
  * ints — never text), collapsed to a B-row model that BROADCASTS
  * into scoring; scoring is one explode → broadcast-join → map-side-
  * combined groupBy(doc) — one narrow (doc_id, weight) shuffle, text
  * never leaves its scan. The model is a train-once artifact
  * ([[saveModel]]/[[loadModel]], the `CellIndex.save` idiom): score
  * tomorrow's crawl without touching the corpora again.
  *
  * Cross-engine determinism: buckets come from [[TextOps.md5_32]]
  * (the engine-portable hash), weights are round(…,6) — ln is the one
  * transcendental, and 6dp absorbs last-ulp libm differences — and
  * per-doc totals are SEQUENTIAL bucket-ordered folds (bit-identical
  * across engines; see the note in [[score]] for why an
  * order-dependent sum cannot be rounded safe here). */
object Importance {

  /** Hashed gram-instance buckets (with multiplicity — DSIR models
    * counts, not presence): word unigrams + space-joined bigrams of
    * the lowercased whitespace tokenization, md5-bucketed into
    * [0, buckets). */
  private def bucketsOf(textCol: Column, buckets: Int): Column = {
    val ws = filter(TextOps.words(lower(textCol)), w => length(w) > 0)
    val uni = ws
    // greatest(…, 0): slice rejects negative lengths, and an empty
    // token array would pass size-1 = -1
    val n1 = greatest(size(ws) - 1, lit(0))
    val bi = zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    transform(concat(uni, bi), g => pmod(TextOps.md5_32(g), lit(buckets)))
  }

  private def bucketCounts(df: DataFrame, textCol: String,
                           buckets: Int): DataFrame =
    df.select(explode(bucketsOf(col(textCol), buckets)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Train the B-row importance model `(bucket, w, _b)` — EVERY
    * bucket in [0, buckets) has a row (smoothed weight even at zero
    * count), so scoring joins never miss. Two aggregates over the
    * corpora; the totals ride a one-row cross join, not a collect.
    * `_b` is the constant bucket-width tag (the [[graft.dedup.Fuzzy
    * .entityKeys]] `_w` idiom): [[score]] re-buckets at the model's
    * own width by reading ONE row of it, so a stale-width probe
    * cannot silently mis-bucket and scoring never pays a `count()`
    * job to recover the width. */
  def train(target: DataFrame, raw: DataFrame, textCol: String,
            buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = target.sparkSession
    val ct = bucketCounts(target, textCol, buckets)
    val cr = bucketCounts(raw, textCol, buckets)
    val nt = ct.agg(sum(col("n")).as("nt"))
    val nr = cr.agg(sum(col("n")).as("nr"))
    spark.range(buckets).select(col("id").cast("long").as("bucket"))
      .join(ct.withColumnRenamed("n", "_ct"), Seq("bucket"), "left")
      .join(cr.withColumnRenamed("n", "_cr"), Seq("bucket"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bucket"),
        round(
          log((coalesce(col("_ct"), lit(0L)) + 1).cast("double") /
            (coalesce(col("nt"), lit(0L)) + buckets).cast("double")) -
          log((coalesce(col("_cr"), lit(0L)) + 1).cast("double") /
            (coalesce(col("nr"), lit(0L)) + buckets).cast("double")),
          6).as("w"),
        lit(buckets).as("_b"))
  }

  /** The model's bucket width off its `_b` tag — one single-row read
    * (the constant column makes any row authoritative), never a
    * model-sized `count()` job. */
  private def bucketWidth(model: DataFrame): Int = {
    require(model.columns.contains("_b"),
      s"importance model lacks the _b width tag " +
        s"(${model.columns.mkString(",")}) — models stored before the " +
        "tag must be retrained")
    val row = model.select(col("_b")).limit(1).collect()
    require(row.nonEmpty, "importance model is empty — not trained")
    row.head.getInt(0)
  }

  /** Score every document against a trained model: `(idCol, n_grams,
    * score)` — n_grams = gram instances in the doc, score = 6dp-rounded
    * weight total (0.0 for gram-less docs, which is also the score of a
    * perfectly distribution-neutral doc — rank, don't gate on 0). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DataFrame): DataFrame = {
    val b = bucketWidth(model)
    require(b >= 2, s"importance model width is $b — not a trained model")
    // The per-doc total is a SEQUENTIAL fold over (bucket, w) sorted
    // pairs, not sum(): weights are exact 1e-6 multiples, so their sum
    // lands exactly on a rounding boundary for ~1% of documents and
    // order-dependent float addition would flip the last digit between
    // engines (measured: 1 doc in the first 103 at sf0.001). The fold
    // order is identical on both sides (DuckDB: seeded list_reduce
    // over list(w ORDER BY bucket) — the q101 adist recipe), so sums
    // are bit-identical before rounding. Cost: collect_list shuffles
    // the same (doc_id, bucket, w) rows a combining sum would, it just
    // cannot pre-combine map-side — acceptable for an order-pinned
    // cross-engine contract.
    val scored = docs
      .select(col(idCol), explode(bucketsOf(col(textCol), b)).as("bucket"))
      .join(broadcast(model.select(col("bucket"), col("w"))), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sort_array(collect_list(struct(col("bucket"), col("w")))).as("_bw"))
      .select(col(idCol), col("n_grams"),
        round(aggregate(col("_bw"), lit(0.0),
          (acc, s) => acc + s.getField("w")), 6).as("score"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** The top `k` most target-like documents — (score DESC, id ASC)
    * total order, computed as a TakeOrdered top-k, never a full
    * sort-collect. */
  def selectTopK(docs: DataFrame, idCol: String, textCol: String,
                 model: DataFrame, k: Int): DataFrame =
    score(docs, idCol, textCol, model)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** DSIR's importance RESAMPLING: draw without replacement with
    * probability ∝ exp(score) via the Gumbel-top-k trick — rank by
    * score + Gumbel noise, where the noise is the engine-portable
    * seeded md5 uniform ([[graft.ops.Sampling.uniform01]]), so the
    * sample is reproducible run-to-run. Spec-gated (the noise sum's
    * rounding boundary is not oracle-safe); the deterministic
    * [[selectTopK]] is the hash-gated path. */
  def resample(docs: DataFrame, idCol: String, textCol: String,
               model: DataFrame, k: Int, seed: Int): DataFrame = {
    val g = -log(-log(graft.ops.Sampling.uniform01(col(idCol), seed)))
    score(docs, idCol, textCol, model)
      .withColumn("_key", col("score") + g)
      .orderBy(col("_key").desc, col(idCol))
      .limit(k)
      .drop("_key")
  }

  /** [[score]] as a PER-ROW pass — no join, no groupBy, no state —
    * so scoring runs unchanged inside a Structured Streaming
    * `readStream → transform → writeStream` (score documents as they
    * are crawled). The B-row model is collected once (model
    * PARAMETERS, never data rows — the `CellIndex.load` class of collect)
    * and broadcast; tokenization, hashing and the bucket-ordered fold
    * run in plain Scala on `mapPartitions` (the dHash/DEFLATE
    * precedent for per-row codec-style work), and every step mirrors
    * the column version exactly — `ImportanceSpec` pins per-row ==
    * batch on the real corpus. Adds `n_grams` and `score`. */
  def withScore(docs: DataFrame, idCol: String, textCol: String,
                model: DataFrame): DataFrame = {
    val rows = model.collect()
    require(rows.length >= 2, "importance model has <2 rows — not trained")
    require(rows.head.schema.fieldNames.contains("_b"),
      "importance model lacks the _b width tag — models stored before " +
        "the tag must be retrained")
    val b = rows.head.getInt(rows.head.fieldIndex("_b"))
    val weights = rows.map(r => r.getLong(r.fieldIndex("bucket")) ->
      r.getDouble(r.fieldIndex("w"))).toMap
    require(weights.size == b,
      s"importance model carries ${weights.size} buckets but its width " +
        s"tag says $b — corrupt artifact")
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(weights)
    // the id column passes through UNTOUCHED (any type — it is never
    // computed on), so the output schema carries the caller's id field
    val idField = docs.schema(idCol)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(idField,
      org.apache.spark.sql.types.StructField("n_grams",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    docs.select(col(idCol),
        coalesce(col(textCol), lit("")).cast("string").as("_text"))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5_32(s: String): Long = {
          md.reset()
          val d = md.digest(s.getBytes("UTF-8"))
          // first 8 hex chars of the digest = first 4 bytes, unsigned
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        }
        val w = bc.value
        it.map { r =>
          // mirror bucketsOf: trim-split words of the LOWERCASED text,
          // drop empties, unigrams + space-joined bigrams
          val ws = r.getString(1).toLowerCase.trim.split("\\s+")
            .filter(_.nonEmpty)
          val grams = ws.iterator ++
            ws.iterator.zip(ws.iterator.drop(1)).map(p => p._1 + " " + p._2)
          val buckets = grams.map(g => md5_32(g) % b).toArray
          // bucket-ordered sequential fold == the column version's
          // sort_array + aggregate; same HALF_UP rounding as round(…,6)
          java.util.Arrays.sort(buckets)
          var acc = 0.0
          buckets.foreach(bk => acc += w(bk))
          val score = BigDecimal(acc)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          org.apache.spark.sql.Row(r.get(0), buckets.length.toLong, score)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF(idCol, "n_grams", "score")
  }

  /** Persist / reload the model (the `CellIndex.save` artifact idiom). */
  def saveModel(model: DataFrame, path: String): Unit =
    model.coalesce(1).write.mode("overwrite").parquet(path)

  def loadModel(spark: SparkSession, path: String): DataFrame = {
    val m = spark.read.parquet(path)
    require(m.columns.toSet == Set("bucket", "w", "_b"),
      s"not an importance model artifact: ${m.columns.mkString(",")}" +
        (if (m.columns.toSet == Set("bucket", "w"))
          " (models stored before the _b width tag must be retrained)"
        else ""))
    // one-time artifact validation (load happens once per job, so a
    // count here is cheap): the width tag must match the row count or
    // score's smoothed-join contract (every bucket has a row) breaks
    require(m.count() == bucketWidth(m).toLong,
      s"importance model row count does not match its _b width tag — " +
        "corrupt or truncated artifact")
    m
  }
}
