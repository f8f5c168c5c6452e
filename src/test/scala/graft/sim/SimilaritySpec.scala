package graft.sim

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions.{col, round}

class SimilaritySpec extends SparkSpec {

  lazy val emb = Tables.load(spark, sf(), "embeddings")

  test("cosineTopK self-similarity sanity: scores within [-1, 1], sorted desc") {
    val rows = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 5)
    assert(rows.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq)
  }

  test("ivfTopK with all cells probed equals brute force") {
    val nLabels = emb.select("label").distinct().count().toInt
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivfAll = Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
      0L, nLabels, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivfAll == brute)
  }

  test("ivfTopK with nprobe=2 recalls a subset of brute-force top-k") {
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", 0L, 2, 10)
      .collect().map(_.getLong(0)).toSet
    // ANN property: results come from searched cells only; every hit it
    // returns that is also in the brute set must carry the same score
    assert(ivf.nonEmpty)
    assert((ivf -- brute).size <= 10) // sanity: sets comparable in size
  }

  test("ivfTopKBatch with nprobe = numCells IS per-probe brute force") {
    import spark.implicits._
    val probes = emb.orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Similarity.ivfTopKBatch(emb, "vec_id", "embedding",
        probes, "q_id", "q_vec", nprobe = 8, k = 4, numCells = 8)
      .select("pid", "id", "cos_sim", "rn")
      .as[(Long, Long, Double, Long)].collect().toSet
    // brute-force oracle: all probe×corpus cosines, top 4 per probe
    // with the same (cos desc, id asc) tie-break
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      .orderBy(col("cos_sim").desc, col("id"))
    val brute = probes.crossJoin(
        emb.select(col("vec_id").as("id"), col("embedding").as("v")))
      .select(col("q_id").as("pid"), col("id"),
        round(Similarity.dot(col("q_vec"), col("v"))
          / (Similarity.norm(col("q_vec")) * Similarity.norm(col("v"))), 6)
          .as("cos_sim"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(w).cast("long"))
      .filter(col("rn") <= 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == brute)
    // every probe's rank-1 hit is itself at cos 1.0 (probing the corpus)
    assert(got.filter(_._4 == 1L).forall(t => t._1 == t._2 && t._3 == 1.0))
  }

  test("ivfTopKBatch narrow probe: k rows per probe, scores consistent") {
    import spark.implicits._
    val probes = emb.orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val narrow = Similarity.ivfTopKBatch(emb, "vec_id", "embedding",
        probes, "q_id", "q_vec", nprobe = 2, k = 4, numCells = 8)
      .select("pid", "id", "cos_sim", "rn")
      .as[(Long, Long, Double, Long)].collect()
    assert(narrow.groupBy(_._1).forall { case (_, rs) =>
      rs.length == 4 && rs.sortBy(_._4).map(_._3).sliding(2)
        .forall(p => p.head >= p.last)
    }, "4 rows per probe with descending scores")
    // the probe's own cell is always its nearest ⇒ self at rank 1 survives
    assert(narrow.filter(_._4 == 1L).forall(t => t._1 == t._2))
  }

  test("zero-norm vectors can never top a similarity list (NaN guard)") {
    import spark.implicits._
    // an all-zeros embedding: cosine = 0/0 = NaN, which Spark orders
    // ABOVE every real number — without the guard it would head the
    // top-k and pass any pair threshold
    val poisoned = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(Seq((99999L, Array.fill(64)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val top = Similarity.cosineTopK(poisoned, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0))
    assert(!top.contains(99999L))
    assert(top.length == 10)
    val pairs = Similarity.nearDupPairsBlocked(
        poisoned, "vec_id", "embedding", "label", -1.0)
      .filter(col("id_a") === 99999L || col("id_b") === 99999L).count()
    assert(pairs == 0L)
    val ivf = Similarity.ivfTopK(poisoned, "vec_id", "embedding", "label",
        0L, 10, 10).collect().map(_.getLong(0))
    assert(!ivf.contains(99999L))
  }

  test("ivfTopKBatch recall is monotone in nprobe, exact at nprobe = numCells") {
    // the round-7 recall contract (gate q68) pinned ONE dial setting;
    // this is the promised 1→16 sweep. Monotonicity is structural, not
    // statistical: the routed cells at nprobe n are a PREFIX of those
    // at m > n (one deterministic sort of the K centroid structs), so
    // candidates grow with nprobe — and an exact-top-k member beaten by
    // fewer than k corpus vectors globally is beaten by fewer than k in
    // any candidate subset, hence never drops back out.
    val probes = emb.orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val index = CellIndex.train(emb, "vec_id", "embedding", numCells = 16)
    def hits(nprobe: Int): Map[Long, Set[Long]] =
      Similarity.ivfTopKBatch(emb, "vec_id", "embedding",
          probes, "q_id", "q_vec", nprobe = nprobe, k = 10,
          index = Some(index))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).toSet }
    val exact = hits(16)
    assert(exact.size == 5 && exact.values.forall(_.size == 10))
    val sweep = Seq(1, 2, 4, 8, 16).map(n => n -> hits(n))
    val recalls = sweep.map { case (n, h) =>
      n -> exact.map { case (p, ex) =>
        p -> h.getOrElse(p, Set.empty).count(ex).toDouble / ex.size }
    }
    // per-probe recall never decreases as nprobe grows...
    recalls.sliding(2).foreach {
      case Seq((nLo, lo), (nHi, hi)) =>
        lo.keys.foreach { p =>
          assert(lo(p) <= hi(p) + 1e-12,
            s"recall regressed for probe $p between nprobe=$nLo and $nHi")
        }
      case _ => ()
    }
    // ...and the full-probe end of the dial is exact by construction
    assert(recalls.last._2.values.forall(_ == 1.0))
    // the sweep is a real dial on this corpus: narrow probes miss some
    assert(recalls.head._2.values.exists(_ < 1.0),
      "nprobe=1 should not already be exact on the near-uniform corpus")
  }

  test("centroids assemble per-label mean vectors in order") {
    val c = Similarity.centroids(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    assert(c.values.forall(_.length == dim))
    // cross-check one value against the long-format aggregation
    val long0 = Similarity.centroidsLong(emb, "label", "embedding")
      .filter("label = 0 AND pos = 1").select("avg_v").head().getDouble(0)
    assert(math.abs(c(0).head - long0) < 1e-4)
  }
}
