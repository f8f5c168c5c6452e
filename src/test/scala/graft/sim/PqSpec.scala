package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pq — seeded-sample codebook, argmin codes, LUT-based ADC ranking
  * and the recall audit, cross-checked against a driver-side
  * brute-force twin on hand-sized vectors. q142–q144 pin the full
  * corpus against DuckDB. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 8 vectors of dim 4; m=2 → subvectors (d0,d1) and (d2,d3).
  // +1 offsets keep every vector (and so every IVF probe) off the
  // zero norm Similarity.cosine rejects.
  private def vecs = (0L until 8L).map { i =>
    (i, Seq((i % 3 + 1).toFloat, (i % 5 + 1).toFloat,
      ((i * 7) % 11 + 1).toFloat, ((i * 3) % 13 + 1).toFloat))
  }.toDF("id", "vec")

  /** Driver-side twin: same seeded donor rank, same argmin. */
  private def bruteCodes(rows: Seq[(Long, Seq[Float])], m: Int, ks: Int,
                         seed: Int = 0): Map[Long, Seq[Int]] = {
    def md5_32(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(h.take(8), 16)
    }
    val donors = rows.sortBy { case (id, _) => (md5_32(s"$seed|$id"), id) }
      .take(ks).map(_._2.map(_.toDouble))
    val d = rows.head._2.size
    val subDim = d / m
    rows.map { case (id, v0) =>
      val v = v0.map(_.toDouble)
      id -> (0 until m).map { s =>
        donors.zipWithIndex.map { case (c, j) =>
          val dist = (0 until subDim).map { i =>
            val x = v(s * subDim + i) - c(s * subDim + i)
            x * x
          }.sum
          (dist, j)
        }.minBy(identity)._2
      }.toSeq
    }.toMap
  }

  test("pqCodebook: seeded donors in rank order, per-sub slices") {
    val cb = Pq.pqCodebook(vecs, "id", "vec", m = 2, ks = 3)
      .orderBy(col("sub"), col("cid"))
      .as[(Int, Int, Seq[Double])].collect()
    assert(cb.length == 6) // 2 subs × 3 centroids
    assert(cb.forall(_._3.size == 2))
    // every centroid is a real subvector of some corpus vector
    val subs = vecs.as[(Long, Seq[Float])].collect().flatMap {
      case (_, v) => Seq(v.take(2).map(_.toDouble).toSeq,
        v.drop(2).map(_.toDouble).toSeq)
    }.toSet
    assert(cb.forall(c => subs.contains(c._3)))
    // deterministic: rebuilding yields the identical table
    val again = Pq.pqCodebook(vecs, "id", "vec", m = 2, ks = 3)
      .orderBy(col("sub"), col("cid"))
      .as[(Int, Int, Seq[Double])].collect()
    assert(cb.toSeq == again.toSeq)
    // a different seed picks different donors (almost surely)
    val other = Pq.pqCodebook(vecs, "id", "vec", m = 2, ks = 3, seed = 9)
      .orderBy(col("sub"), col("cid"))
      .as[(Int, Int, Seq[Double])].collect()
    assert(cb.toSeq != other.toSeq)
  }

  test("withPqCodes equals the driver-side argmin twin; ties go to " +
      "the smaller cid") {
    val rows = vecs.as[(Long, Seq[Float])].collect().toSeq
    val want = bruteCodes(rows, m = 2, ks = 3)
    val got = Pq.withPqCodes(vecs, "vec",
        Pq.pqCodebook(vecs, "id", "vec", m = 2, ks = 3))
      .select(col("id"), col("codes")).as[(Long, Seq[Int])]
      .collect().toMap
    assert(got == want, s"got=$got want=$want")
    // duplicate subvectors across donors: identical distances, the
    // smaller cid must win (vectors engineered to collide on sub 0)
    val dup = Seq(
      (0L, Seq(1.0f, 2.0f, 1.0f, 1.0f)),
      (1L, Seq(1.0f, 2.0f, 9.0f, 9.0f)),
      (2L, Seq(1.0f, 2.0f, 4.0f, 4.0f))).toDF("id", "vec")
    val codes = Pq.withPqCodes(dup, "vec",
        Pq.pqCodebook(dup, "id", "vec", m = 2, ks = 3))
      .select(col("id"), col("codes")).as[(Long, Seq[Int])].collect().toMap
    // sub 0 is identical everywhere → every row codes to cid 0 there
    assert(codes.values.forall(_.head == 0))
    // a batch absent from the codebook's corpus codes against its
    // centroids
    val batch = Seq((100L, Seq(2.5f, 3.5f, 6.0f, 7.0f))).toDF("id", "vec")
    val batchCodes = Pq.withPqCodes(batch, "vec",
        Pq.pqCodebook(vecs, "id", "vec", m = 2, ks = 4))
      .select(col("codes")).as[Seq[Int]].collect().head
    assert(batchCodes.length == 2 && batchCodes.forall(c => c >= 0 && c < 4))
  }

  test("pqAdcTopK: ranks by centroid-reconstructed squared-L2, probe " +
      "excluded, matches a brute twin") {
    val rows = vecs.as[(Long, Seq[Float])].collect().toSeq
    val codes = bruteCodes(rows, m = 2, ks = 4)
    def md5_32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8), 16)
    val donors = rows.sortBy { case (id, _) => (md5_32(s"0|$id"), id) }
      .take(4).map(_._2.map(_.toDouble))
    val q = rows.find(_._1 == 0L).get._2.map(_.toDouble)
    val want = rows.filter(_._1 != 0L).map { case (id, _) =>
      val dist = (0 until 2).map { s =>
        val c = donors(codes(id)(s))
        (0 until 2).map { i =>
          val x = q(s * 2 + i) - c(s * 2 + i); x * x
        }.sum
      }.sum
      (id, math.rint(dist * 1e6) / 1e6)
    }.sortBy { case (id, dd) => (dd, id) }.take(3)
    val got = Pq.pqAdcTopK(vecs, "id", "vec", m = 2, ks = 4,
        probeId = 0L, k = 3)
      .as[(Long, Double)].collect().toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("ivfPqTopKBatchAuto at nprobe = numCells equals per-probe pqAdcTopK") {
    val probes = vecs.filter(col("id") < 2)
    val batch = Pq.ivfPqTopKBatchAuto(vecs, probes, "id", "vec",
        m = 2, ks = 4, nprobe = 2, k = 3, numCells = 2)
      .select(col("probe_id"), col("id"), col("pdist"))
      .as[(Long, Long, Double)].collect().toSet
    val single = (0L until 2L).flatMap { pid =>
      Pq.pqAdcTopK(vecs, "id", "vec", m = 2, ks = 4, pid, k = 3)
        .as[(Long, Double)].collect().map { case (id, dd) => (pid, id, dd) }
    }.toSet
    assert(batch == single)
  }

  test("pqRecallBatch: overlap counts in [0, k]; a PQ index with " +
      "ks = corpus size is near-lossless") {
    // ks = 8 = corpus: every subvector is its own centroid, codes
    // reconstruct exactly, PQ top-k == exact top-k
    val full = Pq.pqRecallBatch(vecs, vecs.filter(col("id") < 3),
        "id", "vec", m = 2, ks = 8, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(full.values.forall(_ == 3L), s"lossless index lost recall: $full")
    val coarse = Pq.pqRecallBatch(vecs, vecs.filter(col("id") < 3),
        "id", "vec", m = 2, ks = 2, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(coarse.values.forall(n => n >= 0L && n <= 3L))
  }

  test("preconditions: ragged vectors, indivisible dims and empty " +
      "corpora fail loudly") {
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Pq.pqCodebook(ragged, "id", "vec", m = 2, ks = 2)
    }
    assert(e.getMessage.contains("ragged"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.pqCodebook(vecs, "id", "vec", m = 3, ks = 2)
    }
    assert(e2.getMessage.contains("divisible"))
    val e3 = intercept[IllegalArgumentException] {
      Pq.pqCodebook(vecs.limit(0), "id", "vec", m = 2, ks = 2)
    }
    assert(e3.getMessage.contains("empty"))
  }
}
