package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IvfPq — trained residual product quantization in 2^20 fixed point,
  * cross-checked against a full driver-side brute twin (same seeded
  * donors, same integer Lloyd, same residual coding, same
  * route → ADC → shortlist → refine), plus the identities the design
  * guarantees (nprobe ≥ K ∧ refine ≥ n ⇒ exact brute force; frozen
  * artifact ≡ inline training) and the recall contract the tier
  * exists for (mean ≥ 7/10 at the gate config — the round-18 audit
  * measured 1.52/10 on the sampled/raw construction). q145–q147 pin
  * the same pipeline against DuckDB on the full corpus. */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  // 24 vectors of dim 4, m=2 — values span negatives (floorDiv and
  // floor-quantization must round toward -inf, not zero)
  private def rows: Seq[(Long, Seq[Float])] = (0L until 24L).map { i =>
    (i, Seq(((i % 5).toFloat - 2.0f) / 3.0f, ((i % 7).toFloat - 3.0f) / 5.0f,
      (((i * 3) % 11).toFloat - 5.0f) / 7.0f, (((i * 5) % 13).toFloat - 6.0f) / 9.0f))
  }

  private def vecs = rows.toDF("id", "vec")

  private def md5_32(s: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(h.take(8), 16)
  }

  /** The whole pipeline, brute-forced on the driver in the same
    * integer arithmetic. Returns (model, codes, perProbe top-k). */
  private def bruteAll(rs: Seq[(Long, Seq[Float])], kCells: Int, m: Int,
                       ks: Int, ci: Int, pi: Int, nprobe: Int, k: Int,
                       refine: Int, probeIds: Set[Long], seed: Int = 0)
      : (IvfPq.Model, Map[Long, (Int, Seq[Int])],
         Map[Long, Seq[(Long, Long)]]) = {
    val dim = rs.head._2.length
    val sd = dim / m
    val xq = rs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * IvfPq.Scale).toLong).toArray
    }.toMap
    val order = rs.map(_._1).sortBy(id => (md5_32(s"$seed|$id"), id))
    def iDist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def lloyd(data: Seq[Array[Long]], init: Array[Array[Long]],
              iters: Int): Array[Array[Long]] = {
      var c = init.map(_.clone())
      for (_ <- 0 until iters) {
        val asg = data.map(v => c.zipWithIndex.minBy {
          case (cent, j) => (iDist(v, cent), j) }._2)
        val next = c.map(_.clone())
        for (cell <- c.indices) {
          val members = data.zip(asg).filter(_._2 == cell).map(_._1)
          if (members.nonEmpty)
            next(cell) = Array.tabulate(c.head.length)(p =>
              Math.floorDiv(members.map(_(p)).sum, members.length.toLong))
        }
        c = next
      }
      c
    }
    val coarse = lloyd(order.map(xq),
      order.take(kCells).map(id => xq(id).clone()).toArray, ci)
    def cellOf(v: Array[Long]): Int =
      coarse.zipWithIndex.minBy { case (c, j) => (iDist(v, c), j) }._2
    val resid = rs.map { case (id, _) =>
      val v = xq(id)
      val c = coarse(cellOf(v))
      id -> v.zip(c).map { case (x, y) => x - y }
    }.toMap
    val books = (0 until m).map { s =>
      lloyd(order.map(id => resid(id).slice(s * sd, (s + 1) * sd)),
        order.take(ks).map(id =>
          resid(id).slice(s * sd, (s + 1) * sd)).toArray, pi)
    }.toArray
    val codes = rs.map { case (id, _) =>
      val r = resid(id)
      id -> (cellOf(xq(id)), (0 until m).map { s =>
        val sub = r.slice(s * sd, (s + 1) * sd)
        books(s).zipWithIndex.minBy { case (c, j) => (iDist(sub, c), j) }._2
      }.toSeq)
    }.toMap
    val results = probeIds.toSeq.map { pid =>
      val pv = xq(pid)
      val routed = coarse.zipWithIndex
        .map { case (c, j) => (iDist(pv, c), j) }.sorted
        .take(math.min(nprobe, coarse.length)).map(_._2).toSet
      val cand = rs.map(_._1).filter(id => id != pid &&
        routed.contains(codes(id)._1))
      val adc = cand.map { id =>
        val (cell, cs) = codes(id)
        val prl = pv.zip(coarse(cell)).map { case (x, y) => x - y }
        val d = (0 until m).map { s =>
          iDist(prl.slice(s * sd, (s + 1) * sd), books(s)(cs(s)))
        }.sum
        (id, d)
      }
      val short = adc.sortBy { case (id, d) => (d, id) }.take(refine)
      val refined = short.map { case (id, _) => (id, iDist(pv, xq(id))) }
        .sortBy { case (id, d) => (d, id) }.take(k)
      pid -> refined.toSeq
    }.toMap
    (IvfPq.Model(coarse, books), codes, results)
  }

  private val cfg = (3, 2, 4, 2, 2, 2, 5, 8) // kCells m ks ci pi nprobe k refine

  test("train: bit-identical to the driver-side integer twin, " +
      "deterministic across runs") {
    val (kc, m, ks, ci, pi, _, _, _) = cfg
    val mdl = IvfPq.train(vecs, "id", "vec", kc, m, ks, ci, pi)
    val (bm, _, _) = bruteAll(rows, kc, m, ks, ci, pi, 2, 5, 8, Set(0L))
    assert(mdl.coarse.map(_.toSeq).toSeq == bm.coarse.map(_.toSeq).toSeq)
    assert(mdl.books.map(_.map(_.toSeq).toSeq).toSeq ==
      bm.books.map(_.map(_.toSeq).toSeq).toSeq)
    val again = IvfPq.train(vecs, "id", "vec", kc, m, ks, ci, pi)
    assert(mdl.coarse.map(_.toSeq).toSeq == again.coarse.map(_.toSeq).toSeq)
    assert(mdl.books.map(_.map(_.toSeq).toSeq).toSeq ==
      again.books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("withCodes: cell + residual codes match the twin; frozen " +
      "model from another space fails loudly") {
    val (kc, m, ks, ci, pi, _, _, _) = cfg
    val mdl = IvfPq.train(vecs, "id", "vec", kc, m, ks, ci, pi)
    val (_, bcodes, _) = bruteAll(rows, kc, m, ks, ci, pi, 2, 5, 8, Set(0L))
    val got = IvfPq.withCodes(vecs, "vec", mdl)
      .select(col("id"), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == bcodes)
    val wrongDim = rows.map { case (id, v) => (id, v ++ Seq(0.1f, 0.2f)) }
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      IvfPq.withCodes(wrongDim, "vec", mdl)
    }
    assert(e.getMessage.contains("different embedding space"))
  }

  test("topKBatch: matches the twin at a cell-restricted nprobe " +
      "(routing, LUT ADC, shortlist and refine all exercised)") {
    val (kc, m, ks, ci, pi, np, k, rf) = cfg
    val probes = vecs.filter(col("id") < 3)
    val got = IvfPq.topKBatch(vecs, probes, "id", "vec", kc, m, ks,
        np, k, rf, ci, pi)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (p, rs) =>
        p -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    val (_, _, brute) = bruteAll(rows, kc, m, ks, ci, pi, np, k, rf,
      Set(0L, 1L, 2L))
    assert(got == brute.filter(_._2.nonEmpty))
  }

  test("nprobe >= K and refine >= n degrade to the exact integer " +
      "brute-force top-k (the recall dial's endpoint)") {
    val (kc, m, ks, ci, pi, _, k, _) = cfg
    val probes = vecs.filter(col("id") < 3)
    val got = IvfPq.topKBatch(vecs, probes, "id", "vec", kc, m, ks,
        nprobe = 99, k = k, refine = 999,
        coarseIters = ci, pqIters = pi)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (p, rs) =>
        p -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    val xq = rows.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * IvfPq.Scale).toLong) }.toMap
    val exact = (0L until 3L).map { pid =>
      pid -> rows.map(_._1).filter(_ != pid).map { id =>
        (id, xq(pid).zip(xq(id)).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (id, d) => (d, id) }.take(k).toSeq
    }.toMap
    assert(got == exact)
    // and recall at that endpoint is perfect by construction
    val rec = IvfPq.recallBatch(vecs, probes, "id", "vec", kc, m, ks,
        nprobe = 99, k = k, refine = 999,
        coarseIters = ci, pqIters = pi)
      .as[(Long, Long, Long)].collect()
    assert(rec.length == 3 && rec.forall(_._3 == k))
  }

  test("model artifact: save → load round-trips bit-exactly and " +
      "frozen-model search ≡ inline training; corruption fails loudly") {
    val (kc, m, ks, ci, pi, np, k, rf) = cfg
    val mdl = IvfPq.train(vecs, "id", "vec", kc, m, ks, ci, pi)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    mdl.save(spark, s"$dir/model")
    val back = IvfPq.loadModel(spark, s"$dir/model")
    assert(back.coarse.map(_.toSeq).toSeq == mdl.coarse.map(_.toSeq).toSeq)
    assert(back.books.map(_.map(_.toSeq).toSeq).toSeq ==
      mdl.books.map(_.map(_.toSeq).toSeq).toSeq)
    val probes = vecs.filter(col("id") < 3)
    val inline = IvfPq.topKBatch(vecs, probes, "id", "vec", kc, m, ks,
      np, k, rf, ci, pi).collect().toSeq
    val frozen = IvfPq.topKBatch(vecs, probes, "id", "vec", kc, m, ks,
      np, k, rf, ci, pi, model = Some(back)).collect().toSeq
    assert(inline.map(_.toSeq).toSet == frozen.map(_.toSeq).toSet)
    // corrupt: drop one book row → non-contiguous cids must die
    spark.read.parquet(s"$dir/model")
      .filter(!(col("part") === "book" && col("sub") === 0 && col("cid") === 0))
      .write.mode("overwrite").parquet(s"$dir/bad")
    val e = intercept[IllegalArgumentException] {
      IvfPq.loadModel(spark, s"$dir/bad")
    }
    assert(e.getMessage.contains("contiguous"))
  }

  test("recall contract at the gate config: refined mean >= 7/10 on " +
      "the real embeddings (the round-18 sampled/raw tier measured " +
      "1.52/10 — the number this tier exists to fix)") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val rec = IvfPq.recallBatch(emb, emb.filter(col("vec_id") < 25),
        "vec_id", "embedding", kCells = 32, m = 8, ks = 64,
        nprobe = 16, k = 10, refine = 200)
      .as[(Long, Long, Long)].collect()
    assert(rec.length == 25)
    val mean = rec.map(_._3).sum.toDouble / rec.length
    assert(mean >= 7.0, s"refined recall@10 mean $mean < 7.0")
    // and refine genuinely adds over raw ADC (the FAISS refine story)
    val adcMean = rec.map(_._2).sum.toDouble / rec.length
    assert(mean > adcMean, s"refine ($mean) must beat raw ADC ($adcMean)")
  }

  test("auto-cell quantized searches: nprobe >= numCells equals the " +
      "flat result") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
      .filter(col("vec_id") < 120)
    val probes = emb.filter(col("vec_id") < 5)
    val auto = Quantize.ivfAdcTopKBatchAuto(emb, probes, "vec_id",
      "embedding", nprobe = 4, k = 5, numCells = 4).collect().toSeq
    // flat twin: a constant block column, nprobe 1 ⇒ the same
    // exhaustive ADC ranking
    val flat = Quantize.ivfAdcTopKBatch(emb.withColumn("_b", lit(0)),
      probes, "vec_id", "embedding", "_b", nprobe = 1, k = 5)
      .collect().toSeq
    assert(auto.map(_.toSeq).toSet == flat.map(_.toSeq).toSet)
    val pqAuto = Pq.ivfPqTopKBatchAuto(emb, probes, "vec_id", "embedding",
      m = 8, ks = 4, nprobe = 4, k = 5, numCells = 4).collect().toSeq
    // flat twin: the exhaustive PQ-ADC top-k, one probe at a time,
    // ranked by position
    val pqFlat = probes.select(col("vec_id")).as[Long].collect().toSeq
      .flatMap { pid =>
        Pq.pqAdcTopK(emb, "vec_id", "embedding", m = 8, ks = 4, pid, k = 5)
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((id, d), i) => Seq(pid, i + 1L, id, d) }
      }
    assert(pqAuto.nonEmpty)
    assert(pqAuto.map(_.toSeq).toSet == pqFlat.toSet)
  }

  test("modelRows: one row per trained parameter") {
    val (kc, m, ks, ci, pi, _, _, _) = cfg
    val mdl = IvfPq.train(vecs, "id", "vec", kc, m, ks, ci, pi)
    val n = IvfPq.modelRows(spark, mdl).count()
    assert(n == kc * 4 + m * ks * 2)
  }
}
