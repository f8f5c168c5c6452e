package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the r20 reference-object cell expressions
  * ([[graft.functions.CellOps]]) against the centroid-LITERAL folds
  * they replaced: assignment and routing must be decision-identical
  * at gate-sized K AND at K = 256 — a cell count large enough that
  * the literal fold's O(K·dim) plan would have mattered, which is
  * exactly the regime the reference-object form exists for (the r19
  * verdict's top next-round item). */
class CellOpsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, dim: Int): Seq[(Long, Array[Double])] =
    (0 until n).map { i =>
      // deterministic, non-degenerate directions; a few exact
      // duplicates so argmax ties are actually exercised
      val base = if (i % 17 == 0) 3 else i
      (i.toLong, Array.tabulate(dim)(d =>
        math.sin(base * 0.7 + d * 1.3) + 0.01 * ((base + d) % 5)))
    }

  private def centsOf(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k) { c =>
      val raw = Array.tabulate(dim)(d => math.cos(c * 0.31 + d * 0.57))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }

  test("angular assignment: reference-object expression ≡ literal fold " +
      "at K=4 and K=256 (cell AND angle, bitwise)") {
    val df = corpus(500, 8).toDF("id", "v")
      .select(col("id"), col("v"),
        Similarity.norm(col("v")).as("nrm"))
    for (k <- Seq(4, 256)) {
      val cents = centsOf(k, 8)
      val got = df.select(col("id"),
          AutoBlock.nearestCellStruct(cents, col("v"), col("nrm")).as("nc"))
        .select(col("id"), col("nc.cell"), col("nc.ang"))
        .as[(Long, Int, Double)].collect().sortBy(_._1)
      val want = df.select(col("id"),
          AutoBlock.nearestCellStructLit(cents, col("v"), col("nrm")).as("nc"))
        .select(col("id"), col("nc.cell"), col("nc.ang"))
        .as[(Long, Int, Double)].collect().sortBy(_._1)
      assert(got.length == want.length && got.length == 500)
      got.zip(want).foreach { case ((gi, gc, ga), (wi, wc, wa)) =>
        assert(gi == wi && gc == wc, s"K=$k id=$gi cell $gc != $wc")
        assert(java.lang.Double.doubleToRawLongBits(ga) ==
          java.lang.Double.doubleToRawLongBits(wa),
          s"K=$k id=$gi angle not bitwise equal")
      }
    }
  }

  test("angular probe routing: reference-object router ≡ the K-struct " +
      "sort_array construction at K=256, order included") {
    val k = 256
    val cents = centsOf(k, 8)
    val df = corpus(100, 8).toDF("id", "v")
      .select(col("id"), col("v"), Similarity.norm(col("v")).as("nrm"))
    val nprobe = 7
    val got = df.select(col("id"),
        AutoBlock.routedCellIds(cents, col("v"), col("nrm"), nprobe).as("cs"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    // the literal construction the router replaced
    val scored = cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct((graft.functions.GraftExtensions.dot(col("v"), typedLit(c.toSeq))
        / col("nrm")).as("c"), lit(-i).as("nc"))
    }
    val want = df.select(col("id"),
        transform(slice(sort_array(array(scored: _*), asc = false), 1, nprobe),
          s => -s.getField("nc")).as("cs"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("integer assignment + routing: reference-object ≡ literal fold " +
      "at K=256 (IvfPq family)") {
    val dim = 8
    val k = 256
    val cents: Array[Array[Long]] = Array.tabulate(k)(c =>
      Array.tabulate(dim)(d => ((c * 37 + d * 101) % 2000 - 1000).toLong * 1024))
    val rows = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(dim)(d =>
        ((i * 13 + d * 7) % 2000 - 1000).toLong * 1024)))
    val df = rows.toDF("id", "vq")
    import org.apache.spark.sql.graft.bridge
    val gotCell = df.select(col("id"), bridge.column(
        graft.functions.NearestLongCell(bridge.expression(col("vq")), cents))
        .as("c"))
      .as[(Long, Int)].collect().sortBy(_._1)
    val wantCell = df.select(col("id"),
        IvfPq.nearestLit(col("vq"),
          typedLit(cents.map(_.toSeq).toSeq), k).as("c"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(gotCell.toSeq == wantCell.toSeq)
    val nprobe = 5
    val gotRoute = df.select(col("id"), bridge.column(
        graft.functions.RoutedLongCells(bridge.expression(col("vq")),
          cents, nprobe)).as("cs"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    val scored = cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(aggregate(zip_with(col("vq"), typedLit(c.toSeq),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, t) => a + t).as("d"),
        lit(i).as("cell"))
    }
    val wantRoute = df.select(col("id"),
        transform(slice(sort_array(array(scored: _*)), 1, nprobe),
          s => s.getField("cell")).as("cs"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(gotRoute.toSeq == wantRoute.toSeq)
  }

  test("residual and probe LUT match their composable twins") {
    val dim = 8
    val m = 2
    val sd = dim / m
    val cents: Array[Array[Long]] = Array.tabulate(16)(c =>
      Array.tabulate(dim)(d => ((c * 31 + d * 17) % 512).toLong))
    val books: Array[Array[Array[Long]]] = Array.tabulate(m)(s =>
      Array.tabulate(8)(j =>
        Array.tabulate(sd)(d => ((s * 7 + j * 13 + d) % 97).toLong - 48)))
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(dim)(d => ((i * 11 + d * 3) % 512).toLong)))
    val df = rows.toDF("id", "vq")
    import org.apache.spark.sql.graft.bridge
    // residual
    val cl = typedLit(cents.map(_.toSeq).toSeq)
    val cellCol = bridge.column(graft.functions.NearestLongCell(
      bridge.expression(col("vq")), cents))
    val gotR = df.select(col("id"), bridge.column(
        graft.functions.LongCellResidual(bridge.expression(col("vq")),
          bridge.expression(cellCol), cents)).as("r"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    val wantR = df.select(col("id"),
        zip_with(col("vq"), element_at(cl, cellCol + 1),
          (x, c) => x - c).as("r"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(gotR.toSeq == wantR.toSeq)
    // probe LUT
    val bl = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val gotL = df.select(col("id"), bridge.column(
        graft.functions.LongProbeLut(bridge.expression(col("vq")), books))
        .as("l"))
      .as[(Long, Seq[Seq[Long]])].collect().sortBy(_._1)
    val wantL = df.select(col("id"),
        transform(sequence(lit(0), lit(m - 1)), s => {
          val rsub = slice(col("vq"), s * sd + 1, lit(sd))
          transform(element_at(bl, s + 1), cent =>
            aggregate(zip_with(rsub, cent, (x, y) => (x - y) * (x - y)),
              lit(0L), (a, t) => a + t))
        }).as("l"))
      .as[(Long, Seq[Seq[Long]])].collect().sortBy(_._1)
    assert(gotL.toSeq == wantL.toSeq)
  }
}
