package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.Column
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

  // ---- the IvfPq family: the literal folds the kernels replaced ------

  /** Integer squared L2 of two `array<long>` columns as the `zip_with`
    * fold `IvfPq` used before [[graft.functions.LongL2]]. */
  private def iDistFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + t)

  /** Argmin cell over a centroid-list LITERAL, strict `<` so the
    * smallest index wins exact ties — the construction before the
    * reference-object kernels (plan and codegen O(K·dim)). */
  private def nearestLit(vq: Column, cents: Column, n: Int): Column =
    aggregate(sequence(lit(0), lit(n - 1)),
      struct(lit(Long.MaxValue).as("d"), lit(-1).as("c")),
      (acc, c) => {
        val d = iDistFold(vq, element_at(cents, c + 1))
        when(d < acc.getField("d"),
          struct(d.as("d"), c.cast("int").as("c"))).otherwise(acc)
      }).getField("c")

  /** The ADC `aggregate` fold before [[graft.functions.AdcLutSum]]. */
  private def adcFold(lut: Column, codes: Column): Column =
    aggregate(sequence(lit(0), size(codes) - 1), lit(0L),
      (acc, s) => acc + element_at(element_at(lut, s + 1),
        element_at(codes, s + 1) + 1))

  private def longs(a: Array[Array[Long]]): Column =
    typedLit(a.map(_.toSeq).toSeq)

  /** Runs `body` once with whole-stage codegen and codegen-only
    * expression factories (no fallback: a `doGenCode` that does not
    * compile fails), and once fully interpreted (`nullSafeEval`). */
  private def underBothModes(body: String => Unit): Unit = {
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.fallback" -> "true"))
    val keys = modes.head._2.map(_._1)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try modes.foreach { case (mode, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body(mode)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("integer assignment + routing: reference-object ≡ literal fold " +
      "at K=256 (IvfPq family)") {
    val dim = 8
    val k = 256
    val cents: Array[Array[Long]] = Array.tabulate(k)(c =>
      Array.tabulate(dim)(d => ((c * 37 + d * 101) % 2000 - 1000).toLong * 1024))
    val books: Array[Array[Array[Long]]] = Array.tabulate(2)(s =>
      Array.tabulate(4)(j => Array.tabulate(dim / 2)(d =>
        ((s * 5 + j * 11 + d * 3) % 64 - 32).toLong * 1024)))
    val rows = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(dim)(d =>
        ((i * 13 + d * 7) % 2000 - 1000).toLong * 1024)))
    val df = rows.toDF("id", "vq")
    import org.apache.spark.sql.graft.bridge
    // the cell of the fused encode is the coarse argmin
    val gotCell = df.select(col("id"), bridge.column(
        graft.functions.LongPqEncode(bridge.expression(col("vq")), cents, books))
        .getField("cell").as("c"))
      .as[(Long, Int)].collect().sortBy(_._1)
    val wantCell = df.select(col("id"),
        nearestLit(col("vq"), longs(cents), k).as("c"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(gotCell.toSeq == wantCell.toSeq)
    val nprobe = 5
    val gotRoute = df.select(col("id"), bridge.column(
        graft.functions.RoutedLongCells(bridge.expression(col("vq")),
          cents, nprobe)).as("cs"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    val scored = cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(iDistFold(col("vq"), typedLit(c.toSeq)).as("d"),
        lit(i).as("cell"))
    }
    val wantRoute = df.select(col("id"),
        transform(slice(sort_array(array(scored: _*)), 1, nprobe),
          s => s.getField("cell")).as("cs"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(gotRoute.toSeq == wantRoute.toSeq)
  }

  test("IvfPq encode: the fused kernel ≡ cell argmin → residual → " +
      "per-sub argmin over slice, on real embeddings at the gate " +
      "config and at K=256, codegen and interpreted") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    for ((kCells, ks) <- Seq((32, 64), (256, 256))) {
      val mdl = IvfPq.train(emb, "vec_id", "embedding", kCells, 8, ks)
      assert(mdl.kCells == kCells && mdl.ks == ks)
      val sd = mdl.subDim
      val want = emb.select(col("vec_id"),
          IvfPq.quantizeChecked(col("embedding"), mdl.dim).as("xq"))
        .withColumn("cell", nearestLit(col("xq"), longs(mdl.coarse), kCells))
        .withColumn("_rq", zip_with(col("xq"),
          element_at(longs(mdl.coarse), col("cell") + 1), (x, c) => x - c))
        .select(col("vec_id"), col("cell"), array((0 until mdl.m).map(s =>
          nearestLit(slice(col("_rq"), s * sd + 1, sd), longs(mdl.books(s)),
            ks)): _*).as("codes"))
        .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
      assert(want.length == 500 && want.map(_._2).distinct.length > 1)
      underBothModes { mode =>
        val got = IvfPq.withCodes(emb, "embedding", mdl)
          .select(col("vec_id"), col("cell"), col("codes"))
          .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
        assert(got == want, s"K=$kCells ks=$ks $mode")
      }
    }
  }

  test("ADC LUT-sum kernel ≡ the aggregate fold, codegen and interpreted") {
    import org.apache.spark.sql.graft.bridge
    val (m, ks) = (8, 16)
    // LUT entries span negatives and large magnitudes; across rows the
    // codes reach every LUT column
    val df = spark.range(600).select(col("id"),
      transform(sequence(lit(0), lit(m - 1)), s =>
        transform(sequence(lit(0), lit(ks - 1)), j =>
          ((col("id") * 7919 + s * 104729 + j * 1299709) % 2000003 - 1000001)
            * 4099)).as("lut"),
      transform(sequence(lit(0), lit(m - 1)), s =>
        ((col("id") * 31 + s * 17) % ks).cast("int")).as("codes"))
    underBothModes { mode =>
      val rows = df.select(col("id"),
          bridge.column(graft.functions.AdcLutSum(
            bridge.expression(col("lut")), bridge.expression(col("codes"))))
            .as("got"),
          adcFold(col("lut"), col("codes")).as("want"))
        .as[(Long, Long, Long)].collect()
      assert(rows.length == 600)
      rows.foreach { case (id, got, want) =>
        assert(got == want, s"$mode id=$id") }
    }
  }

  test("integer-L2 kernel ≡ the zip_with fold, null for unequal lengths, " +
      "null elements and null arrays, codegen and interpreted") {
    import org.apache.spark.sql.graft.bridge
    def vec(salt: Int, len: Column): Column =
      when(col("id") % 11 =!= salt, transform(sequence(lit(0), len - 1), i =>
        when(col("id") % 13 === salt && i === 2, lit(null).cast("long"))
          .otherwise((col("id") * 104729 + i * (salt + 7919)) % 2097152
            - 1048576)))
    val df = spark.range(500).select(col("id"),
      vec(3, lit(16)).as("a"),
      vec(5, when(col("id") % 7 === 0, lit(15)).otherwise(lit(16))).as("b"))
    underBothModes { mode =>
      val rows = df.select(col("id"),
          bridge.column(graft.functions.LongL2(
            bridge.expression(col("a")), bridge.expression(col("b")))).as("got"),
          iDistFold(col("a"), col("b")).as("want"))
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
      assert(rows.count(_._3.isEmpty) > 50 && rows.count(_._3.nonEmpty) > 250,
        "the fixture must hold both defined and null distances")
      rows.foreach { case (id, got, want) =>
        assert(got == want, s"$mode id=$id") }
    }
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
    val cl = longs(cents)
    val cellCol = nearestLit(col("vq"), cl, cents.length)
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
          transform(element_at(bl, s + 1), cent => iDistFold(rsub, cent))
        }).as("l"))
      .as[(Long, Seq[Seq[Long]])].collect().sortBy(_._1)
    assert(gotL.toSeq == wantL.toSeq)
  }
}
