package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Centroid assignment / probe routing as REFERENCE-OBJECT expressions
  * — the large-K scale fix for the IVF family (r20, the round-19
  * verdict's top item).
  *
  * The previous construction carried every centroid as an expression
  * LITERAL (`typedLit` array folds / one struct per cell): ideal at
  * gate-sized K (≤ 32), but the generated code and the analyzed plan
  * both grow O(K·dim) — at the K ~ 2^14..2^18 cells a 100 TB corpus
  * wants, that means multi-MB plans, Janino's 64 KB method limit
  * (silent interpreted fallback), and minutes of driver analysis per
  * stage. These expressions instead hold the centroid table as a
  * PLAIN JVM ARRAY attached to the expression object — the same
  * mechanism Spark's own `might_contain` uses for its Bloom filter
  * (`ctx.addReferenceObj`): generated code is O(1) in K (one static
  * helper call per row), the model rides the closure/broadcast
  * serialization exactly like a literal would, and the per-row work
  * is the same O(K·dim) argmin — now as a tight primitive loop
  * instead of K folded Catalyst aggregates, so it is FASTER at small
  * K too, not just viable at large K.
  *
  * Exactness: each helper replicates its literal-fold predecessor's
  * arithmetic decision for decision —
  *  - dot products accumulate ascending-index with null elements
  *    contributing 0 ([[DotProduct]]'s contract),
  *  - cosine comparisons use `java.lang.Double.compare`, which orders
  *    NaN greatest — bit-for-bit Spark's double ordering (`greatest`
  *    / `sort_array` semantics),
  *  - integer distances are plain associative long sums,
  *  - argmin/argmax ties break toward the SMALLER cell id (ascending
  *    scan with strict improvement),
  *  - probe routing returns cells in the literal path's exact order:
  *    cosine descending / integer distance ascending, cell id
  *    ascending on ties.
  * `AutoBlockSpec`/`CellOpsSpec` pin expression ≡ literal fold on real
  * corpora including a K = 256 configuration the gates never reach.
  *
  * Placement rule for per-row kernels: whole-stage codegen defers a
  * deterministic Project output until its first use, and a
  * BroadcastHashJoin does not force its stream side's columns — so a
  * column first read by a score computed after a fan-out join is
  * evaluated once per CANDIDATE, inside the join's match loop, not
  * once per row. A per-row kernel whose output feeds such a score must
  * share one expression with the join key (as [[LongPqEncode]]'s
  * `struct(cell, codes)` does: the key forces the struct, the codes
  * are then a field read), or be consumed before the join. Declare a
  * kernel output non-nullable when it cannot be null, or the join's
  * inferred `isnotnull(key)` filter pushes a second copy of the kernel
  * under the join.
  */
object CellOps {

  // element-type tags for the shared numeric accessor (computed once
  // at expression-construction time, never per row)
  final val TDouble = 0
  final val TFloat = 1
  final val TLong = 2
  final val TInt = 3
  final val TShort = 4
  final val TByte = 5

  private[functions] def tagOf(dt: DataType, site: String): Int = dt match {
    case ArrayType(DoubleType, _) => TDouble
    case ArrayType(FloatType, _) => TFloat
    case ArrayType(LongType, _) => TLong
    case ArrayType(IntegerType, _) => TInt
    case ArrayType(ShortType, _) => TShort
    case ArrayType(ByteType, _) => TByte
    case other => throw new IllegalStateException(
      s"$site: unsupported vector type ${other.simpleString}")
  }

  @inline private def getD(arr: ArrayData, tag: Int, i: Int): Double =
    tag match {
      case TDouble => arr.getDouble(i)
      case TFloat => arr.getFloat(i).toDouble
      case TLong => arr.getLong(i).toDouble
      case TInt => arr.getInt(i).toDouble
      case TShort => arr.getShort(i).toDouble
      case _ => arr.getByte(i).toDouble
    }

  /** Ascending-index dot of `vec` against a centroid — [[DotProduct]]'s
    * accumulation order and null-element rule, so the cosine equals
    * the literal path's `graft_dot(vec, lit(cent)) / nrm` bitwise. */
  @inline private def dotCent(vec: ArrayData, tag: Int,
                              cent: Array[Double]): Double = {
    val n = vec.numElements()
    if (cent.length != n)
      throw new IllegalArgumentException(
        s"CellOps: length mismatch ($n vs ${cent.length})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) acc += getD(vec, tag, i) * cent(i)
      i += 1
    }
    acc
  }

  /** Integer squared L2 of an `array<long>` row against a centroid —
    * the associative long sum of [[longL2]]. */
  @inline private def iDistCent(vec: ArrayData,
                                cent: Array[Long]): Long = {
    val n = vec.numElements()
    if (cent.length != n)
      throw new IllegalArgumentException(
        s"CellOps: length mismatch ($n vs ${cent.length})")
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = vec.getLong(i) - cent(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** struct(cell, ang) of the max-cosine centroid: ties to the smaller
    * cell id; ang clamped exactly like the literal path's
    * `acos(least(greatest(c, -1), 1))` including its NaN behavior
    * (greatest propagates NaN, least then picks 1.0). */
  def nearestUnit(vec: ArrayData, nrm: Double,
                  cents: Array[Array[Double]], tag: Int): InternalRow = {
    var bi = 0
    var bc = dotCent(vec, tag, cents(0)) / nrm
    var j = 1
    while (j < cents.length) {
      val c = dotCent(vec, tag, cents(j)) / nrm
      if (java.lang.Double.compare(c, bc) > 0) { bc = c; bi = j }
      j += 1
    }
    val g = if (java.lang.Double.compare(bc, -1.0) > 0) bc else -1.0
    val l = if (java.lang.Double.compare(g, 1.0) < 0) g else 1.0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bi, math.acos(l)))
  }

  /** Argmin integer-L2 cell: strict improvement on an ascending scan —
    * the literal fold's `d < acc.d` tie-break (smallest cell wins). */
  private def nearestLong(vec: ArrayData, cents: Array[Array[Long]]): Int = {
    var bi = 0
    var bd = iDistCent(vec, cents(0))
    var j = 1
    while (j < cents.length) {
      val d = iDistCent(vec, cents(j))
      if (d < bd) { bd = d; bi = j }
      j += 1
    }
    bi
  }

  /** The IVF-PQ code of one fixed-point vector, `struct(cell, codes)`:
    * the nearest coarse cell ([[nearestLong]]), then per subvector `s`
    * the book entry nearest to slice `s` of the residual against that
    * cell — the composed `cell → residual → argmin over slice`
    * construction, strict `<` everywhere (smallest cell / code id wins
    * ties), in one call per row. A null vector fails: callers drop
    * null vectors first, and the non-null result keeps the join on
    * `cell` from inferring a second, filtering copy of this kernel. */
  def pqEncode(vec: ArrayData, coarse: Array[Array[Long]],
               books: Array[Array[Array[Long]]]): InternalRow = {
    if (vec == null)
      throw new IllegalArgumentException(
        "CellOps.pqEncode: null vector (drop null vectors before coding)")
    val cell = nearestLong(vec, coarse)
    val c = coarse(cell)
    val n = c.length
    val res = new Array[Long](n)
    var i = 0
    while (i < n) { res(i) = vec.getLong(i) - c(i); i += 1 }
    val m = books.length
    val sd = n / m
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      val off = s * sd
      var bi = 0
      var bd = subDist(res, off, book(0))
      var j = 1
      while (j < book.length) {
        val d = subDist(res, off, book(j))
        if (d < bd) { bd = d; bi = j }
        j += 1
      }
      codes(s) = bi
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cell, UnsafeArrayData.fromPrimitiveArray(codes)))
  }

  /** Integer squared L2 of `res(off until off + cent.length)` against
    * a book entry. */
  @inline private def subDist(res: Array[Long], off: Int,
                              cent: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < cent.length) {
      val d = res(off + i) - cent(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** ADC distance of one candidate: `Σ_s lut(s)(codes(s))`, summed in
    * subvector order — the plain long sum of the `aggregate` fold it
    * replaces. A code outside its LUT row fails, as the fold's
    * `element_at` did. */
  def adcSum(lut: ArrayData, codes: ArrayData): Long = {
    val m = codes.numElements()
    if (lut.numElements() < m)
      throw new IllegalArgumentException(
        s"CellOps.adcSum: $m codes against a ${lut.numElements()}-row LUT")
    var acc = 0L
    var s = 0
    while (s < m) {
      val row = lut.getArray(s)
      val j = codes.getInt(s)
      if (j < 0 || j >= row.numElements())
        throw new IllegalArgumentException(
          s"CellOps.adcSum: code $j outside LUT row $s of ${row.numElements()}")
      acc += row.getLong(j)
      s += 1
    }
    acc
  }

  /** Whether [[longL2]] is defined on `a`, `b`: equal lengths and no
    * null element — where the `zip_with` fold it replaces is null. */
  def longL2Defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Integer squared L2 of two `array<long>` rows of equal length —
    * a plain associative long sum. */
  def longL2(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** `vec - cents(cell)` as `array<long>` — the residual the PQ books
    * model; replicates `zip_with(xq, element_at(cl, cell+1), _-_)`. */
  def longResidual(vec: ArrayData, cell: Int,
                   cents: Array[Array[Long]]): ArrayData = {
    val c = cents(cell)
    val n = vec.numElements()
    if (c.length != n)
      throw new IllegalArgumentException(
        s"CellOps: length mismatch ($n vs ${c.length})")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = vec.getLong(i) - c(i); i += 1 }
    new GenericArrayData(out)
  }

  /** The per-(probe, cell) ADC lookup table off a residual:
    * `lut(s)(j)` = integer squared L2 between residual subvector `s`
    * and book entry `(s, j)` — replicates the nested
    * `transform(sequence(0, m-1), s => transform(books(s), iDist))`
    * construction, books as a reference object. */
  def longProbeLut(prl: ArrayData,
                   books: Array[Array[Array[Long]]]): ArrayData = {
    val m = books.length
    val sd = books(0)(0).length
    if (prl.numElements() != m * sd)
      throw new IllegalArgumentException(
        s"CellOps: residual length ${prl.numElements()} != m*subDim " +
          s"(${m * sd})")
    val out = new Array[ArrayData](m)
    var s = 0
    while (s < m) {
      val ks = books(s).length
      val row = new Array[Long](ks)
      var j = 0
      while (j < ks) {
        val cent = books(s)(j)
        var acc = 0L
        var i = 0
        while (i < sd) {
          val d = prl.getLong(s * sd + i) - cent(i)
          acc += d * d
          i += 1
        }
        row(j) = acc
        j += 1
      }
      out(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** The `nprobe` nearest cells by cosine DESCENDING, cell id ascending
    * on ties — the literal path's `sort_array(array(struct(c, -cell)),
    * asc=false)` order (NaN sorts first, Spark's double ordering). */
  def routedUnit(vec: ArrayData, nrm: Double, cents: Array[Array[Double]],
                 nprobe: Int, tag: Int): ArrayData = {
    val k = cents.length
    val cos = new Array[Double](k)
    var j = 0
    while (j < k) { cos(j) = dotCent(vec, tag, cents(j)) / nrm; j += 1 }
    val idx = Array.range(0, k)
    // stable sort on cosine descending: equal cosines keep ascending
    // cell order — exactly the (c, -cell) lexicographic struct sort
    val boxed = idx.sortWith((a, b) => {
      val c = java.lang.Double.compare(cos(a), cos(b))
      if (c != 0) c > 0 else a < b
    })
    new GenericArrayData(boxed.take(math.min(nprobe, k)))
  }

  /** The `nprobe` nearest cells by integer L2 ASCENDING, cell id
    * ascending on ties — the literal path's `sort_array(array(
    * struct(d, cell)))` order. */
  def routedLong(vec: ArrayData, cents: Array[Array[Long]],
                 nprobe: Int): ArrayData = {
    val k = cents.length
    val ds = new Array[Long](k)
    var j = 0
    while (j < k) { ds(j) = iDistCent(vec, cents(j)); j += 1 }
    val boxed = Array.range(0, k).sortWith((a, b) => {
      val c = java.lang.Long.compare(ds(a), ds(b))
      if (c != 0) c < 0 else a < b
    })
    new GenericArrayData(boxed.take(math.min(nprobe, k)))
  }
}

/** `struct(cell int, ang double)` of the nearest unit centroid —
  * [[graft.sim.AutoBlock]]'s assignment expression with the centroid
  * table as a reference object (see [[CellOps]]). Null-intolerant:
  * every call site pre-filters null vectors / non-finite norms. */
case class NearestUnitCell(vec: Expression, nrm: Expression,
                           cents: Array[Array[Double]])
  extends BinaryExpression {

  require(cents.nonEmpty, "NearestUnitCell: empty centroid table")

  override def left: Expression = vec
  override def right: Expression = nrm
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_unit_cell"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(_: NumericType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (numeric array, double), got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("ang", DoubleType, nullable = false)))

  private lazy val tag = CellOps.tagOf(vec.dataType, prettyName)

  override def nullSafeEval(v: Any, n: Any): Any =
    CellOps.nearestUnit(v.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], cents, tag)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n) => {
      val c = ctx.addReferenceObj("cents", cents, "double[][]")
      s"${ev.value} = graft.functions.CellOps.nearestUnit($v, $n, $c, $tag);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestUnitCell =
    copy(vec = newLeft, nrm = newRight)
}

/** `vec - cents(cell)` — the coarse residual, reference-object form. */
case class LongCellResidual(vec: Expression, cell: Expression,
                            cents: Array[Array[Long]])
  extends BinaryExpression with ExpectsInputTypes {

  require(cents.nonEmpty, "LongCellResidual: empty centroid table")

  override def left: Expression = vec
  override def right: Expression = cell
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_long_cell_residual"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any, c: Any): Any =
    CellOps.longResidual(v.asInstanceOf[ArrayData],
      c.asInstanceOf[Int], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c) => {
      val cs = ctx.addReferenceObj("cents", cents, "long[][]")
      s"${ev.value} = graft.functions.CellOps.longResidual($v, $c, $cs);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongCellResidual =
    copy(vec = newLeft, cell = newRight)
}

/** The per-(probe, cell) m×ks ADC LUT off a residual — books as a
  * reference object. */
case class LongProbeLut(prl: Expression, books: Array[Array[Array[Long]]])
  extends UnaryExpression with ExpectsInputTypes {

  require(books.nonEmpty && books.forall(_.nonEmpty),
    "LongProbeLut: empty codebook")

  override def child: Expression = prl
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_long_probe_lut"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def nullSafeEval(v: Any): Any =
    CellOps.longProbeLut(v.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.addReferenceObj("books", books, "long[][][]")
      s"${ev.value} = graft.functions.CellOps.longProbeLut($v, $b);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): LongProbeLut = copy(prl = newChild)
}

/** `struct(cell, codes)` of a fixed-point vector against a trained
  * IVF-PQ model — [[graft.sim.IvfPq]]'s encode, one call per row
  * ([[CellOps.pqEncode]]), coarse table and books as reference
  * objects. Non-nullable: a null vector fails (see [[CellOps]] on why
  * the join key must not be nullable). */
case class LongPqEncode(vec: Expression, coarse: Array[Array[Long]],
                        books: Array[Array[Array[Long]]])
  extends UnaryExpression with ExpectsInputTypes {

  require(coarse.nonEmpty && books.nonEmpty && books.forall(_.nonEmpty),
    "LongPqEncode: empty coarse table or codebook")
  require(coarse.forall(_.length == books.length * books(0)(0).length) &&
      books.forall(_.forall(_.length == books(0)(0).length)),
    "LongPqEncode: the books do not tile the coarse dimension")

  override def child: Expression = vec
  override def nullable: Boolean = false
  override def prettyName: String = "graft_long_pq_encode"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  override def eval(input: InternalRow): Any =
    CellOps.pqEncode(vec.eval(input).asInstanceOf[ArrayData], coarse, books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val cs = ctx.addReferenceObj("coarse", coarse, "long[][]")
    val bs = ctx.addReferenceObj("books", books, "long[][][]")
    ev.copy(code = code"""
      ${v.code}
      InternalRow ${ev.value} = graft.functions.CellOps.pqEncode(
        ${v.isNull} ? null : ${v.value}, $cs, $bs);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): LongPqEncode = copy(vec = newChild)
}

/** ADC distance `Σ_s lut(s)(codes(s))` of a candidate against its
  * per-(probe, cell) LUT ([[CellOps.adcSum]]). */
case class AdcLutSum(lut: Expression, codes: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = lut
  override def right: Expression = codes
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_adc_lut_sum"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(LongType)), ArrayType(IntegerType))

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, c: Any): Any =
    CellOps.adcSum(l.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, c) => s"graft.functions.CellOps.adcSum($l, $c)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLutSum =
    copy(lut = newLeft, codes = newRight)
}

/** Integer squared L2 of two `array<long>` columns ([[CellOps.longL2]]);
  * null when the lengths differ or an element is null, as the
  * `zip_with` fold it replaces. */
case class LongL2(a: Expression, b: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = a
  override def right: Expression = b
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "graft_long_l2"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def nullSafeEval(x: Any, y: Any): Any = {
    val (xa, ya) = (x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])
    if (CellOps.longL2Defined(xa, ya)) CellOps.longL2(xa, ya) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""if (graft.functions.CellOps.longL2Defined($x, $y)) {
         |  ${ev.value} = graft.functions.CellOps.longL2($x, $y);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongL2 =
    copy(a = newLeft, b = newRight)
}

/** `array<int>` of the probe's `nprobe` nearest cells, cosine
  * descending — the batch-ANN router, reference-object form. */
case class RoutedUnitCells(vec: Expression, nrm: Expression,
                           cents: Array[Array[Double]], nprobe: Int)
  extends BinaryExpression {

  require(cents.nonEmpty, "RoutedUnitCells: empty centroid table")
  require(nprobe >= 0, s"RoutedUnitCells: nprobe must be >= 0, got $nprobe")

  override def left: Expression = vec
  override def right: Expression = nrm
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_routed_unit_cells"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(_: NumericType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (numeric array, double), got $other")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val tag = CellOps.tagOf(vec.dataType, prettyName)

  override def nullSafeEval(v: Any, n: Any): Any =
    CellOps.routedUnit(v.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], cents, nprobe, tag)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n) => {
      val c = ctx.addReferenceObj("cents", cents, "double[][]")
      s"${ev.value} = graft.functions.CellOps.routedUnit($v, $n, $c, $nprobe, $tag);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RoutedUnitCells =
    copy(vec = newLeft, nrm = newRight)
}

/** `array<int>` of the probe's `nprobe` nearest cells, integer L2
  * ascending — [[graft.sim.IvfPq]]'s router, reference-object form. */
case class RoutedLongCells(vec: Expression, cents: Array[Array[Long]],
                           nprobe: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(cents.nonEmpty, "RoutedLongCells: empty centroid table")
  require(nprobe >= 0, s"RoutedLongCells: nprobe must be >= 0, got $nprobe")

  override def child: Expression = vec
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_routed_long_cells"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    CellOps.routedLong(v.asInstanceOf[ArrayData], cents, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.addReferenceObj("cents", cents, "long[][]")
      s"${ev.value} = graft.functions.CellOps.routedLong($v, $c, $nprobe);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): RoutedLongCells = copy(vec = newChild)
}
