package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/similarity hot path.
  *
  * Why not the `zip_with`/`aggregate` compositions ([[VectorFunctions]]
  * keeps them as cross-check references): Spark's higher-order functions
  * are interpreted (CodegenFallback) — every row pays lambda dispatch
  * and materialized intermediate arrays per operation, and the
  * surrounding stage falls out of whole-stage codegen. These expressions
  * read the `ArrayData` buffers in fused allocation-free loops and
  * `doGenCode` emits a static kernel call so the stage stays fused — a
  * large constant factor on work that is corpus x queries sized at
  * 100 TB.
  *
  * Semantics contract (asserted bit-equal to the composed forms in
  * SimilarityOpsSpec): strict left-to-right double accumulation, and
  * DEGENERATE inputs resolve exactly the way the composed forms'
  * null-absorbing guards resolved them — a null array element or a
  * length mismatch yields cosine 0.0 / all-zero LSH buckets /
  * first-cells probe order, never a crash and never a silently
  * truncated "confident" score. Element types float/double/int/long are
  * accepted (the composed forms cast to double).
  */
object VectorExprs {

  // element-kind codes for the kernels (avoids per-element type dispatch
  // through DataType objects in the hot loop)
  final val KindFloat = 0
  final val KindDouble = 1
  final val KindInt = 2
  final val KindLong = 3

  private def elemKind(dt: DataType): Int = dt.asInstanceOf[ArrayType].elementType match {
    case FloatType => KindFloat
    case DoubleType => KindDouble
    case IntegerType => KindInt
    case LongType => KindLong
    case other => throw new IllegalStateException(s"unchecked element type $other")
  }

  private def checkVectorType(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name needs an array<float|double|int|long> input, got ${other.simpleString}")
  }

  /** Accepted vector types for implicit input casting: the four native
    * element kinds pass through UNCHANGED (no cast on the hot path); any
    * other numeric array — notably array<decimal>, which is what SQL
    * literals like `array(1.0, 0.0)` parse to under ANSI mode — is
    * implicitly cast to array<double>, so the SQL-registered forms accept
    * the same inputs as the built-ins without a manual CAST.
    * (TypeCollection is private[sql]; surfaced via GraftBridge.)
    */
  private val VectorTypes = org.apache.spark.sql.GraftBridge.vectorInputTypes

  @inline private def readElem(a: ArrayData, i: Int, kind: Int): Double = kind match {
    case KindFloat => a.getFloat(i).toDouble
    case KindDouble => a.getDouble(i)
    case KindInt => a.getInt(i).toDouble
    case _ => a.getLong(i).toDouble
  }

  private def hasNullElement(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Shared cosine kernel. Degenerate inputs (length mismatch, null
    * elements, zero norms) score 0.0 — identical to the composed
    * formulation, where any of these nulled the dot/norms and the
    * `when(nn > 0).otherwise(0.0)` guard absorbed it.
    */
  def cosineKernel(a: ArrayData, b: ArrayData, kindA: Int, kindB: Int): Double = {
    val n = a.numElements()
    if (n != b.numElements() || hasNullElement(a) || hasNullElement(b)) return 0.0
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = readElem(a, i, kindA)
      val y = readElem(b, i, kindB)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn > 0) dot / nn else 0.0
  }

  /** Shared unit-normalization kernel: one fused pass (read + sum of
    * squares, then scale). Null elements read as 0.0; a zero-norm vector
    * passes through unscaled — the same absorbing behavior as the
    * composed `when(norm > 0, transform(v, _ / norm))` guard.
    */
  def unitKernel(v: ArrayData, kind: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (v.isNullAt(i)) 0.0 else readElem(v, i, kind)
      out(i) = x
      s += x * x
      i += 1
    }
    val nm = math.sqrt(s)
    if (nm > 0) {
      i = 0
      while (i < n) { out(i) /= nm; i += 1 }
    }
    new GenericArrayData(out)
  }

  /** Unit-normalize a vector (array<numeric> -> array<double>).
    *
    * Native because the composed formulation — `transform(v, x / norm)`
    * with `norm = sqrt(aggregate(zip_with(v, v, _*_), ...))` — is a
    * higher-order function, which Spark always evaluates INTERPRETED,
    * re-evaluating the captured norm subtree PER ELEMENT: O(dim^2)
    * boxed operations per row (measured as the whole wall-clock of PQ
    * encoding at 1M vectors). This kernel is one codegen'd O(dim) pass.
    */
  case class UnitVector(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes)
    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("unit_vector", child.dataType)
    override protected def nullSafeEval(input: Any): Any =
      unitKernel(input.asInstanceOf[ArrayData], elemKind(child.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.unitKernel(" +
          s"$c, ${elemKind(child.dataType)});")
    override def prettyName: String = "unit_vector"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes, VectorTypes)

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("cosine_similarity", left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess =>
          checkVectorType("cosine_similarity", right.dataType)
        case fail => fail
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      cosineKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        elemKind(left.dataType), elemKind(right.dataType))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c1, c2) =>
        s"${ev.value} = graft.functions.VectorExprs.cosineKernel(" +
          s"$c1, $c2, ${elemKind(left.dataType)}, ${elemKind(right.dataType)});")

    override def prettyName: String = "cosine_similarity"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Hyperplane components are a pure function of (plane, dim index):
    * pmod(xxhash64(p, j), 2001)/1000 - 1 in [-1, 1) — exactly the
    * derivation of VectorFunctions.hyperplaneProjection, so executors
    * (and this cache) agree with no coordinated state. Materialized once
    * per (planes, dim) per JVM instead of re-hashed per row.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planeMatrix(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dim), _ =>
      Array.tabulate(nPlanes)(p => Array.tabulate(dim)(j =>
        (Math.floorMod(XXH64.hashInt(j, XXH64.hashInt(p, 42L)), 2001L) - 1000L) / 1000.0)))

  /** Banded sign-LSH kernel: all `bands` bucket ids in one pass over the
    * vector (dense mat-vec against the cached plane matrix + sign
    * packing). Empty vectors and null elements give all-zero buckets
    * (the composed form's null projections set no bits).
    */
  def signLshKernel(v: ArrayData, kind: Int, bands: Int, bits: Int): ArrayData = {
    val dim = v.numElements()
    if (dim == 0 || hasNullElement(v))
      return new GenericArrayData(new Array[Long](bands))
    val planes = planeMatrix(bands * bits, dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var i = 0
      while (i < bits) {
        val row = planes(b * bits + i)
        var acc = 0.0
        var j = 0
        while (j < dim) {
          acc += readElem(v, j, kind) * row(j)
          j += 1
        }
        if (acc >= 0) bucket += (1L << i)
        i += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  case class SignLshBands(child: Expression, bands: Int, bitsPerBand: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes)

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("sign_lsh_bands", child.dataType)

    override protected def nullSafeEval(input: Any): Any =
      signLshKernel(input.asInstanceOf[ArrayData], elemKind(child.dataType),
        bands, bitsPerBand)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.signLshKernel(" +
          s"$c, ${elemKind(child.dataType)}, $bands, $bitsPerBand);")

    override def prettyName: String = "sign_lsh_bands"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Nearest-cells kernel: dot the vector against every (unit) centroid
    * in one fused pass, then emit the `nprobe` cell ids ordered by
    * (dot desc, cell asc) under the same TOTAL double order array_sort
    * uses (java.lang.Double.compare: NaN sorts worst, like the composed
    * form's null-last struct sort). Degenerate vectors (null elements,
    * length != centroid dim) probe the first cells 0..nprobe-1 — the
    * composed form's all-null dots sorted by cell id.
    */
  def nearestCellsKernel(
      v: ArrayData, kind: Int,
      cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val n = cents.length
    val k = math.min(nprobe, n)
    val dim = if (n > 0) cents(0).length else 0
    if (v.numElements() != dim || hasNullElement(v))
      return new GenericArrayData(Array.tabulate(k)(identity))
    // negated dots: ascending java.lang.Double.compare order == the
    // composed sort's (negdot asc, cell asc), including NaN-last
    val neg = new Array[Double](n)
    var c = 0
    while (c < n) {
      val row = cents(c)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        acc += readElem(v, j, kind) * row(j)
        j += 1
      }
      neg(c) = -acc
      c += 1
    }
    val best = new Array[Int](k)
    var filled = 0
    c = 0
    while (c < n) {
      var pos = filled
      // move left while the resident is strictly worse (greater negdot);
      // ties keep the earlier (lower) cell first — cells scan ascending
      while (pos > 0 && java.lang.Double.compare(neg(best(pos - 1)), neg(c)) > 0) pos -= 1
      if (pos < k) {
        var m = math.min(filled, k - 1)
        while (m > pos) { best(m) = best(m - 1); m -= 1 }
        best(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    new GenericArrayData(best.take(filled))
  }

  /** Residual kernel for IVF-PQ encoding: v - cents[cell] in one fused
    * pass (read + subtract, no boxing). Degenerate inputs (dim
    * mismatch, null elements, out-of-range cell) yield the zero vector
    * — PQ then codes the residual of "exactly the centroid", the
    * least-wrong claim available.
    */
  def residualKernel(
      v: ArrayData, kind: Int,
      cents: Array[Array[Double]], cell: Int): ArrayData = {
    val dim = if (cents.nonEmpty) cents(0).length else 0
    val out = new Array[Double](dim)
    if (v.numElements() != dim || hasNullElement(v) ||
        cell < 0 || cell >= cents.length)
      return new GenericArrayData(out)
    val c = cents(cell)
    var i = 0
    while (i < dim) {
      out(i) = readElem(v, i, kind) - c(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** v - cents[cell], natively: the IVF-PQ residual. A composed
    * `zip_with(v, element_at(lit(cents), cell + 1), _ - _)` is a
    * higher-order function — interpreted, and the captured
    * centroid-lookup subtree re-evaluates PER ELEMENT (O(dim^2) boxed
    * per row, the same trap UnitVector exists for).
    */
  case class Residual(left: Expression, right: Expression, cents: Seq[Seq[Double]])
      extends BinaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes, IntegerType)

    @transient private lazy val centArr: Array[Array[Double]] =
      cents.map(_.toArray).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("vec_residual", left.dataType)

    override protected def nullSafeEval(v: Any, cell: Any): Any =
      residualKernel(v.asInstanceOf[ArrayData], elemKind(left.dataType),
        centArr, cell.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
      nullSafeCodeGen(ctx, ev, (v, cell) =>
        s"${ev.value} = graft.functions.VectorExprs.residualKernel(" +
          s"$v, ${elemKind(left.dataType)}, $centsRef, $cell);")
    }

    override def prettyName: String = "vec_residual"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Nearest-cells-with-dots kernel: the SAME selection and ordering as
    * [[nearestCellsKernel]] (asserted equal in SimilarityOpsSpec), but
    * each probed cell carries its exact dot(v, centroid) — the per-cell
    * term of the IVF-PQ score decomposition. This is what lets the
    * query-side probe list be built as a NARROW map over the query scan
    * instead of a driver-side collect: one fused pass per query row, no
    * materialization, no join. Degenerate vectors (null elements, dim
    * mismatch) probe the first cells 0..nprobe-1 with dot 0.0 — the
    * cell order [[nearestCellsKernel]] emits, with the score the cosine
    * kernel would assign such vectors anyway.
    */
  def nearestCellDotsKernel(
      v: ArrayData, kind: Int,
      cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val n = cents.length
    val k = math.min(nprobe, n)
    val dim = if (n > 0) cents(0).length else 0
    if (v.numElements() != dim || hasNullElement(v))
      return new GenericArrayData(Array.tabulate[Any](k)(i =>
        new GenericInternalRow(Array[Any](i, 0.0))))
    val neg = new Array[Double](n)
    var c = 0
    while (c < n) {
      val row = cents(c)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        acc += readElem(v, j, kind) * row(j)
        j += 1
      }
      neg(c) = -acc
      c += 1
    }
    val best = new Array[Int](k)
    var filled = 0
    c = 0
    while (c < n) {
      var pos = filled
      while (pos > 0 && java.lang.Double.compare(neg(best(pos - 1)), neg(c)) > 0) pos -= 1
      if (pos < k) {
        var m = math.min(filled, k - 1)
        while (m > pos) { best(m) = best(m - 1); m -= 1 }
        best(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    new GenericArrayData(Array.tabulate[Any](filled)(i =>
      new GenericInternalRow(Array[Any](best(i), -neg(best(i))))))
  }

  /** The `nprobe` nearest cells of a vector, each as (cell, dot) —
    * array<struct<cell:int, dot:double>> ordered nearest-first with the
    * [[NearestCells]] tie-break. Powers the distributed IVF-PQ probe
    * build (query side stays a narrow map; nothing is collected).
    */
  case class NearestCellDots(child: Expression, cents: Seq[Seq[Double]], nprobe: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("dot", DoubleType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes)

    @transient private lazy val centArr: Array[Array[Double]] =
      cents.map(_.toArray).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("nearest_cell_dots", child.dataType)

    override protected def nullSafeEval(input: Any): Any =
      nearestCellDotsKernel(input.asInstanceOf[ArrayData], elemKind(child.dataType),
        centArr, nprobe)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.nearestCellDotsKernel(" +
          s"$c, ${elemKind(child.dataType)}, $centsRef, $nprobe);")
    }

    override def prettyName: String = "nearest_cell_dots"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** PQ asymmetric-distance table kernel: lut[j*k + c] = dot of the j-th
    * sub-vector of v with codeword books[j][c], flattened exactly as the
    * search path indexes it (lit(j*k+1) + code, 1-based element_at).
    * One fused pass, m*k*(dim/m) = dim*k multiply-adds per query row —
    * the work the old driver-side loop did per collected row, now a
    * codegen'd narrow map. Degenerate inputs (dim mismatch, null
    * elements) yield the all-zero LUT (score collapses to the centroid
    * term, matching the cosine kernel's 0.0 stance).
    */
  def pqLutKernel(
      v: ArrayData, kind: Int, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val kcode = if (m > 0) books(0).length else 0
    val sd = if (kcode > 0) books(0)(0).length else 0
    val out = new Array[Double](m * kcode)
    if (v.numElements() != m * sd || hasNullElement(v))
      return new GenericArrayData(out)
    var j = 0
    while (j < m) {
      val book = books(j)
      var c = 0
      while (c < kcode) {
        val cw = book(c)
        var acc = 0.0
        var x = 0
        while (x < sd) {
          acc += readElem(v, j * sd + x, kind) * cw(x)
          x += 1
        }
        out(j * kcode + c) = acc
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query PQ lookup table (array<double>, length m*k) against
    * literal codebooks — the distributed replacement for driver-side
    * LUT construction in the PQ/IVF-PQ search paths.
    */
  case class PqLut(child: Expression, books: Seq[Seq[Seq[Double]]])
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes)

    @transient private lazy val bookArr: Array[Array[Array[Double]]] =
      books.map(_.map(_.toArray).toArray).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("pq_lut", child.dataType)

    override protected def nullSafeEval(input: Any): Any =
      pqLutKernel(input.asInstanceOf[ArrayData], elemKind(child.dataType), bookArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val booksRef = ctx.addReferenceObj("books", bookArr, "double[][][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.pqLutKernel(" +
          s"$c, ${elemKind(child.dataType)}, $booksRef);")
    }

    override def prettyName: String = "pq_lut"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** The SQ8 code struct: a per-vector scale and one signed byte per
    * dimension. 8 bits/dim is the resolution tier BETWEEN PQ codes
    * (m sub-codes per vector — 100 TB candidate generation) and the
    * raw vector (exact re-rank): fine enough to rank neighbors INSIDE
    * a tight cluster, where 4-bit product codes saturate (the measured
    * r9 recall ceiling), at 1/4 the bytes of the float vector.
    */
  val SqCodeType: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", BinaryType, nullable = false)))

  /** SQ8-encode kernel: scale = max|v_i| / 127, codes_i = round(v_i /
    * scale) in [-127, 127]. One fused pass. Degenerate inputs (null
    * elements, all-zero vector) encode as scale 0.0 + zero codes, which
    * [[sqDotKernel]] scores 0.0 — the same absorbing stance as the
    * cosine kernel.
    */
  def sqEncodeKernel(v: ArrayData, kind: Int): GenericInternalRow = {
    val n = v.numElements()
    val codes = new Array[Byte](n)
    if (hasNullElement(v))
      return new GenericInternalRow(Array[Any](0.0, codes))
    var mx = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(readElem(v, i, kind))
      if (a > mx) mx = a
      i += 1
    }
    // !isFinite also rejects an Infinity element: a scale of Infinity
    // would encode every dimension to code 0 yet score NaN in sqDot
    // (0 * Infinity), and NaN sorts ABOVE every real score — the
    // degenerate vector must absorb to 0.0 like the other cases
    if (mx == 0.0 || !java.lang.Double.isFinite(mx))
      return new GenericInternalRow(Array[Any](0.0, new Array[Byte](n)))
    val scale = mx / 127.0
    i = 0
    while (i < n) {
      codes(i) = math.round(readElem(v, i, kind) / scale).toByte
      i += 1
    }
    new GenericInternalRow(Array[Any](scale, codes))
  }

  /** SQ8 encode: array<numeric> -> struct<scale:double, codes:binary>.
    * Applied to the IVF residual at admission time; the codes column is
    * what the scoring join reads instead of the vector.
    */
  case class SqEncode(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = SqCodeType
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes)
    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("sq_encode", child.dataType)
    override protected def nullSafeEval(input: Any): Any =
      sqEncodeKernel(input.asInstanceOf[ArrayData], elemKind(child.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.sqEncodeKernel(" +
          s"$c, ${elemKind(child.dataType)});")
    override def prettyName: String = "sq_encode"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** SQ8 asymmetric dot kernel: scale * Σ q_i * codes_i — the query
    * side stays full-precision (asymmetric distance, the same stance as
    * the PQ LUT), only the corpus side is quantized. Degenerate inputs
    * (dim mismatch, null query elements, zero-scale codes) score 0.0.
    */
  def sqDotKernel(q: ArrayData, kind: Int,
      sq: org.apache.spark.sql.catalyst.InternalRow): Double = {
    val scale = sq.getDouble(0)
    val codes = sq.getBinary(1)
    val n = q.numElements()
    if (n != codes.length || scale == 0.0 || hasNullElement(q)) return 0.0
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += readElem(q, i, kind) * codes(i)
      i += 1
    }
    acc * scale
  }

  /** dot(query_vector, sq8_codes) — the per-candidate scoring kernel of
    * the IVF-SQ tier: one fused multiply-add loop over d bytes per
    * candidate, codegen'd inside the cell join's stage.
    */
  case class SqDot(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes, SqCodeType)

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("sq_dot", left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess => right.dataType match {
          case s: StructType if s.length == 2 &&
              s(0).dataType == DoubleType && s(1).dataType == BinaryType =>
            TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            s"sq_dot needs a struct<scale:double, codes:binary> right input, " +
              s"got ${other.simpleString}")
        }
        case fail => fail
      }

    override protected def nullSafeEval(q: Any, sq: Any): Any =
      sqDotKernel(q.asInstanceOf[ArrayData], elemKind(left.dataType),
        sq.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (q, sq) =>
        s"${ev.value} = graft.functions.VectorExprs.sqDotKernel(" +
          s"$q, ${elemKind(left.dataType)}, $sq);")

    override def prettyName: String = "sq_dot"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Greedy MAXIMAL-MARGINAL-RELEVANCE selection kernel (Carbonell &
    * Goldstein, SIGIR 1998): from a bounded candidate pool
    * [(cos, id, vec)], pick k items maximizing
    * `lambda*rel - (1-lambda)*max_sim_to_already_selected` — the
    * diversified top-k a training-data pipeline wants when the top of
    * a plain similarity ranking is k near-copies of one document. The
    * pool is per-query bounded (k*poolFactor rows), so the O(k * n * d)
    * greedy runs as ONE codegen'd kernel call per query row — never a
    * driver loop, never corpus-sized. Every greedy step scans ALL
    * remaining candidates with the total tie-break (score desc, id
    * asc), so the result is independent of collect_list's
    * nondeterministic input order — no sort needed, the argmax is
    * order-free by construction. Null/degenerate candidate vectors
    * contribute similarity 0 (the cosine kernel's stance) — they
    * diversify nothing and exclude nothing.
    */
  def mmrSelectKernel(cands: ArrayData, kind: Int, k: Int,
      lambda: Double): ArrayData = {
    val n0 = cands.numElements()
    if (n0 == 0 || k <= 0) return new GenericArrayData(Array.empty[Any])
    val cos = new Array[Double](n0)
    val ids = new Array[Long](n0)
    val vecs = new Array[ArrayData](n0)
    // the input array type may carry containsNull=true (collect_list of
    // an outer-joined struct): a null candidate element is no candidate
    // at all — skipped, not an NPE
    var n = 0
    var j = 0
    while (j < n0) {
      if (!cands.isNullAt(j)) {
        val r = cands.getStruct(j, 3)
        cos(n) = r.getDouble(0)
        ids(n) = r.getLong(1)
        vecs(n) = if (r.isNullAt(2)) null else r.getArray(2)
        n += 1
      }
      j += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    var i = 0
    val kk = math.min(k, n)
    val used = new Array[Boolean](n)
    // max similarity to the selected set — genuinely the MAX, which can
    // be NEGATIVE (an anti-similar candidate earns a diversity BONUS);
    // before anything is selected the diversity term is defined as 0
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = new Array[Any](kk)
    var s = 0
    while (s < kk) {
      var best = -1
      var bestScore = 0.0
      i = 0
      while (i < n) {
        if (!used(i)) {
          val score = lambda * cos(i) -
            (1 - lambda) * (if (s == 0) 0.0 else maxSim(i))
          if (best < 0 || java.lang.Double.compare(score, bestScore) > 0 ||
              (score == bestScore && ids(i) < ids(best))) {
            best = i
            bestScore = score
          }
        }
        i += 1
      }
      used(best) = true
      out(s) = new GenericInternalRow(Array[Any](ids(best), cos(best), bestScore))
      i = 0
      while (i < n) {
        if (!used(i)) {
          val sim = if (vecs(i) == null || vecs(best) == null) 0.0
            else cosineKernel(vecs(i), vecs(best), kind, kind)
          if (sim > maxSim(i)) maxSim(i) = sim
        }
        i += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** MMR over a candidate array:
    * array<struct<cos:double, id:long, vec:array<numeric>>> ->
    * array<struct<id:long, cos:double, score:double>> in selection
    * order. See [[mmrSelectKernel]].
    */
  case class MmrSelect(child: Expression, k: Int, lambda: Double)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("cos", DoubleType, nullable = false),
        StructField("score", DoubleType, nullable = false))),
      containsNull = false)
    override def nullIntolerant: Boolean = true

    private def vecElemKind: Int = child.dataType match {
      case ArrayType(s: StructType, _) => elemKind(s(2).dataType)
      case other => throw new IllegalStateException(s"unchecked input $other")
    }

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 &&
          s(0).dataType == DoubleType && s(1).dataType == LongType &&
          checkVectorType("mmr_select", s(2).dataType) ==
            TypeCheckResult.TypeCheckSuccess =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "mmr_select needs array<struct<cos:double, id:long, " +
          s"vec:array<numeric>>>, got ${other.simpleString}")
    }

    override protected def nullSafeEval(input: Any): Any =
      mmrSelectKernel(input.asInstanceOf[ArrayData], vecElemKind, k, lambda)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.mmrSelectKernel(" +
          s"$c, $vecElemKind, $k, ${lambda}D);")

    override def prettyName: String = "mmr_select"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Near-dup survivors of one semantic-dedup cell. `members` is
    * array<struct<key:long, id, v:array<numeric>>> with distinct keys.
    * Pair mode (`hub` false): every pair with [[cosineKernel]] >=
    * `threshold` is linked by a min-key union-find, and each
    * component's min-key member survives. Hub mode: the min-key member
    * is the hub, and every member scoring >= `threshold` against it is
    * dropped. Returns the surviving elements in input order. A null
    * vector links to nothing, like the null cosine it would score.
    */
  def cellSurvivorsKernel(members: ArrayData, kind: Int, hub: Boolean,
      threshold: Double): ArrayData = {
    val n = members.numElements()
    val rows = Array.tabulate(n)(i => members.getStruct(i, 3))
    val keys = rows.map(_.getLong(0))
    val vecs = rows.map(r => if (r.isNullAt(2)) null else r.getArray(2))
    // cosineKernel is symmetric bit for bit: the argument order is free
    def near(i: Int, j: Int): Boolean =
      vecs(i) != null && vecs(j) != null && cosineKernel(vecs(i), vecs(j), kind, kind) >= threshold
    val keep = Array.fill(n)(true)
    if (hub && n > 0) {
      val h = keys.indices.minBy(keys(_))
      for (i <- 0 until n) if (i != h && near(i, h)) keep(i) = false
    } else {
      // each root is its component's min-key member
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
        r
      }
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val ri = find(i)
          val rj = find(j)
          // a pair already joined cannot change any component
          if (ri != rj && near(i, j)) {
            if (keys(ri) < keys(rj)) parent(rj) = ri else parent(ri) = rj
          }
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < n) { keep(i) = find(i) == i; i += 1 }
    }
    new GenericArrayData(rows.indices.filter(i => keep(i)).map(rows(_).copy()).toArray[Any])
  }

  /** Cell survivors (see [[cellSurvivorsKernel]]): `members` as there,
    * `hub` a boolean column choosing hub mode per cell. Output type is
    * the input array type.
    */
  case class CellSurvivors(members: Expression, hub: Expression, threshold: Double)
      extends BinaryExpression {
    override def left: Expression = members
    override def right: Expression = hub
    override def dataType: DataType = members.dataType
    override def nullIntolerant: Boolean = true

    private def vecElemKind: Int = members.dataType match {
      case ArrayType(s: StructType, _) => elemKind(s(2).dataType)
      case other => throw new IllegalStateException(s"unchecked input $other")
    }

    override def checkInputDataTypes(): TypeCheckResult = members.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 && s(0).dataType == LongType &&
          hub.dataType == BooleanType &&
          checkVectorType("cell_survivors", s(2).dataType) ==
            TypeCheckResult.TypeCheckSuccess =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "cell_survivors needs array<struct<key:long, id, v:array<numeric>>> and a " +
          s"boolean, got ${other.simpleString} and ${hub.dataType.simpleString}")
    }

    override protected def nullSafeEval(m: Any, h: Any): Any =
      cellSurvivorsKernel(m.asInstanceOf[ArrayData], vecElemKind,
        h.asInstanceOf[Boolean], threshold)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (m, h) =>
        s"${ev.value} = graft.functions.VectorExprs.cellSurvivorsKernel(" +
          s"$m, $vecElemKind, $h, ${threshold}D);")

    override def prettyName: String = "cell_survivors"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(members = l, hub = r)
  }

  /** `cents` is a Seq-of-Seq so the case class keeps structural
    * equality/canonicalization (an Array field would compare by
    * reference and defeat common-subexpression elimination).
    */
  case class NearestCells(child: Expression, cents: Seq[Seq[Double]], nprobe: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes = Seq(VectorTypes)

    @transient private lazy val centArr: Array[Array[Double]] =
      cents.map(_.toArray).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      checkVectorType("nearest_cells", child.dataType)

    override protected def nullSafeEval(input: Any): Any =
      nearestCellsKernel(input.asInstanceOf[ArrayData], elemKind(child.dataType),
        centArr, nprobe)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // the centroid matrix rides along as a codegen object reference
      val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.nearestCellsKernel(" +
          s"$c, ${elemKind(child.dataType)}, $centsRef, $nprobe);")
    }

    override def prettyName: String = "nearest_cells"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }
}
