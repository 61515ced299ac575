package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/**
 * Native codegen'd quantization codecs for the ANN family (r17 opt round).
 *
 * The declarative encode/score paths built their per-dimension /
 * per-codeword arithmetic as LITERAL EXPRESSION TREES — e.g. the SQ
 * encode was 64 string-parsed `expr()` clamps plus a 64-wide
 * reconstruction array squared through [[LongArrayDot]], and the PQ
 * encode one `array_sort(array(struct(dist, code)...))` of ksub
 * codeword-literal distances PER SUBSPACE. Catalyst re-analyzes and
 * constant-folds those O(dims·ksub) trees on EVERY action — at
 * per-batch maintenance grain that was ~100-300 ms of pure driver time
 * per batch (the r16 "Not yet optimized" finding: stream_sq_refit's
 * driver gap was ~50% literal-tree analysis), and the interpreted
 * `array_sort` of struct rows is far slower per row than a fused loop.
 *
 * Each expression here carries its model (stats / codebooks /
 * centroids) as a plain JVM array INSIDE the expression node — one node
 * per column, O(1) analysis cost — and evaluates as a tight primitive
 * loop (whole-stage codegen calls the kernel method directly; no
 * boxing, no struct sorting). The arithmetic is BIT-IDENTICAL to the
 * declarative forms it replaces (same truncating long division, same
 * argmin tie-to-lower-id, same min-length dot bounds); QuantCodecSpec
 * asserts byte-equality against the old trees on random inputs.
 */
object QuantCodec {

  /** SQ byte code for one dimension: clamp(((v - mn) * 255) DIV rg, 0,
    * 255); rg <= 0 -> 0. Java long division IS Spark's `DIV` and
    * DuckDB's `//` here (all truncate toward zero). */
  @inline private[functions] def sqCode(v: Long, mn: Long, rg: Long): Long = {
    if (rg <= 0L) 0L
    else {
      val c = (v - mn) * 255L / rg
      if (c < 0L) 0L else if (c > 255L) 255L else c
    }
  }

  /** SQ reconstructed value for one dimension: mn + (code * rg) DIV 255. */
  @inline private[functions] def sqRecon(code: Long, mn: Long, rg: Long): Long =
    if (rg <= 0L) mn else mn + code * rg / 255L
}

/** SQ8 encode: quantized vector -> the per-dimension byte codes
  * (array<long>, exactly the old `array(codeExpr(i)...)` projection). */
case class SqEncodeCodes(child: Expression, mins: Array[Long], maxs: Array[Long])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def kernel(a: Any): ArrayData = {
    val qv = a.asInstanceOf[ArrayData]
    val dims = mins.length
    val out = new Array[Long](dims)
    val n = math.min(dims, qv.numElements())
    var i = 0
    while (i < n) {
      out(i) = QuantCodec.sqCode(qv.getLong(i), mins(i), maxs(i) - mins(i))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sqEnc", this, classOf[SqEncodeCodes].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 reconstructed squared norm from the codes alone: sum_i recon_i^2 —
  * the old dotQ(reconArr, reconArr). */
case class SqRecon2(child: Expression, mins: Array[Long], maxs: Array[Long])
  extends UnaryExpression {

  override def dataType: DataType = LongType

  def kernel(a: Any): Long = {
    val codes = a.asInstanceOf[ArrayData]
    val n = math.min(mins.length, codes.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      val r = QuantCodec.sqRecon(codes.getLong(i), mins(i), maxs(i) - mins(i))
      sum += r * r
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sqR2", this, classOf[SqRecon2].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 asymmetric score numerator: dot(query vector, reconstruction of
  * `codes`) — the old dotQ(qqv, reconArr(stats)), including its
  * min-length bound. */
case class SqReconDot(left: Expression, right: Expression,
    mins: Array[Long], maxs: Array[Long]) extends BinaryExpression {

  override def dataType: DataType = LongType

  def kernel(a: Any, b: Any): Long = {
    val qqv = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val n = math.min(math.min(mins.length, codes.numElements()), qqv.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += qqv.getLong(i) *
        QuantCodec.sqRecon(codes.getLong(i), mins(i), maxs(i) - mins(i))
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sqDot", this, classOf[SqReconDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ encode: quantized vector -> the m per-subspace codes
  * (array<int>). Per subspace s the code is the argmin over ksub
  * codewords of `|c|^2 - 2<sub, c>` with ties to the LOWER code id —
  * exactly the old `element_at(array_sort(array(struct(d, c)...)), 1)`.
  * `flatBooks` is the rounded codeword grid laid out
  * [s][code][dim] -> s*ksub*subDim + code*subDim + dim; `n2s` the
  * per-codeword |c|^2 at [s][code]. */
case class PqEncodeCodes(child: Expression, flatBooks: Array[Long],
    n2s: Array[Long], m: Int, ksub: Int, subDim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def kernel(a: Any): ArrayData = {
    val qv = a.asInstanceOf[ArrayData]
    val nq = qv.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * subDim
      var bestD = Long.MaxValue
      var bestC = 0
      var c = 0
      while (c < ksub) {
        var dot = 0L
        val boff = (s * ksub + c) * subDim
        // the old slice() sub-vector is empty past the input's length, so
        // the dot bound is min(subDim, remaining input)
        val nd = math.min(subDim, math.max(0L, nq.toLong - base).toInt)
        var d = 0
        while (d < nd) { dot += qv.getLong(base + d) * flatBooks(boff + d); d += 1 }
        val dist = n2s(s * ksub + c) - 2L * dot
        if (dist < bestD) { bestD = dist; bestC = c }
        c += 1
      }
      out(s) = bestC
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEnc", this, classOf[PqEncodeCodes].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ reconstructed squared norm from the code array: sum_s |book_s[code_s]|^2. */
case class PqRecon2(child: Expression, n2s: Array[Long], ksub: Int)
  extends UnaryExpression {

  override def dataType: DataType = LongType

  def kernel(a: Any): Long = {
    val codes = a.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var sum = 0L
    var s = 0
    while (s < m) { sum += n2s(s * ksub + codes.getInt(s)); s += 1 }
    sum
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqR2", this, classOf[PqRecon2].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ asymmetric ADC dot: sum_s dot(query sub-vector s, book_s[code_s])
  * — the old per-subspace dotQ(slice(qqv, ...), element_at(bookLit, ...))
  * sum, including slice's behavior past the query's length. `right` is
  * the int code array (one element per subspace). */
case class PqAdcDot(left: Expression, right: Expression, flatBooks: Array[Long],
    ksub: Int, subDim: Int) extends BinaryExpression {

  override def dataType: DataType = LongType

  def kernel(a: Any, b: Any): Long = {
    val qqv = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val nq = qqv.numElements()
    var sum = 0L
    var s = 0
    while (s < m) {
      val base = s * subDim
      val boff = (s * ksub + codes.getInt(s)) * subDim
      val nd = math.min(subDim, math.max(0L, nq.toLong - base).toInt)
      var d = 0
      while (d < nd) { sum += qqv.getLong(base + d) * flatBooks(boff + d); d += 1 }
      s += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdcDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** IVF cluster assignment: argmin over centroids of |c|^2 - 2<qv, c>,
  * ties to the LOWER cluster id — the old array_sort-of-structs literal
  * path of [[graft.operators.IvfIndex.assign]]. `flatCents` is the
  * rounded centroid grid [cluster][dim]; `cn2` the per-cluster |c|^2. */
case class IvfArgmin(child: Expression, flatCents: Array[Long], cn2: Array[Long],
    dims: Int) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  def kernel(a: Any): Int = {
    val qv = a.asInstanceOf[ArrayData]
    val nLists = cn2.length
    val n = math.min(dims, qv.numElements())
    var bestD = Long.MaxValue
    var bestC = 0
    var c = 0
    while (c < nLists) {
      var dot = 0L
      val off = c * dims
      var d = 0
      while (d < n) { dot += qv.getLong(d) * flatCents(off + d); d += 1 }
      val dist = cn2(c) - 2L * dot
      if (dist < bestD) { bestD = dist; bestC = c }
      c += 1
    }
    bestC
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfAm", this, classOf[IvfArgmin].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The nProbe nearest cluster ids in (distance, id) order (array<int>) —
  * the old `slice(array_sort(array(struct(d, c)...)), 1, nProbe)` probe
  * selection, elementwise identical order. */
case class IvfProbeTop(child: Expression, flatCents: Array[Long], cn2: Array[Long],
    dims: Int, nProbe: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def kernel(a: Any): ArrayData = {
    val qv = a.asInstanceOf[ArrayData]
    val nLists = cn2.length
    val n = math.min(dims, qv.numElements())
    val dist = new Array[Long](nLists)
    var c = 0
    while (c < nLists) {
      var dot = 0L
      val off = c * dims
      var d = 0
      while (d < n) { dot += qv.getLong(d) * flatCents(off + d); d += 1 }
      dist(c) = cn2(c) - 2L * dot
      c += 1
    }
    val take = math.min(nProbe, nLists)
    val out = new Array[Int](take)
    val used = new Array[Boolean](nLists)
    var r = 0
    while (r < take) {
      // seed with the first unused list, so a round whose remaining
      // distances all sit at Long.MaxValue still picks a list
      var bestC = 0
      while (used(bestC)) bestC += 1
      var bestD = dist(bestC)
      var i = bestC + 1
      while (i < nLists) {
        if (!used(i) && dist(i) < bestD) { bestD = dist(i); bestC = i }
        i += 1
      }
      used(bestC) = true
      out(r) = bestC
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPt", this, classOf[IvfProbeTop].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Centroid row lookup: cluster id -> the rounded centroid vector
  * (array<long>) — the old element_at(centLit, cluster + 1) without the
  * nLists·dims literal tree. */
case class IvfCentroidRow(child: Expression, flatCents: Array[Long], dims: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def kernel(a: Any): ArrayData = {
    val cl = a.asInstanceOf[Number].intValue()
    val nLists = flatCents.length / dims
    if (cl < 0 || cl >= nLists) throw new IllegalArgumentException(
      s"cluster id $cl is outside [0, $nLists): the stored assignment does not match the centroids")
    val out = new Array[Long](dims)
    System.arraycopy(flatCents, cl * dims, out, 0, dims)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCr", this, classOf[IvfCentroidRow].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel((Number) (Object) $a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Elementwise difference of two long arrays — the zip_with(a, b, _-_)
  * residual projection as a codegen'd loop. Mirrors zip_with's length
  * semantics: result length = max(|a|, |b|), positions past the shorter
  * input are null. */
case class LongArraySub(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  def kernel(a: Any, b: Any): ArrayData = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    if (nx == ny) {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = x.getLong(i) - y.getLong(i); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val m = math.max(nx, ny)
      val out = new Array[Any](m)
      var i = 0
      while (i < n) { out(i) = x.getLong(i) - y.getLong(i); i += 1 }
      new GenericArrayData(out) // tail stays null, like zip_with
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = kernel(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("laSub", this, classOf[LongArraySub].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-side constructors (flattening the model arrays once). */
object QuantCodecCols {

  def sqEncode(qv: Column, mins: Array[Long], maxs: Array[Long]): Column =
    column(SqEncodeCodes(expression(qv), mins, maxs))

  def sqRecon2(codes: Column, mins: Array[Long], maxs: Array[Long]): Column =
    column(SqRecon2(expression(codes), mins, maxs))

  def sqReconDot(qqv: Column, codes: Column, mins: Array[Long], maxs: Array[Long]): Column =
    column(SqReconDot(expression(qqv), expression(codes), mins, maxs))

  /** [s][code][dim] grid + per-codeword |c|^2 from the double books.
    * Books hold integers carried as doubles (PqIndex.fitCodebooks: exact
    * long sums, truncating division); a fractional codeword is refused,
    * because rounding it here would disagree with the truncating
    * literal lookups these kernels replaced. */
  private[graft] def flattenBooks(books: Array[Array[Array[Double]]]): (Array[Long], Array[Long], Int, Int, Int) = {
    val m = books.length
    val ksub = books(0).length
    val subDim = books(0)(0).length
    val flat = new Array[Long](m * ksub * subDim)
    val n2s = new Array[Long](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var n2 = 0L
        var d = 0
        while (d < subDim) {
          val x = books(s)(c)(d)
          require(x == math.rint(x),
            s"codebook $s codeword $c dim $d is $x: PQ codebooks must be integral")
          val q = math.round(x)
          flat((s * ksub + c) * subDim + d) = q
          n2 += q * q
          d += 1
        }
        n2s(s * ksub + c) = n2
        c += 1
      }
      s += 1
    }
    (flat, n2s, m, ksub, subDim)
  }

  def pqEncode(qv: Column, books: Array[Array[Array[Double]]]): Column = {
    val (flat, n2s, m, ksub, subDim) = flattenBooks(books)
    column(PqEncodeCodes(expression(qv), flat, n2s, m, ksub, subDim))
  }

  def pqRecon2(codes: Column, books: Array[Array[Array[Double]]]): Column = {
    val (_, n2s, _, ksub, _) = flattenBooks(books)
    column(PqRecon2(expression(codes), n2s, ksub))
  }

  def pqAdcDot(qqv: Column, codes: Column, books: Array[Array[Array[Double]]]): Column = {
    val (flat, _, _, ksub, subDim) = flattenBooks(books)
    column(PqAdcDot(expression(qqv), expression(codes), flat, ksub, subDim))
  }

  /** Rounded [cluster][dim] grid + per-cluster |c|^2 from the double centroids. */
  private[graft] def flattenCents(centroids: Array[Array[Double]]): (Array[Long], Array[Long], Int) = {
    val nLists = centroids.length
    val dims = centroids(0).length
    val flat = new Array[Long](nLists * dims)
    val cn2 = new Array[Long](nLists)
    var c = 0
    while (c < nLists) {
      var n2 = 0L
      var d = 0
      while (d < dims) {
        val q = math.round(centroids(c)(d))
        flat(c * dims + d) = q
        n2 += q * q
        d += 1
      }
      cn2(c) = n2
      c += 1
    }
    (flat, cn2, dims)
  }

  def ivfArgmin(qv: Column, centroids: Array[Array[Double]]): Column = {
    val (flat, cn2, dims) = flattenCents(centroids)
    column(IvfArgmin(expression(qv), flat, cn2, dims))
  }

  def ivfProbeTop(qv: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val (flat, cn2, dims) = flattenCents(centroids)
    column(IvfProbeTop(expression(qv), flat, cn2, dims, nProbe))
  }

  def ivfCentroidRow(cluster: Column, centroids: Array[Array[Double]]): Column = {
    val (flat, _, dims) = flattenCents(centroids)
    column(IvfCentroidRow(expression(cluster), flat, dims))
  }

  def longArraySub(a: Column, b: Column): Column =
    column(LongArraySub(expression(a), expression(b)))
}
