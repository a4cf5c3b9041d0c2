package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native one-pass vector kernels for the embedding pipeline: L2 squared
  * norm and symmetric int8 quantization. Both replace interpreted
  * higher-order-function lambdas (`aggregate`/`transform`), which Spark
  * evaluates per element through the interpreter — the measured ~10x
  * pitfall on the similarity path (see [[CosineSimilarity]]). These stay
  * inside whole-stage codegen and are pure map work: zero shuffle, which
  * is what makes per-vector preprocessing free at 100 TB.
  *
  * Numeric contract (oracle parity): float elements widen exactly to
  * double; accumulation is left-to-right double — bitwise identical to the
  * HOF formulation and the DuckDB `list_sum(list_transform(...))` form.
  * The quantizer divides by max|x| computed in the same widened domain
  * (max over floats == max over their exact double widenings) and floors,
  * matching `floor(x::DOUBLE / list_max(...) * 127)::BIGINT`.
  */
object VectorOpsUtil {
  /** Sum of squares (left-to-right double fold); null if any element is
    * null (mirrors the `aggregate` fold, where null poisons the sum).
    */
  def l2sq(a: ArrayData, isFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Symmetric int8 quantization q_i = floor(x_i / max|x| * 127). Null for
    * degenerate inputs (empty vector, all-zero vector, NaN scale, null
    * element) — the cases where the HOF form yields nulls/NaN garbage.
    */
  def quantize8(a: ArrayData, isFloat: Boolean): Array[Long] = {
    val n = a.numElements()
    if (n == 0) return null
    var m = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = math.abs(if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
      if (x > m) m = x
      i += 1
    }
    if (m == 0.0 || java.lang.Double.isNaN(m)) return null
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = math.floor(x / m * 127.0).toLong
      i += 1
    }
    out
  }
}

private[functions] trait VectorArrayInput extends UnaryExpression {
  protected def fnName: String

  protected def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fnName expects array<float>/array<double>, got ${other.simpleString}")
  }
}

/** The pair kernels' element-null rule: a null element in either array
  * makes the result null, as it does in `aggregate(zip_with(...))`. So
  * the result is nullable whenever either schema admits null elements,
  * and the generated loop checks each element only then — the common
  * containsNull=false case keeps the fused loop branch-free.
  */
private[functions] trait VectorPairInput extends BinaryExpression {
  protected def mayHaveNullElements: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullable: Boolean = super.nullable || mayHaveNullElements

  /** Java that sets the result null and leaves the loop when element `i`
    * of array `a` or `b` is null; empty when neither can be.
    */
  protected def elementNullCheck(ev: ExprCode, a: String, b: String,
      i: String): String =
    if (mayHaveNullElements)
      s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
    else ""
}

/** L2 squared norm of a float/double vector (take `sqrt` with the built-in
  * on top — keeping sqrt/round in Column space preserves the exact
  * rounding behavior shared with every other oracle-green query).
  */
final case class L2SquaredNorm(child: Expression)
    extends UnaryExpression with VectorArrayInput {
  override protected def fnName: String = "graft_l2sq"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    VectorOpsUtil.l2sq(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("l2sq")
      s"""
         |java.lang.Double $r = graft.functions.VectorOpsUtil.l2sq($a, $isFloat);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2SquaredNorm =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a float/double vector: array<long> of
  * floor(x_i / max|x| * 127), one compiled pass.
  */
final case class QuantizeInt8(child: Expression)
    extends UnaryExpression with VectorArrayInput {
  override protected def fnName: String = "graft_quantize8"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any = {
    val q = VectorOpsUtil.quantize8(a.asInstanceOf[ArrayData], isFloat)
    if (q == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(q)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val q = ctx.freshName("q8")
      s"""
         |long[] $q = graft.functions.VectorOpsUtil.quantize8($a, $isFloat);
         |if ($q == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |      .fromPrimitiveArray($q);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** Exact integer dot product of two array<long> columns — the scoring
  * kernel of the quantized (ADC-style) similarity path: once vectors are
  * int8-quantized ([[QuantizeInt8]]), ranking is pure BIGINT algebra, so
  * the score — unlike a float dot product — is bit-identical under any
  * partitioning, engine, or summation order, and an order of magnitude
  * cheaper per element than the double path at 100 TB.
  *
  * Folds over the common prefix of the two arrays (the [[CosineSimilarity]]
  * contract); a null element poisons the result to null. Overflow is the
  * caller's contract: int8-quantized inputs bound each term by 127² and a
  * dimension-d product by d·2^14 « 2^63.
  */
final case class DotProductInt(left: Expression, right: Expression)
    extends BinaryExpression with VectorPairInput {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_doti expects array<bigint>, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nullCheck = elementNullCheck(ev, a, b, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $dot += $a.getLong($i) * $b.getLong($i);
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductInt =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance Σ(aᵢ−bᵢ)² between two float/double vectors in one
  * compiled pass — the subvector-distance kernel of the product-quantization
  * path (codebook assignment and the ADC lookup table both score slices
  * against centroids; a `zip_with`+`aggregate` HOF chain here would be
  * interpreted per element, the measured ~10x pitfall).
  *
  * Numeric contract (oracle parity): each element widens exactly to double,
  * each difference/square/accumulate is one correctly-rounded IEEE op,
  * accumulation left-to-right — bitwise identical to DuckDB's
  * `list_sum(list_transform(range(...), k -> (a[k]::DOUBLE - b[k]::DOUBLE)^2))`.
  * Folds over the common prefix (the [[DotProductInt]] contract); a null
  * element poisons the result to null.
  */
final case class L2SquaredDist(left: Expression, right: Expression)
    extends BinaryExpression with VectorPairInput {

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2dist expects array<float>/array<double>, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      def getter(isFloat: Boolean, arr: String, idx: String): String =
        if (isFloat) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      val nullCheck = elementNullCheck(ev, a, b, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $d = ${getter(elemIsFloat(left), a, s"$i")}
         |    - ${getter(elemIsFloat(right), b, s"$i")};
         |  $s += $d * $d;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredDist =
    copy(left = newLeft, right = newRight)
}
