package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Pool-adjacent-violators kernel: the O(n) stack algorithm over a
  * group's (x, weight, value-sum) blocks, exact rational pooled means
  * (BigInt cross-multiplication — no float ever enters a comparison),
  * truncated toward zero to micro ONLY at emission, as Spark's `div`
  * and DuckDB's `//` both do. The oracle replays the identical stack
  * machine as a recursive CTE, so fitted values are bit-identical
  * cross-engine.
  */
object PavUtil {
  /** arr: array<struct<x long, n long, s long>> sorted by x (n = row
    * count at x, s = Σ value micro). Returns array<struct<x long,
    * fitted_micro long>> — the increasing isotonic fit, ties pooled.
    */
  def fit(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val xs = new Array[Long](n)
    // Parallel stacks: block start index, pooled numerator Σs, pooled
    // denominator Σn. Merging on num_prev·den_cur >= num_cur·den_prev
    // (exact in BigInt; >= also pools equal means — same fitted values).
    val start = new Array[Int](n)
    val num = new Array[BigInt](n)
    val den = new Array[Long](n)
    var top = -1
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      xs(i) = row.getLong(0)
      top += 1
      start(top) = i
      num(top) = BigInt(row.getLong(2))
      den(top) = row.getLong(1)
      while (top >= 1 &&
          num(top - 1) * den(top) >= num(top) * den(top - 1)) {
        num(top - 1) += num(top)
        den(top - 1) += den(top)
        top -= 1
      }
      i += 1
    }
    val out = new Array[Any](n)
    var b = 0
    while (b <= top) {
      val end = if (b < top) start(b + 1) else n
      val t = num(b) * 1000000
      val f = (t / den(b)).toLong
      var j = start(b)
      while (j < end) {
        out(j) = InternalRow(xs(j), f)
        j += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Increasing isotonic regression of a group's collapsed (x, n, Σy)
  * blocks — monotone calibration's workhorse (Robertson et al. 1988;
  * the probability-calibration step of Zadrozny & Elkan 2002). Runs
  * per GROUP row over the already-collapsed distinct-x array, so the
  * corpus-touching stages stay codegen'd relational ops and this
  * expression evaluates once per group.
  */
final case class IsotonicPav(child: Expression) extends UnaryExpression {

  private val outType = ArrayType(StructType(Seq(
    StructField("x", LongType, nullable = false),
    StructField("fitted_micro", LongType, nullable = false))),
    containsNull = false)

  override def dataType: DataType = outType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _)
        if fs.length == 3 && fs.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_pav expects array<struct<x: long, n: long, s: long>>, got " +
        other.simpleString)
  }

  override protected def nullSafeEval(arr: Any): Any =
    PavUtil.fit(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      // The stack machine lives in compiled Scala (static call) — one
      // invocation per group row, inside whole-stage codegen.
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.functions.PavUtil.fit($arr);")

  override protected def withNewChildInternal(newChild: Expression): IsotonicPav =
    copy(child = newChild)
}
