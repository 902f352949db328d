package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Shared kernel: sequential multiply-add over two float arrays, each element cast to
  * double BEFORE the multiply — value-identical to the declarative
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _ + _)`
  * it replaces, including the null contract (mismatched lengths or a null element
  * yield NULL, like zip_with's padded-null products), and to the DuckDB oracles'
  * positional `unnest` + `sum`. Keeping the fold order identical is what lets the
  * oracle hash-compare stay exact.
  */
object VecDotKernel {
  /** Boxed result: null for length mismatch / null elements (zip_with semantics). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}

/** Native Catalyst expression (with codegen) for the float-array dot product — the
  * hot kernel of every cosine in VectorOps (s01/s02/s03/d08). The declarative
  * `zip_with` + `aggregate` formulation it replaces runs as interpreted higher-order
  * lambdas OUTSIDE whole-stage codegen (the round-3 bench's s01 cost); this stays
  * inside the stage: one call into a tight primitive loop, no per-element closure
  * invocation, no intermediate zipped array. Declares `array<float>` input types so
  * misuse (e.g. array<double>) fails at ANALYSIS time instead of reading garbage.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  // ExpectsInputTypes would say this declaratively, but AbstractDataType is
  // private[sql]; the explicit check gives the same analysis-time failure
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDotKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecDotRes")
      s"""
         |java.lang.Double $r = graft.functions.VecDotKernel.dot($a, $b);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.binary("vec_dot", classOf[VecDot])(VecDot(_, _))

  /** Idempotently register `vec_dot(array<float>, array<float>)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
