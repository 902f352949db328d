package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[SimHash64]]: one pass over the text computing the 64-bit SimHash as
  * four 16-bit band values — value-identical to the aggregation formulation it
  * replaces (explode(split(text, ' ')) → token_hash16(t, b) → 64 ±1 vote sums →
  * sign bits) and to the DuckDB SimCte. Tokens split on the single space byte
  * (0x20 never occurs inside a UTF-8 multibyte sequence), empty tokens INCLUDED —
  * `split` with Spark's default -1 limit keeps consecutive- and trailing-space
  * empties, and so does DuckDB string_split; per token, bits [16b, 16b+16) of
  * md5(token) vote ±1 per position, sign → bit.
  */
object SimHash64Kernel {
  def eval(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val votes = new Array[Int](64)
    val md = TokenHash.digest()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        var b = 0
        while (b < 4) {
          val v = ((d(2 * b) & 0xff) << 8) | (d(2 * b + 1) & 0xff)
          var j = 0
          while (j < 16) {
            votes(16 * b + j) += (if (((v >> j) & 1) == 1) 1 else -1)
            j += 1
          }
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    val sigs = new Array[Any](4)
    var b = 0
    while (b < 4) {
      var sig = 0L
      var j = 0
      while (j < 16) {
        if (votes(16 * b + j) >= 0) sig |= 1L << j
        j += 1
      }
      sigs(b) = sig
      b += 1
    }
    new GenericInternalRow(sigs)
  }
}

/** `simhash64(text)` → struct(s0..s3 bigint): the 64-bit SimHash signature as ONE
  * codegen'd scan-local expression. The aggregation formulation shuffled 64 partial
  * vote sums per document through a keyed agg over corpus-sized exploded token rows;
  * this is a tight per-row loop — no explode, no shuffle. Band values stay as four
  * 16-bit columns (packing 64 bits into one BIGINT would put bit 63 in the sign).
  * Apply to lower(text) to match the oracle's lowercased tokens.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StructType((0 to 3).map(b =>
    StructField(s"s$b", LongType, nullable = false)))
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64Kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64Kernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("simhash64", classOf[SimHash64])(SimHash64(_))

  /** Idempotently register `simhash64(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
