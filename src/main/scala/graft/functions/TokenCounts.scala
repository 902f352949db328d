package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[TokenCounts]]: one pass over the lowercased bytes computing
  *  - `n_ws`  = `size(split(text, ' '))` — Spark's split keeps empty segments,
  *    so this is exactly (number of 0x20 bytes) + 1;
  *  - `n_bpe` = `size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))`
  *    — a letter RUN is one match, a digit RUN is one match, and every other
  *    non-space CODE POINT is one match (java.util.regex classes are code-point
  *    aware, so a multibyte char counts once; the loop steps whole UTF-8
  *    sequences via numBytesForFirstByte to agree).
  * Lowercasing uses UTF8String.toLowerCase — the same call Spark's `lower()`
  * makes — so locale-sensitive mappings agree by construction.
  */
object TokenCountsKernel {
  def eval(s: UTF8String): InternalRow = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    var nWs = 1L
    var nBpe = 0L
    var prev = 0 // 0 = boundary, 1 = inside letter run, 2 = inside digit run
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') { nWs += 1; prev = 0; i += 1 }
      else if (b >= 'a' && b <= 'z') { if (prev != 1) nBpe += 1; prev = 1; i += 1 }
      else if (b >= '0' && b <= '9') { if (prev != 2) nBpe += 1; prev = 2; i += 1 }
      else { nBpe += 1; prev = 0; i += UTF8String.numBytesForFirstByte(b) }
    }
    new GenericInternalRow(Array[Any](nWs, nBpe))
  }
}

/** `token_counts(text)` → struct(n_ws bigint, n_bpe bigint): t04's whitespace +
  * BPE-ish segmentation counts as ONE codegen'd scan-local byte loop, replacing
  * a split() array build plus a `regexp_extract_all` that materialized every
  * matched segment just to take the array's size (the second-slowest sf1 text
  * row). Value-identical to the composed form on every input —
  * TokenCountsSpec pins ASCII, punctuation, runs, and multibyte/emoji cases.
  */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_counts expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_ws", LongType, nullable = false),
    StructField("n_bpe", LongType, nullable = false)))
  override def prettyName: String = "token_counts"

  override def nullSafeEval(input: Any): Any =
    TokenCountsKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCountsKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("token_counts", classOf[TokenCounts])(TokenCounts(_))

  /** Idempotently register `token_counts(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
