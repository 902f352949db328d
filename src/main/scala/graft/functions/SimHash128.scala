package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[SimHash128]]: SimHash64's loop widened to the FULL md5 digest —
  * 128 ±1 vote positions from all 16 digest bytes instead of the leading 8, emitted
  * as eight 16-bit columns that CONSUMERS pack into 4 bands × 32 bits
  * (TextOps.simhash128CandidatePairs, SimHash128Spec). This is the documented scale
  * knob for the SimHash dedup family (SCALECHECK.md): the 64-bit signature's 4×16-bit
  * bands stop pruning once a shard approaches ~2^16 docs; keeping the SAME band
  * count at double the width preserves the pigeonhole guarantee (any pair within
  * hamming ≤ 3 of the 128 bits shares a band) while random per-band collisions now
  * require 32 exact bits. The kernel stays at 16-bit columns only to avoid 64-bit
  * sign hazards in storage/compare — banding policy lives in the consumer.
  * Tokenization and voting are byte-identical to SimHash64 (split on 0x20, empties
  * included).
  */
object SimHash128Kernel {
  def eval(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val votes = new Array[Int](128)
    val md = TokenHash.digest()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        var b = 0
        while (b < 8) {
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
    val sigs = new Array[Any](8)
    var b = 0
    while (b < 8) {
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

/** `simhash128(text)` → struct(s0..s7 bigint): the 128-bit SimHash signature as ONE
  * codegen'd scan-local expression — the scale variant of [[SimHash64]] (same
  * tokenization, same vote rule, all 16 md5 digest bytes). Bands stay as eight
  * 16-bit columns for the same sign-bit-safety reason as the 64-bit kernel.
  */
case class SimHash128(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash128 expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StructType((0 to 7).map(b =>
    StructField(s"s$b", LongType, nullable = false)))
  override def prettyName: String = "simhash128"

  override def nullSafeEval(input: Any): Any =
    SimHash128Kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash128Kernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash128 =
    copy(child = newChild)
}

object SimHash128 {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("simhash128", classOf[SimHash128])(SimHash128(_))

  /** Idempotently register `simhash128(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
