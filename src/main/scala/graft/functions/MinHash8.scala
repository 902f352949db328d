package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[MinHash8]]: one pass over the text computing the 8 MinHash values —
  * value-identical to `min(md5(j || '|' || shingle))` over the word-3-gram shingle
  * rows (shingle = three consecutive space-split tokens joined by ' ', empty tokens
  * included; docs with fewer than 3 tokens have no shingles → NULL). The min over
  * md5 HEX strings equals the unsigned byte-wise min over digests, so digests are
  * compared raw and hexified once at the end.
  */
object MinHash8Kernel {
  private val hexChars = "0123456789abcdef".toCharArray

  def eval(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    // token boundaries (split on the space byte; 0x20 never occurs mid-UTF-8-char)
    var nTok = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    if (nTok < 3) return null
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = n
    val md = TokenHash.digest()
    val mins = new Array[Array[Byte]](8)
    val space = ' '.toByte
    val bar = '|'.toByte
    var p = 0
    while (p <= nTok - 3) {
      var j = 0
      while (j < 8) {
        md.reset()
        md.update(('0' + j).toByte)
        md.update(bar)
        md.update(bytes, starts(p), ends(p) - starts(p))
        md.update(space)
        md.update(bytes, starts(p + 1), ends(p + 1) - starts(p + 1))
        md.update(space)
        md.update(bytes, starts(p + 2), ends(p + 2) - starts(p + 2))
        val d = md.digest()
        val cur = mins(j)
        if (cur == null || lessUnsigned(d, cur)) mins(j) = d
        j += 1
      }
      p += 1
    }
    val out = new Array[Any](8)
    var j = 0
    while (j < 8) {
      val d = mins(j)
      val hex = new Array[Char](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = hexChars((d(k) >> 4) & 0xf)
        hex(2 * k + 1) = hexChars(d(k) & 0xf)
        k += 1
      }
      out(j) = UTF8String.fromString(new String(hex))
      j += 1
    }
    new GenericInternalRow(out)
  }

  private def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }
}

/** `minhash8(text)` → struct(mh0..mh7 string) or NULL for docs with < 3 tokens: the
  * k=8 MinHash signature as ONE codegen'd scan-local expression. The aggregation
  * formulation shuffled corpus-sized shingle rows into a keyed agg of 8 mins; the
  * md5 work per shingle is identical here, but the exchange is gone — signatures
  * never leave the scan. (The shingle ROWS are still materialized separately where
  * genuinely needed: d05's candidate-pair intersection join.)
  */
case class MinHash8(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash8 expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StructType((0 to 7).map(j =>
    StructField(s"mh$j", StringType, nullable = false)))
  override def nullable: Boolean = true // NULL for < 3 tokens, like "no shingle rows"
  override def prettyName: String = "minhash8"

  override def nullSafeEval(input: Any): Any =
    MinHash8Kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("mh8Res")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r = graft.functions.MinHash8Kernel.eval($c);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash8 =
    copy(child = newChild)
}

object MinHash8 {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("minhash8", classOf[MinHash8])(MinHash8(_))

  /** Idempotently register `minhash8(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
