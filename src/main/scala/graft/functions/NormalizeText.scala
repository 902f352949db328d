package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[NormalizeText]]: one byte pass that keeps `[a-z0-9 ]`, maps
  * `A-Z` to lowercase, and drops everything else — value-identical to
  * `lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))` for EVERY UTF-8 input:
  * the regex keeps only ASCII alnum+space (so `lower` afterwards is the ASCII
  * +32 mapping, which this loop applies inline), and a multibyte character's
  * bytes all have the high bit set, so dropping them byte-wise removes exactly
  * the characters the per-character regex removes.
  */
object NormalizeTextKernel {
  def eval(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == ' ') {
        out(o) = b; o += 1
      } else if (b >= 'A' && b <= 'Z') {
        out(o) = (b + 32).toByte; o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}

/** `normalize_text(text)` → string: the dedup/fingerprint text normalization
  * (punctuation-strip + lowercase) as ONE codegen'd scan-local byte loop. The
  * composed `lower(regexp_replace(...))` runs a java.util.regex scan plus a
  * full-string lowercase copy per row — the dominant cost of t03 and of d11's
  * probe-shingle build at sf1 (t03 was the slowest text row in the sf1 bench).
  * Semantics are exactly the composed form's (NormalizeTextSpec pins equality
  * on ASCII, punctuation, mixed case, and multibyte inputs), so the DuckDB
  * oracles keep their regexp_replace spelling.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override def nullSafeEval(input: Any): Any =
    NormalizeTextKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeTextKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("normalize_text", classOf[NormalizeText])(NormalizeText(_))

  /** Idempotently register `normalize_text(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
