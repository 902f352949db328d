package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted eval and generated code. */
object TokenHash {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Per-thread MD5 — the one digest helper every md5-derived kernel shares
    * (token hashes here, the multimodal stub decode, the rolling fingerprint).
    */
  def md5(bytes: Array[Byte]): Array[Byte] = {
    val d = md.get()
    d.reset()
    d.digest(bytes)
  }

  /** The per-thread digest itself, for kernels that hash sub-ranges in a loop
    * (callers must reset() between uses).
    */
  private[functions] def digest(): java.security.MessageDigest = md.get()

  /** Bits [16*band, 16*band+16) of md5(utf8(s)) — EXACTLY the value the portable SQL
    * spells as `(strpos(hex,4b+1)-1)*4096 + ... + (strpos(hex,4b+4)-1)` over `md5(s)`'s
    * hex string (hex digits 4b+1..4b+4 = digest bytes 2b, 2b+1), so DuckDB oracles
    * reproduce it verbatim while the JVM side skips the hex-string round trip entirely.
    * Four bands (0..3) together form a 64-bit SimHash token hash without ever packing
    * a sign-risky 64-bit integer.
    */
  def hash16(s: UTF8String, band: Int): Int = {
    // md5 has 16 digest bytes = 8 16-bit chunks; a clear error beats an
    // ArrayIndexOutOfBoundsException from deep inside a stage
    require(band >= 0 && band <= 7, s"token_hash16 band must be in [0, 7], got $band")
    val bytes = md5(s.getBytes)
    ((bytes(2 * band) & 0xff) << 8) | (bytes(2 * band + 1) & 0xff)
  }

  def hash16(s: UTF8String): Int = hash16(s, 0)
}

/** Native Catalyst expression (with codegen) for the SimHash token hash — the brief's
  * preferred extension point: a codegen'd `Expression` stays inside whole-stage
  * codegen where a Scala UDF would break the stage and pay serialization per row.
  * `token_hash16(s)` = bits 0..15 of md5(s); `token_hash16(s, band)` = 16-bit chunk
  * `band` (0..3) of md5(s)'s leading 64 bits, the per-token basis of the 64-bit
  * SimHash. Registered via [[TokenHash16.register]].
  */
case class TokenHash16(child: Expression, band: Expression) extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = band
  // ExpectsInputTypes would say this declaratively, but AbstractDataType is
  // private[sql]; the explicit check gives the same analysis-time failure
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && band.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_hash16 expects (string, int), got (${child.dataType.sql}, ${band.dataType.sql})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_hash16"

  override def nullSafeEval(input: Any, bandV: Any): Any =
    TokenHash.hash16(input.asInstanceOf[UTF8String], bandV.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, b) => s"graft.functions.TokenHash.hash16($c, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenHash16 =
    copy(child = newLeft, band = newRight)
}

object TokenHash16 {
  def apply(child: Expression): TokenHash16 =
    TokenHash16(child, org.apache.spark.sql.catalyst.expressions.Literal(0))

  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry("token_hash16", classOf[TokenHash16]) {
    case Seq(s) => TokenHash16(s)
    case Seq(s, b) => TokenHash16(s, b)
    case _ => throw new IllegalArgumentException("token_hash16 takes 1 or 2 arguments")
  }

  /** Idempotently register `token_hash16(str[, band])` in the session's registry. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
