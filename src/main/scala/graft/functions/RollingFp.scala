package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[RollingFp]]: one pass over the text computing, for every 8-CHARACTER
  * sliding window, md5 of the window's UTF-8 bytes — value-identical to the SQL
  * `md5(cast(substr(text, i, 8) as binary))` for i in 1..max(len-7, 1) (substr
  * counts characters, so a char→byte offset table is built once instead of
  * re-scanning per window) — and returning (min hex, distinct count).
  */
object RollingFpKernel {
  private val hexChars = "0123456789abcdef".toCharArray

  def eval(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    // char -> byte offset table (UTF-8 aware; one scan)
    val nBytes = bytes.length
    var nChars = 0
    var off = 0
    val offsets = new Array[Int](nBytes + 1)
    while (off < nBytes) {
      offsets(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    offsets(nChars) = nBytes
    val wins = math.max(nChars - 7, 1)
    val md = TokenHash.digest()
    // Per-window work is allocation-free (r9; was the slowest scan-local text
    // row at sf100, 5B windows): the digest goes into a reused 16-byte buffer,
    // the min is tracked as RAW digest bytes (hex is monotone per byte, so
    // unsigned byte order == hex lexicographic order) and hexed ONCE at the
    // end, and distinct counting packs each digest into two longs in an
    // open-addressed table (load factor <= 0.5) instead of boxing a 32-char
    // String per window into a HashSet.
    val out = new Array[Byte](16)
    val minD = new Array[Byte](16)
    var hasMin = false
    // Open-addressed (hi, lo) digest set, load factor <= 0.5, GROWN on demand:
    // sizing up front as pow2 >= 2*wins would overflow Int for pathological
    // single-row texts (wins > 2^29 wrapped the shift / the multiply and could
    // hang the probe loop on a full table); growth is bounded by DISTINCT
    // digests, and a row extreme enough to exhaust growth OOMs on the array
    // allocation — a clean failure, like the boxed HashSet it replaced.
    var cap = {
      var c = 8; while (c < wins * 2 && c < (1 << 16)) c <<= 1; c
    }
    var table = new Array[Long](cap * 2) // (hi, lo) pairs; (0, 0) = empty slot
    var hasZeroDigest = false
    var distinct = 0L
    def insert(tb: Array[Long], mask: Int, hi: Long, lo: Long): Boolean = {
      // returns true if newly inserted; false if already present
      var idx = java.lang.Long.hashCode(hi ^ (lo * 0x9E3779B97F4A7C15L)) & mask
      while (true) {
        val th = tb(2 * idx); val tl = tb(2 * idx + 1)
        if (th == 0L && tl == 0L) { tb(2 * idx) = hi; tb(2 * idx + 1) = lo; return true }
        if (th == hi && tl == lo) return false
        idx = (idx + 1) & mask
      }
      false // unreachable
    }
    var i = 0
    while (i < wins) {
      val from = offsets(math.min(i, nChars))
      val to = offsets(math.min(i + 8, nChars))
      md.reset()
      md.update(bytes, from, to - from)
      md.digest(out, 0, 16)
      // unsigned byte-wise min == lexicographic min of the hex rendering
      var j = 0
      var cmp = 0
      if (hasMin) {
        while (j < 16 && cmp == 0) {
          cmp = (out(j) & 0xff) - (minD(j) & 0xff); j += 1
        }
      }
      if (!hasMin || cmp < 0) { System.arraycopy(out, 0, minD, 0, 16); hasMin = true }
      var hi = 0L; var lo = 0L
      j = 0
      while (j < 8) { hi = (hi << 8) | (out(j) & 0xffL); j += 1 }
      while (j < 16) { lo = (lo << 8) | (out(j) & 0xffL); j += 1 }
      if (hi == 0L && lo == 0L) {
        if (!hasZeroDigest) { hasZeroDigest = true; distinct += 1 }
      } else {
        if (insert(table, cap - 1, hi, lo)) {
          distinct += 1
          if (distinct * 2 >= cap) { // keep load factor < 0.5: double + rehash
            // Int-safe growth: at cap = 2^29 the `cap * 4` element count would
            // wrap negative (NegativeArraySizeException), and already at
            // cap = 2^28 the doubled table is an 8 GiB single allocation that
            // dies as an opaque executor OOM on any realistic heap — so trip
            // BEFORE that attempt (>=, not >) and fail with the real reason
            if (cap >= (1 << 28))
              throw new IllegalStateException(
                s"rolling_fp distinct-window set exceeded 2^27 entries in one document")
            val next = new Array[Long](cap * 4)
            var k = 0
            while (k < cap) {
              val th = table(2 * k); val tl = table(2 * k + 1)
              if (th != 0L || tl != 0L) insert(next, cap * 2 - 1, th, tl)
              k += 1
            }
            table = next; cap *= 2
          }
        }
      }
      i += 1
    }
    val hex = new Array[Char](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = hexChars((minD(j) >> 4) & 0xf)
      hex(2 * j + 1) = hexChars(minD(j) & 0xf)
      j += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(new String(hex)), distinct))
  }
}

/** `rolling_fp(text)` → struct(fp string, n_windows bigint): the winnowing-family
  * rolling fingerprint as ONE codegen'd scan-local expression. The composed
  * formulations both lose: explode + groupBy shuffles ~corpus-bytes of window
  * hashes through a hash aggregation, and transform + array_min/array_distinct
  * stays shuffle-free but pays an interpreted lambda call and a materialized
  * 32-byte-hex array element per window. This is a tight per-row loop — no
  * shuffle, no lambdas, no intermediate array.
  */
case class RollingFp(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_fp expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StructType(Seq(
    StructField("fp", StringType, nullable = false),
    StructField("n_windows", LongType, nullable = false)))
  override def prettyName: String = "rolling_fp"

  override def nullSafeEval(input: Any): Any =
    RollingFpKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingFpKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingFp =
    copy(child = newChild)
}

object RollingFp {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("rolling_fp", classOf[RollingFp])(RollingFp(_))

  /** Idempotently register `rolling_fp(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
