package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[ShingleHashes]]: one pass over the text computing the DISTINCT
  * xxhash64 values (seed 42, Spark's `xxhash64`) of its word-3-gram shingles —
  * value-identical to `xxhash64(concat_ws(' ', slice(split(text,' '), i, 3)))`
  * over the shingle positions, deduplicated. Because tokens are split on every
  * single space and re-joined with single spaces, each shingle IS the
  * contiguous byte range [start(p), end(p+2)) of the original text (empty
  * tokens keep their double spaces), so no shingle string is ever rebuilt:
  * each hash reads a zero-copy slice of the row's bytes. Dedup is an
  * open-addressed long table keyed on the already-uniform hash values; output
  * order is first occurrence (a pure function of the text). Docs with < 3
  * tokens return an empty array ("no shingles"), matching the exploded form
  * producing no rows and a count of 0.
  */
object ShingleHashesKernel {
  def eval(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var nTok = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    if (nTok < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
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
    val nSh = nTok - 2
    // open addressing, capacity = smallest power of two >= 2 * nSh
    var cap = 4
    while (cap < nSh * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val occ = new Array[Boolean](cap)
    val out = new Array[Long](nSh)
    var m = 0
    var p = 0
    while (p <= nTok - 3) {
      val from = starts(p)
      val sh = UTF8String.fromBytes(bytes, from, ends(p + 2) - from)
      val h = XxHash64Function.hash(sh, StringType, 42L)
      var idx = (h ^ (h >>> 32)).toInt & mask
      var seen = false
      while (occ(idx) && !seen) {
        if (table(idx) == h) seen = true else idx = (idx + 1) & mask
      }
      if (!seen) {
        occ(idx) = true
        table(idx) = h
        out(m) = h
        m += 1
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == nSh) out else java.util.Arrays.copyOf(out, m))
  }
}

/** `shingle_hashes(text)` → array<bigint>: the distinct hashed word-3-gram
  * shingle set of a doc as ONE codegen'd scan-local expression. This is the
  * engine of the round-13 verify rework ([[graft.queries.TextOps]]
  * jaccardCountsRestricted rule 2): per-doc dedup and count move INTO the scan
  * (`explode` of this array replaces the global `distinct()` exchange on
  * (doc_id, shingle); `size` of it replaces the `groupBy(doc_id).count`
  * exchange). A higher-order-function formulation
  * (`array_distinct(transform(...))`) computes the same array but interprets
  * the lambda per shingle — measured 10× slower on the sf100 edge build
  * (SCALECHECK.md round 13); this kernel is one JIT-compiled method per row.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects string, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashesKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashesKernel.eval($c);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("shingle_hashes", classOf[ShingleHashes])(ShingleHashes(_))

  /** Idempotently register `shingle_hashes(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
