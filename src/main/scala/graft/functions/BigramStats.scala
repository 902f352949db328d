package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[BigramStats]]: one pass over the bytes computing, per document,
  * the full word-bigram distribution summary t10 needs —
  *  - `n_bigrams` = number of bigrams = (tokens - 1) for >= 2 tokens, else 0;
  *  - `top_bigram` = the most frequent bigram, ties broken by SMALLEST bigram in
  *    UTF8String binary order (= Spark's `asc` on StringType, byte-wise unsigned
  *    = code-point order — NOT java.lang.String's UTF-16 order, which disagrees
  *    in the surrogate range);
  *  - `top_n` = that bigram's count.
  *
  * Tokenization mirrors `split(text, ' ')` exactly: split on every single 0x20
  * byte, keeping empty segments (leading, trailing, and between consecutive
  * spaces). Because separators are single spaces, the bigram string
  * `concat_ws(' ', tok(i), tok(i+1))` is EXACTLY the original byte range from
  * the start of token i to the end of token i+1 — so bigram keys are zero-copy
  * slices of the input, and the whole distribution builds in one scan with one
  * small hash map per document, no explode, no shuffle.
  */
object BigramStatsKernel {
  def eval(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val tokens = spaces + 1
    if (tokens < 2) return new GenericInternalRow(Array[Any](0L, null, 0L))
    // starts(k) = byte offset of token k; token k ends at starts(k+1)-1 (its
    // trailing space) for k < tokens-1, at n for the last token
    val starts = new Array[Int](tokens)
    var t = 1
    i = 0
    while (i < n) { if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var j = 0
    while (j <= tokens - 2) {
      val st = starts(j)
      val en = if (j + 2 < tokens) starts(j + 2) - 1 else n
      val bg = UTF8String.fromBytes(bytes, st, en - st)
      val prev = counts.get(bg)
      if (prev == null) counts.put(bg, Array(1L)) else prev(0) += 1
      j += 1
    }
    var best: UTF8String = null
    var bestC = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > bestC || (c == bestC && e.getKey.compareTo(best) < 0)) {
        best = e.getKey; bestC = c
      }
    }
    // clone: `best` is a slice over this row's byte buffer; the returned struct
    // must not alias memory the scan may reuse for the next row
    new GenericInternalRow(Array[Any]((tokens - 1).toLong, best.clone(), bestC))
  }
}

/** `bigram_stats(text)` → struct(n_bigrams bigint, top_bigram string, top_n
  * bigint): t10's per-document repetition summary as ONE codegen'd scan-local
  * byte loop. Each document's text lives in one row, so its bigram distribution
  * needs no exchange at all — this replaces an explode to one row per token
  * plus a (doc, bigram) count shuffle plus a doc_id window (the slowest text
  * row of the sf10 bench: the exchange carried one row per DISTINCT (doc,
  * bigram) for work a scan can finish locally). Value-identical to the
  * explode+window formulation on every input — BigramStatsSpec pins ties,
  * empty/space-run tokens, multibyte text, and the real corpus.
  */
case class BigramStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bigram_stats expects string, got ${child.dataType.sql}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram", StringType, nullable = true),
    StructField("top_n", LongType, nullable = false)))
  override def prettyName: String = "bigram_stats"

  override def nullSafeEval(input: Any): Any =
    BigramStatsKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramStatsKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramStats =
    copy(child = newChild)
}

object BigramStats {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.unary("bigram_stats", classOf[BigramStats])(BigramStats(_))

  /** Idempotently register `bigram_stats(text)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
