package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[CountWordsIn]]: one pass over the lowercased bytes counting the
  * single-space-separated tokens equal to any of the comma-separated `words` —
  * value-identical to
  * `size(filter(split(lower(text), ' '), t -> t = w1 OR t = w2 OR ...))`:
  * split on a single 0x20 keeps empty segments, and an empty segment never
  * equals a non-empty word, so only exact token matches count. Lowercasing is
  * UTF8String.toLowerCase — the same call Spark's `lower()` makes.
  */
object CountWordsInKernel {
  // the words argument is a literal in every call site — memoize its parse so
  // the per-row cost is the byte scan only
  private val parsed =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Byte]]]()
  private def wordsOf(words: UTF8String): Array[Array[Byte]] =
    parsed.computeIfAbsent(words.toString,
      s => s.split(',').filter(_.nonEmpty).map(_.getBytes("UTF-8")))

  def eval(s: UTF8String, words: UTF8String): Long = {
    val bytes = s.toLowerCase.getBytes
    val ws = wordsOf(words)
    val n = bytes.length
    var count = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val len = i - start
        var w = 0
        var matched = false
        while (w < ws.length && !matched) {
          val wb = ws(w)
          if (wb.length == len) {
            var j = 0
            while (j < len && bytes(start + j) == wb(j)) j += 1
            matched = j == len
          }
          w += 1
        }
        if (matched) count += 1
        start = i + 1
      }
      i += 1
    }
    count
  }
}

/** `count_words_in(text, 'w1,w2,...')` → bigint: stopword/marker-word counting
  * (t01's stop ratio, t02's language scores, t08 + d10's quality gate) as ONE
  * codegen'd scan-local byte loop. The composed form it replaces —
  * `size(filter(split(lower(text), ' '), t -> ...))` — materializes the token
  * array and then runs an INTERPRETED higher-order lambda per row (ArrayFilter
  * has no codegen), the one remaining interpreted lambda in the engine's hot
  * paths. CountWordsInSpec pins value equality on adversarial and corpus inputs.
  */
case class CountWordsIn(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"count_words_in expects (string, string), got (${left.dataType.sql}, ${right.dataType.sql})")
    else if (!right.foldable)
      // the word list must be a literal: the kernel memoizes its parse in a
      // static map, so a per-row words column would grow it without bound
      TypeCheckResult.TypeCheckFailure(
        "count_words_in expects a literal word list as the second argument")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = LongType
  override def prettyName: String = "count_words_in"

  override def nullSafeEval(text: Any, words: Any): Any =
    CountWordsInKernel.eval(text.asInstanceOf[UTF8String], words.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w) => s"graft.functions.CountWordsInKernel.eval($t, $w)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CountWordsIn = copy(left = newLeft, right = newRight)
}

object CountWordsIn {
  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry = FunctionEntry.binary("count_words_in", classOf[CountWordsIn])(CountWordsIn(_, _))

  /** Idempotently register `count_words_in(text, words_csv)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
