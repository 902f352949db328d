package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Kernel for [[IntersectCount]]: |a ∩ b| over two DISTINCT-element long
  * arrays (the [[ShingleHashes]] output contract) in one hash-probe pass —
  * the smaller array builds an open-addressed table (same probe scheme as
  * ShingleHashesKernel: the values are already-uniform xxhash64 outputs),
  * the larger probes it. O(|a| + |b|), zero allocation beyond the table,
  * no intermediate intersection array.
  *
  * This is the round-20 verify engine (TextOps.jaccardCountsFromArrays):
  * `intersect_count(sha, shb)` replaces the whole explode → shingle-level
  * intersection join → groupBy(id_a, id_b) aggregation — the aggregation
  * whose per-task state was the measured 7× spill-to-shuffle residual at
  * sf1000 (SCALECHECK r18/r19: checkpoint release −6%, staged boundary
  * −3.5%, partition lever disk-bounded — the remaining lever was
  * bytes-at-source, and this removes the aggregation outright).
  *
  * Input contract: elements within each array are distinct (duplicate
  * build-side values collapse into one table slot; duplicate probe-side
  * values would each count — callers feed ShingleHashes arrays, which are
  * distinct by construction, and the equivalence spec pins the counts
  * against the exploded-join form).
  */
object IntersectCountKernel {
  def eval(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    val (small, large, ns, nl) = if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    // Capacity sizing in LONG: `cap < ns * 2` in Int overflows past 2^30
    // elements and degenerates cap (eventually 0 → infinite probe loop).
    // Unreachable for ~50-element shingle arrays, but the function is
    // registered session-wide for arbitrary array<bigint> input (r20 ADVICE).
    // A build side near Int.MaxValue could never fit a power-of-two open
    // table in a JVM array anyway — reject it instead of looping forever.
    require(ns <= (1 << 29),
      s"intersect_count: build-side array of $ns elements exceeds the 2^29 cap")
    var capL = 4L
    while (capL < ns.toLong * 2) capL <<= 1
    val cap = capL.toInt
    val mask = cap - 1
    val table = new Array[Long](cap)
    val occ = new Array[Boolean](cap)
    var i = 0
    while (i < ns) {
      val h = small.getLong(i)
      var idx = (h ^ (h >>> 32)).toInt & mask
      while (occ(idx) && table(idx) != h) idx = (idx + 1) & mask
      occ(idx) = true
      table(idx) = h
      i += 1
    }
    var cnt = 0L
    i = 0
    while (i < nl) {
      val h = large.getLong(i)
      var idx = (h ^ (h >>> 32)).toInt & mask
      var scanning = true
      while (scanning) {
        if (!occ(idx)) scanning = false
        else if (table(idx) == h) { cnt += 1; scanning = false }
        else idx = (idx + 1) & mask
      }
      i += 1
    }
    cnt
  }
}

/** `intersect_count(a, b)` → bigint: the distinct-intersection cardinality of
  * two array<bigint> columns as ONE codegen'd scan-local expression. The
  * `size(array_intersect(a, b))` formulation computes the same number but
  * materializes the intersection array per row through the interpreted
  * collection-builder path; this kernel is one JIT-compiled method per row
  * with no intermediate array (the ShingleHashes-vs-array_distinct precedent,
  * SCALECHECK.md round 13).
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  // containsNull = false REQUIRED (r20 ADVICE): the kernel reads elements
  // via getLong, which renders a null element as 0 — silently diverging from
  // size(array_intersect(...)) for any SQL user feeding nullable-element
  // arrays. The ShingleHashes producer contract is containsNull = false, so
  // the shipped callers are unaffected; arbitrary session-SQL callers now
  // get an analysis error instead of a wrong count.
  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, false) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_count expects (array<bigint>, array<bigint>) with " +
        s"non-null elements (the ShingleHashes contract; note duplicate " +
        s"probe-side elements each count), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql}). Fix: drop the null " +
        s"elements with array_compact(...), or, when the source elements are " +
        s"not nullable, cast to array<bigint> with containsNull = false " +
        s"(col.cast(ArrayType(LongType, containsNull = false)))")
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountKernel.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectCountKernel.eval($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {
  /** The function's one registry entry, shared with GraftExtensions; its
    * info carries the usage text.
    */
  val entry: FunctionEntry =
    FunctionEntry.binary("intersect_count", classOf[IntersectCount])(IntersectCount(_, _))
      .copy(info = new ExpressionInfo(classOf[IntersectCount].getName, null, "intersect_count",
        "_FUNC_(a, b) - distinct-intersection cardinality of two " +
          "array<bigint> columns with non-null elements. Contract: elements " +
          "within each array are DISTINCT (ShingleHashes output); duplicate " +
          "probe-side elements each count, diverging from " +
          "size(array_intersect(a, b)).", ""))

  /** Idempotently register `intersect_count(a, b)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
