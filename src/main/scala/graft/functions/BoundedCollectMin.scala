package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Mutable state of [[BoundedCollectMin]]: exact count and exact minimum of
  * every non-null value seen, plus AT MOST `limit` retained values. The
  * retained subset is the first `limit` values this buffer happened to see —
  * arbitrary under shuffle, and deliberately so: the consumer
  * ([[graft.queries.LshGuard]]) only reads the full list when `n <= cap`
  * (cap << limit, so the list is provably complete there) and only reads
  * `mn` — which is exact at ANY count — beyond it.
  */
final class BoundedCollectState(
    var n: Long,
    var mn: Any,
    val items: ArrayBuffer[Any])

/** `bounded_collect_min(v)` → struct(n BIGINT, mn T, items ARRAY<T>): one-pass
  * grouped collection with aggregation state bounded BY CONSTRUCTION.
  *
  * collect_list's state is linear in group size with no ceiling — a
  * pathological 10⁸-member LSH bucket would hold a ~GB-scale aggregation row
  * (the residual hazard [[graft.queries.LshGuard]]'s r16 scaladoc stated as
  * out of design range). This aggregate keeps the guard's contract while
  * capping the state: `n` (exact group count) and `mn` (exact group minimum,
  * via the element type's interpreted ordering) are O(1) at any group size;
  * `items` retains at most `limit` elements, so the worst-case state is
  * `limit` elements + two scalars no matter how degenerate the bucket.
  *
  * Degradation contract, stated not hidden: a group larger than `limit`
  * returns a TRUNCATED `items` (first-seen subset, order arbitrary) — callers
  * must gate every complete-list read on `n`, as LshGuard does (its clique
  * regime requires `n <= cap` and the guard constructor requires
  * `cap <= limit`). `mn` and `n` stay exact in every regime, which is all the
  * star regime needs.
  *
  * Nulls are skipped like collect_list's; a group of only nulls yields
  * (0, null, []). Not registered for SQL by default — [[register]] exists for
  * the function-registry route the other graft kernels use, and
  * [[graft.queries.LshGuard]] goes through it.
  */
case class BoundedCollectMin(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedCollectState] with UnaryLike[Expression] {

  require(limit >= 1, s"bounded_collect_min limit must be >= 1, got $limit")

  private lazy val elemType: DataType = child.dataType
  private lazy val ordering: Ordering[Any] = TypeUtils.getInterpretedOrdering(elemType)

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mn", elemType, nullable = true),
    StructField("items", ArrayType(elemType, containsNull = false), nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "bounded_collect_min"

  override def createAggregationBuffer(): BoundedCollectState =
    new BoundedCollectState(0L, null, ArrayBuffer.empty[Any])

  override def update(b: BoundedCollectState, input: InternalRow): BoundedCollectState = {
    val v = child.eval(input)
    if (v != null) {
      // copy before the backing row is reused; one copy serves both the
      // min slot and the retained list
      val c = InternalRow.copyValue(v)
      b.n += 1
      if (b.mn == null || ordering.lt(c, b.mn)) b.mn = c
      if (b.items.length < limit) b.items += c
    }
    b
  }

  override def merge(b: BoundedCollectState, o: BoundedCollectState): BoundedCollectState = {
    b.n += o.n
    if (o.mn != null && (b.mn == null || ordering.lt(o.mn, b.mn))) b.mn = o.mn
    var i = 0
    while (b.items.length < limit && i < o.items.length) {
      b.items += o.items(i)
      i += 1
    }
    b
  }

  override def eval(b: BoundedCollectState): Any =
    new GenericInternalRow(Array[Any](b.n, b.mn, new GenericArrayData(b.items.toArray)))

  private lazy val completeProjection = UnsafeProjection.create(
    Array[DataType](ArrayType(elemType, containsNull = false)))
  private lazy val truncatedProjection = UnsafeProjection.create(
    Array[DataType](LongType, elemType, ArrayType(elemType, containsNull = false)))

  /** Wire format, tagged by the first byte. The aggregation's groups are
    * overwhelmingly singletons (LSH bucket keys), and the partial-state
    * external sort of ~190 M of them is the memory-tightest stage of the
    * fifth-decade d09 chain — so the COMPLETE state (`n == items.length`,
    * virtually every group) serializes as tag 0 + exactly collect_list's
    * 1-field row (both `n` and `mn` are derivable from a complete list, and
    * an UnsafeRow field slot is 8 fixed bytes whether used or not). Only the
    * TRUNCATED state — the degenerate-bucket regime — pays for the 3-field
    * (n, mn, items) row under tag 1, where the exact count and min are the
    * state's whole point.
    */
  override def serialize(b: BoundedCollectState): Array[Byte] = {
    val row =
      if (b.n == b.items.length)
        completeProjection.apply(new GenericInternalRow(
          Array[Any](new GenericArrayData(b.items.toArray))))
      else
        truncatedProjection.apply(new GenericInternalRow(
          Array[Any](b.n, b.mn, new GenericArrayData(b.items.toArray))))
    val payload = row.getBytes
    val out = new Array[Byte](payload.length + 1)
    out(0) = if (b.n == b.items.length) 0 else 1
    System.arraycopy(payload, 0, out, 1, payload.length)
    out
  }

  override def deserialize(bytes: Array[Byte]): BoundedCollectState = {
    val buf = ArrayBuffer.empty[Any]
    // strip the tag into an aligned payload copy (UnsafeRow reads 8-byte words)
    val payload = java.util.Arrays.copyOfRange(bytes, 1, bytes.length)
    if (bytes(0) == 0) {
      val row = new UnsafeRow(1)
      row.pointTo(payload, payload.length)
      row.getArray(0).foreach(elemType, (_, v) => buf += InternalRow.copyValue(v))
      val mn = if (buf.isEmpty) null else buf.min(ordering)
      new BoundedCollectState(buf.length.toLong, mn, buf)
    } else {
      val row = new UnsafeRow(3)
      row.pointTo(payload, payload.length)
      row.getArray(2).foreach(elemType, (_, v) => buf += InternalRow.copyValue(v))
      new BoundedCollectState(row.getLong(0),
        if (row.isNullAt(1)) null else InternalRow.copyValue(row.get(1, elemType)),
        buf)
    }
  }

  override def withNewMutableAggBufferOffset(offset: Int): BoundedCollectMin =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedCollectMin =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCollectMin =
    copy(child = newChild)
}

object BoundedCollectMin {
  /** The one function-registry builder ([[entry]]'s), so the literal-parsing
    * rules cannot drift between [[register]] and GraftExtensions. `limit`
    * must be a foldable positive in-Int-range integer literal (it sizes the
    * aggregation buffer, so a per-row value is meaningless) — an
    * out-of-range Long like 4294967297L is REJECTED, not silently truncated
    * to 1 (the pre-r18 `l.toInt` would have shrunk the retained state
    * drastically while passing the >= 1 require).
    */
  def build(args: Seq[Expression]): BoundedCollectMin = {
    require(args.length == 2, "bounded_collect_min takes (value, limit)")
    require(args(1).foldable, "bounded_collect_min limit must be a literal")
    val l = args(1).eval() match {
      case i: Int => i
      case l: Long =>
        try Math.toIntExact(l)
        catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"bounded_collect_min limit must fit in an Int, got $l")
        }
      case b: Byte => b.toInt
      case s: Short => s.toInt
      case other => throw new IllegalArgumentException(
        s"bounded_collect_min limit must be an integer literal, got $other")
    }
    BoundedCollectMin(args.head, l)
  }

  /** The function's one registry entry, shared with GraftExtensions. */
  val entry: FunctionEntry =
    FunctionEntry("bounded_collect_min", classOf[BoundedCollectMin])(build)

  /** Idempotently register `bounded_collect_min(v, limit)`. */
  def register(spark: SparkSession): Unit = entry.register(spark)
}
