package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One call: the operation name, its wall time measured from the benchmark's side,
  * whether it ran in the timed window, and whether it threw or returned a wrong result.
  */
final case class Call(op: String, ms: Double, timed: Boolean, ok: Boolean)

/** The closed-loop client: one thread issues each call after the previous one has
  * completed. Calls made after [[Ctx.startTimed]] are the latency samples; warm-up
  * calls run the same code. Every call's result is checked after its clock stops, and
  * a failed check or a thrown exception counts against `error_rate`.
  */
final class Client(val spark: SparkSession, var trace: Trace) {
  val calls = mutable.ArrayBuffer.empty[Call]
  val errors = mutable.ArrayBuffer.empty[String]
  var timed = false
  private var opId = 0L

  /** Run `body` as one call into `layer`, time it, then validate the result with
    * `check` (None = correct, Some(reason) = wrong). Returns the result when the
    * call did not throw.
    */
  def call[T](op: String, layer: String)(body: => T)(check: T => Option[String]): Option[T] = {
    opId += 1
    val t0 = System.nanoTime()
    val out = try Right(trace.span(s"$layer.$op", layer, opId)(body))
      catch { case scala.util.control.NonFatal(e) => Left(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = out.fold(Some(_), r =>
      try check(r) catch { case scala.util.control.NonFatal(e) => Some(s"$op check threw $e") })
    verdict.foreach { why =>
      errors += why
      System.err.println(s"[perfbench] FAILED $why")
    }
    calls += Call(op, ms, timed, verdict.isEmpty)
    out.toOption
  }
}

/** Materialization helpers. */
object Sink {
  /** Materialize every row and column of `df` through the noop sink. The same pass
    * observes a row count (`n`) and the named aggregates, which the caller checks.
    */
  def noop(df: DataFrame, aggs: (String, Column)*): Map[String, Any] = {
    val obs = Observation()
    val cols = (("n", count(lit(1))) +: aggs).map { case (name, c) => c.as(name) }
    df.observe(obs, cols.head, cols.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get
  }

  /** An order-independent content hash of a frame, for the row-count-and-hash check:
    * doubles are rounded to float precision (so last-bit differences from summation
    * order do not count), each row is hashed with xxhash64, and the hashes' low 40
    * bits are summed.
    */
  def contentHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => rounded(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    sum(h.bitwiseAND(lit((1L << 40) - 1)))
  }

  private def hasFloating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case StructType(fs) => fs.exists(f => hasFloating(f.dataType))
    case ArrayType(et, _) => hasFloating(et)
    case MapType(k, v, _) => hasFloating(k) || hasFloating(v)
    case _ => false
  }

  private def rounded(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f) // + 0 folds -0.0 into 0.0
    case StructType(fs) if hasFloating(dt) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => rounded(c.getField(f.name), f.dataType).as(f.name)): _*))
    case ArrayType(et, _) if hasFloating(et) => transform(c, x => rounded(x, et))
    case _ => c
  }
}

/** Summary statistics over measured values. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method of Python's statistics). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Process high-water resident set size in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
