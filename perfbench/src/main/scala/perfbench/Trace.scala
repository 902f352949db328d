package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group, i.e. to one span. */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var executions = 0L
  /** Catalyst analysis + optimization + planning of the group's query executions */
  var planMs = 0.0
  /** rows produced by leaf scans and generators (explode), from the executed plans */
  var rowsExamined = 0L
  /** rows produced by the root operator of the executed plans */
  var rowsOut = 0L
  /** physical-operator multiset: the plan fingerprint */
  val operators: mutable.Map[String, Int] = mutable.Map.empty

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    executions += o.executions; planMs += o.planMs; rowsExamined += o.rowsExamined
    rowsOut += o.rowsOut
    o.operators.foreach { case (k, v) => operators(k) = operators.getOrElse(k, 0) + v }
  }
}

/** A timed interval around one call into a layer, made from the benchmark's side. */
final case class Span(id: Long, name: String, layer: String, opId: Long, parent: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def group: String = Trace.groupOf(id)
}

/** Span recording around calls into the program. The untraced run uses [[Trace.Off]],
  * which only runs the body; the traced run uses a [[Tracer]].
  */
trait Trace {
  def span[T](name: String, layer: String, opId: Long = 0L)(body: => T): T
}

object Trace {
  object Off extends Trace {
    def span[T](name: String, layer: String, opId: Long)(body: => T): T = body
  }
  def groupOf(spanId: Long): String = s"perfbench-span-$spanId"
}

/** Records spans in memory and attributes Spark work to them exactly: every span runs
  * under its own job group, a [[SparkListener]] keys jobs, stages and task metrics by
  * that group, and a [[QueryExecutionListener]] records Catalyst phase times, plan
  * operators and SQL row metrics per `QueryExecution`. The execution-start event ties
  * an SQL execution id to its job group, and the execution-end event ties it to its
  * `QueryExecution` (by object identity). Nothing is read as a delta of counters
  * around the asynchronous listener bus; [[finish]] drains the bus once and joins by
  * key.
  */
final class Tracer(spark: SparkSession) extends SparkListener with Trace
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stats = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val byQe = new java.util.IdentityHashMap[QueryExecution, GroupStats]
  private val qeOfExec = mutable.Map.empty[Long, AnyRef]

  /** Id of the latest span opened so far; spans opened later have larger ids. */
  def mark: Long = nextId.get

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String, layer: String, opId: Long)(body: => T): T = {
    val parents = open.get()
    val s0 = Span(nextId.incrementAndGet(), name, layer, opId,
      parents.headOption.map(_.id).getOrElse(0L), System.nanoTime(), 0L)
    open.set(s0 :: parents)
    sc.setJobGroup(s0.group, name)
    try body
    finally {
      val s = s0.copy(endNs = System.nanoTime())
      open.set(parents)
      parents.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
      done.synchronized { done += s }
    }
  }

  // ---------------------------------------------------------------- listener side

  private def groupStats(g: String): GroupStats = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val g = Option(ev.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      groupStats(group).jobs += 1
      ev.stageIds.foreach(stageGroup(_) = group)
      Option(ev.properties.getProperty("spark.sql.execution.id"))
        .foreach(e => execGroup.getOrElseUpdate(e.toLong, group))
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val info = ev.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val st = groupStats(g)
      st.stages += 1
      st.tasks += info.numTasks
      val tm = info.taskMetrics
      if (tm != null) {
        st.runMs += tm.executorRunTime
        st.cpuNs += tm.executorCpuTime
        st.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead
        st.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized { e.jobGroupId.foreach(g => execGroup(e.executionId) = g) }
    case e: SparkListenerSQLExecutionEnd =>
      // `qe` is private[sql] in source, public in bytecode
      val qe = e.getClass.getMethod("qe").invoke(e)
      if (qe != null) synchronized { qeOfExec(e.executionId) = qe }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val st = new GroupStats
    st.executions = 1
    st.planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    val plan = qe.executedPlan
    foreach(plan) { p =>
      st.operators(p.nodeName) = st.operators.getOrElse(p.nodeName, 0) + 1
      p match {
        case _: LeafExecNode | _: GenerateExec => st.rowsExamined += outputRows(p)
        case _ =>
      }
    }
    st.rowsOut = firstOutputRows(plan)
    synchronized { byQe.put(qe, st) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def outputRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Output rows of the topmost operator that counts them (writes and AQE wrappers
    * do not), i.e. the rows the action materialized.
    */
  private def firstOutputRows(plan: SparkPlan): Long =
    collectFirst(plan) { case p if p.metrics.contains("numOutputRows") => outputRows(p) }
      .getOrElse(0L)

  /** Drain the listener bus, stop listening, and return the spans (in end order) and
    * the Spark work of each span's own job group.
    */
  def finish(): (Seq[Span], Map[String, GroupStats]) = {
    Bus.drain(spark)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      for ((id, qe) <- qeOfExec; g <- execGroup.get(id); st <- Option(byQe.get(qe)))
        groupStats(g).add(st)
      (done.synchronized(done.toList), stats.toMap)
    }
  }
}

/** Flush of Spark's asynchronous listener bus. `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]` in source but public in bytecode, so it is reached by reflection.
  */
object Bus {
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}
