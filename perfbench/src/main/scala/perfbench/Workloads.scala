package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import Main.Result

/** The workloads. Each run: set-up, repeated three times (the median is `setup_s`),
  * an untimed warm-up, then timed passes of the workload's fixed script: whole passes
  * until `--seconds` elapsed, at least one. A pass takes 8-35 s on a 4-core machine,
  * so with `--seconds 1` every run measures exactly one. A traced run traces the same
  * passes, then measures the tracing overhead in an interleaved untraced/traced A/B of
  * a smaller unit of work, then probes single layers; the per-layer metrics come from
  * the spans and probes.
  */
object Workloads {
  val SetupReps = 3

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed pass: its wall time and, for the profile workload, the paper script's
    * share and the `loadMany` throughput.
    */
  private final case class Pass(total: Double, script: Option[Double] = None, nodesPerS: Option[Double] = None)

  /** Run passes until at least one ran and `--seconds` elapsed. */
  private def window(ctx: Ctx)(pass: Int => Pass): Seq[Pass] = {
    ctx.startTimed()
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Pass]
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.opts.seconds) out += pass(out.length)
    ctx.client.timed = false
    out.toSeq
  }

  private def throughput(c: Client, from: Int, rows: Long, op: String): Double =
    rows / (c.calls.drop(from).filter(_.op == op).map(_.ms).sum / 1e3)

  private def result(setups: Seq[Double], passes: Seq[Pass], layers: Map[String, Double]) =
    Result(setups, passes.map(_.total), passes.flatMap(_.script), passes.flatMap(_.nodesPerS), layers)

  /** `trace.overhead_frac` from an A/B of `unit` in ABBA order (untraced, traced,
    * traced, untraced), which cancels a linear warm-up trend; (traced - untraced) /
    * untraced over the summed walls.
    */
  private def overhead(ctx: Ctx, tracer: Tracer)(unit: => Unit): Map[String, Double] = {
    val walls = Seq(false, true, true, false).map { traced =>
      ctx.client.trace = if (traced) tracer else Trace.Off
      traced -> secs(unit)._2
    }
    ctx.client.trace = tracer
    val (t, u) = walls.partition(_._1)
    val (ts, us) = (t.map(_._2).sum, u.map(_._2).sum)
    Map("trace.overhead_frac" -> (ts - us) / us)
  }

  // ---------------------------------------------------------------- profile_interactive

  /** The study loaded as one frame: four fixture-sized runs, one per metric family. */
  val StudyFiles = 4
  val StudyRows = 3000

  def interactive(ctx: Ctx): Result = {
    val c = ctx.client; val o = ctx.opts
    val dir = o.work.resolve("interactive")
    var pair = Seq.empty[ProfileInput]
    var study = Seq.empty[ProfileInput]
    var pfs = Seq.empty[(graft.hpct.ProfileFrame, ProfileGen.Expected)]
    // set-up: generate the inputs and run the paper script on them, untimed; the first
    // repetition also pays the session's one-time JIT and code generation
    val setups = (1 to SetupReps).map(_ => secs {
      pair = Profiles.fixturePair(dir, o.seed)
      study = Profiles.study(dir.resolve("study"), o.seed, StudyFiles, StudyRows)
      pfs = Profiles.paperScript(c, pair)
    }._2)
    val studyRows = study.map(_.expected.rows.toLong).sum
    // warm-up of the rest of a pass, with session-call arguments no timed pass draws
    Profiles.loadMany(c, study)
    Profiles.scan(c, study)
    Profiles.sessionCalls(c, pfs, new Random(-(o.seed * 7919L) - 1))
    val mark0 = ctx.tracer.map(_.mark).getOrElse(0L)
    val passes = window(ctx) { i =>
      val from = c.calls.length
      val t0 = System.nanoTime()
      val (pfs, script) = secs(Profiles.paperScript(c, pair))
      Profiles.loadMany(c, study)
      Profiles.scan(c, study)
      Profiles.sessionCalls(c, pfs, new Random(o.seed * 7919L + i))
      Pass((System.nanoTime() - t0) / 1e9, Some(script), Some(throughput(c, from, studyRows, "load_many")))
    }
    val layers = ctx.tracer.fold(Map.empty[String, Double]) { tracer =>
      val mark1 = tracer.mark
      val ab = overhead(ctx, tracer)(Profiles.paperScript(c, pair))
      val exp1 = pair.head
      val probes = prefixed("xmlreader.", Profiles.parseProbe(exp1, 5)) ++
        prefixed("profileload.", Profiles.loadPhases(ctx.spark, exp1, 3)) ++
        Map("flamesvg.render_ms" -> Profiles.renderProbe(ctx.spark, graft.hpct.ProfileLoad.load(ctx.spark, exp1.path), 5))
      val view = finishTrace(ctx, tracer)
      probes ++ view.profileLayers(mark0, mark1) ++ view.studyLayers(mark0, mark1) ++ ab
    }
    result(setups, passes, layers)
  }

  // ---------------------------------------------------------------- query_sweep

  def sweep(ctx: Ctx): Result = {
    val c = ctx.client; val o = ctx.opts
    val dir = o.data
    require(Files.isRegularFile(java.nio.file.Paths.get(dir, "lineitem.parquet")), s"no sweep tables in $dir")
    val expected = if (o.writeExpected) Map.empty[String, Sweep.Digest] else Expected.read(o.expected)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    require(o.writeExpected || names.forall(expected.contains),
      s"committed digests missing for ${names.filterNot(expected.contains).mkString(", ")}")
    val trace = ctx.tracer.getOrElse(Trace.Off)
    val prewarms = (1 to SetupReps).map { _ =>
      secs {
        graft.Caches.clearAll()
        Sweep.prewarm(ctx.spark, dir, ctx.cores, trace)
      }
    }
    val setups = prewarms.map(_._2)
    val digests = mutable.Map.empty[String, Sweep.Digest]
    val mark0 = ctx.tracer.map(_.mark).getOrElse(0L)
    val passes = window(ctx) { i =>
      val t0 = System.nanoTime()
      for (q <- new Random(o.seed * 104729L + i).shuffle(names))
        Sweep.runQuery(c, dir, q, expected).foreach(digests(q) = _)
      Pass((System.nanoTime() - t0) / 1e9)
    }
    if (o.writeExpected) Expected.write(o.expected, digests.toMap)
    val layers = ctx.tracer.fold(Map.empty[String, Double]) { tracer =>
      val mark1 = tracer.mark
      val firstOfEach = Sweep.Families.flatMap(f => names.find(Sweep.familyOf(_) == f))
      val ab = overhead(ctx, tracer)(firstOfEach.foreach(Sweep.runQuery(c, dir, _, expected)))
      val kernels = Sweep.kernelNsPerRow(ctx.spark, dir, 5).map { case (k, v) => s"functions.$k.ns_per_row" -> v }
      val stages = prewarms.flatMap(_._1.toSeq).groupBy(_._1).map { case (st, vs) =>
        s"prewarm.${st}_s" -> Stats.median(vs.map(_._2)) }
      val view = finishTrace(ctx, tracer)
      kernels ++ stages ++ view.queryLayers(mark0, mark1) ++ ab
    }
    result(setups, passes, layers)
  }

  // ---------------------------------------------------------------- helpers

  private def prefixed(p: String, m: Map[String, Double]): Map[String, Double] =
    m.map { case (k, v) => (p + k) -> v }

  private def finishTrace(ctx: Ctx, tracer: Tracer): TraceView = {
    val (spans, stats) = tracer.finish()
    val view = TraceView(spans, stats, ctx.cores)
    view.write(ctx.opts.spans, ctx.entryNs)
    view
  }
}

/** The committed per-query digests of the sweep. */
object Expected {
  def read(p: Path): Map[String, Sweep.Digest] = {
    val root = Json.mapper.readTree(p.toFile).get("queries")
    root.fieldNames().asScala.map { q =>
      q -> Sweep.Digest(root.get(q).get("rows").asLong, root.get(q).get("hash").asLong)
    }.toMap
  }

  def write(p: Path, digests: Map[String, Sweep.Digest]): Unit = {
    val root = Json.obj().put("note", "row count and content hash of each query on the committed tables")
    val queries = root.putObject("queries")
    digests.toSeq.sortBy(_._1).foreach { case (q, d) => queries.putObject(q).put("rows", d.rows).put("hash", d.hash) }
    Files.createDirectories(p.getParent)
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, root)
  }
}
