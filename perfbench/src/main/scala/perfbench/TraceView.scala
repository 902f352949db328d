package perfbench

import java.nio.file.Path

/** The finished trace of a run: spans plus the Spark work of each span's job group.
  * Derives the per-layer metrics and writes the spans out as JSON lines.
  */
final case class TraceView(spans: Seq[Span], stats: Map[String, GroupStats], cores: Int) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  /** Work of a span's own job group plus that of all its descendants. */
  def inclusive(s: Span): GroupStats = {
    val g = new GroupStats
    stats.get(s.group).foreach(g.add)
    children.getOrElse(s.id, Nil).foreach(ch => g.add(inclusive(ch)))
    g
  }

  /** A span's duration minus the time covered by its child spans. */
  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Spans named `name` opened in the id range (from, to]: one run phase. */
  private def named(name: String, from: Long, to: Long): Seq[Span] =
    spans.filter(s => s.id > from && s.id <= to && s.name == name)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-call medians for each operator in `hpct.Ops`, and the single-file load. */
  def profileLayers(from: Long, to: Long): Map[String, Double] = {
    val ops = Main.OpNames.flatMap { op =>
      val calls = named(s"hpct.Ops.$op", from, to)
      val inc = calls.map(inclusive)
      Seq(
        s"ops.$op.ms" -> med(calls.map(_.ms)),
        s"ops.$op.plan_ms" -> med(inc.map(_.planMs)),
        s"ops.$op.jobs" -> med(inc.map(_.jobs.toDouble)),
        s"ops.$op.tasks" -> med(inc.map(_.tasks.toDouble)),
        s"ops.$op.shuffle_bytes" -> med(inc.map(_.shuffleWrite.toDouble)),
        s"ops.$op.rows_examined_per_row" -> med(inc.map(g => g.rowsExamined.toDouble / math.max(1L, g.rowsOut))))
    }
    val loads = named("hpct.ProfileLoad.load", from, to)
    ops.toMap ++ Map(
      "profileload.load_ms" -> med(loads.map(_.ms)),
      "profileload.load_jobs" -> med(loads.map(inclusive(_).jobs.toDouble)))
  }

  /** `loadMany` and the `hpct-xml` scan of the study. */
  def studyLayers(from: Long, to: Long): Map[String, Double] = {
    def busy(s: Span) = inclusive(s).runMs / (s.ms * cores)
    val lm = named("hpct.ProfileLoad.load_many", from, to)
    val scan = named("sources.HpctXmlSource.hpct_xml_scan", from, to)
    Map(
      "profileload.loadmany_ms" -> med(lm.map(_.ms)),
      "profileload.loadmany_tasks" -> med(lm.map(inclusive(_).tasks.toDouble)),
      "profileload.loadmany_busy_frac" -> med(lm.map(busy)),
      "hpctxml.scan_ms" -> med(scan.map(_.ms)),
      "hpctxml.tasks" -> med(scan.map(inclusive(_).tasks.toDouble)))
  }

  /** Per-family sums over the traced sweep pass. */
  def queryLayers(from: Long, to: Long): Map[String, Double] =
    Sweep.Families.flatMap { fam =>
      val calls = spans.filter(s => s.id > from && s.id <= to && s.layer == s"queries.$fam" && s.parent == 0L)
      val builds = named(s"queries.$fam.build", from, to)
      val inc = calls.map(inclusive)
      val wallMs = calls.map(_.ms).sum
      Seq(
        s"queries.$fam.s" -> wallMs / 1e3,
        s"queries.$fam.build_ms" -> builds.map(_.ms).sum,
        s"queries.$fam.plan_ms" -> inc.map(_.planMs).sum,
        s"queries.$fam.jobs" -> inc.map(_.jobs).sum.toDouble,
        s"queries.$fam.shuffle_mb" -> inc.map(_.shuffleWrite).sum / 1e6,
        s"queries.$fam.spill_mb" -> inc.map(_.spill).sum / 1e6,
        s"queries.$fam.busy_frac" -> (if (wallMs == 0) 0.0 else inc.map(_.runMs).sum / (wallMs * cores)))
    }.toMap

  /** One JSON object per span: identity, timing relative to the process start, self
    * time, and its own job group's Spark work with the plan fingerprint.
    */
  def write(p: Path, originNs: Long): Unit = {
    def rel(ns: Long) = (ns - originNs) / 1e6
    Json.writeLines(p, spans.sortBy(_.id).map { s =>
      val g = stats.getOrElse(s.group, new GroupStats)
      val o = Json.obj()
        .put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("op", s.opId).put("parent", s.parent).put("group", s.group)
        .put("start_ms", rel(s.startNs)).put("end_ms", rel(s.endNs)).put("self_ms", selfMs(s))
        .put("jobs", g.jobs).put("stages", g.stages).put("tasks", g.tasks)
        .put("executor_run_ms", g.runMs).put("executor_cpu_ms", g.cpuNs / 1e6)
        .put("shuffle_write_bytes", g.shuffleWrite).put("shuffle_read_bytes", g.shuffleRead)
        .put("spill_bytes", g.spill).put("plan_ms", Json.finite(g.planMs))
        .put("rows_examined", g.rowsExamined).put("rows_out", g.rowsOut)
      val fingerprint = o.putObject("plan_fingerprint")
      g.operators.toSeq.sorted.foreach { case (k, v) => fingerprint.put(k, v) }
      o
    })
  }
}
