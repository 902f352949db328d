package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per process:
  *
  * {{{
  * perfbench.Main --workload <profile_interactive|query_sweep> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <sf dir> --expected <json> --spans <file>
  * }}}
  *
  * Prints one line per metric (name, value, unit and how it was taken), then, as the
  * last line, one JSON object with `correct`, `attempted`, `failed` and `metrics`:
  * the end-to-end metrics in an untraced run, the per-layer metrics in a traced run.
  * `perfbench/run.py` builds the package and is the command to use.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
      data: String, expected: Path, spans: Path, writeExpected: Boolean)

  /** What one workload run measured. Times in seconds unless named otherwise. */
  final case class Result(
      setups: Seq[Double],
      passes: Seq[Double],
      scripts: Seq[Double],
      nodesPerS: Seq[Double],
      layers: Map[String, Double])

  /** The tail percentile of per-call latency: the highest with at least ten samples
    * beyond it in a query_sweep run (70 calls). A profile run has fewer calls, so
    * fewer samples lie beyond it there; the count is printed with the value.
    */
  val TailQuantile = 0.85

  /** The paper's published single-threaded pandas total for its script (BASELINE.md). */
  val PandasScriptS = 40.726

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[perfbench] session up at +${(System.nanoTime() - entryNs) / 1e9}%.1f s")
    val result =
      try {
        val tracer = if (o.trace) Some(new Tracer(spark)) else None
        val client = new Client(spark, tracer.getOrElse(Trace.Off))
        val ctx = Ctx(spark, client, tracer, o, cores, entryNs)
        val r = o.workload match {
          case "profile_interactive" => Workloads.interactive(ctx)
          case "query_sweep" => Workloads.sweep(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        System.err.println(f"[perfbench] workload done at +${(System.nanoTime() - entryNs) / 1e9}%.1f s")
        Some(report(ctx, r))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          None
      } finally spark.stop()
    // the result line goes last, after the session has stopped: run.py ends the JVM
    // once it has read it (JVM exit waits up to 10 s for busy JIT compiler threads)
    result.foreach(println)
    System.out.flush()
    Runtime.getRuntime.halt(if (result.isDefined) 0 else 1)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), need("data"), Paths.get(need("expected")), Paths.get(need("spans")),
      m.get("write-expected").contains("1"))
  }

  // ---------------------------------------------------------------- metric catalogue

  val OpNames: Seq[String] = Seq("hot_path", "compact", "at_paths", "at_depths", "flame", "ratio_total", "ratio_parent")
  val OpFields: Seq[(String, String)] = Seq("ms" -> "ms", "plan_ms" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "shuffle_bytes" -> "bytes", "rows_examined_per_row" -> "ratio")
  val QueryFields: Seq[(String, String)] = Seq("s" -> "s", "build_ms" -> "ms", "plan_ms" -> "ms",
    "jobs" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "busy_frac" -> "ratio")
  val PrewarmStages: Seq[String] = Seq("hierarchy-nodes", "text-bands", "text-simhash", "text-simhash128",
    "text-shingles", "text-decontam", "emb-count", "vec-bands", "ivf-16-0", "ivf-16-1")
  val Kernels: Seq[String] = Seq("bigram_stats", "bounded_collect_min", "count_words_in", "intersect_count",
    "minhash8", "normalize_text", "rolling_fp", "shingle_hashes", "simhash128", "simhash64",
    "token_counts", "token_hash16", "vec_dot")

  /** Every per-layer metric with its unit, in report order. A traced run reports all
    * of them; layers the workload does not exercise read 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("xmlreader.parse_ms" -> "ms", "xmlreader.header_ms" -> "ms", "xmlreader.nodes_per_s" -> "1/s",
      "xmlreader.mb_per_s" -> "MB/s",
      "profileload.rawframe_ms" -> "ms", "profileload.formulas_ms" -> "ms", "profileload.rootfix_ms" -> "ms",
      "profileload.ratios_ms" -> "ms", "profileload.load_ms" -> "ms", "profileload.load_jobs" -> "count",
      "profileload.loadmany_ms" -> "ms", "profileload.loadmany_tasks" -> "count",
      "profileload.loadmany_busy_frac" -> "ratio") ++
      OpNames.flatMap(op => OpFields.map { case (f, u) => s"ops.$op.$f" -> u }) ++
      Seq("flamesvg.render_ms" -> "ms", "hpctxml.scan_ms" -> "ms", "hpctxml.tasks" -> "count") ++
      Sweep.Families.flatMap(f => QueryFields.map { case (k, u) => s"queries.$f.$k" -> u }) ++
      PrewarmStages.map(s => s"prewarm.${s}_s" -> "s") ++
      Kernels.map(k => s"functions.$k.ns_per_row" -> "ns") ++
      Seq("trace.overhead_frac" -> "ratio", "process.peak_rss_mb" -> "MB")

  // ---------------------------------------------------------------- report

  /** Print the metric lines and return the result line. */
  private def report(ctx: Ctx, r: Result): String = {
    val c = ctx.client
    val o = ctx.opts
    val attempted = c.calls.length
    val failed = c.calls.count(!_.ok)
    val lat = c.calls.filter(_.timed).map(_.ms).toSeq
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println(s"perfbench workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0} " +
      s"nproc=${ctx.cores} heap_mb=$heapMb spark=${ctx.spark.version} passes=${r.passes.length}")
    val e2e: Seq[(String, Double, String, String)] = Seq(
      ("setup_s", Stats.median(r.setups), "s",
        f"median of ${r.setups.length} set-ups; main entry to first timed call ${ctx.setupWallS}%.3f s"),
      ("total_s", Stats.median(r.passes), "s", s"median of ${r.passes.length} passes"),
      ("op_p50_ms", Stats.median(lat), "ms", s"n=${lat.length}"),
      ("op_tail_ms", Stats.quantile(lat, TailQuantile), "ms",
        f"p${TailQuantile * 100}%.0f, n=${lat.length}, ${lat.count(_ > Stats.quantile(lat, TailQuantile))} beyond"))
    e2e.foreach { case (n, v, u, how) => println(f"$n $v%.4f $u ($how)") }
    // profile-only figures: printed, not in the result line (every workload reports
    // the same end-to-end set there)
    if (r.scripts.nonEmpty) println(f"ref_script_s ${Stats.median(r.scripts)}%.4f s (the paper script; " +
      f"pandas total $PandasScriptS%.3f s, ratio ${Stats.median(r.scripts) / PandasScriptS}%.3f, indicative: generated inputs)")
    if (r.nodesPerS.nonEmpty) println(f"nodes_per_s ${Stats.median(r.nodesPerS)}%.1f 1/s (CCT rows loaded per second by loadMany)")
    println(f"error_rate ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ($failed of $attempted calls)")
    println(f"peak_rss_mb ${Stats.peakRssMb()}%.1f MB (process VmHWM; a per-layer metric, it does not repeat within a tenth)")
    c.errors.take(10).foreach(e => println(s"error $e"))
    c.calls.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, cs) =>
      val (t, u) = cs.partition(_.timed)
      val med = if (t.isEmpty) 0.0 else Stats.median(t.map(_.ms).toSeq)
      System.err.println(f"[perfbench] op $op%-22s timed n=${t.length}%3d median $med%9.1f ms; untimed n=${u.length}%3d")
    }
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) PerLayer.map { case (n, u) =>
        (n, if (n == "process.peak_rss_mb") Stats.peakRssMb() else r.layers.getOrElse(n, 0.0), u) }
      else e2e.map { case (n, v, u, _) => (n, v, u) }
    if (o.trace) metrics.foreach { case (n, v, u) => println(f"layer $n $v%.4f $u") }
    val out = Json.obj().put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    val body = out.putObject("metrics")
    metrics.foreach { case (n, v, u) => body.putObject(n).put("value", Json.finite(v)).put("unit", u) }
    Json.mapper.writeValueAsString(out)
  }
}

/** Per-run context shared by the workloads. */
final case class Ctx(spark: SparkSession, client: Client, tracer: Option[Tracer], opts: Main.Opts,
    cores: Int, entryNs: Long) {
  private var firstTimedNs = 0L
  /** Mark the start of the timed window; set-up ends here. */
  def startTimed(): Unit = {
    firstTimedNs = System.nanoTime(); client.timed = true
    System.err.println(f"[perfbench] set-up done at +$setupWallS%.1f s")
  }
  def setupWallS: Double = (firstTimedNs - entryNs) / 1e9
}

/** JSON output through Jackson (on Spark's classpath). */
object Json {
  val mapper = new ObjectMapper

  def obj(): ObjectNode = mapper.createObjectNode()

  /** A measured value as JSON can hold it: a value with no samples (NaN) reads 0. */
  def finite(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  /** Write one JSON object per line. */
  def writeLines(p: Path, objs: Iterable[ObjectNode]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, objs.map(mapper.writeValueAsString).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
