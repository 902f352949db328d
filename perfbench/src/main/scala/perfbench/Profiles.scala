package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.hpct.{FlameSvg, Ops, ProfileFrame, ProfileLoad, XmlReader}

/** One generated experiment file and what a correct load of it must produce. */
final case class ProfileInput(path: String, expected: ProfileGen.Expected) {
  def bytes: Long = Files.size(java.nio.file.Paths.get(path))
}

/** The two profile workloads: the paper's script (load, hot_path(0.01), compact and
  * flame on each profile) and the operator calls around it, on generated inputs.
  */
object Profiles {
  val TwoPi: Double = 2.0 * math.Pi

  def generate(dir: Path, name: String, spec: ProfileGen.Spec, seed: Long): ProfileInput = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    ProfileInput(p.toString, ProfileGen.write(spec, seed, p))
  }

  /** The fixture-sized pair: experiment1-shaped (`CPUTIME (usec)`, 3454 rows) and
    * experiment2-shaped (`PAPI_MEM_WCY`, 2854 rows, the fallback percentage base).
    */
  def fixturePair(dir: Path, seed: Long): Seq[ProfileInput] = Seq(
    generate(dir, "experiment1.xml", ProfileGen.Spec("CPUTIME (usec)", 3454, ProfileGen.Shape1), seed * 31 + 1),
    generate(dir, "experiment2.xml", ProfileGen.Spec("PAPI_MEM_WCY", 2854, ProfileGen.Shape2), seed * 31 + 2))

  val StudyFamilies: Seq[String] = Seq("CPUTIME (usec)", "PAPI_MEM_WCY", "PAPI_TOT_CYC", "PAPI_L2_DCM")

  /** A multi-run study: `files` profiles of `rows` rows cycling four metric families. */
  def study(dir: Path, seed: Long, files: Int, rows: Int): Seq[ProfileInput] =
    (0 until files).map { j =>
      val shape = if (j % 2 == 0) ProfileGen.Shape1 else ProfileGen.Shape2
      generate(dir, f"run_$j%02d.xml",
        ProfileGen.Spec(StudyFamilies(j % StudyFamilies.length), rows, shape), seed * 1009 + j)
    }

  // ---------------------------------------------------------------- checked calls

  private def q(c: String): Column = col(s"`$c`")
  private def ratioTotal(e: ProfileGen.Expected) = s"${e.percentageColumn} ratio of total"

  private def expectCount(got: Map[String, Any], n: Long, what: String): Option[String] =
    if (got("n") == n) None else Some(s"$what: ${got("n")} rows, expected $n")

  private def expectSum(got: Map[String, Any], key: String, v: Long, what: String): Option[String] =
    if (got(key) == v) None else Some(s"$what: sum($key) ${got(key)}, expected $v")

  private def near(a: Any, b: Double, what: String): Option[String] = a match {
    case x: Double if math.abs(x - b) <= 1e-9 * math.max(1.0, math.abs(b)) => None
    case other => Some(s"$what: $other, expected $b")
  }

  private def idSum(e: ProfileGen.Expected, keep: Seq[Long] => Boolean): Long =
    e.callpaths.collect { case (id, cp) if keep(cp) => id }.sum

  /** Load one profile, materialize it, and check the row count, the id set, the root's
    * ratio of total, the depth histogram's first three moments, and the finalize
    * formulas (Mean, and StdDev's real and imaginary parts) summed over sampled nodes.
    */
  def load(c: Client, in: ProfileInput): Option[ProfileFrame] = {
    val e = in.expected
    val fam = e.family
    val sampled = col("id").isin(e.meanI.keys.toSeq: _*)
    val depth = size(col("callpath")).cast("long")
    val moments = (1 to 3).map(k => e.depthHistogram.map { case (d, n) => math.pow(d, k).toLong * n }.sum)
    c.call("load", "hpct.ProfileLoad") {
      val pf = ProfileLoad.load(c.spark, in.path)
      (pf, Sink.noop(pf.df, "ids" -> sum("id"),
        "root" -> max(when(col("id") === -1L, q(ratioTotal(e)))),
        "d1" -> sum(depth), "d2" -> sum(depth * depth), "d3" -> sum(depth * depth * depth),
        "mean" -> sum(when(sampled, q(s"$fam:Mean (I)"))),
        "sd_re" -> sum(when(sampled, q(s"$fam:StdDev (I)").getField("re"))),
        "sd_im" -> sum(when(sampled, q(s"$fam:StdDev (I)").getField("im")))))
    } { case (_, got) =>
      expectCount(got, e.rows, "load")
        .orElse(expectSum(got, "ids", idSum(e, _ => true), "load"))
        .orElse(near(got("root"), 1.0, "load root ratio of total"))
        .orElse(expectSum(got, "d1", moments(0), "load depth"))
        .orElse(expectSum(got, "d2", moments(1), "load depth^2"))
        .orElse(expectSum(got, "d3", moments(2), "load depth^3"))
        .orElse(near(got("mean"), e.meanI.values.sum, s"load $fam:Mean (I) at sampled nodes"))
        .orElse(near(got("sd_re"), e.stddevI.values.map(_._1).sum, s"load $fam:StdDev (I).re at sampled nodes"))
        .orElse(near(got("sd_im"), e.stddevI.values.map(_._2).sum, s"load $fam:StdDev (I).im at sampled nodes"))
    }.map(_._1)
  }

  def hotPath(c: Client, pf: ProfileFrame, e: ProfileGen.Expected, threshold: Double): Unit =
    c.call("hot_path", "hpct.Ops") {
      Sink.noop(Ops.hotPath(pf, threshold = threshold).df, "ids" -> sum("id"))
    } { got =>
      val want = e.hotPath(threshold)
      expectCount(got, want.length, s"hot_path($threshold)")
        .orElse(expectSum(got, "ids", want.sum, s"hot_path($threshold)"))
    }

  def compact(c: Client, pf: ProfileFrame, e: ProfileGen.Expected): Unit =
    c.call("compact", "hpct.Ops") {
      Sink.noop(Ops.compact(pf).df, "lines" -> sum("line"))
    } { got =>
      expectCount(got, e.rows, "compact").orElse(expectSum(got, "lines", e.lineSum, "compact"))
    }

  /** Flame geometry: row count, the depth-1 ring closing at 2 pi, widths at sampled
    * nodes, and the sums of x0 and width, which hold only if every node's children
    * tile its interval in id order.
    */
  def flame(c: Client, pf: ProfileFrame, e: ProfileGen.Expected): Unit = {
    val sampled = col("id").isin(e.flameWidth.keys.toSeq: _*)
    c.call("flame", "hpct.Ops") {
      Sink.noop(Ops.flameGeometry(pf), "w1" -> sum(when(col("depth") === 1, col("width"))),
        "ws" -> sum(when(sampled, col("width"))), "x0" -> sum("x0"), "w" -> sum("width"))
    } { got =>
      expectCount(got, e.rows - 1, "flame")
        .orElse(near(got("w1"), TwoPi, "flame depth-1 width"))
        .orElse(near(got("ws"), e.flameWidth.values.sum, "flame width at sampled nodes"))
        .orElse(near(got("x0"), e.flameX0Sum, "flame sum of x0"))
        .orElse(near(got("w"), e.flameWidthSum, "flame sum of width"))
    }
  }

  def atPaths(c: Client, pf: ProfileFrame, e: ProfileGen.Expected, prefix: Seq[Long]): Unit =
    c.call("at_paths", "hpct.Ops") {
      Sink.noop(Ops.atPaths(pf, prefix = prefix).df, "ids" -> sum("id"))
    } { got =>
      val keep = (cp: Seq[Long]) => cp.startsWith(prefix)
      expectCount(got, e.callpaths.values.count(keep), "at_paths")
        .orElse(expectSum(got, "ids", idSum(e, keep), "at_paths"))
    }

  def atDepths(c: Client, pf: ProfileFrame, e: ProfileGen.Expected, lo: Int, hi: Int): Unit =
    c.call("at_depths", "hpct.Ops") {
      Sink.noop(Ops.atDepths(pf, Some(lo), Some(hi)).df)
    } { got =>
      expectCount(got, (lo to hi).map(e.depthHistogram.getOrElse(_, 0)).sum.toLong, "at_depths")
    }

  /** `add_ratio_column` on another metric: ratio of total or the exact walk-up ratio
    * of parent. Either way the root's ratio is 1.
    */
  def ratio(c: Client, pf: ProfileFrame, e: ProfileGen.Expected, base: String, method: String): Unit =
    c.call(s"ratio_$method", "hpct.Ops") {
      val out = pf.addRatioColumn(base, method, Some("__ratio"))
      Sink.noop(out.df, "root" -> max(when(col("id") === -1L, col("__ratio"))))
    } { got =>
      expectCount(got, e.rows, s"ratio_$method").orElse(near(got("root"), 1.0, s"ratio_$method root"))
    }

  def flameSvg(c: Client, pf: ProfileFrame, e: ProfileGen.Expected): Unit =
    c.call("flame_svg", "hpct.FlameSvg") {
      FlameSvg.render(Ops.flameGeometry(pf))
    } { svg =>
      val wedges = "<path ".r.findAllMatchIn(svg).size
      if (wedges == e.rows - 1) None else Some(s"flame_svg: $wedges wedges, expected ${e.rows - 1}")
    }

  /** The paper's script (performance.ipynb cells 2-5): load every profile, then
    * hot_path(0.01), compact and flame on each. Returns the loaded frames.
    */
  def paperScript(c: Client, inputs: Seq[ProfileInput]): Seq[(ProfileFrame, ProfileGen.Expected)] = {
    val pfs = inputs.flatMap(in => load(c, in).map(_ -> in.expected))
    pfs.foreach { case (pf, e) => hotPath(c, pf, e, 0.01) }
    pfs.foreach { case (pf, e) => compact(c, pf, e) }
    pfs.foreach { case (pf, e) => flame(c, pf, e) }
    pfs
  }

  /** The session calls after the script: one call of each other operator, in a fixed
    * order and alternating between the two profiles, with arguments drawn from `rnd`.
    * Only the arguments vary with the seed, so every seed runs the same amount of
    * work; the order is fixed too, because it decides which call pays for code
    * generation shared between operators.
    */
  def sessionCalls(c: Client, pfs: Seq[(ProfileFrame, ProfileGen.Expected)], rnd: scala.util.Random): Unit =
    pfs match {
      case Seq((pf1, e1), (pf2, e2)) => sessionCalls(c, pf1, e1, pf2, e2, rnd)
      case _ => // a load failed; it is already counted
    }

  private def sessionCalls(c: Client, pf1: ProfileFrame, e1: ProfileGen.Expected, pf2: ProfileFrame,
      e2: ProfileGen.Expected, rnd: scala.util.Random): Unit = {
    def sumBase(e: ProfileGen.Expected) = s"${e.family}:${if (rnd.nextBoolean()) "Sum (I)" else "Sum (E)"}"
    val inner = e1.callpaths.toVector.sortBy(_._1).map(_._2).filter(cp => cp.length >= 2 && cp.length <= 8)
    atPaths(c, pf1, e1, inner(rnd.nextInt(inner.length)))
    val lo = 10 + rnd.nextInt(5)
    atDepths(c, pf2, e2, lo, lo + 2)
    ratio(c, pf1, e1, sumBase(e1), "total")
    ratio(c, pf2, e2, sumBase(e2), "parent")
    hotPath(c, pf1, e1, 0.05)
    flameSvg(c, pf2, e2)
  }

  // ---------------------------------------------------------------- multi-file loads

  def loadMany(c: Client, study: Seq[ProfileInput]): Unit =
    c.call("load_many", "hpct.ProfileLoad") {
      Sink.noop(ProfileLoad.loadMany(c.spark, study.map(_.path)).df, "ids" -> sum("id"))
    } { got =>
      expectCount(got, study.map(_.expected.rows.toLong).sum, "load_many")
        .orElse(expectSum(got, "ids", study.map(s => idSum(s.expected, _ => true)).sum, "load_many"))
    }

  def scan(c: Client, study: Seq[ProfileInput]): Unit =
    c.call("hpct_xml_scan", "sources.HpctXmlSource") {
      val df = c.spark.read.format("hpct-xml").option("path", study.map(_.path).mkString(",")).load()
      Sink.noop(df, "ids" -> sum("id"))
    } { got =>
      expectCount(got, study.map(_.expected.rows.toLong).sum, "hpct_xml_scan")
        .orElse(expectSum(got, "ids", study.map(s => idSum(s.expected, _ => true)).sum, "hpct_xml_scan"))
    }

  // ---------------------------------------------------------------- layer probes (traced run)

  /** Per-phase cost of a single-file load, from materializing the public pieces
    * cumulatively: raw frame, + formulas, + root fix, + ratio columns. A phase's self
    * time is the difference of consecutive cumulative times (medians of `reps`).
    */
  def loadPhases(spark: SparkSession, in: ProfileInput, reps: Int): Map[String, Double] = {
    def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    def med(f: => Unit): Double = Stats.median((1 to reps).map(_ => ms(f)))
    val parsed = XmlReader.parse(in.path)
    val meta = parsed.meta
    val raw = () => ProfileLoad.rawFrame(spark, meta, parsed.rows)
    val formulas = () => ProfileLoad.applyFormulas(raw(), meta)
    val fixed = () => ProfileLoad.rootFix(formulas())
    val ratios = () => ProfileLoad.addRatioColumns(fixed(), meta.percentageColumn)
    val cum = Seq(raw, formulas, fixed, ratios).map(f => med { Sink.noop(f()); () })
    Map(
      "rawframe_ms" -> cum(0),
      "formulas_ms" -> (cum(1) - cum(0)),
      "rootfix_ms" -> (cum(2) - cum(1)),
      "ratios_ms" -> (cum(3) - cum(2)))
  }

  /** Parse and header-parse wall times of one file (medians of `reps`). */
  def parseProbe(in: ProfileInput, reps: Int): Map[String, Double] = {
    def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val parse = Stats.median((1 to reps).map(_ => ms(XmlReader.parse(in.path))))
    val header = Stats.median((1 to reps).map(_ => ms(XmlReader.parseHeader(in.path))))
    Map("parse_ms" -> parse, "header_ms" -> header,
      "nodes_per_s" -> in.expected.xmlNodes / (parse / 1e3),
      "mb_per_s" -> in.bytes / 1e6 / (parse / 1e3))
  }

  /** FlameSvg's own cost: render from an already-collected geometry frame, so the
    * call holds only the driver-side collect of a local relation and the SVG build.
    */
  def renderProbe(spark: SparkSession, pf: ProfileFrame, reps: Int): Double = {
    val geo = Ops.flameGeometry(pf)
    val local = spark.createDataFrame(java.util.Arrays.asList(geo.collect(): _*), geo.schema)
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); FlameSvg.render(local); (System.nanoTime() - t0) / 1e6
    })
  }
}
