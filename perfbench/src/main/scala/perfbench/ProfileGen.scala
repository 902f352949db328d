package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded HPCToolkit experiment-XML generator shaped like the reference fixtures.
  *
  * The depth histogram follows one of the two fixture shapes (experiment1: depth 25,
  * peak at 14-16; experiment2: depth 22, peak at 10-11), scaled to the requested row
  * count; the chain of single nodes at the top of each shape is kept as is. Parents
  * are drawn with skewed weights, so fan-out varies like a real calling-context tree.
  * Procedure frames below depth 1 are mostly wrapped in callsite (`C`) elements, which
  * the loader skips, so row ids have gaps as in the fixtures.
  *
  * Metrics mirror the fixtures: 22 per profile, eleven inclusive and eleven exclusive
  * (Sum, Mean, Mean:num-src, StdDev, StdDev:accum2, StdDev:num-src, CfVar,
  * CfVar:accum2, CfVar:num-src, Min, Max), with finalize formulas `$a / $b` (Mean) and
  * `sqrt(($x / $n) - pow($s / $n, 2))` (StdDev, CfVar). Inclusive values are
  * consistent: a node's inclusive value is its exclusive value plus the sum of its
  * children's, so parent (I) >= sum of child (I). A small share of nodes gets an
  * accumulator below the squared mean, which drives the complex-valued StdDev path.
  *
  * The generator also returns the values a correct load and correct operators must
  * produce ([[Expected]]), computed from the tree with the same double arithmetic the
  * formulas use.
  */
object ProfileGen {

  /** Depth histograms of the two reference fixtures (FIXTURES.md), depth 0 = root. */
  val Shape1: Array[Int] = Array(1, 1, 1, 1, 3, 8, 12, 25, 30, 47, 72, 103, 131, 158, 326,
    431, 404, 372, 356, 258, 233, 224, 167, 73, 16, 1)
  val Shape2: Array[Int] = Array(1, 1, 1, 2, 7, 25, 41, 79, 151, 288, 440, 411, 254, 240,
    265, 259, 157, 112, 63, 31, 17, 7, 2)

  /** @param family  metric family prefix, e.g. `CPUTIME (usec)` or `PAPI_MEM_WCY`
    * @param rows    target row count including the root (callsites excluded)
    * @param shape   depth histogram to scale
    */
  final case class Spec(family: String, rows: Int, shape: Array[Int])

  final case class Expected(
      family: String,
      percentageColumn: String,
      /** rows after loading: non-callsite nodes plus the root */
      rows: Int,
      /** tree nodes written, callsites included, root excluded */
      xmlNodes: Int,
      depthHistogram: Map[Int, Int],
      /** hot-path ids from the root at each threshold, in tree order */
      hotPath: Map[Double, Seq[Long]],
      /** finalize-formula values `<family>:Mean (I)` at sampled ids */
      meanI: Map[Long, Double],
      /** `<family>:StdDev (I)` as (re, im) at sampled ids */
      stddevI: Map[Long, (Double, Double)],
      /** flame-graph width (radians, default column) at sampled ids */
      flameWidth: Map[Long, Double],
      /** sums of flame x0 and width over all rows: children, in id order, tile their
        * parent's interval, starting at its x0 (depth-1 nodes tile [0, 2 pi))
        */
      flameX0Sum: Double,
      flameWidthSum: Double,
      /** callpath of every row, for drawing at_paths prefixes */
      callpaths: Map[Long, Seq[Long]],
      /** sum of the `line` column over all rows (root line = 0) */
      lineSum: Long)

  /** Metric names in id order, ids starting at 2 as in the fixtures. */
  def metricNames(family: String): Seq[String] = {
    val kinds = Seq("Sum", "Mean", "Mean:num-src", "StdDev", "StdDev:accum2",
      "StdDev:num-src", "CfVar", "CfVar:accum2", "CfVar:num-src", "Min", "Max")
    for (side <- Seq("I", "E"); k <- kinds) yield s"$family:$k ($side)"
  }

  private final class Node(val depth: Int, val parent: Node) {
    val children = mutable.ArrayBuffer.empty[Node]
    var kind = "PF"
    var wrapped = false // emitted inside a C element
    var id = 0L
    var callsiteId = 0L
    var excl = 0.0
    var incl = 0.0
    var spread = 0.0 // variance factor: accum2 = s^2 / n * (1 + spread)
    var full = false // also carries CfVar, Min and Max measurements
    var module = 0; var file = 0; var proc = 0; var line = 0
  }

  /** Write the profile to `out` and return what a correct load must produce. */
  def write(spec: Spec, seed: Long, out: Path): Expected = {
    val rnd = new scala.util.Random(seed)
    val counts = scaledHistogram(spec.shape, spec.rows)
    val root = new Node(0, null)
    var level = Vector(root)
    for (d <- 1 until counts.length) {
      // skewed parent weights: a few parents receive most children
      val weights = level.map(_ => math.pow(rnd.nextDouble(), 3.0) + 1e-3)
      val cum = weights.scanLeft(0.0)(_ + _).tail.toArray
      val total = cum.last
      val next = Vector.fill(counts(d)) {
        val x = rnd.nextDouble() * total
        var i = java.util.Arrays.binarySearch(cum, x)
        if (i < 0) i = -i - 1
        val p = level(math.min(i, level.length - 1))
        val n = new Node(d, p)
        p.children += n
        n
      }
      level = next
    }
    val nodes = mutable.ArrayBuffer.empty[Node]
    def walk(n: Node): Unit = { nodes += n; n.children.foreach(walk) }
    walk(root)
    val nModules = 7; val nFiles = 20 + spec.rows / 40; val nProcs = 40 + spec.rows / 12
    // kinds, locations and exclusive costs; ids in document (preorder) order
    var nextId = 2L
    def assign(n: Node): Unit = {
      if (n ne root) {
        n.kind =
          if (n.depth == 1) "PF"
          else if (n.children.nonEmpty) { if (rnd.nextDouble() < 0.3) "L" else "PF" }
          else { val u = rnd.nextDouble(); if (u < 0.6) "S" else if (u < 0.7) "L" else "PF" }
        n.wrapped = n.kind == "PF" && n.depth >= 2 && rnd.nextDouble() < 0.9
        if (n.wrapped) { n.callsiteId = nextId; nextId += 1 }
        n.id = nextId; nextId += 1
        n.module = rnd.nextInt(nModules); n.file = rnd.nextInt(nFiles)
        n.proc = rnd.nextInt(nProcs); n.line = 1 + rnd.nextInt(5000)
        val leafScale = if (n.children.isEmpty) 1.0 else 0.05
        n.excl = math.floor(1000.0 * leafScale * math.exp(rnd.nextGaussian() * 1.5)) + 1.0
        n.spread = if (rnd.nextDouble() < 0.03) -0.5 * rnd.nextDouble() else 0.01 + rnd.nextDouble()
        n.full = rnd.nextDouble() < 0.125
      }
      n.children.foreach(assign)
    }
    assign(root)
    def inclusive(n: Node): Double = {
      n.incl = n.excl + n.children.map(inclusive).sum
      n.incl
    }
    inclusive(root)
    val numSrc = Seq(2.0, 4.0, 8.0)(rnd.nextInt(3))
    val names = metricNames(spec.family)

    // ------------------------------------------------------------------ XML
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out), UTF_8), 1 << 16)
    try {
      w.write("<?xml version=\"1.0\"?>\n<HPCToolkitExperiment version=\"2.0\">\n")
      w.write("<SecCallPathProfile i=\"0\" n=\"synthetic\">\n<SecHeader>\n<MetricTable>\n")
      names.zipWithIndex.foreach { case (name, k) =>
        val id = k + 2
        val t = if (name.endsWith("(I)")) "inclusive" else "exclusive"
        w.write(s"""<Metric i="$id" n="${esc(name)}" v="derived-incr" t="$t" show="1">""")
        (k % 11) match {
          case 1 => w.write(s"""<MetricFormula t="finalize" frm="$$$id / $$${id + 1}"/>""")
          case 3 | 6 => w.write(
            s"""<MetricFormula t="finalize" frm="sqrt(($$${id + 1} / $$${id + 2}) - pow($$$id / $$${id + 2}, 2))"/>""")
          case _ =>
        }
        w.write("</Metric>\n")
      }
      w.write("</MetricTable>\n<LoadModuleTable>\n")
      for (m <- 0 until nModules)
        w.write(s"""<LoadModule i="${m + 1}" n="/app/lib/libmod$m.so"/>\n""")
      w.write("</LoadModuleTable>\n<FileTable>\n")
      for (f <- 0 until nFiles)
        w.write(s"""<File i="${f + 100}" n="./src/unit${f % 9}/./file$f.F90"/>\n""")
      w.write("</FileTable>\n<ProcedureTable>\n")
      for (p <- 0 until nProcs)
        w.write(s"""<Procedure i="${p + 10000}" n="proc_${p}_"/>\n""")
      w.write("</ProcedureTable>\n</SecHeader>\n<SecCallPathProfileData>\n")
      root.full = true
    writeMetrics(w, root, numSrc, exclusive = false)
      def emit(n: Node): Unit = {
        if (n.wrapped) {
          w.write(s"""<C i="${n.callsiteId}" l="${n.line}">""")
          // callsite measurements are dropped by the loader; write plausible ones
          w.write(s"""<M n="2" v="${n.incl}"/>""")
        }
        val attrs = n.kind match {
          case "PF" => s""" lm="${n.module + 1}" f="${n.file + 100}" l="${n.line}" n="${n.proc + 10000}""""
          case "L" => s""" f="${n.file + 100}" l="${n.line}""""
          case _ => s""" l="${n.line}""""
        }
        w.write(s"""<${n.kind} i="${n.id}"$attrs>""")
        writeMetrics(w, n, numSrc, exclusive = n.children.isEmpty || n.kind == "S" || n.excl > 40)
        n.children.foreach(emit)
        w.write(s"</${n.kind}>")
        if (n.wrapped) w.write("</C>")
        w.write("\n")
      }
      root.children.foreach(emit)
      w.write("</SecCallPathProfileData>\n</SecCallPathProfile>\n</HPCToolkitExperiment>\n")
    } finally w.close()

    // ------------------------------------------------------------------ expected values
    val rowsOut = nodes.filter(_ ne root)
    val callpath = mutable.HashMap.empty[Node, List[Long]]
    callpath(root) = Nil
    nodes.foreach(n => if (n ne root) callpath(n) = callpath(n.parent) :+ n.id)
    def meanOf(n: Node): Double = n.incl / numSrc
    val rootMean = meanOf(root)
    def ratioTotal(n: Node): Double = meanOf(n) / rootMean
    def hotPath(threshold: Double): Seq[Long] = {
      val out = mutable.ArrayBuffer(-1L)
      var cur = root
      var done = false
      while (!done && cur.children.nonEmpty) {
        val best = cur.children.maxBy(c => (ratioTotal(c), -c.id))
        if (ratioTotal(best) < threshold) done = true
        else { out += best.id; cur = best }
      }
      out.toSeq
    }
    def stddev(n: Node): (Double, Double) = {
      val s = n.incl
      val acc2 = s * s / numSrc * (1.0 + n.spread)
      val x = acc2 / numSrc - math.pow(s / numSrc, 2.0)
      if (x >= 0) (math.sqrt(x), 0.0) else (0.0, math.sqrt(-x))
    }
    // flame geometry by the tiling rule: each node's children, in id order, split its
    // interval in proportion to their inclusive values
    val geo = mutable.HashMap.empty[Node, (Double, Double)]
    geo(root) = (0.0, 2.0 * math.Pi)
    nodes.foreach { n =>
      val (x0, w) = geo(n)
      val total = n.children.map(_.incl).sum
      var x = x0
      n.children.sortBy(_.id).foreach { ch =>
        val cw = w * (ch.incl / total)
        geo(ch) = (x, cw)
        x += cw
      }
    }
    val sample = rnd.shuffle(rowsOut.toVector).take(24)
    Expected(
      family = spec.family,
      percentageColumn = percentageColumn(spec.family),
      rows = rowsOut.length + 1,
      xmlNodes = rowsOut.length + rowsOut.count(_.wrapped),
      depthHistogram = nodes.groupBy(_.depth).map { case (d, ns) => d -> ns.length },
      hotPath = Seq(0.01, 0.05).map(t => t -> hotPath(t)).toMap,
      meanI = sample.map(n => n.id -> meanOf(n)).toMap,
      stddevI = sample.map(n => n.id -> stddev(n)).toMap,
      flameWidth = sample.map(n => n.id -> geo(n)._2).toMap,
      flameX0Sum = rowsOut.map(geo(_)._1).sum,
      flameWidthSum = rowsOut.map(geo(_)._2).sum,
      callpaths = nodes.map(n => (if (n eq root) -1L else n.id) -> callpath(n)).toMap,
      lineSum = rowsOut.map(_.line.toLong).sum)
  }

  /** The loader's percentage base for a generated family: `Mean (I)` of the family
    * (the `CPUTIME (usec)` direct match, or the prefix fallback for any other family).
    */
  def percentageColumn(family: String): String = s"$family:Mean (I)"

  /** Measurements of one node: the Sum/Mean/StdDev inclusive group always, the
    * CfVar/Min/Max group only on `full` nodes, and the exclusive side only where
    * `exclusive` holds (the fixtures are sparse in the same way). Absent
    * measurements load as null.
    */
  private def writeMetrics(w: BufferedWriter, n: Node, numSrc: Double, exclusive: Boolean): Unit = {
    def side(v: Double, base: Int): Unit = {
      val acc2 = v * v / numSrc * (1.0 + n.spread)
      val vals =
        if (n.full) Array(v, v, numSrc, v, acc2, numSrc, v, acc2, numSrc, v / numSrc * 0.5, v / numSrc * 1.5)
        else Array(v, v, numSrc, v, acc2, numSrc)
      var k = 0
      while (k < vals.length) {
        w.write("<M n=\""); w.write(Integer.toString(base + k))
        w.write("\" v=\""); w.write(java.lang.Double.toString(vals(k))); w.write("\"/>")
        k += 1
      }
    }
    side(n.incl, 2)
    if (exclusive && n.excl > 0) side(n.excl, 13)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  /** Scale `shape` to `rows` total rows (root included); the leading run of depths with
    * at most two nodes (the fixtures' single entry chain) keeps its counts.
    */
  def scaledHistogram(shape: Array[Int], rows: Int): Array[Int] = {
    val fixed = shape.indices.takeWhile(d => shape(d) <= 2).toSet
    val fixedSum = fixed.toSeq.map(shape).sum
    val scalable = shape.indices.filterNot(fixed).map(shape).sum
    val f = math.max(0.0, (rows - fixedSum).toDouble / scalable)
    shape.indices.map(d => if (fixed(d)) shape(d) else math.max(1, math.round(shape(d) * f).toInt)).toArray
  }
}
