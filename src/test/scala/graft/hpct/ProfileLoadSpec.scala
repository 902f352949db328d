package graft.hpct

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** Deterministic HPCToolkit experiment-XML writer for load tests that need no
  * reference fixture: a seeded calling-context tree whose procedure frames below
  * depth 1 are mostly wrapped in callsites (`C`, skipped by the loader), and two
  * metric families of six inclusive and six exclusive metrics each (Sum, Mean,
  * Mean:num-src, StdDev, StdDev:accum2, StdDev:num-src). Mean and StdDev carry the
  * fixtures' finalize formulas, `$3 / $4` and `sqrt(($6 / $7) - pow($5 / $7, 2))`
  * for the first family; a few nodes get an accumulator below the squared mean, so
  * StdDev takes its complex-valued path. The second family is measured on about
  * 60% of the nodes, so its columns carry nulls.
  */
object ExperimentXmlWriter {

  private val Families = Seq("CPUTIME (usec)", "PAPI_TOT_CYC")
  private val Kinds = Seq("Sum", "Mean", "Mean:num-src", "StdDev", "StdDev:accum2", "StdDev:num-src")
  private val MaxDepth = 24

  /** Metric id of `kind` in family `f` on side "I" or "E". */
  private def metricId(f: Int, kind: String, side: String): Int =
    2 + 12 * f + (if (side == "I") 0 else 6) + Kinds.indexOf(kind)

  /** What a load of the written file yields: its rows (root included, callsites
    * excluded) as id -> callpath, and the ids of the non-root rows with children.
    */
  final case class Written(callpaths: Map[Long, Seq[Long]], innerIds: Seq[Long])

  private final class Node(val depth: Int) {
    val children = mutable.ArrayBuffer.empty[Node]
    var id: Long = Model.RootId
    var kind = "root"
    var callsite = 0L
    var line, module, file, proc = 0
    var excl, incl, spread = 0.0
    var second = true
  }

  /** Write a profile of `nodes` tree nodes (callsites excluded, root included) to
    * `out`. The tree and the values depend on `seed` only. `zeroDivisorAt` writes the
    * first family's `Mean:num-src (I)` (the Mean formula's divisor) as 0 at those row
    * ids; `zeroBaseAt` writes its raw `Mean (I)` (the percentage base) as 0 there.
    */
  def write(out: Path, nodes: Int, seed: Long, zeroDivisorAt: Set[Long] = Set.empty,
      zeroBaseAt: Set[Long] = Set.empty): Written = {
    val rnd = new scala.util.Random(seed)
    val root = new Node(0)
    val all = mutable.ArrayBuffer(root)
    for (i <- 1 until nodes) {
      // a single-child entry chain at the top, like the fixtures; below it parents
      // lean toward recent nodes, which keeps the tree deep
      var p = if (i <= 3) all.last else all(math.max(rnd.nextInt(all.length), rnd.nextInt(all.length)))
      if (p.depth >= MaxDepth) p = all(3)
      val n = new Node(p.depth + 1)
      p.children += n
      all += n
    }
    val numSrc = Seq(2.0, 4.0, 8.0)(rnd.nextInt(3))
    val nModules = 5; val nFiles = 40; val nProcs = 200
    var nextId = 2L
    def assign(n: Node): Unit = {
      if (n ne root) {
        n.kind =
          if (n.depth == 1) "PF"
          else if (n.children.nonEmpty) { if (rnd.nextDouble() < 0.3) "L" else "PF" }
          else { val u = rnd.nextDouble(); if (u < 0.6) "S" else if (u < 0.7) "L" else "PF" }
        if (n.kind == "PF" && n.depth >= 2 && rnd.nextDouble() < 0.9) { n.callsite = nextId; nextId += 1 }
        n.id = nextId; nextId += 1
        n.module = rnd.nextInt(nModules); n.file = rnd.nextInt(nFiles)
        n.proc = rnd.nextInt(nProcs); n.line = 1 + rnd.nextInt(5000)
        n.excl = math.floor(1000.0 * math.exp(rnd.nextGaussian() * 1.5)) + 1.0
        n.spread = if (rnd.nextDouble() < 0.03) -0.5 * rnd.nextDouble() else 0.01 + rnd.nextDouble()
        n.second = rnd.nextDouble() < 0.6
      }
      n.children.foreach(assign)
    }
    assign(root)
    def inclusive(n: Node): Double = { n.incl = n.excl + n.children.map(inclusive).sum; n.incl }
    inclusive(root)

    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out), UTF_8), 1 << 16)
    def metrics(n: Node): Unit = {
      def side(f: Int, s: String, v: Double): Unit = {
        val vals = Seq(v, if (f == 0 && zeroBaseAt(n.id) && s == "I") 0.0 else v,
          if (f == 0 && zeroDivisorAt(n.id) && s == "I") 0.0 else numSrc,
          v, v * v / numSrc * (1.0 + n.spread), numSrc)
        vals.zipWithIndex.foreach { case (x, k) => w.write(s"""<M n="${metricId(f, Kinds(k), s)}" v="$x"/>""") }
      }
      for (f <- Families.indices if f == 0 || n.second) {
        val scale = 1.0 + 2.5 * f
        side(f, "I", n.incl * scale)
        side(f, "E", (if (n eq root) 7.0 else n.excl) * scale)
      }
    }
    def emit(n: Node): Unit = {
      if (n.callsite != 0L) w.write(s"""<C i="${n.callsite}" l="${n.line}"><M n="2" v="${n.incl}"/>""")
      val attrs = n.kind match {
        case "PF" => s""" lm="${n.module + 1}" f="${n.file + 100}" l="${n.line}" n="${n.proc + 1000}""""
        case "L" => s""" f="${n.file + 100}" l="${n.line}""""
        case _ => s""" l="${n.line}""""
      }
      w.write(s"""<${n.kind} i="${n.id}"$attrs>""")
      metrics(n)
      n.children.foreach(emit)
      w.write(s"</${n.kind}>")
      if (n.callsite != 0L) w.write("</C>")
      w.write("\n")
    }
    try {
      w.write("<?xml version=\"1.0\"?>\n<HPCToolkitExperiment version=\"2.0\">\n")
      w.write("<SecCallPathProfile i=\"0\" n=\"generated\">\n<SecHeader>\n<MetricTable>\n")
      for (f <- Families.indices; s <- Seq("I", "E"); k <- Kinds) {
        val id = metricId(f, k, s)
        w.write(s"""<Metric i="$id" n="${Families(f)}:$k ($s)" v="derived-incr" t="${if (s == "I") "inclusive" else "exclusive"}" show="1">""")
        k match {
          case "Mean" => w.write(s"""<MetricFormula t="finalize" frm="$$$id / $$${id + 1}"/>""")
          case "StdDev" => w.write(
            s"""<MetricFormula t="finalize" frm="sqrt(($$${id + 1} / $$${id + 2}) - pow($$$id / $$${id + 2}, 2))"/>""")
          case _ =>
        }
        w.write("</Metric>\n")
      }
      w.write("</MetricTable>\n<LoadModuleTable>\n")
      for (m <- 0 until nModules) w.write(s"""<LoadModule i="${m + 1}" n="/app/lib/libmod$m.so"/>\n""")
      w.write("</LoadModuleTable>\n<FileTable>\n")
      for (f <- 0 until nFiles) w.write(s"""<File i="${f + 100}" n="./src/unit${f % 7}/file$f.c"/>\n""")
      w.write("</FileTable>\n<ProcedureTable>\n")
      for (p <- 0 until nProcs) w.write(s"""<Procedure i="${p + 1000}" n="proc_$p"/>\n""")
      w.write("</ProcedureTable>\n</SecHeader>\n<SecCallPathProfileData>\n")
      metrics(root)
      root.children.foreach(emit)
      w.write("</SecCallPathProfileData>\n</SecCallPathProfile>\n</HPCToolkitExperiment>\n")
    } finally w.close()

    val callpaths = mutable.LinkedHashMap.empty[Long, Seq[Long]]
    def walk(n: Node, cp: Vector[Long]): Unit = {
      callpaths(n.id) = cp
      n.children.foreach(c => walk(c, cp :+ c.id))
    }
    walk(root, Vector.empty)
    Written(callpaths.toMap, all.collect { case n if (n ne root) && n.children.nonEmpty => n.id }.sorted.toSeq)
  }
}

/** `ProfileLoad.load` on generated profiles, with no reference fixture: the loaded,
  * materialized frame equals the hand-composed lazy pipeline of the public pieces,
  * operators give the same results on both, the loaded frame is one pinned leaf that
  * cheap operators read in one job, and a zero ratio base fails inside `load`.
  */
class ProfileLoadSpec extends AnyFunSuite {

  private val dir = Files.createTempDirectory("graft-profileload")
  private val Nodes = 3000
  private val Seed = 11L
  private def generated(name: String, zeroDivisorAt: Set[Long] = Set.empty,
      zeroBaseAt: Set[Long] = Set.empty): (String, ExperimentXmlWriter.Written) = {
    val p = dir.resolve(s"$name.xml")
    p.toString -> ExperimentXmlWriter.write(p, Nodes, Seed, zeroDivisorAt, zeroBaseAt)
  }

  private lazy val (path, written) = generated("profile")
  private lazy val loaded = ProfileLoad.load(spark, path)
  /** The lazy pipeline of the public pieces: the oracle for the materialized load. */
  private lazy val composed: ProfileFrame = {
    val parsed = XmlReader.parse(path)
    val m = parsed.meta
    val raw = ProfileLoad.rawFrame(spark, m, parsed.rows)
    ProfileFrame(ProfileLoad.addRatioColumns(ProfileLoad.rootFix(ProfileLoad.applyFormulas(raw, m)),
      m.percentageColumn), m)
  }
  private val base = "CPUTIME (usec):Mean (I)"
  private val stddev = "CPUTIME (usec):StdDev (I)"

  private object Plans extends AdaptiveSparkPlanHelper

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  /** Equal rows, doubles to 1e-12 relative: window sums may add in another order. */
  private def assertClose(got: Seq[Row], want: Seq[Row], what: String): Unit = {
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
      case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
      case (x: collection.Seq[_], y: collection.Seq[_]) => x.length == y.length && x.zip(y).forall(t => close(t._1, t._2))
      case _ => a == b
    }
    assert(got.length === want.length, s"$what: row count")
    got.zip(want).foreach { case (g, w) => assert(close(g, w), s"$what: $g != $w") }
  }

  test("generated profile: load equals the composed pieces row for row") {
    assert(loaded.meta === composed.meta)
    assert(loaded.meta.percentageColumn === base)
    assert(loaded.df.schema === composed.df.schema)
    val got = rows(loaded.df)
    assert(got.length === written.callpaths.size)
    assert(got.map(_.getAs[Long]("id")).toSet === written.callpaths.keySet)
    assert(got === rows(composed.df))
    // the complex StdDev path and the second family's nulls are exercised
    assert(got.exists(r => r.getAs[Row](stddev) != null && r.getAs[Row](stddev).getDouble(1) != 0.0))
    assert(got.exists(r => r.isNullAt(r.fieldIndex("PAPI_TOT_CYC:Sum (I)"))))
  }

  test("generated profile: operators give the same results on the loaded and composed frames") {
    val hot = rows(loaded.hotPath(threshold = 0.01).df)
    assert(hot.length > 3)
    assertClose(hot, rows(composed.hotPath(threshold = 0.01).df), "hotPath(0.01)")
    assertClose(rows(loaded.flameGeometry()), rows(composed.flameGeometry()), "flameGeometry")
    for (b <- Seq("CPUTIME (usec):Sum (I)", "PAPI_TOT_CYC:Sum (E)"); m <- Seq("total", "parent"))
      assertClose(rows(loaded.addRatioColumn(b, m).df), rows(composed.addRatioColumn(b, m).df),
        s"addRatioColumn($b, $m)")
  }

  test("loaded frame is one pinned leaf; compact, atPaths and atDepths run one job, no exchange") {
    val plan = loaded.df.queryExecution.logical
    assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty, plan.treeString)
    val sc = spark.sparkContext
    val inner = written.innerIds(written.innerIds.length / 2)
    val ops = Seq(
      "compact" -> loaded.compact,
      "atPaths" -> loaded.atPaths(prefix = written.callpaths(inner)),
      "atDepths" -> loaded.atDepths(Some(3), Some(6)))
    for ((name, pf) <- ops) {
      val group = s"profileload-spec-$name"
      sc.setJobGroup(group, name)
      val n = try pf.df.collect().length finally sc.clearJobGroup()
      assert(n > 0, name)
      graft.StageMetrics.drain(spark)
      assert(sc.statusTracker.getJobIdsForGroup(group).length === 1, s"$name: jobs")
      val exchanges = Plans.collect(pf.df.queryExecution.executedPlan) { case e: Exchange => e }
      assert(exchanges.isEmpty, s"$name: ${pf.df.queryExecution.executedPlan}")
    }
  }

  private def withAnsi[T](on: Boolean = true)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, prev)
  }

  test("a 0-valued root ratio base fails inside load, naming the file") {
    val (p, _) = generated("zero-root", zeroBaseAt = Set(Model.RootId))
    val e = withAnsi()(intercept[ArithmeticException](ProfileLoad.load(spark, p)))
    assert(e.getMessage.contains(p) && e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
    // with ANSI mode off the ratio is null instead
    val lenient = withAnsi(on = false)(ProfileLoad.load(spark, p))
    assert(lenient.df.filter(lenient.df(s"`$base ratio of total`").isNotNull).count() === 0)
  }

  test("a 0-valued parent ratio base fails inside load, naming the file") {
    val inner = written.innerIds.last
    val (p, _) = generated("zero-parent", zeroBaseAt = Set(inner))
    val e = withAnsi()(intercept[ArithmeticException](ProfileLoad.load(spark, p)))
    assert(e.getMessage.contains(p) && e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
  }

  test("a 0 finalize-formula divisor loads; the derived value and its ratios are null") {
    val inner = written.innerIds.last
    val (p, w) = generated("zero-divisor", zeroDivisorAt = Set(inner))
    val pf = withAnsi()(ProfileLoad.load(spark, p))
    val byId = rows(pf.df).map(r => r.getAs[Long]("id") -> r).toMap
    val row = byId(inner)
    assert(row.isNullAt(row.fieldIndex(base)))
    assert(row.isNullAt(row.fieldIndex(s"$base ratio of total")))
    assert(row.getAs[Row](stddev) != null)
    val child = w.callpaths.collectFirst { case (id, cp) if cp.length > 1 && cp(cp.length - 2) == inner => id }.get
    assert(byId(child).isNullAt(byId(child).fieldIndex(s"$base ratio of parent")))
  }
}
