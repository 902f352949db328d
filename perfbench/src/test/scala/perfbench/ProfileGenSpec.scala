package perfbench

import java.nio.file.{Files, Path}
import javax.xml.parsers.DocumentBuilderFactory
import org.scalatest.funsuite.AnyFunSuite
import org.w3c.dom.Element

/** The generator's expected values, re-derived from the XML it wrote with a plain DOM
  * parse (no engine code), so the benchmark's correctness check rests on inputs whose
  * answers are known independently of the program under test.
  */
class ProfileGenSpec extends AnyFunSuite {
  import ProfileGenSpec.Row
  private val dir: Path = Files.createDirectories(java.nio.file.Paths.get("target", "profilegen-spec"))

  private def gen(seed: Long, spec: ProfileGen.Spec = ProfileGen.Spec("CPUTIME (usec)", 1500, ProfileGen.Shape1)) = {
    val p = dir.resolve(s"p$seed-${spec.family.hashCode}.xml")
    (p, ProfileGen.write(spec, seed, p))
  }

  private def rows(p: Path): Seq[Row] = {
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder().parse(p.toFile)
    val data = doc.getElementsByTagName("SecCallPathProfileData").item(0).asInstanceOf[Element]
    def metrics(e: Element): Map[Int, Double] = children(e).filter(_.getTagName == "M")
      .map(m => m.getAttribute("n").toInt -> m.getAttribute("v").toDouble).toMap
    def children(e: Element): Seq[Element] = {
      val ns = e.getChildNodes
      (0 until ns.getLength).map(ns.item).collect { case c: Element => c }
    }
    val out = Seq.newBuilder[Row]
    out += Row(-1L, -2L, 0, metrics(data))
    def walk(e: Element, parent: Long, depth: Int): Unit =
      children(e).filter(_.getTagName != "M").foreach { c =>
        if (c.getTagName == "C") walk(c, parent, depth)
        else {
          val id = c.getAttribute("i").toLong
          out += Row(id, parent, depth + 1, metrics(c))
          walk(c, id, depth + 1)
        }
      }
    walk(data, -1L, 0)
    out.result()
  }

  test("the same seed writes the same bytes, another seed other bytes") {
    val (a, _) = gen(7)
    val b = dir.resolve("again.xml")
    ProfileGen.write(ProfileGen.Spec("CPUTIME (usec)", 1500, ProfileGen.Shape1), 7, b)
    assert(Files.readAllBytes(a).sameElements(Files.readAllBytes(b)))
    val (c, _) = gen(8)
    assert(!Files.readAllBytes(a).sameElements(Files.readAllBytes(c)))
  }

  test("row count, callsites and depth histogram match the written tree") {
    val (p, e) = gen(11)
    val rs = rows(p)
    val xml = new String(Files.readAllBytes(p), "UTF-8")
    assert(rs.length == e.rows)
    assert("<C i=".r.findAllMatchIn(xml).size == e.xmlNodes - (e.rows - 1))
    assert(e.xmlNodes > e.rows, "callsites are interleaved")
    assert(rs.groupBy(_.depth).map { case (d, v) => d -> v.length } == e.depthHistogram)
    assert(e.depthHistogram.keys.max == 25)
    val peak = e.depthHistogram.maxBy(_._2)._1
    assert(peak >= 14 && peak <= 16, s"peak depth $peak")
  }

  test("fixture-scale shapes: experiment1 about 3.5k rows, experiment2 about 2.9k rows to depth 22") {
    val (_, e1) = gen(1, ProfileGen.Spec("CPUTIME (usec)", 3454, ProfileGen.Shape1))
    val (_, e2) = gen(2, ProfileGen.Spec("PAPI_MEM_WCY", 2854, ProfileGen.Shape2))
    assert(math.abs(e1.rows - 3454) < 40 && math.abs(e2.rows - 2854) < 40)
    assert(e2.depthHistogram.keys.max == 22)
    assert(e2.percentageColumn == "PAPI_MEM_WCY:Mean (I)")
  }

  test("inclusive metrics are consistent: parent (I) >= sum of child (I)") {
    val (p, _) = gen(12)
    val rs = rows(p)
    val childSum = rs.filter(_.id != -1L).groupBy(_.parent).map { case (k, v) => k -> v.map(_.metrics(2)).sum }
    for (r <- rs; s <- childSum.get(r.id)) assert(r.metrics(2) >= s, s"node ${r.id}")
    // the root's inclusive value is exactly its children's: it has no cost of its own
    assert(rs.head.metrics(2) == childSum(-1L))
  }

  test("hot path, formula values and flame geometry follow from the written values") {
    val (p, e) = gen(13)
    val rs = rows(p)
    val byId = rs.map(r => r.id -> r).toMap
    val kids = rs.filter(_.id != -1L).groupBy(_.parent)
    def mean(r: Row) = r.metrics(3) / r.metrics(4) // finalize formula $3 / $4
    val rootMean = mean(byId(-1L))
    for ((t, want) <- e.hotPath) {
      val path = Iterator.iterate(Option(byId(-1L))) { cur =>
        cur.flatMap(c => kids.get(c.id)).map(_.maxBy(k => (mean(k), -k.id))).filter(k => mean(k) / rootMean >= t)
      }.takeWhile(_.isDefined).map(_.get.id).toSeq
      assert(path == want, s"threshold $t")
    }
    assert(e.hotPath(0.01).length > e.hotPath(0.05).length)
    for ((id, m) <- e.meanI) assert(math.abs(mean(byId(id)) - m) <= 1e-9 * m)
    for ((id, (re, im)) <- e.stddevI) {
      val ms = byId(id).metrics
      val x = ms(6) / ms(7) - math.pow(ms(5) / ms(7), 2) // sqrt(($6 / $7) - pow($5 / $7, 2))
      val (wre, wim) = if (x >= 0) (math.sqrt(x), 0.0) else (0.0, math.sqrt(-x))
      assert(math.abs(re - wre) <= 1e-9 * math.max(1.0, wre) && math.abs(im - wim) <= 1e-9 * math.max(1.0, wim))
    }
    // flame: children in id order tile the parent's interval; recompute and compare sums
    val geo = scala.collection.mutable.Map(-1L -> (0.0, 2 * math.Pi))
    for (r <- rs.sortBy(_.depth); ks <- kids.get(r.id)) {
      val (x0, w) = geo(r.id)
      val total = ks.map(_.metrics(2)).sum
      ks.sortBy(_.id).foldLeft(x0) { (x, k) => val kw = w * k.metrics(2) / total; geo(k.id) = (x, kw); x + kw }
    }
    val nonRoot = geo - -1L
    assert(math.abs(nonRoot.values.map(_._1).sum - e.flameX0Sum) <= 1e-9 * e.flameX0Sum)
    assert(math.abs(nonRoot.values.map(_._2).sum - e.flameWidthSum) <= 1e-9 * e.flameWidthSum)
    for ((id, w) <- e.flameWidth) assert(math.abs(geo(id)._2 - w) <= 1e-12)
  }
}

object ProfileGenSpec {
  /** A loaded row as the reference defines it: callsites skipped, depth = path length. */
  final case class Row(id: Long, parent: Long, depth: Int, metrics: Map[Int, Double])
}
