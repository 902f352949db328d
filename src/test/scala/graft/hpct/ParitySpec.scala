package graft.hpct

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}
import graft.SparkTestBase.spark

/** Reference-parity end-to-end tests over the two HPCToolkit fixture XMLs, checked
  * against golden outputs computed by RUNNING THE REFERENCE (committed at
  * src/test/resources/golden/). Ports the reference's behavioral suite
  * (/root/reference/test/test_hpctoolkit_dataframe.py:34-60) and adds the full-frame
  * golden compare + SURVEY §5 invariants the reference never had. The equivalence
  * tests of the one-plan operators against their driver-loop baselines
  * ([[IterativeOps]]) also run on a seeded synthetic tree, so they need no fixture.
  */
class ParitySpec extends AnyFunSuite {

  private val fixtureDir = "/root/reference/test/data"
  private def fixture(n: Int) = s"$fixtureDir/experiment$n.xml"
  private def hasFixtures = new File(fixture(1)).exists()

  private lazy val pf1 = ProfileLoad.load(spark, fixture(1))
  private lazy val pf2 = ProfileLoad.load(spark, fixture(2))

  /** A seeded synthetic profile, so the equivalence tests also run without the
    * fixtures: a few thousand nodes, 14 levels deep. Each inner node passes most of
    * its value to one dominant child, so the greedy descent goes deep before a
    * child drops below the threshold; in about a third of the sibling groups the
    * two largest children are exactly equal, and ids are drawn from a shuffled
    * pool, so the lower id must break the tie wherever it falls. `callpath` holds
    * the ancestor ids, as a loaded profile's does.
    */
  private lazy val seeded: ProfileFrame = {
    val rng = new scala.util.Random(20240611L)
    val maxDepth = 14
    val maxNodes = 6000
    val ids = rng.shuffle((1L to maxNodes).toVector).iterator
    val rows = scala.collection.mutable.ArrayBuffer(
      Row(Model.RootId, Seq.empty[Long], 1.0, 1.0, "root"))
    var frontier = Vector((Seq.empty[Long], 1.0))
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { case (path, v) =>
        val k =
          if (path.length >= maxDepth) 0
          else if (path.length < 3) 4 + rng.nextInt(3)
          else if (v > 1e-4) 1 + rng.nextInt(3)
          else rng.nextInt(2)
        val shares: Seq[Double] =
          if (k == 0) Nil
          else if (k >= 2 && rng.nextDouble() < 0.35) Seq(0.45, 0.45) ++ Seq.fill(k - 2)(0.1 / k)
          else {
            val top = 0.55 + 0.4 * rng.nextDouble()
            top +: Seq.fill(k - 1)((1 - top) * rng.nextDouble() / k)
          }
        shares.flatMap { r =>
          if (!ids.hasNext) None
          else {
            val id = ids.next()
            rows += Row(id, path :+ id, v * r, r, s"p$id")
            Some((path :+ id, v * r))
          }
        }
      }
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("callpath", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("v ratio of total", DoubleType),
      StructField("v ratio of parent", DoubleType),
      StructField("procedure", StringType)))
    val meta = ProfileMeta("seeded-tree", Seq(0 -> "v"), Map.empty, Map.empty, Map.empty,
      Map.empty, percentageColumn = "v", hotPathColumn = "v ratio of total",
      compactColumns = Seq("procedure", "id"))
    ProfileFrame(spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), schema), meta)
  }

  private def goldenPath(name: String): String =
    getClass.getResource(s"/golden/$name").getPath

  /** Golden CSV (reference dump): rowid + columns in reference order, complex columns
    * split into `name#re` / `name#im`.
    */
  private def loadGolden(name: String): (Seq[String], Map[Long, Map[String, String]]) = {
    val df = spark.read.option("header", "true").csv(goldenPath(name))
    val cols = df.columns.toSeq
    val rows = df.collect().map { r =>
      val m = cols.zipWithIndex.map { case (c, i) => c -> r.getString(i) }.toMap
      m("rowid").toLong -> m
    }.toMap
    (cols, rows)
  }

  private def relEq(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def hotIds(pf: ProfileFrame): Array[Long] =
    pf.df.select("id").collect().map(_.getLong(0)).sorted

  /** [[Ops.hotPath]] from the root equals the driver loop at two thresholds. */
  private def assertHotPathAgreesFromRoot(pf: ProfileFrame): Unit =
    for (th <- Seq(0.05, 0.01)) {
      val loop = hotIds(IterativeOps.hotPathIterative(pf, threshold = th))
      assert(hotIds(Ops.hotPath(pf, threshold = th)) === loop, s"${pf.meta.dbPath} th=$th")
    }

  /** [[Ops.hotPath]] from a mid-path start (the depth-2 node of the root-start hot
    * path) equals the driver loop at three thresholds.
    */
  private def assertHotPathAgreesFromPrefix(pf: ProfileFrame): Unit = {
    val start = IterativeOps.hotPathIterative(pf).df
      .filter(size(col("callpath")) === 2)
      .select("callpath").head().getSeq[Long](0).toSeq
    // 2.0 is above every value: the path is the start alone
    for (th <- Seq(0.05, 0.01, 2.0)) {
      val loop = hotIds(IterativeOps.hotPathIterative(pf, callpath = start, threshold = th))
      assert(hotIds(Ops.hotPath(pf, callpath = start, threshold = th)) === loop,
        s"${pf.meta.dbPath} start=$start th=$th")
    }
  }

  /** [[Ops.flameGeometry]] equals the layer-join loop, over the whole tree and over
    * the depth window 3..6 (which hits both the global-group and per-parent
    * normalization paths).
    */
  private def assertFlameAgrees(pf: ProfileFrame): Unit = {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "depth", "x0", "width", "labeled")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    val key = pf.meta.dbPath
    val loop = canon(IterativeOps.flameGeometryIterative(pf))
    val oneShot = canon(Ops.flameGeometry(pf))
    assert(oneShot.keySet === loop.keySet, s"$key: node/layer set differs")
    oneShot.foreach { case (k, (x, w, l)) =>
      val (lx, lw, ll) = loop(k)
      // the unrolled product re-associates the float multiplies; 1e-9 relative
      assert(relEq(x, lx) && relEq(w, lw) && l === ll,
        s"$key $k: one-shot ($x,$w,$l) vs loop ($lx,$lw,$ll)")
    }
    val loopW = canon(IterativeOps.flameGeometryIterative(pf, minDepth = Some(3), maxDepth = Some(6)))
    val oneW = canon(Ops.flameGeometry(pf, minDepth = Some(3), maxDepth = Some(6)))
    assert(oneW.keySet === loopW.keySet, s"$key: bounded node/layer set differs")
    oneW.foreach { case (k, (x, w, _)) =>
      val (lx, lw, _) = loopW(k)
      assert(relEq(x, lx) && relEq(w, lw), s"$key bounded $k")
    }
  }

  /** Full-frame compare of a loaded ProfileFrame against its reference dump. */
  private def assertMatchesGolden(pf: ProfileFrame, goldenName: String): Unit = {
    val (gCols, golden) = loadGolden(goldenName)
    // expected column order = golden order with rowid dropped and #re/#im merged
    val expectedCols = gCols.drop(1).map(_.stripSuffix("#re").stripSuffix("#im")).distinct
    assert(pf.df.columns.toSeq === expectedCols, "column order mismatch vs reference")

    val schema: StructType = pf.df.schema
    val rows = pf.df.collect()
    assert(rows.length === golden.size, "row count mismatch vs reference")

    var checkedCells = 0L
    rows.foreach { row =>
      val id = row.getLong(schema.fieldIndex("id"))
      val g = golden.getOrElse(id, fail(s"row id=$id missing from golden"))
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        def gs(c: String): Option[String] = g.get(c).flatMap(Option(_))
        f.dataType.typeName match {
          case "struct" => // complex metric: golden name#re / name#im
            val gre = gs(f.name + "#re").map(_.toDouble)
            if (row.isNullAt(i)) {
              // our null complex == golden complex-NaN (reference cmath on NaN input)
              assert(gre.forall(_.isNaN), s"id=$id ${f.name}: null vs golden ${gre}")
            } else {
              val st = row.getStruct(i)
              assert(gre.isDefined && relEq(st.getDouble(0), gre.get),
                s"id=$id ${f.name}#re: ${st.getDouble(0)} vs ${gre}")
              val gim = gs(f.name + "#im").map(_.toDouble)
              assert(gim.isDefined && relEq(st.getDouble(1), gim.get),
                s"id=$id ${f.name}#im: ${st.getDouble(1)} vs ${gim}")
            }
          case "double" =>
            val gv = gs(f.name).map(_.toDouble)
            if (row.isNullAt(i)) assert(gv.isEmpty || gv.exists(_.isNaN),
              s"id=$id ${f.name}: null vs golden $gv")
            else assert(gv.isDefined && relEq(row.getDouble(i), gv.get),
              s"id=$id ${f.name}: ${row.getDouble(i)} vs $gv")
          case "long" =>
            assert(gs(f.name).exists(_.toDouble.toLong == row.getLong(i)),
              s"id=$id ${f.name}: ${row.getLong(i)} vs ${gs(f.name)}")
          case "array" =>
            val ours = row.getSeq[Long](i).mkString(",")
            assert(gs(f.name).getOrElse("") === ours, s"id=$id ${f.name}: $ours vs ${gs(f.name)}")
          case "string" =>
            val ours = if (row.isNullAt(i)) None else Some(row.getString(i))
            assert(gs(f.name) === ours, s"id=$id ${f.name}: $ours vs ${gs(f.name)}")
          case other => fail(s"unhandled dtype $other for ${f.name}")
        }
        checkedCells += 1
      }
    }
    info(s"$goldenName: ${rows.length} rows x ${schema.size} cols = $checkedCells cells compared")
  }

  test("experiment1 loads to the exact reference frame (3454 x 33)") {
    assume(hasFixtures)
    assert(pf1.df.columns.length === 33)
    assertMatchesGolden(pf1, "golden_experiment1.csv")
  }

  test("experiment2 loads to the exact reference frame (2854 x 33, fallback pct base)") {
    assume(hasFixtures)
    assert(pf2.df.columns.length === 33)
    assert(pf2.meta.percentageColumn === "PAPI_MEM_WCY:Mean (I)") // A7 fallback path
    assertMatchesGolden(pf2, "golden_experiment2.csv")
  }

  test("hot_path reproduces the reference id chains") {
    assume(hasFixtures)
    val hot1 = Ops.hotPath(pf1).df.select("id").collect().map(_.getLong(0)).sorted
    assert(hot1 === Array(-1L, 2, 4, 6, 797, 798, 813, 1456, 1477, 1479, 1512, 1547,
      1548, 1549, 1563, 1679, 1690, 1916).sorted)
    val hot2 = Ops.hotPath(pf2).df.select("id").collect().map(_.getLong(0)).sorted
    assert(hot2 === Array(-1L, 2, 4, 497, 573, 1588, 2029, 2555, 2557, 2880, 2933,
      2935, 2987, 3209, 3211, 3236).sorted)
  }

  /** The seeded tree, plus both fixtures when they are present. */
  private def equivalenceFrames: Seq[ProfileFrame] =
    if (hasFixtures) Seq(seeded, pf1, pf2)
    else { info("fixtures absent: seeded tree only"); Seq(seeded) }

  test("hot path equals the driver loop from the root, two thresholds (seeded tree; fixtures when present)") {
    equivalenceFrames.foreach(assertHotPathAgreesFromRoot)
    // without the root row the descent still starts at the empty callpath
    assertHotPathAgreesFromRoot(Ops.atDepths(seeded, minDepth = Some(1)))
  }

  test("hot path equals the driver loop from a prefix start (seeded tree; fixtures when present)") {
    equivalenceFrames.foreach(assertHotPathAgreesFromPrefix)
  }

  test("seeded tree has the shape the equivalence tests rely on") {
    val df = seeded.df
    val n = df.count()
    val maxDepth = df.agg(max(size(col("callpath")))).head().getInt(0)
    assert(n >= 2000 && n < 6000, s"$n nodes") // below the id cap: not truncated
    assert(maxDepth >= 8)
    // at threshold 0.05 the descent stops at a node whose top child is below it
    val hot = Ops.hotPath(seeded, threshold = 0.05).df
    val leaf = hot.select("callpath").collect().map(_.getSeq[Long](0)).maxBy(_.length)
    val kids = df.filter(size(col("callpath")) === leaf.length + 1 &&
      slice(col("callpath"), 1, leaf.length) === lit(leaf.toArray))
    assert(leaf.length >= 4 && kids.count() > 0)
    assert(kids.agg(max("v ratio of total")).head().getDouble(0) < 0.05)
    // the descent passes a tie: a hot node has an equal-valued sibling with a
    // higher id, so the lower id had to win
    def parent(c: String) = slice(col(c), lit(1), size(col(c)) - 1)
    val h = hot.filter(size(col("callpath")) > 0).select(col("id").as("hid"),
      col("callpath").as("hpath"), col("v ratio of total").as("hv"))
    val tiedSiblings = df.filter(size(col("callpath")) > 0)
      .join(h, parent("callpath") === parent("hpath") &&
        col("v ratio of total") === col("hv") && col("id") > col("hid"))
    assert(tiedSiblings.count() > 0)
    info(s"$n nodes, max depth $maxDepth, hot path (0.05) to depth ${leaf.length}")
  }

  test("hot-path leaf is the reference's leaf") {
    assume(hasFixtures)
    val leaf = Ops.hotPath(pf1).df
      .withColumn("d", size(col("callpath"))).orderBy(desc("d"))
      .select("procedure", "type").head()
    assert(leaf.getString(0) === "hy_datareconstructnormaldir_ppm_")
    assert(leaf.getString(1) === "loop")
  }

  test("metadata propagates through hotPath and compact (reference T.py:40-45)") {
    assume(hasFixtures)
    val hp = pf1.hotPath() // reference-style chained instance API
    assert(hp.meta === pf1.meta)
    val cp = hp.compact
    assert(cp.meta === pf1.meta)
    assert(cp.df.columns.toSeq ===
      Seq(pf1.meta.percentageColumn,
        pf1.meta.percentageColumn + " ratio of total",
        pf1.meta.percentageColumn + " ratio of parent",
        "module", "file", "line", "procedure", "type"))
  }

  test("max_depth=4: depth 4 populated, depth 5 empty (reference T.py:47-52)") {
    assume(hasFixtures)
    val shallow = ProfileLoad.load(spark, fixture(1), maxDepth = Some(4))
    assert(Ops.atDepth(shallow, 4).df.count() > 0)
    assert(Ops.atDepth(shallow, 5).df.count() === 0)
  }

  test("callsite-keeping load works and emits the C rows (reference T.py:54-60)") {
    assume(hasFixtures)
    val withC = ProfileLoad.load(spark, fixture(1), skipCallsites = false)
    // FIXTURES.md: 3453 measured nodes + 563 C nodes + root
    assert(withC.df.count() === 3454 + 563)
    assert(withC.df.filter(col("type") === "callsite").count() === 563)
  }

  test("depth histogram matches the reference (exp1: max depth 25)") {
    assume(hasFixtures)
    val hist = pf1.df.groupBy(size(col("callpath")).as("d")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = Map(0 -> 1L, 1 -> 1L, 4 -> 3L, 10 -> 72L, 15 -> 431L, 20 -> 233L, 25 -> 1L)
    expected.foreach { case (d, n) => assert(hist.get(d).contains(n), s"depth $d") }
    assert(hist.keys.max === 25)
  }

  test("invariants: ratio sums, root ratios, id uniqueness, prefix closure (SURVEY §5)") {
    assume(hasFixtures)
    for ((pf, sumTol) <- Seq((pf1, 1e-9), (pf2, 1e-5))) {
      val rot = pf.meta.percentageColumn + " ratio of total"
      val rop = pf.meta.percentageColumn + " ratio of parent"
      // Σ ratio-of-total over depth-1 rows ≈ 1 (exp2: 0.9999971, keep tolerance)
      val s = pf.df.filter(size(col("callpath")) === 1)
        .agg(sum(col("`" + rot + "`"))).head().getDouble(0)
      assert(math.abs(s - 1.0) < math.max(sumTol, 3e-6), s"sum=$s")
      // root ratios are exactly 1
      val root = pf.df.filter(col("id") === Model.RootId)
        .select(col("`" + rot + "`"), col("`" + rop + "`")).head()
      assert(root.getDouble(0) === 1.0 && root.getDouble(1) === 1.0)
      // id uniqueness
      assert(pf.df.select("id").distinct().count() === pf.df.count())
      // prefix closure: every parent path exists as a row's callpath
      val paths = pf.df.select(col("callpath"))
      val parentsOnly = pf.df.filter(size(col("callpath")) > 0)
        .select(slice(col("callpath"), lit(1), size(col("callpath")) - 1).as("callpath"))
      assert(parentsOnly.except(paths).count() === 0)
    }
  }

  test("flame geometry equals the layer-join loop, full and windowed (seeded tree; fixtures when present)") {
    equivalenceFrames.foreach(assertFlameAgrees)
  }

  test("flame-graph geometry matches the reference layer by layer") {
    assume(hasFixtures)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(new File(goldenPath("golden_flame.json")))
    for ((pf, key) <- Seq((pf1, "experiment1"), (pf2, "experiment2")) if tree.has(key)) {
      val node = tree.get(key)
      assert(pf.meta.percentageColumn + " ratio of parent" === node.get("column").asText())
      val geo = Ops.flameGeometry(pf)
        .select("depth", "x0", "width").collect()
        .groupBy(_.getInt(0))
        .view.mapValues(_.map(r => (r.getDouble(1), r.getDouble(2))).sorted.toSeq).toMap
      val layers = node.get("layers")
      (0 until layers.size()).foreach { li =>
        val layer = layers.get(li)
        val depth = layer.get("y").asDouble().toInt
        val offs = (0 until layer.get("offsets").size()).map(layer.get("offsets").get(_).asDouble())
        val wids = (0 until layer.get("widths").size()).map(layer.get("widths").get(_).asDouble())
        val want = offs.zip(wids).sorted
        val got = geo.getOrElse(depth, fail(s"$key: no layer at depth $depth"))
        assert(got.length === want.length, s"$key depth $depth: node count")
        got.zip(want).foreach { case ((gx, gw), (wx, ww)) =>
          assert(math.abs(gx - wx) < 1e-6 && math.abs(gw - ww) < 1e-6,
            s"$key depth $depth: ($gx,$gw) vs ($wx,$ww)")
        }
      }
      assert(geo.keys.max === layers.get(layers.size() - 1).get("y").asDouble().toInt,
        s"$key: extra layers beyond the reference's")
    }
  }
}
