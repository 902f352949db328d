package graft.hpct

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Assembles a [[ProfileFrame]] from an HPCToolkit experiment XML: parsed rows ->
  * DataFrame with an explicit StructType -> finalize-formula projection -> root
  * fix-up -> ratio columns. The Spark analog of the reference constructor
  * (hpctoolkit_dataframe.py:154-216) plus `_fix_root_measurement` (ibid:291-305) and
  * `_add_percentage_columns` (ibid:331-385).
  *
  * Complex-valued metrics (StdDev/CfVar, whose formulas contain `sqrt` of a possibly
  * negative variance — the reference uses `cmath.sqrt`, ibid:3) are represented as
  * `struct<re: double, im: double>` columns; everything else is `double`. Ratio and
  * hot-path columns only ever touch real metrics (SURVEY §7.4.1).
  *
  * Division by zero diverges from the reference. A finalize formula with a 0 divisor
  * yields null (the Formulas zero-divisor policy). A ratio column whose base is 0 at
  * the root (ratio of total) or at a parent (ratio of parent) raises under Spark's
  * default ANSI mode, where pandas gives inf/NaN; [[load]] raises it as an
  * `ArithmeticException` naming the experiment file. With ANSI mode off the ratio is
  * null.
  */
object ProfileLoad {

  private val RootFixPattern = "(.+:.+) \\(E\\)".r

  /** Driver-side single-file load (parity path; fixture files are ~12k lines).
    * The returned frame is materialized once, like the reference constructor's eager
    * percentage columns (HD.py:211): every operator on it reads the pinned rows
    * instead of re-running parse, formulas, root fix and ratio joins. The operators
    * themselves stay lazy. For many files use [[loadMany]], which parses on executors
    * and returns a lazy frame.
    */
  def load(spark: SparkSession, path: String, maxDepth: Option[Int] = None,
      skipCallsites: Boolean = true): ProfileFrame = {
    val parsed = XmlReader.parse(path, maxDepth, skipCallsites)
    val raw = rawFrame(spark, parsed.meta, parsed.rows)
    finishLoad(raw, parsed.meta)
  }

  /** Distributed multi-file load: headers parse on the driver (cheap, stops before
    * the tree) to fix the union schema, whole-file parsing runs in executor tasks
    * (one file per task — the reference's per-file unit of work, SURVEY A1), and the
    * per-file frames merge by name (metric columns differ across files). The `db`
    * column keys every per-file computation (root fix, ratios partition by it).
    */
  def loadMany(spark: SparkSession, paths: Seq[String], maxDepth: Option[Int] = None,
      skipCallsites: Boolean = true): MultiProfileFrame = {
    val metas = paths.map(XmlReader.parseHeader)
    // union metric columns: first-appearance order across files
    val metricNames = metas.flatMap(_.metricNames).distinct
    val schema = StructType(
      StructField("db", StringType, nullable = false) +:
        metricNames.map(StructField(_, DoubleType, nullable = true)) ++:
        locationFields)
    val slotOf = metricNames.zipWithIndex.toMap
    val fileMetricNames: Map[String, Seq[String]] =
      paths.zip(metas).map { case (p, m) => p -> m.metricNames }.toMap
    val bc = spark.sparkContext.broadcast((fileMetricNames, slotOf, metricNames.length, maxDepth, skipCallsites))
    val rdd = spark.sparkContext.parallelize(paths, paths.length).flatMap { p =>
      val (names, slots, width, md, sc) = bc.value
      val fileNames = names(p)
      XmlReader.parse(p, md, sc).rows.iterator.map { r =>
        val vals = new Array[Any](width)
        var i = 0
        while (i < fileNames.length) {
          vals(slots(fileNames(i))) = r.metrics(i)
          i += 1
        }
        Row.fromSeq(p +: vals.toSeq :++ locationValues(r))
      }
    }
    var df = spark.createDataFrame(rdd, schema)
    // per-file formulas: each derived column is guarded by its own raw metric being
    // present, so rows from files without that metric stay null. A metric name shared
    // by several files keeps the first file's formula (they agree in practice — the
    // fixtures have disjoint metric families).
    val done = scala.collection.mutable.Set.empty[String]
    for (meta <- metas) {
      val fresh = meta.copy(metricsFormulas =
        meta.metricsFormulas.view.filterKeys(!done.contains(_)).toMap)
      done ++= meta.metricsFormulas.keys
      df = applyFormulas(df, fresh)
    }
    // Root fix is row-local (a conditional column rewrite at id = -1), so it needs no
    // db partitioning; the ratio columns DO — each file's rows divide by their own
    // file's root / parent values, exactly as a single-file load would. ALL distinct
    // percentage bases go through ONE multi-base pass: the per-base loop stacked one
    // root join + one parent join per base, and at 64 files with 16 disjoint metric
    // families (16 bases × a ~420-column union frame) the 32-join plan OOM'd an 8g
    // driver in the optimizer (round-11 loadmany measurement); a study whose runs
    // carry k metric families should pay 2 joins, not 2k.
    val baseByDb: Seq[(String, String)] = paths.zip(metas).map { case (p, m) => p -> m.percentageColumn }
    val bases = baseByDb.map(_._2).distinct.map(base =>
      base -> baseByDb.collect { case (p, b) if b == base => p }.toSet)
    val out = addRatioColumnsPerDbMulti(rootFix(df), bases)
    MultiProfileFrame(out, paths.zip(metas).toMap)
  }

  // ------------------------------------------------------------------ pieces

  private def locationFields: Seq[StructField] = Seq(
    StructField("callpath", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("module path", StringType, nullable = true),
    StructField("module", StringType, nullable = true),
    StructField("file path", StringType, nullable = true),
    StructField("file", StringType, nullable = true),
    StructField("line", LongType, nullable = false),
    StructField("procedure", StringType, nullable = true),
    StructField("id", LongType, nullable = false),
    StructField("type", StringType, nullable = false))

  private def locationValues(r: XmlReader.NodeRow): Seq[Any] = Seq(
    r.callpath.toSeq, r.modulePath, r.module, r.filePath, r.file, r.line, r.procedure,
    r.id, r.nodeType)

  /** Raw (pre-formula) DataFrame: metric columns in ascending-id order, all double.
    * Built over an RDD, NOT a LocalRelation: `createDataFrame(list)` would let
    * `ConvertToLocalRelation` evaluate the whole formula/ratio plan with interpreted
    * projections on the driver (observed OOM on the exp1 fixture); the RDD path keeps
    * execution in whole-stage codegen on executors — the same plan shape a many-file
    * distributed load has. The frame is lazy; [[load]] runs its plan once, at the
    * checkpoint in [[finishLoad]].
    */
  def rawFrame(spark: SparkSession, meta: ProfileMeta,
      rows: IndexedSeq[XmlReader.NodeRow]): DataFrame = {
    val schema = StructType(
      meta.metricNames.map(StructField(_, DoubleType, nullable = true)) ++ locationFields)
    val data = rows.map(r => Row.fromSeq(r.metrics.toSeq ++ locationValues(r)))
    val slices = math.min(math.max(1, rows.length / 2048), 32)
    spark.createDataFrame(spark.sparkContext.parallelize(data, slices), schema)
  }

  /** One whole-stage-codegen'd projection replacing each derived metric with its
    * compiled finalize formula (reference `_evaluate_measurements_data`,
    * HD.py:218-231). Formulas read RAW metric values (the reference passes the raw
    * `data` dict to every formula), and a derived value exists only where the raw
    * metric itself was measured — hence the isNotNull guard.
    */
  def applyFormulas(df: DataFrame, meta: ProfileMeta): DataFrame = {
    val byId: Map[Int, String] = meta.metricsById.map { case (i, n) => i -> n }.toMap
    val cols = df.columns.map { c =>
      meta.metricsFormulas.get(c) match {
        case Some(src) if df.schema(c).dataType == DoubleType =>
          val ast = Formulas.parse(src)
          val cx = Formulas.compile(ast, n => col(byId(n)))
          val guarded =
            if (Formulas.canGoComplex(ast))
              when(col(c).isNotNull,
                struct(cx.re.as("re"), cx.im.getOrElse(lit(0.0)).as("im")))
            else
              when(col(c).isNotNull, cx.re)
          guarded.as(c)
        case _ => col(c)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Root fix-up (reference HD.py:291-305): at the root row, every `"X (E)"` metric
    * with an `"X (I)"` partner takes the partner's value (the root's own exclusive
    * measurements are incomplete and overwritten).
    */
  def rootFix(df: DataFrame): DataFrame = {
    val columns = df.columns.toSet
    val cols = df.columns.map { c =>
      c match {
        case RootFixPattern(prefix) if columns.contains(s"$prefix (I)") =>
          when(col("id") === Model.RootId, col(s"$prefix (I)")).otherwise(col(c)).as(c)
        case _ => col(c)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Ratio columns for the percentage base (reference HD.py:331-385): ratio-of-total
    * (value / root value, a broadcast one-row cross join — never a collect) and
    * ratio-of-parent (self equi-join child.parent_path = parent.callpath). Column
    * order matches the reference's double insert: base, parent, total.
    */
  def addRatioColumns(df: DataFrame, base: String): DataFrame = {
    val totalName = s"$base ratio of total"
    val parentName = s"$base ratio of parent"
    val rootRow = df.filter(col("id") === Model.RootId).select(col(base).as("__root_total"))
    val parents = df.select(col("callpath").as("__ppath"), col(base).as("__pval"))
    val joined = df
      .crossJoin(broadcast(rootRow))
      .withColumn("__ppath", slice(col("callpath"), lit(1), greatest(size(col("callpath")) - 1, lit(0))))
      .join(parents, Seq("__ppath"), "left")
      .withColumn(totalName, col(base) / col("__root_total"))
      .withColumn(parentName, col(base) / col("__pval"))
      .drop("__root_total", "__pval", "__ppath")
    // reinsert in reference order: ..., base, parent, total, ...
    val ordered = df.columns.flatMap {
      case c if c == base => Seq(c, parentName, totalName)
      case c => Seq(c)
    }
    joined.select(ordered.map(col).toSeq: _*)
  }

  /** Per-db variant of [[addRatioColumns]] for [[loadMany]]: the root scalar becomes a
    * broadcast (db -> root value) join — one row per file — and the parent self-join
    * keys on (db, parent path), so no cross-file contamination. `dbs` restricts the
    * ratios to the files whose percentage base is `base`; other files' rows get null
    * (their base column is null there anyway under the union schema).
    */
  def addRatioColumnsPerDb(df: DataFrame, base: String, dbs: Set[String]): DataFrame =
    addRatioColumnsPerDbMulti(df, Seq(base -> dbs))

  /** One-pass, many-base form of [[addRatioColumnsPerDb]]: every percentage
    * base's ratio-of-total and ratio-of-parent columns from a SINGLE broadcast
    * root join (one row per db, all bases' root values as columns) plus a
    * SINGLE parent self-join on (db, parent path) carrying all bases' values.
    * The per-base form stacks 2 joins per base over the full union frame —
    * quadratic work in the number of metric families once the frame's width
    * itself grows with the family count; at 16 families × ~420 columns the
    * optimizer OOM'd an 8g driver (round-11 loadmany scale point). Out-of-scope
    * dbs (files whose percentage base is a DIFFERENT name, yet share this
    * base's metric name) stay null via the explicit scope mask, exactly as the
    * per-base form's filtered join sides left them.
    */
  def addRatioColumnsPerDbMulti(df: DataFrame, bases: Seq[(String, Set[String])]): DataFrame = {
    if (bases.isEmpty) return df
    require(bases.map(_._1).distinct.length == bases.length,
      s"duplicate percentage bases: ${bases.map(_._1).mkString(", ")}")
    def q(c: String) = col(s"`$c`")
    val roots = df.filter(col("id") === Model.RootId)
      .select(col("db") +: bases.zipWithIndex.map { case ((b, _), i) =>
        q(b).as(s"__root_$i") }: _*)
    val parents = df
      .select(col("db") +: col("callpath").as("__ppath") +:
        bases.zipWithIndex.map { case ((b, _), i) => q(b).as(s"__pval_$i") }: _*)
    val joined = df
      .join(broadcast(roots), Seq("db"), "left")
      .withColumn("__ppath", slice(col("callpath"), lit(1), greatest(size(col("callpath")) - 1, lit(0))))
      .join(parents, Seq("db", "__ppath"), "left")
    val newCols: Map[String, Seq[Column]] = bases.zipWithIndex.map { case ((b, dbs), i) =>
      val inScope = col("db").isin(dbs.toSeq: _*)
      b -> Seq(
        when(inScope, q(b) / q(s"__pval_$i")).as(s"$b ratio of parent"),
        when(inScope, q(b) / q(s"__root_$i")).as(s"$b ratio of total"))
    }.toMap
    val ordered: Seq[Column] = df.columns.toSeq.flatMap {
      case c if newCols.contains(c) => q(c) +: newCols(c)
      case c => Seq(q(c))
    }
    joined.select(ordered: _*)
  }

  /** Public single-ratio column (reference `add_ratio_column`, HD.py:340-385): add
    * `base / root_value` (`method = "total"`) or `base / ancestor_value`
    * (`method = "parent"`) for ANY double metric column, inserted immediately after
    * `base` (the reference's `insert(idx+1, ...)`, HD.py:354, 385). The load-time
    * percentage columns use the same machinery for the auto-resolved base; this is
    * the user-facing form for analyzing any other metric.
    *
    * `method = "parent"` carries the reference's exact walk-up semantics (divisor =
    * deepest proper ancestor whose value >= the node's own; root maps to itself) —
    * for an arbitrary user metric (e.g. an exclusive one) a parent can be smaller
    * than its child, where the walk-up and the direct parent genuinely differ.
    * `method = "parent_direct"` is the plain parent self-join — fixture-proven equal
    * for inclusive metrics and one join cheaper.
    *
    * Single-profile frames only (exactly one root row, enforced for "total"):
    * loadMany-merged multi-db frames must use [[addRatioColumnsPerDb]], which keys
    * every join by `db`.
    */
  def addRatioColumn(df: DataFrame, base: String, method: String = "total",
      name: Option[String] = None): DataFrame = {
    require(df.columns.contains(base), s"missing base column $base")
    require(df.schema(base).dataType == DoubleType,
      s"ratio base must be a double metric column, got ${df.schema(base).dataType} " +
        "(complex struct metrics are out of ratio scope, SURVEY §7.4.1)")
    val colName = name.getOrElse(s"$base ratio of ${method.stripSuffix("_direct")}")
    val withCol = method match {
      case "total" =>
        val rootRow = df.filter(col("id") === Model.RootId).select(col(base).as("__root_total"))
        // A silent cross join would ANNIHILATE every row on a frame whose root was
        // filtered away (e.g. after atDepths) and DUPLICATE every row on a multi-db
        // merged frame (one root per file — use addRatioColumnsPerDb there). The
        // reference raises KeyError on a missing root (HD.py:357); fail as loudly.
        val nRoots = rootRow.limit(2).count()
        require(nRoots == 1,
          s"ratio-of-total needs exactly one root row (id = ${Model.RootId}), found " +
            (if (nRoots == 0) "none — was the root filtered out (e.g. atDepths)?"
             else "several — multi-db frames need per-db ratios (addRatioColumnsPerDb)"))
        df.crossJoin(broadcast(rootRow))
          .withColumn(colName, col(base) / col("__root_total"))
          .drop("__root_total")
      case "parent" =>
        exactParentRatio(df, base)
          .withColumnRenamed(s"$base ratio of parent (exact)", colName)
      case "parent_direct" =>
        val parents = df.select(col("callpath").as("__ppath"), col(base).as("__pval"))
        df.withColumn("__ppath",
            slice(col("callpath"), lit(1), greatest(size(col("callpath")) - 1, lit(0))))
          .join(parents, Seq("__ppath"), "left")
          .withColumn(colName, col(base) / col("__pval"))
          .drop("__pval", "__ppath")
      case other => throw new IllegalArgumentException(
        s"unknown ratio method '$other' (total | parent | parent_direct)")
    }
    val ordered = df.columns.flatMap {
      case c if c == base => Seq(c, colName)
      case c => Seq(c)
    }
    withCol.select(ordered.map(col).toSeq: _*)
  }

  /** Exact walk-up ratio-of-parent (reference HD.py:360-385): the divisor is the
    * deepest proper ancestor whose value is >= the node's own value, falling back to
    * the root. The reference's direct-parent case (ancestor >= value immediately) is
    * the overwhelmingly common one; this variant exists behind a flag for fidelity
    * and is fixture-verified to agree with the plain parent join (SURVEY §7.4.2).
    * One explode over ancestor prefixes (O(depth) rows per node, depth <= 25) + one
    * equi-join on the prefix array + one argmax aggregation.
    */
  def exactParentRatio(df: DataFrame, base: String): DataFrame = {
    val prefixes = df
      .select(col("id").as("__cid"), col(base).as("__cval"), col("callpath"))
      .withColumn("__k",
        explode(when(size(col("callpath")) > 0, sequence(lit(0), size(col("callpath")) - 1))
          .otherwise(array(lit(0)))))
      .select(col("__cid"), col("__cval"),
        slice(col("callpath"), lit(1), col("__k")).as("__ppath"), col("__k"))
    val ancestors = df.select(col("callpath").as("__ppath"), col(base).as("__aval"))
    val chosen = prefixes.join(ancestors, Seq("__ppath"))
      .groupBy("__cid", "__cval")
      .agg(
        max(when(col("__aval") >= col("__cval"), struct(col("__k"), col("__aval")))).as("__best"),
        min(when(col("__k") === 0, col("__aval"))).as("__rootval"))
      .select(col("__cid"),
        (col("__cval") / coalesce(col("__best.__aval"), col("__rootval")))
          .as(s"$base ratio of parent (exact)"))
    df.join(chosen, df("id") === chosen("__cid"), "left").drop("__cid")
  }

  /** Formula projection + root fix + ratio columns, materialized by one eager
    * `localCheckpoint`: the returned frame's plan is a single `LogicalRDD` over the
    * pinned rows, so later operators no longer re-run the lineage. The blocks are
    * released once the frame is unreachable. A division by zero in the ratio columns
    * surfaces here, rethrown with the experiment file named.
    */
  private def finishLoad(raw: DataFrame, meta: ProfileMeta): ProfileFrame = {
    val evaluated = rootFix(applyFormulas(raw, meta))
    val ratios = addRatioColumns(evaluated, meta.percentageColumn)
    val pinned =
      try ratios.localCheckpoint()
      catch {
        case e: Exception =>
          val arith = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .find(_.isInstanceOf[ArithmeticException]).getOrElse(throw e)
          val err = new ArithmeticException(
            s"${meta.dbPath}: a root or parent value of ratio base " +
              s"'${meta.percentageColumn}' is 0: ${arith.getMessage}")
          err.initCause(e)
          throw err
      }
    ProfileFrame(pinned, meta)
  }
}
