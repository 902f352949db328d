package graft.hpct

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Profile-analysis operators over [[ProfileFrame]] — the Spark re-expression of the
  * reference's bespoke methods (SURVEY §2.A). Every operator returns a new
  * [[ProfileFrame]] carrying the same metadata (the reference's `_constructor`
  * behavior, HD.py:135-152); tree operations are relational operations on the
  * materialized `callpath` array.
  */
object Ops {

  /** Callpath prefix/suffix filter (`at_paths`, reference HD.py:79-92, 391-393).
    * Arbitrary `fragments` raise in the reference (HD.py:83) — mirrored here.
    */
  def atPaths(pf: ProfileFrame, prefix: Seq[Long] = Nil, suffix: Seq[Long] = Nil,
      fragments: Seq[Seq[Long]] = Nil): ProfileFrame = {
    require(fragments.isEmpty, "filtering by arbitrary fragment not supported")
    var df = pf.df
    if (prefix.nonEmpty)
      df = df.filter(size(col("callpath")) >= prefix.length &&
        slice(col("callpath"), 1, prefix.length) === lit(prefix.toArray))
    if (suffix.nonEmpty)
      df = df.filter(size(col("callpath")) >= suffix.length &&
        slice(col("callpath"), -suffix.length, suffix.length) === lit(suffix.toArray))
    pf.copy(df = df)
  }

  /** A pattern element for [[seqFilter]]: exact string equality or full-match regex
    * (the reference's `str` vs compiled `t.Pattern` dichotomy, HD.py:95-120).
    */
  sealed trait SeqPattern
  final case class Exact(value: String) extends SeqPattern
  /** Java/Spark regex, matched against the WHOLE element (Python `fullmatch`). */
  final case class Re(pattern: String) extends SeqPattern

  /** Generalized string/regex sequence filter (reference
    * `_str_or_regex_sequence_filter`, HD.py:95-120 — dead code there, zero call
    * sites; surfaced here for API completeness): keep rows whose array-of-string
    * `column` starts with `prefix` and/or ends with `suffix`, where each pattern
    * element matches its aligned sequence element by equality ([[Exact]]) or by
    * regex fullmatch ([[Re]]). Arbitrary `fragments` raise, mirroring HD.py:100.
    * Compiles to positional `element_at` + `rlike` predicates — codegen'd, no UDF.
    */
  def seqFilter(df: DataFrame, column: String, prefix: Seq[SeqPattern] = Nil,
      suffix: Seq[SeqPattern] = Nil, fragments: Seq[Seq[SeqPattern]] = Nil): DataFrame = {
    require(fragments.isEmpty, "filtering by arbitrary fragment not supported")
    def matches(el: Column, p: SeqPattern): Column = p match {
      case Exact(v) => el === lit(v)
      // rlike is a substring search; anchor both ends for Python fullmatch semantics
      case Re(r) => el.rlike(s"\\A(?:$r)\\z")
    }
    var out = df
    if (prefix.nonEmpty)
      out = out.filter(prefix.zipWithIndex.map { case (p, i) =>
        matches(element_at(col(column), i + 1), p)
      }.fold(size(col(column)) >= prefix.length)(_ && _))
    if (suffix.nonEmpty)
      out = out.filter(suffix.zipWithIndex.map { case (p, i) =>
        matches(element_at(col(column), -(suffix.length - i)), p)
      }.fold(size(col(column)) >= suffix.length)(_ && _))
    out
  }

  /** Depth filter (`at_depths`/`at_depth`, reference HD.py:123-128, 395-401). */
  def atDepths(pf: ProfileFrame, minDepth: Option[Int] = None,
      maxDepth: Option[Int] = None): ProfileFrame = {
    val depth = size(col("callpath"))
    var df = pf.df
    minDepth.foreach(d => df = df.filter(depth >= d))
    maxDepth.foreach(d => df = df.filter(depth <= d))
    pf.copy(df = df)
  }

  def atDepth(pf: ProfileFrame, depth: Int): ProfileFrame =
    atDepths(pf, Some(depth), Some(depth))

  /** Compact projection (reference HD.py:387-389). Returns [[ProfileFrame]]: the
    * reference's `.compact` property yields the subclass, and its test asserts the
    * sidecar metadata survives it (T.py:40-45).
    */
  def compact(pf: ProfileFrame): ProfileFrame =
    pf.copy(df = pf.df.select(pf.meta.compactColumns.map(col).toSeq: _*))

  /** Hot path (reference HD.py:403-428): greedy argmax descent — from `callpath`,
    * repeatedly take the children one level deeper and descend into the max-valued
    * one until there are no children or the child's value drops below `threshold`
    * (that child is excluded). Returns the rows whose callpath is on the hot path.
    *
    * One declarative plan, zero driver-side iteration, so it scales to any
    * depth/width on a cluster (a per-depth argmax loop pays one job per level,
    * and at fixture scale that per-job overhead dominated the workload).
    *
    * A node is on the greedy hot path iff it is the start, or EVERY prefix of its
    * callpath (itself included) strictly longer than the starting callpath is (a)
    * the rank-1 child of its sibling group (max value, min id on ties — pandas
    * idxmax order) and (b) at or above the threshold. That is exactly the set the
    * greedy descent visits, minus the below-threshold final child it rejects.
    * Three keyed stages: a per-sibling-group rank window, a prefix explode
    * (O(depth) per node), and a count-matches aggregation — no collect, no loop.
    *
    * A non-empty `callpath` restricts the frame to the subtree rooted there;
    * sibling groups inside the subtree are complete, so the rank window is
    * unchanged. The start node is alone in its group there, so it ranks first and
    * is on the path unconditionally, mirroring the greedy seed. NaN values descend
    * (Spark orders NaN above every double — same outcome as the reference's
    * `NaN < threshold == false`); null values stop.
    */
  def hotPath(pf: ProfileFrame, callpath: Seq[Long] = Nil, threshold: Double = 0.05,
      baseColumn: Option[String] = None): ProfileFrame = {
    val base = baseColumn.getOrElse(pf.meta.hotPathColumn)
    require(pf.df.columns.contains(base), s"missing hot-path column $base")
    val d0 = callpath.length
    val sub =
      if (callpath.isEmpty) pf.df
      else pf.df.filter(size(col("callpath")) >= d0 &&
        slice(col("callpath"), 1, d0) === lit(callpath.toArray))
    val depth = size(col("callpath"))
    // siblings share depth and parent callpath; the depth keeps the root (whose
    // clamped parent slice is also empty) out of the depth-1 group. greatest(..., 0):
    // a -1 length would abort the whole plan
    val winners = sub
      .withColumn("__rk", row_number().over(
        Window.partitionBy(depth, slice(col("callpath"), lit(1), greatest(depth - 1, lit(0))))
          .orderBy(desc(s"`$base`"), asc("id"))))
      .filter(col("__rk") === 1 && (depth === d0 || col(s"`$base`") >= threshold))
      .select(col("callpath").as("__winner"))
    // the prefixes below the start; the start node's one prefix is its own callpath,
    // so a frame without the start row (e.g. the root filtered away) still descends
    val prefixes = sub
      .select(col("id").as("__nid"), col("callpath"))
      .withColumn("__k", explode(sequence(least(lit(d0 + 1), depth), depth)))
      .select(col("__nid"), greatest(depth - d0, lit(1)).as("__n"),
        slice(col("callpath"), lit(1), col("__k")).as("__winner"))
    val hotIds = prefixes
      .join(winners, "__winner")
      .groupBy("__nid", "__n")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === col("__n"))
      .select(col("__nid"))
    pf.copy(df = sub.join(hotIds, sub("id") === hotIds("__nid"), "left_semi"))
  }

  /** Flame-graph geometry (reference HD.py:430-540, minus matplotlib): one row per
    * node per layer with `(id, depth, x0, width, procedure, labeled)`. First layer is
    * normalized to 2π; each deeper layer is sibling-normalized within its parent and
    * offset by the within-parent cumulative sum plus the parent's offset.
    *
    * One declarative plan, zero driver-side iteration (a per-layer loop runs one
    * windowed job per tree level, and its per-job overhead dominates).
    *
    * Derivation: let r(p) = v(p) / Σ_{siblings of p} v be a node's share of its
    * normalization group (the FULL first layer for depth `lo`, its parent's
    * children below), and b(p) the within-group fraction strictly before p in id
    * order. Unrolling the layer recursion width = r·parentWidth,
    * x0 = parentX0 + b·parentWidth gives, for a node n at depth d:
    *   width(n) = 2π · Π_{k=lo..d} r(prefix_k(n))
    *   x0(n)    = 2π · Σ_{k=lo..d} b(prefix_k(n)) · Π_{j=lo..k-1} r(prefix_j(n))
    * Three keyed stages, mirroring [[hotPath]]'s playbook: a per-group
    * window computing (r, b) once per NODE, a prefix explode (O(depth) rows per
    * node), and one ordered `aggregate` per node folding its ancestor chain —
    * no collect, no loop, no per-layer jobs; scales to any depth/width.
    */
  def flameGeometry(pf: ProfileFrame, prefix: Seq[Long] = Nil, column: Option[String] = None,
      minDepth: Option[Int] = None, maxDepth: Option[Int] = None): DataFrame = {
    val colName = column.getOrElse(pf.meta.percentageColumn + " ratio of parent")
    val lo = minDepth.getOrElse(prefix.length + 1)
    require(lo > prefix.length, s"minDepth $lo must exceed prefix length ${prefix.length}")
    val twoPi = 2.0 * math.Pi
    var base = atPaths(pf, prefix = prefix).df
      .filter(size(col("callpath")) >= lo)
      .select(col("id"), col("callpath"), col(colName).as("__v"), col("procedure"))
    maxDepth.foreach(hi => base = base.filter(size(col("callpath")) <= hi))
    // normalization group key: depth-lo nodes form ONE global group (the full
    // circle — the loop's partitionBy(id*0)); deeper nodes group under their parent
    val keyed = base.withColumn("__g",
      when(size(col("callpath")) === lo, array(lit(-1L)))
        // greatest(..., 0) keeps constant folding from evaluating a -1 length on
        // literal sources (the size >= lo filter excludes those rows at runtime)
        .otherwise(slice(col("callpath"), lit(1), greatest(size(col("callpath")) - 1, lit(0)))))
    val wG = Window.partitionBy("__g")
    val rb = keyed.select(col("callpath").as("__pfx"),
      (col("__v") / sum("__v").over(wG)).as("__r"),
      (coalesce(sum("__v").over(wG.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))
        / sum("__v").over(wG)).as("__b"))
    val prefixes = base
      .select(col("id"), col("callpath"), col("procedure"),
        size(col("callpath")).as("__d"))
      .withColumn("__k", explode(sequence(lit(lo), col("__d"))))
      .select(col("id"), col("__d"), col("procedure"),
        col("__k"), slice(col("callpath"), lit(1), col("__k")).as("__pfx"))
    // ordered ancestor fold: width = prod of r top-down, x0 = sum of b·(prefix prod)
    val acc = prefixes.join(rb, "__pfx")
      .groupBy("id", "__d", "procedure")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__k"), col("__r"), col("__b")))),
        struct(lit(1.0).as("p"), lit(0.0).as("x")),
        (a, e) => struct(
          (a.getField("p") * e.getField("__r")).as("p"),
          (a.getField("x") + e.getField("__b") * a.getField("p")).as("x"))).as("__a"))
    acc.select(col("id"), col("__d").cast("int").as("depth"),
      (col("__a.x") * twoPi).as("x0"),
      (col("__a.p") * twoPi).as("width"),
      col("procedure"),
      (col("__a.p") * twoPi >= lit(math.Pi) / (col("__d") - lo + 32)).as("labeled"))
  }

  /** Multi-profile merge (SURVEY B17): metric columns differ per file, so align by
    * name and fill the gaps with nulls.
    */
  def merge(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
}
