package graft.hpct

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-shaped driver-loop forms of [[Ops.hotPath]] and [[Ops.flameGeometry]]:
  * one job per tree level, mirroring the reference's per-depth loops
  * (HD.py:403-428, 430-540). They exist only as the independent baseline the
  * equivalence tests compare the one-plan operators against.
  */
object IterativeOps {

  /** The driver-loop hot path: one tiny argmax job per depth; each job is a
    * filter + top-1 sort over a cached 2-column frame.
    */
  def hotPathIterative(pf: ProfileFrame, callpath: Seq[Long] = Nil, threshold: Double = 0.05,
      baseColumn: Option[String] = None): ProfileFrame = {
    val base = baseColumn.getOrElse(pf.meta.hotPathColumn)
    require(pf.df.columns.contains(base), s"missing hot-path column $base")
    val simple = pf.df.select(col(base).as("__v"), col("callpath"), col("id")).cache()
    try {
      var current = callpath
      val hot = Seq.newBuilder[Seq[Long]]
      var continue = true
      while (continue) {
        hot += current
        val children = simple
          .filter(size(col("callpath")) === current.length + 1 &&
            (if (current.isEmpty) lit(true)
             else slice(col("callpath"), 1, current.length) === lit(current.toArray)))
          // pandas idxmax takes the first max in row (= id) order — same tie-break
          .orderBy(desc("__v"), asc("id"))
          .limit(1).select("callpath", "__v").collect()
        if (children.isEmpty) continue = false
        else {
          val row = children.head
          current = row.getSeq[Long](0)
          if (row.isNullAt(1) || row.getDouble(1) < threshold) continue = false
          // (also mirrors pandas: NaN < threshold is false => NaN child is descended)
        }
      }
      val hotSet = hot.result()
      val cond = hotSet.map(p =>
        (col("callpath") === lit(p.toArray)).asInstanceOf[Column]).reduce(_ || _)
      pf.copy(df = pf.df.filter(cond))
    } finally simple.unpersist()
  }

  /** The layer-join flame geometry: a driver loop over depth layers (bounded by
    * tree depth); each layer is one windowed plan plus a join against the previous
    * layer's geometry.
    */
  def flameGeometryIterative(pf: ProfileFrame, prefix: Seq[Long] = Nil, column: Option[String] = None,
      minDepth: Option[Int] = None, maxDepth: Option[Int] = None): DataFrame = {
    val colName = column.getOrElse(pf.meta.percentageColumn + " ratio of parent")
    val lo = minDepth.getOrElse(prefix.length + 1)
    require(lo > prefix.length, s"minDepth $lo must exceed prefix length ${prefix.length}")
    val twoPi = 2.0 * math.Pi
    val base = Ops.atPaths(pf, prefix = prefix).df
      .select(col("id"), col("callpath"), col(colName).as("__v"), col("procedure"))
      .cache()
    // ONE bounded action up front (the max tree depth, <= 25 in the fixtures) instead
    // of a per-layer isEmpty job; the loop then only BUILDS plans. Callpath prefix
    // closure guarantees no empty layer below the max depth.
    val maxRow = base.agg(max(size(col("callpath")))).head()
    if (maxRow.isNullAt(0)) { base.unpersist(); return pf.df.sparkSession.emptyDataFrame }
    val hi = math.min(maxRow.getInt(0), maxDepth.getOrElse(Int.MaxValue))
    var depth = lo
    var prev: DataFrame = null // (pid, pw, po)
    var out: DataFrame = null
    try while (depth <= hi) {
      val layerBase = base.filter(size(col("callpath")) === depth)
      val layer =
        if (prev == null) {
          // depth-lo siblings form ONE normalization group by construction (the full
          // circle), so the single-partition window is the semantics, not a bottleneck
          // — its input is one tree level, not the dataset. The key is id*0, not a
          // literal: EliminateWindowPartitions folds literals away and the resulting
          // unpartitioned WindowExec WARN would drown real regressions in the logs.
          val w = Window.partitionBy(col("id") * 0)
          layerBase.select(col("id"), col("procedure"),
            (col("__v") / sum("__v").over(w) * twoPi).as("width"),
            (coalesce(sum("__v").over(w.orderBy("id")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))
              / sum("__v").over(w) * twoPi).as("x0"))
        } else {
          val byParent = Window.partitionBy("__parent")
          layerBase
            .withColumn("__parent", element_at(col("callpath"), -2))
            .join(prev, col("__parent") === col("pid"))
            .select(col("id"), col("procedure"),
              (col("__v") / sum("__v").over(byParent) * col("pw")).as("width"),
              (col("po") + coalesce(sum("__v").over(byParent.orderBy("id")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))
                / sum("__v").over(byParent) * col("pw")).as("x0"))
        }
      // each layer is locally checkpointed: it feeds both the result union and the
      // next layer's parent join, and the checkpoint TRUNCATES the logical plan, so
      // layer d's plan doesn't nest layers lo..d-1 (a lazy 25-deep nested plan makes
      // the optimizer itself the bottleneck — observed >> 10 min on the fixtures).
      // One shallow job per layer, bounded by tree depth; on a real cluster swap for
      // reliable checkpoint() if executor loss matters mid-computation.
      val geo = layer.select(col("id"), lit(depth).as("depth"), col("x0"), col("width"),
        col("procedure"),
        (col("width") >= lit(math.Pi / (depth - lo + 32))).as("labeled"))
        .localCheckpoint()
      out = if (out == null) geo else out.unionByName(geo)
      prev = geo.select(col("id").as("pid"), col("width").as("pw"), col("x0").as("po"))
      depth += 1
    // every layer is localCheckpoint'ed (materialized), so the cached base is safe
    // to drop here (without this the cache would leak once per call)
    } finally base.unpersist()
    if (out == null) pf.df.sparkSession.emptyDataFrame else out
  }
}
