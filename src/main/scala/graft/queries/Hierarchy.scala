package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hpct.{Model, Ops, ProfileFrame, ProfileLoad, ProfileMeta}

/** Tree-as-table queries over a synthetic hierarchy derived from the star schema
  * (region -> nation -> customer), mirroring the reference's decisive modeling choice:
  * the tree is one row per node with a materialized `callpath` array (reference
  * hpctoolkit_dataframe.py:283), so every tree operation is a relational operation
  * on arrays. The tree is a [[ProfileFrame]], and every query runs the library
  * operator users call — [[ProfileLoad.addRatioColumns]] (the ratio columns every
  * profile load adds), [[Ops.atPaths]], [[Ops.atDepths]], [[Ops.hotPath]] and
  * [[Ops.flameGeometry]] — followed by the query's own projection and order. These
  * are the oracle-checkable analogs of SURVEY §2.A A8 (ratio-of-total), A9
  * (ratio-of-parent), A11 (`at_paths`), A12 (`at_depths`), A14 (`hot_path`), A15
  * (flame geometry) and §2.B B14 (parent lookup).
  *
  * Node ids are offset per level so they're globally unique:
  * region = r_regionkey + 10, nation = n_nationkey + 100, customer = c_custkey + 1000.
  * Node value = c_acctbal rolled up (rounded to 2 dp at each level so Spark's and
  * DuckDB's summation orders can't produce different bits). The root row (id
  * [[Model.RootId]], empty callpath) carries the rounded sum of the region values,
  * the grand total the oracles divide by; queries whose oracle has no root drop it.
  */
object Hierarchy {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Per-(session, dir) cache of the tree as a profile load leaves it: the nodes
    * frame plus the ratio columns every load adds
    * ([[ProfileLoad.addRatioColumns]] on `value`: `value ratio of parent`, `value
    * ratio of total`). Seven hierarchy queries share it, so one build + one
    * in-memory copy instead of seven customer⋈nation rebuilds (the dominant cost
    * of a bench run; the frame is ~#customers rows, far under executor memory at
    * any tested SF).
    *
    * Staleness contract: entries key on (session, dir) and are never invalidated —
    * correct for the bench/verify harness (immutable input parquet, short-lived
    * session); a long-lived session that rewrites the input must call
    * [[clearCaches]] or it will read the stale cached frame.
    */
  private val nodesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def nodesCached(s: SparkSession, d: String): DataFrame =
    nodesCache.getOrElseUpdate((s, d), ProfileLoad.addRatioColumns(nodes(s, d), "value").cache())

  /** Materialize the shared cache up front (bench warmup) so per-query timings
    * attribute to plans, not to whichever query touches the cache first.
    */
  def prewarm(s: SparkSession, d: String): Unit =
    prewarmStages(s, d).foreach(_._2())

  /** Independent prewarm stages (see TextOps.prewarmStages for the contract). */
  def prewarmStages(s: SparkSession, d: String): Seq[(String, () => Unit)] =
    Seq("hierarchy-nodes" -> (() => { nodesCached(s, d).count(); () }))

  /** Unpersist and drop every cached frame (staleness/leak hook for long sessions). */
  def clearCaches(): Unit = {
    nodesCache.values.foreach(_.unpersist())
    nodesCache.clear()
  }

  /** The (id, callpath, value, procedure) nodes DataFrame. Built from two shuffled
    * aggregations over customer⋈nation (nation broadcast); at 100 TB the leaf level
    * partitions by id and the rollups are standard partial-agg shuffles. `procedure`
    * is null: the profile operators carry it, and the tree has no code locations.
    */
  def nodes(s: SparkSession, d: String): DataFrame = {
    val cn = customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey").cast("long").as("ck"),
        col("c_acctbal").as("ab"),
        (col("n_nationkey") + 100).cast("long").as("nk"),
        (col("n_regionkey") + 10).cast("long").as("rk"))
    val reg = cn.groupBy("rk")
      .agg(round(sum("ab"), 2).as("value"))
      .select(col("rk").as("id"), array(col("rk")).as("callpath"), col("value"))
    val root = reg.agg(round(sum("value"), 2).as("value"))
      .select(lit(Model.RootId).as("id"), typedLit(Seq.empty[Long]).as("callpath"), col("value"))
    val nat = cn.groupBy("rk", "nk")
      .agg(round(sum("ab"), 2).as("value"))
      .select(col("nk").as("id"), array(col("rk"), col("nk")).as("callpath"), col("value"))
    val cust = cn.select(
      (col("ck") + 1000).as("id"),
      array(col("rk"), col("nk"), col("ck") + 1000).as("callpath"),
      col("ab").as("value"))
    root.unionByName(reg).unionByName(nat).unionByName(cust)
      .withColumn("procedure", lit(null).cast("string"))
  }

  /** The tree's sidecar metadata: `value` is both the percentage base and the
    * hot-path ranking column.
    */
  private val TreeMeta = ProfileMeta("hierarchy", Seq(0 -> "value"), Map.empty,
    Map.empty, Map.empty, Map.empty,
    percentageColumn = "value", hotPathColumn = "value", compactColumns = Seq("value", "procedure"))

  private def tree(s: SparkSession, d: String): ProfileFrame =
    ProfileFrame(nodesCached(s, d), TreeMeta) // shared cache — never unpersisted here

  /** Shared DuckDB CTE defining the same nodes relation, without the root row. */
  private val NodesCte: String =
    """WITH cn AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS ck, c_acctbal AS ab,
      |         CAST(n_nationkey + 100 AS BIGINT) AS nk,
      |         CAST(n_regionkey + 10 AS BIGINT) AS rk
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |), nodes AS (
      |  SELECT rk AS id, [rk] AS path, round(sum(ab), 2) AS value FROM cn GROUP BY rk
      |  UNION ALL
      |  SELECT nk, [rk, nk], round(sum(ab), 2) FROM cn GROUP BY rk, nk
      |  UNION ALL
      |  SELECT ck + 1000, [rk, nk, ck + 1000], ab FROM cn
      |)""".stripMargin.replace("\n", " ")

  private def pathStr: Column = concat_ws(",", col("callpath"))
  private def depth: Column = size(col("callpath")).cast("long")
  private def notRoot: Column = col("id") =!= Model.RootId
  // `+ 0` normalizes IEEE -0.0 to 0.0 (a negative acctbal rounding to zero hashes
  // as "-0" in one engine and "0" in the other otherwise)
  private def ratio(c: String): Column = round(col(c), 6) + lit(0.0)

  val queries: Map[String, Q] = Map(
    // B14: parent lookup (reference HD.py:374): the load-time ratio-of-parent
    // column, keyed to the parent's id — the second-to-last callpath element, as
    // node ids are the last element by construction.
    "b14_selfjoin_path" -> ((s, d) =>
      nodesCached(s, d).filter(size(col("callpath")) > 1)
        .select(col("id"), element_at(col("callpath"), -2).as("parent_id"),
          ratio("value ratio of parent").as("frac"))
        .orderBy("id")),

    // A8: ratio-of-total — value / root value (reference HD.py:340-359).
    "a08_ratio_total" -> ((s, d) =>
      nodesCached(s, d).filter(notRoot)
        .select(col("id"), ratio("value ratio of total").as("ratio_total"))
        .orderBy("id")),

    // A9: ratio-of-parent — value / parent value; depth-1 nodes divide by the root
    // (the grand total), as every node's walk-up in the reference terminates at
    // the root row (HD.py:360-385).
    "a09_ratio_parent" -> ((s, d) =>
      nodesCached(s, d).filter(notRoot)
        .select(col("id"), ratio("value ratio of parent").as("ratio_parent"))
        .orderBy("id")),

    // A11: callpath prefix filter (`at_paths`, reference HD.py:391-393) — the
    // subtree of region 0's node.
    "a11_at_paths" -> ((s, d) =>
      Ops.atPaths(tree(s, d), prefix = Seq(10L)).df
        .select(col("id"), pathStr.as("path_str"), col("value"))
        .orderBy("id")),

    // A12: depth filter (`at_depths`, reference HD.py:395-401).
    "a12_at_depths" -> ((s, d) =>
      Ops.atDepths(tree(s, d), Some(2), Some(3)).df
        .select(col("id"), depth.as("depth"))
        .orderBy("id")),

    // A14: hot path — greedy argmax descent (reference HD.py:403-428) with no
    // threshold, so it runs down to a customer leaf: one declarative plan, no
    // per-depth driver jobs.
    "a14_hot_path" -> ((s, d) =>
      Ops.hotPath(tree(s, d), threshold = Double.NegativeInfinity, baseColumn = Some("value")).df
        .filter(notRoot)
        .select(col("id"), pathStr.as("path_str"), col("value"), depth.as("depth"))
        .orderBy("depth")),

    // A15: flame-graph geometry (reference HD.py:430-540) of the top two layers,
    // on the node values: the region layer normalized to 2π, each nation within
    // its region's arc.
    "a15_flame" -> ((s, d) =>
      Ops.flameGeometry(tree(s, d), column = Some("value"), maxDepth = Some(2))
        .select(col("id"), col("depth").cast("long").as("depth"),
          round(col("width"), 6).as("width"), round(col("x0"), 6).as("x0"))
        .orderBy("depth", "id")),
  )

  val oracles: Map[String, String] = Map(
    "b14_selfjoin_path" ->
      (NodesCte + " SELECT c.id AS id, p.id AS parent_id, round(c.value / p.value, 6) + 0 AS frac" +
        " FROM nodes c JOIN nodes p ON c.path[1:len(c.path)-1] = p.path" +
        " WHERE len(c.path) > 1 ORDER BY id"),
    "a08_ratio_total" ->
      (NodesCte + ", tot AS (SELECT round(sum(value), 2) AS total FROM nodes WHERE len(path) = 1)" +
        " SELECT id, round(value / total, 6) + 0 AS ratio_total FROM nodes, tot ORDER BY id"),
    "a09_ratio_parent" ->
      (NodesCte + ", tot AS (SELECT round(sum(value), 2) AS total FROM nodes WHERE len(path) = 1)" +
        " SELECT c.id, round(c.value / coalesce(p.value, tot.total), 6) + 0 AS ratio_parent" +
        " FROM nodes c LEFT JOIN nodes p ON c.path[1:len(c.path)-1] = p.path CROSS JOIN tot" +
        " ORDER BY c.id"),
    "a11_at_paths" ->
      (NodesCte + " SELECT id, array_to_string(path, ',') AS path_str, value FROM nodes" +
        " WHERE path[1:1] = [CAST(10 AS BIGINT)] ORDER BY id"),
    "a12_at_depths" ->
      (NodesCte + " SELECT id, CAST(len(path) AS BIGINT) AS depth FROM nodes" +
        " WHERE len(path) BETWEEN 2 AND 3 ORDER BY id"),
    "a14_hot_path" ->
      (NodesCte +
        ", l1 AS (SELECT * FROM nodes WHERE len(path) = 1 ORDER BY value DESC, id LIMIT 1)" +
        ", l2 AS (SELECT n.* FROM nodes n, l1 WHERE len(n.path) = 2 AND n.path[1:1] = l1.path" +
        "   ORDER BY n.value DESC, n.id LIMIT 1)" +
        ", l3 AS (SELECT n.* FROM nodes n, l2 WHERE len(n.path) = 3 AND n.path[1:2] = l2.path" +
        "   ORDER BY n.value DESC, n.id LIMIT 1)" +
        " SELECT id, array_to_string(path, ',') AS path_str, value, CAST(len(path) AS BIGINT) AS depth" +
        " FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)" +
        " ORDER BY depth"),
    "a15_flame" ->
      (NodesCte +
        ", l1 AS (SELECT id, 2 * pi() * value / sum(value) OVER () AS w," +
        "   2 * pi() * coalesce(sum(value) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)" +
        "     / sum(value) OVER () AS o" +
        "   FROM nodes WHERE len(path) = 1)" +
        ", l2 AS (SELECT n.id, l1.w * n.value / sum(n.value) OVER (PARTITION BY n.path[1]) AS w," +
        "   l1.o + coalesce(sum(n.value) OVER (PARTITION BY n.path[1] ORDER BY n.id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)" +
        "     * l1.w / sum(n.value) OVER (PARTITION BY n.path[1]) AS o" +
        "   FROM nodes n JOIN l1 ON n.path[1] = l1.id WHERE len(n.path) = 2)" +
        " SELECT id, depth, round(w, 6) AS width, round(o, 6) AS x0 FROM (" +
        "   SELECT id, CAST(1 AS BIGINT) AS depth, w, o FROM l1" +
        "   UNION ALL SELECT id, CAST(2 AS BIGINT), w, o FROM l2)" +
        " ORDER BY depth, id"),
  )
}
