package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every declared operator family:
  *  - graft.queries.Relational — SURVEY §2.B generic relational surface (b01..b23)
  *  - graft.queries.Hierarchy  — tree-as-table analogs of §2.A (a08..a15, b14)
  *  - graft.queries.TextOps    — dedup: exact/MinHash-LSH/SimHash/Jaccard
 *    (d01..d07, d12 — the 128-bit SimHash scale variant),
  *    near-dup clustering via connected components (d09, graft.queries.Components),
  *    text analysis + KMV sketch + n-gram counts + quality gate + repetition
  *    stats (t01..t10),
  *    binary meta (m01)
  *  - graft.queries.VectorOps  — similarity search + recall measurement + batched
  *    k-NN join (s01..s06), embedding near-dup (d08)
  *  - graft.queries.EventOps   — sessionization / windows / json / skew-safe salting
  *    / dedup / as-of (e01..e08; e07's streaming semantics are additionally
  *    spec-pinned in graft.streaming)
  *  - graft.queries.MediaOps   — multimodal decode/resize/frame-sample (m02..m04)
  * Every key has a DuckDB oracle in `oracleSql` with identical column names and a
  * pinned ORDER BY, per the driver's hash-compare contract (the MediaOps stub decode
  * is md5-based precisely so its outputs are SQL-expressible).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Loads the reference
    * HPCToolkit fixture end-to-end (parse -> formulas -> ratios -> hot path ->
    * compact) when present, else falls back to the hierarchy hot path and says so
    * on stderr.
    */
  def entry(spark: SparkSession): DataFrame = {
    val fixture = "/root/reference/test/data/experiment1.xml"
    if (new java.io.File(fixture).exists()) {
      val pf = hpct.ProfileLoad.load(spark, fixture)
      hpct.Ops.compact(hpct.Ops.hotPath(pf)).df
    } else {
      System.err.println(s"[entry] fixture $fixture not present; running a14_hot_path instead")
      queries("a14_hot_path")(spark, "/root/testdata/sf0.001")
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Hierarchy.queries ++
      graft.queries.TextOps.queries ++
      graft.queries.VectorOps.queries ++
      graft.queries.EventOps.queries ++
      graft.queries.MediaOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.Hierarchy.oracles ++
      graft.queries.TextOps.oracles ++
      graft.queries.VectorOps.oracles ++
      graft.queries.EventOps.oracles ++
      graft.queries.MediaOps.oracles

  /** [[oracleSql]] with corpus-dependent rows resolved against the concrete
    * run directory — what Verify dumps, so the SQL always describes the plan
    * the SAME run registered (today the only dynamic row is d07's
    * corpus-derived SimHash width; see TextOps.oraclesFor).
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] =
    oracleSql ++ graft.queries.TextOps.oraclesFor(spark, sfDir)
}
