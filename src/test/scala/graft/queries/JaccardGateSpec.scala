package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** The Jaccard verify has two footprint-gated strategies (TextOps.
  * jaccardCountsGated), both running the r20 zero-aggregation array-join plan
  * (jaccardCountsFromArrays): cached full-corpus shingle arrays below the
  * gate, candidate-restricted scan-local arrays above it. The gate flips on
  * the documents footprint, so the oracle suite (sf0.01) only ever executes
  * the cached branch — this spec executes every branch directly on the small
  * corpora and demands row-for-row equality against the pre-r20 EXPLODED
  * formulation (shingle-level intersection join + groupBy counts), which is
  * the whole correctness argument for both the gate and the array rewrite:
  * any shingle representation covering the candidate docs yields identical
  * (i, ca, cb) counts.
  */
class JaccardGateSpec extends AnyFunSuite {

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("id_a", "id_b")
      .selectExpr("id_a", "id_b", "cast(i as long) as i",
        "cast(ca as long) as ca", "cast(cb as long) as cb")
      .collect().map(_.toString).toSeq

  /** Ground truth: the pre-r20 exploded verify over a freshly built
    * distinct-shingle frame — a shingle-level intersection join +
    * groupBy(id_a, id_b) count, with ca/cb from a groupBy(doc_id) count.
    * Uncached on purpose: the spec wants the OLD plan shape, not the old cache.
    */
  private def explodedCounts(s: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(s)
    val dsh = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr("shingle_hashes(text)")).as("shingle"))
    val cnt = dsh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    cand
      .join(dsh.select(col("doc_id").as("id_a"), col("shingle")), "id_a")
      .join(dsh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
      .join(cnt.select(col("doc_id").as("id_a"), col("c").as("ca")), "id_a")
      .join(cnt.select(col("doc_id").as("id_b"), col("c").as("cb")), "id_b")
  }

  test("array verifies (cached AND restricted) == exploded baseline, " +
      "row for row (sf0.001 and sf0.01)") {
    val s = spark
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val cand = TextOps.candidatePairs(s, dir)
      val exploded = rows(explodedCounts(s, dir, cand))
      // the shipped below-gate branch: array join over the cached doc-level frame
      val cachedArrays = rows(TextOps.jaccardCountsFromCachedForTest(s, dir, cand))
      // the shipped above-gate branch: array join over the candidate-doc slice
      val restricted = rows(TextOps.jaccardCountsRestricted(s, dir, cand))
      assert(cachedArrays === exploded, s"cached-array branch disagrees with exploded on $dir")
      assert(restricted === exploded, s"restricted-array branch disagrees with exploded on $dir")
      assert(exploded.nonEmpty, s"vacuous compare on $dir — no candidate pairs")
    }
  }
}
