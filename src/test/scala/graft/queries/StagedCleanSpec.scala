package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** Pins d10_clean_staged ≡ d10_clean_corpus row-for-row on a real corpus: the
  * staged form exists purely for its storage profile (live scratch ~max stage
  * instead of the fused plan's measured 11.57×-of-input sum — see
  * [[TextOps.cleanCorpusStaged]]); its OUTPUT must be bit-identical, and both
  * share one oracle SQL on the driver side.
  */
class StagedCleanSpec extends AnyFunSuite {

  private val sf001 = "/root/testdata/sf0.01"

  test("staged boundaries do not change a single row") {
    val fused = TextOps.queries("d10_clean_corpus")(spark, sf001).collect()
    val staged = TextOps.queries("d10_clean_staged")(spark, sf001).collect()
    assert(fused.length === staged.length)
    assert(fused.map(_.toString).toSeq === staged.map(_.toString).toSeq)
    assert(fused.nonEmpty) // non-vacuous: the corpus has quality survivors
  }

  test("stage tables land under the stage root and are re-read, not re-planned") {
    val root = java.nio.file.Files.createTempDirectory("graft-staged-spec").toString
    val out = TextOps.cleanCorpusStaged(spark, sf001, Some(root))
    // the three boundary tables exist on disk after the eager build
    for (t <- Seq("survivors", "candidates", "edges"))
      assert(new java.io.File(s"$root/$t.parquet").exists(), s"missing stage $t")
    // the returned plan's scan reads the survivors boundary, not the documents
    // table — lineage truncation is the whole point (physical plan: the
    // logical form prints relations without their file locations)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("survivors.parquet"), plan.take(2000))
    assert(!plan.contains("documents.parquet"), plan.take(2000))
    assert(out.count() === TextOps.queries("d10_clean_corpus")(spark, sf001).count())
  }

  test("d09's staged edge boundary does not change a single row (r19)") {
    // same parity contract as d10/d10s: the boundary exists purely for its
    // storage profile (the verify's shuffle files retire before the
    // component loop allocates); the labels must be bit-identical
    val fused = TextOps.dedupClusters(spark, sf001, staged = Some(false)).collect()
    val staged = TextOps.dedupClusters(spark, sf001, staged = Some(true)).collect()
    assert(fused.map(_.toString).toSeq === staged.map(_.toString).toSeq)
    assert(fused.nonEmpty) // non-vacuous: the corpus has near-dup clusters
  }

  test("d09's staged boundary lands under the shared stage root (r20)") {
    // the edge boundary resolves through the same SPARK_GRAFT_STAGE_DIR >
    // tmpdir base as d10s (TextOps.stageRootBase) — the boundary write is
    // eager at build time, so after building the staged frame the edges
    // table must exist under <base>/graft-d09-staged (the r19 VERDICT watch
    // item: on a multi-node master the base must be a shared filesystem;
    // the knob is the cluster hook). Asserted on the filesystem, not the
    // plan string — AQE's initial-plan print truncates scan locations.
    TextOps.dedupClusters(spark, sf001, staged = Some(true))
    val base = sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR", sys.props("java.io.tmpdir"))
    // assert on the EXACT per-(session, dir) hash path the production code
    // writes (r20 ADVICE: scanning every subdirectory would let a stale
    // boundary from a previous run satisfy the assertion even if this run
    // wrote nothing)
    val edges = new java.io.File(
      s"$base/graft-d09-staged/${TextOps.stageKey(spark, sf001)}/edges.parquet")
    assert(edges.exists(), s"no edges.parquet at ${edges.getPath}")
  }

  test("d09 gate: fused below the verify pivot, staged at and above it") {
    // sf0.01's documents footprint is far below CachedVerifyMaxDocBytes, so
    // the registered row keeps the fused (byte-identical, no-tmp-write) plan:
    // its physical plan scans documents.parquet, not an edges boundary
    val plan = TextOps.queries("d09_dedup_clusters")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("edges.parquet"), plan.take(2000))
  }
}
