package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** Physical-plan assertions on the sf0.001 tables: the properties that make these
  * plans survive a 100× scale-up are checked, not assumed — filter/column pushdown
  * into the parquet scan, broadcast for dimension joins, no cartesian products in the
  * LSH family, and no single-partition window over the data in b10.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("b02: predicate pushes into the parquet scan") {
    val p = plan("b02_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(c_acctbal") || p.contains("IsNotNull(c_acctbal"), p)
  }

  test("b01: column pruning reaches the scan (3-column ReadSchema)") {
    val p = plan("b01_project")
    assert(p.contains("l_orderkey") && !p.contains("l_quantity"), p)
  }

  test("b15/a15: dimension joins broadcast") {
    assert(plan("b15_dimjoin").contains("BroadcastHashJoin"))
    assert(plan("a15_flame").contains("BroadcastHashJoin"))
  }

  test("dedup/LSH family: keyed joins only, no cartesian product") {
    for (q <- Seq("d03_minhash_bands", "d04_neardup_pairs", "d05_jaccard",
        "d07_simhash_neardup", "d08_embed_neardup", "d12_simhash128_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("s01: the only unkeyed join is the broadcast of the 1-row query vector") {
    val p = plan("s01_cosine_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("s04: Lloyd training stays broadcast/keyed — no cartesian, no shuffled cross-score") {
    val p = plan("s04_ann_ivf_trained")
    assert(!p.contains("CartesianProduct"), p)
    // every cross-score is against a broadcast K-row centroid table
    assert(p.contains("Broadcast"), p)
  }

  test("s06: batched kNN join — corpus side keyed on cid, probe side broadcast") {
    val p = plan("s06_knn_join")
    // no shuffled cartesian; the only cross is the K-row broadcast quantizer
    // cross-score (the same intended shape s03/s04 audit), the probed-list join
    // is a broadcast HASH join on cid, and the per-probe top-3 runs as a
    // WindowGroupLimit keyed on qid — never a single-partition window
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit [qid"), p)
  }

  test("t07: bigram counts aggregate with map-side partials before the shuffle") {
    val p = plan("t07_bigram_topk")
    // partial_count on the scan side = map-side combine; top-20 is TakeOrdered,
    // not a global sort of the distinct-bigram frame
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t09: the per-language rank limit runs map-side before the skewed shuffle") {
    val p = plan("t09_stratified_sample")
    // Partial WindowGroupLimit = <= 50 rows per lang survive each MAP partition,
    // so the lang-keyed exchange never carries a hot group's corpus share
    assert(p.contains("WindowGroupLimit [lang"), p)
    assert(p.contains("Partial"), p)
  }

  test("a14: hot path is ONE declarative plan — no driver-side descent loop") {
    // the one-shot formulation resolves the whole greedy descent inside a single
    // plan: a per-parent rank window + prefix explode + count-matches semi join.
    // A driver loop would show up as multiple jobs and a .collect() per depth —
    // here the plan itself contains the rank window and the semi join, and
    // building the DataFrame triggers no job at all.
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val df = graft.SparkEntry.queries("a14_hot_path")(spark, sf)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "building the a14 plan must launch no jobs")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(p.contains("LeftSemi"), p)
    assert(df.collect().length === 3)
  }

  test("b10: no window moves the whole dataset to one partition") {
    // the data window is keyed by the deterministic __pid bucket; cross-bucket
    // offsets come from an exploded 128-row counts aggregate, not a window
    val p = plan("b10_slice")
    assert(p.contains("Window"), p)
    assert(p.contains("__pid"), p)
    // the offsets side must broadcast, never shuffle the data to meet it
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("e08: as-of join is one user-keyed exchange — no range join, no cartesian") {
    val p = plan("e08_asof_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the union+window formulation has NO join at all: the carry-forward is a
    // user_id-partitioned running window over the tagged union
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("d11: the eval shingle set broadcasts; the corpus probe never shuffles") {
    val p = plan("d11_decontam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // per-doc counts combine map-side before the doc_id exchange
    assert(p.contains("partial_count"), p)
  }

  test("d11 corpus-scale branch: one corpus shingle exchange, no cross-row dedup") {
    // decontaminateDocs dedupes (doc_id, shingle) INSIDE the scan (the
    // ShingleHashes kernel's per-doc distinct array), so the only corpus-scale
    // exchange is the probe join's own — the two-live-corpus-shuffles form is
    // what exhausted the sf1000 scratch disk (SCALECHECK.md round 13). A
    // (doc_id, shingle)-keyed exchange anywhere means a cross-row dedup
    // regressed back into the plan.
    val p = TextOps.decontaminateDocs(
        Tables.documents(spark, sf), broadcastEval = false)
      .queryExecution.executedPlan.toString
    assert(!"hashpartitioning\\(doc_id[^)]*shingle".r.findFirstIn(p).isDefined,
      s"dedup re-exchanged on (doc_id, shingle):\n$p")
    assert("Exchange hashpartitioning\\(shingle".r.findAllIn(p).size <= 2,
      s"more than corpus+eval shingle exchanges:\n$p")
  }

  test("d10: the exact-dedup exchange is narrow — text never shuffles") {
    // r10 removed the survivor-frame shingle/band rebuild: candidates
    // semi-join the cached full-corpus pairs, the Jaccard verify reads the
    // cached distinct-shingle frame. The cached frames themselves can't be
    // plan-pinned — the components loop consumes them EAGERLY at construction
    // time and the returned plan sees only its localCheckpoint leaves — but
    // the change's other half can: with no band/shingle consumer left on the
    // survivor frame, the keep-min window's exchange must carry (doc_id, lang,
    // n_chars, md5) and never the text column. A regression that rebuilds
    // shingles from the survivor frame re-grows text through this exchange.
    val qe = graft.SparkEntry.queries("d10_clean_corpus")(spark, sf).queryExecution
    val fmt = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    val blocks = fmt.split("\n\\(").toSeq
    val exch = blocks.filter(b => b.startsWith("Exchange", b.indexOf(") ") + 2) &&
      b.contains("hashpartitioning(__h"))
    assert(exch.nonEmpty, s"no md5-keyed dedup exchange found:\n$fmt")
    exch.foreach(b => assert(!b.contains("text#"),
      s"the dedup window's exchange drags the text column:\n$b"))
    // and the keep-min row_number is rank-limited MAP-SIDE before that exchange
    assert(fmt.contains("WindowGroupLimit"), fmt)
  }

  test("e06 salted sessions equal plain sessions (salt-invariance)") {
    val e01 = graft.SparkEntry.queries("e01_sessions")(spark, sf).collect()
    val e06 = graft.SparkEntry.queries("e06_sessions_salted")(spark, sf).collect()
    assert(e06.length === e01.length)
    assert(e06.map(_.toString).sorted === e01.map(_.toString).sorted)
  }

  test("e06's stage 1 plans a single exchange (gaps-and-islands form)") {
    // the final aggregation of stage 1 rides the window's (user_id, __day)
    // exchange; the rows are pinned against e01 by the salt-invariance test
    val plan = EventOps.sessionsSalted(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"expected stage1 + stage2 + sort exchanges only:\n$plan")
  }

  test("whole-stage codegen covers the scan-heavy queries") {
    // AQE prints isFinalPlan=false (no codegen markers) until executed — run first.
    // t01/t03/t04 route through the native kernels (count_words_in,
    // normalize_text, token_counts) — codegen coverage here pins that the
    // custom expressions don't break the WholeStageCodegen span.
    for (q <- Seq("b07_case_expr", "t01_textstats", "t03_fingerprint",
        "t04_token_count", "b20_math")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      df.collect() // executes THIS df's queryExecution (count() would build another)
      // codegen stages print as "*(n) Op" in the plan tree
      assert(df.queryExecution.executedPlan.toString.contains("*(1)"), s"$q lost codegen")
    }
  }
}
