package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components with min-id labels — the clustering stage a
  * production dedup pipeline runs AFTER near-dup pair generation (pairs say "a ~ b";
  * the pipeline needs "keep one doc per transitive group").
  *
  * Algorithm: min-label propagation with pointer jumping. Every node starts
  * labeled with itself; each round takes the min of its own and its neighbors'
  * labels, then compresses one pointer hop (label := label's label). Labels only
  * decrease, never leave the component, and at the fixpoint every adjacent pair
  * has equal labels — so the label IS the component's min id, exactly and
  * deterministically (no dependence on partitioning or visit order; the DuckDB
  * oracle reproduces it with a recursive-CTE reachability min).
  *
  * Scale: each round is two keyed equi-joins + one keyed min aggregation — no
  * cartesian anywhere, shuffle keys are node ids (near-uniform for hashed doc
  * ids). Isolated-edge components — the dominant cluster shape in real dedup
  * graphs — retire before the loop with a single degree scan, so the per-round
  * joins run over the chain/star residue only. Plain propagation alone needs
  * O(component diameter) rounds; the pointer
  * jump compresses chains so label trees halve each round (O(log diameter) —
  * near-dup clusters are shallow in practice, but a 100 TB corpus can chain, and
  * log-rounds is what makes the driver loop safe there). Each round
  * localCheckpoints a frame of one row per node-in-any-pair — orders of magnitude
  * smaller than the corpus; the loop is driver-BOUNDED (by the round count), not
  * driver-SIZED: no per-row data ever reaches the driver except
  * the one `changed` count per round.
  */
object Components {

  // SPARK_GRAFT_COMPONENTS_LOG=1 prints per-stage walls and per-round changed
  // counts — the attribution tool behind SCALECHECK.md's d09/d10 stage split.
  private def logLine(msg: => String): Unit =
    if (sys.env.get("SPARK_GRAFT_COMPONENTS_LOG").contains("1"))
      println(s"COMPONENTS $msg")

  /** Release a localCheckpoint'ed frame's pinned storage blocks (r18, the
    * d09 spill item: sf1000's pointer-jumping loop held EVERY round's
    * checkpoint live — ~7× cumulative spill against ~52 GB of shuffle —
    * because a superseded round's blocks free only when the GC and the
    * ContextCleaner get around to them, while the loop keeps allocating
    * against the same unified memory pool). localCheckpoint truncates
    * lineage, so an unpersisted frame CANNOT be recomputed — callers drop
    * only frames that are provably dead: superseded by the NEXT round's
    * eager checkpoint, or never read past this function.
    */
  private def dropCheckpoint(df: DataFrame): Unit =
    // collectLeaves, not a root match: the loop's label frames are thin
    // projections OVER their round's checkpoint (next.drop("__chg")), so the
    // LogicalRDD sits one node down. A frame with no LogicalRDD leaf (never
    // expected here) silently leaks rather than crashes.
    df.queryExecution.logical.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Below this many SYMMETRIC edge rows (2× undirected edges) the pair
    * retirement prepass costs more than it saves: its degree aggregation,
    * self-join, and anti-join are three fixed shuffle+checkpoint jobs
    * (~1.5 s of scheduler floor at local[32]) while the loop they shrink
    * converges in 2–3 sub-second rounds anyway at that size. The measured
    * trade (SCALECHECK.md): sf0.1 regressed 2.25 → 3.74 s with retirement
    * always-on (~1.2k sym rows), sf1 was neutral (~12k), sf10 won 2×
    * (~120k). 50k sits in the decade gap between the neutral and the
    * winning point, so both measured regimes land on their proven-better
    * branch. The gate reads the count of the ALREADY-checkpointed frame —
    * one cheap job over pinned partitions, no extra lineage at any scale.
    */
  private[queries] val RetireMinSymRows = 50000L

  /** (id, cluster) for every node in `edges`, cluster = min node id reachable.
    * `edges` columns: id_a, id_b (one row per undirected edge, either order).
    *
    * `retirePairs`: force the isolated-pair retirement prepass on/off; None
    * (production) gates it on [[RetireMinSymRows]]. Both branches are exact —
    * ComponentsSpec pins label-for-label equality on a mixed-shape graph.
    */
  def minLabelComponents(edges: DataFrame, maxRounds: Int = 50,
      retirePairs: Option[Boolean] = None): DataFrame =
    minLabelComponentsWithRounds(edges, maxRounds, retirePairs)._1

  /** [[minLabelComponents]] plus the number of propagation rounds the loop
    * actually ran — the O(log diameter) claim as a returned measurement
    * (ScaleCheck's giant-component step and ComponentsSpec's log-bound
    * assertions read it) instead of a log line behind an env knob.
    */
  def minLabelComponentsWithRounds(edges: DataFrame, maxRounds: Int = 50,
      retirePairs: Option[Boolean] = None): (DataFrame, Int) = {
    val t0 = System.nanoTime()
    // Symmetrize in ONE pass (r21): explode each directed edge into both
    // orientations inside a single projection, so the upstream edge plan —
    // in the dedup pipeline a full candidate-verification (band join +
    // Jaccard counts) — executes exactly once, inside the one checkpoint
    // that pins the frame the loop re-reads every round. The pre-r21 form
    // needed TWO checkpoints for the same guarantee (pin the directed frame,
    // then union two projections over it and pin that): one extra action,
    // one extra full materialization of the edge set, and the pinned
    // directed copy to release — at sf0.1 the two-checkpoint symmetrize was
    // 0.86–2.07 s of a ~2.3–3.7 s components stage (logged warm reps); at
    // sf1000 it materialized the 4.5 M-row verify output twice.
    val sym = edges.select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .localCheckpoint() // the edge frame is reused every round; pin it once
    // Attribute the upstream edge materialization (in the dedup pipeline: the
    // whole band-join + Jaccard verify, by far the dominant cost at sf1000)
    // separately from the retirement prepass — the pre-r13 log charged both
    // to stage=retire_pairs, which misread as "the prepass IS the cost".
    logLine(f"stage=edges sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    val tRet = System.nanoTime()
    // EARLY RETIREMENT of isolated-edge components: in a real near-dup corpus
    // the overwhelming majority of clusters are PAIRS (one duplicated doc). A
    // node whose single distinct neighbor's own single distinct neighbor is
    // itself forms a closed {u, v} component — its label is min(u, v) by
    // definition, no propagation needed. Retiring those up front costs one
    // degree aggregation plus a self-join of the degree-1 slice, and shrinks
    // the iterative loop's input to the chain/star residue — each LOOP round
    // costs two joins + an aggregation over every remaining node, so removing
    // the pair mass from ALL rounds dwarfs the one-time degree scan — once the
    // graph is big enough that rounds dominate the prepass's fixed job floor
    // ([[RetireMinSymRows]]); below that the prepass is skipped outright.
    // An explicit caller force (specs pin both branches) outranks the size gate.
    val doRetire = retirePairs.getOrElse(sym.count() >= RetireMinSymRows)
    val (pairLabels, residual) = if (!doRetire) {
      logLine(f"stage=retire_pairs skipped=true sec=${(System.nanoTime() - tRet) / 1e9}%.2f")
      // empty, typed off sym so the final union matches the loop's id type
      (sym.limit(0).select(col("u").as("id"), col("u").as("lbl")), sym)
    } else {
      val deg1 = sym.groupBy("u").agg(countDistinct("v").as("dg"), min("v").as("nb"))
        .filter(col("dg") === 1).select(col("u"), col("nb"))
        .localCheckpoint() // read twice (both sides of the self-join) + anti-join
      val pl = deg1.alias("a")
        .join(deg1.alias("b"), col("a.nb") === col("b.u") && col("b.nb") === col("a.u"))
        .select(col("a.u").as("id"), least(col("a.u"), col("a.nb")).as("lbl"))
        .localCheckpoint()
      // a retired node's edges all lead to its retired partner, so dropping every
      // sym row whose u is retired removes exactly the retired components' edges
      val res = sym
        .join(pl.select(col("id").as("u")), Seq("u"), "left_anti")
        .localCheckpoint()
      // res supersedes sym as the loop's edge frame, and deg1 fed only the
      // two eager checkpoints above — both provably dead from here
      dropCheckpoint(deg1)
      dropCheckpoint(sym)
      logLine(f"stage=retire_pairs pairs_nodes=${pl.count()} " +
        f"residual_edges=${res.count()} sec=${(System.nanoTime() - tRet) / 1e9}%.2f")
      (pl, res)
    }
    var labels = residual.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val tr = System.nanoTime()
      val nbrMin = residual.join(labels.select(col("id").as("v"), col("lbl").as("vl")), "v")
        .groupBy(col("u").as("id")).agg(min("vl").as("nl"))
      // carry the pre-round label through as __old so the convergence check is a
      // filter on the checkpointed frame, not another join+shuffle per round
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("__old"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
      // pointer jump: label := label's current label (labels are node ids, so the
      // lookup is a self-join); compresses label chains for log-round convergence
      val mm = prop.select(col("id").as("__mid"), col("lbl").as("__mlbl"))
      val next = prop.join(mm, prop("lbl") === mm("__mid"))
        .select(prop("id").as("id"), col("__mlbl").as("lbl"),
          (col("__mlbl") =!= col("__old")).as("__chg"))
        .localCheckpoint() // cut the per-round plan growth; also the changed-count input
      changed = next.filter(col("__chg")).count()
      // next is eagerly materialized; the superseded round's label blocks are
      // dead — release them NOW instead of letting them pin unified memory
      // until the GC notices (the sf1000 7× spill-to-shuffle item, r18)
      dropCheckpoint(labels)
      labels = next.drop("__chg")
      rounds += 1
      logLine(f"stage=round n=$rounds changed=$changed sec=${(System.nanoTime() - tr) / 1e9}%.2f")
    }
    require(changed == 0, s"components did not converge in $maxRounds rounds")
    // the loop is done reading the edge frame; only the labels survive. In
    // the non-retire branch residual IS sym, whose checkpoint also roots
    // pairLabels' typed-empty plan — keep it there (it is one small frame;
    // the per-round accumulation above was the leak that mattered).
    if (doRetire) dropCheckpoint(residual)
    logLine(f"stage=total rounds=$rounds sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    (labels.union(pairLabels), rounds)
  }
}
