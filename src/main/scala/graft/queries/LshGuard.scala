package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Hot-bucket guard for LSH candidate generation (r16; bounded-state and
  * payload-carrying since r17).
  *
  * A bucket self-join emits |bucket|²/2 pairs from a single (band, sig) key:
  * benign corpora never show it (every measured corpus sits at a flat ~0.15
  * pairs/doc because md5-128 band signatures make random collisions nil), but
  * a real 100 TB corpus has boilerplate mega-clusters — 10⁵ near-identical
  * docs in one bucket is 10¹⁰ pairs from one key, materialized by the
  * pair-level distinct and the verify checkpoint. This failure class is worst
  * in the TRUE-duplicate regime, where the colliding docs really are
  * near-dups of each other — for SimHash that means every streamed pair also
  * PASSES the hamming verify, so inline filtering (d07's r10 fix for the
  * random-collision regime) is no defense there.
  *
  * The guard: buckets over `cap` members short-circuit to a STAR on the
  * bucket's min id — every member pairs with the representative only
  * (|bucket|−1 edges instead of the clique). Members of an oversized bucket
  * share an identical LSH band signature, so they are mutual near-dup
  * candidates by construction; downstream the star preserves exactly what the
  * clique fed each consumer: d09/d10's connected components (a verified star
  * is one component, same as a verified clique), and dedup keep-min semantics.
  * What it deliberately gives up in the capped regime is the exhaustive
  * pair LIST (d04) and per-pair verify values for non-representative pairs
  * (d05/d07) — the documented trade, knob-controlled, and inactive below the
  * cap: `SPARK_GRAFT_BUCKET_CAP` defaults far above every measured benign
  * corpus (BucketGuardSpec pins guarded ≡ unguarded there, so all oracle rows
  * are bit-identical with the guard in place).
  *
  * Plan shape (r16 aggregate form; r17 emission): ONE aggregation exchange of
  * the membership frame, then pair emission by exploding each bucket's
  * collected member list — no self-join at all.
  *
  * Why not the self-join: the original guard put the size/min accounting as
  * a WINDOW on the join's a-side, reasoning it would ride the SortMergeJoin's
  * own exchange. Measured (SCALECHECK.md r16): exchange REUSE does not fire
  * across the join/window/star consumers on Spark 4.1 + AQE + cached input,
  * so the membership frame was physically shuffled THREE times (window side,
  * plain c-side, star branch) — and even the pre-guard join wrote it TWICE
  * (both SMJ sides; d04 at sf100: 1530 MB unguarded, 2266 MB with the
  * windowed guard, one bands copy ≈ 736 MB). The aggregate form writes it
  * ONCE by construction, with both regimes emitted from the SAME pass
  * (measured 796 MB at sf100, −48% vs the unguarded join).
  *
  * Emission (r17, replacing r16's explode-full-list + `id_a < id_b` filter):
  * each bucket's list is sorted once, the a-side posexplodes it, and the
  * b-side explodes only `slice(list, p+2, …)` — the members strictly AFTER
  * the a-member in sort order. Ordering holds by construction (no filter
  * evaluates), no generated row is discarded, and the carried b-side array
  * halves on average — the fix for d04's measured low-parallelism emission
  * cost (9.2 → 24.1 s at the sf100 sweep's 16-way shape on the r16 form).
  *
  * Memory bound — BY CONSTRUCTION since r17, not by argument: aggregation
  * runs through [[graft.functions.BoundedCollectMin]], whose state holds the
  * exact bucket count, the exact bucket min, and AT MOST `stateCap` retained
  * members. The r16 collect_list form's state was linear in bucket size (a
  * pathological 10⁸-member bucket ≈ an 800 MB aggregation row, stated then as
  * out of design range); now a bucket beyond `stateCap` keeps a bounded
  * first-seen subset and its star degrades gracefully: the min (exact at any
  * size) pairs with the retained members only, and members beyond the bound
  * simply receive no candidate edge — they stay independent docs, the safe
  * direction for every consumer (dedup keeps them; components leave them
  * singleton). `stateCap` defaults 64× above the star threshold
  * (`SPARK_GRAFT_BUCKET_STATE_CAP` to override), so the degradation regime
  * starts two orders of magnitude past the largest measured real bucket.
  * Below `cap` (≤ stateCap always, enforced) the retained list is provably
  * complete, so the clique regime is untouched.
  *
  * Preconditions on the id / member column (both hold for every caller by
  * construction):
  *  - NON-NULL: [[graft.functions.BoundedCollectMin]] skips nulls like
  *    collect_list, so a null id would silently vanish from its bucket's
  *    count and pair set (the r16 advice note on the collect_list form, now
  *    part of the stated contract). Every caller passes a non-null doc_id /
  *    vec_id / (id, sig) struct.
  *  - DISTINCT PER BUCKET: at most one row per (member, key). The r17
  *    sorted-slice emission guarantees only `m_a <= m_b` — a duplicated
  *    member value in one bucket would emit an (x, x) self-pair in the
  *    clique regime (where r16's explicit `id_a < id_b` join filter dropped
  *    it unconditionally), and in the star regime `filter(sorted, =!= mn)`
  *    drops EVERY copy of the min, not just one. Every caller builds one
  *    row per doc per band, so both behaviors are latent; BucketGuardSpec
  *    pins them so a future caller cannot rely on a strictness the
  *    construction no longer enforces.
  *
  * CPU (r18): the membership frame takes a codegen'd count-only
  * pre-aggregation first, and only members of buckets with more than one row
  * reach [[graft.functions.BoundedCollectMin]] — a TypedImperativeAggregate
  * whose per-row update path runs interpreted (`child.eval` + copy +
  * interpreted ordering). At sf100 d04's ~19 M (band, sig) groups are
  * overwhelmingly singletons, so the r17 form paid that interpreted path on
  * every membership row for nothing (the round-17 verdict's one attributable
  * wall regression: d07 11.2 → 19.8 s); the pre-drop routes the singleton
  * mass through HashAggregateExec's codegen'd count over xxhash64(keys)
  * (whose shuffle carries 16 bytes/row, no member payload), builds a bloom
  * filter of the hot hashes, and scan-locally filters the membership frame
  * through it before the bounded aggregation — so the payload's one exchange
  * carries only non-singleton members at every scale. Results are
  * byte-identical by construction: singleton buckets emit no pairs in any
  * regime, and a bloom false positive only spuriously keeps one. Measured at
  * sf100 (16g/16 standalone, r17 baselines in parentheses): d04 899 → 1038
  * MB for 10.97 → 5.9 s, d07-64 418 → ~500 MB for 19.8 → ~7 s — the byte
  * cost is the thin count exchange, the wall win is the interpreted
  * aggregation running over ~nothing. The pre-drop is unconditional.
  *
  * Observability (r18): a fired star used to be visible only if the operator
  * separately ran [[oversizedBuckets]] — a second aggregation ScaleCheck
  * remembers to run and a production caller won't. The guarded plan now
  * carries a `Dataset.observe` node (named `graft.lsh.guard.N`) counting
  * capped buckets and their membership rows; a once-per-session
  * QueryExecutionListener reads the metric after every action through the
  * plan, logs a driver-visible line when the guard FIRED, and accumulates
  * [[guardFiredTotals]] (spec-pinned: nonzero on a planted megacluster, zero
  * on the benign oracle corpus).
  */
object LshGuard {

  /** Default cap, overridable via SPARK_GRAFT_BUCKET_CAP. Sized from
    * measurement (tools.BucketStats; SCALECHECK.md r16 bucket-size table):
    * MinHash (band, sig) buckets max out at 16 on sf0.1/sf1 and at 2704 on
    * sf1000 — the synthesis cipher's fixed-point residue family (all-digit /
    * stopword-invariant docs colliding across composite replicas), i.e. a
    * genuine boilerplate-class duplicate group, which the 4096 default still
    * clears so every recorded sf1000 measurement keeps its exact byte
    * profile; sign-LSH embedding buckets max at 5 everywhere (corpus-derived
    * band width holds occupancy flat — 20M vectors at 28 bits). At the next
    * decade the residue family would legitimately cross the cap and the
    * guard stars it — the intended behavior for a true mega-dup group. An
    * adversarial 10⁵-member bucket's 5·10⁹-pair clique becomes 10⁵−1 edges.
    */
  val DefaultCap = 4096

  def cap: Int = Knobs.int("SPARK_GRAFT_BUCKET_CAP").getOrElse(DefaultCap)

  /** Default aggregation-state bound: 64× [[DefaultCap]] (≈ 2 MB of retained
    * longs, ≈ 6 MB of (id, sig) structs per worst-case bucket row), two
    * orders of magnitude above the largest measured real bucket (2704 at
    * sf1000). Between `cap` and this bound the star is exhaustive; beyond it
    * the star covers the retained subset only (see the degradation contract
    * above). Override with SPARK_GRAFT_BUCKET_STATE_CAP.
    */
  val DefaultStateCap: Int = DefaultCap * 64

  def stateCap: Int =
    Knobs.int("SPARK_GRAFT_BUCKET_STATE_CAP").getOrElse(DefaultStateCap)

  /** Prefix of the in-plan observation names; the numeric suffix keeps names
    * unique when one plan composes several guarded passes.
    */
  private val ObserveNamePrefix = "graft.lsh.guard."
  private val observeSeq = new AtomicLong

  private val cappedBucketsTotal = new AtomicLong
  private val starredMembersTotal = new AtomicLong

  /** (capped buckets, membership rows in capped buckets) accumulated across
    * every completed action through a guarded plan in this JVM — the
    * driver-visible "did the guard fire" signal (r18). Updated
    * asynchronously by the listener bus; measurement readers drain the bus
    * (or poll) before asserting.
    */
  def guardFiredTotals: (Long, Long) =
    (cappedBucketsTotal.get, starredMembersTotal.get)

  private[graft] def resetGuardFiredTotals(): Unit = {
    cappedBucketsTotal.set(0)
    starredMembersTotal.set(0)
  }

  /** Register the two Spark-internal bloom expressions the pre-drop uses
    * (the same classes InjectRuntimeFilter builds directly): the aggregate
    * sized at 4M expected hot buckets / 4 MB of bits — inside the configured
    * runtime-filter ceilings, exact-ish on every measured corpus, and
    * degrading only in prune RATE beyond it (false positives keep
    * singletons, never drop members).
    */
  private def registerBloomKernels(s: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val reg = s.sessionState.functionRegistry
    reg.registerFunction(
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (args: Seq[Expression]) =>
        new BloomFilterAggregate(args.head, Literal(4000000L), Literal(33554432L)))
    reg.registerFunction(
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (args: Seq[Expression]) =>
        new BloomFilterMightContain(args(0), args(1)))
  }

  // weak keys (r19): the registration guard must not pin stopped sessions
  // for the JVM lifetime — the listener itself dies with its session
  private val observedSessions =
    java.util.Collections.newSetFromMap(java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Once per session: read every guarded plan's observation after each
    * successful action, log a driver line when the guard FIRED, accumulate
    * the totals. Registration is idempotent per session; the listener is
    * cheap (a map lookup per action) and permanent by design — the guard's
    * whole point is that production runs see it fire without opting in.
    */
  private def installGuardListener(s: SparkSession): Unit =
    if (observedSessions.add(s))
      s.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(ObserveNamePrefix)) {
              val capped = row.getLong(row.fieldIndex("capped_buckets"))
              val starred = row.getLong(row.fieldIndex("starred_members"))
              if (capped > 0) {
                cappedBucketsTotal.addAndGet(capped)
                starredMembersTotal.addAndGet(starred)
                System.err.println(s"[graft] LSH hot-bucket guard FIRED: " +
                  s"$capped bucket(s) starred covering $starred membership " +
                  s"rows (observation=$name action=$funcName) - capped " +
                  "buckets emit a star on their min id, not the exhaustive " +
                  "pair clique; run LshGuard.oversizedBuckets for the bucket list")
              }
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Pairs of ids sharing any key-bucket of `b` (one row per id per bucket
    * membership), `id_a < id_b`, deduped across buckets — the LSH candidate
    * self-join — with buckets over `cap` members emitting a star on the
    * bucket min instead of the quadratic clique.
    */
  def guardedSelfJoinPairs(b: DataFrame, idCol: String, keyCols: Seq[String],
      cap: Int = cap, stateCap: Int = stateCap): DataFrame =
    guardedMemberPairs(b, idCol, keyCols, cap, stateCap)
      .withColumnsRenamed(Map("m_a" -> "id_a", "m_b" -> "id_b"))
      .distinct()

  /** The guard's streaming core: one row per in-bucket ordered member pair
    * (`m_a < m_b` in `memberCol`'s natural order), NOT deduped across
    * buckets — a member may be a bare id or a struct carrying verify payload
    * (id first, so the struct order is the id order). Callers that verify
    * (d07's inline hamming) filter THIS stream and dedup only the survivors,
    * keeping the random-collision regime free of pair-sized state; callers
    * that want the candidate set use [[guardedSelfJoinPairs]].
    */
  def guardedMemberPairs(b: DataFrame, memberCol: String, keyCols: Seq[String],
      cap: Int = cap, stateCap: Int = stateCap): DataFrame = {
    require(cap >= 2, s"bucket cap must be >= 2, got $cap")
    require(stateCap >= cap,
      s"bucket state cap ($stateCap) must be >= the star cap ($cap): below " +
        "the star threshold the retained list must be complete")
    graft.functions.BoundedCollectMin.register(b.sparkSession)
    installGuardListener(b.sparkSession)
    val keys = keyCols.map(col)
    // Singleton pre-drop (r18): only members of buckets with >1 row reach the
    // interpreted TypedImperativeAggregate. The count pass is a codegen'd
    // HashAggregate over xxhash64(keys) — 16 bytes/row where MinHash's
    // (band, md5-sig) keys are ~48 (measured at sf100: the key-typed count
    // pass put d04 at 1447 MB vs the hashed form's thin exchange) — and the
    // kept-hash frame is tiny on every benign corpus (AQE broadcasts it), so
    // the membership frame reaches the bounded aggregation unshuffled and
    // already pruned. A 64-bit hash collision merges two buckets' counts and
    // can only spuriously KEEP a singleton — the safe direction: the bounded
    // aggregation re-groups by the TRUE keys, so output is byte-identical in
    // every case (and the post-agg n > 1 filter drops the kept singleton,
    // doubling as the null-member backstop — a bucket of one non-null member
    // padded by nulls passes the row count but not the non-null count).
    val n = col("__g.n")
    val mn = col("__g.mn")
    val sorted = array_sort(col("__g.items"))
    // The shipped pre-drop is a scan-local predicate, not a join: the
    // membership scan computes xxhash64(keys) as a transient column, a thin
    // count pass aggregates the hot (n > 1) hashes into a bloom filter, and
    // that bloom reaches the scan as a scalar subquery feeding
    // might_contain — so the payload's ONE exchange is the groupBy over the
    // TRUE keys below, now carrying only non-singleton members, and no
    // second payload exchange can ever appear because there is no join to
    // plan (the expression-keyed join form re-shuffled the payload at sf100
    // d07-64, where EVERY 16-bit bucket is hot: 469 → 812 MB — measured and
    // rejected).
    // A bloom runtime filter, not a semi-join: the hot-hash set rides into
    // the membership scan as a SCALAR SUBQUERY feeding might_contain — the
    // exact mechanism Spark's own InjectRuntimeFilter uses — so the drop is
    // a codegen'd scan-local predicate with NO join to plan. Both join forms
    // were measured and rejected: AQE's broadcast regime is benign-optimal
    // but degrades to a sort-merge join once the hot side outgrows the
    // threshold, and that SMJ's sort over the full payload on AQE-coalesced
    // partitions OOM'd the fifth-decade d09 rep at the documented 0.5
    // GB/task density; forcing shuffle_hash avoids the sort but blocks the
    // broadcast conversion, so the payload shuffled PRE-prune on every
    // benign corpus (d12 sf0.1: 0.29 → 0.90 MB). The bloom has neither
    // regime: fixed 4 MB of bits at any corpus size, and false positives
    // only spuriously KEEP a singleton — the safe direction (the bounded
    // aggregation re-groups by the true keys and the n > 1 filter drops
    // them), so output stays byte-identical while the prune rate degrades
    // gracefully past ~4M hot buckets. An all-singleton corpus aggregates a
    // NULL bloom and might_contain(null) drops every row — vacuously right,
    // since no bucket could pair.
    registerBloomKernels(b.sparkSession)
    val b2 = b.withColumn("__kh", xxhash64(keys: _*))
    val hotBloom = b2.groupBy("__kh").agg(count(lit(1)).as("__n0"))
      .filter(col("__n0") > 1)
      .agg(expr("graft_bloom_agg(__kh)").as("__bf"))
      .scalar()
    val members = b2
      .filter(call_function("graft_might_contain", hotBloom, col("__kh")))
      .drop("__kh")
    members.groupBy(keys: _*)
      .agg(expr(s"bounded_collect_min(`$memberCol`, $stateCap)").as("__g"))
      // keys served their purpose (the grouping); prune them before the
      // explode so bucket rows ride as a bare list. Singleton buckets (the
      // overwhelming majority on a benign corpus) emit no pairs — drop them
      // before any generator runs. Each kept bucket becomes ONE sorted list
      // with the pair-generating a-side FIRST: the full list below the cap
      // (clique regime), the exact min prepended to the retained non-min
      // members above it (star regime — `mn` need not be in the retained
      // subset, so it is prepended, not assumed present).
      .filter(n > 1)
      // in-plan fired-guard accounting (r18) — read by the session listener
      // after every action through this plan; coalesce because an all-benign
      // corpus aggregates zero capped rows to a null sum
      .observe(s"$ObserveNamePrefix${observeSeq.incrementAndGet()}",
        coalesce(sum(when(n > cap, lit(1L))), lit(0L)).as("capped_buckets"),
        coalesce(sum(when(n > cap, n)), lit(0L)).as("starred_members"))
      .select(when(n <= cap, sorted)
        .otherwise(concat(array(mn), filter(sorted, _ =!= mn))).as("__m"),
        (n <= cap).as("__clique"))
      // a-side: every member below the cap, ONLY the head (= the min) above
      // it — one branch, both semantics. b-side: the members strictly after
      // the a-member in sort order (1-based slice from p+2), so m_a < m_b
      // holds by construction and no generated row is filtered away.
      .select(posexplode(when(col("__clique"), col("__m"))
        .otherwise(slice(col("__m"), 1, 1))).as(Seq("__p", "m_a")), col("__m"))
      .select(col("m_a"),
        explode(slice(col("__m"), col("__p") + lit(2), size(col("__m")))).as("m_b"))
  }

  /** The unguarded clique form, kept as the equivalence baseline
    * (BucketGuardSpec pins guarded ≡ unguarded below the cap) and as the
    * explicit opt-out for a caller that truly wants the exhaustive pair list
    * of a skewed corpus.
    */
  def cliqueSelfJoinPairs(b: DataFrame, idCol: String,
      keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val a = b.select(col(idCol).as("id_a") +: keys: _*)
    val c = b.select(col(idCol).as("id_b") +: keys: _*)
    a.join(c, keyCols).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Measurement probe: the buckets the guard would cap — (keys…, bucket
    * size), largest first. ScaleCheck logs its count per corpus so a fired
    * guard is always driver-visible; empty on every benign corpus.
    */
  def oversizedBuckets(b: DataFrame, keyCols: Seq[String],
      cap: Int = cap): DataFrame =
    b.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > cap)
      .orderBy(desc("bucket_size"))
}
