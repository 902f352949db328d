package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding: array<float>`).
  *
  * Three paths, mirroring a production ANN stack:
  *  - s01: brute-force cosine top-k — the exactness baseline. One broadcast of the
  *    query vector, one scan, one top-k sort; no shuffle of the embedding column.
  *  - s02: LSH-bucketed ANN — banded sign-bit hyperplane bucketing: only vectors
  *    sharing one of the query's band buckets are scored. At 100 TB the band bucket
  *    becomes the storage partition key, so the scan prunes to a handful of buckets.
  *  - s03: IVF ANN — an inverted-file index with a coarse quantizer: every vector is
  *    assigned to its nearest of K centroids (the inverted lists); a query probes
  *    only its `nprobe` nearest centroids' lists. At 100 TB the centroid id is the
  *    storage partition key and a probe prunes the scan to nprobe/K of the data.
  *
  * Banding (OR-amplification): 2 bands × 12 sign bits (dims 1–12 and 13–24) give
  * 2^12 buckets per band — within-bucket candidate pairs grow ~N²/4096 per band
  * instead of the old single 8-bit bucket's N²/256, while matching on EITHER band
  * keeps recall (a near-dup whose signs flip in one band still collides on the
  * other). At larger corpus sizes widen `bandBits` — the join shape is unchanged.
  *
  * Dot products use the native codegen'd `vec_dot` expression
  * (graft.functions.VecDot): a sequential multiply-add whose accumulation order is
  * identical to the DuckDB oracle's positional unnest sum — and which stays inside
  * whole-stage codegen, unlike the interpreted `zip_with` + `aggregate` lambdas it
  * replaced (the round-3 bench's s01 cost).
  */
object VectorOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Per-(session, dir, k, lloydIters) caches of the IVF quantizer (centroids)
    * and the inverted-list assignment. s03/s06 share the (K=16, iters=0) config,
    * s04 uses (16, 1), and s05 re-runs all three ANN variants — so the quantizer
    * trains and the corpus assigns ONCE per config per run instead of once per
    * query. This mirrors the production deployment, where the assignment IS a
    * materialized table partitioned by cid (BucketingSpec pins the listing-time
    * pruning) and queries only probe it.
    *
    * Staleness contract matches TextOps/Hierarchy: entries key on (session, dir,
    * config) and are never invalidated — callers that rewrite inputs must
    * [[clearCaches]].
    */
  private val centsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int, Int), DataFrame]
  private val assignCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int, Int), DataFrame]

  private def centroidsCached(s: SparkSession, d: String, k: Int, iters: Int): DataFrame =
    centsCache.getOrElseUpdate((s, d, k, iters),
      ivfCentroids(embeddings(s, d), k, iters).cache())

  private def ivfAssignCached(s: SparkSession, d: String, k: Int, iters: Int): DataFrame =
    assignCache.getOrElseUpdate((s, d, k, iters),
      ivfAssign(embeddings(s, d), centroidsCached(s, d, k, iters)).cache())

  /** Materialize the two oracle-pinned IVF configs up front (bench warmup) so
    * per-query timings attribute to probing, not to whichever ANN query first
    * trains the quantizer.
    */
  def prewarm(s: SparkSession, d: String): Unit =
    prewarmStages(s, d).foreach(_._2())

  /** Independent prewarm stages (see TextOps.prewarmStages for the contract):
    * the two IVF configs key different cache entries, so they are concurrency-
    * safe. `vec_dot` registration is driver-only, idempotent, and cheap — it
    * runs at stage-LIST construction so it is in place regardless of which
    * stage executes first on which thread.
    */
  def prewarmStages(s: SparkSession, d: String): Seq[(String, () => Unit)] = {
    graft.functions.VecDot.register(s)
    Seq(
      // Warm the bandBitsFor corpus count here so the first timed d08/s02 rep
      // attributes to the query plan, not to the one-off count job (the r12
      // sf0.1 bench charged s02 +0.36 s for it). TrieMap getOrElseUpdate may
      // double-run the count under a concurrent first query — harmless.
      "emb-count" -> (() => { embCountCached(s, d); () }),
      // d08's guard reads the banded frame twice (bloom pass + aggregation);
      // build the cache here so the first timed rep doesn't absorb it.
      // Gate-aware (r19): above the footprint gate d08 re-bands per pass and
      // caches nothing, so prewarming would pay a full corpus banding for a
      // frame no query reads.
      "vec-bands" -> (() => {
        if (vecBandsCacheOn(s, d))
          vecBandsCached(s, d, bandBitsFor(embCountCached(s, d))).count()
        ()
      }),
      "ivf-16-0" -> (() => { ivfAssignCached(s, d, 16, 0).count(); () }),
      "ivf-16-1" -> (() => { ivfAssignCached(s, d, 16, 1).count(); () }))
  }

  /** Unpersist and drop every cached frame (staleness/leak hook for long sessions). */
  def clearCaches(): Unit = {
    for (m <- Seq(centsCache, assignCache)) {
      m.values.foreach(_.unpersist())
      m.clear()
    }
    vecBandsCache.values.foreach(_.unpersist())
    vecBandsCache.clear()
    countCache.clear()
  }

  /** cos(embedding, qe), rounded to 5 dp (both oracle-side and here). */
  private def dotCos: Column =
    round(expr("vec_dot(embedding, qe)") /
      (sqrt(expr("vec_dot(embedding, embedding)")) * sqrt(expr("vec_dot(qe, qe)"))), 5)

  private val bandBits = 12
  private val nBands = 2

  /** Corpus-derived sign-LSH band width — the constant that killed the
    * round-11 sf100 sweep, turned into an engine rule. A width frozen at the
    * gate-scale default 12 bits puts the candidate join in the quadratic
    * random-collision regime once N approaches 2^bits (at sf100's 2M vectors:
    * 2 × N²/2/2¹² ≈ 9.8e8 pairs, a measured heap OOM); the five-decade
    * measurement campaign (SCALECHECK.md `candidates`) showed +4 bits per
    * decade holds pairs/vec flat at 0.074–0.50 across 100,000×. This rule is
    * that diagonal in closed form: the smallest multiple of 4 with
    * 2^bits ≥ 2N (so each band's random-collision term stays ≤ ~1 pair/vec),
    * floored at the oracle-gate default 12 and capped at 32 (nBands × bits
    * ≤ 64 dims). Integer bit-math, not float log: ceil(log2(2n)) via
    * numberOfLeadingZeros is exact at power-of-two boundaries, where a
    * float log could round either way. The DuckDB mirror in [[bandedSql]]
    * computes the same rule with CEIL(LOG2(2n)) — exact there too, because
    * every power of two is exactly representable as a double and non-powers
    * sit ~1e-15 away from the nearest integer, never crossing a CEIL
    * boundary.
    *
    * Gate scales resolve to today's width (12 bits: N=500 at sf0.01,
    * N=2,000 at sf0.1 — oracle results unchanged); the measured-good sf100
    * width falls out at 24 (N=2M, 0.12 pairs/vec measured) and sf1000 at 28.
    */
  def bandBitsFor(n: Long): Int = {
    require(n >= 1, s"corpus size must be positive, got $n")
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(2 * n - 1) // ceil(log2(2n))
    math.min(32, math.max(bandBits, ((needed + 3) / 4) * 4))
  }

  /** Cached corpus row count per (session, dir) — the one scalar
    * [[bandBitsFor]] needs. One parquet-metadata count per session per dir
    * (on a production cluster this is a table-stats lookup); cleared with
    * [[clearCaches]].
    */
  private val countCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  private[graft] def embCountCached(s: SparkSession, d: String): Long =
    countCache.getOrElseUpdate((s, d), embeddings(s, d).count())

  /** Sign bits of dims [lo+1, lo+bits] as a bucket string (deterministic
    * axis-aligned hyperplane LSH, identical in DuckDB).
    */
  private def signBand(c: Column, lo: Int, bits: Int): Column =
    concat((lo + 1 to lo + bits).map(i =>
      when(element_at(c, i) >= 0, "1").otherwise("0")): _*)

  /** (vec_id, embedding, bi, bucket) — one row per vector per band. The two
    * per-deployment scale knobs, pinned by SCALECHECK.md measurements:
    *  - `bits` (band WIDTH) bounds candidates: random collisions contribute
    *    ~N²/2^bits pairs once N approaches 2^bits, so width grows ~log₂(N)
    *    (+4 bits per 10× corpus). Wider = higher precision, never higher recall.
    *  - `bands` (band COUNT) buys recall back (OR-amplification): a neighbor is a
    *    candidate if it matches ANY band, so more bands = more chances; candidates
    *    scale linearly in `bands`, quadratically in lost `bits`.
    * The oracle-checked s02/d08 variants derive `bits` from the corpus size
    * via [[bandBitsFor]] (12 at the gate scales, 24 at sf100, 28 at sf1000) —
    * the DuckDB oracle computes the identical rule in SQL so both engines
    * band at the same width at every scale.
    */
  private[graft] def banded(emb: DataFrame, bits: Int = bandBits,
      bands: Int = nBands): DataFrame = {
    require(bands * bits <= 64, s"$bands bands x $bits bits exceeds the 64 dims")
    emb.select(col("vec_id"), col("embedding"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("bi"), signBand(col("embedding"), b * bits, bits).as("bucket"))): _*)).as("x"))
      .select(col("vec_id"), col("embedding"),
        col("x.bi").as("bi"), col("x.bucket").as("bucket"))
  }

  /** Sign-LSH candidate pairs: vectors sharing either band's bucket, id_a < id_b.
    * Candidate ids first: the bucket join and the cross-band distinct shuffle ONLY
    * (id_a, id_b) pairs — the 64-float payloads would otherwise ride through both
    * exchanges (2×64 floats per row) just to be deduped by id. Public so
    * ScaleCheck can measure candidate growth across scale factors.
    */
  def embedCandidatePairs(emb: DataFrame, bits: Int = bandBits): DataFrame =
    // Hot-bucket-guarded ([[LshGuard]], r16): sign-LSH buckets are DATA-
    // correlated — a dense region of embedding space lands in one bucket at
    // any band width, so the quadratic-bucket hazard is structural here, not
    // just adversarial. Oversized buckets star on the bucket min; the default
    // cap clears every measured corpus so d08/s02 oracle rows are untouched.
    embedCandidatePairsFrom(banded(emb, bits).select("vec_id", "bi", "bucket"))

  /** [[embedCandidatePairs]] over a prebuilt (vec_id, bi, bucket) membership
    * frame — d08 passes the CACHED frame so the guard's two passes over it
    * (the singleton-count bloom pass, then the bounded aggregation — r18)
    * don't each re-pay the parquet scan + the 24-to-28-term signBand concat.
    */
  def embedCandidatePairsFrom(b: DataFrame): DataFrame =
    LshGuard.guardedSelfJoinPairs(b, "vec_id", Seq("bi", "bucket"))

  /** Cached banded membership frame per (session, dir, width) — the same
    * read-twice-per-query argument as TextOps' unconditional bands cache
    * (r10's measured 63% win at 50 M docs): the r17 join form read this frame
    * on both join sides, the r18 guard reads it in the bloom count pass and
    * the bounded aggregation, and uncached each read is a full embeddings
    * scan + banding (measured r18 at sf100: d08 11.6 → 27.7 s standalone
    * when the bloom pass re-derived it; cached, the pass is a cache hit).
    */
  private val vecBandsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), DataFrame]

  private def vecBandsCached(s: SparkSession, d: String, bits: Int): DataFrame =
    vecBandsCache.getOrElseUpdate((s, d, bits),
      banded(embeddings(s, d), bits).select("vec_id", "bi", "bucket").cache())

  /** Footprint gate for [[vecBandsCached]] (r19 — the r18 VERDICT watch item:
    * the cache landed unconditional where the text-side shingle/decontam
    * caches are gated after two measured storage-pool-thrash incidents,
    * SCALECHECK r10/r13). The pivot is MEASURED, and the measurement moved
    * it: a first-guess 2 GB pivot (text-cache analogy) was falsified at
    * sf1000e (4.9 GB embeddings, 20 M vectors — OVER that pivot): the cached
    * frame is only ~60 B × vectors × bands (the 64-float payload never
    * enters it), ~2.4 GB resident at that decade, fits the 16 GB reference
    * pool with ZERO spill and wins 3.7× (fallback 233.7 s vs cached 63.5 s
    * warm; sf100: 23.8 s vs 10.2 s). The gate therefore sits at 8 GB of
    * embeddings parquet (~2× the measured-good point; resident ≈ half the
    * parquet, so ~4 GB against the 16 GB heap's ~9 GB storage share) — the
    * regime where the resident would genuinely compete with the guard
    * aggregation's execution pool (≥ ~66 M vectors on ONE box; a cluster
    * deployment distributes the cache and moves the pivot with it). Above
    * it — or on an unknown footprint (-1), failing SAFE to the plan correct
    * at any size — each pass re-bands from the parquet scan: scan-local
    * work, no resident block, the recompute-per-pass fallback the text
    * caches use.
    */
  private[graft] val CachedBandsMaxEmbBytes: Long = 8L << 30

  /** The footprint gate: cache the banded frame below
    * [[CachedBandsMaxEmbBytes]]. Both branches feed the identical guarded
    * pair plan — the gate trades speed, never rows.
    */
  private[graft] def vecBandsCacheOn(s: SparkSession, d: String): Boolean = {
    val fp = Sizing.footprintBytesCached(s, s"$d/embeddings.parquet")
    fp >= 0 && fp < CachedBandsMaxEmbBytes
  }

  /** The banded membership frame d08's guard reads twice — cached below the
    * gate, rebuilt per read above it.
    */
  private def vecBandsGated(s: SparkSession, d: String, bits: Int): DataFrame =
    if (vecBandsCacheOn(s, d)) vecBandsCached(s, d, bits)
    else banded(embeddings(s, d), bits).select("vec_id", "bi", "bucket")

  /** cos between two array<float> columns, full double accumulation via vec_dot. */
  private def cosOf(a: String, b: String): Column =
    expr(s"vec_dot($a, $b)") /
      (sqrt(expr(s"vec_dot($a, $a)")) * sqrt(expr(s"vec_dot($b, $b)")))

  /** Nearest-centroid assignment: one broadcast cross-score of the corpus against
    * the K-row centroid frame + a per-vector rank-1 window. Ranking cosines round
    * to 9 dp on BOTH engines: the argmax pick must not depend on sub-ulp
    * accumulation-order differences vs DuckDB — after rounding, near-ties collapse
    * to equal and the cid tie-break decides identically on both sides.
    */
  def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("ccos", round(cosOf("embedding", "ce"), 9))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("ccos"), asc("cid"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))

  /** One deterministic Lloyd refinement: per-dim mean of each inverted list,
    * rounded to 6 dp then cast to float, so the trained quantizer is bit-identical
    * across engines and accumulation orders. One broadcast cross-score + one
    * (cid, pos)-keyed agg — both shuffle-light at any corpus size.
    */
  private def lloydStep(emb: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(emb, cents)
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(round(avg(col("x").cast("double")), 6).as("m"))
      .groupBy("cid").agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m").cast("float")).as("ce"))

  /** The K centroids after `lloydIters` refinements. Seeds are vec_id 1..k (a
    * production build k-means-trains offline from a sample; everything downstream
    * is identical — the seed choice only picks WHICH centroids, not the plan).
    */
  def ivfCentroids(emb: DataFrame, k: Int, lloydIters: Int): DataFrame = {
    val seeds = emb.filter(col("vec_id").between(1, k))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    (1 to lloydIters).foldLeft(seeds)((c, _) => lloydStep(emb, c))
  }

  /** Auto-sizing rule for the IVF quantizer — K was the one per-deployment
    * constant without a codified per-decade rule (bandBits has +4 bits per 10×;
    * K gets ×√10 ≈ 3.2 per 10×): k ≈ √N keeps every inverted list ≈ √N rows, so
    * an nprobe-probe scans ≈ nprobe·√N rows = nprobe/k of the corpus;
    * nprobe = max(1, k/16) pins that probed fraction at ≈ 1/16. Measured
    * (SCALECHECK.md `ivf_auto`): sf0.1 (N=2,000 → k=45, nprobe=2) probes 5.2%
    * vs ideal 4.4%; sf1 (N=20,000 → k=141, nprobe=8) probes 5.3% vs ideal 5.7%
    * — the fraction tracks nprobe/k across the decade while the fixed-K
    * calibration run (K=64/nprobe=4 at sf1: 6.39% vs ideal 6.25%) anchors the
    * same regime.
    */
  def ivfDefaults(n: Long): (Int, Int) = {
    val k = math.max(1, math.round(math.sqrt(n.toDouble)).toInt)
    (k, math.max(1, k / 16))
  }

  /** Deterministic planted-cluster corpus for ANN-quality measurement: vector i
    * belongs to cluster `i % nClusters` and is that cluster's Gaussian centroid
    * plus per-vector noise (σ = 0.35/dim ⇒ in-cluster cosine ≈ 0.9,
    * cross-cluster ≈ 0 for random 64-d centroids). Shared by ScaleCheck's
    * `planted` step and AnnRecallSpec so the measured corpus and the CI-pinned
    * corpus can never drift apart. Seeds are fixed constants: the corpus is a
    * pure function of (nVec, dim, nClusters).
    */
  def plantedEmbeddings(s: SparkSession, nVec: Long, dim: Int, nClusters: Int): DataFrame = {
    import s.implicits._
    s.range(nVec).map { i =>
      val c = (i % nClusters).toInt
      val rc = new scala.util.Random(0xC11057E5L + c)
      val cent = Array.fill(dim)(rc.nextGaussian().toFloat)
      val rv = new scala.util.Random(0xF00DL + i)
      (i, Array.tabulate(dim)(j => cent(j) + 0.35f * rv.nextGaussian().toFloat), c % 16)
    }.toDF("vec_id", "embedding", "label")
  }

  /** IVF search quality vs brute force under the auto-K rule ([[ivfDefaults]],
    * 1 Lloyd iteration), measured over the first `nQ` vec_ids (distinct planted
    * clusters when the corpus is [[plantedEmbeddings]]), self-matches excluded,
    * one batched s06-shaped plan for all queries.
    */
  case class RecallResult(n: Long, k: Int, nprobe: Int,
      probedFraction: Double, recallAt5: Double)

  def ivfRecallVsExact(emb: DataFrame, nQ: Int): RecallResult = {
    val n = emb.count()
    val (k, nprobe) = ivfDefaults(n)
    val cents = ivfCentroids(emb, k, 1).localCheckpoint()
    val probes = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probeLists = probes.crossJoin(broadcast(cents))
      .withColumn("ccos", round(cosOf("qe", "ce"), 9))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("ccos"), asc("cid"))))
      .filter(col("rk") <= nprobe)
      .select("qid", "qe", "cid")
    val assign = ivfAssign(emb, cents)
    val probedRows = assign
      .join(broadcast(probeLists.select("qid", "cid")), "cid").count()
    def top5(cands: DataFrame) = cands
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(cosOf("embedding", "qe"), 9).as("cc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cc"), asc("vec_id"))))
      .filter(col("rk") <= 5).select("qid", "vec_id")
    val hits = top5(assign.join(broadcast(probeLists), "cid"))
      .join(top5(emb.crossJoin(broadcast(probes))), Seq("qid", "vec_id")).count()
    RecallResult(n, k, nprobe,
      probedRows.toDouble / (n.toDouble * nQ), hits / (nQ * 5.0))
  }

  /** The query's `nprobe` nearest centroids (the probe set). */
  def ivfProbe(cents: DataFrame, q: DataFrame, nprobe: Int): DataFrame =
    cents.crossJoin(broadcast(q))
      .withColumn("ccos", round(cosOf("ce", "qe"), 9))
      .orderBy(desc("ccos"), asc("cid")).limit(nprobe)
      .select("cid")

  /** IVF ANN search, fully parameterized: K coarse centroids (`lloydIters` Lloyd
    * refinements of the deterministic seeds), `nprobe` probed lists, exact top-`topK`
    * rescoring of the probed lists only. s03 pins (K=16, nprobe=4, iters=0) and s04
    * (K=16, nprobe=4, iters=1) for oracle determinism; at scale K grows ~sqrt(N)
    * (so each list stays ~sqrt(N) rows and an nprobe-probe scans nprobe/K of the
    * corpus) — IvfScalingSpec runs K=64/iters=2 and asserts the probed fraction.
    * The assignment `cid` is the storage partition key at 100 TB (BucketingSpec
    * pins listing-time pruning on it); probing prunes the candidate scan to the
    * probed lists only.
    */
  def ivfSearch(s: SparkSession, d: String, k: Int, nprobe: Int,
      lloydIters: Int, topK: Int = 5): DataFrame = {
    graft.functions.VecDot.register(s)
    val emb = embeddings(s, d)
    val cents = centroidsCached(s, d, k, lloydIters)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val probed = ivfProbe(cents, q, nprobe)
    ivfAssignCached(s, d, k, lloydIters).join(broadcast(probed), "cid")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosOf("embedding", "qe"), 5).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(topK)
  }

  /** Exact cosine top-k — one scan, one broadcast of the query vector, one top-k
    * sort. The exactness baseline every ANN variant's recall is measured against.
    */
  def exactTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.VecDot.register(s)
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), dotCos.as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  val queries: Map[String, Q] = Map(
    "s01_cosine_topk" -> ((s, d) => exactTopK(s, d, 10)),

    // ANN recall measurement: recall@5 of each approximate variant against s01's
    // exact top-5 — a count of the id intersection, so the metric is itself a
    // deterministic, oracle-checkable query (ANN without measured recall is
    // unfalsifiable). One tiny row per variant; AnnRecallSpec asserts >= 0.8.
    "s05_ann_recall" -> ((s, d) => {
      val exact = exactTopK(s, d, 5).select("vec_id")
      def recallOf(name: String, ann: DataFrame): DataFrame =
        ann.select("vec_id").join(exact, "vec_id")
          .agg((count(lit(1)) / lit(5.0)).as("recall"))
          .select(lit(name).as("variant"), col("recall"))
      recallOf("bucket", queries("s02_ann_bucket")(s, d))
        .unionByName(recallOf("ivf", queries("s03_ann_ivf")(s, d)))
        .unionByName(recallOf("ivf_trained", queries("s04_ann_ivf_trained")(s, d)))
        .orderBy("variant")
    }),

    // ANN: probe the query's 2 band buckets (broadcast 2-row build side), score the
    // union of both buckets' members exactly, keep top-5. Band width from the
    // corpus size (bandBitsFor) — shared with d08's candidate join.
    "s02_ann_bucket" -> ((s, d) => {
      graft.functions.VecDot.register(s)
      val bb = banded(embeddings(s, d), bandBitsFor(embCountCached(s, d)))
      val q = bb.filter(col("vec_id") === 0)
        .select(col("bi"), col("bucket"), col("embedding").as("qe"))
      bb.join(broadcast(q), Seq("bi", "bucket"))
        .select(col("vec_id"), col("embedding"), col("qe")).distinct()
        .select(col("vec_id"), dotCos.as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(5)
    }),

    // Batched k-NN JOIN — the production ANN shape: MANY query vectors resolved in
    // ONE plan (per-query loops would be one job per probe row; this is none).
    // The 10-probe set and the corpus share a single IVF assignment; each probe
    // scores only its nprobe nearest lists, and one rank window per probe keeps
    // top-3. The probe side stays a broadcast (probes × nprobe rows); the corpus
    // side shuffles once on cid — at 100 TB with partitionBy(cid) storage the
    // probed lists are a listing-time prune, same as s03 (BucketingSpec).
    "s06_knn_join" -> ((s, d) => {
      graft.functions.VecDot.register(s)
      val emb = embeddings(s, d)
      val cents = centroidsCached(s, d, 16, 0)
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val probeLists = probes.crossJoin(broadcast(cents))
        .withColumn("ccos", round(cosOf("qe", "ce"), 9))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(desc("ccos"), asc("cid"))))
        .filter(col("rk") <= 2)
        .select("qid", "qe", "cid")
      ivfAssignCached(s, d, 16, 0).join(broadcast(probeLists), "cid")
        .filter(col("vec_id") =!= col("qid")) // a probe is its own nearest; drop it
        .select(col("qid"), col("vec_id"), round(cosOf("embedding", "qe"), 5).as("cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk").cast("long").as("rk"), col("vec_id"), col("cos"))
        .orderBy("qid", "rk")
    }),

    // IVF ANN (oracle-pinned variant of [[ivfSearch]]: K=16, nprobe=4, no Lloyd
    // refinement — seeds ARE the quantizer).
    "s03_ann_ivf" -> ((s, d) => ivfSearch(s, d, k = 16, nprobe = 4, lloydIters = 0)),

    // IVF with TRAINED centroids (oracle-pinned variant of [[ivfSearch]]: one Lloyd
    // refinement of s03's seeds; more iterations just repeat the same two stages).
    "s04_ann_ivf_trained" -> ((s, d) => ivfSearch(s, d, k = 16, nprobe = 4, lloydIters = 1)),

    // Embedding-cosine near-dup (dedup family #5): banded sign-LSH candidate pairs
    // (same (band, bucket) equi-join, id_a < id_b — never all-pairs), scored exactly,
    // kept above a cosine threshold. The (band, bucket) pair is the shuffle key; at
    // 100 TB it becomes the storage partition key so candidate scoring is
    // partition-local.
    "d08_embed_neardup" -> ((s, d) => {
      graft.functions.VecDot.register(s)
      val emb = embeddings(s, d)
      // width from corpus size, NOT the 12-bit gate default: the frozen width
      // is a measured scale-killer (the round-11 sf100 sweep's heap OOM —
      // 9.8e8 candidate pairs at 2M vectors; see bandBitsFor)
      // candidate ids first: the bucket join and the cross-band distinct shuffle
      // ONLY (id_a, id_b) pairs — the 64-float payloads would otherwise ride
      // through both exchanges (2×64 floats per row) just to be deduped by id.
      // Shared with the [[embedCandidatePairs]] probe, which also brings the
      // r16 hot-bucket guard (a dense embedding region's bucket stays linear).
      // The membership frame is CACHED below the footprint gate (r18/r19):
      // the guard reads it twice.
      val pairs = embedCandidatePairsFrom(
        vecBandsGated(s, d, bandBitsFor(embCountCached(s, d))))
      val dot = expr("vec_dot(ea, eb)")
      val na = expr("vec_dot(ea, ea)")
      val nb = expr("vec_dot(eb, eb)")
      pairs
        .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
        .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
        .select(col("id_a"), col("id_b"), round(dot / (sqrt(na) * sqrt(nb)), 5).as("cos"))
        .filter(col("cos") >= 0.25)
        .orderBy("id_a", "id_b")
    }),
  )

  private val CosSql =
    "round(dot / (sqrt(sa) * sqrt(sq)), 5)"

  /** Banded view in DuckDB, mirroring [[banded]] at the SAME corpus-derived
    * width as the engine: the width rule ([[bandBitsFor]]) is computed IN SQL
    * from count(*) — min(32, max(12, 4·ceil(ceil(log2(2n))/4))) — so the
    * oracle tracks whatever width the engine picks at every scale with no
    * constant to keep in sync. The full 64-dim sign string is built once and
    * each band's bucket is substr(s64, bi·bits+1, bits) — identical dim
    * ranges to [[signBand]] for any width.
    */
  private def bandedSql: String = {
    val s64 = (1 to 64)
      .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString("concat(", ", ", ")")
    val bis = (0 until nBands).mkString("[", ", ", "]")
    "nn AS (SELECT count(*) AS n FROM embeddings), " +
      "w AS (SELECT CAST(LEAST(32, GREATEST(12, " +
      "4 * CAST(CEIL(CEIL(LOG2(2.0 * n)) / 4.0) AS INT))) AS INT) AS bits FROM nn), " +
      s"sgn AS (SELECT vec_id, embedding, $s64 AS s64 FROM embeddings), " +
      "bb AS (SELECT vec_id, embedding, b.bi, substr(s64, b.bi * w.bits + 1, w.bits) AS bucket " +
      s"FROM sgn CROSS JOIN w CROSS JOIN (SELECT unnest($bis) AS bi) b)"
  }

  /** s01's exact top-k SQL, limit-parameterized so the recall oracle can reuse it. */
  private def exactTopSql(k: Int): String =
    "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
      "z AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y FROM embeddings e CROSS JOIN q), " +
      "s AS (SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
      "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa FROM z GROUP BY vec_id), " +
      "qs AS (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sq FROM (SELECT unnest(qe) AS y FROM q)) " +
      s"SELECT vec_id, $CosSql AS cos FROM s CROSS JOIN qs ORDER BY cos DESC, vec_id LIMIT $k"

  private val S02Sql: String =
    (s"WITH $bandedSql, " +
        "q AS (SELECT bi, bucket, embedding AS qe FROM bb WHERE vec_id = 0), " +
        "c AS (SELECT DISTINCT b.vec_id, b.embedding, q.qe FROM bb b JOIN q ON b.bi = q.bi AND b.bucket = q.bucket), " +
        "z AS (SELECT c.vec_id, unnest(c.embedding) AS x, unnest(c.qe) AS y FROM c), " +
        "s AS (SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa FROM z GROUP BY vec_id), " +
        "qs AS (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sq FROM (SELECT unnest(qe) AS y FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0))) " +
        s"SELECT vec_id, $CosSql AS cos FROM s CROSS JOIN qs ORDER BY cos DESC, vec_id LIMIT 5")

  private val S03Sql: String =
    ("WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id BETWEEN 1 AND 16), " +
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        // inverted lists: nearest centroid per vector
        "az AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.ce) AS y FROM embeddings e CROSS JOIN cent c), " +
        "ascore AS (SELECT vec_id, cid, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sb " +
        "FROM az GROUP BY vec_id, cid), " +
        "assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY round(dot / (sqrt(sa) * sqrt(sb)), 9) DESC, cid) AS rk FROM ascore) WHERE rk = 1), " +
        // query probes its nprobe=4 nearest centroids
        "pz AS (SELECT c.cid, unnest(c.ce) AS x, unnest(q.qe) AS y FROM cent c CROSS JOIN q), " +
        "pscore AS (SELECT cid, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sb " +
        "FROM pz GROUP BY cid), " +
        "probe AS (SELECT cid FROM pscore ORDER BY round(dot / (sqrt(sa) * sqrt(sb)), 9) DESC, cid LIMIT 4), " +
        // exact-score only the probed lists
        "cand AS (SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid), " +
        "z AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y " +
        "FROM embeddings e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN q), " +
        "s AS (SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa FROM z GROUP BY vec_id), " +
        "qs AS (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sq FROM (SELECT unnest(qe) AS y FROM q)) " +
        s"SELECT vec_id, $CosSql AS cos FROM s CROSS JOIN qs ORDER BY cos DESC, vec_id LIMIT 5")

  /** s06's batched probe: S03's CTE shape with a qid dimension threaded through
    * assignment, probing, and the final per-probe top-3 window.
    */
  private val S06Sql: String =
    ("WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id BETWEEN 1 AND 16), " +
      "q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
      "az AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.ce) AS y FROM embeddings e CROSS JOIN cent c), " +
      "ascore AS (SELECT vec_id, cid, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
      "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sb " +
      "FROM az GROUP BY vec_id, cid), " +
      "assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY round(dot / (sqrt(sa) * sqrt(sb)), 9) DESC, cid) AS rk FROM ascore) WHERE rk = 1), " +
      "pz AS (SELECT q.qid, c.cid, unnest(c.ce) AS x, unnest(q.qe) AS y FROM cent c CROSS JOIN q), " +
      "pscore AS (SELECT qid, cid, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
      "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sb " +
      "FROM pz GROUP BY qid, cid), " +
      "probe AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER " +
      "(PARTITION BY qid ORDER BY round(dot / (sqrt(sa) * sqrt(sb)), 9) DESC, cid) AS rk FROM pscore) WHERE rk <= 2), " +
      "cand AS (SELECT p.qid, a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid WHERE a.vec_id <> p.qid), " +
      "z AS (SELECT cand.qid, e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y " +
      "FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id JOIN q ON q.qid = cand.qid), " +
      "sc AS (SELECT qid, vec_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
      "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa FROM z GROUP BY qid, vec_id), " +
      "qs AS (SELECT qid, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sq FROM (SELECT qid, unnest(qe) AS y FROM q) GROUP BY qid) " +
      "SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, cos FROM (" +
      s"SELECT sc.qid, sc.vec_id, $CosSql AS cos, row_number() OVER " +
      s"(PARTITION BY sc.qid ORDER BY $CosSql DESC, sc.vec_id) AS rk " +
      "FROM sc JOIN qs ON qs.qid = sc.qid) WHERE rk <= 3 ORDER BY qid, rk")

  private val S04Sql: String = {
      // nearest-centroid assignment from centroid CTE `c` (mirrors s03's assign)
      def assignSql(cents: String, az: String, sc: String, out: String) =
        s"$az AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.ce) AS y " +
          s"FROM embeddings e CROSS JOIN $cents c), " +
          s"$sc AS (SELECT vec_id, cid, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
          "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sb " +
          s"FROM $az GROUP BY vec_id, cid), " +
          s"$out AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER " +
          s"(PARTITION BY vec_id ORDER BY round(dot / (sqrt(sa) * sqrt(sb)), 9) DESC, cid) AS rk FROM $sc) WHERE rk = 1)"
      "WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id BETWEEN 1 AND 16), " +
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        assignSql("cent", "az0", "as0", "assign0") + ", " +
        // one Lloyd step: per-dim mean of each list, rounded 6 dp, cast to float
        "dims AS (SELECT unnest(range(1, 65)) AS pos), " +
        "upd AS (SELECT a.cid, d.pos, round(avg(CAST(e.embedding[d.pos] AS DOUBLE)), 6) AS m " +
        "FROM assign0 a JOIN embeddings e ON e.vec_id = a.vec_id CROSS JOIN dims d GROUP BY a.cid, d.pos), " +
        "tcent AS (SELECT cid, list(CAST(m AS REAL) ORDER BY pos) AS ce FROM upd GROUP BY cid), " +
        assignSql("tcent", "az1", "as1", "assign1") + ", " +
        "pz AS (SELECT c.cid, unnest(c.ce) AS x, unnest(q.qe) AS y FROM tcent c CROSS JOIN q), " +
        "pscore AS (SELECT cid, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sb " +
        "FROM pz GROUP BY cid), " +
        "probe AS (SELECT cid FROM pscore ORDER BY round(dot / (sqrt(sa) * sqrt(sb)), 9) DESC, cid LIMIT 4), " +
        "cand AS (SELECT a.vec_id FROM assign1 a JOIN probe p ON a.cid = p.cid), " +
        "z AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y " +
        "FROM embeddings e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN q), " +
        "s AS (SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sa FROM z GROUP BY vec_id), " +
        "qs AS (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS sq FROM (SELECT unnest(qe) AS y FROM q)) " +
        s"SELECT vec_id, $CosSql AS cos FROM s CROSS JOIN qs ORDER BY cos DESC, vec_id LIMIT 5"
  }

  /** One recall@5 row per ANN variant: count of the id intersection with the exact
    * top-5. WITH-inside-subquery keeps each variant's full oracle verbatim.
    */
  private def recallTermSql(name: String, annSql: String): String =
    s"SELECT '$name' AS variant, count(*) / 5.0 AS recall " +
      s"FROM ($annSql) a JOIN (${exactTopSql(5)}) e USING (vec_id)"

  val oracles: Map[String, String] = Map(
    "s01_cosine_topk" -> exactTopSql(10),
    "s02_ann_bucket" -> S02Sql,
    "s03_ann_ivf" -> S03Sql,
    "s04_ann_ivf_trained" -> S04Sql,
    "s06_knn_join" -> S06Sql,
    "s05_ann_recall" ->
      Seq("bucket" -> S02Sql, "ivf" -> S03Sql, "ivf_trained" -> S04Sql)
        .map { case (n, q) => recallTermSql(n, q) }
        .mkString("SELECT variant, recall FROM (", " UNION ALL ", ") u ORDER BY variant"),
    "d08_embed_neardup" ->
      (s"WITH $bandedSql, " +
        "p AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b, a.embedding AS ea, b2.embedding AS eb " +
        "FROM bb a JOIN bb b2 ON a.bi = b2.bi AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id), " +
        "z AS (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM p), " +
        "s AS (SELECT id_a, id_b, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb " +
        "FROM z GROUP BY id_a, id_b) " +
        "SELECT id_a, id_b, cos FROM (SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 5) AS cos FROM s) " +
        "WHERE cos >= 0.25 ORDER BY id_a, id_b"),
  )
}
