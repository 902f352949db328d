package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` table: exact dedup,
  * MinHash-LSH near-dup detection, n-gram Jaccard verification, text quality stats,
  * language ID, and document fingerprinting. Everything is hash-bucketed — near-dup
  * candidates come from LSH band-bucket equi-joins, never an all-pairs crossJoin, so
  * the plans scale: the widest shuffle key is (band, signature), and candidate-pair
  * verification touches only bucket-collision pairs.
  *
  * Determinism: all hashes are md5 over explicit strings (identical in DuckDB), and
  * collect_list is always wrapped in array_sort before use.
  */
object TextOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Per-(session, dir) caches: d03/d04/d05 all derive from the same shingle and
    * band frames, so build each once per bench/verify run instead of three times.
    * At production scale the same reuse is a materialized intermediate table.
    *
    * Staleness contract: entries key on (session, dir) and are never invalidated —
    * fine for the harness (immutable inputs, short-lived session); long-lived
    * sessions that rewrite inputs must call [[clearCaches]].
    *
    * Lifecycle contract: the maps hold STRONG references to their
    * SparkSession keys and grow one entry per (session, dir) forever — sized
    * for the declared deployment shape (CLI/bench/verify lifecycles, one
    * short-lived session per JVM). A long-running multi-session service (a
    * Thrift/Connect front-end) would accumulate cached frames per dead
    * session; such a deployment must call [[clearCaches]] on session teardown
    * (or these keys need weakening to session-id + a listener). Same contract
    * on [[Sizing]]'s footprint/sizing maps, [[graft.queries.Hierarchy]]'s and
    * [[graft.queries.VectorOps]]'s caches — [[graft.Caches.clearAll]] is the
    * one-call teardown.
    */
  private val bandsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private val shingleArraysCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The band frame caches UNCONDITIONALLY — deliberately unlike the
    * distinct-shingle frame's footprint gate, and the difference is measured,
    * not assumed (r10 fifth-decade A/B): gating the cache off above 256 MB
    * made d09 at 50M docs 63% SLOWER (1092.9 vs 670.5 s) even though it cut
    * peak scratch disk from ~50 to ~7 GB. The frames differ in both
    * dimensions that matter: bands are 8 fixed-width rows/doc consumed TWICE
    * per query (the candidate self-join, whose two projections defeat
    * exchange reuse), so a disk-spilled cache block still beats two full
    * minhash+explode recomputes; shingles are ~50 string rows/doc with one
    * consumer, so their spilled cache was pure eviction churn.
    */
  private def bandsCached(s: SparkSession, d: String): DataFrame = {
    sizeShingleExchange(s, d)
    bandsCache.getOrElseUpdate((s, d), bands(s, d).cache())
  }

  /** Size the session's shuffle for a shingle-width exchange BEFORE building
    * any frame that explodes per-token rows ([[Sizing.autoSizeShingleExchange]]:
    * documents footprint × the measured intermediate-to-input ratio). Called
    * from every cache builder and pair-verify entry point, so the partition
    * count is raised before the first exploded exchange plans — the fifth
    * decade's manual `SPARK_GRAFT_SHUFFLE_PARTITIONS=1024` knob, turned by the
    * engine (round 11; the base dir-footprint rule saw 11 GB → 344, which
    * OOM'd d09's verify at 50M docs).
    */
  private def sizeShingleExchange(s: SparkSession, d: String): Unit = {
    Sizing.autoSizeShingleExchange(s, s"$d/documents.parquet"); ()
  }

  /** The verify's below-gate shared frame, DOC-level since r20: one row per
    * doc carrying its distinct hashed-shingle ARRAY (the ShingleHashes kernel
    * output), never the exploded (doc_id, shingle) rows rounds 3–19 cached.
    * The array form is what [[jaccardCountsFromArrays]] joins — ~50× fewer
    * cached rows at the same information content, and the verify that reads
    * it has NO aggregation at all (the intersection cardinality computes
    * scan-locally per pair via [[graft.functions.IntersectCount]]).
    *
    * The verify compares shingles only by EQUALITY, never by content, so it
    * carries xxhash64(shingle) instead of the ~18-char string (what let the
    * fifth-decade verify fit this box's scratch disk, round 10). The
    * tolerated error is a WITHIN-DOC 64-bit collision merging two of a doc's
    * ~50 shingles (~2^-54 per corpus at sf1000); bands/minhash still consume
    * the true strings, and the DuckDB oracles compare the i/ca/cb COUNTS,
    * which hashing leaves bit-identical absent a collision.
    */
  private def shingleArraysCached(s: SparkSession, d: String): DataFrame = {
    // sizing is for the CONSUMERS (the verify's pair-join exchanges carry
    // the per-doc array payloads) — the build itself never exchanges: the
    // per-doc dedup happens inside the scan via the ShingleHashes kernel
    sizeShingleExchange(s, d)
    shingleArraysCache.getOrElseUpdate((s, d), {
      graft.functions.ShingleHashes.register(s)
      documents(s, d).select(col("doc_id"),
        expr("shingle_hashes(text)").as("__sh")).cache()
    })
  }

  /** d11's probe frame: distinct word-3-gram shingles over NORMALIZED text —
    * lowercase + punctuation-strip (t03's normalization) applied BEFORE
    * tokenizing, as production decontamination pipelines do: contamination hides
    * behind case and punctuation trivially ("The quick fox." vs "the quick fox"),
    * so the raw-text shingles d05 verifies near-dups with are the wrong probe key
    * here. Public so DecontamSpec can drive it with adversarial fixtures.
    */
  private[graft] def decontamShinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.NormalizeText.register(docs.sparkSession)
    graft.functions.ShingleHashes.register(docs.sparkSession)
    // Same scale trade as the d05/d09 verify: the overlap probe compares
    // shingles only by EQUALITY and reports only COUNTS, so carry xxhash64 of
    // the normalized shingle (16-byte fixed rows) through both join sides
    // instead of ~18-char strings — ~2.5× less exchange volume. Measured need
    // (round 13, SCALECHECK.md): the string form's distinct + two-sided
    // shuffle join exhausted the box's 52 GB scratch disk at sf1000 (50M
    // docs) in stage 1; same wall, same fix as d09's round-10 campaign.
    // Collision tolerance ~2^-54 per corpus, documented in the verify
    // skill's triage note; the DuckDB oracle compares counts, which hashing
    // leaves identical. The old `distinct()` here was a per-doc dedup in
    // disguise (doc_id was in its key), so the [[graft.functions.
    // ShingleHashes]] kernel now computes it INSIDE the scan — identical
    // rows, no exchange at all in this frame.
    docs.select(col("doc_id"),
      explode(expr("shingle_hashes(normalize_text(text))")).as("shingle"))
  }

  private val decontamShinglesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def decontamShinglesCached(s: SparkSession, d: String): DataFrame = {
    sizeShingleExchange(s, d)
    decontamShinglesCache.getOrElseUpdate((s, d),
      decontamShinglesOf(documents(s, d)).cache())
  }

  /** Benchmark decontamination over an arbitrary (doc_id, text) frame: every
    * non-eval doc sharing any normalized word-3-gram with the eval slice
    * (doc_id % 13 == 0), with the distinct shared-shingle count as evidence.
    *
    * `broadcastEval` gates the eval side's broadcast hint. In production the
    * eval side is a fixed handful of benchmark files — megabytes against
    * 100 TB — so it always broadcasts and the corpus probe never shuffles. The
    * SYNTHETIC eval slice is a fixed FRACTION (1/13) of the corpus, so it
    * grows with it: at sf100 its hashed relation is ~512 MB, and a forced
    * broadcast dies re-inflating the disk-evicted relation per task
    * (UNABLE_TO_ACQUIRE_MEMORY building a 512 MB BytesToBytesMap, measured
    * r10). A hard-coded hint on an unboundedly-growing side is a scale bug;
    * the caller decides from cheap dir metadata (see the d11 entry).
    */
  private[graft] def decontaminateFrom(dsh: DataFrame,
      broadcastEval: Boolean = true): DataFrame = {
    val evalSh = dsh.filter(col("doc_id") % 13 === 0).select("shingle").distinct()
    dsh.filter(col("doc_id") % 13 =!= 0)
      .join(if (broadcastEval) broadcast(evalSh) else evalSh, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** [[decontaminateFrom]] with the eval/corpus split pushed BEFORE the
    * shingle explode — the corpus-scale formulation. [[decontaminateFrom]]
    * filters a SHARED distinct-shingle frame twice, which (a) makes that frame
    * a two-consumer cache candidate whose corpus-sized blocks spill to the
    * same scratch disk the shuffle needs (the measured sf1000 killer — round
    * 13, SCALECHECK.md: `Persisting block rdd_9_* to disk` alongside 50 GB of
    * live shuffle files), and (b) runs the doc-id filters AFTER the explode
    * and distinct, paying full-corpus exchange for rows each side then drops.
    * Here each side explodes only its own doc slice (the doc-id filter
    * commutes with the per-doc explode and distinct, so the result is
    * row-identical — DecontamSpec pins it): the eval side distincts a single
    * hashed-shingle column over 1/13 of the corpus, the corpus side 12/13,
    * nothing is read twice, and no cache exists to compound the disk
    * pressure.
    *
    * `broadcastEval` defaults FALSE here, unlike [[decontaminateFrom]]: this
    * function exists specifically as the corpus-scale path (the footprint
    * gate routes everything >= 256 MB through it), and its eval side grows
    * 1:1 with the corpus — a defaulted broadcast hint is exactly the r10
    * scale bug (forced broadcast of a ~512 MB hashed relation,
    * UNABLE_TO_ACQUIRE_MEMORY re-inflating it per task). Small-corpus callers
    * who know the slice is tiny opt in explicitly.
    */
  private[graft] def decontaminateDocs(docs: DataFrame,
      broadcastEval: Boolean = false): DataFrame = {
    graft.functions.NormalizeText.register(docs.sparkSession)
    graft.functions.ShingleHashes.register(docs.sparkSession)
    // ONE corpus-scale exchange, total — the join's own. History of this
    // shape (round 13): a plain distinct() exchanged on (doc_id, shingle) and
    // the join RE-exchanged the deduped rows on shingle — two corpus-scale
    // shuffles live simultaneously (Spark keeps a query's shuffle files until
    // it ends), which exhausted the 52 GB scratch disk at sf1000. The first
    // fix made one repartition(shingle) serve both a dropDuplicates and the
    // join; the [[graft.functions.ShingleHashes]] kernel then obsoleted the
    // dedup OPERATOR entirely — (doc_id, shingle) dedup is per-doc (doc_id is
    // in the key), so the kernel's scan-local distinct array replaces it,
    // repeated in-doc shingles never even enter the exchange, and no
    // corpus-scale aggregation hash map exists to spill. PlanAuditSpec pins
    // the shape: no (doc_id, shingle)-keyed exchange, at most the corpus +
    // eval shingle exchanges.
    def sh(side: DataFrame) = side.select(col("doc_id"),
      explode(expr("shingle_hashes(normalize_text(text))")).as("shingle"))
    val corpus = sh(docs.filter(col("doc_id") % 13 =!= 0))
    val evalSh = sh(docs.filter(col("doc_id") % 13 === 0))
      .select("shingle").distinct()
    corpus.join(if (broadcastEval) broadcast(evalSh) else evalSh, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** MinHash signature banded for LSH: (doc_id, band, sig); k=8 hashes, 4 bands of 2.
    * h_j(doc) = min over shingles of md5(j || '|' || shingle); band sig = md5 of the
    * band's hashes joined in j order.
    */
  private def bandsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    // ONE scan-local codegen'd expression per document (graft.functions.MinHash8):
    // the 8 min-hashes never leave the scan — the earlier keyed agg of 8 mins
    // shuffled partials over corpus-sized shingle rows (MinHash8Spec pins value
    // equality). NULL minhash = no shingles (< 3 tokens), matching the agg's
    // absent-group behavior. Band signatures are plain column arithmetic, stacked
    // via a 4-element array explode (4x on ~#docs rows, not on shingle rows).
    graft.functions.MinHash8.register(s)
    val sigs = (0 to 3).map(b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", col(s"m.mh${2 * b}"), col(s"m.mh${2 * b + 1}"))
          .cast("binary")).as("sig")))
    docs
      .select(col("doc_id"), expr("minhash8(text)").as("m"))
      .filter(col("m").isNotNull)
      .select(col("doc_id"), explode(array(sigs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  private def bands(s: SparkSession, d: String): DataFrame =
    bandsOf(s, documents(s, d))

  /** 64-bit SimHash signatures, carried as four 16-bit band columns `s0..s3` (never
    * packed into one BIGINT: bit 63 would flip the sign in both Spark and DuckDB and
    * poison comparisons). Per token, four 16-bit hashes from the leading md5 digest
    * bytes (portable arithmetic — identical in DuckDB); per bit position, the ±1 vote
    * sum over the token multiset; sign -> bit. One keyed aggregation: 64
    * map-side-combined sums — shuffles stay even at any corpus size, and at 100 TB
    * the 4×16-bit bands give 2^16 buckets per band (vs 16 for the old 16-bit/nibble
    * scheme), so candidate generation stays ~linear instead of N²/64.
    */
  private def simhash(s: SparkSession, d: String): DataFrame = {
    // ONE scan-local codegen'd expression per document (graft.functions.SimHash64):
    // tokenize + hash + 64 ±1 votes + sign bits in a tight per-row loop. The earlier
    // aggregation formulation (explode tokens → token_hash16(t, b) → 64 sum columns)
    // shuffled corpus-sized token rows through a keyed agg — value-identical
    // (SimHash64Spec pins it), but an exchange this plan simply doesn't have.
    graft.functions.SimHash64.register(s)
    documents(s, d)
      .select(col("doc_id"), expr("simhash64(lower(text))").as("x"))
      .select(col("doc_id") +: (0 to 3).map(b => col(s"x.s$b").as(s"s$b")): _*)
  }

  private val simhashCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def simhashCached(s: SparkSession, d: String): DataFrame =
    simhashCache.getOrElseUpdate((s, d), simhash(s, d).cache())

  /** Materialize the shared caches up front (bench warmup) so per-query timings
    * attribute to plans, not to whichever query touches each cache first.
    *
    * The distinct-shingle frame is only ever read by the verify's BELOW-GATE
    * branch ([[jaccardCountsGated]]); above [[CachedVerifyMaxDocBytes]] (or on
    * an unknown footprint, where the gate fails to the restricted branch) no
    * query touches it, so building it here would spend the warmup wall on a
    * corpus-sized frame that then sits in the storage pool evicting the caches
    * that DO serve (bands/simhash/decontam share the same pool — the eviction
    * churn SCALECHECK.md's d10 section measures).
    */
  def prewarm(s: SparkSession, d: String): Unit =
    prewarmStages(s, d).foreach(_._2())

  /** The prewarm builds as independent (name, thunk) stages. Each thunk
    * materializes a DIFFERENT cache map's (session, dir) entry, so the stages
    * are safe to run concurrently (Bench does): no two touch the same TrieMap
    * key, and concurrent Spark actions from multiple driver threads are the
    * supported way to pipeline independent jobs — at local[32] on small sf the
    * serial form drains the scheduler once per build, which round 10 measured
    * as most of the bench's cache_build line.
    */
  def prewarmStages(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "text-bands" -> (() => { bandsCached(s, d).count(); () }),
    "text-simhash" -> (() => { simhashCached(s, d).count(); () }),
    // d12 reads it at every scale, and d07 routes through it past 32k docs
    // (simhashBitsFor) — build it here so the first timed rep doesn't absorb
    // the md5-per-token signature scan
    "text-simhash128" -> (() => { simhash128Sigs(s, d).count(); () }),
    "text-shingles" -> (() => {
      val fp = Sizing.footprintBytesCached(s, s"$d/documents.parquet")
      if (fp >= 0 && fp < CachedVerifyMaxDocBytes) {
        shingleArraysCached(s, d).count(); ()
      }
    }),
    "text-decontam" -> (() => {
      // the d11 entry's own gate: above it no query reads this cache, and
      // building it would evict the caches that do serve (and spill its
      // corpus-sized blocks to the scratch disk the shuffles need)
      if (d11CacheOn(s, d)) {
        decontamShinglesCached(s, d).count(); ()
      }
    }))

  /** d11's strategy gate, shared by the query entry and its prewarm stage so
    * the prewarm builds the cache exactly when the query will read it. Below
    * [[CachedVerifyMaxDocBytes]]: the shared cached distinct-shingle frame +
    * broadcast eval side (warm across bench reps, proven at sf0.01-sf10).
    * The broadcast holds under the same pivot: the measured eval
    * hashed-relation size tracks the compressed documents bytes ~1:1 (57 MB
    * docs -> ~50 MB relation, fine; 560 MB docs -> ~512 MB relation, OOM).
    * Above it — or on an unknown footprint (-1), failing SAFE to the plan
    * that is correct at any size — the pushed-down two-sided plan with no
    * cache and no broadcast ([[decontaminateDocs]]: the ungated cache's disk
    * blocks plus the post-explode filters were the measured sf1000
    * scratch-disk killer, round 13). DecontamSpec pins row-parity between
    * the branches, so the gate trades speed, never rows.
    */
  private[graft] def d11CacheOn(s: SparkSession, d: String): Boolean = {
    val fp = Sizing.footprintBytesCached(s, s"$d/documents.parquet")
    fp >= 0 && fp < CachedVerifyMaxDocBytes
  }

  /** Unpersist and drop every cached frame (staleness/leak hook for long sessions). */
  def clearCaches(): Unit = {
    for (m <- Seq(bandsCache, simhashCache, shingleArraysCache,
        decontamShinglesCache, simhash128Cache)) {
      m.values.foreach(_.unpersist())
      m.clear()
    }
    docCountCache.clear()
  }

  /** LSH candidate pairs from a prebuilt band frame: docs sharing any (band, sig)
    * bucket, id_a < id_b. Hot-bucket-guarded ([[LshGuard]], r16): a boilerplate
    * mega-cluster's bucket would otherwise emit |bucket|²/2 pairs from one key;
    * buckets over SPARK_GRAFT_BUCKET_CAP short-circuit to a star on the bucket
    * min. The default cap sits far above every measured benign corpus
    * (BucketGuardSpec pins guarded ≡ clique there), so all oracle rows are
    * untouched.
    */
  private def candidatePairsFromBands(b: DataFrame): DataFrame =
    LshGuard.guardedSelfJoinPairs(b.select("doc_id", "band", "sig"),
      "doc_id", Seq("band", "sig"))

  /** LSH candidate pairs over the dir's full documents table (cached bands).
    * Public so ScaleCheck can measure candidate growth across scale factors.
    */
  def candidatePairs(s: SparkSession, d: String): DataFrame =
    candidatePairsFromBands(bandsCached(s, d))

  /** Measurement accessor for the band frame (tools.BucketStats, ScaleCheck's
    * oversized-bucket accounting) — the frame [[LshGuard]] sizes its buckets on.
    */
  private[graft] def bandFrameForProbe(s: SparkSession, d: String): DataFrame =
    bandsCached(s, d).select("doc_id", "band", "sig")

  /** SimHash LSH candidate pairs: docs sharing any of the four 16-bit
    * (band_index, band_value) buckets, id_a < id_b. This is the MEASUREMENT
    * probe behind ScaleCheck's candidate-growth tables — the d07 query itself
    * no longer materializes this frame (r10: its distinct() hash-aggregated
    * the quadratic-regime join output and OOM'd at sf100; the query now
    * verifies hamming inline on the streaming band join and dedupes only the
    * filtered pairs). Counting distinct candidates stays safe here because
    * count() reduces the aggregate map to (id_a, id_b) keys with no payload
    * and ScaleCheck's quadratic-regime skip avoids the cells where even that
    * is pointless.
    */
  def simhashCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val sh = simhashCached(s, d)
    def banded(p: String) = sh
      .select(col("doc_id").as(s"id_$p"),
        explode(array((0 to 3).map(b =>
          struct(lit(b).as("bi"), col(s"s$b").as("bv"))): _*)).as("x"))
      .select(col(s"id_$p"), col("x.bi").as("bi"), col("x.bv").as("bv"))
    banded("a").join(banded("b"), Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Measurement accessor pinning the 64-BIT d07 route regardless of the
    * corpus-derived width (r18): ScaleCheck's megacluster simhash A/B keeps
    * its r16/r17 digit continuity on the 16-bit-band regime — the regime the
    * guard was measured in — while the registered d07 on the same >32 k-doc
    * corpus now routes 128-bit by [[simhashBitsFor]].
    */
  private[graft] def simhashNearDup64(s: SparkSession, d: String): DataFrame =
    simhashNearDupPairs(simhashCached(s, d))

  /** Measurement accessor for the SimHash (band index, band value) membership
    * frame — the frame d07's [[LshGuard]] pass sizes its buckets on
    * (ScaleCheck's megacluster simhash leg, oversized-bucket accounting).
    */
  private[graft] def simhashBandFrameForProbe(s: SparkSession, d: String): DataFrame =
    simhashCached(s, d)
      .select(col("doc_id"),
        explode(array((0 to 3).map(b =>
          struct(lit(b).as("bi"), col(s"s$b").as("bv"))): _*)).as("x"))
      .select(col("doc_id"), col("x.bi").as("bi"), col("x.bv").as("bv"))

  /** SimHash band columns `sCols` packed into one BIGINT via shift/or — the
    * carry format for the guard's (id, sig) bucket members. Each band is 16
    * unsigned bits, so the pack is lossless; the top band may set bit 63
    * (negative long), which xor + bit_count — the only consumers — ignore.
    * The COLUMN representation stays four 16-bit bands everywhere else
    * (d06's oracle-compared output, the DuckDB mirror): packing there would
    * put bit 63 in the sign and poison cross-engine comparisons.
    */
  private def packBands(sCols: Seq[Column]): Column =
    sCols.reduce((acc, c) => shiftleft(acc, 16).bitwiseOR(c))

  /** The d07 verify over any (doc_id, s0..s3) signature frame: hot-bucket-
    * guarded in-bucket pair emission with the packed signature riding as
    * payload, inline full-signature hamming on the streamed pairs, distinct
    * only on the ≤3 survivors (the d07 entry's scaladoc has the full regime
    * analysis). Unordered — query entries order, ScaleCheck counts.
    */
  private[graft] def simhashNearDupPairs(sh: DataFrame): DataFrame = {
    val banded = sh
      .select(struct(col("doc_id").as("id"),
          packBands((0 to 3).map(b => col(s"s$b"))).as("sig")).as("m"),
        explode(array((0 to 3).map(b =>
          struct(lit(b).as("bi"), col(s"s$b").as("bv"))): _*)).as("x"))
      .select(col("m"), col("x.bi").as("bi"), col("x.bv").as("bv"))
    LshGuard.guardedMemberPairs(banded, "m", Seq("bi", "bv"))
      .select(col("m_a.id").as("id_a"), col("m_b.id").as("id_b"),
        bit_count(col("m_a.sig").bitwiseXOR(col("m_b.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Shingle-intersection counts for the LSH candidate pairs: (id_a, id_b, i, ca,
    * cb) with i = |shingles(a) ∩ shingles(b)| and ca/cb the distinct-shingle
    * counts — the shared verification frame behind d05 (rounds the ratio for
    * display), d09 (thresholds the unrounded ratio for clustering edges), and
    * d10 (same, over the quality-gated deduped survivors).
    * The intersection join runs over candidate pairs only, never all pairs.
    *
    * Since r20 it works over DOC-level
    * distinct-shingle ARRAYS — two keyed joins and a scan-local
    * [[graft.functions.IntersectCount]] kernel, NO aggregation anywhere.
    * `arr` is (doc_id, __sh array<bigint>), one row per doc.
    *
    * Why (guide §2.3 "aggregate before you shuffle" taken to its limit —
    * don't shuffle what you can compute scan-local): the exploded form
    * multiplied every candidate row ~50× (one per shingle) through the
    * (id_b, shingle) exchange and then aggregated the blowup back down with
    * a corpus-scale groupBy(id_a, id_b) hash map — the aggregation whose
    * per-task state was the measured 7× spill-to-shuffle residual at sf1000
    * (SCALECHECK r18/r19; three falsification rounds pinned the mass inside
    * this exact operator). Here each pair row carries the two ~50-element
    * long arrays through the joins ONCE, i/ca/cb all evaluate inside the
    * join's output projection, and the aggregation — with its hash map, its
    * sort-spill, and its second exchange — does not exist.
    *
    * Row-identical to the exploded form by construction: i counts the same
    * distinct xxhash64 values the old join matched on, ca/cb are the array
    * sizes the old groupBy(doc_id).count computed, and pairs with an empty
    * intersection are dropped by the `i >= 1` filter exactly as the old
    * inner intersection join dropped them (JaccardGateSpec pins both array
    * forms row-for-row against the exploded form).
    */
  private def jaccardCountsFromArrays(cand: DataFrame, arr: DataFrame): DataFrame = {
    graft.functions.IntersectCount.register(arr.sparkSession)
    cand
      .join(arr.select(col("doc_id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(arr.select(col("doc_id").as("id_b"), col("__sh").as("__shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("intersect_count(__sha, __shb)").as("i"),
        size(col("__sha")).cast("long").as("ca"),
        size(col("__shb")).cast("long").as("cb"))
      .filter(col("i") >= 1)
  }

  /** Verify-shingle strategy gate for [[jaccardCountsGated]]: below the
    * threshold the verify reads the shared cached distinct-shingle frame
    * (straight cache hits — warm-bench-optimal; a candidate-restricted
    * rebuild was measured ~2.3× slower warm at sf10 in r9); above it the
    * cached full-corpus frame exceeds the storage pool severalfold and every
    * "hit" becomes eviction churn + disk-spill reads (measured r10 at sf100:
    * d10 188.6 → 262/315 s, rep 2 SLOWER than rep 1 — the eviction tell), so
    * the verify instead shingles ONLY candidate docs scan-locally. Same
    * 256 MB compressed-documents pivot as d11's cache and eval broadcast
    * ([[d11CacheOn]]), for the same shape of reason: both grow ~linearly
    * with the corpus while the memory they must fit is fixed; sf10 (56 MB) is measured-good,
    * sf100 (560 MB) measured-bad, and the gate sits between with margin.
    */
  private val CachedVerifyMaxDocBytes: Long = 256L << 20

  /** Jaccard verification counts with the footprint-gated shingle strategy.
    * Both branches run the SAME zero-aggregation array-join verify
    * ([[jaccardCountsFromArrays]], r20) and differ only in where the per-doc
    * shingle arrays come from: below the gate the shared cached full-corpus
    * frame (straight cache hits, warm-bench-optimal), above it a scan-local
    * build over the candidate-doc slice only. Big-corpus path: the candidate
    * pairs are localCheckpoint'd ONCE (the r9 slowdown was each consumer
    * re-deriving the band join, not the restriction itself), the candidate id
    * set derives from the checkpoint, and the doc slice semi-joins to it
    * BEFORE the shingle kernel runs — AQE turns that semi-join into a
    * broadcast while the id set is small (~16% of docs at sf100) and a
    * shuffle join if candidates ever grow corpus-sized. Results are
    * identical: every id the verify joins touch is a candidate id by
    * construction.
    */
  private def jaccardCountsGated(s: SparkSession, d: String, cand0: DataFrame): DataFrame = {
    sizeShingleExchange(s, d)
    val fp = Sizing.footprintBytesCached(s, s"$d/documents.parquet")
    if (fp >= 0 && fp < CachedVerifyMaxDocBytes)
      jaccardCountsFromArrays(cand0, shingleArraysCached(s, d))
    else jaccardCountsRestricted(s, d, cand0)
  }

  /** The big-corpus branch of [[jaccardCountsGated]], visible to the spec that
    * pins its row-for-row equivalence with the cached branch on small corpora
    * (the gate itself only flips above [[CachedVerifyMaxDocBytes]], so the
    * oracle suite alone would never execute this path).
    *
    * Two plan rules, each the fix for a measured corpus-scale wall:
    *
    * 1. Restrict the DOCUMENT frame before the shingle explode, never after:
    *    the explode multiplies rows ~50× (one per 3-gram), so a post-explode
    *    semi-join exchanges every shingle of every doc just to drop most of
    *    them — at sf1000 that is a ~2.6B-row / tens-of-GB shuffle write that
    *    exhausted this box's scratch disk (the fifth decade's one measurement
    *    casualty, round 10). Joining the ~300-byte doc rows first keeps the
    *    exchange at corpus width and the explode runs scan-local on the
    *    candidate subset only.
    *
    * 2. Dedup and count shingles INSIDE the doc row, not across rows: a doc's
    *    shingles are a pure function of its `text`, so the codegen'd
    *    [[graft.functions.ShingleHashes]] kernel (per-doc distinct hashed
    *    shingle ARRAY, one JIT-compiled pass) replaces the old global
    *    `distinct()` (one candidate-corpus × shingle-scale exchange on
    *    (doc_id, shingle)) and `size(__sh)` replaces the old
    *    `groupBy(doc_id).count` (a second such exchange) — both evaluate in
    *    the scan task. (An `array_distinct(transform(...))`
    *    formulation of the same array interprets its lambda per shingle —
    *    measured 10× slower than the pre-round-13 distinct + groupBy form
    *    on the sf100 edge build, SCALECHECK.md round 13 — so the kernel is
    *    load-bearing, not a nicety.) Since r20
    *    the arrays are not even exploded: the verify consumes them whole
    *    ([[jaccardCountsFromArrays]]), so the only shuffles left are the two
    *    pair-join exchanges, and no aggregation exists anywhere in the
    *    verify. Same rows by construction: the kernel emits the same
    *    xxhash64 values the old distinct keyed on, and a zero-shingle doc
    *    contributes an empty array (i = 0, filtered) instead of no count
    *    row. JaccardGateSpec pins both array forms row-for-row against
    *    the exploded form.
    */
  private[graft] def jaccardCountsRestricted(s: SparkSession, d: String,
      cand0: DataFrame): DataFrame = {
    // r20: rule 2 taken one step further — the per-doc arrays no longer
    // explode at all. The candidate-doc slice keeps its kernel-built
    // distinct-shingle ARRAY on the doc row, and the verify is the same
    // two-join zero-aggregation plan as the cached branch
    // ([[jaccardCountsFromArrays]]); the explode, the shingle-level
    // intersection exchange, and the groupBy(id_a, id_b) spill source are
    // all gone. Rule 1 (restrict the DOCUMENT frame before shingling)
    // stands unchanged via [[restrictedDocs]].
    graft.functions.ShingleHashes.register(s)
    val cand = cand0.localCheckpoint()
    // checkpoint the candidate-doc ARRAY frame too (r20): both pair-join
    // sides read it, and without the pin each side re-runs the whole
    // documents scan + candidate-id aggregation + semi-join + shingle
    // kernel (the sf100 after-plan showed the subtree twice). The frame is
    // small — candidate docs only, one ~50-long array per doc (~0.4 KB/doc;
    // ~16% of docs at sf100) — the exact shape the r9 cand checkpoint
    // precedent pins as worth materializing once.
    val docs = restrictedDocs(s, d, cand)
      .select(col("doc_id"), expr("shingle_hashes(text)").as("__sh"))
      .localCheckpoint()
    jaccardCountsFromArrays(cand, docs)
  }

  /** The candidate-doc slice of the documents table: semi-join on the ids of
    * the (checkpointed) candidate pairs.
    */
  private def restrictedDocs(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val ids = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    documents(s, d).join(ids, Seq("doc_id"), "left_semi")
  }

  /** Test hook: the gate's below-threshold branch (arrays over the shared
    * cached frame), for the equivalence spec.
    */
  private[graft] def jaccardCountsFromCachedForTest(s: SparkSession, d: String,
      cand: DataFrame): DataFrame =
    jaccardCountsFromArrays(cand, shingleArraysCached(s, d))

  private def jaccardCounts(s: SparkSession, d: String): DataFrame =
    jaccardCountsGated(s, d, candidatePairs(s, d))

  /** d10's end-to-end corpus cleaning, composed from the audited stages and
    * oracle-checked AS A WHOLE: quality gate (t08's predicate) -> exact dedup
    * keep-min (d02's window) -> near-dup clustering over the SURVIVORS (d04
    * candidates + d05 verification + d09 components) -> drop every cluster
    * member that is not its cluster's min id. Output is the cleaned corpus a
    * training pipeline would feed downstream. At production scale each arrow
    * materializes an intermediate table; here the stages fuse into one plan
    * per pass.
    *
    * The near-dup stages REUSE the cached full-corpus band/shingle frames
    * (r10; rounds 7–9 rebuilt both on the survivor frame): minhash signatures
    * and shingle sets are pure per-doc functions of `text`, so the candidate
    * pairs among survivors are exactly the full-corpus pairs with BOTH
    * endpoints in the survivor set, and the Jaccard counts join only ever
    * touches candidate doc_ids — so any shingle frame covering the candidate
    * docs returns identical rows, and the verify goes through the same
    * footprint-gated strategy as d05/d09 ([[jaccardCountsGated]]: cached
    * full-corpus frame below the gate, candidate-restricted scan-local build
    * above it — the ungated cached frame at sf100 thrashed the storage pool;
    * SCALECHECK.md's d10 section has the measurements). The other win stands at
    * every scale: with no band/shingle consumer left on `ex` the exact-dedup
    * window's exchange carries (doc_id, lang, n_chars, 32-char hash) instead
    * of the full text column.
    *
    * `SPARK_GRAFT_COMPONENTS_LOG=1` (the same switch Components honors) prints
    * per-stage walls — each stage is materialized and timed separately, so the
    * logged run does EXTRA work vs the plain plan; use the lines for
    * attribution, the un-logged run for totals (SCALECHECK.md d10 rows).
    */
  private[graft] def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    registerKernels(s)
    val logOn = sys.env.get("SPARK_GRAFT_COMPONENTS_LOG").contains("1")
    def staged(name: String, df: DataFrame): DataFrame =
      if (!logOn) df
      else {
        val t = System.nanoTime()
        val n = df.count()
        println(f"D10 stage=$name rows=$n sec=${(System.nanoTime() - t) / 1e9}%.2f")
        df
      }
    val ex = staged("survivors", cleanSurvivors(s, d))
    val cand = staged("candidates", cleanCandidates(s, d, ex.select("doc_id")))
    val edges = staged("edges", cleanEdges(s, d, cand))
    cleanKeep(ex, edges)
  }

  /** d10 stage 1 — survivors: quality gate + exact-dedup keep-min. Projects to
    * the output columns + dedup hash BEFORE the window: nothing downstream
    * reads `text` (bands/shingles come from the cached frames), so the md5
    * must be materialized pre-exchange or the window's hash partitioning
    * would drag the text column through the shuffle to evaluate its key. Not
    * localCheckpoint'd in the fused form: `ex` still feeds three consumers
    * (the two semi-join id sides + the final anti-join) but is a narrow
    * re-scan (r9 measured checkpointing the then-wide `ex` ~30% SLOWER).
    *
    * The quality gate evaluates its per-doc stats ONCE in a projection and
    * filters on the projected values (r20): a single Filter condition gets
    * no cross-conjunct subexpression elimination in predicate codegen, so
    * the one-Column [[qualityKeep]] form re-ran `size(split(text, ' '))`
    * FIVE times and `count_words_in` twice per input row — visible verbatim
    * in the r20 before-plan's Filter condition — and this stage re-executes
    * per consumer in the fused form, tripling that. Same gate by
    * construction: identical stat expressions, identical comparisons on the
    * unrounded values (t08's oracle-checked [[qualityKeep]] stays the
    * single-Column form, where ProjectExec's subexpression elimination
    * already applies; StagedCleanSpec pins d10's row parity).
    */
  private def cleanSurvivors(s: SparkSession, d: String): DataFrame = {
    registerKernels(s)
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        size(split(col("text"), " ")).cast("long").as("__ntok"),
        countIn(Seq("the", "a")).cast("double").as("__nstop"),
        length(col("text")).cast("long").as("__len"))
      .filter(col("__ntok").between(20, 1000) &&
        (col("__nstop") / col("__ntok")).between(0.01, 0.30) &&
        ((col("__len") - (col("__ntok") - 1)).cast("double") / col("__ntok"))
          .between(3.0, 8.0))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("__h"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy("doc_id")))
      .filter(col("__rn") === 1).select("doc_id", "lang", "n_chars")
  }

  /** d10 stage 2 — full-corpus LSH candidate pairs restricted to survivor
    * endpoints (the cached-frame reuse argument on [[cleanCorpus]]).
    */
  private def cleanCandidates(s: SparkSession, d: String, ids: DataFrame): DataFrame =
    candidatePairs(s, d)
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")

  /** d10 stage 3 — Jaccard-verified near-dup edges over the candidates. */
  private def cleanEdges(s: SparkSession, d: String, cand: DataFrame): DataFrame =
    jaccardCountsGated(s, d, cand)
      .filter(col("i").cast("double") / (col("ca") + col("cb") - col("i")) >= 0.5)
      .select("id_a", "id_b")

  /** Broadcast ceiling for [[cleanKeep]]'s LOSERS side, in rows (r21). The
    * components output is localCheckpoint'ed, so counting the losers is one
    * cheap job over pinned partitions (the RetireMinSymRows gate precedent).
    * Without the hint the anti-join stays SortMergeJoin — the loop's
    * checkpointed RDD has no size statistics, so neither the planner nor
    * AQE's initial plan can see how small it is, and the whole SURVIVORS
    * table (3 narrow columns × ~85% of the corpus) pays a hash exchange
    * just to drop the ~2% of ids that lost their cluster. At the ceiling the
    * broadcast relation is 4 M longs ≈ 100–150 MB built (LongHashedRelation)
    * — the guide's "a few hundred MB is usually fine" regime, far under the
    * 8 GB/512 M-row hard cap; measured losers: sf0.1 ~200 rows, sf100 ~380 k,
    * sf1000 ~3.8 M (SCALECHECK d09 digits) — the gate covers three measured
    * decades and falls back to the exchange plan beyond.
    */
  private[graft] val KeepAntiBroadcastMaxRows: Long = 4000000L

  /** d10 stage 4 — keep each near-dup cluster's min id: components label every
    * clustered doc, and survivors that are not their cluster's min drop. The
    * anti-join's losers side broadcasts below [[KeepAntiBroadcastMaxRows]]
    * (r21): the survivors side then keeps its scan partitioning straight into
    * the contract sort instead of paying a doc_id hash exchange + sort-merge
    * against a side orders of magnitude smaller.
    */
  private def cleanKeep(ex: DataFrame, edges: DataFrame): DataFrame = {
    val losers = Components.minLabelComponents(edges)
      .filter(col("id") =!= col("lbl")).select(col("id").as("doc_id"))
    val hinted = if (losers.count() <= KeepAntiBroadcastMaxRows)
      broadcast(losers) else losers
    ex.join(hinted, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")
  }

  /** [[cleanCorpus]] with MATERIALIZED stage boundaries — the shape a 100 TB
    * deployment actually runs (SURVEY §2.C: "at production scale each arrow
    * materializes an intermediate table"). Each stage writes parquet and the
    * next reads it back, truncating lineage: the fused plan keeps every
    * stage's shuffle files alive until the final action (dense-measured
    * 10.22× the input in live scratch at sf1000 on the aggregate candidate
    * plan — the closest-to-the-wall shape on any box), while here a stage's
    * shuffle files become collectable as soon as its boundary table is
    * written, so the live peak is ~the MAX stage footprint plus the narrow
    * boundary tables, not the SUM — measured 8.46× AND 17% faster than the
    * fused form at sf1000 (717 vs 868 s same-day; SCALECHECK.md r16 §6 has
    * the full pair — the boundaries also spare the fused plan's
    * re-execution of shared stages across consumers). Row-identical to
    * [[cleanCorpus]] by construction — same stage builders — and pinned by
    * StagedCleanSpec plus the shared d10 oracle SQL.
    *
    * Stage tables land under `stageRoot` (defaults to a per-(session, input)
    * dir beneath java.io.tmpdir, overwritten on re-invocation so repeated
    * bench reps don't accumulate copies; a cluster deployment passes an
    * explicit warehouse path instead). The returned frame READS the boundary
    * parquet — the dir must outlive its consumption, so nothing here deletes
    * it. Stage writes run eagerly at build time (the Components-loop
    * precedent: PlanProbe's cold totals include them; the timed rep is the
    * honest full execution).
    */
  /** Staging root shared by BOTH staged operators (d10s's stage tables,
    * d09's edge boundary): `SPARK_GRAFT_STAGE_DIR` if set, else the driver's
    * java.io.tmpdir. On any non-local master the root MUST be a shared
    * filesystem (HDFS/object store/NFS) — a node-local path commits
    * executor-locally and the read-back misses files; local[*] is the only
    * master where the tmpdir default is sound (r20, the r19 VERDICT watch
    * item: d09 hardcoded tmpdir where d10s documented the contract).
    */
  private def stageRootBase: String =
    sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR", sys.props("java.io.tmpdir"))

  /** The per-(session, input dir) directory name under a staged operator's root:
    * the session's and the dir's hash codes packed into 16 hex digits.
    */
  private[graft] def stageKey(s: SparkSession, d: String): String =
    f"${(s.hashCode.toLong << 32 | (d.hashCode.toLong & 0xffffffffL))}%016x"

  private[graft] def cleanCorpusStaged(s: SparkSession, d: String,
      stageRoot: Option[String] = None): DataFrame = {
    registerKernels(s)
    val root = stageRoot.getOrElse(s"$stageRootBase/graft-d10-staged/${stageKey(s, d)}")
    def stage(name: String, df: DataFrame): DataFrame = {
      val p = s"$root/$name.parquet"
      df.write.mode("overwrite").parquet(p)
      s.read.parquet(p)
    }
    val ex = stage("survivors", cleanSurvivors(s, d))
    val cand = stage("candidates", cleanCandidates(s, d, ex.select("doc_id")))
    val edges = stage("edges", cleanEdges(s, d, cand))
    cleanKeep(ex, edges)
  }

  /** d09 — near-dup clusters over Jaccard-verified edges, with the verify's
    * edge frame optionally MATERIALIZED at a parquet boundary before the
    * component loop starts (r19, the d09 spill item: the sf1000 rep carries
    * ~7× the input in cumulative spill against ~50 GB of shuffle, and r18
    * falsified the pinned-checkpoint hypothesis — the mass is the verify
    * aggregations' shuffle files, which the FUSED plan holds referenced until
    * the final action while the loop keeps allocating against the same
    * scratch volume and memory pool. The d10s precedent: a written-and-read-
    * back boundary truncates lineage, so the verify's shuffle files become
    * collectable the moment the edge table lands, BEFORE the loop's
    * checkpoints and aggregations stack on top).
    *
    * `staged`: Some overrides (the spec's parity pin); None gates on the
    * documents footprint — staged at and above [[CachedVerifyMaxDocBytes]] (the same pivot where the verify
    * switches to its scan-local big-corpus branch) or on an unknown
    * footprint (-1, failing SAFE to the shape that is correct at any size),
    * fused below it (the boundary write is pure constant overhead at oracle
    * scales, and the gate corpora stay byte-identical plans). Both branches
    * are row-identical by construction — same edge builder, same loop —
    * and ComponentsSpec-style pinned in StagedCleanSpec.
    */
  private[graft] def dedupClusters(s: SparkSession, d: String,
      staged: Option[Boolean] = None): DataFrame = {
    // d09's measured fifth-decade partition floor exceeds the family rule
    // (its checkpointed loop pins storage blocks against the aggregation's
    // execution appetite — Sizing.ShingleExpansionOverride has the
    // evidence); raise-only, so it composes with the family sizing the
    // cache builders apply
    Sizing.autoSizeShingleExchange(s, s"$d/documents.parquet",
      Sizing.shingleExpansionFor("d09_dedup_clusters"))
    val edges0 = jaccardCounts(s, d)
      .filter(col("i").cast("double") / (col("ca") + col("cb") - col("i")) >= 0.5)
      .select("id_a", "id_b")
    val useStage = staged.getOrElse {
      val fp = Sizing.footprintBytesCached(s, s"$d/documents.parquet")
      fp < 0 || fp >= CachedVerifyMaxDocBytes
    }
    val edges =
      if (!useStage) edges0
      else {
        // per-(session, input) dir under the shared staging root
        // ([[stageRootBase]]: SPARK_GRAFT_STAGE_DIR > tmpdir — the d10s
        // contract, r20), overwritten on re-invocation (repeated bench reps
        // don't accumulate copies; the returned frame reads the boundary, so
        // nothing here deletes it)
        val p = s"$stageRootBase/graft-d09-staged/${stageKey(s, d)}/edges.parquet"
        edges0.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      }
    Components.minLabelComponents(edges)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** 128-bit SimHash candidate pairs — the d07 scale variant (SCALECHECK.md): the
    * 64-bit signature's 4×16-bit bands stop pruning once a shard approaches ~2^16
    * docs. The full-md5 `simhash128` kernel doubles the bit budget, banded as
    * 4 bands × 32 bits — the SAME band count as d07 (so the pigeonhole guarantee
    * is unchanged: any pair within hamming ≤ 3 of the 128 bits shares a band) but
    * 2^32 buckets per band, so random collisions need 32 exact bits instead of 16.
    * Adding bands instead (8×16) would RAISE candidates — more OR-amplification
    * chances at the same per-band rate; width is the precision knob, count the
    * recall knob, identical to the sign-LSH family. Same scan-local zero-shuffle
    * signature, same id-pairs-first join shape as d07. Spec-pinned
    * (SimHash128Spec: bands 0–3 of the kernel equal the oracle-checked simhash64
    * by construction); ScaleCheck measures the candidate reduction at sf1.
    */
  private val simhash128Cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** 128-bit signatures, cached per (session, dir) like the 64-bit frame —
    * the candidate probe and the verify both band it, and ScaleCheck runs
    * them back to back; uncached each would re-run the md5-per-token scan.
    */
  private def simhash128Sigs(s: SparkSession, d: String): DataFrame =
    simhash128Cache.getOrElseUpdate((s, d), {
      graft.functions.SimHash128.register(s)
      documents(s, d)
        .select(col("doc_id"), expr("simhash128(lower(text))").as("x"))
        .select(col("doc_id") +: (0 to 7).map(b => col(s"x.s$b").as(s"s$b")): _*)
        .cache()
    })

  /** The 4×32-bit band frame shared by the 128-bit candidate probe and the
    * verify: one row per (member, band), band value = the band's two 16-bit
    * halves packed (always < 2^32: no sign hazard), member = whatever the
    * caller selected alongside.
    */
  private def simhash128Banded(sh: DataFrame, member: Column): DataFrame =
    sh.select(member.as("m"),
        explode(array((0 to 3).map(b =>
          struct(lit(b).as("bi"),
            (col(s"s${2 * b}") * 65536L + col(s"s${2 * b + 1}")).as("bv"))): _*)).as("x"))
      .select(col("m"), col("x.bi").as("bi"), col("x.bv").as("bv"))

  /** Measurement accessor for the 128-bit (band index, band value) membership
    * frame — ScaleCheck's megacluster simhash128 leg sizes the guard's
    * buckets on it (oversized-bucket accounting at the 2^32-bucket width).
    */
  private[graft] def simhash128BandFrameForProbe(s: SparkSession, d: String): DataFrame =
    simhash128Banded(simhash128Sigs(s, d), col("doc_id"))
      .withColumnRenamed("m", "doc_id")

  def simhash128CandidatePairs(s: SparkSession, d: String): DataFrame =
    // Hot-bucket-guarded like every candidate generator since r17 — a
    // megacluster's identical 128-bit signatures collide on all four bands,
    // so the unguarded bucket join is the same |bucket|²/2 shape d07's was.
    LshGuard.guardedSelfJoinPairs(
      simhash128Banded(simhash128Sigs(s, d), col("doc_id")),
      "m", Seq("bi", "bv"))

  /** The full d07 pipeline at the 128-bit scale setting — guarded in-bucket
    * pair emission with BOTH packed signature halves riding as payload, inline
    * hamming ≤ 3 over all 128 bits (the 4×32 banding's pigeonhole guarantee:
    * every such pair provably shares a band, so candidate generation loses
    * nothing the verify would keep). Same guarded single-exchange shape as
    * d07 since r17 (the candidates→two-signature-joins form this replaces
    * paid two extra pair-keyed exchanges); ScaleCheck measures it end to end
    * across scale factors.
    */
  def simhash128NearDup(s: SparkSession, d: String): DataFrame = {
    val banded = simhash128Banded(simhash128Sigs(s, d),
      struct(col("doc_id").as("id"),
        packBands((0 to 3).map(b => col(s"s$b"))).as("hi"),
        packBands((4 to 7).map(b => col(s"s$b"))).as("lo")))
    LshGuard.guardedMemberPairs(banded, "m", Seq("bi", "bv"))
      .select(col("m_a.id").as("id_a"), col("m_b.id").as("id_b"),
        (bit_count(col("m_a.hi").bitwiseXOR(col("m_b.hi"))) +
          bit_count(col("m_a.lo").bitwiseXOR(col("m_b.lo")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Cached documents row count per (session, dir) — the one scalar
    * [[simhashBitsFor]] needs. Same shape as VectorOps.embCountCached: one
    * parquet-metadata count per session per dir (on a production cluster, a
    * table-stats lookup); cleared with [[clearCaches]].
    */
  private val docCountCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  private[graft] def docCountCached(s: SparkSession, d: String): Long =
    docCountCache.getOrElseUpdate((s, d), documents(s, d).count())

  /** Corpus-derived SimHash signature width (r18) — the same engine rule
    * VectorOps.bandBitsFor already applies to the sign-LSH family, closing
    * the round-17 watch item: at 47 M docs the 64-bit signature's 4×16-bit
    * bands stop pruning entirely (BucketStats r17: mean (bi, bv) bucket 717
    * members, max 27,926 — 9.7 M membership rows starred on a BENIGN corpus,
    * so d07 stayed safe but silently lost exhaustive pair semantics). The
    * banding keeps 4 bands at either width (the pigeonhole guarantee for
    * hamming ≤ 3 is band COUNT, not width), so width is purely the
    * random-collision precision knob, exactly like bandBitsFor: stay at 64
    * bits (16-bit bands) while 2^16 ≥ 2N — the per-band random-collision
    * term ≤ ~1 pair/doc — and switch to 128 bits (32-bit bands, occupancy
    * 0.01 at 47 M docs) beyond. Same exact integer bit-math as bandBitsFor
    * (ceil(log2(2n)) via numberOfLeadingZeros, no float-log boundary risk).
    *
    * Every oracle/gate scale resolves to 64 (N=500 at sf0.01, 2,000 at
    * sf0.1 — d06/d07 oracle rows unchanged); sf1 (50 k docs) and beyond
    * resolve to 128, where d07 routes through [[simhash128NearDup]] — the
    * documented fifth-decade answer (SCALECHECK r17 §7), now self-applying
    * instead of a knob the operator must know to turn.
    */
  def simhashBitsFor(n: Long): Int = {
    require(n >= 1, s"corpus size must be positive, got $n")
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(2 * n - 1) // ceil(log2(2n))
    if (needed <= 16) 64 else 128
  }

  /** The signature width the registered d07 actually resolves for (s, d):
    * [[simhashBitsFor]] over the corpus row count. ONE resolver, shared by
    * the d07 query entry and [[oraclesFor]]'s SQL selection, so the plan and the oracle SQL dumped
    * for the same run can never disagree on width (r18 ADVICE: the static
    * 64-bit oracle replayed on a >32k-doc corpus — sf1's 50k docs — would
    * hash-mismatch the derived 128-bit plan and masquerade as a logic bug).
    */
  private[graft] def resolvedSimhashBits(s: SparkSession, d: String): Int =
    simhashBitsFor(docCountCached(s, d))

  /** t08's keep predicate (token count, stopword ratio, mean word length bounds) —
    * shared by the t08 report query and d10's pipeline gate. Unrounded doubles,
    * identical arithmetic on both engines.
    */
  private def qualityKeep: Column = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val nStop = countIn(Seq("the", "a"))
    val stopRatio = nStop.cast("double") / nTok
    val meanWlen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
    nTok.between(20, 1000) && stopRatio >= 0.01 && stopRatio <= 0.30 &&
      meanWlen >= 3.0 && meanWlen <= 8.0
  }

  /** t10's pre-kernel formulation, kept as [[functions.BigramStats]]'s
    * equivalence baseline (BigramStatsSpec): bigram explode -> (doc, bigram)
    * count with map-side combine -> one doc_id exchange where a rank window
    * picks the top bigram and a sum window totals the counts. Input needs
    * (doc_id, text); output matches the t10 query row-for-row.
    */
  private[graft] def repetitionViaExplode(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(when(size(col("tk")) >= 2, sequence(lit(1), size(col("tk")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"), concat_ws(" ", slice(col("tk"), col("i"), lit(2))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .withColumn("n_bigrams", sum("c").over(w))
      .withColumn("rk", row_number().over(w.orderBy(desc("c"), asc("bigram"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("n_bigrams"), col("bigram").as("top_bigram"),
        col("c").as("top_n"),
        (round(col("c").cast("double") / col("n_bigrams"), 6) + lit(0.0)).as("rep_ratio"))
      .orderBy("doc_id")
  }

  private val stopEn = Seq("the", "of", "and")
  private val stopEs = Seq("la", "el", "de")

  /** Count of whitespace tokens of lower(text) in `words` — the native
    * `count_words_in` byte loop (CountWordsInSpec pins it ≡ the
    * size∘filter∘split composition, whose ArrayFilter lambda is interpreted).
    * Callers register the function via [[registerKernels]].
    */
  private def countIn(words: Seq[String]): Column = {
    // The word list is interpolated into a single-quoted SQL literal; a quote
    // or comma would break parsing or silently change the match set.
    require(words.nonEmpty && words.forall(_.matches("[a-z0-9]+")),
      s"countIn words must match [a-z0-9]+, got: ${words.mkString("[", ", ", "]")}")
    expr(s"count_words_in(text, '${words.mkString(",")}')")
  }

  private def registerKernels(s: SparkSession): Unit =
    graft.functions.CountWordsIn.register(s)

  val queries: Map[String, Q] = Map(
    // Exact dedup, hash-grouped: one row per distinct content hash with the surviving
    // (minimum) id and the duplicate count. GroupBy on md5 shuffles evenly at 100 TB.
    "d01_dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
        .orderBy("keep_id")),

    // Exact dedup, row-preserving: keep the first doc per content hash (window rank,
    // the drop-duplicates-with-deterministic-winner formulation).
    "d02_dedup_rows" -> ((s, d) =>
      documents(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
        .filter(col("rn") === 1)
        .select("doc_id", "n_chars", "lang")
        .orderBy("doc_id")),

    // MinHash-LSH band signatures (shingle -> minhash -> band).
    "d03_minhash_bands" -> ((s, d) =>
      bandsCached(s, d).select("doc_id", "band", "sig").orderBy("doc_id", "band")),

    // Near-duplicate candidate pairs via LSH bucket join — no crossJoin anywhere.
    "d04_neardup_pairs" -> ((s, d) =>
      candidatePairs(s, d).orderBy("id_a", "id_b")),

    // Exact 3-gram Jaccard for the LSH candidates only (verification stage).
    "d05_jaccard" -> ((s, d) =>
      jaccardCounts(s, d)
        .select(col("id_a"), col("id_b"),
          round(col("i").cast("double") / (col("ca") + col("cb") - col("i")), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // Near-dup CLUSTERS (the stage after pair generation): candidate pairs verified
    // at Jaccard >= 0.5 become edges; connected components assign every clustered
    // doc its transitive group's min doc_id (the canonical survivor a dedup keep-
    // one-per-cluster pass retains). The threshold compares the UNROUNDED ratio of
    // integer counts — bit-identical across engines, no .xx5 boundary coin flips.
    "d09_dedup_clusters" -> ((s, d) => dedupClusters(s, d)),

    // SimHash signatures (dedup family #3 after exact + MinHash-LSH).
    "d06_simhash" -> ((s, d) =>
      simhashCached(s, d).orderBy("doc_id")),

    // SimHash near-dup pairs: band the 64 bits into 4×16-bit bands, bucket the
    // docs on any shared (band_index, band_value), then verify hamming distance
    // <= 3 over the full signature. Candidate generation is the hot-bucket-
    // guarded aggregate pass ([[LshGuard.guardedMemberPairs]], r17 — the same
    // single-exchange plan the MinHash/sign-LSH families got in r16): each
    // bucket member is a struct(id, sig) with the 64-bit signature PACKED into
    // one long (shiftleft/or — xor and bit_count don't care about the sign
    // bit), so the verify payload rides the one aggregation exchange and
    // hamming computes INLINE on the streaming pair emission; only the
    // filtered ≤3 set is deduped. That covers BOTH quadratic regimes: the
    // random-collision regime (the N²/2^16-per-band term past ~2M docs —
    // false candidates stream through the filter and die, no pair-sized
    // state; d07's r10 fix, preserved) and the TRUE-duplicate regime a
    // boilerplate megacluster creates, where identical signatures put the
    // whole cluster in one bucket and every streamed pair PASSES the verify —
    // there the r16-shape banded self-join materialized the |bucket|²/2 pair
    // set in the final distinct (the exact class the r16 megacluster A/B
    // measured at 5.0e7 pairs / 98.5 s for MinHash), while the guard stars
    // the bucket on its min id. The default cap clears every measured benign
    // corpus, so this oracle row is bit-identical with the guard in place.
    // Signature width is corpus-derived (r18, [[simhashBitsFor]]): past 32 k
    // docs the 16-bit bands' random-collision pruning is spent, so the query
    // routes through the 128-bit kernel and its 4×32-bit banding (= the d12
    // plan) — the oracle/gate scales all resolve to 64, keeping this row's
    // oracle and specs on the pinned 64-bit semantics.
    "d07_simhash_neardup" -> ((s, d) =>
      if (resolvedSimhashBits(s, d) >= 128) simhash128NearDup(s, d)
      else simhashNearDupPairs(simhashCached(s, d)).orderBy("id_a", "id_b")),

    // The 128-bit SimHash near-dup pipeline as its own oracle row (r18 — the
    // round-17 verdict's coverage gap: the production-recommended fifth-
    // decade variant was spec-pinned but never oracle-checked). Same guarded
    // single-exchange shape as d07 with both packed signature halves riding
    // as payload and inline hamming ≤ 3 over all 128 bits; at the oracle
    // scale the candidate buckets sit far below the cap, so the row is
    // bit-identical with the guard in place, like d07's.
    "d12_simhash128_neardup" -> ((s, d) => simhash128NearDup(s, d)),

    // Corpus-level top-k n-gram counts (boilerplate / contamination analysis): one
    // bigram explode + one groupBy(count). Map-side combine keeps the shuffle at
    // ~distinct-bigram cardinality, not corpus rows; the top-20 is a TakeOrdered
    // heap, never a global sort. Ties break lexicographically for determinism.
    "t07_bigram_topk" -> ((s, d) =>
      documents(s, d)
        .select(split(col("text"), " ").as("tk"))
        .select(col("tk"),
          explode(when(size(col("tk")) >= 2, sequence(lit(1), size(col("tk")) - 1))
            .otherwise(array().cast("array<int>"))).as("i"))
        .select(concat_ws(" ", slice(col("tk"), col("i"), lit(2))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram")).limit(20)),

    // C4-style quality gate: per-doc token/stopword/word-length stats -> keep flag.
    // One codegen'd projection, no shuffle; thresholds compare the UNROUNDED
    // doubles (identical arithmetic on both engines), outputs round for display.
    // mean word length derives from length(text) and the token count (texts are
    // single-space separated; the oracle uses the same identity).
    "t08_quality_filter" -> ((s, d) => {
      registerKernels(s)
      val nTok = size(split(col("text"), " ")).cast("long")
      val nStop = countIn(Seq("the", "a")) // t01's stop list
      val stopRatio = nStop.cast("double") / nTok
      val meanWlen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
      documents(s, d)
        .select(col("doc_id"), nTok.as("n_tokens"),
          round(stopRatio, 6).as("stop_ratio"),
          round(meanWlen, 6).as("mean_wlen"),
          qualityKeep.as("keep"))
        .orderBy("doc_id")
    }),

    // End-to-end corpus cleaning — pipeline semantics, stage logging, and the
    // cached-frame reuse argument (r10) documented on [[cleanCorpus]].
    "d10_clean_corpus" -> ((s, d) => cleanCorpus(s, d)),

    // The materialized-boundary form of the same pipeline — the shape a 100 TB
    // deployment runs (scaladoc on [[cleanCorpusStaged]]: live scratch peaks at
    // ~the max stage, not the sum of all stages). Same oracle SQL as d10: the
    // two forms are row-identical by construction (shared stage builders).
    "d10_clean_staged" -> ((s, d) => cleanCorpusStaged(s, d)),

    // Benchmark decontamination (the train/test-overlap gate every training corpus
    // needs): flag every corpus doc sharing any NORMALIZED word-3-gram (lowercase,
    // punctuation-stripped — see [[decontamShinglesOf]]) with the held-out eval
    // slice, with the count of distinct shared shingles as the contamination
    // evidence. `doc_id % 13 == 0` stands in for the benchmark suite; in production
    // the eval side is a fixed handful of benchmark files — megabytes against
    // 100 TB — so it broadcasts and the corpus side never shuffles for the probe:
    // scan-local shingle explode -> broadcast hash join -> per-doc count with
    // map-side combine. The synthetic slice GROWS with the corpus, so the hint is
    // gated on the documents table's on-disk footprint (metadata only, memoized)
    // rather than hard-coded — see [[decontaminateFrom]] for the measured failure.
    "d11_decontam" -> ((s, d) => {
      // footprint-gated like the d05 verify (jaccardCountsGated): [[d11CacheOn]]
      if (d11CacheOn(s, d)) decontaminateFrom(decontamShinglesCached(s, d))
      else {
        sizeShingleExchange(s, d)
        decontaminateDocs(documents(s, d), broadcastEval = false)
      }
    }),

    // Deterministic stratified sampling (the training-data mixing stage): N docs
    // per language, ordered by a salted content-free hash so the sample is
    // reproducible, unbiased by doc_id locality, and identical on both engines.
    // Scale: the rank window is skew-prone (few language groups), but Spark's
    // WindowGroupLimit keeps <= N rows per group per MAP partition before the
    // shuffle (plan-audited), so the exchange carries O(N x partitions) rows per
    // group, not the group's corpus share.
    "t09_stratified_sample" -> ((s, d) =>
      documents(s, d)
        .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("|graft"))))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy("h", "doc_id")))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"))
        .orderBy("lang", "rk")),

    // Within-document repetition stats (the Gopher-family quality signal t08's
    // length/stopword gate can't see: templated/boilerplate text repeats its own
    // n-grams): per doc, the total bigram count, the most frequent bigram's
    // count (ties break lexicographically for determinism), and their ratio.
    // Each document's text lives in ONE row, so the whole bigram distribution is
    // scan-local: the native `bigram_stats` byte loop (functions/BigramStats,
    // provably equal to the explode + (doc,bigram) count + doc window
    // formulation it replaced — BigramStatsSpec, [[repetitionViaExplode]])
    // computes it with ZERO shuffle, where the explode formulation exchanged one
    // row per distinct (doc, bigram) — the slowest text row of the sf10 bench.
    "t10_repetition" -> ((s, d) => {
      graft.functions.BigramStats.register(s)
      documents(s, d)
        // a doc has >= 2 tokens (hence >= 1 bigram) iff the text contains a
        // space — this cheap pre-filter replaces `b.n_bigrams > 0`, which would
        // run the whole kernel a second time inside the Filter node
        .filter(col("text").contains(" "))
        .select(col("doc_id"), expr("bigram_stats(text)").as("b"))
        .select(col("doc_id"), col("b.n_bigrams").as("n_bigrams"),
          col("b.top_bigram").as("top_bigram"), col("b.top_n").as("top_n"),
          (round(col("b.top_n").cast("double") / col("b.n_bigrams"), 6) + lit(0.0))
            .as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // Token counting, whitespace + BPE-ish segmentation (letter runs, digit runs,
    // single other chars) — the native `token_counts` byte loop (provably equal
    // to the split + regexp_extract_all composition, TokenCountsSpec), which
    // counts segments without materializing a match array per row.
    "t04_token_count" -> ((s, d) => {
      graft.functions.TokenCounts.register(s)
      documents(s, d)
        .select(col("doc_id"), expr("token_counts(text)").as("tc"))
        .select(col("doc_id"), col("tc.n_ws").as("n_ws"), col("tc.n_bpe").as("n_bpe"))
        .orderBy("doc_id")
    }),

    // Text quality stats: char/token counts + stopword ratio (quality scoring).
    "t01_textstats" -> ((s, d) => {
      registerKernels(s)
      documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("nc"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          countIn(Seq("the", "a")).as("n_stop"))
        .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }),

    // Language ID: marker-word score argmax (n-gram heuristic family).
    "t02_langid" -> ((s, d) => {
      registerKernels(s)
      documents(s, d)
        .select(col("doc_id"), col("lang"), countIn(stopEn).as("n_en"), countIn(stopEs).as("n_es"))
        .select(col("doc_id"),
          when(col("n_en") >= col("n_es"), "en").otherwise("es").as("pred_lang"),
          col("lang"))
        .orderBy("doc_id")
    }),

    // Document fingerprint: md5 over punctuation-stripped lowercased text. The
    // normalization is the native `normalize_text` byte loop (provably equal to
    // lower(regexp_replace(..)) — NormalizeTextSpec); the regex scan + lowercase
    // copy it replaces was the slowest text row of the sf1 bench.
    "t03_fingerprint" -> ((s, d) => {
      graft.functions.NormalizeText.register(s)
      documents(s, d)
        .select(col("doc_id"),
          md5(expr("normalize_text(text)").cast("binary")).as("fp"))
        .orderBy("doc_id")
    }),

    // Rolling-window fingerprint (winnowing family): slide an 8-char window over the
    // text, hash each window, keep the minimum — robust to local edits, unlike the
    // whole-document hash above. One codegen'd scan-local expression (see
    // graft.functions.RollingFp for why it beats both the explode+groupBy and the
    // transform+array formulations): no shuffle, no lambdas, no per-window array.
    "t05_rolling_fp" -> ((s, d) => {
      graft.functions.RollingFp.register(s)
      documents(s, d)
        .select(col("doc_id"), expr("rolling_fp(text)").as("r"))
        .select(col("doc_id"), col("r.fp").as("fp"), col("r.n_windows").as("n_windows"))
        .orderBy("doc_id")
    }),

    // KMV (k-minimum-values) distinct-count sketch over corpus tokens. Unlike HLL,
    // KMV is exactly reproducible across engines: the k smallest md5 values of the
    // distinct tokens determine the estimate (k-1)/frac(kth hash) with no
    // implementation-defined randomness — so the sketch itself is oracle-checked.
    // Scale shape: distinct-by-hash (even shuffle) then a global top-k
    // (TakeOrdered: per-partition heaps, never a full sort); the sketch is 64 rows
    // regardless of corpus size, and sketches from disjoint corpus shards merge by
    // union + re-top-k.
    "t06_kmv_distinct" -> ((s, d) => {
      val k = 64
      documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("t"))
        .select(md5(col("t").cast("binary")).as("h")).distinct()
        .orderBy("h").limit(k) // fixed-width hex: lexicographic == numeric order
        .agg(count(lit(1)).as("k"), max("h").as("hk"))
        .select(col("k"), col("hk"),
          // 48-bit prefix of the kth hash as a fraction of the hash space
          round(lit((k - 1).toDouble) /
            (conv(substring(col("hk"), 1, 12), 16, 10).cast("double") /
              lit(math.pow(2, 48))), 2).as("est_distinct"))
    }),

    // Multimodal plumbing: opaque binary column + typed metadata extraction. The
    // binary payload here is the text bytes (the container has no image libs; see
    // graft.multimodal for the stubbed decode path with real Spark plumbing).
    "m01_binary_meta" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          length(col("text").cast("binary")).cast("long").as("nbytes"),
          substring(col("text"), 1, 4).as("head4"),
          substring(md5(col("text").cast("binary")), 1, 8).as("fp8"))
        .orderBy("doc_id")),
  )

  /** Shared DuckDB CTEs mirroring the word-3-gram shingles of
    * [[graft.functions.ShingleHashes]], [[bandsOf]] and [[candidatePairsFromBands]],
    * parameterized on the source relation so d10 can run them over its
    * quality-gated deduped survivors instead of the full documents table.
    */
  private def candCteFrom(src: String): String =
    s"toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src), " +
      "sh AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle " +
      "FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks))" +
      ", mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS mh " +
      "FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS j) GROUP BY doc_id, j)" +
      ", bands AS (SELECT doc_id, CAST(j // 2 AS BIGINT) AS band, " +
      "md5(string_agg(mh, ',' ORDER BY j)) AS sig FROM mh GROUP BY doc_id, band)" +
      ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"
  private val ShCte =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "sh AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle " +
      "FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks))"
  private val BandsCte = ShCte +
    ", mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS mh " +
    "FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS j) GROUP BY doc_id, j)" +
    ", bands AS (SELECT doc_id, CAST(j // 2 AS BIGINT) AS band, " +
    "md5(string_agg(mh, ',' ORDER BY j)) AS sig FROM mh GROUP BY doc_id, band)"
  private val CandCte = BandsCte +
    ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a " +
    "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)"

  /** t08's keep predicate over a relation aliased with (doc_id, text, ...). */
  private val KeepSql =
    "n_tokens BETWEEN 20 AND 1000 " +
      "AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01 AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.30 " +
      "AND CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens >= 3.0 " +
      "AND CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens <= 8.0"

  /** Mirrors [[jaccardCounts]] with the unrounded ratio as `jac` (d05 rounds it
    * for display; d09 thresholds it — same IEEE division of integer counts on
    * both engines, so the threshold never lands on a rounding boundary).
    */
  private val JaccardCte =
    ", dsh AS (SELECT DISTINCT doc_id, shingle FROM sh)" +
      ", cnt AS (SELECT doc_id, count(*) AS c FROM dsh GROUP BY doc_id)" +
      ", inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c " +
      "JOIN dsh a ON a.doc_id = c.id_a JOIN dsh b ON b.doc_id = c.id_b AND b.shingle = a.shingle " +
      "GROUP BY c.id_a, c.id_b)" +
      ", jac AS (SELECT i.id_a, i.id_b, CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jac" +
      " FROM inter i JOIN cnt ca ON ca.doc_id = i.id_a JOIN cnt cb ON cb.doc_id = i.id_b)"

  /** DuckDB CTE mirroring [[simhash]] (identical arithmetic; DuckDB spells xor as a
    * function and Spark as `^`, the only divergence). The 64-bit signature is four
    * 16-bit band values s0..s3 — same representation as the Spark side, so no 64-bit
    * sign-bit hazards on either engine.
    */
  private val SimCte =
    "WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
      "hm AS (SELECT doc_id, md5(t) AS h FROM toks), " +
      "hv AS (SELECT doc_id, b, " +
      s"${OracleSql.hex16("h", "b*4+1")} AS v " +
      "FROM hm CROSS JOIN (SELECT unnest(range(0, 4)) AS b)), " +
      "bits AS (SELECT doc_id, b, j, CASE WHEN sum(CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 " +
      "THEN CAST(1 AS BIGINT) << j ELSE 0 END AS bit " +
      "FROM hv CROSS JOIN (SELECT unnest(range(0,16)) AS j) GROUP BY doc_id, b, j), " +
      "sim AS (SELECT doc_id, " +
      "CAST(sum(CASE WHEN b = 0 THEN bit ELSE 0 END) AS BIGINT) AS s0, " +
      "CAST(sum(CASE WHEN b = 1 THEN bit ELSE 0 END) AS BIGINT) AS s1, " +
      "CAST(sum(CASE WHEN b = 2 THEN bit ELSE 0 END) AS BIGINT) AS s2, " +
      "CAST(sum(CASE WHEN b = 3 THEN bit ELSE 0 END) AS BIGINT) AS s3 " +
      "FROM bits GROUP BY doc_id)"

  /** [[SimCte]] widened to the full md5 digest — the DuckDB mirror of
    * graft.functions.SimHash128 (same tokenization, same hex16 digest-byte
    * arithmetic, bands 0–7 instead of 0–3). Shares the structure verbatim so
    * the two mirrors cannot drift independently of the kernel they pin.
    */
  private val Sim128Cte =
    "WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
      "hm AS (SELECT doc_id, md5(t) AS h FROM toks), " +
      "hv AS (SELECT doc_id, b, " +
      s"${OracleSql.hex16("h", "b*4+1")} AS v " +
      "FROM hm CROSS JOIN (SELECT unnest(range(0, 8)) AS b)), " +
      "bits AS (SELECT doc_id, b, j, CASE WHEN sum(CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 " +
      "THEN CAST(1 AS BIGINT) << j ELSE 0 END AS bit " +
      "FROM hv CROSS JOIN (SELECT unnest(range(0,16)) AS j) GROUP BY doc_id, b, j), " +
      "sim AS (SELECT doc_id, " +
      (0 to 7).map(b =>
        s"CAST(sum(CASE WHEN b = $b THEN bit ELSE 0 END) AS BIGINT) AS s$b").mkString(", ") +
      " FROM bits GROUP BY doc_id)"

  /** d12's verify+filter tail over the 4×32-bit banding: band value = the
    * band's two 16-bit halves packed (mirroring [[simhash128Banded]]'s
    * `s(2b)*65536 + s(2b+1)` — always < 2^32, no sign hazard), hamming
    * summed per 16-bit column exactly as the Spark side's two packed-long
    * bit_counts decompose.
    */
  private val Sim128NearDupSql: String = {
    val ham = (0 to 7).map(b => s"bit_count(xor(a$b, b$b))").mkString(" + ")
    Sim128Cte +
      ", banded AS (SELECT doc_id, " + (0 to 7).map(b => s"s$b").mkString(", ") +
      ", bi, (CASE bi WHEN 0 THEN s0 WHEN 1 THEN s2 WHEN 2 THEN s4 ELSE s6 END) * 65536 + " +
      "(CASE bi WHEN 0 THEN s1 WHEN 1 THEN s3 WHEN 2 THEN s5 ELSE s7 END) AS bv " +
      "FROM sim CROSS JOIN (SELECT unnest(range(0,4)) AS bi))" +
      ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
      (0 to 7).map(b => s"a.s$b AS a$b, b.s$b AS b$b").mkString(", ") +
      " FROM banded a JOIN banded b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)" +
      s" SELECT id_a, id_b, CAST($ham AS BIGINT) AS hamming FROM cand" +
      s" WHERE $ham <= 3 ORDER BY id_a, id_b"
  }

  val oracles: Map[String, String] = Map(
    "d06_simhash" ->
      (SimCte + " SELECT doc_id, s0, s1, s2, s3 FROM sim ORDER BY doc_id"),
    "d07_simhash_neardup" ->
      (SimCte +
        ", banded AS (SELECT doc_id, s0, s1, s2, s3, bi," +
        "   CASE bi WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END AS bv" +
        "   FROM sim CROSS JOIN (SELECT unnest(range(0,4)) AS bi))" +
        ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b," +
        "   a.s0 AS a0, a.s1 AS a1, a.s2 AS a2, a.s3 AS a3," +
        "   b.s0 AS b0, b.s1 AS b1, b.s2 AS b2, b.s3 AS b3" +
        "   FROM banded a JOIN banded b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)" +
        " SELECT id_a, id_b, CAST(bit_count(xor(a0,b0)) + bit_count(xor(a1,b1)) +" +
        " bit_count(xor(a2,b2)) + bit_count(xor(a3,b3)) AS BIGINT) AS hamming FROM cand" +
        " WHERE bit_count(xor(a0,b0)) + bit_count(xor(a1,b1)) +" +
        " bit_count(xor(a2,b2)) + bit_count(xor(a3,b3)) <= 3 ORDER BY id_a, id_b"),
    "d12_simhash128_neardup" -> Sim128NearDupSql,
    "t04_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe " +
        "FROM documents ORDER BY doc_id"),
    "d01_dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dups FROM documents GROUP BY md5(text) ORDER BY keep_id",
    "d02_dedup_rows" ->
      "SELECT doc_id, n_chars, lang FROM (SELECT doc_id, n_chars, lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1 ORDER BY doc_id",
    "d03_minhash_bands" ->
      (BandsCte + " SELECT doc_id, band, sig FROM bands ORDER BY doc_id, band"),
    "d04_neardup_pairs" ->
      (CandCte + " SELECT id_a, id_b FROM cand ORDER BY id_a, id_b"),
    "d05_jaccard" ->
      (CandCte + JaccardCte +
        " SELECT id_a, id_b, round(jac, 6) AS jaccard FROM jac ORDER BY id_a, id_b"),
    // components: recursive reachability over the jaccard>=0.5 edges, cluster =
    // min reachable id — the same exact min-id fixpoint the Spark label
    // propagation converges to (UNION dedups, so the recursion terminates)
    "d09_dedup_clusters" ->
      (CandCte.replaceFirst("WITH ", "WITH RECURSIVE ") + JaccardCte +
        ", edges AS (SELECT id_a AS a, id_b AS b FROM jac WHERE jac >= 0.5 " +
        "UNION ALL SELECT id_b, id_a FROM jac WHERE jac >= 0.5)" +
        ", reach(src, dst) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)" +
        " SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src ORDER BY doc_id"),
    "t01_textstats" ->
      ("SELECT doc_id, nc, n_tokens, n_stop, round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio FROM " +
        "(SELECT doc_id, CAST(length(text) AS BIGINT) AS nc, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_filter(string_split(lower(text), ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop " +
        "FROM documents) ORDER BY doc_id"),
    "t02_langid" ->
      ("SELECT doc_id, CASE WHEN n_en >= n_es THEN 'en' ELSE 'es' END AS pred_lang, lang FROM " +
        "(SELECT doc_id, lang, " +
        "CAST(len(list_filter(string_split(lower(text), ' '), t -> t = 'the' OR t = 'of' OR t = 'and')) AS BIGINT) AS n_en, " +
        "CAST(len(list_filter(string_split(lower(text), ' '), t -> t = 'la' OR t = 'el' OR t = 'de')) AS BIGINT) AS n_es " +
        "FROM documents) ORDER BY doc_id"),
    "t03_fingerprint" ->
      "SELECT doc_id, md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp FROM documents ORDER BY doc_id",
    "t07_bigram_topk" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents), " +
        "bg AS (SELECT tk[i] || ' ' || tk[i+1] AS bigram FROM " +
        "(SELECT tk, unnest(range(1, len(tk))) AS i FROM toks)) " +
        "SELECT bigram, count(*) AS n FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"),
    "t10_repetition" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram FROM " +
        "(SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)), " +
        "bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram), " +
        // DuckDB window sum(BIGINT) returns HUGEINT (int128); the driver's hasher
        // renders it differently from Spark's BIGINT even when values are equal —
        // always cast integer window sums back to BIGINT (same rule as the grouped
        // bit sums above).
        "rk AS (SELECT doc_id, bigram, c, CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram) AS rk FROM bc) " +
        "SELECT doc_id, n_bigrams, bigram AS top_bigram, c AS top_n, " +
        "round(CAST(c AS DOUBLE) / n_bigrams, 6) + 0 AS rep_ratio " +
        "FROM rk WHERE rk = 1 ORDER BY doc_id"),
    // one SQL, two engine entries: the fused and staged forms are row-identical
    // by construction (shared stage builders; StagedCleanSpec pins it), so they
    // share the oracle verbatim
    "d10_clean_staged" -> CleanCorpusSql,
    "d10_clean_corpus" -> CleanCorpusSql,
    "d11_decontam" ->
      ("WITH toks AS (SELECT doc_id, " +
        "string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ') AS tk " +
        "FROM documents), " +
        "sh AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle " +
        "FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks))" +
        ", dsh AS (SELECT DISTINCT doc_id, shingle FROM sh)" +
        ", ev AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 13 = 0) " +
        "SELECT doc_id, count(*) AS n_shared FROM dsh JOIN ev USING (shingle) " +
        "WHERE doc_id % 13 <> 0 GROUP BY doc_id ORDER BY doc_id"),
    "t09_stratified_sample" ->
      ("SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM " +
        "(SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR) || '|graft'), doc_id) AS rk FROM documents) " +
        "WHERE rk <= 50 ORDER BY lang, rk"),
    "t08_quality_filter" ->
      ("SELECT doc_id, n_tokens, round(stop_ratio, 6) AS stop_ratio, round(mean_wlen, 6) AS mean_wlen, " +
        "(n_tokens BETWEEN 20 AND 1000 AND stop_ratio >= 0.01 AND stop_ratio <= 0.30 " +
        "AND mean_wlen >= 3.0 AND mean_wlen <= 8.0) AS keep FROM " +
        "(SELECT doc_id, n_tokens, CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio, " +
        "CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_wlen FROM " +
        "(SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_filter(string_split(lower(text), ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop " +
        "FROM documents)) ORDER BY doc_id"),
    "t05_rolling_fp" ->
      ("SELECT doc_id, min(w) AS fp, CAST(count(DISTINCT w) AS BIGINT) AS n_windows FROM " +
        "(SELECT doc_id, md5(substr(text, i, 8)) AS w FROM " +
        "(SELECT doc_id, text, unnest(CASE WHEN length(text) >= 8 THEN range(1, length(text) - 6) ELSE [1] END) AS i " +
        "FROM documents)) GROUP BY doc_id ORDER BY doc_id"),
    "m01_binary_meta" ->
      "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nbytes, substr(text, 1, 4) AS head4, substr(md5(text), 1, 8) AS fp8 FROM documents ORDER BY doc_id",
    "t06_kmv_distinct" ->
      ("WITH hs AS (SELECT DISTINCT md5(t) AS h FROM " +
        "(SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)), " +
        "topk AS (SELECT h FROM hs ORDER BY h LIMIT 64) " +
        "SELECT CAST(count(*) AS BIGINT) AS k, max(h) AS hk, " +
        "round(63.0 / ((('0x' || substr(max(h), 1, 12))::BIGINT) / 281474976710656.0), 2) AS est_distinct " +
        "FROM topk"),
  )

  /** The width-dependent oracle rows for a resolved signature width, pure in
    * `bits` for spec pinning: at 128 bits d07's SQL IS [[Sim128NearDupSql]] —
    * byte-identical to d12's hash-checked oracle, so the substituted SQL is
    * itself oracle-verified at every gate scale; at 64 bits nothing overrides.
    */
  private[graft] def oraclesForBits(bits: Int): Map[String, String] =
    if (bits >= 128) Map("d07_simhash_neardup" -> Sim128NearDupSql)
    else Map.empty

  /** [[oracles]] with corpus-dependent rows resolved against a CONCRETE
    * (session, dir) — what graft.Verify dumps into oracle_sql.json (r19,
    * closing the r18 ADVICE item): d07's registered plan derives its SimHash
    * width from the corpus ([[resolvedSimhashBits]]), so the SQL the same run
    * hands DuckDB must follow the same resolution or an oracle replay past
    * 32k docs compares 128-bit results against 64-bit semantics and reports
    * a false mismatch. The static [[oracles]] map stays as the driver-contract
    * surface — every driver gate corpus resolves to 64 bits, where the two
    * are identical.
    */
  def oraclesFor(s: SparkSession, d: String): Map[String, String] =
    oracles ++ oraclesForBits(resolvedSimhashBits(s, d))

  /** The d10 pipeline's oracle SQL, shared verbatim by the fused
    * (d10_clean_corpus) and staged (d10_clean_staged) entries — the two engine
    * forms are row-identical by construction (shared stage builders).
    */
  private lazy val CleanCorpusSql: String =
    "WITH RECURSIVE " +
      "qd AS (SELECT doc_id, text, lang, n_chars FROM " +
      "(SELECT doc_id, text, lang, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(len(list_filter(string_split(lower(text), ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop " +
      s"FROM documents) WHERE $KeepSql), " +
      "ex AS (SELECT doc_id, text, lang, n_chars FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM qd) WHERE rn = 1), " +
      candCteFrom("ex") + JaccardCte +
      ", edges AS (SELECT id_a AS a, id_b AS b FROM jac WHERE jac >= 0.5 " +
      "UNION ALL SELECT id_b, id_a FROM jac WHERE jac >= 0.5)" +
      ", reach(src, dst) AS (SELECT DISTINCT a, a FROM edges " +
      "UNION SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)" +
      ", losers AS (SELECT src FROM reach GROUP BY src HAVING min(dst) <> src) " +
      "SELECT doc_id, lang, n_chars FROM ex " +
      "WHERE doc_id NOT IN (SELECT src FROM losers) ORDER BY doc_id"
}
