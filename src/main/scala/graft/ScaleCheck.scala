package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness: synthesizes an sf1 dataset (10× sf0.1) and measures how
  * the dedup/ANN candidate-generation stages grow with corpus size, so the "~linear
  * at 100 TB" claims in SURVEY §8 are measurements, not plan-shape arguments.
  *
  * == sf1 synthesis ==
  * sf1 is 10 deterministic replicas of the driver's sf0.1 tables (seed-free: every
  * transform is a pure function of (replica, row)). Keys are offset by
  * `replica × (max_key + 1)` with foreign keys offset by their parent's stride, so
  * referential integrity and per-key group sizes (orders per customer, events per
  * user, lines per order) are preserved exactly — group-size distributions scale
  * the way a real 10× corpus would (more keys, same shape), not by inflating hot
  * keys.
  *
  * Two tables need more than key offsets, because replicating CONTENT verbatim
  * would manufacture cross-replica near-duplicates (10 copies of every doc → each
  * near-dup cluster grows 10× wider → candidate pairs grow 100×, which says nothing
  * about the engine — it's a property of copy-pasted data):
  *  - documents: replica r > 0 tags every word with `~r`. Within a replica, both
  *    sides of every pair get the same tag, so word-3-gram Jaccard, MinHash
  *    signatures' collision structure, and SimHash hamming geometry are preserved
  *    exactly; across replicas, every shingle/token differs, so cross-replica
  *    near-dup structure vanishes. The corpus is 10 independent shards of the same
  *    document distribution — what 10× more real data looks like.
  *  - embeddings: replica r > 0 applies the orthogonal transform
  *    `y[i] = sign(r, i) · x[(i + r) mod dim]` (circular dimension shift + a
  *    deterministic per-(replica, dim) sign flip). Orthogonality preserves every
  *    within-replica dot product and norm exactly — cosine geometry, and therefore
  *    near-dup pairs and top-k structure, replicate unchanged — while cross-replica
  *    cosines decorrelate to noise.
  *
  * == what gets measured ==
  * For sf0.01 / sf0.1 / sf1: corpus sizes and the candidate-pair counts of the
  * three LSH families (d04 MinHash bands, d07 SimHash 16-bit bands, d08 sign-LSH
  * 12-bit bands), as candidates-per-doc ratios. MinHash band signatures are
  * 128-bit, so collisions require genuine similarity and the ratio must stay flat.
  * The bit-banded families (d07/d08) have finite bucket spaces (2^16 / 2^12 per
  * band), so RANDOM collisions contribute a quadratic term ~N²/buckets on top of
  * the linear true-pair term; the measurement pins where that term starts to
  * matter and the widened-band variant (the documented scale knob) is measured
  * alongside to show the mitigation works. Also measured: IVF probed-fraction at
  * K=64/nprobe=4 on sf1 (the listing-pruning claim) and s05 ANN recall at sf1.
  *
  * Emits one JSON line per measurement (grep `^SCALECHECK`); SCALECHECK.md
  * records the committed results.
  */
object ScaleCheck {
  case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

  private def sign(r: Int, i: Int): Float = {
    // splitmix64-style finalizer: the mixing of (r, i) must be NON-SEPARABLE.
    // The previous `bit17((i+1)*C1 ^ r*C2)` factored into bit17(a_i) XOR
    // bit17(b_r) — XOR is bitwise — so every same-shift replica pair (r ≡ r'
    // mod 64) was either an exact DUPLICATE (equal global sign bit) or an
    // exact NEGATION: only 64 shifts × 2 sign patterns = 128 distinct
    // transforms existed, and reps > 64 manufactured duplicate replicas.
    // Discovered at sf100 (round 9): d08w24 measured 7.07M candidate pairs ≈
    // 3,650 duplicate replica pairs × 2,000 vectors, 30× the random-collision
    // expectation. Multiply-xorshift rounds mix r into every bit, making the
    // per-replica sign masks effectively independent (collision odds 2^-64).
    var h = (i + 1).toLong * 2654435761L + r.toLong * 0x9E3779B97F4A7C15L
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^= h >>> 31
    if ((h & 1L) == 1L) -1f else 1f
  }

  /** Every table the driver ships — the default synthesis set. */
  val AllTables: Set[String] = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Write `reps` deterministic replicas of the sf tables from `src` into `dst`.
    *
    * `tables` restricts which tables are written (default: all) — the fifth
    * decade (sf1000, round 10) only fits on disk for documents + embeddings, so
    * the corpus tables synthesize alone and the relational family's scale story
    * stays pinned at sf100.
    *
    * `repOffset` shifts the SEEDS of the per-replica content transforms (the
    * document cipher and the embedding rotation/sign mixer) without shifting the
    * id strides. It exists for COMPOSED synthesis — building sf1000 as 10
    * replicas of the already-synthesized sf100 — where a zero offset would
    * manufacture systematic exact twins: sf100's replica x (cipher c_x, applied
    * first) re-emitted untouched by sf1000's replica 0 collides with sf100's
    * replica 0 (untouched source) transformed by sf1000's replica x (the same
    * c_x, applied second) — ~reps_outer × reps_inner-¹ of all cross pairs, i.e.
    * one twin per source doc per shared seed. Offsetting the outer run's seeds
    * past the inner run's range (e.g. 1000) makes every composed transform
    * c_{1000+j}∘c_r distinct from every single-level c_x by seed disjointness,
    * and the composition of two letter-bijections fixing {t,h,e,a} (resp. two
    * signed rotations) is again one, so every invariant the single-level
    * argument relies on survives composition unchanged.
    */
  def synthesize(s: SparkSession, src: String, dst: String, reps: Int,
      tables: Set[String] = AllTables, repOffset: Int = 0): Unit = {
    import s.implicits._
    // Composed synthesis (src is itself a synthesized dir, detectable by its
    // _SYNTH_DONE marker): the seed-disjointness argument above only holds if
    // THIS run's seed range starts past the source's. The source's transform
    // seeds span (src_offset, src_offset + src_reps), so require
    // repOffset >= src_offset + src_reps — a smaller offset (or two composed
    // runs over overlapping ranges) silently reintroduces the exact-twin
    // artifact the offset exists to prevent, at one phantom dup pair per
    // source doc per shared seed (round-10 advice; the original 45,000-pair
    // closed form is in SCALECHECK.md's fifth-decade section).
    val srcMarker = new java.io.File(src, "_SYNTH_DONE")
    if (srcMarker.exists()) {
      val stamp = new String(
        java.nio.file.Files.readAllBytes(srcMarker.toPath), "UTF-8")
      def field(k: String, dflt: Int): Int =
        s"""$k=(\\d+)""".r.findFirstMatchIn(stamp).map(_.group(1).toInt).getOrElse(dflt)
      require(!stamp.contains("IN-PROGRESS"),
        s"composed synthesis: $src is marked IN-PROGRESS (half-written) — " +
          "finish or rebuild the source first")
      val srcSeedEnd = field("offset", 0) + field("reps", -1)
      require(field("reps", -1) > 0,
        s"composed synthesis: $src carries a _SYNTH_DONE marker without a " +
          "parseable reps= field — cannot prove seed disjointness; rebuild the " +
          "source or remove the marker if the dir is not synthesized")
      require(repOffset >= srcSeedEnd,
        s"composed synthesis: repOffset=$repOffset overlaps the source's seed " +
          s"range [0, $srcSeedEnd) ($src stamp: ${stamp.trim}) — overlapping " +
          "cipher seeds manufacture systematic exact-twin pairs; set " +
          s"SPARK_GRAFT_SCALE_REP_OFFSET >= $srcSeedEnd")
    }
    // events.ts has shipped as ns-epoch longs and as timestamp[us] across
    // testdata generations (see Tables.events); read raw (legacy conf keeps a
    // nanos column scannable) so the replica keeps the producer's physical
    // type and Tables.events adapts to sf1 exactly as it does to the source
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def rd(name: String) = s.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0) + 1L
    def repl(df: DataFrame, offs: (String, Long)*): DataFrame =
      (0 until reps).map { r =>
        offs.foldLeft(df) { case (d, (c, st)) => d.withColumn(c, col(c) + lit(st * r)) }
      }.reduce(_ unionByName _)

    val unknown = tables.diff(AllTables)
    require(unknown.isEmpty, s"unknown synthesis tables: ${unknown.mkString(",")}")
    def want(n: String): Boolean = tables(n)

    // dimensions stay fixed (as in TPC-H: region/nation don't scale)
    if (want("region")) wr(rd("region"), "region")
    if (want("nation")) wr(rd("nation"), "nation")

    // the relational family shares key strides (orders offsets by customer's,
    // lineitem by orders/part/supplier's), so the parent reads happen whenever
    // any member is wanted — reading an unwritten parent costs one max() scan
    if (Seq("customer", "supplier", "part", "orders", "lineitem").exists(want)) {
      val cust = rd("customer"); val stC = stride(cust, "c_custkey")
      val supp = rd("supplier"); val stS = stride(supp, "s_suppkey")
      val part = rd("part"); val stP = stride(part, "p_partkey")
      val ord = rd("orders"); val stO = stride(ord, "o_orderkey")
      if (want("customer")) wr(repl(cust, "c_custkey" -> stC), "customer")
      if (want("supplier")) wr(repl(supp, "s_suppkey" -> stS), "supplier")
      if (want("part")) wr(repl(part, "p_partkey" -> stP), "part")
      if (want("orders")) wr(repl(ord, "o_orderkey" -> stO, "o_custkey" -> stC), "orders")
      if (want("lineitem")) wr(repl(rd("lineitem"),
        "l_orderkey" -> stO, "l_partkey" -> stP, "l_suppkey" -> stS), "lineitem")
    }

    if (want("events")) {
      val ev = rd("events")
      wr(repl(ev, "event_id" -> stride(ev, "event_id"), "user_id" -> stride(ev, "user_id")),
        "events")
    }

    if (want("documents")) {
    val docs = rd("documents"); val stD = stride(docs, "doc_id")
    // Replica transform: a per-replica letter-substitution cipher FIXING the
    // letters {t,h,e,a}. Because the cipher is a bijection on letters, word
    // identity is injective within a replica (shingle/MinHash/SimHash collision
    // structure preserved exactly) and every word length is unchanged — so
    // token counts, mean word length, n_chars, AND the stopword tokens
    // "the"/"a" (fixed-point letters only) are all preserved, which keeps the
    // t08/d10 quality gate's pass set scaling with the corpus. (The earlier
    // `~r` word-tag scheme inflated mean word length past the gate's bound, so
    // sf10's d10 measured the gate, not survivor growth.) Across replicas the
    // permutations differ, so cross-replica near-dup structure all but
    // vanishes — "all but" because digits and words spelled only from the
    // fixed letters {t,h,e,a} (e.g. "the", "a") are fixed points in EVERY
    // replica, and Random.shuffle may map an individual movable letter to
    // itself, so a small residue of shared word n-grams survives. That residue
    // sits far below the 3-of-8-band MinHash collision threshold on this
    // corpus (measured: candidates/doc stays ~flat across decades), so it is
    // accepted rather than deranged away — a derangement would change the
    // bytes and invalidate every measured cipher-v2 table in SCALECHECK.md.
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def cipherTo(r: Int): String = {
      val fixedPts = "thea".toSet
      val movable = alphabet.filterNot(fixedPts)
      val shuffled = new scala.util.Random(0x5EED0000L + r).shuffle(movable.toList)
      val m = movable.zip(shuffled).toMap
      alphabet.map(c => if (fixedPts(c)) c else m(c))
    }
    // seeds shift by repOffset (composed synthesis), id strides do not
    val ciphers = (1 until reps).map(r => cipherTo(repOffset + r))
    require(ciphers.distinct.size == ciphers.size && !ciphers.contains(alphabet),
      "replica ciphers must be pairwise distinct and non-identity")
    wr((0 until reps).map { r =>
      if (r == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(stD * r))
        .withColumn("text", translate(col("text"), alphabet, ciphers(r - 1)))
    }.reduce(_ unionByName _), "documents")
    }

    if (want("embeddings")) {
    val emb = rd("embeddings").as[EmbRow]
    val stV = stride(emb.toDF(), "vec_id")
    wr((0 until reps).map { r =>
      if (r == 0) emb.toDF()
      else {
        val rr = r
        val rSeed = repOffset + r
        emb.map { e =>
          val n = e.embedding.length
          val y = Array.tabulate(n)(i => sign(rSeed, i) * e.embedding((i + rSeed) % n))
          EmbRow(e.vec_id + stV * rr, y, e.label)
        }.toDF()
      }
    }.reduce(_ unionByName _), "embeddings")
    }
  }

  def main(args: Array[String]): Unit = {
    JvmCheck.warnIfModulesClosed()
    // f"...%.3f" is default-locale-sensitive; a comma decimal separator
    // would silently corrupt the machine-parsed JSON lines below
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "target/sf1")
    // Fifth-decade knobs (round 10): SPARK_GRAFT_SCALE_SRC composes synthesis
    // on top of an earlier run's output (default: the driver's sf0.1),
    // SPARK_GRAFT_SCALE_TABLES restricts which tables are written (csv;
    // sf1000 only fits on disk for documents,embeddings), and
    // SPARK_GRAFT_SCALE_REP_OFFSET shifts the content-transform seeds so a
    // composed run never reuses the inner run's ciphers (see [[synthesize]]).
    // All three default to the historical behavior, and all three stamp the
    // _SYNTH_DONE marker when non-default so a dir built one way is never
    // silently measured as another.
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", s"$base/sf0.1")
    val synthTables = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllTables)
    val repOffset = sys.env.getOrElse("SPARK_GRAFT_SCALE_REP_OFFSET", "0").toInt
    val spark = LocalSession(defaultCpus = 32)

    val dstName = new java.io.File(dst).getName
    // The marker records the synthesis SCHEME and reps, not just existence: a
    // dst dir built under an older scheme (e.g. round 7's `~r` word tags) or a
    // different reps count must be rebuilt, or every step silently measures the
    // wrong corpus — the stale-marker variant of a silent cap.
    val marker = new java.io.File(dst, "_SYNTH_DONE")
    // v3 (round 9): embeddings' sign mixer became non-separable (see [[sign]]);
    // documents' cipher is unchanged from v2. Non-default src/tables/offset
    // append to the stamp, so every existing full-synthesis marker stays valid
    // byte-for-byte while a composed/subset dir can never pass for a full one.
    val synthStamp = s"scheme=cipher-v3 reps=$reps" +
      (if (srcDir == s"$base/sf0.1") "" else s" src=$srcDir") +
      (if (synthTables == AllTables) "" else s" tables=${synthTables.toSeq.sorted.mkString(",")}") +
      (if (repOffset == 0) "" else s" offset=$repOffset")
    val stampOk = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim == synthStamp
    if (!stampOk) {
      if (new java.io.File(dst).exists()) {
        // Only ever delete a directory this synthesizer demonstrably produced:
        // the _SYNTH_DONE marker (any stamp) is the ownership proof. Without
        // it, SPARK_GRAFT_SF1_DIR may point at a directory we must not touch
        // (e.g. the read-only /root/testdata tree, or a half-written run a
        // human wants to inspect) — fail loudly instead of wiping it.
        require(marker.exists(),
          s"$dst exists but carries no _SYNTH_DONE marker — refusing to delete " +
            "a directory this synthesizer did not produce; remove it manually " +
            "or point SPARK_GRAFT_SF1_DIR at a clean path")
        println(s"""SCALECHECK {"step":"resynthesize","reason":"stale marker stamp; expected \\"$synthStamp\\""}""")
        def rmRf(f: java.io.File): Unit = {
          // listFiles() returns null on IO error / concurrent delete
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
          f.delete(); ()
        }
        rmRf(new java.io.File(dst))
      }
      // Claim ownership BEFORE synthesizing: if the run dies mid-synthesis the
      // half-written dst still carries a marker (with a deliberately
      // mismatching IN-PROGRESS stamp), so the next run deletes and rebuilds
      // instead of tripping the ownership require above — the guard stays
      // strict only for directories some OTHER process produced.
      java.nio.file.Files.createDirectories(new java.io.File(dst).toPath)
      // Synthesis-output preflight (r14, sibling of Sizing.preflightScratch):
      // the output parquet is ~src footprint x reps on the SAME volume the
      // shuffles scratch on, and a half-written decade is an hour-class loss.
      // WARN-only — the r13 d10 death was absorbed headroom from exactly this
      // class of write, but a human resynthesizing on purpose (having just
      // freed space) must not be refused by an estimate.
      val srcBytes = synthTables.toSeq.map(t =>
        graft.queries.Sizing.footprintBytesCached(spark, s"$srcDir/$t.parquet"))
      if (srcBytes.forall(_ >= 0)) {
        // reps is the FULL replica count this call writes even when
        // repOffset > 0 — the offset shifts the content-transform SEEDS only
        // (see synthesize), and any stale dst was wiped above before this
        // branch, so src x reps is exact for the bytes about to land.
        val est = srcBytes.sum * reps
        val usable = new java.io.File(dst).getUsableSpace
        // sub-GiB estimates render in MB: `est >> 30` would print "~0 GB"
        def human(b: Long): String =
          if (b >= (1L << 30)) s"~${b >> 30} GB" else s"~${b >> 20} MB"
        if (est > usable) System.err.println(
          s"[graft] synthesis preflight: $dst wants ${human(est)} " +
            s"(${srcBytes.sum >> 20} MB src x $reps reps) but the volume has " +
            s"only ${human(usable)} usable - the run will likely die " +
            "mid-write; free space first")
      }
      java.nio.file.Files.write(marker.toPath, s"$synthStamp IN-PROGRESS".getBytes("UTF-8"))
      val t0 = System.nanoTime()
      synthesize(spark, srcDir, dst, reps, synthTables, repOffset)
      println(f"""SCALECHECK {"step":"synthesize","reps":$reps,"sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      java.nio.file.Files.write(marker.toPath, synthStamp.getBytes("UTF-8"))
    }

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
    }

    // SPARK_GRAFT_STEPS=csv limits the run to named steps — partial
    // re-measurement tool. Unknown names fail loudly: a typo would otherwise
    // run ZERO steps and exit 0, an empty measurement indistinguishable from a
    // filtered one (the file's own no-silent-caps principle).
    // "synth" is a deliberate no-op: SPARK_GRAFT_STEPS=synth runs ONLY the
    // synthesis (building a corpus for an external probe like PlanProbe's
    // sf150 scratch campaign) without paying any measurement step.
    val knownSteps = Set("candidates", "ivf", "recall", "newops", "round7", "auto", "loadmany", "planted", "residue", "d11probe", "megacluster", "giant", "synth", "m02probe")
    val onlySteps = sys.env.get("SPARK_GRAFT_STEPS").map(_.split(",").map(_.trim).toSet)
    onlySteps.foreach { s =>
      val unknown = s.diff(knownSteps)
      require(unknown.isEmpty,
        s"unknown SPARK_GRAFT_STEPS ${unknown.mkString(",")}; known: ${knownSteps.toSeq.sorted.mkString(",")}")
    }
    def stepOn(name: String): Boolean = onlySteps.forall(_.contains(name))
    // Opt-in steps are excluded from the default (unfiltered) run — they only
    // fire when SPARK_GRAFT_STEPS names them. `residue` re-runs the full d04
    // candidate self-join over dst (the suite's most expensive join at sf1000)
    // purely to re-attribute a number the `candidates` step already measured —
    // a default run would pay the biggest join twice for zero new information
    // (round-10 advice).
    def stepExplicit(name: String): Boolean =
      onlySteps.exists(_.contains(name))

    if (stepOn("candidates"))
    for ((sf, dir) <- Seq("sf0.01" -> s"$base/sf0.01", "sf0.1" -> s"$base/sf0.1", dstName -> dst)) {
      val docs = graft.queries.Tables.documents(spark, dir).count()
      val vecs = graft.queries.Tables.embeddings(spark, dir).count()
      val (d04, tD04) = timed(graft.queries.TextOps.candidatePairs(spark, dir).count())
      // the 64-bit d07 measurement stays meaningful while its quadratic random
      // term (~N²/2^16 × 4 distinct pairs) is still countable — past ~2M docs
      // the predicted billions of collisions ARE the result (the regime the
      // 128-bit knob replaces) and counting them measures the data, not the
      // engine. Skip with the prediction printed (no silent caps).
      val d07Opt =
        if (docs <= 2000000) Some(timed(graft.queries.TextOps.simhashCandidatePairs(spark, dir).count()))
        else {
          val predicted = docs.toDouble * docs / 65536 * 4
          println(f"""SCALECHECK {"step":"candidates_skip","sf":"$sf","what":"d07_64bit",""" +
            f""""reason":"quadratic regime: 4x2^16 buckets vs $docs docs","predicted_pairs":$predicted%.3g}""")
          None
        }
      // the 128-bit signature: the documented d07 scale knob, measured alongside
      val (d07w, tD07w) = timed(graft.queries.TextOps.simhash128CandidatePairs(spark, dir).count())
      val emb = graft.queries.Tables.embeddings(spark, dir)
      // Same predicted-count skip for d08's frozen 12-bit counter-example cell
      // (r10): past ~1M vectors the 2×12-bit random term (2 bands × N²/2/2^12 =
      // N²/4096 pairs) is the whole answer — sf100 measured 976,452,215 against
      // a 976,562,500 prediction (+0.01%), 110.9 s spent confirming the regime
      // d07's printed-prediction mechanism already proves. The quadratic row
      // stays MEASURED through sf10 (its last countable decade); above that the
      // prediction is the documented value and the diagonal cells stay measured.
      val d08Opt =
        if (vecs <= 1000000) Some(timed(graft.queries.VectorOps.embedCandidatePairs(emb).count()))
        else {
          val predicted = vecs.toDouble * vecs / 4096
          println(f"""SCALECHECK {"step":"candidates_skip","sf":"$sf","what":"d08_12bit",""" +
            f""""reason":"quadratic regime: 2x2^12 buckets vs $vecs vecs","predicted_pairs":$predicted%.3g}""")
          None
        }
      // the widened-band variants: +4 bits per decade is the documented rule,
      // measured at 16/20/24/28 bits at every SF so the diagonal has a measured
      // point per decade (28-bit is the fifth decade's prescribed width, r10).
      // Each width cell carries its own quadratic-regime skip: the random term
      // is ~N²/2^bits (2 bands × N²/2 per-band collisions), and once the
      // prediction passes ~1.5e9 the distinct() behind the count is the same
      // memory wall the 12-bit cell hit at sf100 — the prediction is printed
      // and the JSON carries nulls (never silent caps). At sf1000 this skips
      // exactly one cell (16-bit: 20M vecs → ~6e9 predicted); every previously
      // recorded decade measures every cell as before.
      def widthCell(tag: String, bits: Int): String = {
        val predicted = vecs.toDouble * vecs / math.pow(2.0, bits)
        if (predicted > 1.5e9) {
          println(f"""SCALECHECK {"step":"candidates_skip","sf":"$sf","what":"d08_${bits}bit",""" +
            f""""reason":"quadratic regime: 2x2^$bits buckets vs $vecs vecs","predicted_pairs":$predicted%.3g}""")
          s""""${tag}_pairs":null,"${tag}_per_vec":null,"${tag}_sec":null,"""
        } else {
          val (n, t) = timed(graft.queries.VectorOps.embedCandidatePairs(emb, bits = bits).count())
          f""""${tag}_pairs":$n,"${tag}_per_vec":${n.toDouble / vecs}%.4f,"${tag}_sec":$t%.1f,"""
        }
      }
      val widthJson = widthCell("d08w16", 16) + widthCell("d08w20", 20) +
        widthCell("d08w24", 24) + widthCell("d08w28", 28)
      // skipped 64-bit d07 → emit nulls, not -1 sentinels a metric parser could
      // aggregate; the candidates_skip line above carries the prediction
      val d07Json = d07Opt match {
        case Some((d07, tD07)) =>
          f""""d07_pairs":$d07,"d07_per_doc":${d07.toDouble / docs}%.4f,"d07_sec":$tD07%.1f,"""
        case None => """"d07_pairs":null,"d07_per_doc":null,"d07_sec":null,"""
      }
      val d08Json = d08Opt match {
        case Some((d08, tD08)) =>
          f""""d08_pairs":$d08,"d08_per_vec":${d08.toDouble / vecs}%.4f,"d08_sec":$tD08%.1f,"""
        case None => """"d08_pairs":null,"d08_per_vec":null,"d08_sec":null,"""
      }
      println(f"""SCALECHECK {"step":"candidates","sf":"$sf","docs":$docs,"vecs":$vecs,""" +
        f""""d04_pairs":$d04,"d04_per_doc":${d04.toDouble / docs}%.4f,"d04_sec":$tD04%.1f,""" +
        d07Json +
        f""""d07w128_pairs":$d07w,"d07w128_per_doc":${d07w.toDouble / docs}%.4f,"d07w128_sec":$tD07w%.1f,""" +
        d08Json + widthJson.dropRight(1) + "}")
      graft.Caches.clearAll()
    }

    if (stepExplicit("residue"))
    // Attribution probe for the d04 growth curve (round 10): split the MinHash
    // candidate pairs of `dst` into SAME-replica pairs (true near-dup structure,
    // which replicates exactly and must stay linear in docs) and CROSS-replica
    // pairs (the cipher's fixed-point residue — digits and {t,h,e,a}-spelled
    // words are invariant under EVERY replica cipher, so a fixed-point-heavy
    // doc collides with counterparts in OTHER replicas; per doc that collision
    // count grows ~linearly with the replica count, which is what bent d04's
    // per-doc ratio at sf1000's 10,000 composite replicas). Replica index =
    // doc_id / mod: ids are dense 0-based per source corpus, and every
    // synthesis stride is a multiple of the source size.
    {
      val mod = graft.queries.Knobs.int("SPARK_GRAFT_RESIDUE_MOD").getOrElse(5000).toLong
      val docs = graft.queries.Tables.documents(spark, dst).count()
      val ((same, cross), sec) = timed {
        val m = graft.queries.TextOps.candidatePairs(spark, dst)
          .groupBy(((col("id_a") / mod).cast("long") === (col("id_b") / mod).cast("long")).as("same"))
          .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        (m.getOrElse(true, 0L), m.getOrElse(false, 0L))
      }
      println(f"""SCALECHECK {"step":"residue","sf":"$dstName","mod":$mod,"docs":$docs,""" +
        f""""same_replica_pairs":$same,"same_per_doc":${same.toDouble / docs}%.4f,""" +
        f""""cross_replica_pairs":$cross,"cross_per_doc":${cross.toDouble / docs}%.4f,"sec":$sec%.1f}""")
      graft.Caches.clearAll()
    }

    if (stepExplicit("d11probe"))
    // d11's fifth-decade point + the UNGATED decontam-shingle cache audit
    // (r10 ask #2, opt-in like residue — it runs the suite's normalized
    // shingle distinct twice over dst). Two reps of the registered query in
    // ONE session: rep 1 pays the cache build; rep 2 is the tell. If the
    // cached distinct-shingle frame serves (fully memory-resident or cheap
    // disk), rep 2 ≪ rep 1; if the storage pool churns/evicts at this scale,
    // rep 2 recomputes per-partition on top of eviction overhead (the exact
    // failure d05's verify-shingle cache measured at sf100, which is why THAT
    // cache is footprint-gated) and the fix is the same gate. The storage
    // report makes the eviction visible directly: cached vs total partitions
    // plus memory/disk bytes of every cached RDD after rep 2.
    {
      val q = graft.SparkEntry.queries("d11_decontam")
      val (_, rep1) = timed(q(spark, dst).write.format("noop").mode("overwrite").save())
      val (_, rep2) = timed(q(spark, dst).write.format("noop").mode("overwrite").save())
      val (cachedParts, totalParts, memB, diskB) =
        spark.sparkContext.getRDDStorageInfo.foldLeft((0, 0, 0L, 0L)) { (a, i) =>
          (a._1 + i.numCachedPartitions, a._2 + i.numPartitions,
            a._3 + i.memSize, a._4 + i.diskSize)
        }
      println(f"""SCALECHECK {"step":"d11probe","sf":"$dstName","rep1_sec":$rep1%.1f,"rep2_sec":$rep2%.1f,""" +
        f""""cached_partitions":$cachedParts,"total_partitions":$totalParts,""" +
        f""""cache_mem_bytes":$memB,"cache_disk_bytes":$diskB}""")
      graft.Caches.clearAll()
    }

    if (stepExplicit("m02probe"))
    // m02 real-decode scale shape (r19 VERDICT task 7, opt-in): the
    // javax.imageio header read runs per-row inside decode's mapPartitions —
    // correct and shuffle-free by construction, but unmeasured beyond sf0.1.
    // This leg builds a parquet media corpus ≥ sf10-class row counts
    // (default 1 M rows ≈ 2× sf10's 500 k documents) with a realistic
    // image-mime fraction (default 30% image/bmp — real BMPs via
    // syntheticBmp, avg ~11.5 KB, parsed through the genuine ImageIO reader;
    // the rest text/plain on the stub branch), then times TWO decode reps
    // over the parquet read with StageMetrics deltas. The pinned claims:
    // shuffle_mb ≈ 0 (the payload never crosses an exchange — decode emits
    // metadata only) and spill_mb ≈ 0 (the reader buffers one payload at a
    // time — no surprise accumulation), with the wall CPU-bounded.
    {
      import spark.implicits._
      val n = sys.env.getOrElse("SPARK_GRAFT_M02_ROWS", "1000000").toLong
      val pctImg = 30 // of 100, by id mod — deterministic corpus
      val path = s"$dst/media_probe.parquet"
      val (_, synthSec) = timed {
        spark.range(n).map { i =>
          if (i % 100 < pctImg) (i, "image/bmp", graft.multimodal.Multimodal.syntheticBmp(i))
          else (i, "text/plain",
            s"media probe text payload $i with a few words of ballast".getBytes("UTF-8"))
        }.toDF("media_id", "mime", "payload")
          .write.mode("overwrite").parquet(path)
      }
      val media = spark.read.parquet(path)
      val metrics = new graft.StageMetrics
      spark.sparkContext.addSparkListener(metrics)
      try {
        def snap(): (Long, Long) = { graft.StageMetrics.drain(spark); metrics.snapshot }
        def rep(): (Double, Long, Long) = {
          val (sp0, sh0) = snap()
          val (_, sec) = timed(graft.multimodal.Multimodal.decode(media)
            .write.format("noop").mode("overwrite").save())
          val (sp1, sh1) = snap()
          (sec, (sp1 - sp0) >> 20, (sh1 - sh0) >> 20)
        }
        val (r1, sp1, sh1) = rep()
        val (r2, sp2, sh2) = rep()
        println(f"""SCALECHECK {"step":"m02probe","rows":$n,"image_pct":$pctImg,""" +
          f""""synth_sec":$synthSec%.1f,"rep1_sec":$r1%.1f,"rep2_sec":$r2%.1f,""" +
          f""""rep1_spill_mb":$sp1,"rep1_shuffle_mb":$sh1,""" +
          f""""rep2_spill_mb":$sp2,"rep2_shuffle_mb":$sh2}""")
      } finally spark.sparkContext.removeSparkListener(metrics)
    }

    if (stepOn("ivf"))
    // IVF at scale: K=64, 2 Lloyd refinements, nprobe=4 on sf1 — time the search
    // and measure the probed fraction (the fraction of the corpus the probe scans).
    {
      graft.functions.VecDot.register(spark)
      val emb = graft.queries.Tables.embeddings(spark, dst)
      val ((res, frac), sec) = timed {
        val cents = graft.queries.VectorOps.ivfCentroids(emb, 64, 2)
          .localCheckpoint() // train once; search + audit reuse the same quantizer
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val probed = graft.queries.VectorOps.ivfProbe(cents, q, 4)
        val assign = graft.queries.VectorOps.ivfAssign(emb, cents)
        val scanned = assign.join(broadcast(probed), "cid").count()
        val top = assign.join(broadcast(probed), "cid")
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(expr("vec_dot(embedding, qe)") /
              (sqrt(expr("vec_dot(embedding, embedding)")) * sqrt(expr("vec_dot(qe, qe)"))), 5).as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(5)
          .collect().map(_.getLong(0)).mkString("[", ",", "]")
        (top, scanned.toDouble / emb.count())
      }
      println(f"""SCALECHECK {"step":"ivf_k64","sf":"$dstName","k":64,"nprobe":4,"lloyd_iters":2,""" +
        f""""probed_fraction":$frac%.4f,"top5":$res,"sec":$sec%.1f}""")
    }

    if (stepOn("recall"))
    // ANN retrieval quality at sf1: the s05 recall query on the synthesized corpus,
    // plus the bucket-LSH banding sweep — recall@5 of an s02-style search across
    // (bands × bits) configurations, measuring the two knobs' trade: WIDTH bounds
    // candidates (precision), COUNT buys recall back (OR-amplification).
    {
      val rows = graft.SparkEntry.queries("s05_ann_recall")(spark, dst).collect()
      val recalls = rows.map(r => s""""${r.getString(0)}":${r.getDouble(1)}""").mkString(",")
      println(s"""SCALECHECK {"step":"ann_recall","sf":"$dstName",$recalls}""")

      graft.functions.VecDot.register(spark)
      val emb = graft.queries.Tables.embeddings(spark, dst)
      val exact5 = graft.queries.VectorOps.exactTopK(spark, dst, 5).select("vec_id")
      def bucketRecall(bands: Int, bits: Int): (Double, Long) = {
        val bb = graft.queries.VectorOps.banded(emb, bits, bands)
        val q = bb.filter(col("vec_id") === 0)
          .select(col("bi"), col("bucket"), col("embedding").as("qe"))
        val cand = bb.join(broadcast(q), Seq("bi", "bucket"))
          .select(col("vec_id"), col("embedding"), col("qe")).distinct()
        val n = cand.count()
        val top = cand.select(col("vec_id"),
            (expr("vec_dot(embedding, qe)") /
              (sqrt(expr("vec_dot(embedding, embedding)")) * sqrt(expr("vec_dot(qe, qe)")))).as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(5)
        (top.join(exact5, "vec_id").count() / 5.0, n)
      }
      val sweep = Seq((2, 12), (2, 16), (4, 12), (4, 16), (5, 12))
        .map { case (bands, bits) =>
          val (r, n) = bucketRecall(bands, bits)
          s""""b${bands}x$bits":{"recall":$r,"cand":$n}"""
        }.mkString(",")
      println(s"""SCALECHECK {"step":"bucket_sweep","sf":"$dstName",$sweep}""")
    }

    if (stepOn("newops"))
    // the round-driven operators at sf1: d09's component loop over 10× the verified
    // edges (rounds grow with log of cluster diameter, not corpus size) and s06's
    // batched k-NN join (one plan regardless of probe count).
    {
      val (nClustered, secD09) = timed(
        graft.SparkEntry.queries("d09_dedup_clusters")(spark, dst).count())
      val (nKnn, secS06) = timed(
        graft.SparkEntry.queries("s06_knn_join")(spark, dst).count())
      println(f"""SCALECHECK {"step":"new_ops","sf":"$dstName","d09_clustered_docs":$nClustered,""" +
        f""""d09_sec":$secD09%.1f,"s06_rows":$nKnn,"s06_sec":$secS06%.1f}""")
      graft.Caches.clearAll()
    }

    if (stepOn("round7"))
    // every operator a 100 TB corpus-cleaning run executes end-to-end, measured at
    // sf1 (the round-6 verdict's gap: d10/d11/t07/t09/e07/e08 and the 128-bit
    // VERIFY path had sf0.1 numbers only). Caches are cold here (cleared above),
    // so each timing includes its own intermediate builds.
    {
      def q(name: String) = timed(graft.SparkEntry.queries(name)(spark, dst).count())
      val (nD10, sD10) = q("d10_clean_corpus")
      val (nD11, sD11) = q("d11_decontam")
      val (nT07, sT07) = q("t07_bigram_topk")
      val (nT09, sT09) = q("t09_stratified_sample")
      val (nE07, sE07) = q("e07_dedup_events")
      val (nE08, sE08) = q("e08_asof_join")
      val (nV128, sV128) = timed(graft.queries.TextOps.simhash128NearDup(spark, dst).count())
      println(f"""SCALECHECK {"step":"round7_ops","sf":"$dstName","d10_rows":$nD10,"d10_sec":$sD10%.1f,""" +
        f""""d11_rows":$nD11,"d11_sec":$sD11%.1f,"t07_rows":$nT07,"t07_sec":$sT07%.1f,""" +
        f""""t09_rows":$nT09,"t09_sec":$sT09%.1f,"e07_rows":$nE07,"e07_sec":$sE07%.1f,""" +
        f""""e08_rows":$nE08,"e08_sec":$sE08%.1f,"d07v128_pairs":$nV128,"d07v128_sec":$sV128%.1f}""")
      graft.Caches.clearAll()
    }

    if (stepOn("auto"))
    // the auto-K rule (ivfDefaults: k ≈ √N, nprobe = k/16) measured at two scale
    // factors: probed fraction must track nprobe/k while K grows √10 per decade,
    // and recall@5 must hold where the fixed K=16 demo quantizer degrades (the
    // s05 row at large N) — searching the probed lists exactly, like ivfSearch.
    for ((sf, dir) <- Seq("sf0.1" -> s"$base/sf0.1", dstName -> dst)) {
      graft.functions.VecDot.register(spark)
      val emb = graft.queries.Tables.embeddings(spark, dir)
      val n = emb.count()
      val (k, nprobe) = graft.queries.VectorOps.ivfDefaults(n)
      val ((frac, recall), sec) = timed {
        val cents = graft.queries.VectorOps.ivfCentroids(emb, k, 1).localCheckpoint()
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val probed = graft.queries.VectorOps.ivfProbe(cents, q, nprobe)
        val lists = graft.queries.VectorOps.ivfAssign(emb, cents)
          .join(broadcast(probed), "cid")
        val fr = lists.count().toDouble / n
        val cos = expr("vec_dot(embedding, qe)") /
          (sqrt(expr("vec_dot(embedding, embedding)")) * sqrt(expr("vec_dot(qe, qe)")))
        val top5 = lists.crossJoin(broadcast(q))
          .select(col("vec_id"), round(cos, 5).as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(5).select("vec_id")
        val exact5 = graft.queries.VectorOps.exactTopK(spark, dir, 5).select("vec_id")
        (fr, top5.join(exact5, "vec_id").count() / 5.0)
      }
      println(f"""SCALECHECK {"step":"ivf_auto","sf":"$sf","n":$n,"k":$k,"nprobe":$nprobe,""" +
        f""""ideal_fraction":${nprobe.toDouble / k}%.4f,"probed_fraction":$frac%.4f,""" +
        f""""recall_at_5":$recall,"sec":$sec%.1f}""")
    }

    if (stepOn("planted"))
    // IVF quality on a corpus WITH neighbor structure. The replica corpus is the
    // adversarial floor: its embeddings have no planted neighbors, so every
    // recall number saturates at the probed fraction and says nothing about
    // whether the quantizer finds structure. Plant C = N/40 clusters (Gaussian
    // centroid + per-vector noise; in-cluster cosine ≈ 0.9, cross-cluster ≈ 0)
    // and measure recall@5 (self excluded) for 20 queries in one batched
    // s06-shaped plan: recall ≫ probed fraction is the quantizer earning its
    // keep; recall ≈ probed fraction would mean IVF degenerated to sampling.
    {
      graft.functions.VecDot.register(spark)
      val perCluster = 40
      val srcVecs = spark.read.parquet(s"$base/sf0.1/embeddings.parquet").count()
      val nVec = srcVecs * reps
      val nClusters = (nVec / perCluster).toInt
      // generator + measurement are VectorOps.plantedEmbeddings/ivfRecallVsExact,
      // shared with AnnRecallSpec so the measured corpus and the CI-pinned corpus
      // cannot drift; vec_id 0..19 sit in 20 DISTINCT clusters (cluster = id % C)
      graft.queries.VectorOps.plantedEmbeddings(spark, nVec, 64, nClusters)
        .write.mode("overwrite").parquet(s"$dst/embeddings_planted.parquet")
      val emb = spark.read.parquet(s"$dst/embeddings_planted.parquet")
      val (r, sec) = timed(graft.queries.VectorOps.ivfRecallVsExact(emb, nQ = 20))
      println(f"""SCALECHECK {"step":"planted","sf":"$dstName","n":${r.n},"clusters":$nClusters,""" +
        f""""k":${r.k},"nprobe":${r.nprobe},"probed_fraction":${r.probedFraction}%.4f,""" +
        f""""recall_at_5":${r.recallAt5},"sec":$sec%.1f}""")
      graft.Caches.clearAll()
    }

    if (stepExplicit("megacluster"))
    // The r16 hot-bucket guard's adversarial A/B (opt-in like residue — it
    // synthesizes and candidate-joins extra corpora). Plants M near-identical
    // docs — one shared 44-word boilerplate body plus a per-doc unique tail
    // token: texts stay DISTINCT (so exact dedup keeps them all) but ~95% of
    // them share each band's all-common-shingles MinHash signature, i.e. one
    // boilerplate mega-bucket per band. Measures:
    //  (a) at M/10, guarded vs unguarded-clique pairs + walls on the SAME
    //      corpus — the direct A/B (the clique is ~(0.95·M/10)²/2 pairs from
    //      one key; quadratic, but still materializable at this size);
    //  (b) at M, the guarded leg only (the clique leg would be ~100× (a)'s
    //      pairs ≈ 5e9 — the exact failure the guard exists to prevent; its
    //      size is REPORTED from the bucket stats instead of executed);
    //  (c) d09 + d10 end-to-end on the guarded M corpus: the mega-cluster
    //      must land in ONE component (log-bounded rounds) and d10 must keep
    //      exactly one planted survivor;
    //  (d) the oversizedBuckets probe — driver-visible accounting of capped keys.
    {
      val m = sys.env.getOrElse("SPARK_GRAFT_MEGA_DOCS", "100000").toInt
      val base = "the quick brown fox jumps over the lazy dog while a small " +
        "red bird watches from the tall green tree and sings about clear " +
        "morning light near quiet water banks where young deer drink fresh " +
        "cool streams under bright open skies every single day"
      def plantedDocs(n: Int, startId: Long) =
        spark.range(n.toLong).select(
          (col("id") + startId).as("doc_id"),
          concat(lit(base + " tail"), col("id")).as("text"),
          lit("en").as("lang"), lit("planted").as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      for ((label, n) <- Seq("small" -> m / 10, "full" -> m)) {
        val megaDir = s"$dst-mega-$label"
        val src = graft.queries.Tables.documents(spark, dst)
        val startId = src.agg(max("doc_id")).head().getLong(0) + 1L
        src.select("doc_id", "text", "lang", "source", "n_chars")
          .unionByName(plantedDocs(n, startId))
          .write.mode("overwrite").parquet(s"$megaDir/documents.parquet")
        // no-silent-caps guard: a planted doc failing d10's quality gate would
        // silently drop the mega-cluster from the d10 leg
        val kept = graft.SparkEntry.queries("t08_quality_filter")(spark, megaDir)
          .filter(col("doc_id") >= startId && col("keep")).count()
        require(kept == n.toLong, s"planted docs failing the quality gate: ${n - kept}")
        val over = graft.queries.LshGuard.oversizedBuckets(
          graft.queries.TextOps.bandFrameForProbe(spark, megaDir), Seq("band", "sig"))
          .collect()
        val overN = over.length
        val overMax = if (over.isEmpty) 0L else over.map(_.getLong(2)).max
        val cliqueOfMax = overMax * (overMax - 1) / 2
        val (guardPairs, guardSec) = timed(
          graft.queries.TextOps.candidatePairs(spark, megaDir).count())
        val cliqueJson = if (label == "small") {
          val (cp, cs) = timed(graft.queries.LshGuard.cliqueSelfJoinPairs(
            graft.queries.TextOps.bandFrameForProbe(spark, megaDir),
            "doc_id", Seq("band", "sig")).count())
          f""""clique_pairs":$cp,"clique_sec":$cs%.1f,"""
        } else {
          // not executed on purpose — the guard's whole case; report the size
          f""""clique_pairs_projected":$cliqueOfMax,"""
        }
        val ((d9rows, d9sec), (d10rows, d10sec)) = (
          timed(graft.SparkEntry.queries("d09_dedup_clusters")(spark, megaDir).count()),
          timed(graft.SparkEntry.queries("d10_clean_corpus")(spark, megaDir).count()))
        // the planted cluster must resolve to ONE surviving doc in d10
        val plantedSurvivors = graft.SparkEntry.queries("d10_clean_corpus")(spark, megaDir)
          .filter(col("doc_id") >= startId).count()
        println(f"""SCALECHECK {"step":"megacluster","leg":"$label","planted":$n,""" +
          f""""cap":${graft.queries.LshGuard.cap},"oversized_buckets":$overN,""" +
          f""""max_bucket":$overMax,"guard_pairs":$guardPairs,"guard_sec":$guardSec%.1f,""" +
          cliqueJson +
          f""""d09_rows":$d9rows,"d09_sec":$d9sec%.1f,"d10_rows":$d10rows,""" +
          f""""d10_sec":$d10sec%.1f,"planted_survivors":$plantedSurvivors}""")
        // r17: the SimHash family's A/B on the SAME planted corpus — the last
        // family routed through the guard. The planted docs' signatures are
        // dominated by the shared 44-token boilerplate, so they collide into
        // identical-value band buckets AND every emitted pair passes the
        // hamming verify (the true-duplicate regime where d07's r10 inline
        // filter alone was no defense — the distinct still materialized the
        // clique). small leg: direct guarded-vs-clique candidate A/B; full
        // leg: guarded only, clique projected from the bucket stats.
        locally {
          val shBands = graft.queries.TextOps.simhashBandFrameForProbe(spark, megaDir)
          val shOver = graft.queries.LshGuard.oversizedBuckets(
            shBands, Seq("bi", "bv")).collect()
          val shOverMax = if (shOver.isEmpty) 0L else shOver.map(_.getLong(2)).max
          // the explicit 64-bit route (not the registered d07, which derives
          // 128-bit past 32k docs since r18): keeps the r16/r17 digit
          // continuity on the regime the guard was measured in
          val (shVer, shVerSec) = timed(
            graft.queries.TextOps.simhashNearDup64(spark, megaDir).count())
          val shCliqueJson = if (label == "small") {
            val (cp, cs) = timed(graft.queries.LshGuard.cliqueSelfJoinPairs(
              shBands, "doc_id", Seq("bi", "bv")).count())
            f""""clique_pairs":$cp,"clique_sec":$cs%.1f,"""
          } else {
            f""""clique_pairs_projected":${shOverMax * (shOverMax - 1) / 2},"""
          }
          println(f"""SCALECHECK {"step":"megacluster_simhash","leg":"$label",""" +
            f""""planted":$n,"oversized_buckets":${shOver.length},""" +
            f""""max_bucket":$shOverMax,"verified_pairs":$shVer,""" +
            f""""verified_sec":$shVerSec%.1f,""" + shCliqueJson.dropRight(1) + "}")
        }
        // r18: the 128-bit route (what the registered d07 now derives on this
        // >32k-doc corpus, = d12) on the same planted megacluster — the
        // planted sigs are dominated by the shared boilerplate, so they
        // collide into identical 32-bit band buckets too; the guard must
        // star them the same way while the BACKGROUND corpus contributes
        // near-zero random collisions (2^32 buckets/band)
        locally {
          val sh128 = graft.queries.TextOps.simhash128BandFrameForProbe(spark, megaDir)
          val over = graft.queries.LshGuard.oversizedBuckets(
            sh128, Seq("bi", "bv")).collect()
          val overMax = if (over.isEmpty) 0L else over.map(_.getLong(2)).max
          val (ver, verSec) = timed(
            graft.SparkEntry.queries("d12_simhash128_neardup")(spark, megaDir).count())
          println(f"""SCALECHECK {"step":"megacluster_simhash128","leg":"$label",""" +
            f""""planted":$n,"oversized_buckets":${over.length},""" +
            f""""max_bucket":$overMax,"verified_pairs":$ver,"verified_sec":$verSec%.1f}""")
        }
        graft.Caches.clearAll()
      }
    }

    if (stepExplicit("giant"))
    // Planted giant components at the edge level (r16; composes with the
    // megacluster corpus which plants the same shape through the full
    // pipeline): a 1e6-leaf star centered at the MAX id (so the min label must
    // propagate center-ward, not ride the start state) and a chain of 100
    // 1000-leaf stars (diameter ~200 — plain propagation would need ~100
    // rounds; pointer jumping must stay within 2·log2(n)+4). The driver sees
    // one changed-count per round and the output is one row per node — both
    // printed, neither corpus-sized.
    {
      val nStar = sys.env.getOrElse("SPARK_GRAFT_GIANT_NODES", "1000000").toLong
      val star = spark.range(0L, nStar - 1)
        .select(col("id").as("id_a"), lit(nStar - 1).as("id_b"))
      def bound(n: Long): Int = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 4
      val ((starLabels, starRounds), starSec) = timed {
        val (lf, r) = graft.queries.Components.minLabelComponentsWithRounds(
          star, maxRounds = bound(nStar))
        (lf.localCheckpoint(), r)
      }
      val starRows = starLabels.count()
      val starBad = starLabels.filter(col("lbl") =!= 0L).count()
      // chain of stars: star s has center s*1001, leaves s*1001+1..s*1001+1000,
      // chain edge center_s -> center_{s+1}
      val stars = 100L
      val leaves = spark.range(0L, stars * 1000)
        .select(((col("id") / 1000).cast("long") * 1001).as("id_a"),
          ((col("id") / 1000).cast("long") * 1001 + (col("id") % 1000) + 1).as("id_b"))
      val chain = spark.range(0L, stars - 1)
        .select((col("id") * 1001).as("id_a"), ((col("id") + 1) * 1001).as("id_b"))
      val nChain = stars * 1001
      val ((chainLabels, chainRounds), chainSec) = timed {
        val (lf, r) = graft.queries.Components.minLabelComponentsWithRounds(
          leaves.unionByName(chain), maxRounds = bound(nChain))
        (lf.localCheckpoint(), r)
      }
      val chainRows = chainLabels.count()
      val chainBad = chainLabels.filter(col("lbl") =!= 0L).count()
      println(f"""SCALECHECK {"step":"giant","star_nodes":$nStar,"star_rounds":$starRounds,""" +
        f""""star_bound":${bound(nStar)},"star_rows":$starRows,"star_mislabels":$starBad,""" +
        f""""star_sec":$starSec%.1f,"chain_nodes":$nChain,"chain_rounds":$chainRounds,""" +
        f""""chain_bound":${bound(nChain)},"chain_rows":$chainRows,""" +
        f""""chain_mislabels":$chainBad,"chain_sec":$chainSec%.1f}""")
      require(starBad == 0 && chainBad == 0, "giant-component labels wrong")
      require(starRows == nStar && chainRows == nChain, "label row count != node count")
    }

    if (stepOn("loadmany"))
    // many-file loadMany at the reference's production shape (SURVEY A1): 64
    // experiment XMLs — 32 variants of EACH fixture, cycling 8 renamed metric
    // families per fixture (XmlFixtureSynth), so the union schema carries 16
    // genuinely disjoint metric families (~16 × 24 metric columns + 16 × 2
    // ratio columns) and the per-db percentage-base machinery runs 16 distinct
    // ratio passes, not one. Checks: (1) wall ≪ 64× the single-file loads
    // (executor-parallel parse); (2) the per-db ratio signature frame has
    // EXACTLY 2 × families distinct rows — every db sharing a (source, family)
    // reproduces identical ratio sums, and no family's values leak into
    // another's columns; (3) each db's own ratio-of-total sum equals its
    // source fixture's single-file value (the rename must not change any
    // computed number).
    {
      val fix1 = "/root/reference/test/data/experiment1.xml"
      val fix2 = "/root/reference/test/data/experiment2.xml"
      if (new java.io.File(fix1).exists() && new java.io.File(fix2).exists()) {
        val perFixture = 32; val families = 8
        val tmp = java.nio.file.Files.createTempDirectory("graft-xmlmany")
        val v1 = graft.hpct.XmlFixtureSynth.variants(fix1, tmp, perFixture, families, "exp1")
        val v2 = graft.hpct.XmlFixtureSynth.variants(fix2, tmp, perFixture, families, "exp2")
        val paths = (v1 ++ v2).map(_._1)
        // load() materializes its frame (one eager checkpoint), so the single
        // side is fully executed inside the timed block, like the many side
        val (singles, secSingles) = timed(
          Seq(fix1, fix2).map(graft.hpct.ProfileLoad.load(spark, _)))
        val expSums = singles.map { pf =>
          val c = s"${pf.meta.percentageColumn} ratio of total"
          pf.df.agg(round(sum(col(s"`$c`")), 6)).head().getDouble(0)
        }
        val ((rows, unionCols, dbSigs, dbSums), secMany) = timed {
          val mpf = graft.hpct.ProfileLoad.loadMany(spark, paths)
          val ratioCols = mpf.df.columns.filter(_.endsWith("ratio of total")).toSeq
          val sigs = mpf.df.groupBy("db")
            .agg(count(lit(1)).as("n"),
              ratioCols.map(c => round(sum(col(s"`$c`")), 6).as(c)): _*)
            .drop("db").distinct().count()
          // per row, exactly the db's OWN family ratio is non-null — coalesce
          // picks it, and the per-db sums must reproduce the single-file values
          val sums = mpf.df.groupBy("db")
            .agg(round(sum(coalesce(ratioCols.map(c => col(s"`$c`")): _*)), 6).as("rsum"))
            .select("rsum").collect().map(_.getDouble(0)).toSeq
          (mpf.df.count(), mpf.df.columns.length, sigs, sums)
        }
        val serial = perFixture * secSingles
        // relative-tolerance compare (as LoadManySpec does), not exact Set
        // equality on rounded doubles: the two sides aggregate in different
        // orders, and a ulp-level difference sitting on a 6-decimal rounding
        // boundary would flip an exact compare to a false mismatch
        def close(a: Double, b: Double): Boolean =
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
        // Bijective multiset compare: each of the 2 fixtures contributes
        // perFixture dbs whose per-db sum must equal that fixture's single-file
        // value, so the expected multiset is each single sum × perFixture.
        // Sort both sides and pairwise-compare with tolerance — the old
        // distinct()-to-Set form could false-match (two db sums near ONE
        // expected value) and false-mismatch (a ulp flip on the 6-dp rounding
        // boundary changes exact-distinct set sizes).
        val sumsMatch = {
          val expected = expSums.flatMap(Seq.fill(perFixture)(_)).sorted
          val actual = dbSums.sorted
          expected.size == actual.size &&
            expected.lazyZip(actual).forall(close)
        }
        println(f"""SCALECHECK {"step":"loadmany","files":${paths.length},"families":${2 * families},""" +
          f""""rows":$rows,"union_cols":$unionCols,"singles_sec":$secSingles%.1f,"many_sec":$secMany%.1f,""" +
          f""""speedup_vs_serial":${serial / secMany}%.1f,"distinct_db_signatures":$dbSigs,""" +
          f""""expected_signatures":${2 * families},"per_db_sums_match_singles":$sumsMatch}""")
      }
    }

    spark.stop()
  }
}
