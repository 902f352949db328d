package graft.tools

/** Scratch harness: print the formatted plan and wall time of one
  * `SparkEntry.queries` entry on a given data dir. Not part of the driver
  * contract — a local plan-audit tool.
  *
  * Usage: runMain graft.tools.PlanProbe <name> <dir> [reps]
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    graft.JvmCheck.warnIfModulesClosed()
    // f"...%.3f" is default-locale-sensitive; a comma decimal separator
    // would silently corrupt the machine-parsed JSON lines below
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val name = args(0)
    val dir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    // at sf100 a 500M-row aggregation needs more shuffle partitions than
    // cores for its per-task hash maps to fit an 8g heap: set
    // SPARK_GRAFT_SHUFFLE_PARTITIONS, the same knob a real cluster sizes to
    // its data (AQE coalesces the excess)
    val spark = graft.LocalSession(defaultCpus = 32)
    graft.queries.Sizing.adviseTaskMemory(spark)
    // Scratch-disk preflight: four round-13 fifth-decade runs died on
    // `No space left on device` MID-RUN; refuse up front when the family's
    // measured peak shuffle footprint cannot fit the scratch volume.
    // SPARK_GRAFT_PREFLIGHT=0 overrides (a human who just freed space or
    // accepts the risk outranks the estimate).
    graft.queries.Sizing.preflightScratch(spark, dir, name).foreach { msg =>
      if (!graft.queries.Knobs.bool("SPARK_GRAFT_PREFLIGHT").contains(false)) {
        println(s"PREFLIGHT REFUSED: $msg")
        spark.stop()
        sys.exit(2)
      } else println(s"PREFLIGHT overridden (SPARK_GRAFT_PREFLIGHT=0): $msg")
    }
    try {
      val q = graft.SparkEntry.queries(name)
      // per-rep spill/shuffle deltas (r14): the memory-pressure signal that
      // separates a plan regression from cache-cohabitation churn — see
      // [[graft.StageMetrics]]
      val metrics = new graft.StageMetrics
      spark.sparkContext.addSparkListener(metrics)
      def drained(): (Long, Long) = {
        graft.StageMetrics.drain(spark); metrics.snapshot
      }
      // Dense scratch poller (r15): the ScratchExpansion ratios were measured
      // under SPARSE polling, which cannot bound a live peak from above —
      // r14's d05 survived by 3 GB against a ~1%-accurate 9x estimate while
      // its sparse trough suggested half that. A daemon thread samples the
      // scratch volume's usable bytes at 500 ms; the min across a rep bounds
      // the rep's live trough, and (start - trough) its live scratch peak.
      // statfs is ~microseconds, so 2 Hz costs nothing against 100 s reps.
      val trough = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
      // epoch stamp closes the reset race (r15 ADVICE): a statfs sample taken
      // between reps — after the rep loop bumps the epoch but before trough
      // .set — would otherwise be accumulated into the NEXT rep's trough,
      // inflating its scratch_peak_gb; the poller discards any sample whose
      // epoch moved while it was sampling
      val epoch = new java.util.concurrent.atomic.AtomicLong(0)
      // never reset: the explain() below EXECUTES eager builders (cache
      // builds, Components' loop) whose scratch usage the per-rep trough
      // erases — the r15 d09 probe reached rep start with only 2.8 GB free,
      // so the global min is the number the preflight model must honor
      val globalTrough = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
      val scratchBaseline = graft.queries.Sizing.usableScratchBytes(spark)
      val poller = new Thread(new Runnable {
        def run(): Unit = while (true) {
          val e0 = epoch.get
          val u = graft.queries.Sizing.usableScratchBytes(spark)
          if (epoch.get == e0)
            trough.accumulateAndGet(u, (a: Long, b: Long) => math.min(a, b))
          globalTrough.accumulateAndGet(u, (a: Long, b: Long) => math.min(a, b))
          Thread.sleep(500)
        }
      }, "graft-scratch-poller")
      poller.setDaemon(true)
      poller.start()
      println(s"=== $name @ $dir ===")
      q(spark, dir).explain("formatted")
      for (i <- 1 to reps) {
        // same between-reps drain as Bench: rep i must not start while rep
        // i−1's dead shuffle files still occupy scratch at the cleaner's
        // whim (the sf150 b18 ratio drift; see CleanerDrain). Before the
        // FIRST rep it also clears the explain()-executed builders' garbage.
        if (!graft.queries.Knobs.bool("SPARK_GRAFT_REP_DRAIN").contains(false))
          graft.CleanerDrain.drain(spark.sparkContext)
        epoch.incrementAndGet()
        val scratchStart = graft.queries.Sizing.usableScratchBytes(spark)
        trough.set(scratchStart)
        val (sp0, sh0) = drained()
        val t0 = System.nanoTime()
        // noop sink, same as Bench: count() would let Catalyst prune every
        // column and time a projection query as a metadata-only scan
        q(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val (sp1, sh1) = drained()
        val tr = trough.get
        println(f"PROBE rep=$i sec=$sec%.2f " +
          f"spill_mb=${(sp1 - sp0) / (1 << 20)}%d shuffle_mb=${(sh1 - sh0) / (1 << 20)}%d " +
          f"scratch_trough_gb=${tr.toDouble / (1L << 30)}%.1f " +
          f"scratch_peak_gb=${(scratchStart - tr).toDouble / (1L << 30)}%.1f")
      }
      val gt = globalTrough.get
      if (gt != Long.MaxValue) println(
        f"PROBE_SCRATCH global_trough_gb=${gt.toDouble / (1L << 30)}%.1f " +
          f"global_peak_gb=${(scratchBaseline - gt).toDouble / (1L << 30)}%.1f " +
          f"baseline_gb=${scratchBaseline.toDouble / (1L << 30)}%.1f")
    } finally spark.stop()
  }
}
