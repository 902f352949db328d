package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{BigramStats, BoundedCollectMin, CountWordsIn, IntersectCount, MinHash8, NormalizeText, RollingFp, ShingleHashes, SimHash128, SimHash64, TokenCounts, TokenHash16, VecDot}

/** Cluster-wide registration of graft's native SQL functions via
  * `spark.sql.extensions=graft.GraftExtensions` — the standard way to ship custom
  * Catalyst expressions to every session of a shared cluster (injected functions
  * exist in each new session without per-session `register` calls, including
  * sessions created by JDBC/Thrift or notebook tenants).
  *
  * Local code paths (tests, Verify, Bench) call `TokenHash16.register` /
  * `VecDot.register` on an already-built session instead; both routes install
  * each kernel's one `entry` ([[graft.functions.FunctionEntry]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Seq(BigramStats.entry, BoundedCollectMin.entry, CountWordsIn.entry,
      IntersectCount.entry, MinHash8.entry, NormalizeText.entry, RollingFp.entry,
      ShingleHashes.entry, SimHash128.entry, SimHash64.entry, TokenCounts.entry,
      TokenHash16.entry, VecDot.entry).foreach(e => ext.injectFunction((e.id, e.info, e.build)))
}
