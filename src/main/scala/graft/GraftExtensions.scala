package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BigramStats, BoundedCollectMin, CountWordsIn, IntersectCount, MinHash8, NormalizeText, RollingFp, ShingleHashes, SimHash128, SimHash64, TokenCounts, TokenHash16, VecDot}

/** Cluster-wide registration of graft's native SQL functions via
  * `spark.sql.extensions=graft.GraftExtensions` — the standard way to ship custom
  * Catalyst expressions to every session of a shared cluster (injected functions
  * exist in each new session without per-session `register` calls, including
  * sessions created by JDBC/Thrift or notebook tenants).
  *
  * Local code paths (tests, Verify, Bench) call `TokenHash16.register` /
  * `VecDot.register` on an already-built session instead; both routes install the
  * same builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("token_hash16"),
      new ExpressionInfo(classOf[TokenHash16].getName, "token_hash16"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => TokenHash16(s, Literal(0))
        case Seq(s, b) => TokenHash16(s, b)
        case _ => throw new IllegalArgumentException("token_hash16 takes 1 or 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot takes two arguments")
        VecDot(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("rolling_fp"),
      new ExpressionInfo(classOf[RollingFp].getName, "rolling_fp"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "rolling_fp takes one argument")
        RollingFp(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64 takes one argument")
        SimHash64(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash128"),
      new ExpressionInfo(classOf[SimHash128].getName, "simhash128"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash128 takes one argument")
        SimHash128(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash8"),
      new ExpressionInfo(classOf[MinHash8].getName, "minhash8"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "minhash8 takes one argument")
        MinHash8(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "normalize_text takes one argument")
        NormalizeText(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("token_counts"),
      new ExpressionInfo(classOf[TokenCounts].getName, "token_counts"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "token_counts takes one argument")
        TokenCounts(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("count_words_in"),
      new ExpressionInfo(classOf[CountWordsIn].getName, "count_words_in"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "count_words_in takes two arguments")
        CountWordsIn(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("bigram_stats"),
      new ExpressionInfo(classOf[BigramStats].getName, "bigram_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bigram_stats takes one argument")
        BigramStats(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingle_hashes takes one argument")
        ShingleHashes(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bounded_collect_min"),
      new ExpressionInfo(classOf[BoundedCollectMin].getName, "bounded_collect_min"),
      // the literal-parsing rules (incl. the out-of-Int-range rejection)
      // live in ONE builder shared with BoundedCollectMin.register
      BoundedCollectMin.build(_)))
    ext.injectFunction((FunctionIdentifier("intersect_count"), IntersectCount.info, IntersectCount.build(_)))
  }
}
