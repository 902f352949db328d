package perfbench

import java.util.concurrent.Executors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** The query sweep: every query in `SparkEntry.queries` on the committed star-schema
  * tables, each built and materialized (noop sink) once per pass, checked by row count
  * and content hash against the values committed with the benchmark.
  */
object Sweep {

  /** Operator family of each query, named after its module in `graft.queries`. */
  lazy val familyOf: Map[String, String] = Seq(
    "relational" -> graft.queries.Relational.queries,
    "hierarchy" -> graft.queries.Hierarchy.queries,
    "textops" -> graft.queries.TextOps.queries,
    "vectorops" -> graft.queries.VectorOps.queries,
    "eventops" -> graft.queries.EventOps.queries,
    "mediaops" -> graft.queries.MediaOps.queries,
  ).flatMap { case (fam, qs) => qs.keys.map(_ -> fam) }.toMap

  val Families: Seq[String] = Seq("relational", "hierarchy", "textops", "vectorops", "eventops", "mediaops")

  /** The cache builds of the query modules, run on a pool of at most `threads`
    * threads. Returns each stage's wall time in seconds.
    */
  def prewarm(spark: SparkSession, dir: String, threads: Int, trace: Trace): Map[String, Double] = {
    val stages = graft.queries.Hierarchy.prewarmStages(spark, dir) ++
      graft.queries.TextOps.prewarmStages(spark, dir) ++
      graft.queries.VectorOps.prewarmStages(spark, dir)
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, stages.length)))
    try {
      stages.map { case (name, thunk) =>
        name -> pool.submit(() => {
          val t0 = System.nanoTime()
          trace.span(s"prewarm.$name", "queries.prewarm")(thunk())
          (System.nanoTime() - t0) / 1e9
        })
      }.map { case (name, f) => name -> f.get() }.toMap
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** (rows, content hash) of one materialized query result. */
  final case class Digest(rows: Long, hash: Long)

  /** Build one query and materialize it; the content hash is observed in the same
    * pass. The build (the builder's own eager jobs included) is its own span.
    */
  def runQuery(c: Client, dir: String, name: String, expected: Map[String, Digest]): Option[Digest] = {
    val fam = familyOf(name)
    c.call(name, s"queries.$fam") {
      val df: DataFrame = c.trace.span(s"queries.$fam.build", s"queries.$fam")(SparkEntry.queries(name)(c.spark, dir))
      val got = Sink.noop(df, "h" -> Sink.contentHash(df))
      Digest(got("n").asInstanceOf[Long], Option(got("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
    } { d =>
      expected.get(name) match {
        case Some(want) if want == d => None
        case Some(want) => Some(s"$name: $d, expected $want")
        case None => Some(s"$name: no committed expected digest")
      }
    }
  }

  // ---------------------------------------------------------------- kernel probe

  /** Each codegen kernel in `graft.functions` applied alone to its input column with
    * a noop sink. The input is cached first; the cost per row is the kernel's time
    * minus an identity projection of the same cached input (medians of `reps`).
    */
  def kernelNsPerRow(spark: SparkSession, dir: String, reps: Int): Map[String, Double] = {
    import graft.functions._
    Seq[SparkSession => Unit](BigramStats.register, BoundedCollectMin.register, CountWordsIn.register,
      IntersectCount.register, MinHash8.register, NormalizeText.register, RollingFp.register,
      ShingleHashes.register, SimHash128.register, SimHash64.register, TokenCounts.register,
      TokenHash16.register, VecDot.register).foreach(_(spark))
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").cache()
    val pairs = docs.select(col("doc_id"), expr("shingle_hashes(text)").as("a"))
      .join(docs.select((col("doc_id") - 1).as("doc_id"), expr("shingle_hashes(text)").as("b")), "doc_id")
      .cache()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding").cache()
    val events = spark.read.parquet(s"$dir/events.parquet").select("user_id", "value").cache()
    Seq(docs, pairs, vecs, events).foreach(_.count())
    def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    def med(df: => DataFrame): Double = Stats.median((1 to reps).map(_ => ms(Sink.noop(df))))
    def perRow(input: DataFrame, rows: Long, apply: DataFrame => DataFrame, base: DataFrame => DataFrame) =
      (med(apply(input)) - med(base(input))) * 1e6 / rows
    val nDocs = docs.count(); val nPairs = pairs.count()
    val nVecs = vecs.count(); val nEvents = events.count()
    val textKernels = Seq(
      "normalize_text" -> "normalize_text(text)", "token_counts" -> "token_counts(text)",
      "count_words_in" -> "count_words_in(text, 'the,and,of,to')", "bigram_stats" -> "bigram_stats(text)",
      "minhash8" -> "minhash8(text)", "rolling_fp" -> "rolling_fp(text)",
      "shingle_hashes" -> "shingle_hashes(text)", "simhash64" -> "simhash64(text)",
      "simhash128" -> "simhash128(text)", "token_hash16" -> "token_hash16(text)")
    try {
      textKernels.map { case (k, e) =>
        k -> perRow(docs, nDocs, _.select(expr(e).as("o")), _.select(col("text").as("o")))
      }.toMap ++ Map(
        "intersect_count" -> perRow(pairs, nPairs, _.select(expr("intersect_count(a, b)").as("o")),
          _.select(col("a").as("o"))),
        "vec_dot" -> perRow(vecs, nVecs, _.select(expr("vec_dot(embedding, embedding)").as("o")),
          _.select(col("embedding").as("o"))),
        "bounded_collect_min" -> perRow(events, nEvents,
          _.groupBy("user_id").agg(expr("bounded_collect_min(value, 64)").as("o")),
          _.groupBy("user_id").agg(count(lit(1)).as("o"))))
    } finally Seq(docs, pairs, vecs, events).foreach(_.unpersist())
  }
}
