package graft.tools

import org.apache.spark.sql.functions._

/** Bucket-size distribution probe behind [[graft.queries.LshGuard]]'s default
  * cap: prints, for a data dir, the size histogram tail of the MinHash
  * (band, sig) buckets and the sign-LSH (bi, bucket) embedding buckets — the
  * two frames whose self-joins the guard protects. Not part of the driver
  * contract; SCALECHECK.md's r16 bucket-size table comes from this.
  *
  * Usage: runMain graft.tools.BucketStats <dir>
  */
object BucketStats {
  def main(args: Array[String]): Unit = {
    graft.JvmCheck.warnIfModulesClosed()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args(0)
    val spark = graft.LocalSession(defaultCpus = 32)
    graft.queries.Sizing.adviseTaskMemory(spark)
    try {
      def report(label: String, sizes: org.apache.spark.sql.DataFrame): Unit = {
        // one pass: max + count + members-in-buckets-over-cap tail
        val row = sizes.agg(
          max(col("n")).as("max"), count(lit(1)).as("buckets"),
          sum(when(col("n") > graft.queries.LshGuard.cap, col("n"))
            .otherwise(lit(0L))).as("rows_over_cap")).head()
        println(s"BUCKETS $label max=${row.getLong(0)} buckets=${row.getLong(1)} " +
          s"rows_over_cap=${row.getLong(2)} cap=${graft.queries.LshGuard.cap}")
        sizes.groupBy("n").agg(count(lit(1)).as("buckets"))
          .orderBy(desc("n")).limit(12).collect()
          .foreach(r => println(s"BUCKETS $label size=${r.getLong(0)} count=${r.getLong(1)}"))
      }
      val tb = graft.queries.TextOps.bandFrameForProbe(spark, dir)
      report("text", tb.groupBy("band", "sig").agg(count(lit(1)).as("n")))
      // the simhash (bi, bv) frame — guarded since r17, so its benign maxima
      // belong in the same table (2^16 buckets/band: expect far higher
      // occupancy than the md5-128 minhash sigs, the quadratic-regime term)
      val sb = graft.queries.TextOps.simhashBandFrameForProbe(spark, dir)
      report("simhash", sb.groupBy("bi", "bv").agg(count(lit(1)).as("n")))
      // the 128-bit frame (r18) — what d07 actually bands past 32k docs
      // (simhashBitsFor) and d12 bands everywhere: 2^32 buckets/band, so a
      // benign corpus must show ZERO oversized buckets at any measured scale
      val db = graft.queries.TextOps.docCountCached(spark, dir)
      println(s"BUCKETS simhash_width docs=$db bits=${graft.queries.TextOps.simhashBitsFor(db)}")
      val sb128 = graft.queries.TextOps.simhash128BandFrameForProbe(spark, dir)
      report("simhash128", sb128.groupBy("bi", "bv").agg(count(lit(1)).as("n")))
      // docs-only synthesized dirs (sf1000) ship no embeddings table — skip
      // the embed section rather than fail the text report already printed
      if (new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val n = graft.queries.VectorOps.embCountCached(spark, dir)
        val bits = graft.queries.VectorOps.bandBitsFor(n)
        val eb = graft.queries.VectorOps.banded(
          graft.queries.Tables.embeddings(spark, dir), bits)
        println(s"BUCKETS embed n=$n bits=$bits")
        report("embed", eb.groupBy("bi", "bucket").agg(count(lit(1)).as("n")))
      } else println(s"BUCKETS embed SKIPPED (no embeddings.parquet in $dir)")
    } finally spark.stop()
  }
}
