package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session every command-line main runs on: UTC session
  * time zone, no UI, WARN logging, `local[SPARK_GRAFT_CPUS]` (else the main's
  * own default), and SPARK_GRAFT_SHUFFLE_PARTITIONS shuffle partitions, else
  * one per core — so a probe measures under the same session configuration
  * as Bench and Verify.
  */
object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
