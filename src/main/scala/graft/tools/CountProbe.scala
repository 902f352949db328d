package graft.tools

import org.apache.spark.sql.functions._

/** Digit probe: run one registered query and print its row count plus, when
  * the schema carries `cluster_id`, the distinct-cluster count — the
  * component digits SCALECHECK's d09 fifth-decade rows pin across plan
  * changes (r19: 4,459,686 / 659,380). Not part of the driver contract — a
  * local measurement tool (PlanProbe times, this one counts).
  *
  * Usage: runMain graft.tools.CountProbe <name> <dir>
  */
object CountProbe {
  def main(args: Array[String]): Unit = {
    graft.JvmCheck.warnIfModulesClosed()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val name = args(0)
    val dir = args(1)
    val spark = graft.LocalSession(defaultCpus = 32)
    graft.queries.Sizing.adviseTaskMemory(spark)
    try {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      if (df.columns.contains("cluster_id")) {
        val r = df.agg(count(lit(1)).as("rows"),
          countDistinct(col("cluster_id")).as("clusters")).collect()(0)
        println(s"COUNTPROBE q=$name rows=${r.getLong(0)} clusters=${r.getLong(1)}")
      } else {
        println(s"COUNTPROBE q=$name rows=${df.count()}")
      }
    } finally spark.stop()
  }
}
