package graft

import org.apache.spark.sql.DataFrame

/** The reference's own published workload (performance.ipynb cells 2–5, the only
  * numbers it publishes — BASELINE.md): load BOTH fixture XMLs with
  * max_depth=None (reference `__init__` incl. formula eval, root fix, and the
  * ratio columns of `_add_percentage_columns`), `hot_path(threshold=0.01)` on
  * both, `.compact` on both, `flame_graph()` on both — single-threaded pandas
  * total ≈ 40.7 s (4.36 load + 10.77 ratios + 5.59 hot_path + 20.01 flame).
  *
  * This main runs the identical workload on the engine and prints ONE JSON line
  * with per-phase walls and the ratio vs the published total, so the
  * baseline-parity claim is a reproducible harness instead of an ad-hoc
  * session measurement. Each phase materializes fully (noop sink — every row
  * and column) before the clock stops.
  */
object RefWorkload {
  /** The reference's published single-threaded total (BASELINE.md macro rows:
    * 4.359 + 10.771 + 5.588 + 20.008) — the denominator of the harness's ratio
    * AND the bound RefWorkloadGateSpec enforces in CI. One definition, so a
    * re-measured baseline can never leave the gate enforcing a stale number.
    */
  val baselineSec: Double = 40.726

  def main(args: Array[String]): Unit = {
    // f"...%.3f" is default-locale-sensitive; a comma decimal separator
    // would silently corrupt the machine-parsed JSON lines below
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val files = Seq(
      "/root/reference/test/data/experiment1.xml",
      "/root/reference/test/data/experiment2.xml")
    if (!files.forall(new java.io.File(_).exists())) {
      println("""{"metric":"ref_workload","err":"fixtures not present"}""")
      return
    }
    val spark = LocalSession(defaultCpus = 32)

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
    }

    // cell 2 equivalent: __init__ both files (parse -> formulas -> root fix ->
    // ratio columns; load materializes its frame, like the reference constructor)
    val (pfs, loadSec) = timed(files.map(hpct.ProfileLoad.load(spark, _)))
    // cell 3: hot_path(threshold=0.01) x2
    val (_, hotSec) = timed {
      pfs.foreach(pf => force(hpct.Ops.hotPath(pf, threshold = 0.01).df))
    }
    // cell 4: .compact x2
    val (_, compactSec) = timed {
      pfs.foreach(pf => force(hpct.Ops.compact(pf).df))
    }
    // cell 5: flame_graph() x2
    val (_, flameSec) = timed {
      pfs.foreach(pf => force(hpct.Ops.flameGeometry(pf)))
    }
    val total = loadSec + hotSec + compactSec + flameSec
    val baseline = baselineSec
    println(f"""{"metric":"ref_workload","load_sec":$loadSec%.2f,"hot_path_sec":$hotSec%.2f,""" +
      f""""compact_sec":$compactSec%.2f,"flame_sec":$flameSec%.2f,"total_sec":$total%.2f,""" +
      f""""baseline_sec":$baseline,"ratio_vs_baseline":${total / baseline}%.3f}""")
    spark.stop()
  }
}
