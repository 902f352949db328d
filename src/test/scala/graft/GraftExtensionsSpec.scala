package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path must resolve every
  * native function in a session that never called the per-session `register`s.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a NEW session over the shared SparkContext, built with the graft
    * extensions only. getOrCreate returns the active/default session (extensions
    * silently ignored) unless both are cleared; the shared session is restored
    * afterwards — and never stop() here, the SparkContext is shared by every suite
    * in this JVM.
    */
  private def withExtensionsSession(f: SparkSession => Unit): Unit = {
    val base = SparkTestBase.spark // ensure the shared SparkContext exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions()).getOrCreate()
      assert(s ne base, "expected a fresh session, got the shared one")
      f(s)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Every `graft.functions` object with a `register(SparkSession)` method, found on
    * the classpath, so a kernel added later cannot be left out of the check.
    */
  private def kernelRegisters: Seq[(String, SparkSession => Unit)] = {
    // the main classes directory (test-classes has a graft/functions of its own)
    val root = classOf[graft.functions.VecDot].getProtectionDomain.getCodeSource.getLocation
    val dir = new java.io.File(new java.io.File(root.toURI), "graft/functions")
    assert(dir.isDirectory, s"graft.functions is not a class directory under $root")
    dir.list().toSeq.sorted
      .filter(_.matches("[A-Za-z0-9]+\\$\\.class"))
      .flatMap { file =>
        val cls = Class.forName("graft.functions." + file.stripSuffix(".class"))
        scala.util.Try(cls.getMethod("register", classOf[SparkSession])).toOption.map { m =>
          val module = cls.getField("MODULE$").get(null)
          cls.getSimpleName.stripSuffix("$") -> ((s: SparkSession) => { m.invoke(module, s); () })
        }
      }
  }

  test("GraftExtensions injects token_hash16 and vec_dot into a fresh session") {
    withExtensionsSession { s =>
      val row = s.sql(
        "SELECT token_hash16('hello'), token_hash16('hello', 3), " +
          "vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))), " +
          "rolling_fp('abcdefgh').n_windows, simhash64('a b').s0, " +
          "size(shingle_hashes('a b c d')), bigram_stats('a b c').n_bigrams").head()
      assert(row.getInt(0) === graft.functions.TokenHash.hash16(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello"), 0))
      assert(row.getInt(1) === graft.functions.TokenHash.hash16(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello"), 3))
      assert(row.getDouble(2) === 11.0)
      assert(row.getLong(3) === 1L)
      assert(row.getLong(4) >= 0L && row.getLong(4) < 65536L)
      assert(row.getInt(5) === 2)  // 'a b c d' -> 2 distinct 3-gram shingles
      assert(row.getLong(6) === 2L) // 'a b c' -> 2 bigrams
      // the bounded-state aggregate resolves through the extension route too
      val agg = s.sql(
        "SELECT bounded_collect_min(v, 2) AS g FROM VALUES (3), (1), (2) t(v)")
        .selectExpr("g.n", "g.mn", "size(g.items)").head()
      assert(agg.getLong(0) === 3L)
      assert(agg.getInt(1) === 1)
      assert(agg.getInt(2) === 2)
    }
  }

  test("every graft.functions kernel with a register(spark) resolves in an extensions-only session") {
    val kernels = kernelRegisters
    assert(kernels.length >= 13, kernels.map(_._1))
    // the function names each register call adds, read off a plain session
    val plain = SparkTestBase.spark.newSession()
    val names: Seq[(String, String)] = kernels.flatMap { case (kernel, register) =>
      val before = plain.sessionState.functionRegistry.listFunction().toSet
      register(plain)
      val added = plain.sessionState.functionRegistry.listFunction().toSet -- before
      assert(added.nonEmpty, s"$kernel.register added no function")
      added.toSeq.map(id => kernel -> id.funcName)
    }
    withExtensionsSession { s =>
      val missing = names.filterNot { case (_, fn) =>
        s.sessionState.functionRegistry.functionExists(FunctionIdentifier(fn))
      }
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
      // and an injected kernel evaluates: intersect_count over non-null arrays
      assert(s.sql("SELECT intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L))")
        .head().getLong(0) === 2L)
    }
  }
}
