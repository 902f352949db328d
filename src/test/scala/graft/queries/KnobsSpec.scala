package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Pins the strict contract of the env knobs' parser. The knobs themselves
  * can't be exercised here (tests can't mutate the JVM's env), so this pins
  * the one behavior that matters: only "0"/"1" (or a positive integer) are
  * meaningful, and the production sites all route through [[Knobs]] — before
  * round 14 one knob parsed `map(_ == "1")` (so "true" silently
  * force-DISABLED its feature) while another parsed `contains("0")` (so
  * garbage silently forced it ON) — opposite conventions with no tell in the
  * log.
  */
class KnobsSpec extends AnyFunSuite {

  test("unset knobs fall through (None)") {
    assert(Knobs.bool("GRAFT_TEST_KNOB_THAT_IS_NEVER_SET").isEmpty)
    assert(Knobs.int("GRAFT_TEST_KNOB_THAT_IS_NEVER_SET").isEmpty)
  }

  test("production knob sites all parse via Knobs.bool") {
    // structural net: grep the knob names' use sites in main sources —
    // each must appear only inside a Knobs call (plus docs/strings)
    val root = java.nio.file.Paths.get("src/main/scala")
    val scalaFiles = {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      } finally s.close()
    }
    val knobs = Seq("SPARK_GRAFT_PREFLIGHT", "SPARK_GRAFT_REP_DRAIN",
      "SPARK_GRAFT_BUCKET_CAP", "SPARK_GRAFT_BUCKET_STATE_CAP",
      "SPARK_GRAFT_RESIDUE_MOD")
    val sources = scalaFiles.map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    // the list tracks the code: exactly the names passed to Knobs.bool/Knobs.int
    val parsed = sources.flatMap { case (_, src) =>
      raw"""Knobs\.(?:bool|int)\("([A-Z0-9_]+)"\)""".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(parsed === knobs.toSet)
    for ((f, src) <- sources) {
      for (k <- knobs) {
        // any sys.env read of a knob must be the Knobs implementation
        // itself (Knobs.scala) — nowhere else
        val rawRead = raw"""sys\.env(\.\w+)?\("$k"""".r
        assert(rawRead.findFirstIn(src).isEmpty,
          s"$f reads $k via sys.env directly; route it through Knobs")
      }
    }
  }
}
