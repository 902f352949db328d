package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract line is the one output a tail-capturing
  * consumer parses: it must be valid JSON under any JVM default locale
  * (a comma decimal separator would corrupt every number) and must carry
  * the contract fields. The 1900-char budget keeps it inside a ~2000-char
  * capture tail for the registered queries.
  */
class BenchContractSpec extends AnyFunSuite {

  private def underLocale[T](l: java.util.Locale)(f: => T): T = {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(l)
    try f finally java.util.Locale.setDefault(saved)
  }

  /** One row per name: seconds in [10, 100) (six rendered chars, the widest
    * a per-query wall under 100 s takes), the first row failed, the second
    * contended.
    */
  private def rows(names: Seq[String]): Seq[Bench.QueryRow] =
    names.zipWithIndex.map { case (n, i) =>
      Bench.QueryRow(n, 10.0 + i * 1.0625,
        if (i == 0) Some("Job aborted due to stage failure: \"quoted\" \\ detail") else None,
        contended = i == 1)
    }

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("contract line is locale-independent JSON with the contract fields (80 rows)") {
    val longest = SparkEntry.queries.keys.map(_.length).max
    val names = (1 to 80).map(i => f"q$i%02d_".padTo(longest, 'x'))
    val line = underLocale(java.util.Locale.GERMANY) {
      Bench.contractLine(rows(names), 1234.5678, "/data/sf0.1", contendedRun = false)
    }
    val json = parse(line)
    for (f <- Seq("metric", "value", "unit", "queries", "sf"))
      assert(json.has(f), s"contract field $f missing: $line")
    assert(json.get("value").asText === "1234.568")
    assert(json.get("queries").size === 80)
    assert(json.get("queries").get(names(0)).get("err").asText.contains("\"quoted\""))
    assert(json.get("queries").get(names(1)).get("contended").asBoolean)
    assert(json.get("queries").get(names(2)).asText === "12.125")
    assert(json.get("failed").asInt === 1)
  }

  test("contract line for the registered queries stays under 1900 chars") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val line = underLocale(java.util.Locale.GERMANY) {
      Bench.contractLine(rows(names), 1234.5678, "/data/testdata/sf0.1", contendedRun = true)
    }
    assert(line.length < 1900, s"${line.length} chars for ${names.length} queries")
    assert(parse(line).get("n_queries").asInt === names.length)
  }
}
