package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.SparkTestBase.spark

/** intersect_count must equal the SQL formulation it replaces in the r20
  * Jaccard verify: `size(array_intersect(a, b))` over distinct-element long
  * arrays (array_intersect dedups, so on the kernel's distinct-input contract
  * the two agree exactly). Edge cases: empty on either/both sides (0), no
  * overlap (0), full overlap (size), asymmetric sizes (the kernel builds its
  * table from the SMALLER side — both orders must agree), and null inputs
  * (null out, matching the SQL form's null propagation).
  */
class IntersectCountSpec extends AnyFunSuite {
  import spark.implicits._

  private def both(pairs: Seq[(Seq[Long], Seq[Long])]): Seq[(Long, Long)] = {
    IntersectCount.register(spark)
    pairs.toDF("a", "b")
      .select(expr("intersect_count(a, b)").as("k"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("equals size(array_intersect) on distinct-element arrays, incl. edges") {
    val pairs = Seq[(Seq[Long], Seq[Long])](
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),                   // partial overlap
      (Seq.empty[Long], Seq(1L, 2L)),                       // empty left
      (Seq(1L, 2L), Seq.empty[Long]),                       // empty right
      (Seq.empty[Long], Seq.empty[Long]),                   // both empty
      (Seq(5L), Seq(6L)),                                   // disjoint
      (Seq(7L, -8L, Long.MinValue), Seq(Long.MinValue, -8L, 7L)), // full, neg
      ((1L to 100L), Seq(50L, 200L)),                       // big left, small right
      (Seq(50L, 200L), (1L to 100L)))                       // small left, big right
    both(pairs).foreach { case (k, ref) => assert(k === ref) }
  }

  test("null input propagates null (matches the SQL form)") {
    IntersectCount.register(spark)
    // if(false, ..., null) yields a NULL array whose type keeps the
    // producer's containsNull=false — `cast(null as array<bigint>)` would
    // parse as containsNull=true, which the r21 type check rejects (the
    // kernel reads null elements as 0, silently diverging from
    // size(array_intersect); see IntersectCount.checkInputDataTypes)
    val r = Seq(("x")).toDF("t")
      .select(expr("intersect_count(if(false, array(1L, 2L), null), array(1L, 2L))").as("k"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("nullable-element array types are rejected at analysis (r21)") {
    IntersectCount.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x")).toDF("t")
        .select(expr("intersect_count(cast(null as array<bigint>), array(1L, 2L))"))
        .collect()
    }
    assert(e.getMessage.contains("non-null elements"))
  }

  test("the type-check failure names the fix, and both named fixes resolve") {
    IntersectCount.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x")).toDF("t")
        .select(expr("intersect_count(array(1L, null, 2L), array(2L, 3L))"))
        .collect()
    }
    assert(e.getMessage.contains("array_compact(...)"), e.getMessage)
    assert(e.getMessage.contains("cast to array<bigint> with containsNull = false"), e.getMessage)
    val compacted = Seq(("x")).toDF("t")
      .select(expr("intersect_count(array_compact(array(1L, null, 2L)), array(2L, 3L))"))
      .head().getLong(0)
    assert(compacted === 1L)
    // an array<int> with non-nullable elements casts to the kernel's input type
    val cast = Seq(Seq(1, 2, 3)).toDF("a")
      .select(col("a").cast(ArrayType(LongType, containsNull = false)).as("a"))
    assert(cast.schema("a").dataType === ArrayType(LongType, containsNull = false))
    val k = cast.select(expr("intersect_count(a, array(2L, 3L))")).head().getLong(0)
    assert(k === 2L)
  }

  test("property: agreement on random distinct long arrays") {
    val distinctArr = Gen.listOf(Gen.chooseNum(-50L, 50L)).map(_.distinct)
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(distinctArr, distinctArr) { (a, b) =>
        both(Seq((a, b))).forall { case (k, ref) => k == ref }
      })
    assert(res.passed, res.status.toString)
  }
}
