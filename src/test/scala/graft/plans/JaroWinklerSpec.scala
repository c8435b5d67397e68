package graft.plans

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

/** Pins JaroWinklerExpression's numerics bit-for-bit against DuckDB's
  * jaro_winkler_similarity (values captured from DuckDB directly): the
  * integer-halved transposition count, the 0.7 boost threshold (0.6667
  * stays unboosted, 0.7333 boosts), the both-empty → 0.0 convention, and
  * the degenerate window on short strings. The oracle gate
  * (llm_jw_linkage) covers the corpus; this covers the corners the
  * corpus may never hit. */
class JaroWinklerSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def jw(a: String, b: String): Double =
    JaroWinklerExpression.compute(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("pinned DuckDB values, including odd transposition counts") {
    // 3 out-of-order matches → t = 3/2 = 1 in integer division
    jw("abcdef", "bcadef") shouldBe 0.9444444444444445
    jw("martha", "marhta") shouldBe 0.9611111111111111
    jw("dixon", "dicksonx") shouldBe 0.8133333333333332
    jw("dwayne", "duane") shouldBe 0.8400000000000001
    jw("aaa", "aaa ") shouldBe 0.9416666666666667
    jw("crate", "trace") shouldBe 0.7333333333333334
  }

  test("boost threshold: jaro at exactly 2/3 is NOT boosted despite prefix") {
    jw("aaaaaaaaaaXXXXXXXXXX", "aaaaaaaaaaYYYYYYYYYY") shouldBe
      0.6666666666666666
    // just above 0.7: boosted
    jw("ab", "abcdefghij") shouldBe 0.7866666666666667
  }

  test("degenerate inputs follow the DuckDB conventions") {
    jw("", "abc") shouldBe 0.0
    jw("", "") shouldBe 0.0 // DuckDB: two empties are NOT similarity 1
    jw("a", "a") shouldBe 1.0
    jw("ab", "ba") shouldBe 0.0 // window 0 on len-2 strings: no matches
    jw("abc", "abc") shouldBe 1.0
  }

  test("SQL registration and codegen path agree with direct compute") {
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("dixon", "dicksonx"), ("", ""))
      .toDF("a", "b")
    df.createOrReplaceTempView("jw_pairs")
    val got = spark.sql(
      "SELECT jaro_winkler(a, b) AS s FROM jw_pairs ORDER BY s")
      .collect().map(_.getDouble(0)).toSeq
    got shouldBe Seq(0.0, 0.8133333333333332, 0.9611111111111111)
  }
}
