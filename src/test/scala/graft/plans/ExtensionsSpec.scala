package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.Geo

/** The native haversine Expression: SQL-registered via extensions, fused
  * into whole-stage codegen, numerically identical to the Column form. */
class ExtensionsSpec extends AnyFunSuite with Matchers with graft.SparkSuite {

  test("haversine_m callable from SQL text and matches the Column expression") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((40.0, -75.0, 40.7128, -74.0060)).toDF("a1", "o1", "a2", "o2")
    df.createOrReplaceTempView("pts")

    val sqlVal = spark.sql(
      "SELECT haversine_m(a1, o1, a2, o2) AS d FROM pts").head.getDouble(0)
    val colVal = df.select(
      Geo.haversineMeters(col("a1"), col("o1"), col("a2"), col("o2"))).head.getDouble(0)
    sqlVal shouldBe colVal +- 1e-6
    sqlVal shouldBe 115653.0 +- 500.0 // ~116 km to NYC
  }

  test("cosine_sim callable from SQL text and matches the Column expression") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((Array(1.0f, 0.0f, 0.0f), Array(0.6f, 0.8f, 0.0f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val sqlVal = spark.sql("SELECT cosine_sim(a, b) AS c FROM vecs").head.getDouble(0)
    val colVal = df.select(graft.llm.Similarity.cosine(col("a"), col("b"))).head.getDouble(0)
    sqlVal shouldBe colVal // bit-identical: same expression node
    sqlVal shouldBe 0.6 +- 1e-6 // float inputs: 0.6f widens to 0.60000000954
  }

  test("cosine_sim casts SQL double arrays instead of misreading their buffers") {
    // array(0.3, 0.4, 0.0) is array<double>; before the builder cast the
    // expression read 4 bytes of each 8-byte slot (garbage), now it widens
    // through array<float> like any float embedding.
    val v = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D, 0.0D), array(0.6D, 0.8D, 0.0D)) AS c")
      .head.getDouble(0)
    v shouldBe 0.6 +- 1e-6

    // Direct construction (no builder cast) must fail analysis, not return
    // garbage at runtime.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dd = Seq((Array(1.0, 0.0), Array(0.5, 0.5))).toDF("a", "b")
    val bad = intercept[Exception] {
      dd.select(ColumnBridge.column(CosineExpression(
        ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b"))))).collect()
    }
    bad.getMessage should include("array<float>")
  }

  test("l2_sq callable from SQL text: exact BIGINT, casts, nulls, codegen") {
    spark.sql(
      "SELECT l2_sq(array(3L, 0L, -2L), array(0L, 4L, 2L)) AS d")
      .head.getLong(0) shouldBe (9L + 16L + 16L)
    // int arrays widen through the builder cast
    spark.sql("SELECT l2_sq(array(1, 2), array(4, 6)) AS d")
      .head.getLong(0) shouldBe (9L + 16L)
    // length mismatch and null propagate as NULL, never garbage/throw
    spark.sql("SELECT l2_sq(array(1L), array(1L, 2L)) AS d")
      .head.isNullAt(0) shouldBe true
    spark.sql("SELECT l2_sq(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d")
      .head.isNullAt(0) shouldBe true
    // fused into whole-stage codegen
    val plan = spark.sql(
      "SELECT l2_sq(array(id), array(id + 3)) AS d FROM range(100)")
      .queryExecution.executedPlan.toString
    plan.linesIterator.next() should startWith("*(")
    plan should include("l2_sq")
  }

  test("l2_sq property: random arrays match a BigInt reference, codegen == interpreted") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val rows = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(80)
      (Array.fill(n)(rnd.nextLong() % 1000000L),
        Array.fill(n)(rnd.nextLong() % 1000000L))
    }
    val df = rows.toDF("a", "b")
    val got = df.selectExpr("l2_sq(a, b) AS d").collect().map(_.getLong(0))
    val exp = rows.map { case (a, b) =>
      a.zip(b).map { case (x, y) =>
        val d = BigInt(x) - BigInt(y); d * d
      }.sum.toLong
    }
    got.toSeq shouldBe exp
    // interpreted eval path (no codegen) agrees with the codegen'd one
    rows.take(20).foreach { case (a, b) =>
      import org.apache.spark.sql.catalyst.util.ArrayData
      val ad = ArrayData.toArrayData(a)
      val bd = ArrayData.toArrayData(b)
      val viaCompute = L2SqExpression.compute(ad, bd).longValue()
      val expected = a.zip(b).map { case (x, y) =>
        (BigInt(x) - BigInt(y)).pow(2)
      }.sum.toLong
      viaCompute shouldBe expected
    }
  }

  test("double_order_bits / _inv: SQL round trip and order isomorphism") {
    import spark.implicits._
    val vals = Seq(-1e300, -2.5, -0.0, 0.0, 1.5e-308, 0.3, 7.0, 1e300)
    val df = vals.toDF("v")
    df.createOrReplaceTempView("dob")
    // self-inverse through SQL text
    val back = spark.sql(
      "SELECT double_order_bits_inv(double_order_bits(v)) AS r FROM dob")
      .collect().map(_.getDouble(0)).toSeq
    back shouldBe vals
    // mapped longs sort exactly like the doubles
    val mapped = spark.sql("SELECT double_order_bits(v) AS m FROM dob")
      .collect().map(_.getLong(0)).toSeq
    mapped.sorted.map(DoubleOrderBitsExpression.fromBits) shouldBe vals.sorted
  }

  test("nulls propagate; wrong arity is a clear error") {
    spark.sql("SELECT haversine_m(CAST(NULL AS DOUBLE), 0D, 1D, 1D) AS d")
      .head.isNullAt(0) shouldBe true
    val e = intercept[Exception] {
      spark.sql("SELECT haversine_m(1D, 2D)").collect()
    }
    e.getMessage.toLowerCase should include("argument")
  }

  test("outlier-idiom rule rewrites the null-safe predicate without changing results") {
    import spark.implicits._
    val df = Seq(
      ("keep_false", Some(false)), ("keep_null", None), ("drop_true", Some(true)))
      .toDF("name", "flag")
    // Apply the rule directly to the analyzed plan, so the check pins this
    // rule's rewrite rather than the whole optimizer's output.
    val idiom = df.where("flag != true OR flag IS NULL")
    val rewritten = OutlierIdiomRule(idiom.queryExecution.analyzed)
    // canonical pushdown-friendly form: NOT x OR isnull(x), no coalesce
    rewritten.toString should include("isnull")
    rewritten.toString should not include "coalesce"
    // semantic equivalence on all three truth-table cases
    val a = idiom.collect().map(_.getString(0)).sorted
    val b = df.where("NOT flag OR flag IS NULL").collect().map(_.getString(0)).sorted
    a shouldBe Array("keep_false", "keep_null")
    b shouldBe a
  }

  test("outlier idiom keeps parquet pushdown (the reason the rule avoids coalesce)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idiom").toString + "/t"
    Seq(("a", Some(true)), ("b", Some(false)), ("c", Option.empty[Boolean]))
      .toDF("k", "is_global_outlier").write.parquet(path)
    val plan = spark.read.parquet(path)
      .where("is_global_outlier != true OR is_global_outlier IS NULL")
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters: [Or(Not(EqualTo(is_global_outlier,true)),IsNull(is_global_outlier))]")
  }

  test("the expression participates in whole-stage codegen") {
    val plan = spark.sql(
      """SELECT haversine_m(CAST(id AS DOUBLE) / 100, 0D, 0D, 0D) AS d
        |FROM range(1000)""".stripMargin)
      .queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the compact plan string —
    // the expression sits INSIDE the fused stage, no codegen fence.
    plan.linesIterator.next() should startWith("*(")
    plan should include("haversine_m")
  }
}
