package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkSuite}

/** The optimizer rule set is fixed when the session is built: the queries
  * that use the engine's SQL functions (c6, c8) install nothing, so a plan
  * is the same whether it runs before or after them in a sweep. */
class SessionRuleSetSpec extends AnyFunSuite with Matchers with SparkSuite {

  test("the active rule set is the same before and after c6/c8 run") {
    val work = java.nio.file.Files.createTempDirectory("rule_set_spec").toString
    try {
      import spark.implicits._
      Seq((30.0, -40.0), (30.5, -40.5), (60.0, 10.0))
        .toDF("latitude", "longitude").write.parquet(work + "/pts")
      spark.read.parquet(work + "/pts").createOrReplaceTempView("rule_set_pts")
      def probe(): String = spark.sql(
        """SELECT latitude FROM rule_set_pts
          |WHERE haversine_m(latitude, longitude, 30.0, -40.0) <= 200000.0"""
          .stripMargin).queryExecution.optimizedPlan.toString
      // post-construction rule hooks, read-only: they must stay unused
      def addedRules = spark.sessionState.experimentalMethods.extraOptimizations

      val first = probe()
      Seq("latitude#\\d+ >= ", "latitude#\\d+ <= ",
        "longitude#\\d+ >= ", "longitude#\\d+ <= ")
        .foreach(b => first should include regex b)
      addedRules shouldBe empty

      Seq("c6_sql_surface", "c8_circle_filter").foreach { name =>
        SparkEntry.queries(name)(spark, sfDir).collect()
      }
      probe() shouldBe first
      addedRules shouldBe empty
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }
}
