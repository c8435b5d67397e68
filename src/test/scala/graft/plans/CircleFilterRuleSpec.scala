package graft.plans

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

class CircleFilterRuleSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def withPoints[T](f: String => T): T = {
    val work = java.nio.file.Files.createTempDirectory("circle_spec").toString
    try {
      import spark.implicits._
      // grid of points around the center plus far-away noise
      val pts = for {
        la <- -60 to 60; lo <- -60 to 60
      } yield (la.toDouble / 2.0 + 30.0, lo.toDouble / 2.0 - 40.0)
      pts.toDF("latitude", "longitude").write.parquet(work + "/pts")
      f(work + "/pts")
    } finally {
      def rm(fl: java.io.File): Unit = {
        if (fl.isDirectory) fl.listFiles().foreach(rm)
        fl.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }

  test("bounding box reaches PushedFilters and results are unchanged") {
    withPoints { path =>
      spark.read.parquet(path).createOrReplaceTempView("circle_spec_pts")
      val sql =
        """SELECT latitude, longitude FROM circle_spec_pts
          |WHERE haversine_m(latitude, longitude, 30.0, -40.0) <= 500000.0"""
          .stripMargin
      val withRule = spark.sql(sql)
      val plan = withRule.queryExecution.executedPlan.toString
      // the rewrite's range bounds must reach the parquet source filters
      // (the PushedFilters list itself truncates in toString, so assert
      // the leading pushed entries plus all four bounds in the Filter)
      plan should include regex "PushedFilters: \\[\\w+\\(longitude"
      val bounds = Seq("latitude#\\d+ >= ", "latitude#\\d+ <= ",
        "longitude#\\d+ >= ", "longitude#\\d+ <= ")
      bounds.foreach(b => plan should include regex b)
      // the exact predicate stays as the residual
      plan should include("haversine_m")

      // identity: same rows as the un-rewritten plan (rule excluded)
      val key = "spark.sql.optimizer.excludedRules"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, CircleFilterRule.ruleName)
      try {
        val unrewritten = spark.sql(sql)
        val opt = unrewritten.queryExecution.optimizedPlan.toString
        bounds.foreach(b => b.r.findFirstIn(opt) shouldBe empty)
        val without = unrewritten.collect().toSet
        withRule.collect().toSet shouldBe without
        without.size should be > 0
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("box is a superset of the circle for random centers and radii") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val cLat = rnd.nextDouble() * 160 - 80
      val cLon = rnd.nextDouble() * 300 - 150
      val r = rnd.nextDouble() * 900000
      val dLat = math.toDegrees(r / 6371000.0) * 1.0001
      val bandMax = math.min(89.0, math.abs(cLat) + dLat)
      val cosBand = math.cos(math.toRadians(bandMax))
      // a random point ON or inside the circle must satisfy the box
      val theta = rnd.nextDouble() * 2 * math.Pi
      val d = r * math.sqrt(rnd.nextDouble())
      // forward geodesic to a point at distance d bearing theta
      val dr = d / 6371000.0
      val la1 = math.toRadians(cLat)
      val la2 = math.asin(math.sin(la1) * math.cos(dr) +
        math.cos(la1) * math.sin(dr) * math.cos(theta))
      val lo2 = math.toRadians(cLon) + math.atan2(
        math.sin(theta) * math.sin(dr) * math.cos(la1),
        math.cos(dr) - math.sin(la1) * math.sin(la2))
      val (pLat, pLon) = (math.toDegrees(la2), math.toDegrees(lo2))
      withClue(s"center=($cLat,$cLon) r=$r point=($pLat,$pLon)") {
        pLat should be >= cLat - dLat
        pLat should be <= cLat + dLat
        if (cosBand > 1e-6) {
          val dLon = math.toDegrees(r / (6371000.0 * cosBand)) * 1.0001
          if (cLon - dLon > -180.0 && cLon + dLon < 180.0) {
            pLon should be >= cLon - dLon
            pLon should be <= cLon + dLon
          }
        }
      }
    }
  }

  test("rule is idempotent: second optimizer pass adds no new conjuncts") {
    withPoints { path =>
      spark.read.parquet(path).createOrReplaceTempView("circle_spec_pts2")
      val df = spark.sql(
        """SELECT COUNT(*) AS n FROM circle_spec_pts2
          |WHERE haversine_m(latitude, longitude, 30.0, -40.0) < 250000.0"""
          .stripMargin)
      val opt = df.queryExecution.optimizedPlan
      val again = CircleFilterRule(opt)
      again.treeString shouldBe opt.treeString
      df.collect().head.getLong(0) should be > 0L
    }
  }
}
