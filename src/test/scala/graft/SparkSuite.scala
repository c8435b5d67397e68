package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for DataFrame-level specs. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkSuite.session

  /** sf0.001 testdata (~6k lineitem rows) — correctness-sized. */
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = super.afterAll() // session shared across suites
}

object SparkSuite {
  lazy val session: SparkSession = graft.plans.GraftSession.builder(4)
    .appName("graft-test")
    .getOrCreate()
}
