package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  // One session per JVM (sbt forks one test JVM); pinned at 4 cores
  // whatever SPARK_GRAFT_CPUS says — the small shuffle partition count
  // keeps the tiny-data tests fast.
  lazy val session: SparkSession =
    Sessions.getOrCreate(Sessions.builderFor(4))
}
