package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()

  /** `body`, checked to leave no new `graft_*` entry in java.io.tmpdir. */
  def leavesNoGraftTemp[A](body: => A): A = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries: Set[String] =
      Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_")).toSet
    val before = graftEntries
    val out = body
    val left = graftEntries -- before
    assert(left.isEmpty, s"left behind in $tmp: ${left.mkString(", ")}")
    out
  }
}

object SparkTestBase {
  // One session per JVM (sbt forks one test JVM); pinned at 4 cores
  // whatever SPARK_GRAFT_CPUS says — the small shuffle partition count
  // keeps the tiny-data tests fast.
  lazy val session: SparkSession =
    Sessions.getOrCreate(Sessions.builderFor(4))
}
