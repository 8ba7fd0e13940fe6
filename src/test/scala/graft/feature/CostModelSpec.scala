package graft.feature

import graft.SparkTestBase
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Spark jobs per fit against the reference's cost model (BASELINE.md):
  * the conventional encoding may run at most 1 + k·⌈cols/1000⌉ jobs, one
  * counting pass per selection round, and the blocked alternate encoding
  * is pinned at its measured count so a plan change that adds jobs fails
  * here rather than only in the benchmark.
  */
class CostModelSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val rows = 200
  // past the conventional driver's all-pairs fast path (≤ 44 features)
  private val cols = 50
  private val k = 3

  private def value(i: Int, f: Int): Double =
    if (f % 3 == 0) ((i / 3 + f) % 4).toDouble
    else ((i * 31 + f * 17) % 5).toDouble
  private def label(i: Int): Double = ((i / 3) % 3).toDouble

  /** Jobs started while `body` runs, counted once the listener bus has
    * gone quiet.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    def settled(): Int = {
      var prev = -1; var cur = jobs.get()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
      cur
    }
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      (out, settled())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a conventional fit runs at most 1 + k·⌈cols/1000⌉ jobs") {
    import spark.implicits._
    val df = (0 until rows).map { i =>
      (label(i).toInt, Vectors.dense(Array.tabulate(cols)(value(i, _))))
    }.toDF("label", "features")
    val (selected, jobs) = jobsOf(new FeatureSelector()
      .setNumTopFeatures(k).setLabelCol("label").setFeaturesCol("features")
      .fit(df).selectedFeatures)
    selected.length shouldBe k
    jobs should be <= 1 + k * ((cols + 999) / 1000)
  }

  test("a blocked fit runs no more jobs than its pinned count") {
    import spark.implicits._
    val df = ((-1 until cols).flatMap { f =>
      (0 until rows by 64).zipWithIndex.map { case (lo, b) =>
        (f.toLong, b.toLong, (lo until math.min(lo + 64, rows)).map(i =>
          if (f < 0) label(i) else value(i, f)).toArray)
      }
    }).toDF("id", "block", "values")
    val (selected, jobs) = jobsOf(new RowSelector()
      .setNumTopRows(k).setEncoding("blocked").setIdCol("id")
      .setBlockCol("block").setFeaturesCol("values").setLabelRowId(-1L)
      .fit(df).selectedRows)
    selected.length shouldBe k
    jobs should be <= 11
  }
}
