package graft.feature

import graft.SparkTestBase
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Spark jobs per fit against the reference's cost model (BASELINE.md,
  * 1 + k·⌈cols/1000⌉ conventional): the conventional encoding may run at
  * most 1 + k jobs at any width, a coding job and one counting pass per
  * selection round, or two when the whole pair table is within the k
  * rounds' pairs; the blocked alternate encoding at
  * most k + 1 (one job per round over one shuffle of block slices, whose
  * map stage later rounds skip) and the vector one at most 2k − 1 (an argmax
  * and a winner fetch per round), or 2k + 1 under a generic `RowScore`, so
  * a plan change that adds jobs fails here rather than only in the
  * benchmark.
  */
class CostModelSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val rows = 200
  // past the conventional driver's all-pairs fast path (cols < 2k)
  private val cols = 50
  private val k = 3

  private def value(i: Int, f: Int): Double =
    if (f % 3 == 0) ((i / 3 + f) % 4).toDouble
    else ((i * 31 + f * 17) % 5).toDouble
  private def label(i: Int): Double = ((i / 3) % 3).toDouble

  /** Jobs started and stages completed while `body` runs, counted once
    * the listener bus has gone quiet. A stage whose shuffle output is
    * reused is skipped and never completes.
    */
  private def jobsOf[T](body: => T): (T, Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    def settled(): (Int, Int) = {
      var prev = (-1, -1); var cur = (jobs.get(), stages.get())
      while (cur != prev) {
        Thread.sleep(200); prev = cur; cur = (jobs.get(), stages.get())
      }
      cur
    }
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted)
      : Unit = { stages.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      val (j, s) = settled()
      (out, j, s)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The blocked layout of the test matrix, `width` instances per block,
    * with the label row as id -1.
    */
  private def blockedDF(width: Int) = {
    import spark.implicits._
    (-1 until cols).flatMap { f =>
      (0 until rows by width).zipWithIndex.map { case (lo, b) =>
        (f.toLong, b.toLong, (lo until math.min(lo + width, rows)).map(i =>
          if (f < 0) label(i) else value(i, f)).toArray)
      }
    }.toDF("id", "block", "values")
  }

  private def vectorDF() = {
    import spark.implicits._
    (0 until cols).map { f =>
      (f.toLong, Vectors.dense(Array.tabulate(rows)(value(_, f))): Vector)
    }.toDF("id", "features")
  }

  private def labelVector = Array.tabulate(rows)(label)

  private def fitBlocked(width: Int): Seq[Long] = new RowSelector()
    .setNumTopRows(k).setEncoding("blocked").setIdCol("id")
    .setBlockCol("block").setFeaturesCol("values").setLabelRowId(-1L)
    .fit(blockedDF(width)).selectedRows.toSeq

  /** Jobs of a conventional fit of the test matrix `width` columns wide. */
  private def conventionalJobs(width: Int, num: Int): Int = {
    import spark.implicits._
    val df = (0 until rows).map { i =>
      (label(i).toInt, Vectors.dense(Array.tabulate(width)(value(i, _))))
    }.toDF("label", "features")
    val (selected, jobs, _) = jobsOf(new FeatureSelector()
      .setNumTopFeatures(num).setLabelCol("label")
      .setFeaturesCol("features").fit(df).selectedFeatures)
    selected.length shouldBe num
    jobs
  }

  test("a conventional fit runs at most 1 + k jobs") {
    conventionalJobs(cols, k) should be <= 1 + k
  }

  test("a conventional fit wider than 1,000 columns runs at most 1 + k " +
    "jobs") {
    conventionalJobs(1100, k) should be <= 1 + k
  }

  test("a conventional fit within the all-pairs fast path runs one " +
    "counting job") {
    conventionalJobs(6, 4) should be <= 2
  }

  test("a blocked fit runs no more jobs than its pinned count") {
    val (selected, jobs, stages) = jobsOf(fitBlocked(64))
    selected.length shouldBe k
    jobs should be <= k + 1
    // round 0 maps the block shuffle, counts and folds; later rounds
    // reuse its output and run only their count and fold stages
    stages should be <= 2 * k + 1
  }

  test("a vector fit runs at most 2k − 1 jobs") {
    val (selected, jobs, _) = jobsOf(new RowSelector()
      .setNumTopRows(k).setEncoding("vector").setIdCol("id")
      .setFeaturesCol("features").setLabelVector(labelVector)
      .fit(vectorDF()).selectedRows)
    selected.length shouldBe k
    jobs should be <= 2 * k - 1
  }

  test("a generic-score vector fit runs at most 2k + 1 jobs") {
    // the same mRMR through the public RowScore path, not the fast path
    object GenericMrmr extends graft.stats.RowScore {
      override def score(f: Vector, l: Vector, sel: Seq[Vector]): Double =
        graft.stats.RowMRMR.score(f, l, sel)
    }
    val (selected, jobs, _) = jobsOf(IterativeFeatureSelection.selectRows(
      vectorDF(), "id", "features", k, Vectors.dense(labelVector),
      score = GenericMrmr))
    selected.length shouldBe k
    jobs should be <= 2 * k + 1
  }

  test("blocked fits with more blocks than cores, or one block, match " +
    "selectRows") {
    val want = IterativeFeatureSelection.selectRows(vectorDF(), "id",
      "features", k, Vectors.dense(labelVector))
    spark.sparkContext.defaultParallelism should be < rows / 13
    for (width <- Seq(13, rows)) {
      val df = blockedDF(width)
      val got = IterativeFeatureSelection.selectRowsBlocked(
        df.filter("id >= 0"), "id", "block", "values",
        df.filter("id = -1").select("block", "values"), k)
      got.map(_._1) shouldBe want.map(_._1)
      got.zip(want).foreach { case ((_, g), (_, w)) => g shouldBe w +- 1e-9 }
    }
  }

  test("a one-block blocked fit counts on every core") {
    // tasks that read the slice shuffle and write counts, per stage: the
    // count stages of the rounds
    val busy = new java.util.concurrent.ConcurrentHashMap[Int, Integer]
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0 &&
            m.shuffleWriteMetrics.recordsWritten > 0)
          busy.merge(te.stageId, 1, (a: Integer, b: Integer) => a + b)
        ()
      }
    }
    val df = blockedDF(rows)
    spark.sparkContext.addSparkListener(listener)
    val (got, _, _) = try jobsOf(IterativeFeatureSelection.selectRowsBlocked(
      df.filter("id >= 0"), "id", "block", "values",
      df.filter("id = -1").select("block", "values"), k, sliceWidth = 16))
    finally spark.sparkContext.removeSparkListener(listener)
    got.length shouldBe k
    busy.size should be >= k
    busy.values.forEach(n =>
      n.intValue shouldBe spark.sparkContext.defaultParallelism)
  }
}
