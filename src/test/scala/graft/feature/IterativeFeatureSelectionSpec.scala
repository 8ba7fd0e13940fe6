package graft.feature

import graft.SparkTestBase
import graft.stats.MutualInformation
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.util.Random

class IterativeFeatureSelectionSpec extends AnyFunSuite with Matchers
  with SparkTestBase {

  /** Random single-digit integer matrix, reference-fixture style
    * (`reference:src/main/scala/ifs/util/functions.scala:53-54`).
    */
  private def randomMatrix(seed: Int, rows: Int, cols: Int)
  : (Array[Double], Array[Array[Double]]) = {
    val rnd = new Random(seed)
    val labels = Array.fill(rows)(rnd.nextInt(3).toDouble)
    val m = Array.fill(rows, cols)(rnd.nextInt(4).toDouble)
    (labels, m)
  }

  /** Driver-side greedy mRMR oracle with naive full-contingency MI; ties
    * break toward the lowest index (the engine's documented rule).
    */
  private def greedyOracle(labels: Array[Double], m: Array[Array[Double]],
                           k: Int): Seq[(Int, Double)] = {
    val cols = m.head.length
    def colv(c: Int): Array[Double] = m.map(_(c))
    def mi(a: Array[Double], b: Array[Double]): Double =
      MutualInformation.fromVectors(Vectors.dense(a), Vectors.dense(b))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    while (selected.size < math.min(k, cols)) {
      val sel = selected.map(_._1)
      val scored = (0 until cols).filterNot(sel.contains).map { c =>
        val rel = mi(colv(c), labels)
        val red =
          if (sel.isEmpty) 0.0
          else sel.map(s => mi(colv(c), colv(s))).sum / sel.size
        c -> (rel - red)
      }
      selected += scored.minBy { case (c, s) => (-s, c) }
    }
    selected.toSeq
  }

  private def conventionalDF(labels: Array[Double], m: Array[Array[Double]]) = {
    import spark.implicits._
    m.zip(labels).toSeq
      .map { case (row, l) => (l.toInt, Vectors.dense(row)) }
      .toDF("label", "features")
  }

  private def alternateDF(labels: Array[Double], m: Array[Array[Double]]) = {
    import spark.implicits._
    val cols = m.head.length
    (0 until cols).map { c =>
      (c.toLong, Vectors.dense(m.map(_(c))): Vector)
    }.toDF("id", "features")
  }

  test("selectColumns matches the driver-side greedy oracle") {
    val (labels, m) = randomMatrix(seed = 7, rows = 120, cols = 8)
    val got = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, m), "label", "features", num = 4)
    val want = greedyOracle(labels, m, 4)
    got.map(_._1) shouldBe want.map(_._1)
    got.zip(want).foreach { case ((_, gs), (_, ws)) =>
      gs shouldBe ws +- 1e-9
    }
  }

  test("selectRows matches the oracle and the conventional path " +
    "(the reference's own cross-encoding invariant)") {
    val (labels, m) = randomMatrix(seed = 11, rows = 90, cols = 7)
    val conv = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, m), "label", "features", num = 3)
    val alt = IterativeFeatureSelection.selectRows(
      alternateDF(labels, m), "id", "features", num = 3,
      labelsRow = Vectors.dense(labels))
    alt.map(_._1.toInt) shouldBe conv.map(_._1)
    alt.zip(conv).foreach { case ((_, as), (_, cs)) =>
      as shouldBe cs +- 1e-9
    }
  }

  test("k is clamped to the number of features (Q4)") {
    val (labels, m) = randomMatrix(seed = 3, rows = 40, cols = 3)
    val got = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, m), "label", "features", num = 99)
    got.size shouldBe 3
    val alt = IterativeFeatureSelection.selectRows(
      alternateDF(labels, m), "id", "features", num = 99,
      labelsRow = Vectors.dense(labels))
    alt.size shouldBe 3
  }

  test("round 1 picks the max-relevance feature, batching preserved") {
    val (labels, m) = randomMatrix(seed = 5, rows = 100, cols = 6)
    // batchSize=2 forces multiple counting jobs per round (and disables
    // the all-pairs fast path). pairMIMulti rounds MI to 12 decimals
    // precisely so the two paths' memo values are BIT-IDENTICAL despite
    // the ~1e-15 FP summation-order drift between their plans — so exact
    // equality is asserted here, scores included.
    val got = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, m), "label", "features", num = 2, batchSize = 2)
    val ref = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, m), "label", "features", num = 2)
    got shouldBe ref
  }

  test("custom SelectionScore drives the conventional greedy loop") {
    val (labels, m) = randomMatrix(seed = 22, rows = 90, cols = 5)
    // pure-relevance criterion: selection = MI ranking against the label
    object Mim extends graft.stats.SelectionScore {
      override def score(rel: Double, red: Seq[Double]): Double = rel
    }
    val got = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, m), "label", "features", num = 3, score = Mim)
    def relOf(c: Int): Double = MutualInformation.fromVectors(
      Vectors.dense(m.map(_(c))), Vectors.dense(labels))
    val want = (0 until 5).map(c => (c, relOf(c)))
      .sortBy { case (c, s) => (-s, c) }.take(3)
    got.map(_._1) shouldBe want.map(_._1)
    got.zip(want).foreach { case ((_, a), (_, b)) => a shouldBe b +- 1e-9 }
  }

  test("custom RowScore routes through the generic path (both argmax " +
    "directions)") {
    val (labels, m) = randomMatrix(seed = 21, rows = 90, cols = 5)
    def colv(c: Int): Array[Double] = m.map(_(c))
    def relOf(c: Int): Double = MutualInformation.fromVectors(
      Vectors.dense(colv(c)), Vectors.dense(labels))
    // pure-relevance criterion (MIM): ignores the selected set entirely
    object Mim extends graft.stats.RowScore {
      override def score(f: Vector, l: Vector, sel: Seq[Vector]): Double =
        MutualInformation.fromVectors(f, l)
    }
    val got = IterativeFeatureSelection.selectRows(
      alternateDF(labels, m), "id", "features", num = 3,
      labelsRow = Vectors.dense(labels), score = Mim)
    val want = (0 until 5).map(c => (c.toLong, relOf(c)))
      .sortBy { case (c, s) => (-s, c) }.take(3)
    got.map(_._1) shouldBe want.map(_._1)
    got.zip(want).foreach { case ((_, a), (_, b)) => a shouldBe b +- 1e-9 }
    // lowerIsBetter flips the argmax
    object AntiMim extends graft.stats.RowScore {
      override def score(f: Vector, l: Vector, sel: Seq[Vector]): Double =
        MutualInformation.fromVectors(f, l)
      override def higherIsBetter: Boolean = false
    }
    val lo = IterativeFeatureSelection.selectRows(
      alternateDF(labels, m), "id", "features", num = 1,
      labelsRow = Vectors.dense(labels), score = AntiMim)
    lo.head._1 shouldBe (0 until 5).map(c => (c.toLong, relOf(c)))
      .sortBy { case (c, s) => (s, c) }.head._1
  }

  /** Blocked alternate layout: (feature, block, values) records with the
    * instance axis tiled by `cuts` (ragged on purpose — any consistent
    * tiling is valid), labels as a (block, values) DataFrame.
    */
  private def blockedDFs(labels: Array[Double], m: Array[Array[Double]],
                         cuts: Seq[Int]) = {
    import spark.implicits._
    val bounds = (0 +: cuts :+ labels.length).distinct.sorted
    val ranges = bounds.zip(bounds.tail)
    val cols = m.head.length
    val feat = (for {
      c <- 0 until cols
      (b, (lo, hi)) <- ranges.zipWithIndex.map(_.swap)
    } yield (c.toLong, b.toLong, (lo until hi).map(m(_)(c)).toArray))
      .toDF("id", "bid", "values")
    val lab = ranges.zipWithIndex.map { case ((lo, hi), b) =>
      (b.toLong, (lo until hi).map(labels(_)).toArray)
    }.toDF("bid", "values")
    (feat, lab)
  }

  test("selectRowsBlocked matches the vector alternate path and the " +
    "oracle across ragged tilings") {
    val (labels, m) = randomMatrix(seed = 31, rows = 110, cols = 6)
    val want = IterativeFeatureSelection.selectRows(
      alternateDF(labels, m), "id", "features", num = 4,
      labelsRow = Vectors.dense(labels))
    // two different tilings (ragged, and near-single-block) must both
    // reproduce the vector path bit-for-bit at the memo's 12-decimal grain
    for (cuts <- Seq(Seq(13, 40, 41, 77), Seq(109))) {
      val (feat, lab) = blockedDFs(labels, m, cuts)
      val got = IterativeFeatureSelection.selectRowsBlocked(
        feat, "id", "bid", "values", lab, num = 4)
      got.map(_._1) shouldBe want.map(_._1)
      got.zip(want).foreach { case ((_, gs), (_, ws)) =>
        gs shouldBe ws +- 1e-9
      }
    }
    got_oracle_agreement(labels, m)
  }

  private def got_oracle_agreement(labels: Array[Double],
                                   m: Array[Array[Double]]): Unit = {
    val (feat, lab) = blockedDFs(labels, m, Seq(50))
    val got = IterativeFeatureSelection.selectRowsBlocked(
      feat, "id", "bid", "values", lab, num = 3)
    got.map(_._1.toInt) shouldBe greedyOracle(labels, m, 3).map(_._1)
  }

  test("selectRowsBlocked rejects ragged feature/label block mismatches " +
    "instead of computing MI over a subset") {
    val (labels, m) = randomMatrix(seed = 37, rows = 60, cols = 4)
    val (feat, lab) = blockedDFs(labels, m, Seq(20, 40))
    // a feature block shorter than its label block → length error
    val truncated = feat.withColumn("values",
      org.apache.spark.sql.functions.expr(
        "CASE WHEN id = 2 AND bid = 1 THEN slice(values, 1, 5) " +
          "ELSE values END"))
    val ex1 = intercept[Exception] {
      IterativeFeatureSelection.selectRowsBlocked(
        truncated, "id", "bid", "values", lab, num = 2)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex1).exists(_.contains("label block has length")))
    // a feature missing one block entirely → coverage error
    val missing = feat.filter("NOT (id = 1 AND bid = 0)")
    val ex2 = intercept[Exception] {
      IterativeFeatureSelection.selectRowsBlocked(
        missing, "id", "bid", "values", lab, num = 2)
    }
    assert(messages(ex2).exists(_.contains("missing or ragged blocks")))
    // a feature carrying an EXTRA block absent from the label tiling:
    // the inner join would silently drop it (coverage still matches the
    // label's instance count), so the stray-block anti-join must raise
    import spark.implicits._
    val stray = feat.union(
      Seq((3L, 99L, Array(1.0, 2.0, 3.0))).toDF("id", "bid", "values"))
    val ex3 = intercept[Exception] {
      IterativeFeatureSelection.selectRowsBlocked(
        stray, "id", "bid", "values", lab, num = 2)
    }
    assert(messages(ex3).exists(_.contains("stray block")))
    // a feature block whose values array is null → the same contract
    // error naming the feature, not an executor NullPointerException
    val nulled = feat.withColumn("values",
      org.apache.spark.sql.functions.expr(
        "CASE WHEN id = 2 AND bid = 1 THEN CAST(NULL AS array<double>) " +
          "ELSE values END"))
    val ex4 = intercept[Exception] {
      IterativeFeatureSelection.selectRowsBlocked(
        nulled, "id", "bid", "values", lab, num = 2)
    }
    assert(messages(ex4).exists(m =>
      m.contains("feature 2") && m.contains("values array is null")))
  }

  test("an empty label tiling is a named IllegalArgumentException, not " +
    "an NPE, in selectRowsBlocked and a blocked RowSelector fit") {
    val (labels, m) = randomMatrix(seed = 41, rows = 40, cols = 3)
    val (feat, lab) = blockedDFs(labels, m, Seq(20))
    val ex1 = intercept[IllegalArgumentException] {
      IterativeFeatureSelection.selectRowsBlocked(
        feat, "id", "bid", "values", lab.limit(0), num = 2)
    }
    ex1.getMessage should include("label tiling is empty")
    import org.apache.spark.sql.functions.lit
    val withLabelRow = feat.unionByName(
      lab.withColumn("id", lit(-1L)))
    val ex2 = intercept[IllegalArgumentException] {
      new RowSelector()
        .setNumTopRows(2).setEncoding("blocked").setIdCol("id")
        .setBlockCol("bid").setFeaturesCol("values")
        .setLabelRowId(-99L) // the label pseudo-row is id -1
        .fit(withLabelRow)
    }
    ex2.getMessage should include("label tiling is empty")
  }

  test("pairChi2Multi matches a naive driver-side chi-square") {
    val (labels, m) = randomMatrix(seed = 17, rows = 150, cols = 5)
    import spark.implicits._
    val df = m.zip(labels).toSeq
      .map { case (row, l) => (l, row) }.toDF("label", "f")
    val got = IterativeFeatureSelection.pairChi2Multi(
      df, (0 until 5).map(c => (c, -1)), maxCategories = 10000)
    (0 until 5).foreach { c =>
      val x = m.map(_(c))
      val n = x.length.toDouble
      val cells = x.zip(labels).groupBy(identity).view.mapValues(_.length.toDouble)
      val cx = x.groupBy(identity).view.mapValues(_.length.toDouble)
      val cy = labels.groupBy(identity).view.mapValues(_.length.toDouble)
      val chi2 = cells.map { case ((xv, yv), cnt) =>
        val e = cx(xv) * cy(yv) / n
        (cnt - e) * (cnt - e) / e
      }.sum
      val (g, lx, ly, gn) = got((c, -1))
      g shouldBe chi2 +- 1e-6
      lx shouldBe cx.size.toLong
      ly shouldBe cy.size.toLong
      gn shouldBe x.length.toLong
    }
  }

  test("maxCategories guard rejects high-cardinality columns") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i % 2, Vectors.dense(i.toDouble)))
      .toDF("label", "features")
    an[IllegalArgumentException] should be thrownBy
      IterativeFeatureSelection.selectColumns(
        df, "label", "features", num = 1, maxCategories = 10)
  }

  test("maxInstances guard fences the alternate encoding's width " +
    "contract with one clear error") {
    // VERDICT r6 #5: the row layout's record width IS the instance count;
    // past the bound a caller gets this driver-side error, not an
    // executor OOM three stages later.
    val (labels, m) = randomMatrix(seed = 7, rows = 40, cols = 4)
    val ex = the[IllegalArgumentException] thrownBy
      IterativeFeatureSelection.selectRows(
        alternateDF(labels, m), "id", "features", num = 2,
        labelsRow = Vectors.dense(labels), maxInstances = 30)
    ex.getMessage should include("40 instances wide")
    ex.getMessage should include("selectColumns")
    // At or under the bound the selection proceeds unchanged.
    IterativeFeatureSelection.selectRows(
      alternateDF(labels, m), "id", "features", num = 2,
      labelsRow = Vectors.dense(labels), maxInstances = 40)
      .map(_._1.toInt) shouldBe greedyOracle(labels, m, 2).map(_._1)
  }

  test("MI and chi2 stats caches serve repeated file-backed requests " +
    "with zero Spark jobs") {
    // VERDICT r6 #3's done-criterion, made executable: a repeated
    // relevance computation over an already-profiled parquet-backed
    // matrix must cost no counting jobs at all — for the MI cache and
    // its new chi2 twin alike. Only file-backed plans are cacheable, so
    // the fixture goes through parquet, not a LocalRelation.
    import spark.implicits._
    val (labels, m) = randomMatrix(seed = 21, rows = 60, cols = 4)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stats_cache").toString
    try {
      m.zip(labels).toSeq
        .map { case (row, l) => (l.toInt, row.toSeq) }
        .toDF("label", "f")
        .write.mode("overwrite").parquet(s"$tmp/matrix.parquet")
      val df = spark.read.parquet(s"$tmp/matrix.parquet")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      // Listener events post asynchronously; poll until the count stops
      // moving so "zero new jobs" is a settled observation, not a race.
      def settled(): Int = {
        var prev = -1; var cur = jobs.get()
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
        cur
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val pairs = Seq((0, -1), (1, -1), (2, 3))
        val mi1 = IterativeFeatureSelection.pairMIMulti(df, pairs, 100)
        val chi1 = IterativeFeatureSelection.pairChi2Multi(df, pairs, 100)
        val before = settled()
        assert(before > 0, "first computation should have run jobs")
        val mi2 = IterativeFeatureSelection.pairMIMulti(df, pairs, 100)
        val chi2 = IterativeFeatureSelection.pairChi2Multi(df, pairs, 100)
        settled() shouldBe before // repeat = pure cache hits, zero jobs
        mi2 shouldBe mi1
        chi2 shouldBe chi1
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
  }

  test("sparse feature vectors work in both encodings") {
    val (labels, m) = randomMatrix(seed = 13, rows = 80, cols = 5)
    // zero out ~half the cells to make sparsity meaningful
    val rnd = new Random(99)
    val sm = m.map(_.map(v => if (rnd.nextBoolean()) 0.0 else v))
    import spark.implicits._
    val convSparse = sm.zip(labels).toSeq
      .map { case (row, l) => (l.toInt, Vectors.dense(row).toSparse: Vector) }
      .toDF("label", "features")
    val got = IterativeFeatureSelection.selectColumns(
      convSparse, "label", "features", num = 3)
    got.map(_._1) shouldBe greedyOracle(labels, sm, 3).map(_._1)
  }

  test("-0.0 is the zero level in all three encodings") {
    // Columns 0-2 store half of their zeros as -0.0, at rows whose label is
    // non-zero as often as not; a level split on -0.0 inflates exactly
    // those columns' MI.
    val (labels, m) = randomMatrix(seed = 41, rows = 120, cols = 6)
    val signed = m.zipWithIndex.map { case (row, i) =>
      row.zipWithIndex.map { case (v, c) =>
        if (c < 3 && v == 0.0 && i % 2 == 1) -0.0 else v
      }
    }
    val want = greedyOracle(labels, m, 4).map(_._1.toLong)
    val conv = IterativeFeatureSelection.selectColumns(
      conventionalDF(labels, signed), "label", "features", num = 4)
    val vec = IterativeFeatureSelection.selectRows(
      alternateDF(labels, signed), "id", "features", num = 4,
      labelsRow = Vectors.dense(labels))
    val (feat, lab) = blockedDFs(labels, signed, Seq(37, 80))
    val blk = IterativeFeatureSelection.selectRowsBlocked(
      feat, "id", "bid", "values", lab, num = 4)
    conv.map(_._1.toLong) shouldBe want
    vec.map(_._1) shouldBe want
    blk.map(_._1) shouldBe want
  }
}
