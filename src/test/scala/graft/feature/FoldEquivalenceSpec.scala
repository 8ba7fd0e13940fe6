package graft.feature

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Differential lock on the executor-side fold: on randomized matrices —
  * NULLs, NaN, ±0.0, short arrays and heavy ties — `pairMIMulti` and
  * `pairChi2Multi` must equal the Catalyst spelling the fold replaced
  * (`crossJoin(pairs) → groupBy().count()` cells, window marginals
  * n / cx / cy, one `groupBy().agg` per pair): MI and chi² to 1e-12, the
  * level counts and n exactly.
  */
class FoldEquivalenceSpec extends AnyFlatSpec with Matchers
    with SparkTestBase {

  /** (mi, chi2, lx, ly, n) per pair, planned by Catalyst alone. */
  private def windowSpelling(src: DataFrame, pairs: Seq[(Int, Int)])
  : Map[(Int, Int), (Double, Double, Long, Long, Long)] = {
    val s = src.sparkSession
    import s.implicits._
    val counts = src.crossJoin(broadcast(pairs.toDF("cand", "other")))
      .select(col("cand"), col("other"),
        try_element_at(col("f"), col("cand") + 1).as("cv"),
        when(col("other") < 0, col("label"))
          .otherwise(try_element_at(col("f"), col("other") + 1)).as("ov"))
      .groupBy("cand", "other", "cv", "ov")
      .agg(count(lit(1)).as("c"))
    val n = sum("c").over(Window.partitionBy("cand", "other"))
    val cx = sum("c").over(Window.partitionBy("cand", "other", "cv"))
    val cy = sum("c").over(Window.partitionBy("cand", "other", "ov"))
    counts
      .select(col("cand"), col("other"), col("cv"), col("ov"), col("c"),
        n.as("n"), cx.as("cx"), cy.as("cy"))
      .groupBy("cand", "other")
      .agg(
        sum((col("c") / col("n")) * log((col("c") / col("n")) /
          ((col("cx") / col("n")) * (col("cy") / col("n"))))).as("mi"),
        (max(col("n")) * sum(col("c").cast("double") *
          col("c").cast("double") /
          (col("cx").cast("double") * col("cy").cast("double")))
          - max(col("n"))).as("chi2"),
        count_distinct(col("cv")).as("lx"),
        count_distinct(col("ov")).as("ly"),
        max(col("n")).cast("long").as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5),
          r.getLong(6))))
      .toMap
  }

  private def value(rnd: scala.util.Random): java.lang.Double =
    rnd.nextInt(7) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => if (rnd.nextBoolean()) 0.0 else -0.0
      case _ => rnd.nextInt(4).toDouble
    }

  it should "match the Catalyst window spelling on randomized matrices" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val nF = 3 + rnd.nextInt(3)
      val rows = (0 until 1500).map { _ =>
        // one row in 40 is short: its missing positions read as NULL
        val width = if (rnd.nextInt(40) == 0) rnd.nextInt(nF) else nF
        (if (rnd.nextInt(25) == 0) null else value(rnd),
          Seq.fill(width)(value(rnd)))
      }
      val src = rows.toDF("label", "f")
        .select(col("label"), col("f").cast("array<double>"))
        .repartition(5)
      val pairs = (0 until nF).map(i => (i, -1)) ++
        (for (i <- 0 until nF; j <- 0 until i) yield (i, j))
      val want = windowSpelling(src, pairs)
      val mi = IterativeFeatureSelection.pairMIMulti(src, pairs, 100)
      val chi2 = IterativeFeatureSelection.pairChi2Multi(src, pairs, 100)
      withClue(s"trial $trial (nF=$nF): ") {
        mi.keySet shouldBe want.keySet
        chi2.keySet shouldBe want.keySet
        want.foreach { case (p, (wMi, wChi2, wLx, wLy, wN)) =>
          withClue(s"pair $p: ") {
            mi(p) shouldBe wMi +- 1e-12
            val (gChi2, gLx, gLy, gN) = chi2(p)
            gChi2 shouldBe wChi2 +- 1e-12 * math.max(1.0, wChi2)
            (gLx, gLy, gN) shouldBe ((wLx, wLy, wN))
          }
        }
      }
    }
  }

  it should "count maxCategories over non-null levels, ±0.0 as one" in {
    val s = spark
    import s.implicits._
    // column 0: 0.0, -0.0, 1, 2, NaN = four non-null levels, plus NULLs;
    // column 1: the same plus one more level
    val levels: Seq[java.lang.Double] = Seq(0.0, -0.0, 1.0, 2.0, Double.NaN)
    val rows = (0 until 60).map { i =>
      val v: java.lang.Double =
        if (i % 7 == 0) null else levels(i % levels.size)
      val w: java.lang.Double = if (i % 11 == 0) 3.0 else v
      ((i % 2).toDouble, Seq(v, w))
    }
    val src = rows.toDF("label", "f")
      .select(col("label"), col("f").cast("array<double>"))
    val ok = IterativeFeatureSelection.pairChi2Multi(src, Seq((0, -1)), 4)
    ok((0, -1))._2 shouldBe 4L
    val ex = intercept[Exception] {
      IterativeFeatureSelection.pairChi2Multi(src, Seq((1, -1)), 4)
    }
    ex shouldBe an[IllegalArgumentException]
    ex.getMessage should include(
      "column 1 has 5 distinct values, more than maxCategories = 4")
  }
}
