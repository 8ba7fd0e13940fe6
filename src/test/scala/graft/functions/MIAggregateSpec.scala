package graft.functions

import graft.SparkTestBase
import graft.stats.MutualInformation
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class MIAggregateSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  behavior of "MIAggregate.mi"

  it should "match the pure vector MI on a null-free pair" in {
    val s = spark
    import s.implicits._
    val xs = Seq(0.0, 0.0, 1.0, 1.0, 2.0, 2.0)
    val ys = Seq(0.0, 0.0, 1.0, 1.0, 0.0, 1.0)
    val agg = xs.zip(ys).toDF("x", "y")
      .agg(MIAggregate.mi($"x", $"y").as("mi"))
      .head().getDouble(0)
    val expected = MutualInformation.fromPairCounts(
      xs.zip(ys).groupBy(identity).map { case ((x, y), g) =>
        (x, y, g.size.toLong)
      }.toSeq)
    agg shouldBe expected +- 1e-12
  }

  it should "skip rows where either side is null" in {
    val s = spark
    import s.implicits._
    val clean = Seq((0.0, 0.0), (0.0, 0.0), (1.0, 1.0), (1.0, 0.0))
    val withNulls: Seq[(java.lang.Double, java.lang.Double)] =
      clean.map { case (x, y) =>
        (java.lang.Double.valueOf(x), java.lang.Double.valueOf(y))
      } ++ Seq((null: java.lang.Double, java.lang.Double.valueOf(9.0)),
        (java.lang.Double.valueOf(9.0), null: java.lang.Double),
        (null: java.lang.Double, null: java.lang.Double))
    val expected = clean.toDF("x", "y")
      .agg(MIAggregate.mi($"x", $"y")).head().getDouble(0)
    val actual = withNulls.toDF("x", "y")
      .agg(MIAggregate.mi($"x", $"y")).head().getDouble(0)
    actual shouldBe expected +- 1e-12
  }

  it should "compute per-group MI under groupBy" in {
    val s = spark
    import s.implicits._
    // group a: x == y (MI = entropy > 0); group b: x independent of y
    val rows =
      Seq(("a", 0.0, 0.0), ("a", 1.0, 1.0), ("a", 0.0, 0.0), ("a", 1.0, 1.0),
        ("b", 0.0, 0.0), ("b", 0.0, 1.0), ("b", 1.0, 0.0), ("b", 1.0, 1.0))
    val out = rows.toDF("g", "x", "y")
      .groupBy($"g").agg(MIAggregate.mi($"x", $"y").as("mi"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    out("a") shouldBe math.log(2.0) +- 1e-12
    out("b") shouldBe 0.0 +- 1e-12
  }

  it should "match the pure MI when grown buffers merge across partitions" in {
    val s = spark
    import s.implicits._
    // 6 × 5 = 30 distinct cells, past the buffer's first growth, in every
    // one of 4 partial buffers that the final merge then folds together
    val rnd = new scala.util.Random(11)
    val xy = (0 until 600).map { i =>
      val x = (i % 6).toDouble
      (x, if (rnd.nextInt(3) == 0) (i % 5).toDouble else x % 5)
    }
    val agg = xy.toDF("x", "y").repartition(4)
      .agg(MIAggregate.mi($"x", $"y")).head().getDouble(0)
    val expected = MutualInformation.fromPairCounts(
      xy.groupBy(identity).map { case ((x, y), g) =>
        (x, y, g.size.toLong)
      }.toSeq)
    xy.distinct.size shouldBe 30
    agg shouldBe expected +- 1e-12
  }

  it should "treat every NaN as one level and ±0.0 as one level" in {
    val s = spark
    import s.implicits._
    // NaN next to 0.0 / -0.0 / 1.0 in x; -0.0 and 0.0 in y. The same data
    // with NaN relabelled to an unused level (7.0) and -0.0 to 0.0 is the
    // expected grouping.
    val x = Seq(Double.NaN, Double.NaN, 1.0, 1.0, Double.NaN, 1.0, 0.0, -0.0,
      -0.0, Double.NaN, 0.0, 1.0)
    val y = Seq(0.0, 1.0, -0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 0.0, -0.0, 1.0, 0.0)
    def relabel(v: Double): Double = if (v.isNaN) 7.0 else v + 0.0
    val got = x.zip(y).toDF("x", "y").repartition(3)
      .agg(MIAggregate.mi($"x", $"y")).head().getDouble(0)
    val want = x.map(relabel).zip(y.map(relabel)).toDF("x", "y")
      .agg(MIAggregate.mi($"x", $"y")).head().getDouble(0)
    got shouldBe want +- 1e-12
    MutualInformation.fromPairCounts(x.zip(y).map { case (a, b) =>
      (a, b, 1L) }) shouldBe want +- 1e-12
    // the probe from the NaN-split bug: 0.0566 nats as one level, the
    // split spelling gave 0.3749
    val px = Seq(Double.NaN, Double.NaN, 1.0, 1.0, Double.NaN, 1.0)
    val py = Seq(0.0, 1.0, 0.0, 1.0, 0.0, 1.0)
    val probe = px.zip(py).toDF("x", "y")
      .agg(MIAggregate.mi($"x", $"y")).head().getDouble(0)
    probe shouldBe MutualInformation.fromVectors(
      org.apache.spark.ml.linalg.Vectors.dense(px.toArray),
      org.apache.spark.ml.linalg.Vectors.dense(py.toArray)) +- 1e-12
    probe shouldBe 0.0566 +- 1e-4
  }
}
