package perfbench

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The seeded categorical matrix both IFS workloads select from, its two
  * layouts, and a plain-Scala greedy mRMR that checks the engine's answer.
  *
  * Values are levels 0..levels-1 drawn per (instance, feature) from a
  * counter-based hash of the seed, so any partition can regenerate its own
  * rows without a driver-side copy. The label is a function of three
  * seed-chosen features, which makes those three the clear first picks and
  * leaves the later rounds to the redundancy term.
  */
final case class Matrix(seed: Long, instances: Int, features: Int,
                        levels: Int) {

  val informative: Seq[Int] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until features).toList).take(3)
  }

  def value(i: Int, f: Int): Int = {
    var h = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L +
      f.toLong * 0x94D049BB133111EBL
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= h >>> 31
    java.lang.Math.floorMod(h, levels.toLong).toInt
  }

  def label(i: Int): Int = {
    val Seq(a, b, c) = informative
    (value(i, a) + 2 * value(i, b) + (value(i, c) / 2)) % 5
  }

  private def parts(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Conventional layout: one row per instance, (label: int,
    * features: vector). Generated by an RDD, so the plan has no file scan
    * and the engine's plan-keyed stats caches cannot serve a repeat fit.
    */
  def conventional(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val m = this
    val n = parts(spark)
    spark.sparkContext.parallelize(0 until n, n).flatMap { p =>
      (p until m.instances by n).iterator.map { i =>
        (m.label(i), Vectors.dense(
          Array.tabulate(m.features)(f => m.value(i, f).toDouble)))
      }
    }.toDF("label", "features")
  }

  /** Alternate layout, vector form: one (id, features) record per feature,
    * holding that feature's value for every instance.
    */
  def alternateVector(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val m = this
    spark.sparkContext.parallelize(0 until features, parts(spark)).map { f =>
      (f.toLong, Vectors.dense(
        Array.tabulate(m.instances)(i => m.value(i, f).toDouble)))
    }.toDF("id", "features")
  }

  def labelVector: Array[Double] =
    Array.tabulate(instances)(i => label(i).toDouble)

  /** Alternate layout, blocked form: (id, block, values) records of
    * `width` instances each; the label rides as feature id -1.
    */
  def alternateBlocked(spark: SparkSession, width: Int): DataFrame = {
    import spark.implicits._
    val m = this
    val blocks = (instances + width - 1) / width
    spark.sparkContext
      .parallelize(for (f <- -1 until features; b <- 0 until blocks)
        yield (f, b), parts(spark))
      .map { case (f, b) =>
        val lo = b * width
        val hi = math.min(lo + width, m.instances)
        (f.toLong, b.toLong, Array.tabulate(hi - lo) { j =>
          (if (f < 0) m.label(lo + j) else m.value(lo + j, f)).toDouble
        })
      }.toDF("id", "block", "values")
  }

  /** Greedy mRMR over the same matrix on the driver: relevance MI(f; label),
    * each round scores rel − mean(MI(f; s) over selected s), in nats, ties
    * to the lowest index. Shares no code with the engine.
    */
  def referenceMrmr(k: Int): Seq[Long] = {
    val cols = Array.tabulate(features)(f =>
      Array.tabulate(instances)(i => value(i, f).toByte))
    val lab = Array.tabulate(instances)(i => label(i).toByte)
    def mi(x: Array[Byte], lx: Int, y: Array[Byte], ly: Int): Double = {
      val c = new Array[Long](lx * ly)
      var i = 0
      while (i < instances) { c(x(i) * ly + y(i)) += 1; i += 1 }
      val px = new Array[Long](lx); val py = new Array[Long](ly)
      for (a <- 0 until lx; b <- 0 until ly) {
        px(a) += c(a * ly + b); py(b) += c(a * ly + b)
      }
      val n = instances.toDouble
      var s = 0.0
      for (a <- 0 until lx; b <- 0 until ly if c(a * ly + b) > 0) {
        val pxy = c(a * ly + b) / n
        s += pxy * math.log(pxy / ((px(a) / n) * (py(b) / n)))
      }
      s
    }
    val rel = cols.map(mi(_, levels, lab, 5))
    val red = new Array[Double](features)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (chosen.size < math.min(k, features)) {
      var best = -1; var bestScore = Double.NegativeInfinity
      for (f <- 0 until features if !chosen.contains(f)) {
        val s = if (chosen.isEmpty) rel(f) else rel(f) - red(f) / chosen.size
        if (s > bestScore) { best = f; bestScore = s }
      }
      chosen += best
      for (f <- 0 until features if !chosen.contains(f))
        red(f) += mi(cols(f), levels, cols(best), levels)
    }
    chosen.map(_.toLong).toSeq
  }
}

object Matrix {
  /** Materialize `df` in memory once, so a timed fit measures the fit and
    * not the generator.
    */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }
}
