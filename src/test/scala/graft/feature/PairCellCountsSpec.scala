package graft.feature

import graft.SparkTestBase
import graft.stats.CellTable
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Differential lock on the coded contingency counter: on randomized
  * matrices — including NULLs, NaN, ±0.0 and heavy ties — the cell
  * counts must equal the Catalyst spelling it replaced
  * (`crossJoin(pairs) → groupBy().count()`), cell for cell. This is the
  * equivalence the whole ifs_* family rests on. The counter emits
  * per-pair table chunks; [[cellsOf]] re-sums them per (pair, level,
  * level) with Spark's grouping of ±0.0, the merge the executor-side fold
  * performs.
  */
class PairCellCountsSpec extends AnyFlatSpec with Matchers
    with SparkTestBase {

  private def oldSpelling(src: org.apache.spark.sql.DataFrame,
                          pairs: Seq[(Int, Int)]) = {
    val s = src.sparkSession
    import s.implicits._
    val pairsDf = pairs.toDF("cand", "other")
    src.crossJoin(broadcast(pairsDf))
      .select(col("cand"), col("other"),
        try_element_at(col("f"), col("cand") + 1).as("cv"),
        when(col("other") < 0, col("label"))
          .otherwise(try_element_at(col("f"), col("other") + 1)).as("ov"))
      .groupBy("cand", "other", "cv", "ov")
      .agg(count(lit(1)).as("c"))
  }

  /** The counter's chunks as (cand, other, cv, ov, c) rows. */
  private def cellsOf(chunks: org.apache.spark.rdd.RDD[(Long, Array[Long])],
                      pairs: Seq[(Int, Int)]) = {
    val negZero = java.lang.Double.doubleToLongBits(-0.0)
    def level(bits: Long): java.lang.Double =
      if (bits == CellTable.NullBits) null
      else java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(bits))
    val sums = scala.collection.mutable.Map.empty[(Int, Int, Long, Long), Long]
    chunks.collect().foreach { case (p, t) =>
      val (cand, other) = pairs(p.toInt)
      CellTable.foreach(t) { (_, x, y, c) =>
        val k = (cand, other, if (x == negZero) 0L else x,
          if (y == negZero) 0L else y)
        sums(k) = sums.getOrElse(k, 0L) + c
      }
    }
    val rows = sums.toSeq.map { case ((cand, other, x, y), c) =>
      org.apache.spark.sql.Row(cand, other, level(x), level(y), c)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
      org.apache.spark.sql.types.StructType.fromDDL(
        "cand INT, other INT, cv DOUBLE, ov DOUBLE, c BIGINT"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map { r =>
      def d(i: Int): String =
        if (r.isNullAt(i)) "null"
        else {
          val v = r.getDouble(i)
          // ±0.0 merge and NaN canonicalization, as Spark's grouping does
          if (v == 0.0) "0.0"
          else if (v.isNaN) "NaN"
          else v.toString
        }
      s"${r.getInt(0)}|${r.getInt(1)}|${d(2)}|${d(3)}|${r.getLong(4)}"
    }.toSet

  it should "match the Catalyst spelling on randomized matrices" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val nF = 2 + rnd.nextInt(3)
      val rows = (0 until 2000).map { _ =>
        def v(): java.lang.Double = rnd.nextInt(6) match {
          case 0 => null
          case 1 => Double.NaN
          case 2 => if (rnd.nextBoolean()) 0.0 else -0.0
          case _ => rnd.nextInt(4).toDouble
        }
        (rnd.nextInt(3).toDouble, Seq.fill(nF)(v()).map(
          x => if (x == null) null.asInstanceOf[java.lang.Double] else x))
      }
      val src = rows.toDF("label", "f")
        .select(col("label"), col("f").cast("array<double>"))
        .repartition(5)
      val pairs = (0 until nF).map(i => (i, -1)) ++
        (for (i <- 0 until nF; j <- 0 until i) yield (i, j))
      val got = canon(cellsOf(
        IterativeFeatureSelection.pairCellCounts(
          IterativeFeatureSelection.codeMatrix(src), pairs,
          IterativeFeatureSelection.DefaultMaxCategories), pairs))
      val want = canon(oldSpelling(src, pairs))
      withClue(s"trial $trial (nF=$nF): ") { got shouldBe want }
    }
  }
}
