package graft.examples

import graft.Sessions
import graft.feature.{FeatureSelector, RowSelector}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end self-checking example, the analogue of the reference's
  * `CommandLine` select path (`reference:src/main/scala/ifs/examples/
  * CommandLine.scala:47-172`): runs greedy mRMR selection over the SAME
  * matrix in both physical encodings and reports whether the two selections
  * agree — the reference's own correctness invariant.
  *
  * Usage: runMain graft.examples.SelectExample [sfDir] [numFeatures]
  */
object SelectExample {

  /** Discretized categorical feature matrix over lineitem (values are factor
    * levels; exact-equality semantics).
    */
  def discretizedLineitem(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      expr("CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END")
        .cast("int").as("label"),
      col("l_quantity").cast("int").as("c0"),
      expr("CAST(ROUND(l_discount * 100) AS INT)").as("c1"),
      expr("CAST(ROUND(l_tax * 100) AS INT)").as("c2"),
      col("l_linenumber").cast("int").as("c3"),
      month(col("l_shipdate")).as("c4"),
      expr("CASE l_linestatus WHEN 'F' THEN 0 ELSE 1 END").cast("int")
        .as("c5"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val k = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Sessions.getOrCreate(Sessions.builder(4))

    val df = discretizedLineitem(spark, sfDir).cache()
    val featureCols = Array("c0", "c1", "c2", "c3", "c4", "c5")

    // --- conventional encoding: instances = rows, features = columns -----
    val assembled = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features").transform(df)
    var t0 = System.nanoTime()
    val fsModel = new FeatureSelector()
      .setNumTopFeatures(k)
      .setLabelCol("label").setFeaturesCol("features")
      .setOutputCol("selected")
      .fit(assembled)
    val convMs = (System.nanoTime() - t0) / 1e6
    val convSel = fsModel.selectedFeatures.toSeq
    val sliced = fsModel.transform(assembled)

    // --- alternate encoding: features = rows, instances = columns --------
    // Build the transposed matrix: one record per feature with its value
    // vector across all instances, plus the label row.
    val collected = df.collect()
    val labels = collected.map(_.getInt(0).toDouble)
    import spark.implicits._
    val altDf = featureCols.zipWithIndex.map { case (c, i) =>
      (i.toLong, Vectors.dense(collected.map(_.getInt(i + 1).toDouble))
        : Vector)
    }.toSeq.toDF("id", "features")
    t0 = System.nanoTime()
    val rsModel = new RowSelector()
      .setNumTopRows(k).setIdCol("id").setFeaturesCol("features")
      .setLabelVector(labels).setOutputCol("picked")
      .fit(altDf)
    val altMs = (System.nanoTime() - t0) / 1e6
    val altSel = rsModel.selectedRows.toSeq
    val flagged = rsModel.setFiltered(true).transform(altDf)

    println(s"conventional selection (order): ${convSel.mkString(", ")}" +
      f"  [$convMs%.0f ms]")
    println(s"alternate    selection (order): ${altSel.mkString(", ")}" +
      f"  [$altMs%.0f ms]")
    println(s"transform: sliced vector size = " +
      s"${sliced.select("selected").head().getAs[Vector](0).size}, " +
      s"filtered alt rows = ${flagged.count()}")
    val same = convSel.map(_.toLong) == altSel
    println(if (same) "SELECTED FEATURES ARE IDENTICAL"
    else "SELECTED FEATURES DIFFER")
    spark.stop()
    if (!same) sys.exit(1)
  }
}
