package graft.feature

import org.apache.spark.ml.graft.PersistShim
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Params for the alternate-encoding selector stages. Mirrors the
  * reference's surface, defaults and validators
  * (`reference:src/main/scala/ifs/ml/feature/RowSelector.scala:14-39`).
  */
private[feature] trait RowSelectorParams extends Params {
  final val numTopRows = new IntParam(this, "numTopRows",
    "number of rows (features in alternate encoding) to select (> 0)",
    ParamValidators.gt(0))
  setDefault(numTopRows -> 10)
  final def getNumTopRows: Int = $(numTopRows)

  final val idCol = new Param[String](this, "idCol",
    "unique integral feature-id column")
  setDefault(idCol -> "id")
  final def getIdCol: String = $(idCol)

  final val featuresCol = new Param[String](this, "featuresCol",
    "features column name (VectorType; one feature's values across all " +
      "instances)")
  setDefault(featuresCol -> "features")
  final def getFeaturesCol: String = $(featuresCol)

  final val labelVector = new DoubleArrayParam(this, "labelVector",
    "per-instance class labels (the label row of the transposed matrix)")
  setDefault(labelVector -> Array.emptyDoubleArray)
  final def getLabelVector: Array[Double] = $(labelVector)

  final val outputCol = new Param[String](this, "outputCol",
    "boolean selected-flag output column (must not already exist)")
  setDefault(outputCol -> "selected")
  final def getOutputCol: String = $(outputCol)

  final val filtered = new BooleanParam(this, "filtered",
    "if true, transform keeps only the selected rows")
  setDefault(filtered -> false)
  final def getFiltered: Boolean = $(filtered)

  /** Physical layout of the alternate-encoding matrix the Estimator fits
    * over. `vector` is the reference's layout (one VectorType record per
    * feature — record width = instance count, fenced at `maxInstances`);
    * `blocked` is the scale-free layout ((id, block, values) records,
    * labels as data — [[IterativeFeatureSelection.selectRowsBlocked]]);
    * `auto` (default) picks by INPUT SCHEMA (a `blockCol` column present →
    * blocked) and, for vector inputs wider than `maxInstances`, re-tiles
    * them into blocks instead of dying on the fence — so default
    * Estimator usage never hits the vector layout's width error.
    */
  final val encoding = new Param[String](this, "encoding",
    "alternate-encoding layout: auto | vector | blocked",
    ParamValidators.inArray(Array("auto", "vector", "blocked")))
  setDefault(encoding -> "auto")
  final def getEncoding: String = $(encoding)

  final val blockCol = new Param[String](this, "blockCol",
    "block-id column (integral) marking the blocked layout; its presence " +
      "routes `auto` to the blocked path")
  setDefault(blockCol -> "block")
  final def getBlockCol: String = $(blockCol)

  /** In the blocked layout the label row rides IN the data (the driver
    * never holds the instance axis): rows whose id equals `labelRowId`
    * are the label blocks, everything else is a candidate feature.
    */
  final val labelRowId = new LongParam(this, "labelRowId",
    "feature id carrying the label blocks in the blocked layout")
  setDefault(labelRowId -> -1L)
  final def getLabelRowId: Long = $(labelRowId)

  /** The vector layout's width fence (default
    * [[IterativeFeatureSelection.DefaultMaxInstances]]). Under `auto`,
    * vector inputs wider than this are re-tiled to the blocked layout
    * instead of erroring; under explicit `vector` the fence still throws
    * (the caller opted into the wide-record layout knowingly).
    */
  final val maxInstances = new IntParam(this, "maxInstances",
    "instance-count fence of the vector layout (> 0)",
    ParamValidators.gt(0))
  setDefault(maxInstances -> IterativeFeatureSelection.DefaultMaxInstances)
  final def getMaxInstances: Int = $(maxInstances)

  /** True iff `schema` is the blocked layout under the current params:
    * explicit `encoding = blocked`, or `auto` with the block column
    * present (a vector-layout frame has no block axis, so the column's
    * presence is an unambiguous layout marker).
    */
  protected def isBlockedLayout(schema: StructType): Boolean =
    $(encoding) match {
      case "blocked" => true
      case "vector"  => false
      case _         => schema.fieldNames.contains($(blockCol))
    }

  /** Input checks + output schema
    * (`reference:RowSelector.scala:144-153, 210-215`): id integral,
    * outputCol absent; features VectorType (vector layout) or
    * array&lt;double&gt; values + integral block id (blocked layout).
    * Appends a non-nullable Boolean flag either way.
    */
  protected def validateAndTransformSchema(schema: StructType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    if (isBlockedLayout(schema)) {
      require(schema.fieldNames.contains($(blockCol)),
        s"encoding = blocked requires a block column ${$(blockCol)}")
      val bType = schema($(blockCol)).dataType
      require(bType == IntegerType || bType == LongType,
        s"block column ${$(blockCol)} must be IntegerType or LongType, " +
          s"was $bType")
      require(schema($(featuresCol)).dataType == ArrayType(DoubleType) ||
        schema($(featuresCol)).dataType == ArrayType(DoubleType, false),
        s"blocked layout: values column ${$(featuresCol)} must be " +
          s"array<double>, was ${schema($(featuresCol)).dataType}")
    } else {
      require(schema($(featuresCol)).dataType == VectorType,
        s"features column ${$(featuresCol)} must be VectorType, " +
          s"was ${schema($(featuresCol)).dataType}")
    }
    val idType = schema($(idCol)).dataType
    require(idType == IntegerType || idType == LongType,
      s"id column ${$(idCol)} must be IntegerType or LongType, was $idType")
    require(!schema.fieldNames.contains($(outputCol)),
      s"output column ${$(outputCol)} already exists")
    StructType(schema.fields :+
      StructField($(outputCol), BooleanType, nullable = false))
  }
}

/** Greedy mRMR selection over the alternate encoding (features = rows,
  * instances = columns), as an ML pipeline Estimator. Per-instance class
  * labels are passed as the `labelVector` Param, not as data — same contract
  * as the reference (`reference:RowSelector.scala:23-24, 49-67`) — EXCEPT
  * in the blocked layout, where labels ride in the data as the
  * `labelRowId` pseudo-feature (the whole point of that layout is that
  * the driver never holds the instance axis).
  *
  * Selected ids are kept as Long end-to-end, fixing the reference's Int
  * truncation of `monotonically_increasing_id` values (SURVEY.md §2.4 Q6).
  *
  * '''Scale routing''' (the part the reference's Estimator lacks): under
  * the default `encoding = auto`, a blocked input schema routes to
  * [[IterativeFeatureSelection.selectRowsBlocked]], and a VECTOR input
  * wider than `maxInstances` is re-tiled into (id, block, values) records
  * on the fly — one streaming pass per record, no O(instances) state
  * anywhere downstream — so the public Estimator surface computes the
  * identical selection at widths where the vector layout's fence used to
  * throw. The fence error remains reachable only via explicit
  * `encoding = vector`.
  */
class RowSelector(override val uid: String)
  extends Estimator[RowSelectorModel] with RowSelectorParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("rowSelector"))

  def setNumTopRows(value: Int): this.type = set(numTopRows, value)
  def setIdCol(value: String): this.type = set(idCol, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setLabelVector(value: Array[Double]): this.type =
    set(labelVector, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setFiltered(value: Boolean): this.type = set(filtered, value)
  def setEncoding(value: String): this.type = set(encoding, value)
  def setBlockCol(value: String): this.type = set(blockCol, value)
  def setLabelRowId(value: Long): this.type = set(labelRowId, value)
  def setMaxInstances(value: Int): this.type = set(maxInstances, value)

  override def fit(dataset: Dataset[_]): RowSelectorModel = {
    transformSchema(dataset.schema)
    val selected: Seq[(Long, Double)] =
      if (isBlockedLayout(dataset.schema)) {
        val df = dataset.toDF()
        // No label row is selectRowsBlocked's empty-tiling error.
        val labels = df.filter(col($(idCol)) === $(labelRowId))
          .select(col($(blockCol)), col($(featuresCol)))
        IterativeFeatureSelection.selectRowsBlocked(
          df.filter(col($(idCol)) =!= $(labelRowId)),
          $(idCol), $(blockCol), $(featuresCol), labels, $(numTopRows))
      } else {
        require($(labelVector).nonEmpty,
          "labelVector must be set and non-empty")
        if ($(encoding) == "auto" && $(labelVector).length > $(maxInstances))
          fitRetiled(dataset.toDF())
        else IterativeFeatureSelection.selectRows(
          dataset.toDF(), $(idCol), $(featuresCol), $(numTopRows),
          Vectors.dense($(labelVector)), maxInstances = $(maxInstances))
      }
    copyValues(new RowSelectorModel(uid, selected.map(_._1).toArray)
      .setParent(this))
  }

  /** The `auto` route past the vector fence: re-tile each feature's
    * vector into [[RowSelector.RetileBlockWidth]]-wide blocks (position
    * tiling — block b = instances [b·B, (b+1)·B), identical for features
    * and label, which is all the blocked contract requires) and run the
    * scale-free selection. The wide input record is still read once per
    * feature (it already exists — the caller handed us this layout), but
    * it is SLICED streaming-wise and nothing downstream — contingency
    * maps, joins, driver state — ever holds more than one block.
    */
  private def fitRetiled(df: DataFrame): Seq[(Long, Double)] = {
    val s = df.sparkSession
    import org.apache.spark.ml.functions.vector_to_array
    import s.implicits._
    val b = RowSelector.RetileBlockWidth
    val lv = $(labelVector)
    val labelBlocks = s.sparkContext.parallelize(
        (0 until (lv.length + b - 1) / b).map(i =>
          (i.toLong, lv.slice(i * b, math.min((i + 1) * b, lv.length)))))
      .toDF("bid", "values")
    val blocks = df
      .select(col($(idCol)).cast(LongType).as("_1"),
        vector_to_array(col($(featuresCol)), "float64").as("_2"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, xs) =>
        xs.grouped(b).zipWithIndex.map { case (c, i) => (id, i.toLong, c) }
      }
      .toDF("id", "bid", "values")
    IterativeFeatureSelection.selectRowsBlocked(
      blocks, "id", "bid", "values", labelBlocks, $(numTopRows))
  }

  override def transformSchema(schema: StructType): StructType = {
    validateAndTransformSchema(schema)
  }

  override def copy(extra: ParamMap): RowSelector = defaultCopy(extra)
}

object RowSelector extends DefaultParamsReadable[RowSelector] {
  /** Tile width of the `auto` re-tiling route (instances per block):
    * 64Ki doubles = 512 KiB per record — big enough to amortize
    * per-record overhead in the contingency pass, small enough that a
    * thousand features × one block fit comfortably in an executor.
    */
  val RetileBlockWidth: Int = 1 << 16
}

/** Model produced by [[RowSelector]]: flags each row whose id is in the
  * selected set (`outputCol = id IN (selected)`); with `filtered = true`,
  * keeps only the flagged rows. Pure DataFrame ops, same as
  * `reference:RowSelector.scala:198-205`.
  *
  * FULL persistence (params metadata + `selectedRows` data), restorable
  * via the companion's `load` — see [[FeatureSelectorModel]] for why this
  * deliberately exceeds the reference's params-only save.
  */
class RowSelectorModel private[feature](override val uid: String,
                                        val selectedRows: Array[Long])
  extends Model[RowSelectorModel] with RowSelectorParams
    with MLWritable {

  def setIdCol(value: String): this.type = set(idCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setFiltered(value: Boolean): this.type = set(filtered, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    val flagged = dataset.withColumn($(outputCol),
      col($(idCol)).isin(selectedRows.toIndexedSeq: _*))
    if ($(filtered)) flagged.filter(col($(outputCol))) else flagged
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains($(outputCol)),
      s"output column ${$(outputCol)} already exists")
    StructType(schema.fields :+
      StructField($(outputCol), BooleanType, nullable = false))
  }

  override def copy(extra: ParamMap): RowSelectorModel =
    copyValues(new RowSelectorModel(uid, selectedRows), extra)
      .setParent(parent)

  override def write: MLWriter =
    new RowSelectorModel.RowSelectorModelWriter(this)
}

object RowSelectorModel extends MLReadable[RowSelectorModel] {

  private[feature] class RowSelectorModelWriter(instance: RowSelectorModel)
    extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      PersistShim.saveMetadata(instance, path, sparkSession)
      val spark = sparkSession
      import spark.implicits._
      Seq(Tuple1(instance.selectedRows.toSeq))
        .toDF("selectedRows")
        .repartition(1)
        .write.parquet(new org.apache.hadoop.fs.Path(path, "data").toString)
    }
  }

  private class RowSelectorModelReader extends MLReader[RowSelectorModel] {
    override def load(path: String): RowSelectorModel = {
      val dataPath = new org.apache.hadoop.fs.Path(path, "data").toString
      val selected = sparkSession.read.parquet(dataPath)
        .select("selectedRows").head()
        .getAs[scala.collection.Seq[Long]](0).toArray
      PersistShim.loadWithMetadata(path, sparkSession,
        classOf[RowSelectorModel].getName,
        uid => new RowSelectorModel(uid, selected))
    }
  }

  override def read: MLReader[RowSelectorModel] = new RowSelectorModelReader

  override def load(path: String): RowSelectorModel = super.load(path)
}
