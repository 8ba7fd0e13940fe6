package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder. Every main and the test base build their
  * session here, so master, shuffle width, time zone, UI and log level
  * cannot drift between entry points.
  *
  * {{{
  * val spark = Sessions.getOrCreate(Sessions.builder(defaultCpus = 4))
  * }}}
  *
  * A `spark.master` already in `new SparkConf()` (the one `spark-submit
  * --master` puts in system properties) is left alone: a builder-set
  * master takes precedence over it and would silently turn a cluster
  * launch into a local one.
  */
object Sessions {

  /** The confs a builder gets for `cpus` cores when `presetMaster` is
    * what `new SparkConf()` already carries.
    */
  def settings(cpus: Int, presetMaster: Option[String])
      : Seq[(String, String)] =
    presetMaster.fold(Seq("spark.master" -> s"local[$cpus]"))(_ => Nil) ++
      Seq(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A builder for [[cpus]]`(defaultCpus)` cores. */
  def builder(defaultCpus: Int): SparkSession.Builder =
    builderFor(cpus(defaultCpus))

  /** A builder for exactly `cpus` cores, whatever `SPARK_GRAFT_CPUS` says
    * (the test session stays `local[4]` on any host).
    */
  def builderFor(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
    settings(cpus, new SparkConf().getOption("spark.master"))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** `b.getOrCreate()` with the log level at WARN. */
  def getOrCreate(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
