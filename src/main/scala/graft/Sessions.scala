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
  * A key already in `new SparkConf()` (where `spark-submit --master` and
  * `--conf` put theirs, as system properties) is left alone: a
  * builder-set conf takes precedence over it, and would silently turn a
  * cluster launch into a local one or override the submitter's shuffle
  * width. The session time zone is the exception: it is always UTC,
  * because `Q.normalizeEventTs` reads naive timestamps in the session
  * zone and the gates' answers must match the DuckDB oracle's. A preset
  * zone other than UTC is logged once at WARN.
  */
object Sessions {

  private val TimeZone = "spark.sql.session.timeZone"
  private val warnedTimeZone = new java.util.concurrent.atomic.AtomicBoolean

  /** The confs a builder gets for `cpus` cores when `preset` holds the
    * keys `new SparkConf()` already carries: the UTC time zone, and each
    * default whose key is not preset.
    */
  def settings(cpus: Int, preset: String => Boolean)
      : Seq[(String, String)] =
    (TimeZone -> "UTC") +: Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false").filterNot { case (k, _) => preset(k) }

  /** The warning for a preset session time zone (`preset`) that the
    * builder overrides with UTC, naming both values; None for UTC or none.
    */
  def timeZoneOverride(preset: Option[String]): Option[String] =
    preset.filter(_ != "UTC").map(tz => s"$TimeZone = $tz from the " +
      "launch conf is overridden with UTC: the gates read naive " +
      "timestamps in the session zone")

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
    val preset = new SparkConf()
    timeZoneOverride(preset.getOption(TimeZone))
      .filter(_ => warnedTimeZone.compareAndSet(false, true))
      .foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
    settings(cpus, preset.contains _)
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
