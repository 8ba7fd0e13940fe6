package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared helpers for the query registry.
  *
  * Every query here is paired with an ANSI-SQL oracle run by the driver in
  * DuckDB against the same parquet tables, and the comparison is an exact
  * hash match on values. Two rules make that robust:
  *
  *   1. Sums of doubles go through exact decimal arithmetic
  *      (`sum(cast(x as decimal(18,s)))`) and only the final total is cast
  *      back to double. Decimal addition is associative, so the result is
  *      independent of partitioning / evaluation order — the same value to
  *      the bit in Spark and DuckDB. A plain double `sum()` differs between
  *      engines by ~1e-3 absolute at 60k rows, which no amount of rounding
  *      can reliably hide.
  *   2. Everything else double-valued (MI scores, averages, similarities)
  *      is rounded to a fixed number of decimals on BOTH sides; cross-engine
  *      deltas there are ~1e-12 relative, far below the rounding grain.
  *
  * At 100 TB the same queries run unchanged: decimal sums are
  * codegen-friendly, partial-aggregated map-side, and shuffle only
  * (group-keys × 1) rows.
  */
object Q {
  /** Load one of the driver's parquet tables. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Normalize the `events.ts` column to a session-zoned TIMESTAMP at
    * microsecond precision, dispatching on the LOGICAL type the scan
    * produced rather than assuming one physical encoding. Data producers
    * rewrite files; an engine that hard-codes "ts is nanos-INT64" breaks
    * the day the upstream writer switches to `timestamp[us]` (exactly what
    * happened between rounds 4 and 5). Handled encodings:
    *
    *   - integral: nanos-since-epoch (parquet nanos read under the
    *     `nanosAsLong` legacy conf) → truncate to micros. Same value
    *     DuckDB's `CAST(ts AS TIMESTAMP)` produces from nanos.
    *   - TIMESTAMP_NTZ (parquet `timestamp[us]`, isAdjustedToUTC=false) →
    *     reinterpret the wall clock in the session zone (UTC everywhere in
    *     this repo), matching DuckDB's naive-timestamp `epoch_us`.
    *   - TIMESTAMP: already what we want.
    *
    * Anything else fails loudly here, at the one choke point, instead of as
    * N analysis errors scattered across the query registry.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType | IntegerType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other; " +
          "extend Q.normalizeEventTs for this encoding")
    }

  /** Load `events` with `ts` normalized per [[normalizeEventTs]]. The
    * legacy nanos conf is set unconditionally — it only affects scans whose
    * parquet type IS nanos, and must be set before analysis for those.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** Streaming scan of `events` with the same `ts` normalization. The
    * FileStreamSource needs an explicit schema, taken from a batch read of
    * the same file (footer-only; no data scan). The table is a single
    * file, and FileStreamSource force-sets basePath := path for NON-glob
    * paths, then fails its "basePath must be a directory" check — so the
    * path must be a glob matching just this file, with basePath pinned to
    * the parent dir. Returns a fresh stream per call (callers doing
    * stream-stream self-joins need two distinct sources).
    */
  /** Per-dir cache of the inferred events schema: every streaming gate
    * needs it for its FileStreamSource, and re-inferring it per gate
    * costs a footer read + analysis pass × 24 gates per bench run. The
    * testdata dirs are read-only (TESTDATA.md), so a per-session memo by
    * dir is safe; keyed by dir so paired multi-scale runs in one JVM
    * never cross-serve.
    */
  private val eventsSchemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  def eventsStream(s: SparkSession, dir: String,
                   options: Map[String, String] = Map.empty): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = eventsSchemaCache.getOrElseUpdate(dir,
      s.read.parquet(s"$dir/events.parquet").schema)
    normalizeEventTs(
      s.readStream.schema(schema)
        .option("basePath", dir)
        .options(options)
        .parquet(s"$dir/events*.parquet"))
  }

  /** The session conf that sets the shuffle width. */
  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Input bytes under `path` (0 when unreadable), memoized per path:
    * the testdata dirs are read-only (TESTDATA.md), and paired
    * multi-scale runs in one JVM key on different paths.
    */
  private val bytesCache = scala.collection.concurrent.TrieMap
    .empty[String, Long]

  def inputBytes(s: SparkSession, path: String): Long =
    bytesCache.getOrElseUpdate(path, {
      val p = new org.apache.hadoop.fs.Path(path)
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    })

  /** The one data-derived width rule: ~`unit` input bytes per partition,
    * never fewer than `floor` nor more than `cap`. A width tuned at one
    * scale and pinned as a constant is the defect class that OOM'd the
    * sf10 pair-domain aggregate, so every width is derived from data.
    */
  def width(bytes: Long, unit: Long, floor: Int, cap: Int): Int =
    math.max(floor.toLong, math.min(cap.toLong, bytes / unit)).toInt

  /** State partitions of a stateful stream over `dir`'s events: a
    * streaming query creates and commits one state store per partition
    * per stateful operator per micro-batch, so for kilobyte-scale state
    * dozens of partitions are pure fixed overhead (measured ~2× on the
    * stream-stream join). 4 MB of events per partition, floor 8 (2/4/8
    * measured flat at sf0.1, so the floor is not a tuning cliff), cap
    * 200: 8 at sf0.01 and sf0.1, 28 at sf10. Each gate run starts a
    * fresh checkpoint, so the count is free to differ per scale.
    */
  def stateWidth(s: SparkSession, dir: String): Int =
    width(inputBytes(s, s"$dir/events.parquet"), 4L << 20, 8, 200)

  /** Reduce width of a wide exchange over the input at `path` (guide
    * §2.5): a width inherited from the session is whatever the caller
    * tuned for ITS scale, and a reduce whose per-task state grows with
    * the data OOMs at 100× under a narrow setting. 8 MB of input per
    * partition, floor = cluster width, cap 2000.
    */
  def exchangeWidth(s: SparkSession, path: String): Int =
    width(inputBytes(s, path), 8L << 20,
      s.sparkContext.defaultParallelism, 2000)

  /** Order-independent exact sum of a double column, returned as double. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Oracle-side spelling of [[dsum]]. */
  def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** [[dsum]] for a column ALREADY rounded to ≤ `scale` decimals (e.g.
    * `round(log(...), 9)`), computed through scaled longs instead of a
    * per-row DecimalType cast: each value is an exact multiple of
    * 10^-scale, so round(c·10^scale) recovers its integer numerator
    * exactly (|c|·10^scale must stay ≪ 2^53 — true for logprob-sized
    * values at scale ≤ 9), longs sum on DECIMAL(38,0)'s compact path
    * (no BigDecimal until a partial sum exceeds 2^63), and the final
    * exact integer converts to double once before one division by the
    * exactly-representable 10^scale. Bit-identical to [[dsum]] whenever
    * the GROUP's integer sum stays under 2^53 (a per-document group is
    * bounded by document length, so this holds at any corpus scale) —
    * which is why gates may swap this in WITHOUT touching their oracle.
    * For group sums that grow with the corpus, keep [[dsum]] or move
    * the oracle to the same scaled spelling.
    */
  def dsumPre(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale)
    sum(round(c * f, 0).cast("long").cast(DecimalType(38, 0)))
      .cast(DoubleType) / f
  }
}
