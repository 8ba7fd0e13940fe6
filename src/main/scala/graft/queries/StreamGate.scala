package graft.queries

import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** The one runner that starts a gate's stream.
  *
  * The core, [[start]], takes the streaming Dataset and a function that
  * finishes its writer. It sets the stream's confs on the shared session
  * — `spark.sql.shuffle.partitions` = [[Q.stateWidth]] of the gate's data,
  * plus the state-store provider of its [[StreamGate.Store]] — lets the
  * function call `start()`, and restores the previous values, all under
  * one JVM-wide lock. Restoring right after `start()` is safe: `StreamExecution`'s
  * constructor clones the session (`cloneSession()`), and every micro-batch
  * plans against that clone, so the running query keeps the width and
  * provider it started with. The confs are therefore visible to the
  * shared session only for the length of `start()`, and concurrent
  * streaming gates (Verify runs them in waves on one session) can no
  * longer restore each other's confs mid-run. The lock is never held
  * across `awaitTermination`, or those gates would run one at a time.
  *
  * Three shapes sit on the core; each gate keeps the sink its output
  * size calls for:
  *   - [[memory]]: a memory sink drained by `Trigger.AvailableNow`. Every
  *     complete-mode gate uses it, because the file sinks are append-only;
  *     its rows live on the driver heap, so it suits outputs bounded by
  *     users, types or windows.
  *   - [[drained]]: a memory sink drained to an exact row count, for the
  *     processing-time transformWithState gates that never terminate
  *     under AvailableNow.
  *   - [[parquet]]: a parquet sink plus its checkpoint in one temp dir,
  *     for corpus-sized emissions and for reading the state store back;
  *     the result is materialized before the dir is deleted.
  */
object StreamGate {

  private val ProviderClass = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The state store a stream runs on, as the session confs that pick it. */
  sealed abstract class Store(val confs: Seq[(String, String)])

  object Store {
    /** Spark's default HDFS-backed provider: state on the executor heap. */
    case object Heap extends Store(Nil)

    /** RocksDB: state in native memory and on local disk. The v2
      * (transformWithState) state API runs only on this provider.
      */
    case object RocksDb extends Store(Seq(ProviderClass -> RocksDbProvider))

    /** RocksDB with changelog checkpointing: each commit uploads the
      * changed keys instead of a full snapshot.
      */
    case object RocksDbChangelog extends Store(Seq(
      ProviderClass -> RocksDbProvider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true"))
  }

  private val lock = new Object

  /** Start `df` through `write` with the state width of `dir` on `store`. */
  def start(s: SparkSession, dir: String, df: Dataset[_],
            store: Store = Store.Heap)
           (write: DataStreamWriter[Row] => StreamingQuery): StreamingQuery =
    startAt(s, Q.stateWidth(s, dir), df, store)(write)

  /** [[start]] with an explicit state width. */
  private[graft] def startAt(s: SparkSession, partitions: Int, df: Dataset[_],
                             store: Store)
                            (write: DataStreamWriter[Row] => StreamingQuery)
  : StreamingQuery = {
    val confs = (Q.ShufflePartitions -> partitions.toString) +: store.confs
    lock.synchronized {
      val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try write(df.toDF().writeStream)
      finally olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
  }

  /** `<prefix>_<32 hex>`: unique per call, and the sink names that
    * [[graft.Bench.resetState]] drops between gates.
    */
  def uniqueName(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Run `df` to completion into a memory sink and return the sink. */
  def memory(s: SparkSession, dir: String, gate: String, df: Dataset[_],
             mode: OutputMode): DataFrame = {
    val name = uniqueName(gate)
    start(s, dir, df)(_.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()).awaitTermination()
    s.table(name)
  }

  /** Run a processing-time transformWithState stream on RocksDB into an
    * append-mode memory sink until it holds exactly `expected` rows (see
    * [[drainTws]]), and return the sink.
    */
  def drained(s: SparkSession, dir: String, gate: String, df: Dataset[_],
              expected: Long): DataFrame = {
    val name = uniqueName(gate)
    drainTws(s, name, expected) {
      start(s, dir, df, Store.RocksDb)(_.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start())
    }
    s.table(name)
  }

  /** Run `df` to completion in append mode into a parquet sink whose
    * checkpoint shares its temp dir, build the result with
    * `read(sinkPath, checkpointPath)`, materialize it and delete the dir
    * — also when the stream or the read fails.
    */
  def parquet(s: SparkSession, dir: String, gate: String, df: Dataset[_],
              store: Store = Store.Heap)
             (read: (String, String) => DataFrame): DataFrame =
    withTempDir(s"graft_${gate}_") { base =>
      start(s, dir, df, store)(_.outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()).awaitTermination()
      read(s"$base/out", s"$base/ckpt").localCheckpoint(true)
    }

  /** Run `f` on a fresh temp dir, then delete it: materialize in `f`. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(base)
    finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  /** Drain a ProcessingTime-TimeMode TWS stream: such an operator always
    * reports shouldRunAnotherBatch = true (TTL state may need eviction),
    * so Trigger.AvailableNow never terminates and the no-new-data flag
    * processAllAvailable waits on is never set (measured: 5,000+ empty
    * micro-batches) — the bounded run instead polls the memory sink for
    * the EXACT expected emission count, then stops the query. `expected`
    * is computable because the TTL'd gates force one micro-batch per
    * input file (maxFilesPerTrigger = 1) and every processor emits
    * exactly one row per (key, batch-containing-its-rows).
    */
  private def drainTws(s: SparkSession, name: String, expected: Long)
                      (start: => StreamingQuery): Unit = {
    val q = start
    try {
      // Deadline scales with the expected emission count (ADVICE r12):
      // under maxFilesPerTrigger=1 + RocksDB each emission rides its own
      // micro-batch, so larger scale factors legitimately take longer —
      // a fixed 180 s turned slow-but-correct into a hard failure. 180 s
      // floor + 50 ms per expected emission, and the failure message
      // reports elapsed progress so a stall is tellable from slowness.
      //
      // Polling reads the DRIVER-LOCAL progress metrics (sink
      // numOutputRows per finished batch) instead of running a count()
      // JOB per 100 ms poll — those poll jobs competed with the stream's
      // own micro-batches for cores for the whole drain. The sink
      // count() at the end stays AUTHORITATIVE: the metric only gates
      // when we first look, never what is required.
      val budgetSec = 180L + expected / 20L
      val t0 = System.nanoTime()
      val deadline = t0 + budgetSec * 1000000000L
      def emittedMetric: Long = {
        val per = q.recentProgress.map(_.sink.numOutputRows)
        if (per.isEmpty || per.exists(_ < 0)) -1L else per.sum
      }
      var polls = 0
      var done = false
      while (!done && System.nanoTime() < deadline && q.exception.isEmpty) {
        val e = emittedMetric
        // fall back to the real count when the metric is unavailable, and
        // re-verify with it every ~2 s so a miscounting metric can only
        // delay the authoritative check, never wedge the drain
        done = (e >= expected || e < 0 || polls % 20 == 19) &&
          s.table(name).count() >= expected
        polls += 1
        if (!done) Thread.sleep(100L)
      }
      q.exception.foreach(throw _)
      val got = s.table(name).count()
      require(got == expected,
        s"$name: sink has $got of $expected expected rows after " +
          f"${(System.nanoTime() - t0) / 1e9}%.0f s (budget ${budgetSec} s)")
    } finally q.stop()
  }
}
