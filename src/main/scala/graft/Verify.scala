package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The dump is WAVE-PARALLEL (r12 verdict #1): 330+ gates run sequentially
  * took 569 s at sf0.001 — per-gate fixed costs (streaming micro-batch
  * setup, job scheduling latency, a System.gc() between every pair)
  * dominated, and at the driver's sf0.01 gate that growth risked the
  * harness time budget (CORRECTNESS_r12.json came back empty). Gates use
  * gate-unique temp-view names, uuid-suffixed memory sinks, and
  * per-invocation temp dirs, and waves of them run concurrently on ONE
  * shared session (the session-keyed fixture caches stay shared), with
  * [[Bench.resetState]] only at wave barriers where no query is in
  * flight. Shared fixtures (bucketed tables, graph/text/ifs session
  * caches) are derived up front so parallel gates never race on a
  * derivation.
  *
  * Gates are NOT conf-isolated: the streaming gates in `EventQueries` set
  * and restore confs on that shared session (`withStatePartitions` for
  * `spark.sql.shuffle.partitions`, `withConfs` for the state-store
  * provider), so one gate's restore can land inside a concurrent
  * sibling's window. ROADMAP direction 2 (gate isolation) tracks the fix.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: run only the named queries (dev iteration;
    // the driver's two-arg invocation still dumps everything).
    val only = args.drop(2).toSet
    // Correctness dump, not a timing instrument: default to the machine's
    // cores (capped) rather than Bench's measurement-stable 4.
    val cpus = Sessions.cpus(
      math.min(Runtime.getRuntime.availableProcessors, 16))
    val spark = Sessions.getOrCreate(Sessions.builderFor(cpus)
      // Concurrent gates each submit small jobs; FAIR keeps one heavy
      // gate's stages from head-of-line-blocking every sibling's tasks.
      .config("spark.scheduler.mode", "FAIR"))
    new java.io.File(outDir).mkdirs()
    // Sorted name order, same as Bench: wave composition (and so the
    // cold-cost path of the session caches) stays fixed as gates are added.
    val selected =
      (if (only.isEmpty) SparkEntry.queries
       else SparkEntry.queries.filter { case (n, _) => only(n) })
        .toSeq.sortBy(_._1)
    // Derive every cross-gate shared fixture BEFORE the parallel loop:
    // SessionCache.getOrElsePin serializes racing derivations, but warming
    // up front means no wave stalls its whole width behind one transpose.
    try Bench.warmScale(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] warm-up failed (continuing): $e")
    }
    Bench.resetState(spark)
    // A failed query must be LOUD: round 5's testdata schema change broke
    // 21 queries, and because failures only went to stderr (no output file)
    // the driver's oracle compare silently OMITTED them instead of showing
    // `err`. Collect every failure and dump `_errors.json` next to the
    // results so any consumer sees exactly which queries produced nothing.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR",
      math.min(8, cpus).toString).toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      selected.grouped(par * 4).foreach { wave =>
        val tasks = wave.map { case (name, fn) =>
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val t0 = System.nanoTime()
              try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              catch { case e: Throwable =>
                System.err.println(s"[verify] $name failed: ${e.getMessage}")
                errors.put(name, String.valueOf(e).linesIterator.take(3)
                  .mkString(" | ").take(500))
              }
              timings.put(name, (System.nanoTime() - t0) / 1e9)
            }
          }
        }
        pool.invokeAll(java.util.Arrays.asList(tasks: _*))
        // Barrier point — nothing in flight: drop leaked cache/checkpoint
        // blocks and consumed memory sinks once per wave (the per-query
        // System.gc() of the sequential dump was ~1/3 of its wall time).
        Bench.resetState(spark)
      }
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (!errors.isEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.asScala.keys.toSeq.sorted.mkString(", "))
    }
    // Wall-time canary (r12 verdict #1): the sequential dump's growth to
    // 569 s at sf0.001 was only discovered by the judge — make it a named,
    // greppable failure. _timings.json records per-gate seconds (in-run,
    // concurrent — a profiling signal, not a benchmark).
    val wall = (System.nanoTime() - wall0) / 1e9
    val tJson = timings.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_timings.json"),
      s"""{"wall_sec": $wall, "par": $par, "cpus": $cpus, "queries": $tJson}""")
    val budget = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET", "300").toInt
    System.err.println(
      f"[verify] wall=$wall%.1fs queries=${selected.size} par=$par cpus=$cpus")
    if (only.isEmpty && wall > budget) System.err.println(
      f"[verify] WALLTIME CANARY EXCEEDED: $wall%.1fs > ${budget}s " +
        "(profile _timings.json; the driver's sf0.01 gate has a time budget)")
    spark.stop()
  }
}
