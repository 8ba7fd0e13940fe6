package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed op. `jobs` is the Spark job count it ran, `answer` what it
  * returned (checked after the timed section), `span` the collector's view
  * of it in a traced run.
  */
final case class Op(kind: String, wallS: Double, jobs: Int,
                    answer: Option[Any], span: Option[Span])

/** Times ops: wall clock, job count and, when tracing, a span. */
final class Timer(spark: SparkSession, collector: Option[Collector]) {
  private val counter = new JobCounter
  spark.sparkContext.addSparkListener(counter)

  def apply(kind: String)(body: => Any): Op = {
    Bus.drain(spark.sparkContext)
    val j0 = counter.count
    collector.foreach(_.begin())
    val t0 = System.nanoTime()
    val r = scala.util.Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val span = collector.map(_.end())
    Bus.drain(spark.sparkContext)
    r.failed.foreach(e => println(s"[perfbench] $kind threw: $e"))
    val op = Op(kind, wall, counter.count - j0, r.toOption, span)
    System.err.println(f"[perfbench] op $kind $wall%.3f s ${op.jobs} jobs")
    op
  }
}

/** A workload: inputs, a warm-up, rounds of timed ops, and the checks and
  * per-layer split of what was timed.
  */
trait Workload {
  /** Generate and materialize the inputs. Called three times for the
    * set-up median; each call replaces the previous inputs.
    */
  def prepare(): Unit
  def warmUp(): Unit
  /** One round of timed ops. */
  def round(t: Timer): Seq[Op]
  /** The end-to-end op time: by default the median over clean rounds of
    * a round's wall time.
    */
  def opSeconds(rounds: Seq[Seq[Op]], kept: Op => Boolean): Double =
    Main.median(rounds.filter(_.forall(kept)).map(_.map(_.wallS).sum))
  /** True when `op`'s answer is right. */
  def correct(op: Op): Boolean
  /** Per-layer metrics of the kept timed ops (traced runs only). */
  def layers(ops: Seq[Op], cores: Int): Map[String, Double]
  /** Untimed work after the timed section, such as dumps for checks. */
  def finish(): Unit = ()
  /** Lines for the human-readable report. */
  def notes: Seq[String] = Nil
}

/** One benchmark run in one JVM: set up, time the workload's rounds for
  * the requested seconds, check the answers it can check itself, and write
  * `result.json` into the work directory for `run.py` to finish (the gate
  * oracles run there, in DuckDB).
  *
  * Usage: perfbench.Main workload seed seconds trace(0|1) workDir dataDir
  * cores
  */
object Main {

  def main(args: Array[String]): Unit = {
    // A thread a gate left behind must not keep the JVM alive, so the exit
    // is explicit either way.
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, dataDir, coresS) =
      args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val timer = new Timer(spark,
      if (traced) Some(new Collector(spark)) else None)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w: Workload = workload match {
      case "ifs" => new Ifs(spark, seed)
      case "gates_sf0.1" => new GatePass(spark, seed, dataDir, workDir)
      case other => sys.error(s"unknown workload $other")
    }
    // A JVM starts once per run, but the inputs can be set up again: the
    // median of three keeps a one-off stall out of setup_s.
    val prepS = (1 to 3).map { _ =>
      val t = System.nanoTime(); w.prepare(); (System.nanoTime() - t) / 1e9
    }
    System.err.println(s"[perfbench] prepare ${prepS.mkString(",")} s")
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9

    // Live heap: heap in use right after a full GC between rounds.
    var liveHeapMb = 0.0
    val ops = mutable.ArrayBuffer.empty[Op]
    val rounds = mutable.ArrayBuffer.empty[Seq[Op]]
    val steal0 = stealS
    val tStart = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - tStart) / 1e9 < seconds) {
      val r = w.round(timer)
      rounds += r; ops ++= r
      System.gc()
      liveHeapMb = math.max(liveHeapMb, ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0)
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val stealTimedS = stealS - steal0
    w.finish()

    // Every repeat of an op must run the job count of its first timed run;
    // one with a different count measured a different program.
    val firstJobs = mutable.LinkedHashMap.empty[String, Int]
    val flagged = ops.filter(o =>
      firstJobs.getOrElseUpdate(o.kind, o.jobs) != o.jobs).toSet
    flagged.foreach(o => println(
      s"[perfbench] FLAGGED ${o.kind}: ${o.jobs} jobs, its first timed run " +
        s"had ${firstJobs(o.kind)}; not used as a timing"))
    val wrong = ops.filterNot(w.correct)
    wrong.foreach(o => println(s"[perfbench] WRONG answer from ${o.kind}"))
    val kept = ops.filterNot(flagged.contains).toSeq
    val roundS = rounds.map(_.map(_.wallS).sum).toSeq

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "attempted" -> ops.size, "failed" -> wrong.size,
      "flagged" -> flagged.size, "rounds" -> rounds.size,
      "timed_s" -> timedS, "steal_s" -> stealTimedS,
      "setup_s" -> (sessionS + median(prepS) + warmS),
      "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS,
      "op_s" -> w.opSeconds(rounds.toSeq, o => !flagged.contains(o)),
      "round_s" -> roundS,
      "live_heap_mb" -> liveHeapMb,
      "ops" -> ops.map(o => Seq(o.kind, o.wallS, o.jobs)),
      "notes" -> w.notes)
    if (traced) report("per_layer") = w.layers(kept, cores) ++
      StatsKernels.measure()
    Files.writeString(Paths.get(workDir, "result.json"), Json(report))
    spark.stop()
  }

  /** Host CPU time taken from this machine's virtual CPUs (Linux `steal`
    * in /proc/stat), in seconds summed over CPUs; NaN where unreadable.
    */
  def stealS: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
    finally src.close()
  }.getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => quote(other.toString)
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
