package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev-only per-gate profiler (optimization guide §1): runs named gates
  * solo on a Bench-identical session, each twice (cold, then warm), and
  * prints every Spark job's wall time with its call site, so a gate's
  * cost decomposes into its constituent actions (range-partition
  * sampling, checkpoint materializations, ...). Streaming gates also
  * print every micro-batch's durationMs decomposition (trigger,
  * planning, addBatch, getBatch, latestOffset, walCommit,
  * commitOffsets) and state-operator commit times as they happen;
  * batch gates print none.
  *
  * `--plans DIR` instead writes each gate's `explain("formatted")` to
  * `DIR/<gate>.txt` without running the result frame, so plan-shape
  * claims (Exchange count, join strategy, PushedFilters) are checkable
  * without a run. A streaming gate still runs its stream, since that is
  * how it builds the frame whose plan is written.
  *
  * Not part of the driver contract; the bench's timing methodology is
  * unchanged.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile [--plans DIR] q_x q_y"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (plansDir, gates) = args.toSeq match {
      case "--plans" +: dir +: rest => (Some(dir), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.getOrCreate(Sessions.builder(4))
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), s"$desc | $site"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
          done.add((je.jobId, (System.nanoTime() - t0) / 1e9, d)); ()
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"  [stream started ${e.name}]")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val state = p.stateOperators.map { so =>
          s"${so.operatorName}(commit=${so.commitTimeMs}ms " +
            s"rows=${so.numRowsTotal})"
        }.mkString(",")
        println(s"  [batch ${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${d.get("triggerExecution")}ms " +
          s"plan=${d.get("queryPlanning")} addBatch=${d.get("addBatch")} " +
          s"getBatch=${d.get("getBatch")} latest=${d.get("latestOffset")} " +
          s"wal=${d.get("walCommit")} offs=${d.get("commitOffsets")} " +
          s"state[$state]]")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    Bench.warmScale(spark, sfDir)
    Bench.resetState(spark)
    plansDir.foreach(d => new java.io.File(d).mkdirs())
    gates.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] no such gate: $name")
        case Some(fn) => plansDir match {
          case Some(dir) =>
            val plan = try fn(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
            val p = Paths.get(dir, s"$name.txt")
            Files.write(p, plan.getBytes(StandardCharsets.UTF_8))
            println(s"[profile] wrote $p")
            Bench.resetState(spark)
          case None => Seq("cold", "warm").foreach { pass =>
            done.clear()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"\n=== $name ($pass): $dt%.2f s, ${done.size} jobs ===")
            import scala.jdk.CollectionConverters._
            val jobs = done.asScala.toSeq.sortBy(_._1)
            jobs.foreach { case (id, d, desc) =>
              println(f"  job $id%4d  $d%6.2f s  " +
                desc.replace('\n', ' ').take(140))
            }
            println(f"  [sum of job walls: ${jobs.map(_._2).sum}%.2f s; " +
              "overlap/driver time not included]")
            Bench.resetState(spark)
          }
        }
      }
    }
    spark.stop()
  }
}
