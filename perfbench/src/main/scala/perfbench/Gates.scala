package perfbench

import graft.queries._
import org.apache.spark.sql.SparkSession

/** Passes over a fixed sample of the repo's oracle-gated queries at sf0.1:
  * each gate is `.count()` of `SparkEntry.queries(name)` followed by
  * `Bench.resetState`, as `graft.Bench` runs them, in name order. A round
  * times `Passes` passes and each gate counts with the fastest of its
  * calls, so a burst of load from outside that hits one call does not move
  * the result. The seed chooses the gate dumped for the DuckDB oracle
  * check.
  */
final class GatePass(spark: SparkSession, seed: Long, dir: String,
                     workDir: String) extends Workload {
  import GatePass._

  private var resetS = 0.0
  private var passes = 0

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** Full scans of every table (page cache, parquet footers, scan JIT). */
  def prepare(): Unit = {
    (tables.map(t => spark.read.parquet(s"$dir/$t.parquet")) :+
      Q.events(spark, dir)).foreach(
      _.write.format("noop").mode("overwrite").save())
  }

  /** The parts of `graft.Bench`'s warm-up that these gates use: the shared
    * graph edge list (`q_bfs_reach`) and a neutral window/join/aggregate
    * plan. Opening the events stream once fills the session's events schema
    * memo, which every streaming gate of a full run shares. The bucketed
    * ingest and the text and IFS shared datasets serve only gates outside
    * this sample.
    */
  def warmUp(): Unit = {
    val missing = Gates.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"gates missing from SparkEntry: $missing")
    GraphQueries.warmSharedCaches(spark, dir)
    Q.eventsStream(spark, dir)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = spark.range(100000).select(col("id"),
      (col("id") % 97).as("g"), (col("id") % 13).cast("double").as("v"))
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    d.withColumn("r", row_number().over(w)).filter(col("r") <= 5)
      .join(broadcast(d.groupBy("g").agg(count(lit(1)).as("n"))), "g")
      .agg(sum(col("v") * col("n"))).collect()
    graft.Bench.resetState(spark)
  }

  private def pass(t: Timer): Seq[Op] = Gates.map { name =>
    val op = t(name)(graft.SparkEntry.queries(name)(spark, dir).count())
    val t0 = System.nanoTime()
    graft.Bench.resetState(spark)
    resetS += (System.nanoTime() - t0) / 1e9
    op
  }

  def round(t: Timer): Seq[Op] = {
    passes += Passes
    (1 to Passes).flatMap(_ => pass(t))
  }

  /** Sum over gates of each gate's fastest kept call. */
  override def opSeconds(rounds: Seq[Seq[Op]], kept: Op => Boolean)
  : Double = fastest(rounds.flatten.filter(kept)).values.sum

  private def fastest(ops: Seq[Op]): Map[String, Double] =
    ops.groupBy(_.kind).map { case (k, os) => k -> os.map(_.wallS).min }

  /** A gate that returned is checked against its oracle by `run.py`. */
  def correct(op: Op): Boolean = op.answer.isDefined

  /** Write the seed's check sample as parquet dumps, with their oracle
    * SQL, for `run.py`'s DuckDB comparison.
    */
  override def finish(): Unit = {
    val sample = checkSample(seed)
    sample.foreach { name =>
      graft.SparkEntry.queries(name)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(s"$workDir/dumps/$name")
      graft.Bench.resetState(spark)
    }
    val sql = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(workDir, "oracle_sql.json"),
      Json(sample.flatMap(n => sql.get(n).map(n -> _)).toMap))
    ()
  }

  def layers(ops: Seq[Op], cores: Int): Map[String, Double] = {
    val pass = Layers.sum(ops.flatMap(_.span))
    val keep = Set("jobs", "job_busy_s", "driver_gap_s", "task_run_s",
      "core_util", "gc_s", "shuffle_write_mb", "spill_mb", "plan_s",
      "codegen_compiles").map("gates." + _)
    val perPass = Layers.engine("gates", Seq(pass), cores)
      .filter(kv => keep(kv._1))
      .map { case (k, v) =>
        k -> (if (k == "gates.core_util") v else v / passes)
      }
    val best = fastest(ops)
    val byModule = Modules.map { case (mod, names) =>
      s"queries.${mod}_s" -> best.filter(kv => names(kv._1)).values.sum
    }
    perPass ++ byModule ++ Map(
      "gates.reset_s" -> resetS / passes,
      "streaming.batches" -> pass.streamBatches.toDouble / passes,
      "streaming.batch_s" -> pass.streamBatchS / passes,
      "streaming.state_commit_s" -> pass.stateCommitS / passes)
  }

  override def notes: Seq[String] =
    Seq(s"oracle check sample: ${checkSample(seed).mkString(",")}")
}

object GatePass {
  /** Passes in a round. A gate's first call in a JVM loads and compiles its
    * code and runs 20-40 % slower than later calls; of three calls, the
    * fastest is then one of the two warm ones, and a slowdown of the shared
    * host has to hit both of those to show.
    */
  val Passes = 3

  /** One gate per query module, plus the one streaming gate. Taken from
    * every 32nd registered gate in name order, starting at the first: the
    * first of each module there, `q_stream_mi` (the streaming gate), and
    * `q_bfs_reach` for the graph module, which that sample lacks. The
    * embedding module is `q_emb_dim_stats` instead of the sample's
    * `q_hybrid_rrf`, which alone took a quarter of every pass.
    */
  val Gates: Seq[String] = Seq("ifs_bin_mi", "q5_nation_revenue",
    "q_activity_streaks", "q_anova_f", "q_autocorr_24h", "q_bfs_reach",
    "q_binary_ingest", "q_emb_dim_stats", "q_mojibake_audit",
    "q_session_stats", "q_stream_mi")

  /** Gates dumped for the oracle check in one run: a seed-rotated slice,
    * so eleven consecutive seeds cover the whole list.
    */
  val CheckPerRun = 1

  def checkSample(seed: Long): Seq[String] = {
    val start = java.lang.Math.floorMod(seed * CheckPerRun, Gates.size.toLong)
    (0 until CheckPerRun).map(i => Gates(((start + i) % Gates.size).toInt))
  }

  val Modules: Seq[(String, Set[String])] = Seq(
    "relational" -> Relational.queries.keySet,
    "ifs" -> IfsQueries.queries.keySet,
    "event" -> EventQueries.queries.keySet,
    "text" -> TextQueries.queries.keySet,
    "embedding" -> EmbeddingQueries.queries.keySet,
    "graph" -> GraphQueries.queries.keySet,
    "source" -> SourceQueries.queries.keySet,
    "temporal" -> TemporalQueries.queries.keySet,
    "user" -> UserQueries.queries.keySet,
    "stat" -> StatQueries.queries.keySet)
}
