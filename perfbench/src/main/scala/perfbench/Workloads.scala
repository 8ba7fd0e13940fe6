package perfbench

import graft.feature.{FeatureSelector, RowSelector}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-layer metrics from spans. */
object Layers {
  /** Engine metrics of one op kind: per-op medians over `spans`. */
  def engine(prefix: String, spans: Seq[Span], cores: Int)
  : Map[String, Double] = {
    def med(f: Span => Double) = Main.median(spans.map(f))
    Map(
      "jobs" -> med(_.jobs.toDouble),
      "stages" -> med(_.stages.toDouble),
      "tasks" -> med(_.tasks.toDouble),
      "job_busy_s" -> med(_.jobBusyS),
      "driver_gap_s" -> med(_.driverGapS),
      "task_run_s" -> med(_.taskRunS),
      "task_cpu_s" -> med(_.taskCpuS),
      "gc_s" -> med(_.gcS),
      "core_util" -> med(s => s.taskRunS / (s.wallS * cores)),
      "shuffle_write_mb" -> med(_.shuffleWriteMb),
      "shuffle_read_mb" -> med(_.shuffleReadMb),
      "spill_mb" -> med(_.spillMb),
      "peak_exec_mem_mb" -> med(_.peakExecMemMb),
      "result_mb" -> med(_.resultMb),
      "plan_s" -> med(_.planS),
      "codegen_compiles" -> med(_.codegenCompiles.toDouble)
    ).map { case (k, v) => s"$prefix.$k" -> v }
  }

  /** Sum of spans: one pass over many different ops. */
  def sum(spans: Seq[Span]): Span = spans.reduce((a, b) => Span(
    a.wallS + b.wallS, a.jobs + b.jobs, a.stages + b.stages,
    a.tasks + b.tasks, a.jobBusyS + b.jobBusyS, a.taskRunS + b.taskRunS,
    a.taskCpuS + b.taskCpuS, a.gcS + b.gcS,
    a.shuffleWriteMb + b.shuffleWriteMb, a.shuffleReadMb + b.shuffleReadMb,
    a.spillMb + b.spillMb, math.max(a.peakExecMemMb, b.peakExecMemMb),
    a.resultMb + b.resultMb, a.planS + b.planS,
    a.codegenCompiles + b.codegenCompiles, a.streamBatches + b.streamBatches,
    a.streamBatchS + b.streamBatchS, a.stateCommitS + b.stateCommitS))

  /** BASELINE.md's reference cost model, jobs per fit. */
  def conventionalModel(k: Int, cols: Int): Int =
    1 + k * ((cols + 999) / 1000)
  def alternateModel(k: Int): Int = 1 + 3 * k

  def fit(prefix: String, ops: Seq[Op], cores: Int, model: Int)
  : Map[String, Double] = {
    val spans = ops.flatMap(_.span)
    engine(prefix, spans, cores) - s"$prefix.codegen_compiles" +
      (s"$prefix.jobs_vs_model" ->
        Main.median(spans.map(_.jobs.toDouble)) / model)
  }
}

/** The seeded IFS matrix, shared by both IFS workloads. */
object IfsShape {
  /** 300 features is past the conventional driver's all-pairs fast path
    * (≤ 44 features), so every round runs its own counting pass.
    */
  val Features = 300
  val Instances = 10000
  val Levels = 8
  val K = 10
  val BlockWidth = 8192
}

/** One round is one fit per driver on the same seeded matrix:
  * `FeatureSelector.fit` on the conventional layout, then `RowSelector.fit`
  * on the transposed matrix as vector records and as 8,192-wide blocks.
  */
final class Ifs(spark: SparkSession, seed: Long) extends Workload {
  import IfsShape._
  private val m = Matrix(seed, Instances, Features, Levels)
  private lazy val expected = m.referenceMrmr(K)

  /** The three layouts of one matrix and its label vector. */
  private final class Inputs(m: Matrix, k: Int) {
    val conv = Matrix.pin(m.conventional(spark))
    val vec = Matrix.pin(m.alternateVector(spark))
    val blk = Matrix.pin(m.alternateBlocked(spark, BlockWidth))
    val labels = m.labelVector
    def drop(): Unit = Seq(conv, vec, blk).foreach(_.unpersist(true))
    def fitConv(): Seq[Long] = new FeatureSelector()
      .setNumTopFeatures(k).setLabelCol("label").setFeaturesCol("features")
      .fit(conv).selectedFeatures.map(_.toLong).toSeq
    def fitVector(): Seq[Long] = new RowSelector()
      .setNumTopRows(k).setEncoding("vector").setIdCol("id")
      .setFeaturesCol("features").setLabelVector(labels)
      .fit(vec).selectedRows.toSeq
    def fitBlocked(): Seq[Long] = new RowSelector()
      .setNumTopRows(k).setEncoding("blocked").setIdCol("id")
      .setBlockCol("block").setFeaturesCol("values").setLabelRowId(-1L)
      .fit(blk).selectedRows.toSeq
  }
  private var in: Inputs = _

  def prepare(): Unit = {
    if (in != null) in.drop()
    in = new Inputs(m, K)
  }

  /** Warm the three drivers on a matrix of the same width and a twentieth
    * of the instances, selecting two features: the same plans and code
    * paths as a timed fit, at a fraction of its cost.
    */
  def warmUp(): Unit = {
    val small = new Inputs(m.copy(instances = Instances / 20), 2)
    small.fitConv(); small.fitVector(); small.fitBlocked()
    small.drop()
  }

  def round(t: Timer): Seq[Op] = Seq(
    t("conv")(in.fitConv()),
    t("alt_vector")(in.fitVector()),
    t("alt_blocked")(in.fitBlocked()))

  def correct(op: Op): Boolean = op.answer.contains(expected)

  def layers(ops: Seq[Op], cores: Int): Map[String, Double] = {
    def of(kind: String, model: Int) = Layers.fit(s"feature.$kind",
      ops.filter(_.kind == kind), cores, model)
    of("conv", Layers.conventionalModel(K, Features)) ++
      of("alt_vector", Layers.alternateModel(K)) ++
      of("alt_blocked", Layers.alternateModel(K))
  }

  override def notes: Seq[String] = Seq(
    s"reference mRMR ids: ${expected.mkString(",")}",
    s"BASELINE.md cost model: conventional 1 + k*ceil(cols/1000) = " +
      s"${Layers.conventionalModel(K, Features)} jobs per fit, " +
      s"alternate 1 + 3k = ${Layers.alternateModel(K)}")
}

/** Fixed-input microbenchmarks of the `graft.stats` MI kernels. */
object StatsKernels {
  def measure(): Map[String, Double] = {
    import graft.stats.MutualInformation
    import org.apache.spark.ml.linalg.Vectors
    val n = 100000
    val a = Vectors.dense(Array.tabulate(n)(i => ((i * 7919L) % 8).toDouble))
    val b = Vectors.dense(Array.tabulate(n)(i => ((i * 104729L) % 8).toDouble))
    val c = Array.tabulate(8, 8)((i, j) => (i * 31L + j * 17L) % 97 + 1)
    def perCall(reps: Int)(f: => Double): Double = Main.median((1 to 7).map {
      _ =>
        var sink = 0.0
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => sink += f)
        if (sink.isNaN) println(sink) // keeps the calls live
        (System.nanoTime() - t0).toDouble / reps
    })
    Map(
      "stats.fromVectors_ns_per_value" ->
        perCall(10)(MutualInformation.fromVectors(a, b)) / n,
      "stats.fromContingency_us" ->
        perCall(2000)(MutualInformation.fromContingency(c)) / 1e3)
  }
}
