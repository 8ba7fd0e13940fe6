package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The streaming-gate runner and the width rule: the rule's constants at
  * the testdata scales, the conf window of concurrent starts, the temp
  * dirs of the gates that read a checkpoint or copy their input, and
  * source scans that keep [[StreamGate]] the only place that starts a
  * stream or sets a stream's confs.
  */
class StreamGateSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val ProviderClass = "spark.sql.streaming.stateStore.providerClass"

  behavior of "Q.width"

  it should "divide by the unit and clamp to the floor and the cap" in {
    Q.width(0L, 4L << 20, 8, 200) shouldBe 8
    Q.width(112L << 20, 4L << 20, 8, 200) shouldBe 28
    Q.width(10L << 30, 4L << 20, 8, 200) shouldBe 200
    Q.width(40L << 20, 8L << 20, 4, 2000) shouldBe 5
  }

  it should "give a state width of 8 at sf0.01 and sf0.1" in {
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(s"$dir/events.parquet").exists,
        s"$dir is not present")
      withClue(sf)(Q.stateWidth(spark, dir) shouldBe 8)
    }
  }

  behavior of "StreamGate.startAt"

  it should "give concurrent starts their own width and store and " +
    "restore the session conf" in {
    val s = spark
    val before = Seq(Q.ShufflePartitions, ProviderClass)
      .map(k => k -> s.conf.getOption(k))
    StreamGate.withTempDir("graft_stream_gate_spec_") { base =>
      s.range(400).select((col("id") % 11).as("k"))
        .write.mode("overwrite").parquet(base)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def run(width: Int, store: StreamGate.Store): StreamingQuery = {
        val counts = s.readStream.schema("k LONG").parquet(base)
          .groupBy("k").count()
        barrier.await()
        val q = StreamGate.startAt(s, width, counts, store)(_
          .outputMode(OutputMode.Complete()).format("memory")
          .queryName(StreamGate.uniqueName("stream_gate_spec"))
          .trigger(Trigger.AvailableNow()).start())
        q.awaitTermination()
        q
      }
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val heap = Future(run(3, StreamGate.Store.Heap))
      val rocks = Future(run(5, StreamGate.Store.RocksDb))
      val qh = Await.result(heap, 120.seconds)
      val qr = Await.result(rocks, 120.seconds)
      val ph = qh.lastProgress.stateOperators(0)
      val pr = qr.lastProgress.stateOperators(0)
      ph.numShufflePartitions shouldBe 3
      pr.numShufflePartitions shouldBe 5
      import scala.jdk.CollectionConverters._
      ph.customMetrics.keySet.asScala.filter(_.startsWith("rocksdb")) shouldBe
        empty
      pr.customMetrics.keySet.asScala.filter(_.startsWith("rocksdb")) should
        not be empty
    }
    Seq(Q.ShufflePartitions, ProviderClass)
      .map(k => k -> s.conf.getOption(k)) shouldBe before
  }

  behavior of "the checkpoint-reading and input-copying gates"

  it should "delete every temp dir they make and keep their row counts" in {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists,
      s"$dir is not present")
    // row counts of these gates at sf0.001 before they moved to the runner
    val expected = Seq("q_stream_tws_ttl" -> 15L, "q_state_reader" -> 1L,
      "q_tws_state_reader" -> 1L)
    leavesNoGraftTemp(for ((gate, rows) <- expected) {
      val out = graft.SparkEntry.queries(gate)(spark, dir)
      withClue(gate)(out.count() shouldBe rows)
      graft.Bench.resetState(spark)
    })
  }

  private def sourceOf(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  behavior of "src/main"

  it should "start streams only through StreamGate" in {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && f.getName.endsWith(".scala") &&
        f.getName != "StreamGate.scala")
    files.map(_.getName) should contain allOf ("EventQueries.scala",
      "EmbeddingQueries.scala", "TextQueries.scala", "Bench.scala")
    for (f <- files) {
      val text = sourceOf(f)
      withClue(f.getPath)(Seq("writeStream", "RocksDBStateStoreProvider")
        .filter(text.contains) shouldBe empty)
    }
  }

  behavior of "EventQueries and Bench"

  it should "name no state conf or sink uuid outside StreamGate" in {
    val banned = Seq("spark.sql.shuffle.partitions", "UUID.randomUUID")
    for (f <- Seq("src/main/scala/graft/queries/EventQueries.scala",
                  "src/main/scala/graft/Bench.scala")) {
      val text = sourceOf(new java.io.File(f))
      withClue(f)(banned.filter(text.contains) shouldBe empty)
    }
  }
}
