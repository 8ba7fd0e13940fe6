package graft.streaming

import graft.SparkTestBase
import graft.queries.StreamGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

/** The v2 half of the state-store reader surface: a transformWithState
  * checkpoint's NAMED state variable read back as a batch DataFrame
  * (`stateVarName` option). q_state_reader covers the v1 (fMGWS)
  * store; this pins that the v2 API's individually-addressable state
  * primitives are individually READABLE — the property that makes them
  * debuggable in production.
  */
class TwsStateReadSpec extends AnyFlatSpec with Matchers
  with SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  it should "read a TWS ValueState variable from a finished checkpoint" in {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val olds = s.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try leavesNoGraftTemp(StreamGate.withTempDir("graft_tws_read_") { ckpt =>
      val input = MemoryStream[UserEvent]
      val query = Tws.timerSessions(input.toDS(),
          gapMs = 30 * 60 * 1000L, lateness = "0 seconds")
        .writeStream.format("memory").queryName("tws_read_src")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        input.addData(UserEvent(1L, ts("2024-01-01 10:00:00")),
          UserEvent(1L, ts("2024-01-01 10:10:00")),
          UserEvent(2L, ts("2024-01-01 10:05:00")))
        query.processAllAvailable()
      } finally query.stop()
      // both users' sessions are still OPEN (watermark never passed
      // their horizons) — the checkpointed `open` ValueState must hold
      // exactly those two OpenSession rows
      val state = s.read.format("statestore")
        .option("stateVarName", "open")
        .load(ckpt)
      val rows = state
        .select(col("key.value").as("user_id"),
          col("value.startMs"), col("value.endMs"), col("value.n"))
        .orderBy("user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      rows.toSeq shouldBe Seq(
        (1L, ts("2024-01-01 10:00:00").getTime,
          ts("2024-01-01 10:10:00").getTime, 2L),
        (2L, ts("2024-01-01 10:05:00").getTime,
          ts("2024-01-01 10:05:00").getTime, 1L))
    }) finally olds match {
      case Some(v) => s.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }
}
