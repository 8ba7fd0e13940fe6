package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

class SessionizeSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  behavior of "Sessionize (batch mode)"

  it should "merge events within the gap and split across it" in {
    val s = spark
    import s.implicits._
    // user 1: events at 10:00, 10:10, 11:00 → two sessions (gap 30m)
    // user 2: one event → one session
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")),
      (1L, Timestamp.valueOf("2024-01-01 11:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:05:00")),
    ).toDF("user_id", "ts")
    val out = Sessionize.sessionCounts(events, "30 minutes")
      .orderBy("user_id", "session_start").collect()
    out.map(r => (r.getLong(0), r.getLong(3))).toSeq shouldBe
      Seq((1L, 2L), (1L, 1L), (2L, 1L))
  }

  behavior of "Sessionize (streaming mode)"

  it should "emit closed sessions in append mode once the watermark passes" in {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = Sessionize.sessionStream(
      input.toDF().toDF("user_id", "ts"), "30 minutes", "10 minutes")
    val query = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_test").start()
    try {
      // batch 1: two events in one session for user 1
      input.addData((1L, ts(0)), (1L, ts(10)))
      query.processAllAvailable()
      // batch 2: an event far in the future moves the watermark past the
      // first session's end (10:40), forcing its append-mode emission
      input.addData((2L, Timestamp.valueOf("2024-01-01 12:00:00")))
      query.processAllAvailable()
      val out = s.sql(
        "SELECT user_id, n_events FROM sessions_test ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      out should contain((1L, 2L))
    } finally query.stop()
  }
}
