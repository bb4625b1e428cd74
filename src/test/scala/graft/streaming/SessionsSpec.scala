package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Streaming sessionization + dedup specs, driven synchronously through
  * MemoryStream micro-batches. */
class SessionsSpec extends SparkSpec {
  import spark.implicits._
  import Sessions._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gap sessionization closes a session when the next event proves the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Event(1L, 7L, ts("2024-01-01 10:00:00")),
        Event(2L, 7L, ts("2024-01-01 10:10:00")),
        Event(3L, 7L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      assert(spark.table("sessions").isEmpty) // session still open
      // 11:30 is > 30 min after 10:20 — closes the first session
      in.addData(Event(4L, 7L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val closed = spark.table("sessions").as[Session].collect()
      assert(closed.length == 1)
      assert(closed.head.session_start == ts("2024-01-01 10:00:00"))
      assert(closed.head.session_end == ts("2024-01-01 10:20:00"))
      assert(closed.head.n_events == 3)
    } finally q.stop()
  }

  test("sessions are per-user; idle users evict by event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessions2")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Event(1L, 1L, ts("2024-01-01 10:00:00")),
        Event(2L, 2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // user 1's 12:00 event (a) proves user 1's gap and (b) advances the
      // watermark to 11:00 — past user 2's 10:35 timeout, so user 2's open
      // session is emitted by TIMEOUT with no further user-2 event (this is
      // the state-eviction property that bounds state on an endless stream)
      in.addData(Event(3L, 1L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val closed = spark.table("sessions2").as[Session].collect()
        .map(s => s.user_id -> s).toMap
      assert(closed.size == 2)
      assert(closed(1L).n_events == 1 &&
        closed(1L).session_end == ts("2024-01-01 10:00:00"))
      assert(closed(2L).n_events == 1 &&
        closed(2L).session_end == ts("2024-01-01 10:05:00"))
    } finally q.stop()
  }

  test("streaming dedup keeps the first event per content hash") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = dedupByContent(
      in.toDS().toDF("doc_id", "text", "ts"), lateness = "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (1L, "same text", ts("2024-01-01 10:00:00")),
        (2L, "same text", ts("2024-01-01 10:01:00")),
        (3L, "other text", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("doc_id")
        .as[Long].collect().sorted
      assert(ids.length == 2 && ids.contains(3L) && !ids.contains(2L))
    } finally q.stop()
  }
}
