package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming/batch equivalence: replaying staged input through the REAL
  * Structured Streaming path (file source → AvailableNow → complete-mode
  * memory sink) must reproduce the batch aggregate over the same input —
  * the property op_stream_nexus's oracle certifies at the harness level. */
class ReplaySpec extends SparkSpec {

  test("file-source replay of eventStateTotals equals the batch aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_spec")
    try {
      // normalize ts to long nanos BEFORE staging: the staged stream then
      // replays with the same long-ns schema whatever the fixture's unit
      val ev = graft.Catalog.tsAsNanos(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      ev.write.mode("overwrite").parquet(dir.toString)
      val dim = graft.tax.Dims.stateRates(spark)
      val streamed = Replay.replayComplete(spark, dir.toString, ev.schema,
        st => NexusMonitor.eventStateTotals(st, dim))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val batch = NexusMonitor.eventStateTotals(ev, dim)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch)
      // a second replay works (unique memory-sink names — Bench reruns)
      val again = Replay.replayComplete(spark, dir.toString, ev.schema,
        st => NexusMonitor.eventStateTotals(st, dim)).count()
      assert(again == batch.size)
      // the event-time window aggregate replays to its batch equivalent too
      def winKey(r: org.apache.spark.sql.Row) =
        (r.getDate(0).toString, r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))
      val winStream = Replay.replayComplete(spark, dir.toString, ev.schema,
        st => NexusMonitor.eventDailyTotals(st, dim)).collect().map(winKey).toMap
      val winBatch = NexusMonitor.eventDailyTotals(ev, dim)
        .collect().map(winKey).toMap
      assert(winStream.nonEmpty && winStream == winBatch)
      // append-mode replay of the stateful sessionizer: the emitted set is
      // every gap-closed (non-final) session plus final sessions flushed
      // by the event-time timeout once the trailing no-data batch advances
      // the watermark — the exact contract op_stream_sessions' oracle pins
      import spark.implicits._
      val sessions = Replay.replayAppend(spark, dir.toString, ev.schema,
        st => Sessions.sessionize(
          st.select(col("event_id"), col("user_id"),
            timestamp_millis(expr("ts div 1000000")).as("ts"))
            .as[Sessions.Event], lateness = "61 minutes")
          .toDF())
      val n = sessions.count()
      // batch recount of the same rule (ms-truncated, 30-min gap)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tms", "event_id")
      val batchSess = ev
        .select(col("user_id"), col("event_id"), expr("ts div 1000000").as("tms"))
        .withColumn("new_s", when(lag("tms", 1).over(w).isNull ||
          col("tms") - lag("tms", 1).over(w) > 1800000L, 1).otherwise(0))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(max("tms").as("end_ms"), count(lit(1)).as("n_events"))
      val lastSid = batchSess.groupBy("user_id").agg(max("sid").as("last_sid"))
      val maxTs = ev.agg(max(expr("ts div 1000000"))).head().getLong(0)
      val expected = batchSess.join(lastSid, "user_id")
        .filter(col("sid") < col("last_sid") ||
          col("end_ms") + 1800000L < maxTs - 3660000L)
        .count()
      assert(n == expected, s"streamed $n sessions, batch rule expects $expected")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("streaming daily type counts replay to the batch aggregate; top-k is heap-ranked") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_topk")
    try {
      val ev = graft.Catalog.tsAsNanos(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      ev.write.mode("overwrite").parquet(dir.toString)
      def key(r: org.apache.spark.sql.Row) =
        (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)
      val streamed = Replay.replayComplete(spark, dir.toString, ev.schema,
        st => NexusMonitor.eventTypeDailyCounts(st)).collect().map(key).toMap
      val batch = NexusMonitor.eventTypeDailyCounts(ev)
        .collect().map(key).toMap
      assert(streamed.nonEmpty && streamed == batch)
      // the declared query's rank stage: bounded heap, no Window node
      val counts = NexusMonitor.eventTypeDailyCounts(ev)
      val top = graft.ops.TopK.perKey(counts, Seq("day"),
        org.apache.spark.sql.functions.struct(
          (org.apache.spark.sql.functions.lit(0L) - col("n_events")).as("_n"),
          col("event_type")), 3, descending = false)
      assert(!top.queryExecution.executedPlan.toString.contains("Window"))
      val perDay = top.collect().groupBy(_.getDate(0).toString)
      assert(perDay.values.forall(_.length <= 3))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("two-stream interval join replays to its batch join equivalent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_join")
    try {
      val ev = graft.Catalog.tsAsNanos(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      ev.write.mode("overwrite").parquet(dir.toString)
      def pairs(l: org.apache.spark.sql.DataFrame,
          r: org.apache.spark.sql.DataFrame) = {
        val p = l.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            timestamp_millis(expr("ts div 1000000")).as("ts_p"))
          .withWatermark("ts_p", "1 hour")
        val c = r.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"),
            timestamp_millis(expr("ts div 1000000")).as("ts_c"))
          .withWatermark("ts_c", "1 hour")
        p.join(c, col("user_id") === col("c_user") &&
            col("ts_c") >= col("ts_p") - expr("interval 10 minutes") &&
            col("ts_c") <= col("ts_p"))
          .select("purchase_id", "click_id")
      }
      val streamed = Replay.replayJoin2(spark, dir.toString, ev.schema, pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch equivalent: the same transform on the static frame twice
      // (withWatermark is a no-op on batch frames)
      val batch = pairs(ev, ev)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("typeShareDrift: shares/deltas recompute from the bounded daily frame; alert bar exact") {
    import spark.implicits._
    val daily = Seq(
      ("2024-01-01", "click", 80L), ("2024-01-01", "view", 20L),
      ("2024-01-02", "click", 50L), ("2024-01-02", "view", 50L))
      .toDF("day", "event_type", "n_events")
    val out = NexusMonitor.typeShareDrift(daily, alertPpm = 100000L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // baseline: click 130/200 = 650000 ppm, view 70/200 = 350000 ppm
    assert(out(("2024-01-01", "click")) == ((800000L, 650000L, 150000L, true)))
    assert(out(("2024-01-01", "view")) == ((200000L, 350000L, -150000L, true)))
    assert(out(("2024-01-02", "click")) == ((500000L, 650000L, -150000L, true)))
    assert(out(("2024-01-02", "view")) == ((500000L, 350000L, 150000L, true)))
    // below the bar: no alert
    val calm = NexusMonitor.typeShareDrift(daily, alertPpm = 200000L)
      .collect().map(_.getBoolean(6))
    assert(calm.forall(!_))
  }
}
