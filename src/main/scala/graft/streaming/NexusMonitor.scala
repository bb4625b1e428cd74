package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.tax.{Compliance, Dims}

/** Streaming nexus monitoring — the natural streaming extension of the
  * reference's batch compliance pipeline (SURVEY.md §2.10): cumulative
  * per-state revenue/transaction totals evaluated against economic-nexus
  * thresholds as transactions arrive.
  *
  * Three layers:
  *  - [[nexusStatusStream]]: running `groupBy(state)` aggregate with the
  *    thresholds looked up in-stage — emit in update/complete mode.
  *  - [[windowedRevenue]]: watermarked event-time daily revenue windows
  *    (late data dropped after the watermark).
  *  - [[crossingAlerts]]: `flatMapGroupsWithState` dedup — each state emits
  *    exactly one alert when it first crosses its threshold, however many
  *    micro-batches arrive afterwards.
  *
  * Scale: state cardinality is 51, so the running aggregate's state store
  * is tiny regardless of input volume; the thresholds are a per-row hash
  * lookup; only the pre-aggregation shuffle scales with traffic.
  */
object NexusMonitor {

  case class Txn(state: String, amount: Double, ts: java.sql.Timestamp)
  case class StateTotals(state: String, revenue: Double, txns: Long)
  case class NexusAlert(state: String, revenue: Double, txns: Long,
      message: String)

  /** Running per-state totals + nexus evaluation (update/complete mode). */
  def nexusStatusStream(txns: DataFrame): DataFrame = {
    val activity = txns.groupBy("state").agg(
      sum(col("amount")).cast(Dims.Money).as("revenue"),
      count(lit(1)).as("transaction_count"))
    Compliance.checkNexusUnsorted(activity)
      .select("state", "revenue", "transaction_count", "has_nexus",
        "approaching_threshold", "revenue_pct_of_threshold")
  }

  /** Per-state integer-cents revenue + transaction-count totals over the
    * events-stream shape (user_id, value): state comes from a broadcast dim
    * join BEFORE the aggregation (stream-static inner join, then the
    * streaming agg — the supported composition order; joining AFTER a
    * complete-mode aggregate is not), keyed `state_idx = user_id mod 51`.
    * Amounts aggregate as `floor(value·100)` integer cents, so the running
    * total is order-independent — a double sum would drift with arrival
    * order and could never equal a batch oracle bit-for-bit. Works
    * identically on a batch frame (same function, no streaming API), which
    * is exactly what the replay-equivalence check exercises. */
  def eventStateTotals(events: DataFrame, stateDim: DataFrame): DataFrame =
    events
      .join(broadcast(stateDim.select(col("state_idx"), col("state_code"))),
        pmod(col("user_id"), lit(51)) === col("state_idx"))
      .select(col("state_code").as("state"),
        floor(col("value") * 100).as("cents"))
      .groupBy("state")
      .agg(sum("cents").as("revenue_cents"),
        count(lit(1)).as("transaction_count"))

  /** Daily per-state integer-cents totals over the events-stream shape via
    * a REAL event-time window aggregation: the long-nanos `ts` truncates to
    * a microsecond timestamp for `window(..., "1 day")` (UTC-aligned
    * boundaries under the session's UTC timezone), state joins broadcast
    * BEFORE the aggregation as in [[eventStateTotals]]. Complete-mode
    * friendly (no watermark — [[windowedRevenue]] is the watermarked
    * variant; append-mode finalization would hold back the last day on a
    * bounded replay). State store is (days × 51) rows — bounded by the
    * event-time span, not traffic. */
  def eventDailyTotals(events: DataFrame, stateDim: DataFrame): DataFrame =
    events
      .join(broadcast(stateDim.select(col("state_idx"), col("state_code"))),
        pmod(col("user_id"), lit(51)) === col("state_idx"))
      .select(col("state_code").as("state"),
        floor(col("value") * 100).as("cents"),
        timestamp_micros(expr("ts div 1000")).as("event_ts"))
      .groupBy(window(col("event_ts"), "1 day"), col("state"))
      .agg(sum("cents").as("revenue_cents"),
        count(lit(1)).as("transaction_count"))
      .select(to_date(col("window.start")).as("day"), col("state"),
        col("revenue_cents"), col("transaction_count"))

  /** Daily (day, event_type) counts over the events-stream shape — the
    * STREAMING side of the trending-types query: a real event-time window
    * aggregation whose state is bounded by days × event types (a handful
    * of rows per day regardless of traffic), complete-mode friendly like
    * [[eventDailyTotals]]. The per-day top-k selection runs AFTER the
    * replay on the bounded aggregated result (the streaming engine has no
    * rank operator; ranking days × types rows batch-side is free). */
  def eventTypeDailyCounts(events: DataFrame): DataFrame =
    events
      .select(timestamp_micros(expr("ts div 1000")).as("event_ts"),
        col("event_type"))
      .groupBy(window(col("event_ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(to_date(col("window.start")).as("day"), col("event_type"),
        col("n_events"))

  /** Per-day event-type distribution DRIFT with alert flags, computed from
    * a bounded `(day, event_type, n_events)` frame (the
    * [[eventTypeDailyCounts]] streaming aggregate after replay): each
    * (day, type) cell's within-day share vs the type's whole-period
    * baseline share, in floored-IEEE ppm (the Spark-truncates /
    * DuckDB-rounds CAST trap — floor explicitly), alert when the absolute
    * delta reaches `alertPpm`. The streaming twin of
    * [[graft.text.TextOps.corpusDrift]]: the stream maintains only the
    * days × types state; all drift math runs on that bounded frame. */
  def typeShareDrift(daily: DataFrame, alertPpm: Long): DataFrame = {
    val days = daily.groupBy("day").agg(sum("n_events").as("_dt"))
    val base = daily.groupBy("event_type").agg(sum("n_events").as("_tt"))
    val tot = daily.agg(sum("n_events").as("_n"))
    daily.join(days, "day").join(base, "event_type").crossJoin(tot)
      .select(col("day"), col("event_type"), col("n_events"),
        floor(col("n_events") * lit(1000000.0) / col("_dt"))
          .as("day_share_ppm"),
        floor(col("_tt") * lit(1000000.0) / col("_n"))
          .as("base_share_ppm"))
      .withColumn("drift_ppm",
        col("day_share_ppm") - col("base_share_ppm"))
      .withColumn("alert", abs(col("drift_ppm")) >= lit(alertPpm))
  }

  /** Watermarked daily revenue per state over event time; accepts data up
    * to an hour behind the max seen event time, drops later. */
  def windowedRevenue(txns: DataFrame): DataFrame =
    txns
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("state"))
      .agg(sum(col("amount")).cast(Dims.Money).as("revenue"),
        count(lit(1)).as("transaction_count"))
      .select(col("window.start").as("day"), col("state"), col("revenue"),
        col("transaction_count"))

  /** Threshold-crossing alert dedup via explicit per-state state: remembers
    * (revenue, txns, alerted) and emits one alert on first crossing.
    * thresholdOf: state -> revenue threshold (broadcast-sized closure). */
  def crossingAlerts(txns: Dataset[Txn],
      thresholdOf: Map[String, Double]): Dataset[NexusAlert] = {
    import txns.sparkSession.implicits._
    txns.groupByKey(_.state)
      .flatMapGroupsWithState[StateTotals, NexusAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (state: String, rows: Iterator[Txn], gs: GroupState[StateTotals]) =>
          val prev = gs.getOption.getOrElse(StateTotals(state, 0.0, 0L))
          var rev = prev.revenue
          var n = prev.txns
          rows.foreach { t => rev += t.amount; n += 1 }
          val thr = thresholdOf.get(state)
          val wasOver = thr.exists(prev.revenue >= _)
          val isOver = thr.exists(rev >= _)
          gs.update(StateTotals(state, rev, n))
          if (!wasOver && isOver)
            Iterator(NexusAlert(state, rev, n,
              s"Economic nexus threshold crossed in $state"))
          else Iterator.empty
      }
  }
}
