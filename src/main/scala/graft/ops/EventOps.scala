package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Event-log analytics: ordered funnels, cohort retention, latest-record
  * compaction, and calendar gap-fill — the standard product-analytics
  * surface over an append-only event stream, expressed as lazy DataFrame
  * programs so Catalyst keeps filters on the scan and aggregations
  * map-side-partial.
  *
  * The reference engine has no event-log module; these extend the rebuild
  * the same way the dedup/similarity families do (SURVEY §8.1) and follow
  * its conventions: deterministic outputs (total tie-break orders), flat
  * oracle-hashable schemas, and nanosecond-long timestamps end to end
  * (the events fixture arrives as TIMESTAMP(NANOS) → `nanosAsLong`).
  */
object EventOps {

  /** Ordered conversion funnel: for each user, the timestamp of the first
    * stage-1 event, the first stage-2 event STRICTLY AFTER it, and so on —
    * the "view → click → purchase within order" question, where an early
    * purchase before the first view must NOT count.
    *
    * Returns one row per user who reached stage 1: the per-stage first
    * timestamps (`ts_<stage>`, null once the chain breaks) and `n_stages`
    * reached. Funnel drop-off counts are a trivial aggregate on top;
    * keeping per-user rows preserves time-to-convert analysis
    * (`ts_purchase - ts_view`).
    *
    * Scale: one filtered min-aggregate per stage, each keyed by user —
    * partial aggregation runs map-side before each shuffle, and every
    * stage's events filter (`event_type = s`) is pushed to the scan. The
    * per-stage frames join on the SAME user key, so after the first
    * shuffle all joins are co-partitioned (no re-exchange under AQE).
    * Stages are sequential by construction (stage i needs stage i-1's
    * timestamps) — depth = funnel length, each level near-linear. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct == stages, "funnel stages must be distinct")
    def tsName(s: String) = s"ts_$s"
    val first = events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as(tsName(stages.head)))
    val chained = stages.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (st, i)) =>
        val prev = tsName(stages(i - 1))
        val next = events.filter(col("event_type") === st)
          .select(col("user_id"), col("ts").as("_t"))
          .join(acc.select(col("user_id"), col(prev)), Seq("user_id"))
          .filter(col("_t") > col(prev))
          .groupBy(col("user_id")).agg(min("_t").as(tsName(st)))
        acc.join(next, Seq("user_id"), "left")
    }
    chained.select(
      col("user_id") +:
        stages.map(s => col(tsName(s))) :+
        stages.map(s => when(col(tsName(s)).isNotNull, 1).otherwise(0))
          .reduce(_ + _).as("n_stages"): _*)
  }

  /** Cohort retention: users bucketed by their FIRST-ACTIVITY day (the
    * cohort), then for each (cohort, day-offset) the number of cohort
    * members active that many days later — the classic retention triangle,
    * at day granularity.
    *
    * Day arithmetic stays in integer epoch-day space (`ts div 86400e9`):
    * no timestamp/timezone conversion, and exact for any 64-bit
    * nanosecond timestamp (double math would lose precision above 2^53).
    *
    * Scale: distinct (user, day) first — that collapses the event volume
    * to at most users × active-days before anything else shuffles; the
    * cohort min rides the same user-keyed partitioning, and because
    * (user, day) is unique after the distinct, the final count is a plain
    * `count(*)` — no count-distinct expansion. Output is bounded by
    * cohorts × horizon, independent of event count. */
  def retention(events: DataFrame): DataFrame = {
    val dayNs = 86400L * 1000L * 1000L * 1000L
    // `div`, not `/`: Column./ on longs goes through DOUBLE, and a 2^60-ns
    // timestamp is not double-representable — integer division is exact
    val active = events
      .select(col("user_id"), expr(s"`ts` div ${dayNs}L").as("day"))
      .distinct()
    val cohort = active.groupBy("user_id").agg(min("day").as("cohort_day"))
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Latest-record-per-key compaction — the CDC / upsert-log primitive:
    * one row per key group carrying the payload of the record with the
    * greatest (orderCols) tuple. Ties are impossible by construction when
    * the LAST order column is unique (callers pass a record id there —
    * enforcing the same total-order discipline as the sort family's
    * deterministic tie-breaks).
    *
    * Scale: a single `max_by(struct(payload), struct(order))` aggregate —
    * partial aggregation keeps one candidate row per key per partition
    * before the shuffle, so this moves O(keys) data, not O(records): the
    * right shape for compacting a 100 TB change log. The window
    * `row_number = 1` formulation (what the oracle uses) would instead
    * sort every group; same result, strictly worse plan. */
  def compactLatest(records: DataFrame, keys: Seq[String],
      orderCols: Seq[String], payload: Seq[String]): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty)
    val carried = (orderCols ++ payload).distinct
    val picked = records.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*),
        struct(orderCols.map(col): _*)).as("_latest"))
    picked.select(keys.map(col) ++
      carried.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Calendar gap-fill + running total — the time-series resample
    * primitive: per key, a dense DAILY grid from the global min to max
    * day, the day's aggregated value (0 where no rows exist — the whole
    * point of the operator), and the running cumulative sum.
    *
    * Values flow as exact integer cents (`centsExpr` must yield a LONG):
    * double summation is order-sensitive and would not reproduce across
    * engines or runs; integer sums are exact in any order.
    *
    * Scale: the daily pre-aggregate collapses input volume to keys × days
    * BEFORE the grid join, so the left join is between two key×day-sized
    * frames, not the fact table; the grid side is keys × calendar-days
    * (tiny — broadcast). The cumulative window sorts only each key's
    * days, bounded by the calendar horizon, not the data. */
  def gapFillDaily(rows: DataFrame, keyCol: String, dayCol: Column,
      centsExpr: Column): DataFrame = {
    val daily = rows
      .groupBy(col(keyCol), dayCol.as("day"))
      .agg(sum(centsExpr).as("cents"))
    val bounds = rows.agg(min(dayCol).as("d0"), max(dayCol).as("d1"))
    val grid = rows.select(col(keyCol)).distinct()
      .crossJoin(bounds)
      .select(col(keyCol),
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    grid.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .withColumn("cum_cents",
        sum("cents").over(Window.partitionBy(keyCol).orderBy("day")))
  }

  /** Slowly-changing-dimension Type-2 build from a change log: per key,
    * drop no-change records (the tracked attributes null-safe-equal the
    * previous record's), then emit one VERSION row per surviving change
    * with a half-open validity interval — `valid_from` = the change's
    * order value, `valid_to` = the NEXT change's (exclusive), NULL while
    * current — plus a per-key version number and an `is_current` flag.
    * The warehouse dimension-versioning primitive that turns a CDC feed
    * into point-in-time joinable history (the as-of join's natural input).
    *
    * Determinism: `tieCol` must make (tsCol, tieCol) unique per key
    * (callers pass the record id — the sort family's total-order
    * discipline). Both window passes partition on the same key, so
    * Catalyst reuses one exchange; per-group sort is bounded by a key's
    * change count, never the table.
    *
    * `tsCol` may be any orderable integer column (epoch nanos here —
    * exact long arithmetic, no timestamp/timezone conversion). */
  def scd2(changes: DataFrame, keyCol: String, tsCol: Column, tieCol: Column,
      attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "scd2 needs at least one tracked attribute")
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
    val attrs = struct(attrCols.map(col): _*)
    val changed = changes
      .withColumn("_ts", tsCol)
      .withColumn("_prev", lag(attrs, 1).over(w))
      .filter(not(attrs <=> col("_prev")))
    val w2 = Window.partitionBy(keyCol).orderBy(col("_ts"), tieCol)
    changed
      .withColumn("valid_from", col("_ts"))
      .withColumn("valid_to", lead(col("_ts"), 1).over(w2))
      .withColumn("version", row_number().over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_ts", "_prev")
  }

  /** Daily + trailing `windowDays`-day rolling DISTINCT active users
    * (DAU / WAU) over the event log. Rolling COUNT(DISTINCT) is NOT
    * window-decomposable — per-day distinct counts cannot be merged, and
    * a RANGE-frame `count(distinct)` window is unsupported — so this uses
    * the scalable exact formulation: each (user, active-day) row explodes
    * into the `windowDays` window-end days it covers (a BOUNDED ×W
    * multiplier, nothing data-dependent), a distinct collapses multi-day
    * activity inside one window, and a plain count per window-end day
    * finishes it.
    *
    * Day arithmetic stays in integer epoch-day space (`ts div 86400e9`
    * on long-nanos ts — [[retention]]'s discipline). Window-end days past
    * the last active day are clipped (a 1-row bounds frame broadcast into
    * a non-equi join); days with rolling-but-no-daily activity report
    * `dau = 0`.
    *
    * Scale: the (user, day) distinct collapses event volume FIRST (at
    * most users × active-days rows); the cover explode multiplies that by
    * exactly W; both distincts and the final counts are hash aggregates
    * with map-side partials; output is bounded by the calendar span. The
    * active frame feeds three consumers (cover, bounds, daily) — persisted
    * for the session, Spark plans having no common-subtree elimination; a
    * caller that sweeps many event logs frees it with
    * `spark.catalog.clearCache()`. */
  def rollingActives(events: DataFrame,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val dayNs = 86400L * 1000L * 1000L * 1000L
    val active = events
      .select(col("user_id"), expr(s"`ts` div ${dayNs}L").as("day"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val cover = active
      .select(col("user_id"), explode(sequence(col("day"),
        col("day") + lit((windowDays - 1).toLong))).as("day"))
      .distinct()
    val bounds = active.agg(max(col("day")).as("d1"))
    val wau = cover.join(broadcast(bounds), col("day") <= col("d1"))
      .groupBy("day").agg(count(lit(1)).as(s"wau$windowDays"))
    val dau = active.groupBy("day").agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        col(s"wau$windowDays"))
  }

  /** Event-type transition matrix — the first-order Markov view of the
    * event log: for every (prev → next) pair observed inside some user's
    * (ts, event_id)-ordered stream, the transition count and the
    * row-normalized probability `p = n / Σ n(prev → *)`.
    *
    * Determinism: `event_id` makes (ts, event_id) unique per user (the
    * record id — the sort family's total-order discipline); `ts` is
    * used for ORDERING ONLY, so any orderable representation (timestamp
    * of either precision, epoch long) works unmodified. The probability
    * is ONE division of exact integer counts — bit-stable cross-engine.
    *
    * Scale: the lag window sorts each user's events (bounded per-user,
    * never the table) and the count aggregate is pair-keyed with map-side
    * partials. Row normalization is a WINDOW over the ≤ |types|²-row
    * counts frame, not a self-join against a totals aggregate: Spark has
    * no common-subtree elimination, so the join formulation would run
    * the full event-log window+count lineage twice (seen in the plan
    * audit) — the window form is one pass, with the normalizing exchange
    * touching only the bounded counts. Output ≤ |types|², independent of
    * event volume. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy("prev_type")
    counts
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast(DoubleType) /
          sum("n").over(wTot).cast(DoubleType)).as("p"))
  }

  /** Point-in-time join of a record stream against the SCD2 dimension
    * built from its own change log — the lookup SCD2 exists for: each
    * record gets the dimension attributes that were CURRENT at its
    * timestamp. Executed as the backward-inclusive AS-OF join on
    * (key, valid_from) — one sorted union + window pass
    * ([[AsOfJoin.asOf]]), which never explodes validity intervals into a
    * range join — while remaining row-identical to the half-open
    * interval formulation `valid_from <= t < valid_to` (the DuckDB
    * oracle checks exactly that cross-formulation equivalence).
    *
    * Changes pre-collapse to ONE state row per (user_id, tus) via
    * [[compactLatest]] (last record by `event_id` wins) so version
    * boundaries are unique and both formulations agree when several
    * change records share a timestamp.
    *
    * Returns the left records with `dim_type` (the `event_type` as of the
    * record's time) and `version`.
    *
    * Match semantics: the default `keepUnmatched = false` DROPS left
    * records with no as-of dimension state — inner-join-like. With the
    * dimension built from the events' own change log (this method's
    * shape) a state always exists at each record's timestamp, so the
    * filter is a no-op; reusing the join against an INDEPENDENT dimension
    * whose history starts later than the records is where the choice
    * bites — pass the external log as `dimEvents` with
    * `keepUnmatched = true` to surface unmatched records with null
    * `dim_type`/`version` instead of hiding them. */
  def pitJoin(events: DataFrame, dimEvents: Option[DataFrame] = None,
      keepUnmatched: Boolean = false): DataFrame = {
    val changes = compactLatest(
      dimEvents.getOrElse(events)
        .select("user_id", "tus", "event_id", "event_type"),
      keys = Seq("user_id", "tus"), orderCols = Seq("event_id"),
      payload = Seq("event_type"))
    val dim = scd2(changes, "user_id", col("tus"), col("event_id"),
      Seq("event_type"))
      .select(col("user_id"), col("event_type").as("dim_type"),
        col("valid_from").as("tus"), col("version"))
    AsOfJoin.asOf(
      left = events.select("event_id", "user_id", "tus"),
      right = dim,
      keys = Seq("user_id"), leftTs = "tus", rightTs = "tus",
      valueCols = Seq("dim_type", "version"),
      rightIdCol = Some("version"))
      .filter(lit(keepUnmatched) || col("dim_type").isNotNull)
      .select("event_id", "user_id", "dim_type", "version")
  }

  /** Rolling `windowDays`-day aggregate via a RANGE-frame window over the
    * DAILY pre-aggregate: per key and calendar day, the day's exact-cents
    * total plus the trailing-window sum, days-present count, and their
    * double average (one division of exact integers — bit-stable
    * cross-engine). The time-series smoothing primitive (7-day revenue,
    * 28-day actives, ...).
    *
    * Scale: the daily pre-aggregate collapses the fact table to
    * keys × days BEFORE any window runs (same move as [[gapFillDaily]]),
    * so the range frame sorts bounded calendar-sized groups. RANGE on the
    * integer epoch-day — not ROWS — so missing days correctly shrink the
    * window instead of silently widening it to older rows. */
  def rollingDaily(rows: DataFrame, keyCol: String, dayNum: Column,
      centsExpr: Column, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val daily = rows
      .groupBy(col(keyCol), dayNum.as("day_num"))
      .agg(sum(centsExpr).as("cents"))
    val w = Window.partitionBy(keyCol).orderBy("day_num")
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn("roll_cents", sum("cents").over(w))
      .withColumn("roll_days", count(lit(1)).over(w))
      .withColumn("roll_avg_cents",
        col("roll_cents").cast(org.apache.spark.sql.types.DoubleType) /
          col("roll_days").cast(org.apache.spark.sql.types.DoubleType))
  }
}
