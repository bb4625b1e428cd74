package graft.tax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Nexus monitoring, filing-deadline generation, and compliance alerts,
  * re-expressed from /root/reference/tax_engine/compliance.py.
  *
  * The reference's mutable checker state (`_registered_states`,
  * `_filed_periods`, compliance.py:210-242) becomes two explicit input
  * DataFrames — `registered(state_code)` and `filed(state_code,
  * period_start, period_end)` — keeping every pipeline pure and
  * cluster-shippable.
  */
object Compliance {
  import Dims.Money

  /** Per-state revenue + transaction-count aggregate from raw transactions
    * (cli.py:246-251): the one shuffle in the nexus pipeline, map-side
    * partialed by Catalyst. */
  def stateActivity(txns: DataFrame): DataFrame =
    txns.groupBy("state").agg(
      sum("amount").cast(Money).as("revenue"),
      count(lit(1)).as("transaction_count"))

  /** Nexus evaluation for per-state activity (compliance.py:244-342).
    *
    * Input columns: state, revenue, transaction_count [, physical_presence].
    * The three-way outcome (no-nexus states / no-threshold-data / economic
    * test) is a CASE tree over hashed threshold lookups. Output mirrors
    * `NexusStatus` (compliance.py:51-65); pcts emitted as doubles to mirror
    * the reference's float typing.
    */
  def checkNexus(activity: DataFrame): DataFrame =
    checkNexusUnsorted(activity)
      .orderBy(col("revenue_pct_of_threshold").desc, col("state"))

  /** [[checkNexus]] without the final sort — usable under Structured
    * Streaming (sorting is the caller's concern there). */
  def checkNexusUnsorted(activity: DataFrame): DataFrame = {
    val phys =
      if (activity.columns.contains("physical_presence")) Nil
      else Seq(lit(false).as("physical_presence"))

    val noNexus = col("state").isin(Dims.noNexusStates: _*)
    // every threshold row has a period: a NULL period is a lookup miss
    val noData = col("measurement_period").isNull
    val outside = noNexus || noData

    val revPct = when(col("revenue_threshold") > 0,
      col("revenue").cast(DoubleType) /
        col("revenue_threshold").cast(DoubleType) * 100).otherwise(lit(0.0))
    val txnPct = when(col("transaction_threshold").isNotNull,
      col("transaction_count").cast(DoubleType) /
        col("transaction_threshold").cast(DoubleType) * 100)

    // economic := revenue ≥ rev_thr OR (txn_thr defined AND count ≥ txn_thr)
    // (compliance.py:305-310)
    val economic = col("revenue") >= col("revenue_threshold") ||
      (col("transaction_threshold").isNotNull &&
        col("transaction_count") >= col("transaction_threshold"))

    val physical = col("physical_presence")

    // One projection per stage. The thresholds are replaced in stage 1,
    // and the pcts (stage 2) and the details (stage 3) read the replaced
    // values, so each of those reads sits one stage above the replacement.
    val state = col("state")
    val looked = activity.select(col("*") +: (phys ++ Seq(
      Dims.nexusRevenueThreshold(state).as("revenue_threshold"),
      Dims.nexusTransactionThreshold(state).as("transaction_threshold"),
      Dims.nexusPeriod(state).as("measurement_period"))): _*)
    val judged = looked.withColumns(ListMap(
      "has_nexus" ->
        when(noNexus, lit(false))
          .when(noData, physical)
          .otherwise(physical || economic),
      "nexus_types" ->
        when(noNexus, array().cast(ArrayType(StringType, containsNull = false)))
          .otherwise(filter(array(
            when(physical, lit("physical")),
            when(!noData && economic, lit("economic"))), x => x.isNotNull)),
      "revenue_threshold" ->
        when(outside, lit(BigDecimal(0)).cast(Money))
          .otherwise(col("revenue_threshold")),
      "transaction_threshold" ->
        when(outside, lit(null).cast(IntegerType))
          .otherwise(col("transaction_threshold"))))
    val measured = judged.withColumns(ListMap(
      "revenue_pct_of_threshold" -> when(outside, lit(0.0)).otherwise(revPct),
      "transaction_pct_of_threshold" ->
        when(outside, lit(null).cast(DoubleType)).otherwise(txnPct)))
    // approaching := (rev_pct ≥ 80 OR txn_pct ≥ 80) AND NOT has_nexus
    // (compliance.py:316, 340)
    val approaching =
      when(outside, lit(false))
        .otherwise((col("revenue_pct_of_threshold") >= 80 ||
          coalesce(col("transaction_pct_of_threshold") >= 80, lit(false))) &&
          !col("has_nexus"))
    val details =
      when(noNexus, concat(col("state"), lit(" has no sales tax")))
        .when(noData, lit("No economic nexus data available"))
        .otherwise(concat_ws("; ",
          format_string("Revenue: $%,.2f / $%,.2f (%.1f%%)",
            col("revenue").cast(DoubleType),
            col("revenue_threshold").cast(DoubleType),
            col("revenue_pct_of_threshold")),
          when(col("transaction_threshold").isNotNull,
            format_string("Transactions: %d / %d (%.1f%%)",
              col("transaction_count"), col("transaction_threshold"),
              col("transaction_pct_of_threshold"))),
          concat(lit("Period: "), col("measurement_period"))))
    measured.select(
      measured.columns.toSeq.filter(_ != "measurement_period").map(col) ++
        Seq(approaching.as("approaching_threshold"), details.as("details")): _*)
  }

  /** Monthly/quarterly/annual filing periods for a year, generated with
    * `sequence` + `explode` (the reference's only row-generating loop,
    * compliance.py:371-481). `statesWithFreq` columns: state_code,
    * estimated_annual_liability. Frequency auto-derived from liability
    * (compliance.py:186-200) unless a `frequency` column is supplied. */
  def filingDeadlines(statesWithFreq: DataFrame, yr: Int,
      asOf: java.time.LocalDate, filed: Option[DataFrame] = None): DataFrame = {
    val asOfCol = lit(java.sql.Date.valueOf(asOf))

    val withFreq =
      if (statesWithFreq.columns.contains("frequency")) statesWithFreq
      else statesWithFreq.withColumn("frequency",
        when(col("estimated_annual_liability") >= 4800, "monthly")
          .when(col("estimated_annual_liability") >= 1200, "quarterly")
          .otherwise("annual"))

    // One sequence-per-frequency: monthly 12, quarterly 4, annual 1.
    val periods = withFreq.withColumn("period_start",
      explode(when(col("frequency") === "monthly",
        sequence(make_date(lit(yr), lit(1), lit(1)),
          make_date(lit(yr), lit(12), lit(1)), expr("interval 1 month")))
        .when(col("frequency") === "quarterly",
          sequence(make_date(lit(yr), lit(1), lit(1)),
            make_date(lit(yr), lit(10), lit(1)), expr("interval 3 month")))
        .otherwise(array(make_date(lit(yr), lit(1), lit(1))))))
      .withColumn("period_end",
        when(col("frequency") === "monthly", last_day(col("period_start")))
          .when(col("frequency") === "quarterly",
            last_day(add_months(col("period_start"), 2)))
          .otherwise(make_date(lit(yr), lit(12), lit(31))))

    // Due date = due_day of the month after period end, Dec→Jan rollover
    // (compliance.py:171-183).
    val nextMonth = add_months(col("period_end"), 1)
    val dueDate = make_date(year(nextMonth), month(nextMonth),
      coalesce(Dims.dueDay(col("state_code")), lit(Dims.DefaultDueDay)))

    val withFiled = filed match {
      case Some(f) =>
        val fk = f.select(col("state_code").as("fl_state"),
          col("period_start").as("fl_start"), col("period_end").as("fl_end"),
          lit(true).as("is_filed_raw"))
        val withDue = periods.withColumn("due_date", dueDate)
        withDue.join(broadcast(fk),
          col("state_code") === col("fl_state") &&
            col("period_start") === col("fl_start") &&
            col("period_end") === col("fl_end"), "left")
          .select(withDue.columns.toSeq.map(col) :+
            coalesce(col("is_filed_raw"), lit(false)).as("is_filed"): _*)
      case None => periods.withColumns(ListMap(
        "due_date" -> dueDate, "is_filed" -> lit(false)))
    }

    val overdue = col("due_date") < asOfCol && !col("is_filed")
    withFiled.withColumns(ListMap(
      "is_overdue" -> overdue,
      "days_until_due" -> datediff(col("due_date"), asOfCol),
      "estimated_liability" ->
        (col("estimated_annual_liability") /
          when(col("frequency") === "monthly", 12)
            .when(col("frequency") === "quarterly", 4).otherwise(1))
          .cast(DecimalType(18, 6)),
      "status" ->
        when(col("is_filed"), "filed")
          .when(overdue, "overdue")
          .otherwise("pending")))
  }

  /** Overdue filings across registered states (compliance.py:483-497). */
  def overdueFilings(registered: DataFrame, yr: Int,
      asOf: java.time.LocalDate, filed: Option[DataFrame] = None): DataFrame =
    filingDeadlines(
      registered.withColumn("estimated_annual_liability",
        lit(BigDecimal(0)).cast(Money)), yr, asOf, filed)
      .filter(col("is_overdue"))
      .orderBy("due_date", "state_code")

  /** Compliance alerts (compliance.py:499-593): the unregistered-nexus
    * anti-join (critical), approaching-threshold warnings, and overdue-filing
    * alerts; sorted by severity rank with deterministic tie-breaks (Python's
    * sort is stable; Spark's is not — state/message secondaries pin order). */
  def alerts(activity: DataFrame, registered: DataFrame,
      asOf: java.time.LocalDate, filed: Option[DataFrame] = None): DataFrame = {
    // the alert union re-sorts at the end — checkNexus's rev-pct sort would
    // be thrown away, so use the unsorted variant
    val nexus = checkNexusUnsorted(activity)
    val reg = registered.select(upper(col("state_code")).as("reg_state"))

    // Display formatting derived from exact values, not float printf:
    //  - pct rounds via floor(x + 0.5) (engine-identical; C/Python %.0f
    //    round half-even, Java HALF_UP — deviation only at exact halves);
    //  - revenue renders from exact cents (comma-grouped int + 2-digit
    //    fraction), matching the reference's f"{v:,.2f}" text.
    val pctInt = floor(col("revenue_pct_of_threshold") + lit(0.5)).cast(LongType)
    val revCents = (col("revenue") * 100).cast(LongType)
    val revMoney = concat(format_number((revCents / 100).cast(LongType), 0),
      lit("."), lpad((revCents % 100).cast(StringType), 2, "0"))

    val nexusAlerts = nexus
      .join(broadcast(reg), col("state") === col("reg_state"), "left")
      .withColumn("unregistered", col("reg_state").isNull)
      .filter((col("has_nexus") && col("unregistered")) || col("approaching_threshold"))
      .select(
        when(col("has_nexus") && col("unregistered"), "critical")
          .otherwise("warning").as("severity"),
        col("state").as("state_code"),
        when(col("has_nexus") && col("unregistered"),
          concat(lit("Economic nexus established in "), col("state"),
            lit(" but not registered for sales tax collection")))
          .otherwise(concat(lit("Approaching economic nexus threshold in "),
            col("state"), lit(" ("), pctInt.cast(StringType),
            lit("% of revenue limit)"))).as("message"),
        when(col("has_nexus") && col("unregistered"),
          concat(lit("Register for sales tax in "), col("state"),
            lit(" immediately. Revenue: $"), revMoney))
          .otherwise(concat(lit("Monitor "), col("state"),
            lit(" activity. Prepare registration materials proactively.")))
          .as("action_required"),
        lit(null).cast(DateType).as("deadline"))

    val overdue = overdueFilings(
      registered.select(upper(col("state_code")).as("state_code")),
      asOf.getYear, asOf, filed)
      .withColumn("days_late", datediff(lit(java.sql.Date.valueOf(asOf)), col("due_date")))
      .select(
        when(col("days_late") > 30, "critical").otherwise("warning").as("severity"),
        col("state_code"),
        format_string("%s return for %s to %s is %d days past due",
          col("state_code"), date_format(col("period_start"), "yyyy-MM-dd"),
          date_format(col("period_end"), "yyyy-MM-dd"), col("days_late")).as("message"),
        format_string("File %s return immediately. Late penalties may apply.",
          col("state_code")).as("action_required"),
        col("due_date").as("deadline"))

    nexusAlerts.unionByName(overdue)
      .orderBy(
        when(col("severity") === "critical", 0)
          .when(col("severity") === "warning", 1).otherwise(2),
        col("state_code"), col("message"))
  }
}
