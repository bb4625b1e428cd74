package graft.tax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Report documents and sinks, re-expressed from
  * /root/reference/tax_engine/report_generator.py.
  *
  * Reference report dicts become single-row DataFrames of nested structs —
  * `to_json(struct(...))`-able at the edge — and the CSV/JSON sinks become
  * `df.write` calls. Money renders as double in JSON to mirror the
  * reference's Decimal→float encoder (report_generator.py:33-54);
  * `generated_date` is an explicit parameter (determinism — the reference
  * stamps date.today()).
  */
object Reports {
  /** Tax liability summary (report_generator.py:73-130): one row with a
    * global summary struct + per-state breakdown array (sorted by state),
    * folded from [[taxSummaryFlat]]'s rows so each figure is defined once. */
  def taxSummaryReport(taxed: DataFrame, periodLabel: String = "",
      generatedDate: String = ""): DataFrame =
    taxSummaryFold(taxSummaryFlat(taxed), periodLabel, generatedDate)

  /** [[taxSummaryReport]] from rows shaped like [[taxSummaryFlat]]'s — a
    * caller that already holds those rows (collected, as a local relation)
    * folds the document without aggregating the transactions again. */
  def taxSummaryFold(flat: DataFrame, periodLabel: String,
      generatedDate: String): DataFrame = {
    val isSummary = col("section") === "summary"
    flat.agg(
      lit("tax_liability_summary").as("report_type"),
      lit(periodLabel).as("period"),
      lit(generatedDate).as("generated_date"),
      first(when(isSummary, struct(
        col("transaction_count").as("total_transactions"),
        col("taxable_amount").as("total_taxable"),
        col("tax_amount").as("total_tax"),
        col("exempt_amount").as("total_exempt"),
        col("exempt_count").as("exempt_transactions"),
        col("effective_rate").as("overall_effective_rate"))),
        ignoreNulls = true).as("summary"),
      array_sort(collect_list(when(!isSummary, struct(
        col("state"), col("transaction_count"), col("taxable_amount"),
        col("tax_amount").as("tax_collected"), col("exempt_amount"),
        col("effective_rate"))))).as("state_breakdown"))
  }

  /** Oracle-flat projection of [[taxSummaryReport]]: per-state breakdown
    * rows (section='state') plus the global summary row (section='summary').
    * The driver's hasher cannot sort nested arrays, so the DECLARED query
    * flattens the document; [[taxSummaryReport]] folds these rows back into
    * the nested one. */
  def taxSummaryFlat(taxed: DataFrame): DataFrame = {
    val st = TaxCalc.summaryByState(taxed).select(
      lit("state").as("section"), col("state"),
      col("transaction_count"),
      col("taxable_amount").cast(DoubleType).as("taxable_amount"),
      col("tax_amount").cast(DoubleType).as("tax_amount"),
      col("exempt_amount").cast(DoubleType).as("exempt_amount"),
      col("exempt_count"), col("effective_rate"))
    val sm = TaxCalc.batchAgg(taxed).select(
      lit("summary").as("section"), lit(null).cast(StringType).as("state"),
      col("transaction_count"),
      col("total_taxable").cast(DoubleType).as("taxable_amount"),
      col("total_tax").cast(DoubleType).as("tax_amount"),
      col("total_exempt").cast(DoubleType).as("exempt_amount"),
      col("exempt_count"),
      when(col("total_taxable") > 0, col("total_tax").cast(DoubleType) /
        col("total_taxable").cast(DoubleType)).otherwise(0.0)
        .as("effective_rate"))
    st.unionByName(sm)
  }

  /** Oracle-flat projection of [[refundReport]]: one row per report fact —
    * sections summary / recovery / oldest_eligible / newest_eligible /
    * state / reason over shared (section, key, amount, n, d) columns. */
  def refundFlat(over: DataFrame, totalReviewed: Long): DataFrame = {
    val nullKey = lit(null).cast(StringType)
    val nullAmt = lit(null).cast(DoubleType)
    val nullN = lit(null).cast(LongType)
    val nullD = lit(null).cast(DateType)
    val s = Refunds.summary(over, totalReviewed)
    val sm = s.select(lit("summary").as("section"), nullKey.as("key"),
      col("total_overpayment").cast(DoubleType).as("amount"),
      col("overpayment_count").as("n"), nullD.as("d"))
    val rec = s.select(lit("recovery").as("section"), nullKey.as("key"),
      col("estimated_recovery").cast(DoubleType).as("amount"),
      col("total_transactions_reviewed").as("n"), nullD.as("d"))
    val oldest = s.select(lit("oldest_eligible").as("section"),
      nullKey.as("key"), nullAmt.as("amount"), nullN.as("n"),
      col("oldest_eligible").as("d"))
    val newest = s.select(lit("newest_eligible").as("section"),
      nullKey.as("key"), nullAmt.as("amount"), nullN.as("n"),
      col("newest_eligible").as("d"))
    val byState = Refunds.byState(over).select(lit("state").as("section"),
      col("state").as("key"), col("overpayment").cast(DoubleType).as("amount"),
      nullN.as("n"), nullD.as("d"))
    val byReason = Refunds.byReason(over).select(lit("reason").as("section"),
      col("reason_key").as("key"),
      col("overpayment").cast(DoubleType).as("amount"),
      nullN.as("n"), nullD.as("d"))
    sm.unionByName(rec).unionByName(oldest).unionByName(newest)
      .unionByName(byState).unionByName(byReason)
  }

  /** Nexus analysis report (report_generator.py:136-185): bucket counts +
    * the three per-bucket arrays (bounded: keyed by state, ≤ 51 entries). */
  def nexusReport(nexus: DataFrame, generatedDate: String = ""): DataFrame = {
    val bucketed = nexus.withColumn("bucket",
      when(col("has_nexus"), "nexus_established")
        .when(col("approaching_threshold"), "approaching_threshold")
        .otherwise("below_threshold"))
    bucketed.agg(
      lit("nexus_analysis").as("report_type"),
      lit(generatedDate).as("generated_date"),
      struct(
        count(when(col("bucket") === "nexus_established", 1)).as("states_with_nexus"),
        count(when(col("bucket") === "approaching_threshold", 1)).as("states_approaching"),
        count(when(col("bucket") === "below_threshold", 1)).as("states_below_threshold"),
        count(lit(1)).as("total_states_analyzed")).as("summary"),
      array_sort(collect_list(when(col("bucket") === "nexus_established",
        struct(col("state"), col("nexus_types"),
          col("revenue").cast(DoubleType).as("revenue"), col("transaction_count").as("transactions"),
          col("details"))))).as("nexus_established"),
      array_sort(collect_list(when(col("bucket") === "approaching_threshold",
        struct(col("state"), col("revenue_pct_of_threshold").as("revenue_pct"),
          col("transaction_pct_of_threshold").as("transaction_pct"),
          col("revenue").cast(DoubleType).as("revenue"), col("details"))))).as("approaching_threshold"),
      array_sort(collect_list(when(col("bucket") === "below_threshold",
        struct(col("state"), col("revenue_pct_of_threshold").as("revenue_pct"),
          col("revenue").cast(DoubleType).as("revenue"))))).as("below_threshold"))
  }

  /** Filing status report (report_generator.py:191-238): overdue / upcoming
    * (0-30 days) / filed partitions with counts. */
  def filingStatusReport(deadlines: DataFrame, generatedDate: String = ""): DataFrame = {
    val d = deadlines.withColumn("deadline_row", struct(
      col("state_code").as("state"),
      concat(date_format(col("period_start"), "yyyy-MM-dd"), lit(" to "),
        date_format(col("period_end"), "yyyy-MM-dd")).as("period"),
      date_format(col("due_date"), "yyyy-MM-dd").as("due_date"),
      col("status"), col("days_until_due"),
      col("estimated_liability").cast(DoubleType).as("estimated_liability")))
    d.agg(
      lit("filing_status").as("report_type"),
      lit(generatedDate).as("generated_date"),
      struct(
        count(lit(1)).as("total_filings"),
        count(when(col("is_overdue"), 1)).as("overdue"),
        count(when(!col("is_overdue") &&
          col("days_until_due").between(0, 30), 1)).as("upcoming_30_days"),
        count(when(col("status") === "filed", 1)).as("filed")).as("summary"),
      array_sort(collect_list(when(col("is_overdue"), col("deadline_row"))))
        .as("overdue_filings"),
      array_sort(collect_list(when(!col("is_overdue") &&
        col("days_until_due").between(0, 30), col("deadline_row"))))
        .as("upcoming_filings"))
  }

  /** Refund opportunity report (report_generator.py:245-310).
    *
    * `overpayment_details` embeds only the `maxDetails` LARGEST overpayments
    * (the reference embeds every record — fine at 57 rows, not at 100 TB
    * where one array would hold the whole overpayment table). Full detail
    * belongs in a flat partitioned sink ([[transactionDetails]]). */
  def refundReport(over: DataFrame, totalReviewed: Long,
      generatedDate: String = "", maxDetails: Int = 100): DataFrame = {
    val summary = Refunds.summary(over, totalReviewed)
      .select(struct(
        col("total_transactions_reviewed").as("transactions_reviewed"),
        col("overpayment_count").as("overpayments_found"),
        col("total_overpayment").cast(DoubleType).as("total_overpayment"),
        col("estimated_recovery").cast(DoubleType).as("estimated_recovery"),
        lit("85%").as("recovery_rate_assumed")).as("summary"))
    val byState = Refunds.byState(over)
      .select(struct(col("overpayment").cast(DoubleType).as("amount"),
        col("state")).as("r"))
      .agg(reverse(array_sort(collect_list(col("r")))).as("state_breakdown"))
    val byReason = Refunds.byReason(over)
      .select(struct(col("overpayment").cast(DoubleType).as("amount"),
        col("reason_key").as("reason")).as("r"))
      .agg(reverse(array_sort(collect_list(col("r")))).as("reason_breakdown"))
    val details = over
      .orderBy(col("overpayment").desc, col("transaction_id"))
      .limit(maxDetails)
      .select(struct(
        col("transaction_id"), date_format(col("transaction_date"), "yyyy-MM-dd").as("date"),
        col("state"), col("sale_amount").cast(DoubleType).as("sale_amount"),
        col("tax_paid").cast(DoubleType).as("tax_paid"), col("tax_owed").cast(DoubleType).as("tax_owed"),
        col("overpayment").cast(DoubleType).as("overpayment"), col("reason"),
        col("refund_eligible").as("eligible")).as("d"))
      .agg(array_sort(collect_list(col("d"))).as("overpayment_details"))
    summary.crossJoin(byState).crossJoin(byReason).crossJoin(details)
      .select(lit("refund_analysis").as("report_type"),
        lit(generatedDate).as("generated_date"),
        col("summary"), col("state_breakdown"), col("reason_breakdown"),
        col("overpayment_details"))
  }

  /** JSON sink (report_generator.py:316-329): the report row as a JSON
    * string / written file. */
  def toJsonString(report: DataFrame): String =
    report.toJSON.head()

  def writeJson(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("overwrite").json(path)

  /** CSV sink for a tabular report section (report_generator.py:331-370):
    * callers pass the section as a flat DataFrame. */
  def writeCsv(section: DataFrame, path: String): Unit =
    section.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Key/value unpivot of a ONE-ROW dict section — the reference's second
    * `to_csv` mode (report_generator.py:358-362: a dict section exports as
    * `key,value` rows, Decimals coerced to float). `stack()` turns the
    * single summary row into (key, value) rows in-plan; every value is cast
    * to DOUBLE, mirroring the reference's float(v) coercion. */
  def keyValueSection(section: DataFrame): DataFrame = {
    val cols = section.columns
    require(cols.nonEmpty, "key/value export needs at least one column")
    val args = cols
      .flatMap(c => Seq(s"'${c.replace("'", "''")}'", s"CAST(`$c` AS DOUBLE)"))
      .mkString(", ")
    section.selectExpr(s"stack(${cols.length}, $args) AS (key, value)")
  }

  /** CSV sink for a dict section as `key,value` rows
    * (report_generator.py:358-362). */
  def writeCsvKeyValue(section: DataFrame, path: String): Unit =
    writeCsv(keyValueSection(section), path)

  /** Per-transaction detail CSV (report_generator.py:372-413): fixed 10-col
    * layout, `%`-formatted effective rate, empty string for null city.
    * The rate string is derived from the EXACT decimal rate (scale-4 cast →
    * string), not printf on a double: the text is identical ("8.2500%") but
    * float printf is engine-sensitive at ties (Java %.Nf rounds HALF_UP, C
    * half-even) while a decimal's rendering is not. */
  def transactionDetails(taxed: DataFrame): DataFrame =
    taxed.select(
      col("transaction_id"), col("state"),
      coalesce(col("city"), lit("")).as("city"),
      col("taxable_amount").cast(DoubleType).as("taxable_amount"),
      col("state_tax").cast(DoubleType).as("state_tax"),
      col("local_tax").cast(DoubleType).as("local_tax"),
      col("tax_amount").cast(DoubleType).as("total_tax"),
      concat(((col("state_rate") + col("local_rate")) * lit(100))
        .cast(DecimalType(10, 4)).cast(StringType), lit("%"))
        .as("effective_rate"),
      col("is_exempt"), col("exemption_reason"))

  def exportTransactionDetails(taxed: DataFrame, path: String): Unit =
    writeCsv(transactionDetails(taxed), path)

  /** Display projection for the per-transaction results table
    * (cli.py:349-372): transaction id truncated to its first 12 chars
    * (op-substr-limit, cli.py:100) — the truncation runs in the plan
    * (`substring`), not on collected rows, so display prep stays
    * distributed. */
  def displayResults(taxed: DataFrame): DataFrame =
    taxed.select(
      substring(col("transaction_id"), 1, 12).as("id"),
      col("state"), coalesce(col("city"), lit("-")).as("city"),
      col("taxable_amount").cast(DoubleType).as("amount"),
      col("tax_amount").cast(DoubleType).as("tax"),
      col("effective_rate"), col("is_exempt"))

  /** Display projection for the quick-scan overpayment table
    * (cli.py:349-377): id truncated to 12 chars, reason to 40
    * (op-substr-limit, cli.py:366,371). */
  def displayQuickScan(hits: DataFrame): DataFrame =
    hits.select(
      substring(col("transaction_id"), 1, 12).as("id"),
      col("state"),
      col("sale_amount").cast(DoubleType).as("sale_amount"),
      col("tax_paid").cast(DoubleType).as("tax_paid"),
      col("tax_owed").cast(DoubleType).as("tax_owed"),
      col("overpayment").cast(DoubleType).as("overpayment"),
      substring(col("reason"), 1, 40).as("reason"))

  /** Console rendering (format_text, report_generator.py:419-508) is a
    * driver-side presentation concern — see [[TextReport]] / [[graft.Cli]]. */
}
