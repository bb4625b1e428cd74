package graft.tax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Refund / overpayment analysis pipeline, re-expressed from the reference's
  * per-row loop (/root/reference/tax_engine/refund_analyzer.py) as lazy
  * DataFrame transforms sharing [[TaxCalc.withTax]]'s expression block —
  * exactly as the reference shares `calculator.calculate`
  * (refund_analyzer.py:148).
  *
  * Determinism: every entry point takes an explicit `asOf` date — the
  * reference's `as_of` parameter (refund_analyzer.py:137) — so nothing calls
  * now() inside an expression.
  */
object Refunds {
  import Dims.Money
  import TaxCalc.roundMoney

  /** Overpayment records (refund_analyzer.py:134-189): tax owed from the
    * shared calc block, overpayment = round(paid − owed) kept only when > 0,
    * reason CASE, and the statute-of-limitations window.
    *
    * SOL arithmetic is calendar-year (year ± n, same month/day —
    * refund_analyzer.py:130-131), NOT add_months: `make_date` mirrors that,
    * and yields NULL for Feb-29 ± non-leap-years where the reference's
    * `date()` ctor would raise — we define NULL ⇒ cutoff comparison false ⇒
    * treated via coalesce below.
    *
    * Input: normalized transactions with tax_paid. Output: one row per
    * overpayment. */
  def overpayments(txns: DataFrame, asOf: java.time.LocalDate): DataFrame = {
    val taxed = TaxCalc.withTax(txns)
    val asOfCol = lit(java.sql.Date.valueOf(asOf))

    val paid = coalesce(col("tax_paid"), lit(BigDecimal(0))).cast(Money)
    val withOver = taxed
      .withColumns(ListMap(
        "tax_paid" -> paid,
        "tax_owed" -> col("tax_amount"),
        "overpayment" -> roundMoney(paid - col("tax_amount"))))
      .filter(col("overpayment") > 0)

    // the SOL lookup feeds both the cutoff and the SOL date: one stage
    val withSolYears = withOver.withColumn("sol_years_eff",
      coalesce(Dims.solYears(col("state")), lit(Dims.DefaultSolYears)))
    // cutoff = as_of shifted back sol_years; eligible := txn_date >= cutoff
    val solCutoff = make_date(year(asOfCol) - col("sol_years_eff"),
      month(asOfCol), dayofmonth(asOfCol))
    val solDate = {
      // Calendar-year shift; the reference's date() ctor would raise on
      // Feb-29 + non-leap target (refund_analyzer.py:131) — our documented
      // policy clamps to Feb 28 (ANSI make_date would otherwise error).
      val yy = year(col("transaction_date")) + col("sol_years_eff")
      val mm = month(col("transaction_date"))
      val dd = dayofmonth(col("transaction_date"))
      val leap = (yy % 4 === 0 && yy % 100 =!= 0) || (yy % 400 === 0)
      make_date(yy, mm, when(mm === 2 && dd === 29 && !leap, 28).otherwise(dd))
    }

    // Reason derivation (refund_analyzer.py:156-170). `tax_paid > tax_owed`
    // is implied by overpayment > 0 for the rate-mismatch branch; the
    // reference formats rates as percentages with 4 decimals.
    val actualRate = col("tax_paid").cast(DoubleType) / col("amount").cast(DoubleType)
    val reason =
      when(col("is_exempt"),
        concat(lit("Exempt transaction taxed: "), col("exemption_reason")))
        .when(col("tax_owed") > 0,
          format_string("Rate mismatch: paid %.4f%%, correct rate %.4f%%",
            actualRate * 100, col("effective_rate") * 100))
        .otherwise(lit("Tax collected in no-tax jurisdiction"))

    // reason_key = reason up to the first ':' (refund_analyzer.py:219) —
    // derived independently so grouped consumers don't force the per-row
    // %.4f formatting (Catalyst prunes the unused `reason` column).
    val reasonKey =
      when(col("is_exempt"), "Exempt transaction taxed")
        .when(col("tax_owed") > 0, "Rate mismatch")
        .otherwise("Tax collected in no-tax jurisdiction")

    withSolYears.select(col("transaction_id"), col("transaction_date"),
      col("state"), col("city"), col("amount").as("sale_amount"),
      col("tax_paid"), col("tax_owed"), col("overpayment"),
      reason.as("reason"), reasonKey.as("reason_key"),
      coalesce(col("transaction_date") >= solCutoff, lit(false))
        .as("refund_eligible"),
      solDate.as("statute_of_limitations_date"))
  }

  /** Batch refund summary (refund_analyzer.py:191-252): single-pass global
    * aggregate with conditional min/max over eligible rows and the 85%
    * recovery projection. `totalReviewed` is the input row count (the
    * overpayments frame no longer knows it). */
  def summary(over: DataFrame, totalReviewed: Long): DataFrame =
    over.agg(
      coalesce(sum("overpayment"), lit(BigDecimal(0))).cast(Money)
        .as("total_overpayment"),
      count(lit(1)).as("overpayment_count"),
      min(when(col("refund_eligible"), col("transaction_date")))
        .as("oldest_eligible"),
      max(when(col("refund_eligible"), col("transaction_date")))
        .as("newest_eligible"),
      roundMoney(
        coalesce(sum(when(col("refund_eligible"), col("overpayment"))),
          lit(BigDecimal(0))) * lit(new java.math.BigDecimal("0.85")))
        .as("estimated_recovery"))
      .withColumn("total_transactions_reviewed", lit(totalReviewed))

  /** Per-state overpayment breakdown (refund_analyzer.py:214-217). */
  def byState(over: DataFrame): DataFrame =
    over.groupBy("state")
      .agg(sum("overpayment").cast(Money).as("overpayment"))

  /** Per-reason-prefix breakdown — key = reason up to the first ':'
    * (refund_analyzer.py:219-223). */
  def byReason(over: DataFrame): DataFrame =
    over.groupBy("reason_key")
      .agg(sum("overpayment").cast(Money).as("overpayment"))

  /** Past-SOL warnings (refund_analyzer.py:225-230). */
  def solWarnings(over: DataFrame): DataFrame =
    over.filter(!col("refund_eligible"))
      .select(format_string(
        "Transaction %s in %s is past statute of limitations ($%.2f)",
        col("transaction_id"), col("state"),
        col("overpayment").cast(DoubleType)).as("warning"))

  /** Deterministic per-state top-`maxRecords` eligible records by
    * (overpayment, id, date, amounts) descending — the full struct order
    * makes the SELECTED rows (not just their order values) deterministic
    * even when transaction ids collide. Uses the bounded-heap
    * [[graft.ops.TopK]] operator: the shuffle carries ≤ maxRecords rows per
    * (state, partition) instead of every eligible record. */
  def cappedRecords(over: DataFrame, maxRecords: Int): DataFrame =
    graft.ops.TopK.perKey(over.filter(col("refund_eligible")), Seq("state"),
      struct(col("overpayment"), col("transaction_id"),
        col("transaction_date"), col("sale_amount"), col("tax_paid"),
        col("reason_key")),
      maxRecords)

  /** State-by-state refund claims (refund_analyzer.py:254-297): eligible
    * records grouped per state with period bounds, nested record list
    * (sorted by transaction_id for determinism — Python dict order is
    * insertion order; Spark collect_list is unordered), distinct reason
    * prefixes, and filing notes. Sorted by refund desc.
    *
    * The embedded record array is CAPPED at the `maxRecords` largest
    * overpayments per state (deterministic tie-break) — an unbounded
    * collect_list would buffer one state's entire record set in a single
    * aggregation buffer, which does not survive 100 TB. Full detail belongs
    * in a flat sink (see [[overpayments]] / Reports.transactionDetails). */
  def claims(over: DataFrame, maxRecords: Int = 100): DataFrame = {
    val headers = over.filter(col("refund_eligible"))
      .groupBy(col("state").as("state_code"))
      .agg(
        min("transaction_date").as("claim_period_start"),
        max("transaction_date").as("claim_period_end"),
        sum("overpayment").cast(Money).as("total_refund_requested"),
        count(lit(1)).as("transaction_count"),
        array_sort(collect_set(col("reason_key"))).as("supporting_reasons"))
    val recs = cappedRecords(over, maxRecords)
      .groupBy(col("state").as("rec_state"))
      .agg(array_sort(collect_list(struct(
        col("transaction_id"), col("transaction_date"), col("sale_amount"),
        col("tax_paid"), col("tax_owed"), col("overpayment"), col("reason"))))
        .as("records"))
    val notes = format_string(
      "Refund claim for %d transactions. SOL: %d years from transaction date. Total requested: $%,.2f",
      col("transaction_count"),
      coalesce(Dims.solYears(col("state_code")), lit(Dims.DefaultSolYears)),
      col("total_refund_requested").cast(DoubleType))
    headers
      .join(recs, col("state_code") === col("rec_state"), "left")
      .select(headers.columns.toSeq.map(col) ++
        Seq(col("records"), notes.as("filing_notes")): _*)
      .orderBy(col("total_refund_requested").desc, col("state_code"))
  }

  /** Quick scan (refund_analyzer.py:299-314): overpayments ≥ minimum. */
  def quickScan(txns: DataFrame, asOf: java.time.LocalDate,
      minimum: BigDecimal = BigDecimal("1.00")): DataFrame =
    overpayments(txns, asOf).filter(col("overpayment") >= lit(minimum))
}
