package graft.tax

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed API mirroring the reference's dataclasses (calculator.py:28-92,
  * compliance.py:34-91, refund_analyzer.py:23-67) — thin `Dataset[T]` views
  * over the DataFrame pipelines for callers who want compile-time fields. */
object Schemas {

  case class Transaction(
      transaction_id: String,
      transaction_date: java.sql.Date,
      amount: BigDecimal,
      state: String,
      city: Option[String] = None,
      item_category: Option[String] = None,
      exemption_certificate: Option[String] = None,
      customer_type: String = "retail",
      pricing_model: String = "exclusive",
      tax_paid: Option[BigDecimal] = None)

  case class TaxResult(
      transaction_id: String,
      taxable_amount: BigDecimal,
      tax_amount: BigDecimal,
      effective_rate: Double,
      state: String,
      city: Option[String],
      state_tax: BigDecimal,
      local_tax: BigDecimal,
      is_exempt: Boolean,
      exemption_reason: String,
      warnings: Seq[String],
      total_with_tax: BigDecimal)

  case class OverpaymentRecord(
      transaction_id: String,
      transaction_date: java.sql.Date,
      state: String,
      city: Option[String],
      sale_amount: BigDecimal,
      tax_paid: BigDecimal,
      tax_owed: BigDecimal,
      overpayment: BigDecimal,
      reason: String,
      refund_eligible: Boolean,
      statute_of_limitations_date: Option[java.sql.Date])

  case class NexusStatus(
      state: String,
      revenue: BigDecimal,
      transaction_count: Long,
      has_nexus: Boolean,
      nexus_types: Seq[String],
      revenue_threshold: BigDecimal,
      transaction_threshold: Option[Int],
      revenue_pct_of_threshold: Double,
      transaction_pct_of_threshold: Option[Double],
      approaching_threshold: Boolean,
      details: String)

  /** Typed transactions → typed tax results, through the shared expression
    * block (the Dataset face of [[TaxCalc.withTax]]). */
  def calculate(txns: Dataset[Transaction]): Dataset[TaxResult] = {
    val spark = txns.sparkSession
    import spark.implicits._
    TaxCalc.withTax(TaxCalc.normalize(txns.toDF()))
      .select("transaction_id", "taxable_amount", "tax_amount",
        "effective_rate", "state", "city", "state_tax", "local_tax",
        "is_exempt", "exemption_reason", "warnings", "total_with_tax")
      .as[TaxResult]
  }

  def analyzeRefunds(txns: Dataset[Transaction],
      asOf: java.time.LocalDate): Dataset[OverpaymentRecord] = {
    val spark = txns.sparkSession
    import spark.implicits._
    Refunds.overpayments(TaxCalc.normalize(txns.toDF()), asOf)
      .drop("reason_key")
      .as[OverpaymentRecord]
  }

  def checkNexus(activity: DataFrame): Dataset[NexusStatus] = {
    val spark = activity.sparkSession
    import spark.implicits._
    Compliance.checkNexus(activity)
      .select("state", "revenue", "transaction_count", "has_nexus",
        "nexus_types", "revenue_threshold", "transaction_threshold",
        "revenue_pct_of_threshold", "transaction_pct_of_threshold",
        "approaching_threshold", "details")
      .as[NexusStatus]
  }
}
