package graft.tax

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Date
import java.time.LocalDate

/** Golden tests ported from the reference's tests/test_refund_analyzer.py,
  * plus the README end-to-end golden over the committed sample CSV. */
class RefundsSpec extends SparkSpec {
  import spark.implicits._

  private def bd(s: String) = new java.math.BigDecimal(s)
  private val asOf = LocalDate.of(2024, 7, 1)

  private def txns(rows: (String, String, String, String, String, String)*): DataFrame =
    TaxCalc.normalize(rows.toSeq
      .map { case (id, d, amt, st, city, paid) =>
        (id, Date.valueOf(d), bd(amt), st, Option(city), None: Option[String], bd(paid)) }
      .toDF("transaction_id", "transaction_date", "amount", "state", "city",
        "item_category", "tax_paid"))

  test("overpayment detected: 1000 TX Houston paid 100 -> 17.50 over, 82.50 owed") {
    val r = Refunds.overpayments(
      txns(("TXN-001", "2024-01-01", "1000.00", "TX", "Houston", "100.00")), asOf).head()
    assert(r.getAs[java.math.BigDecimal]("overpayment").compareTo(bd("17.50")) == 0)
    assert(r.getAs[java.math.BigDecimal]("tax_owed").compareTo(bd("82.50")) == 0)
    assert(r.getAs[Boolean]("refund_eligible"))
  }

  test("no record on exact payment or underpayment") {
    val over = Refunds.overpayments(txns(
      ("TXN-002", "2024-01-01", "1000.00", "TX", "Houston", "82.50"),
      ("TXN-003", "2024-01-01", "1000.00", "TX", "Houston", "50.00")), asOf)
    assert(over.count() == 0)
  }

  test("exempt transaction taxed: TX grocery paid 8.25") {
    val df = TaxCalc.normalize(Seq(
      ("TXN-004", Date.valueOf("2024-01-01"), bd("100.00"), "TX",
        Some("Houston"), Some("grocery"), bd("8.25")))
      .toDF("transaction_id", "transaction_date", "amount", "state", "city",
        "item_category", "tax_paid"))
    val r = Refunds.overpayments(df, asOf).head()
    assert(r.getAs[java.math.BigDecimal]("overpayment").compareTo(bd("8.25")) == 0)
    assert(r.getAs[String]("reason").contains("Exempt"))
  }

  test("no-tax state: OR paid 35 -> reason 'Tax collected in no-tax jurisdiction'") {
    val r = Refunds.overpayments(
      txns(("TXN-005", "2024-01-01", "500.00", "OR", null, "35.00")), asOf).head()
    assert(r.getAs[java.math.BigDecimal]("overpayment").compareTo(bd("35.00")) == 0)
    // OR is a no-tax state: exempt -> "Exempt transaction taxed: ..."
    assert(r.getAs[String]("reason") == "Exempt transaction taxed: Oregon has no sales tax")
  }

  test("rate mismatch reason carries 4-decimal percentages") {
    val r = Refunds.overpayments(
      txns(("TXN-006", "2024-01-01", "1000.00", "TX", "Houston", "100.00")), asOf).head()
    assert(r.getAs[String]("reason") ==
      "Rate mismatch: paid 10.0000%, correct rate 8.2500%")
  }

  test("batch summary: 3 reviewed, 2 overpayments, recovery = 85%") {
    val t = txns(
      ("TXN-010", "2024-01-01", "1000.00", "TX", "Houston", "100.00"),
      ("TXN-011", "2024-01-01", "1000.00", "TX", "Houston", "82.50"),
      ("TXN-012", "2024-01-01", "500.00", "OR", null, "25.00"))
    val over = Refunds.overpayments(t, asOf)
    val s = Refunds.summary(over, t.count()).head()
    assert(s.getAs[Long]("total_transactions_reviewed") == 3)
    assert(s.getAs[Long]("overpayment_count") == 2)
    assert(s.getAs[java.math.BigDecimal]("total_overpayment").compareTo(bd("42.50")) == 0)
    // eligible 42.50 * 0.85 = 36.125 -> 36.13 HALF_UP
    assert(s.getAs[java.math.BigDecimal]("estimated_recovery").compareTo(bd("36.13")) == 0)
  }

  test("SOL: recent eligible, 2018 txn past TX 4yr SOL, sol_date = 2028-01-01") {
    val over = Refunds.overpayments(txns(
      ("TXN-040", "2024-01-01", "1000.00", "TX", "Houston", "100.00"),
      ("TXN-041", "2018-01-01", "1000.00", "TX", "Houston", "100.00")), asOf)
    val rows = over.orderBy("transaction_id").collect()
    assert(rows(0).getAs[Boolean]("refund_eligible"))
    assert(rows(0).getAs[Date]("statute_of_limitations_date") == Date.valueOf("2028-01-01"))
    assert(!rows(1).getAs[Boolean]("refund_eligible"))
  }

  test("SOL default 3 years for unmapped state (KY)") {
    val over = Refunds.overpayments(txns(
      ("TXN-042", "2020-01-01", "1000.00", "KY", null, "100.00")), asOf)
    val r = over.head()
    assert(r.getAs[Date]("statute_of_limitations_date") == Date.valueOf("2023-01-01"))
    assert(!r.getAs[Boolean]("refund_eligible"))
  }

  test("SOL warnings for expired transactions") {
    val over = Refunds.overpayments(txns(
      ("TXN-050", "2018-01-01", "1000.00", "TX", "Houston", "100.00")), asOf)
    val w = Refunds.solWarnings(over).as[String].collect()
    assert(w.length == 1)
    assert(w(0) == "Transaction TXN-050 in TX is past statute of limitations ($17.50)")
  }

  test("claims: grouped by state, sorted desc, notes formatted") {
    val over = Refunds.overpayments(txns(
      ("TXN-060", "2024-01-01", "1000.00", "TX", "Houston", "100.00"),
      ("TXN-061", "2024-02-01", "500.00", "CA", "Los Angeles", "60.00")), asOf)
    val cs = Refunds.claims(over).collect()
    assert(cs.length == 2)
    assert(cs(0).getAs[java.math.BigDecimal]("total_refund_requested")
      .compareTo(cs(1).getAs[java.math.BigDecimal]("total_refund_requested")) >= 0)
    val tx = cs.find(_.getAs[String]("state_code") == "TX").get
    assert(tx.getAs[String]("filing_notes") ==
      "Refund claim for 1 transactions. SOL: 4 years from transaction date. Total requested: $17.50")
  }

  test("quick scan: threshold filters sub-minimum overpayments") {
    val hits = Refunds.quickScan(txns(
      ("TXN-070", "2024-01-01", "1000.00", "TX", "Houston", "100.00"),
      ("TXN-071", "2024-01-01", "1000.00", "TX", "Houston", "83.00")), asOf)
    assert(hits.count() == 1)
    assert(hits.head().getAs[String]("transaction_id") == "TXN-070")
  }

  test("end-to-end sample-CSV golden: 57 reviewed, 12 overpayments, $33.35, $28.35") {
    // The reference README claims 8 overpayments / $47.32 / $40.22
    // (README.md:128-146), but RUNNING the reference's own analyzer on its
    // own sample CSV yields 12 / $33.35 / $28.35 — the README numbers are
    // stale. We pin parity with the reference's actual behavior (verified by
    // executing the reference's tax_engine/refund_analyzer.py on
    // data/sample_transactions.csv with as_of=2026-01-01).
    val path = getClass.getResource("/sample_transactions.csv").getPath
    val t = TaxCalc.normalize(TaxCalc.readCsv(spark, path))
    val over = Refunds.overpayments(t, LocalDate.of(2026, 1, 1))
    val s = Refunds.summary(over, t.count()).head()
    assert(s.getAs[Long]("total_transactions_reviewed") == 57)
    assert(s.getAs[Long]("overpayment_count") == 12)
    assert(s.getAs[java.math.BigDecimal]("total_overpayment").compareTo(bd("33.35")) == 0)
    assert(s.getAs[java.math.BigDecimal]("estimated_recovery").compareTo(bd("28.35")) == 0)
    // spot-check the largest record matches the reference run exactly
    val top = over.orderBy(col("overpayment").desc).head()
    assert(top.getAs[String]("transaction_id") == "TXN-042")
    assert(top.getAs[java.math.BigDecimal]("overpayment").compareTo(bd("15.50")) == 0)
    assert(top.getAs[String]("reason") ==
      "Rate mismatch: paid 9.0000%, correct rate 8.5000%")
  }

  test("overpayments builds one projection per stage: withTax's 5 Projects and 3 more") {
    // the paid/owed/overpayment stage, the SOL lookup, the output select
    val txns = TaxCalc.normalize(TaxCalc.readCsv(spark, sampleCsv))
    val n = projectsOver(Refunds.overpayments(txns, asOf), txns)
    assert(n <= 5 + 3, s"overpayments stacks $n Projects over its input")
  }
}
