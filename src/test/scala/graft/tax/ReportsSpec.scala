package graft.tax

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Date

/** Report-document and typed-API specs. */
class ReportsSpec extends SparkSpec {
  import spark.implicits._

  private def bd(s: String) = new java.math.BigDecimal(s)

  private lazy val taxed = TaxCalc.withTax(TaxCalc.normalize(Seq(
    ("R1", Date.valueOf("2024-01-01"), bd("500.00"), "TX", Some("Houston"), None: Option[String]),
    ("R2", Date.valueOf("2024-01-02"), bd("100.00"), "TX", Some("Houston"), Some("grocery")),
    ("R3", Date.valueOf("2024-01-03"), bd("200.00"), "CA", Some("Los Angeles"), None))
    .toDF("transaction_id", "transaction_date", "amount", "state", "city", "item_category")))

  test("tax summary report: nested summary + sorted state breakdown") {
    val r = Reports.taxSummaryReport(taxed, "2024-01", "2026-01-01").head()
    assert(r.getAs[String]("report_type") == "tax_liability_summary")
    val s = r.getStruct(r.fieldIndex("summary"))
    assert(s.getAs[Long]("total_transactions") == 3)
    assert(math.abs(s.getAs[Double]("total_tax") - 60.75) < 1e-9) // 41.25 + 19.50
    val breakdown = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("state_breakdown"))
    assert(breakdown.map(_.getAs[String]("state")) == Seq("CA", "TX"))
  }

  test("transaction details: 10-col layout with %-formatted rate") {
    val d = Reports.transactionDetails(taxed)
      .filter($"transaction_id" === "R1").head()
    assert(d.getAs[String]("effective_rate") == "8.2500%")
    assert(d.getAs[Double]("total_tax") == 41.25)
    assert(d.length == 10)
  }

  test("key/value CSV export: dict section unpivots to key,value rows (to_csv dict mode)") {
    val sm = TaxCalc.batchAgg(taxed).select(
      col("transaction_count").cast("double").as("total_transactions"),
      col("total_tax").cast("double").as("total_tax"))
    val kv = Reports.keyValueSection(sm)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(kv == Map("total_transactions" -> 3.0, "total_tax" -> 60.75))
    // sink round-trip: header + one row per key, values parse back exactly
    val out = java.nio.file.Files.createTempDirectory("graft_kv_spec").toString
    try {
      Reports.writeCsvKeyValue(sm, out)
      val back = spark.read.option("header", "true")
        .schema("key STRING, value DOUBLE").csv(out)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(back == kv)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(out))
    }
  }

  test("json sink produces parseable document") {
    val js = Reports.toJsonString(Reports.taxSummaryReport(taxed, "", "2026-01-01"))
    assert(js.contains("\"report_type\":\"tax_liability_summary\""))
    assert(js.contains("\"total_transactions\":3"))
  }

  test("nexus report buckets and counts") {
    val nexus = Compliance.checkNexus(Seq(
      ("TX", bd("600000"), 10L), ("CA", bd("450000"), 10L), ("GA", bd("1000"), 1L))
      .toDF("state", "revenue", "transaction_count")
      .withColumn("revenue", col("revenue").cast(Dims.Money)))
    val r = Reports.nexusReport(nexus, "2026-01-01").head()
    val s = r.getStruct(r.fieldIndex("summary"))
    assert(s.getAs[Long]("states_with_nexus") == 1)
    assert(s.getAs[Long]("states_approaching") == 1) // CA at 90% of 500k
    assert(s.getAs[Long]("states_below_threshold") == 1)
  }

  test("typed API: Dataset[Transaction] -> Dataset[TaxResult] flagship") {
    import Schemas._
    val ds = Seq(Transaction("T1", Date.valueOf("2024-01-01"), BigDecimal("500.00"),
      "TX", Some("Houston"))).toDS()
    val r = Schemas.calculate(ds).head()
    assert(r.tax_amount == BigDecimal("41.25"))
    assert(r.state_tax == BigDecimal("31.25"))
    assert(r.total_with_tax == BigDecimal("541.25"))
    assert(!r.is_exempt)
  }

  test("typed API: refund analysis") {
    import Schemas._
    val ds = Seq(Transaction("T1", Date.valueOf("2024-01-01"), BigDecimal("1000.00"),
      "TX", Some("Houston"), tax_paid = Some(BigDecimal("100.00")))).toDS()
    val recs = Schemas.analyzeRefunds(ds, java.time.LocalDate.of(2024, 7, 1)).collect()
    assert(recs.length == 1)
    assert(recs.head.overpayment == BigDecimal("17.50"))
    assert(recs.head.statute_of_limitations_date.contains(Date.valueOf("2028-01-01")))
  }

  test("format_text: tax summary renders the reference's console sections") {
    val txt = TextReport.formatText(
      Reports.taxSummaryReport(taxed, "2024-01", "2026-01-01"))
    assert(txt.startsWith("=" * 60))
    assert(txt.contains("  Tax Liability Summary"))
    assert(txt.contains("  Generated: 2026-01-01"))
    assert(txt.contains("  Period: 2024-01"))
    assert(txt.contains("SUMMARY"))
    assert(txt.contains("  Total Transactions: 3")) // int: raw, no $
    assert(txt.contains("  Total Tax: $60.75"))     // float: $%,.2f
    assert(txt.contains("Overall Effective Rate: ") &&
      txt.contains("%"), txt) // *rate* keys render as percent
    assert(txt.contains("STATE BREAKDOWN"))
    assert(txt.contains("  CA: $") && txt.contains("tax | 1 txns"))
  }

  test("format_text: refund report renders OVERPAYMENT REASONS") {
    val txns = TaxCalc.normalize(Seq(
      ("O1", Date.valueOf("2024-01-01"), bd("1000.00"), "TX",
        Some("Houston"), None: Option[String], Some(bd("100.00"))))
      .toDF("transaction_id", "transaction_date", "amount", "state", "city",
        "item_category", "tax_paid"))
    val over = Refunds.overpayments(txns, java.time.LocalDate.of(2024, 7, 1))
    val txt = TextReport.formatText(
      Reports.refundReport(over, 1L, "2026-01-01"))
    assert(txt.contains("  Refund Analysis"))
    assert(txt.contains("  Total Overpayment: $17.50"))
    assert(txt.contains("OVERPAYMENT REASONS"))
    assert(txt.contains(": $") && txt.contains("17.50"))
  }

  test("format_text golden: byte-identical to the reference on the sample CSV") {
    // Golden produced by running the REFERENCE's ReportGenerator.format_text
    // (tax summary + refund analysis, period 2024-Q1, generated 2026-08-12)
    // on data/sample_transactions.csv — pins both the report math and the
    // text rendering, including blank-line structure.
    val golden = scala.io.Source.fromResource("golden_report.txt").mkString
      .stripLineEnd
    val txns = TaxCalc.normalize(TaxCalc.readCsv(spark,
      getClass.getResource("/sample_transactions.csv").getPath))
    val taxedCsv = TaxCalc.withTax(txns)
    val taxTxt = TextReport.formatText(
      Reports.taxSummaryReport(taxedCsv, "2024-Q1", "2026-08-12"))
    val over = Refunds.overpayments(txns, java.time.LocalDate.of(2026, 8, 12))
    val refundTxt = TextReport.formatText(
      Reports.refundReport(over, txns.count(), "2026-08-12"))
    assert(s"$taxTxt\n$refundTxt" == golden)
  }

  test("display projections truncate id to 12 / reason to 40 in-plan") {
    val longId = TaxCalc.withTax(TaxCalc.normalize(Seq(
      ("TXN-2024-000000017-ABCDEF", Date.valueOf("2024-01-01"), bd("500.00"),
        "TX", Some("Houston"), None: Option[String]))
      .toDF("transaction_id", "transaction_date", "amount", "state", "city",
        "item_category")))
    val d = Reports.displayResults(longId).head()
    assert(d.getAs[String]("id") == "TXN-2024-000") // first 12 chars
    val hit = Seq(("T-1", "TX", bd("100.00"), bd("20.00"), bd("8.25"),
      bd("11.75"), "x" * 60))
      .toDF("transaction_id", "state", "sale_amount", "tax_paid", "tax_owed",
        "overpayment", "reason")
    val q = Reports.displayQuickScan(hit).head()
    assert(q.getAs[String]("reason") == "x" * 40)
  }
}
