package graft.tax

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Date
import java.time.LocalDate

/** The filing status report (report_generator.py:191-238) over real
  * deadlines, its text rendering, and the typed nexus view. */
class FilingStatusSpec extends SparkSpec {
  import spark.implicits._

  private val asOf = LocalDate.of(2024, 5, 10)

  /** 2024 deadlines as of 2024-05-10: TX and NY monthly (due the 20th),
    * CA quarterly (due the 25th), NV annual; TX February is filed. */
  private lazy val deadlines: DataFrame = {
    val states = Seq(("TX", "monthly", "6000"), ("NY", "monthly", "12000"),
        ("CA", "quarterly", "2400"), ("NV", "annual", "1000"))
      .toDF("state_code", "frequency", "liability")
      .withColumn("estimated_annual_liability",
        col("liability").cast(Dims.Money))
      .drop("liability")
    val filed = Seq(("TX", Date.valueOf("2024-02-01"),
        Date.valueOf("2024-02-29")))
      .toDF("state_code", "period_start", "period_end")
    Compliance.filingDeadlines(states, 2024, asOf, Some(filed))
  }

  private lazy val report: Row =
    Reports.filingStatusReport(deadlines, "2024-05-10").head()

  private def entries(field: String): Seq[(String, String, Long)] =
    report.getSeq[Row](report.fieldIndex(field)).map(r =>
      (r.getAs[String]("state"), r.getAs[String]("period"),
        r.getAs[Int]("days_until_due").toLong))

  test("filingStatusReport: summary counts overdue, upcoming and filed periods") {
    val s = report.getAs[Row]("summary")
    assert(report.getAs[String]("report_type") == "filing_status")
    assert(s.getAs[Long]("total_filings") == 29L) // 12 + 12 + 4 + 1
    assert(s.getAs[Long]("overdue") == 6L)
    assert(s.getAs[Long]("upcoming_30_days") == 2L)
    assert(s.getAs[Long]("filed") == 1L)
  }

  test("filingStatusReport: overdue and upcoming lists sort by state, then period") {
    assert(entries("overdue_filings") == Seq(
      ("CA", "2024-01-01 to 2024-03-31", -15L),
      ("NY", "2024-01-01 to 2024-01-31", -80L),
      ("NY", "2024-02-01 to 2024-02-29", -51L),
      ("NY", "2024-03-01 to 2024-03-31", -20L),
      ("TX", "2024-01-01 to 2024-01-31", -80L),
      ("TX", "2024-03-01 to 2024-03-31", -20L)))
    assert(entries("upcoming_filings") == Seq(
      ("NY", "2024-04-01 to 2024-04-30", 10L),
      ("TX", "2024-04-01 to 2024-04-30", 10L)))
  }

  test("formatText renders the OVERDUE FILINGS section from the report") {
    val text = TextReport.formatText(report)
    val lines = text.split("\n", -1).toSeq
    val at = lines.indexOf("OVERDUE FILINGS")
    assert(at >= 0, text)
    assert(lines.slice(at + 1, at + 9) == Seq(
      "-" * 40,
      "  CA: 2024-01-01 to 2024-03-31 | Due: 2024-04-25 | Est. liability: $600.00",
      "  NY: 2024-01-01 to 2024-01-31 | Due: 2024-02-20 | Est. liability: $1,000.00",
      "  NY: 2024-02-01 to 2024-02-29 | Due: 2024-03-20 | Est. liability: $1,000.00",
      "  NY: 2024-03-01 to 2024-03-31 | Due: 2024-04-20 | Est. liability: $1,000.00",
      "  TX: 2024-01-01 to 2024-01-31 | Due: 2024-02-20 | Est. liability: $500.00",
      "  TX: 2024-03-01 to 2024-03-31 | Due: 2024-04-20 | Est. liability: $500.00",
      ""))
  }

  test("Schemas.checkNexus: typed rows equal Compliance.checkNexus rows") {
    // CT: revenue and transaction thresholds; TX: revenue threshold only;
    // DE: no sales tax, so no threshold data (revenue threshold 0)
    val activity = Seq(("CT", "50000", 250L), ("TX", "600000", 50L),
        ("DE", "1000000", 500L))
      .toDF("state", "revenue", "transaction_count")
      .withColumn("revenue", col("revenue").cast(Dims.Money))
    val typed = Schemas.checkNexus(activity).collect().toSeq
    val untyped = Compliance.checkNexus(activity).collect().toSeq.map { r =>
      def opt[T](f: String): Option[T] =
        if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[T](f))
      Schemas.NexusStatus(r.getAs[String]("state"),
        BigDecimal(r.getAs[java.math.BigDecimal]("revenue")),
        r.getAs[Long]("transaction_count"), r.getAs[Boolean]("has_nexus"),
        r.getSeq[String](r.fieldIndex("nexus_types")),
        opt[java.math.BigDecimal]("revenue_threshold").map(BigDecimal(_))
          .orNull,
        opt[Int]("transaction_threshold"),
        r.getAs[Double]("revenue_pct_of_threshold"),
        opt[Double]("transaction_pct_of_threshold"),
        r.getAs[Boolean]("approaching_threshold"), r.getAs[String]("details"))
    }
    assert(typed == untyped)
    val byState = typed.map(n => n.state -> n).toMap
    assert(byState("CT").has_nexus &&
      byState("CT").transaction_threshold.nonEmpty &&
      byState("CT").transaction_pct_of_threshold.nonEmpty)
    assert(byState("TX").has_nexus &&
      byState("TX").transaction_threshold.isEmpty &&
      byState("TX").transaction_pct_of_threshold.isEmpty)
    val de = byState("DE")
    assert(!de.has_nexus && de.revenue_threshold == BigDecimal(0) &&
      de.transaction_threshold.isEmpty &&
      de.transaction_pct_of_threshold.isEmpty)
  }
}
