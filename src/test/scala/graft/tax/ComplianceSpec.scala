package graft.tax

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Date
import java.time.LocalDate

/** Golden tests ported from the reference's tests/test_compliance.py. */
class ComplianceSpec extends SparkSpec {
  import spark.implicits._

  private def bd(s: String) = new java.math.BigDecimal(s)

  private def activity(rows: (String, String, Int)*): DataFrame =
    rows.toSeq.map { case (st, rev, n) => (st, bd(rev), n.toLong) }
      .toDF("state", "revenue", "transaction_count")
      .withColumn("revenue", col("revenue").cast(Dims.Money))

  private def nexus(st: String, rev: String, n: Int,
      physical: Boolean = false): Row =
    Compliance.checkNexus(activity((st, rev, n))
      .withColumn("physical_presence", lit(physical))).head()

  test("nexus by revenue: TX 600k -> economic") {
    val r = nexus("TX", "600000", 50)
    assert(r.getAs[Boolean]("has_nexus"))
    assert(r.getSeq[String](r.fieldIndex("nexus_types")).contains("economic"))
  }

  test("nexus by transactions: CT 50k rev, 250 txns -> economic") {
    val r = nexus("CT", "50000", 250)
    assert(r.getAs[Boolean]("has_nexus"))
    assert(r.getSeq[String](r.fieldIndex("nexus_types")).contains("economic"))
  }

  test("below threshold: TX 10k -> no nexus") {
    assert(!nexus("TX", "10000", 10).getAs[Boolean]("has_nexus"))
  }

  test("physical presence: TX 1k, physical -> nexus") {
    val r = nexus("TX", "1000", 5, physical = true)
    assert(r.getAs[Boolean]("has_nexus"))
    assert(r.getSeq[String](r.fieldIndex("nexus_types")).contains("physical"))
  }

  test("no-nexus states DE/MT/NH/OR: never nexus, details say so") {
    for (st <- Seq("DE", "MT", "NH", "OR")) {
      val r = nexus(st, "1000000", 500)
      assert(!r.getAs[Boolean]("has_nexus"))
      assert(r.getAs[String]("details") == s"$st has no sales tax")
    }
  }

  test("approaching at 80%: TX 450k -> approaching, no nexus") {
    val r = nexus("TX", "450000", 10)
    assert(!r.getAs[Boolean]("has_nexus"))
    assert(r.getAs[Boolean]("approaching_threshold"))
  }

  test("pct math: GA 50k = 50% revenue; 100 txns = 50% of 200") {
    val r = nexus("GA", "50000", 100)
    assert(math.abs(r.getAs[Double]("revenue_pct_of_threshold") - 50.0) < 0.1)
    assert(math.abs(r.getAs[Double]("transaction_pct_of_threshold") - 50.0) < 0.1)
  }

  test("unknown-threshold state: 'No economic nexus data available'") {
    // PR (Puerto Rico) is not in the threshold table
    val r = nexus("PR", "500000", 300)
    assert(!r.getAs[Boolean]("has_nexus"))
    assert(r.getAs[String]("details") == "No economic nexus data available")
  }

  test("all-states sort by revenue pct desc") {
    val res = Compliance.checkNexus(activity(
      ("TX", "600000", 10), ("GA", "50000", 10), ("CA", "400000", 10)))
      .select("state").as[String].collect()
    assert(res.head == "TX") // 120% beats CA 80% (thr 500k) and GA 50%
  }

  private def deadlines(st: String, liability: String, yr: Int = 2024,
      asOf: LocalDate = LocalDate.of(2024, 1, 1),
      frequency: Option[String] = None,
      filed: Option[DataFrame] = None): DataFrame = {
    var df = Seq(st).toDF("state_code")
      .withColumn("estimated_annual_liability", lit(bd(liability)).cast(Dims.Money))
    frequency.foreach(f => df = df.withColumn("frequency", lit(f)))
    Compliance.filingDeadlines(df, yr, asOf, filed)
  }

  test("deadline counts: monthly 12 / quarterly 4 / annual 1") {
    assert(deadlines("TX", "0", frequency = Some("monthly")).count() == 12)
    assert(deadlines("CA", "0", frequency = Some("quarterly")).count() == 4)
    assert(deadlines("NY", "0", frequency = Some("annual")).count() == 1)
  }

  test("auto frequency: 10000 monthly / 2000 quarterly / 500 annual") {
    assert(deadlines("TX", "10000").count() == 12)
    assert(deadlines("TX", "2000").count() == 4)
    assert(deadlines("TX", "500").count() == 1)
  }

  test("due dates: TX Jan ends 01-31 due 02-20; Dec rolls to 2025-01-20") {
    val ds = deadlines("TX", "0", frequency = Some("monthly"))
      .orderBy("period_start").collect()
    assert(ds(0).getAs[Date]("period_end") == Date.valueOf("2024-01-31"))
    assert(ds(0).getAs[Date]("due_date") == Date.valueOf("2024-02-20"))
    assert(ds(11).getAs[Date]("period_end") == Date.valueOf("2024-12-31"))
    assert(ds(11).getAs[Date]("due_date") == Date.valueOf("2025-01-20"))
  }

  test("due-day overrides: CA 25th, OH 23rd, default 20th") {
    val ca = deadlines("CA", "0", frequency = Some("monthly"))
      .orderBy("period_start").head()
    assert(ca.getAs[Date]("due_date") == Date.valueOf("2024-02-25"))
    val oh = deadlines("OH", "0", frequency = Some("monthly"))
      .orderBy("period_start").head()
    assert(oh.getAs[Date]("due_date") == Date.valueOf("2024-02-23"))
  }

  test("overdue vs pending vs filed as of 2024-12-01") {
    val filed = Seq(("TX", Date.valueOf("2024-01-01"), Date.valueOf("2024-01-31")))
      .toDF("state_code", "period_start", "period_end")
    val ds = deadlines("TX", "0", asOf = LocalDate.of(2024, 12, 1),
      frequency = Some("monthly"), filed = Some(filed))
      .orderBy("period_start").collect()
    assert(ds(0).getAs[String]("status") == "filed")
    assert(!ds(0).getAs[Boolean]("is_overdue"))
    assert(ds(1).getAs[String]("status") == "overdue") // Feb, due Mar 20
    assert(ds(10).getAs[String]("status") == "pending") // Nov due Dec 20
    assert(ds(11).getAs[String]("status") == "pending") // Dec due Jan 20
  }

  test("2025 deadlines all pending as of 2024-12-01") {
    val ds = deadlines("TX", "0", yr = 2025, asOf = LocalDate.of(2024, 12, 1),
      frequency = Some("monthly"))
    assert(ds.filter(col("is_overdue")).count() == 0)
  }

  test("overdue filings across registered states sorted by due date") {
    val reg = Seq("TX", "CA").toDF("state_code")
    val od = Compliance.overdueFilings(reg, 2024, LocalDate.of(2024, 6, 1))
    // annual frequency (liability 0) -> due 2025-01-20, not overdue yet
    assert(od.count() == 0)
  }

  test("alerts: unregistered nexus -> critical, message names state") {
    val al = Compliance.alerts(activity(("TX", "600000", 100)),
      Seq.empty[String].toDF("state_code"), LocalDate.of(2024, 6, 1))
    val crit = al.filter(col("severity") === "critical").collect()
    assert(crit.nonEmpty)
    assert(crit.head.getAs[String]("message") ==
      "Economic nexus established in TX but not registered for sales tax collection")
    assert(crit.head.getAs[String]("action_required") ==
      "Register for sales tax in TX immediately. Revenue: $600,000.00")
  }

  test("alerts: approaching threshold -> warning") {
    val al = Compliance.alerts(activity(("TX", "450000", 10)),
      Seq.empty[String].toDF("state_code"), LocalDate.of(2024, 6, 1))
    val warn = al.filter(col("severity") === "warning").collect()
    assert(warn.nonEmpty)
    assert(warn.head.getAs[String]("message") ==
      "Approaching economic nexus threshold in TX (90% of revenue limit)")
  }

  test("alerts: zero-liability annual deadlines are never overdue within the year") {
    // Reference quirk mirrored exactly: generate_alerts derives deadlines for
    // ref_date.year with liability 0 -> annual -> due Jan of year+1, which is
    // always in the future (compliance.py:560-563), so no overdue alerts.
    val al = Compliance.alerts(activity(("TX", "1000", 1)),
      Seq("TX").toDF("state_code"), LocalDate.of(2025, 3, 1))
    assert(al.filter(col("deadline").isNotNull).count() == 0)
  }

  test("overdue filing alerts fire via explicit deadline pipeline") {
    // The engine's own deadline pipeline (liability-driven frequency) is the
    // way to get real overdue alerts: TX monthly, as_of mid-year.
    val ds = deadlines("TX", "10000", asOf = LocalDate.of(2024, 6, 1))
    val od = ds.filter(col("is_overdue"))
    assert(od.count() == 4) // Jan-Apr periods due Feb 20..May 20 < Jun 1
  }

  test("alerts sorted critical before warning") {
    val al = Compliance.alerts(
      activity(("TX", "600000", 100), ("CA", "400000", 10)),
      Seq.empty[String].toDF("state_code"), LocalDate.of(2024, 6, 1))
      .select("severity").as[String].collect()
    assert(al.sortBy(s => if (s == "critical") 0 else 1).sameElements(al))
  }

  test("checkNexusUnsorted builds one projection per stage: 4 Projects") {
    // lookups, then nexus and the replaced thresholds, then the pcts that
    // read them, then the approaching flag and details
    val act = activity(("TX", "600000", 10), ("OR", "5", 1))
    val n = projectsOver(Compliance.checkNexusUnsorted(act), act)
    assert(n <= 4, s"checkNexusUnsorted stacks $n Projects")
  }
}
