package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import graft.Cli
import graft.tax._

/** `tax_batch`: a seeded transactions CSV through the CLI command cycle
  * calculate, compliance, refund, refund --quick and report with JSON and
  * CSV exports. Every command passes an explicit --as-of, and exports go to
  * the run's temporary directory. */
final class TaxBatch(spark: SparkSession, seed: Long, work: Path, repo: Path,
    rows: Int) extends Workload {
  val asOf = "2026-08-12"
  private val csvPath = work.resolve("transactions.csv")
  private val outDir = work.resolve("reports")
  private val f = csvPath.toString
  /** Registered states come from the seed, like the CSV. */
  private val registered = {
    val r = new scala.util.Random(seed)
    r.shuffle(TaxGen.states).take(3).sorted.mkString(",")
  }
  private var csv: TaxGen.Csv = _
  /** Transactions the last calculate command reported. */
  private var accepted = -1L
  private val firstOutput = scala.collection.mutable.Map.empty[String, String]

  val commands: Seq[(String, Seq[String])] = Seq(
    "calculate" -> Seq("calculate", "--file", f, "--as-of", asOf),
    "compliance" -> Seq("compliance", "--file", f, "--registered", registered, "--as-of", asOf),
    "refund" -> Seq("refund", "--file", f, "--as-of", asOf),
    "refund_quick" -> Seq("refund", "--file", f, "--quick", "--as-of", asOf),
    "report" -> Seq("report", "--file", f, "--as-of", asOf, "--period", "2024",
      "--export-json", "report.json", "--export-csv", "report.csv",
      "--output-dir", outDir.toString))

  /** After one warm-up pass the next pass still ran 20-30% slower than the
    * one after it; after two, the timed passes differ by about 5%. */
  def warmPasses: Int = 2
  def minPasses: Int = 2

  def setup(): Unit = {
    csv = TaxGen.generate(seed, rows)
    TaxGen.write(csv, csvPath)
    Log(s"tax_batch: ${csv.valid} valid + ${csv.malformed} malformed rows, " +
      s"${Files.size(csvPath)} bytes, registered $registered")
  }

  /** The reference's text report of its sample CSV (period 2024-Q1,
    * generated 2026-08-12), byte for byte, as the repository's own golden
    * test builds it. It runs after the timed passes, where it is cheap. */
  override def finalCheck(): Unit = {
    val res = repo.resolve("src/test/resources")
    val golden = new String(Files.readAllBytes(res.resolve("golden_report.txt")),
      StandardCharsets.UTF_8).stripLineEnd
    val txns = TaxCalc.normalize(TaxCalc.readCsv(spark, res.resolve("sample_transactions.csv").toString))
    val taxTxt = TextReport.formatText(
      Reports.taxSummaryReport(TaxCalc.withTax(txns), "2024-Q1", "2026-08-12"))
    val over = Refunds.overpayments(txns, java.time.LocalDate.of(2026, 8, 12))
    val refundTxt = TextReport.formatText(Reports.refundReport(over, txns.count(), "2026-08-12"))
    if (s"$taxTxt\n$refundTxt" != golden)
      throw new IllegalStateException("golden report check failed: the text report of " +
        "sample_transactions.csv differs from golden_report.txt")
  }

  def pass: Seq[Op] = commands.map { case (name, args) =>
    Op(name, "tax", ctx => ctx.phase("exec") {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Cli.run(spark, args.toArray)
      }
      check(name, buf.toString("UTF-8"))
    })
  }

  private def count(out: String, label: String): Option[Long] =
    s"(?m)^$label:\\s+(\\d+)".r.findFirstMatchIn(out).map(_.group(1).toLong)

  /** Row counts the generator knows, and the same stdout in every cycle. */
  private def check(name: String, out: String): Option[String] = {
    val countErr = name match {
      case "calculate" =>
        count(out, "Transactions").foreach(accepted = _)
        expectValid(count(out, "Transactions"), "Transactions")
      case "refund" => expectValid(count(out, "Reviewed"), "Reviewed")
      case "report" if !Files.isDirectory(outDir.resolve("details_report.csv")) =>
        Some("no details_report.csv export")
      case _ => None
    }
    countErr.orElse(firstOutput.get(name) match {
      case None => firstOutput(name) = out; None
      case Some(prev) if prev != out => Some("stdout differs from the first cycle")
      case _ => None
    })
  }

  private def expectValid(n: Option[Long], label: String): Option[String] =
    if (n.contains(csv.valid.toLong)) None
    else Some(s"$label: ${n.getOrElse("missing")}, expected ${csv.valid}")

  def eventSpans(t: Tracer, op: Span, ev: Probe.Events): Unit = {
    // SQL executions run the Dataset actions the CLI calls; Catalyst phases
    // nest under the execution whose interval holds them, else under the op
    val execs = ev.executions.sortBy(_.start).map(e => (e, t.add("action", op.id, e.start, e.end)))
    ev.phases.foreach { p =>
      val name = p.name match {
        case "analysis" => "catalyst.analysis"
        case "optimization" => "catalyst.optimize"
        case _ => "catalyst.plan"
      }
      val parent = execs.find { case (e, _) => e.start <= p.start && p.end <= e.end }
        .map(_._2).getOrElse(op.id)
      t.add(name, parent, p.start, p.end)
    }
  }

  /** One cycle's public tax functions, each called once inside a span: the
    * span holds the call itself, which builds the plan for lazy functions
    * and also runs the jobs of eager ones (writers, text rendering). */
  override def probeSpans(t: Tracer): Unit = {
    def fn[T](name: String)(body: => T): T = t.span(s"tax.$name.self_s")(body)
    val d = java.time.LocalDate.parse(asOf)
    val dir = work.resolve("probe").toString
    import spark.implicits._
    val raw = fn("TaxCalc.readCsv")(TaxCalc.readCsv(spark, f))
    val txns = fn("TaxCalc.normalize")(TaxCalc.normalize(raw))
    val taxed = fn("TaxCalc.withTax")(TaxCalc.withTax(txns))
    fn("Reports.displayResults")(Reports.displayResults(taxed)).collect()
    fn("TaxCalc.batchAgg")(TaxCalc.batchAgg(taxed)).head()
    fn("TaxCalc.summaryByState")(TaxCalc.summaryByState(taxed)).collect()
    val activity = fn("Compliance.stateActivity")(Compliance.stateActivity(txns))
    fn("Compliance.checkNexus")(Compliance.checkNexus(activity)).collect()
    fn("Compliance.alerts")(Compliance.alerts(activity,
      registered.split(",").toSeq.toDF("state_code"), d)).collect()
    val over = fn("Refunds.overpayments")(Refunds.overpayments(txns, d))
    val reviewed = txns.count()
    fn("Refunds.summary")(Refunds.summary(over, reviewed)).head()
    fn("Refunds.claims")(Refunds.claims(over)).collect()
    fn("Reports.displayQuickScan")(Reports.displayQuickScan(
      fn("Refunds.quickScan")(Refunds.quickScan(txns, d, BigDecimal("0.50"))))).collect()
    val taxRpt = fn("Reports.taxSummaryReport")(Reports.taxSummaryReport(taxed, "2024", asOf))
    fn("TextReport.formatText")(TextReport.formatText(taxRpt))
    val refundRpt = fn("Reports.refundReport")(Reports.refundReport(over, reviewed, asOf))
    fn("TextReport.formatText")(TextReport.formatText(refundRpt))
    fn("Reports.writeJson")(Reports.writeJson(taxRpt, s"$dir/tax.json"))
    fn("Reports.writeCsv")(Reports.writeCsv(fn("Reports.taxSummaryFlat")(Reports.taxSummaryFlat(taxed)), s"$dir/tax.csv"))
    fn("Reports.exportTransactionDetails")(Reports.exportTransactionDetails(taxed, s"$dir/details.csv"))
  }

  override def layerMetrics(c: LayerCtx): Seq[(String, Double)] = {
    val (spans, passes) = (c.spans, c.passes)
    val self = Trace.selfTimes(spans)
    val fnSelf = spans.filter(_.name.startsWith("tax.")).groupBy(_.name)
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e9 }
    val opSecs = spans.filter(_.parent == -1).filter(_.name.startsWith("op:tax:"))
      .groupBy(_.name.stripPrefix("op:tax:")).map { case (k, ss) => k -> ss.map(_.dur).sum / 1e9 / passes }
    val rejected = (csv.dataLines - accepted).toDouble
    val csvMb = Files.size(csvPath) / 1e6
    TaxBatch.functions.map(n => s"tax.$n.self_s" -> fnSelf.getOrElse(s"tax.$n.self_s", 0.0)) ++ Seq(
      "tax.calculate_s" -> opSecs.getOrElse("calculate", 0.0),
      "tax.compliance_s" -> opSecs.getOrElse("compliance", 0.0),
      "tax.refund_s" -> (opSecs.getOrElse("refund", 0.0) + opSecs.getOrElse("refund_quick", 0.0)),
      "tax.report_s" -> opSecs.getOrElse("report", 0.0),
      "tax.rows_per_s" -> csv.dataLines / c.untracedPass,
      "tax.csv_scans" -> c.layers("exec.input_mb") / csvMb,
      "tax.rows_rejected" -> rejected,
      "tax.reject_ratio" -> rejected / csv.dataLines)
  }
}

object TaxBatch {
  /** The public tax functions one command cycle calls. */
  val functions: Seq[String] = Seq("TaxCalc.readCsv", "TaxCalc.normalize", "TaxCalc.withTax",
    "TaxCalc.batchAgg", "TaxCalc.summaryByState", "Compliance.stateActivity",
    "Compliance.checkNexus", "Compliance.alerts", "Refunds.overpayments", "Refunds.summary",
    "Refunds.claims", "Refunds.quickScan", "Reports.displayResults", "Reports.displayQuickScan",
    "Reports.taxSummaryReport", "Reports.refundReport", "Reports.taxSummaryFlat",
    "Reports.writeJson", "Reports.writeCsv", "Reports.exportTransactionDetails",
    "TextReport.formatText")

  /** Every layer metric [[TaxBatch.layerMetrics]] reports; other workloads
    * report them as zero. */
  val metricNames: Seq[String] = functions.map(n => s"tax.$n.self_s") ++ Seq("tax.calculate_s",
    "tax.compliance_s", "tax.refund_s", "tax.report_s", "tax.rows_per_s", "tax.csv_scans",
    "tax.rows_rejected", "tax.reject_ratio")
}
