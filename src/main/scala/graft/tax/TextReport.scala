package graft.tax

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}

/** Console text rendering of report documents — format_text parity with
  * /root/reference/tax_engine/report_generator.py:419-508.
  *
  * Purely driver-side presentation: takes the (single) collected Row of a
  * nested report DataFrame ([[Reports.taxSummaryReport]],
  * [[Reports.refundReport]], [[Reports.nexusReport]],
  * [[Reports.filingStatusReport]]) and renders the same sections the
  * reference prints: header, SUMMARY, STATE BREAKDOWN, ALERTS, OVERDUE
  * FILINGS, OVERPAYMENT REASONS (refund reports), WARNINGS.
  */
object TextReport {

  /** Python `f"{x:,.2f}"`. */
  private[graft] def money(v: Double): String =
    String.format(Locale.US, "%,.2f", Double.box(v))

  /** Python `f"{x:.2%}"` (half-even, like CPython float formatting). */
  private[graft] def pct(v: Double, scale: Int = 2): String = {
    val bd = new java.math.BigDecimal(v * 100)
      .setScale(scale, java.math.RoundingMode.HALF_EVEN)
    s"${bd.toPlainString}%"
  }

  /** Python `"a_b c".replace("_"," ").title()`. */
  private def titleCase(s: String): String =
    s.replace('_', ' ').split(' ').map { w =>
      if (w.isEmpty) w else w.head.toUpper +: w.tail.map(_.toLower)
    }.mkString(" ")

  private def numeric(v: Any): Option[Double] = v match {
    case d: Double               => Some(d)
    case f: Float                => Some(f.toDouble)
    case b: java.math.BigDecimal => Some(b.doubleValue)
    case _                       => None // ints print raw, like the reference
  }

  private def getOpt(r: Row, field: String): Option[Any] =
    if (r.schema.fieldNames.contains(field) && !r.isNullAt(r.fieldIndex(field)))
      Some(r.get(r.fieldIndex(field)))
    else None

  private def str(r: Row, field: String, default: String = ""): String =
    getOpt(r, field).map(_.toString).getOrElse(default)

  private def dbl(r: Row, field: String): Double =
    getOpt(r, field).map {
      case d: Double               => d
      case f: Float                => f.toDouble
      case b: java.math.BigDecimal => b.doubleValue
      case l: Long                 => l.toDouble
      case i: Int                  => i.toDouble
      case _                       => 0.0
    }.getOrElse(0.0)

  private def rows(r: Row, field: String): Seq[Row] =
    getOpt(r, field)
      .map(_.asInstanceOf[scala.collection.Seq[Row]].toSeq)
      .getOrElse(Seq.empty)

  /** Render a collected report row as console text. */
  def formatText(report: Row): String = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val reportType = str(report, "report_type", "report")
    lines += "=" * 60
    lines += s"  ${titleCase(reportType)}"
    lines += s"  Generated: ${str(report, "generated_date")}"
    val period = str(report, "period")
    if (period.nonEmpty) lines += s"  Period: $period"
    lines += "=" * 60
    lines += ""

    getOpt(report, "summary").foreach { case s: Row =>
      lines += "SUMMARY"
      lines += "-" * 40
      s.schema.fields.zipWithIndex.foreach { case (f, i) =>
        val label = titleCase(f.name)
        val v = if (s.isNullAt(i)) null else s.get(i)
        numeric(v) match {
          case Some(d) if f.name.contains("rate") => lines += s"  $label: ${pct(d)}"
          case Some(d)                            => lines += s"  $label: $$${money(d)}"
          case None                               => lines += s"  $label: $v"
        }
      }
      lines += ""
    }

    val stateData = rows(report, "state_breakdown")
    if (stateData.nonEmpty) {
      lines += "STATE BREAKDOWN"
      lines += "-" * 40
      stateData.foreach { sd =>
        val state = str(sd, "state", "??")
        if (sd.schema.fieldNames.contains("taxable_amount")) {
          val taxable = dbl(sd, "taxable_amount")
          val tax = getOpt(sd, "tax_collected").flatMap(numeric)
            .getOrElse(dbl(sd, "tax"))
          val count = str(sd, "transaction_count")
          lines += s"  $state: $$${"%12s".format(money(taxable))} taxable | " +
            s"$$${"%10s".format(money(tax))} tax | $count txns"
        } else {
          // amount-only entries (refund reports) — the reference's
          // dict-shaped branch (report_generator.py:461-463)
          lines += s"  $state: $$${"%12s".format(money(dbl(sd, "amount")))}"
        }
      }
      lines += ""
    }

    val alerts = rows(report, "alerts")
    if (alerts.nonEmpty) {
      lines += "ALERTS"
      lines += "-" * 40
      alerts.foreach { a =>
        lines += s"  [${str(a, "severity", "info").toUpperCase}] " +
          s"${str(a, "state")}: ${str(a, "message")}"
        lines += s"          Action: ${str(a, "action")}"
      }
      lines += ""
    }

    val overdue = rows(report, "overdue_filings")
    if (overdue.nonEmpty) {
      lines += "OVERDUE FILINGS"
      lines += "-" * 40
      overdue.foreach { o =>
        lines += s"  ${str(o, "state")}: ${str(o, "period")} | " +
          s"Due: ${str(o, "due_date")} | " +
          s"Est. liability: $$${money(dbl(o, "estimated_liability"))}"
      }
      lines += ""
    }

    if (reportType == "refund_analysis") {
      val reasons = rows(report, "reason_breakdown")
      if (reasons.nonEmpty) {
        lines += "OVERPAYMENT REASONS"
        lines += "-" * 40
        reasons.foreach { rd =>
          lines += s"  ${str(rd, "reason")}: $$${"%10s".format(money(dbl(rd, "amount")))}"
        }
        lines += ""
      }
    }

    val warnings = getOpt(report, "warnings")
      .map(_.asInstanceOf[scala.collection.Seq[String]].toSeq)
      .getOrElse(Seq.empty)
    if (warnings.nonEmpty) {
      lines += "WARNINGS"
      lines += "-" * 40
      warnings.foreach(w => lines += s"  * $w")
      lines += ""
    }

    lines.mkString("\n")
  }

  /** Collect a single-row report frame and render it. */
  def formatText(report: DataFrame): String = formatText(report.head())
}
