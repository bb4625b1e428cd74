package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.tax._

/** Thin CLI mirroring the reference's subcommands (cli.py:466-529):
  *
  *   runMain graft.Cli calculate --file txns.csv [--period P] [--export-json f]
  *   runMain graft.Cli calculate --amount 500 --state TX --city Houston
  *   runMain graft.Cli rates [--state TX | --category groceries]
  *   runMain graft.Cli compliance --file txns.csv --registered TX,CA [--export-json f]
  *   runMain graft.Cli refund --file txns.csv [--quick [--minimum 0.50]]
  *   runMain graft.Cli report --file txns.csv [--period P] [--export-json f] [--export-csv f]
  *
  * Every command also takes `--as-of YYYY-MM-DD` (default today, like the
  * reference's date.today()): it dates the single transaction, the nexus
  * alerts and the statute-of-limitations window, and stamps
  * `generated_date` on exported reports. Exports go under `--output-dir`
  * (default `reports`).
  *
  * Rendering collects only aggregate/summary/display rows to the driver —
  * all computation (including display truncation) stays in Spark. `report`
  * collects each document once; its text and its JSON export both come
  * from that one row; `compliance` collects the per-state activity once
  * and its nexus table, alerts and export all read those rows. The
  * commands that read the taxed transactions more than once (calculate,
  * refund, report) persist that one frame, `withTax` over the normalized
  * CSV, on first use and release it when the command ends, so each reads
  * the file from disk and computes each transaction's tax once; the
  * one-action commands (compliance, refund --quick) persist nothing. An
  * unknown or missing command throws an IllegalArgumentException
  * carrying the usage line, and `rates --state` with a code not in the
  * rate table throws one naming the code, so `main` exits non-zero.
  */
object Cli {
  import tax.TextReport.{money, pct}
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-tax-cli", logLevel = "ERROR")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val file = arg(args, "file")
    val asOf = arg(args, "as-of").map(java.time.LocalDate.parse)
      .getOrElse(java.time.LocalDate.now())
    val outDir = arg(args, "output-dir").getOrElse("reports")
    val period = arg(args, "period").getOrElse("")
    // the file commands' input, read lazily; `taxed` is persisted on first
    // use, so the commands that read it more than once compute each
    // transaction's tax once, and released after the command
    var persisted: Option[DataFrame] = None
    lazy val txns = TaxCalc.normalize(TaxCalc.readCsv(spark,
      file.getOrElse(sys.error("--file required"))))
    lazy val taxed = {
      val df = TaxCalc.withTax(txns).persist(StorageLevel.MEMORY_AND_DISK)
      persisted = Some(df)
      df
    }
    // collected rows as a local relation: later plans read these rows
    // instead of evaluating their source again. One partition: the rows
    // are few, and a global aggregate or sort over one partition needs
    // no exchange, so no extra job
    def local(rows: Array[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
    try args.headOption match {
      case Some("calculate") => file match {
        case Some(_) =>
          println("Tax Calculation Results")
          println(f"${"ID"}%-14s ${"State"}%-5s ${"City"}%-16s ${"Amount"}%12s ${"Tax"}%10s ${"Rate"}%8s Exempt")
          Reports.displayResults(taxed).collect().foreach { r =>
            println(f"${r.getAs[String]("id")}%-14s ${r.getAs[String]("state")}%-5s " +
              f"${r.getAs[String]("city")}%-16s ${money(r.getAs[Double]("amount"))}%12s " +
              f"${money(r.getAs[Double]("tax"))}%10s ${pct(r.getAs[Double]("effective_rate"))}%8s " +
              (if (r.getAs[Boolean]("is_exempt")) "Y" else ""))
          }
          println()
          val b = TaxCalc.batchAgg(taxed).head()
          println(f"Transactions: ${b.getAs[Long]("transaction_count")}")
          println(f"Total taxable: $$${b.getAs[java.math.BigDecimal]("total_taxable")}")
          println(f"Total tax:     $$${b.getAs[java.math.BigDecimal]("total_tax")}")
          println(f"Exempt:        ${b.getAs[Long]("exempt_count")} ($$${b.getAs[java.math.BigDecimal]("total_exempt")})")
          println("\nPer-state breakdown:")
          TaxCalc.summaryByState(taxed).orderBy("state").collect().foreach { r =>
            println(f"  ${r.getAs[String]("state")}  n=${r.getAs[Long]("transaction_count")}%-6d tax=$$${r.getAs[java.math.BigDecimal]("tax_amount")}")
          }
          arg(args, "export-json").foreach { name =>
            Reports.writeJson(Reports.taxSummaryReport(taxed, period,
              asOf.toString), s"$outDir/$name")
            println(s"JSON exported to $name")
          }
        case None =>
          val amount = arg(args, "amount").getOrElse(sys.error("--amount or --file required"))
          val txn = Seq((
            "cli", java.sql.Date.valueOf(asOf),
            new java.math.BigDecimal(amount),
            arg(args, "state").getOrElse(sys.error("--state required")),
            arg(args, "city").orNull, arg(args, "category").orNull))
            .toDF("transaction_id", "transaction_date", "amount", "state",
              "city", "item_category")
          val r = TaxCalc.withTax(TaxCalc.normalize(txn)).head()
          println(f"Taxable:  $$${r.getAs[java.math.BigDecimal]("taxable_amount")}")
          println(f"State tax: $$${r.getAs[java.math.BigDecimal]("state_tax")}")
          println(f"Local tax: $$${r.getAs[java.math.BigDecimal]("local_tax")}")
          println(f"Total tax: $$${r.getAs[java.math.BigDecimal]("tax_amount")}")
          println(f"Rate: ${r.getAs[Double]("effective_rate") * 100}%.2f%%")
          if (r.getAs[Boolean]("is_exempt"))
            println(s"EXEMPT: ${r.getAs[String]("exemption_reason")}")
      }

      case Some("rates") =>
        val st = Dims.stateRates(spark)
        (arg(args, "category"), arg(args, "state")) match {
          case (Some(catRaw), _) =>
            // states exempting a category (rates.py:856-862); free-text
            // input resolves through the synonym map like the calculator
            val catLc = catRaw.trim.toLowerCase
            val resolved = Dims.categorySynonyms(spark)
              .filter(col("synonym") === catLc).select("category")
              .collect().headOption.map(_.getString(0)).getOrElse(catLc)
            val states = Dims.stateExemptions(spark)
              .filter(col("category") === resolved)
              .select("state_code").orderBy("state_code")
              .collect().map(_.getString(0))
            println(s"States exempting '$resolved': " +
              (if (states.isEmpty) "(none)" else states.mkString(", ")))
          case (None, Some(s)) =>
            val r = st.filter(upper(col("state_code")) === s.toUpperCase).head(1)
              .headOption.getOrElse(
                throw new IllegalArgumentException(s"unknown state code: $s"))
            println(s"${r.getAs[String]("state_name")} (${r.getAs[String]("state_code")})")
            println(s"  base rate:     ${r.getAs[java.math.BigDecimal]("base_rate")}")
            println(s"  avg combined:  ${r.getAs[java.math.BigDecimal]("avg_combined_rate")}")
            println(s"  local taxes:   ${r.getAs[Boolean]("has_local_taxes")}")
            Dims.localRates(spark).filter(col("state_code") === s.toUpperCase)
              .orderBy("jurisdiction").collect().foreach { lr =>
                println(s"    ${lr.getAs[String]("jurisdiction")} (${lr.getAs[String]("county")}): ${lr.getAs[java.math.BigDecimal]("rate")}")
              }
          case (None, None) =>
            // All-states summary sorted by code (rates.py:864-866 all_states;
            // cli.py:208-231): base "None" when zero, avg "-" when zero.
            println("US Sales Tax Rates - All States")
            println(f"${"State"}%-6s ${"Name"}%-22s ${"Base Rate"}%10s ${"Avg Combined"}%13s Local")
            st.orderBy("state_code").collect().foreach { r =>
              val base = r.getAs[java.math.BigDecimal]("base_rate").doubleValue
              val avg = r.getAs[java.math.BigDecimal]("avg_combined_rate").doubleValue
              println(f"${r.getAs[String]("state_code")}%-6s ${r.getAs[String]("state_name")}%-22s " +
                f"${if (base > 0) pct(base, 3) else "None"}%10s " +
                f"${if (avg > 0) pct(avg, 3) else "-"}%13s " +
                (if (r.getAs[Boolean]("has_local_taxes")) "Y" else ""))
            }
        }

      case Some("compliance") =>
        val registered = arg(args, "registered")
          .map(_.split(",").toSeq).getOrElse(Seq.empty)
          .toDF("state_code")
        // ≤ 51 rows, collected once: the nexus table, the alerts and the
        // export all read them, so the CSV is scanned once
        val activityDf = Compliance.stateActivity(txns)
        val activity = local(activityDf.collect(), activityDf.schema)
        val nexus = Compliance.checkNexus(activity)
        println("Nexus status (top by revenue pct):")
        nexus.limit(15).collect().foreach { r =>
          val flag = if (r.getAs[Boolean]("has_nexus")) "NEXUS"
            else if (r.getAs[Boolean]("approaching_threshold")) "approaching" else ""
          println(f"  ${r.getAs[String]("state")}  rev=$$${r.getAs[java.math.BigDecimal]("revenue")}  $flag")
        }
        println("\nAlerts:")
        Compliance.alerts(activity, registered, asOf)
          .collect().foreach { a =>
            println(s"  [${a.getAs[String]("severity")}] ${a.getAs[String]("message")}")
          }
        arg(args, "export-json").foreach { name =>
          Reports.writeJson(Reports.nexusReport(nexus, asOf.toString),
            s"$outDir/$name")
          println(s"Report exported to $name")
        }

      case Some("refund") =>
        if (args.contains("--quick")) {
          // Quick scan (cmd_refund --quick, cli.py:340-377): overpayments at
          // or above --minimum (default 0.50), id/reason truncated in-plan.
          val minimum = BigDecimal(arg(args, "minimum").getOrElse("0.50"))
          val hits = Reports.displayQuickScan(
            Refunds.quickScan(txns, asOf, minimum)).collect()
          if (hits.isEmpty) { println("No significant overpayments found."); return }
          println("Quick Scan: Overpayments Found")
          println(f"${"Transaction"}%-14s ${"State"}%-5s ${"Amount"}%10s ${"Tax Paid"}%10s ${"Tax Owed"}%10s ${"Overpayment"}%12s Reason")
          hits.foreach { r =>
            println(f"${r.getAs[String]("id")}%-14s ${r.getAs[String]("state")}%-5s " +
              f"${money(r.getAs[Double]("sale_amount"))}%10s ${money(r.getAs[Double]("tax_paid"))}%10s " +
              f"${money(r.getAs[Double]("tax_owed"))}%10s ${money(r.getAs[Double]("overpayment"))}%12s " +
              r.getAs[String]("reason"))
          }
          println(f"%nTotal overpayments: $$${money(hits.map(_.getAs[Double]("overpayment")).sum)}")
        } else {
          // withTax keeps one row per input row. The count also fills the
          // cache before `overpayments` re-derives `withTax(txns)`, which
          // the cache manager then serves from `taxed`
          val reviewed = taxed.count()
          val over = Refunds.overpayments(txns, asOf)
          val s = Refunds.summary(over, reviewed).head()
          println(s"Reviewed:      ${s.getAs[Long]("total_transactions_reviewed")}")
          println(s"Overpayments:  ${s.getAs[Long]("overpayment_count")}")
          println(s"Total:         $$${s.getAs[java.math.BigDecimal]("total_overpayment")}")
          println(s"Est. recovery: $$${s.getAs[java.math.BigDecimal]("estimated_recovery")} (85%)")
          println("\nClaims by state:")
          Refunds.claims(over).collect().foreach { c =>
            println(f"  ${c.getAs[String]("state_code")}  $$${c.getAs[java.math.BigDecimal]("total_refund_requested")}  (${c.getAs[Long]("transaction_count")} txns)")
          }
        }

      // Full compliance report (cmd_report, cli.py:421-463): tax summary +
      // refund analysis rendered via format_text, optional JSON/CSV export.
      case Some("report") =>
        // the flat summary rows, collected once: the tax document, its
        // text and JSON, and the CSV export all read them. Collecting
        // them fills the cache before `overpayments` re-derives
        // `withTax(txns)`, which the cache manager then serves from `taxed`
        val flatDf = Reports.taxSummaryFlat(taxed)
        val flat = local(flatDf.collect(), flatDf.schema)
        val taxRow = Reports.taxSummaryFold(flat, period, asOf.toString).head()
        println(TextReport.formatText(taxRow))
        // withTax keeps one row per input row: its count is the reviewed count
        val reviewed = taxRow.getAs[Row]("summary").getAs[Long]("total_transactions")
        val refundRow = Reports.refundReport(Refunds.overpayments(txns, asOf),
          reviewed, asOf.toString).head()
        val anyOverpayment = refundRow.getAs[Row]("summary").getAs[Long]("overpayments_found") > 0
        if (anyOverpayment) println(TextReport.formatText(refundRow))
        arg(args, "export-json").foreach { name =>
          Reports.writeJson(local(Array(taxRow), taxRow.schema), s"$outDir/tax_$name")
          if (anyOverpayment)
            Reports.writeJson(local(Array(refundRow), refundRow.schema), s"$outDir/refund_$name")
          println("Reports exported.")
        }
        arg(args, "export-csv").foreach { name =>
          Reports.writeCsv(flat.filter(col("section") === "state").drop("section"),
            s"$outDir/tax_$name")
          Reports.exportTransactionDetails(taxed, s"$outDir/details_$name")
          println("CSV exported.")
        }

      case other =>
        throw new IllegalArgumentException(s"unknown command: ${other.getOrElse("<none>")}; " +
          "usage: calculate|rates|compliance|refund|report [options]")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }
}
