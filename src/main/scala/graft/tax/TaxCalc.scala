package graft.tax

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** The per-transaction tax computation, re-expressed as one reusable lazy
  * column-expression block over a transactions DataFrame.
  *
  * Semantics mirror the reference's `TaxCalculator.calculate`
  * (/root/reference/tax_engine/calculator.py:157-256) exactly, including the
  * observable branch precedence (unknown-state → no-tax-state → customer-type
  * → certificate → category exemption), the average-local-rate fallback
  * (calculator.py:214-224), tax-inclusive back-out (calculator.py:229-232),
  * and HALF_UP cents rounding applied per component before summing
  * (calculator.py:236-238). Architecture is Spark-first: the reference's
  * dict lookups become in-stage hashed [[Dims]] lookup columns, its
  * if/elif chains become a single CASE expression tree, and the whole thing
  * stays inside whole-stage codegen — no joins, no UDFs.
  */
object TaxCalc {
  import Dims.{Money, Rate}

  /** Adds any missing optional columns with their reference defaults and
    * normalizes: state upper-cased, empty strings → NULL (cli.py:57-59). */
  def normalize(txns: DataFrame): DataFrame = {
    val defaults = Seq(
      "city" -> lit(null).cast(StringType),
      "item_category" -> lit(null).cast(StringType),
      "exemption_certificate" -> lit(null).cast(StringType),
      "customer_type" -> lit("retail"),
      "pricing_model" -> lit("exclusive"),
      "tax_paid" -> lit(null).cast(Money))
      .filterNot { case (c, _) => txns.columns.contains(c) }
    // two projections: the defaults first, because the clean-up below
    // reads `city` and `item_category` whether given or defaulted
    txns.select(col("*") +: defaults.map { case (c, e) => e.as(c) }: _*)
      .withColumns(ListMap(
        "state" -> upper(trim(col("state"))),
        "city" -> nullif(trim(col("city")), lit("")),
        "item_category" -> nullif(trim(col("item_category")), lit("")),
        "amount" -> col("amount").cast(Money)))
  }

  /** HALF_UP cents rounding — Spark's `round` on DecimalType is HALF_UP,
    * matching the reference's quantize(0.01, ROUND_HALF_UP)
    * (calculator.py:116-118). Cast back to Money to keep a stable scale. */
  private[tax] def roundMoney(c: Column): Column = round(c, 2).cast(Money)

  /** CSV loader with the reference's permissive bad-row behavior
    * (cli.py:63-66): malformed rows are dropped, not failed. */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("transaction_id", StringType),
      StructField("transaction_date", DateType),
      StructField("amount", Money),
      StructField("state", StringType),
      StructField("city", StringType),
      StructField("item_category", StringType),
      StructField("tax_paid", Money),
      StructField("_corrupt", StringType)))
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema)
      .csv(path)
      .filter(col("_corrupt").isNull && col("amount").isNotNull &&
        col("state").isNotNull && col("transaction_date").isNotNull)
      .drop("_corrupt")
  }

  /** The tax expression block. Input: normalized transactions (see
    * [[normalize]]). Output: input columns + `taxable_amount, state_tax,
    * local_tax, tax_amount, effective_rate, is_exempt, exemption_reason,
    * warnings, total_with_tax` — the `TaxResult` fields (calculator.py:60-78).
    *
    * The state, local-rate and exemption dimensions resolve per row with
    * hashed [[Dims]] lookups (a miss is NULL): at
    * 100 TB of facts this plan has no join, no broadcast and no shuffle —
    * scan → projection, one codegen stage.
    */
  def withTax(txns: DataFrame): DataFrame = {
    val state = col("state")
    val withDims = txns.select(col("*"),
      Dims.stateName(state).as("st_name"),
      Dims.stateBaseRate(state).as("st_base"),
      Dims.stateHasLocal(state).as("st_has_local"),
      Dims.stateAvgRate(state).as("st_avg"),
      Dims.localRate(state, lower(col("city"))).as("lr_rate"),
      Dims.exemptCategory(state, lower(col("item_category"))).as("ex_category"))

    val unknownState = col("st_name").isNull
    val noTaxState = col("st_base") === lit(BigDecimal(0)).cast(Rate) && !col("st_has_local")

    // Exemption resolution, first-match-wins (calculator.py:132-155).
    val custExempt = col("customer_type").isin("wholesale", "exempt")
    val certExempt = col("exemption_certificate").isNotNull &&
      col("exemption_certificate") =!= ""
    val catExempt = col("ex_category").isNotNull
    val exemptReason =
      when(unknownState, lit(""))  // unknown state wins over all (calculator.py:164-178)
        .when(noTaxState, concat(col("st_name"), lit(" has no sales tax")))
        .when(custExempt, concat(lit("Customer type: "), col("customer_type")))
        .when(certExempt, concat(lit("Exemption cert: "), col("exemption_certificate")))
        .when(catExempt, concat(col("state"), lit(" exempts "), col("ex_category")))
        .otherwise(lit(""))
    val isExempt = !unknownState && (noTaxState || custExempt || certExempt || catExempt)

    // Rate resolution with the average-local-portion fallback
    // (calculator.py:211-224): matched city rate, else avg_combined − base
    // floored at 0 when the state has local taxes, else 0.
    val zeroRate = lit(BigDecimal(0)).cast(Rate)
    val avgLocal = greatest(col("st_avg") - col("st_base"), zeroRate)
    val localRate =
      when(col("lr_rate").isNotNull, col("lr_rate"))
        .when(col("st_has_local"), avgLocal)
        .otherwise(zeroRate)
    val stateRate = col("st_base")
    val combinedRate = (stateRate + localRate).cast(Rate)

    val taxed = !unknownState && !isExempt

    // Tax-inclusive back-out: taxable = round(amount / (1 + rate), 2)
    // (calculator.py:229-232); otherwise taxable = amount.
    val backout = roundMoney(col("amount").cast(DecimalType(28, 10)) /
      (lit(BigDecimal(1)).cast(Rate) + col("_crate")))
    val zeroMoney = lit(BigDecimal(0)).cast(Money)

    val warnings =
      when(unknownState, array(concat(lit("Unknown state code: "), col("state"))))
        .when(col("_taxed") && col("city").isNull && col("st_has_local"),
          array(concat(lit("No city specified for "), col("state"),
            lit("; used average local rate"))))
        .otherwise(array().cast(ArrayType(StringType, containsNull = false)))

    // STAGED projections (round 18): each expensive decimal subtree is
    // materialized ONCE behind an alias, and every later stage references
    // the ATTRIBUTE, never a copy of the tree. The one-big-projection
    // form evaluated the back-out division + the per-component HALF_UP
    // roundings up to ~8x per row (taxable appears in state_tax,
    // local_tax, tax_amount = their sum, and total_with_tax re-inlines
    // all three) — codegen's subexpression elimination can NOT rescue it
    // because the shared subtrees sit under CASE WHEN branches, which CSE
    // skips (conditional evaluation). CollapseProject keeps these
    // boundaries: each aliased stage output is referenced by 2+ non-cheap
    // consumers downstream, exactly the guard that blocks inlining.
    // Measured on op_incl_backout (600 k rows, every row inclusive):
    // 7.5 s -> 1.4 s warm. Still one codegen stage, still zero shuffles.
    //
    // Grouping rule: one projection per dependency level, never one per
    // column. A column joins the first stage whose input already holds
    // every column it reads, so a stage only reads attributes of the
    // stage below: dims -> rates and flags -> taxable -> the rounded
    // components -> their sums (total_with_tax repeats tax_amount's one
    // decimal addition rather than take a stage of its own). A chained
    // `withColumn` per column would re-analyze the growing plan once per
    // column on the driver.
    val rated = withDims.withColumns(ListMap(
      "is_exempt" -> isExempt,
      "exemption_reason" -> exemptReason,
      "_taxed" -> taxed,
      "_srate" -> stateRate,
      "_lrate" -> localRate,
      "_crate" -> combinedRate))
    val withTaxable = rated.withColumns(ListMap(
      "taxable_amount" ->
        when(col("_taxed") && col("pricing_model") === "inclusive", backout)
          .otherwise(col("amount")).cast(Money),
      "state_rate" -> when(col("_taxed"), col("_srate")).otherwise(zeroRate),
      "local_rate" -> when(col("_taxed"), col("_lrate")).otherwise(zeroRate),
      "effective_rate" ->
        when(col("_taxed"), col("_crate").cast(DoubleType)).otherwise(lit(0.0)),
      "warnings" -> warnings))
    // components rounded separately, then summed (calculator.py:236-238)
    // — round-of-sum would differ on .005 splits and is observable
    val withComponents = withTaxable.withColumns(ListMap(
      "state_tax" -> when(col("_taxed"),
        roundMoney(col("taxable_amount") * col("_srate"))).otherwise(zeroMoney),
      "local_tax" -> when(col("_taxed"),
        roundMoney(col("taxable_amount") * col("_lrate"))).otherwise(zeroMoney)))

    // the sums, in the published column order (inputs, then the TaxResult
    // fields in their historical positions); dims and internals drop out
    val taxAmount = (col("state_tax") + col("local_tax")).cast(Money)
    withComponents.select(txns.columns.toSeq.map(col) ++ Seq(
      col("is_exempt"), col("exemption_reason"), col("state_rate"),
      col("local_rate"), col("taxable_amount"), col("state_tax"),
      col("local_tax"), taxAmount.as("tax_amount"), col("effective_rate"),
      col("warnings"),
      (col("taxable_amount") + taxAmount).cast(Money).as("total_with_tax")): _*)
  }

  /** Batch aggregation (calculator.py:258-303): global totals + exempt
    * conditionals. One hash-aggregate pass, map-side partials at scale. */
  def batchAgg(taxed: DataFrame): DataFrame =
    taxed.agg(
      sum("taxable_amount").cast(Money).as("total_taxable"),
      sum("tax_amount").cast(Money).as("total_tax"),
      coalesce(sum(when(col("is_exempt"), col("taxable_amount"))), lit(BigDecimal(0)))
        .cast(Money).as("total_exempt"),
      count(lit(1)).as("transaction_count"),
      count(when(col("is_exempt"), 1)).as("exempt_count"))

  /** Per-state tax breakdown (calculator.py:285-288). */
  def stateBreakdown(taxed: DataFrame): DataFrame =
    taxed.groupBy("state")
      .agg(sum("tax_amount").cast(Money).as("state_total_tax"))

  /** Per-state summary rollup (report_generator.py:83-130): counts, taxable,
    * tax, exempt amount, effective rate with zero-guard. */
  def summaryByState(taxed: DataFrame): DataFrame =
    taxed.groupBy("state").agg(
      count(lit(1)).as("transaction_count"),
      sum("taxable_amount").cast(Money).as("taxable_amount"),
      sum("tax_amount").cast(Money).as("tax_amount"),
      coalesce(sum(when(col("is_exempt"), col("taxable_amount"))), lit(BigDecimal(0)))
        .cast(Money).as("exempt_amount"),
      count(when(col("is_exempt"), 1)).as("exempt_count"))
    .withColumn("effective_rate",
      when(col("taxable_amount") > 0,
        (col("tax_amount").cast(DoubleType) / col("taxable_amount").cast(DoubleType)))
        .otherwise(lit(0.0)))

  /** Use tax on out-of-state purchases (calculator.py:305-345): destination
    * tax minus credit for tax already paid, floored at zero, re-rounded.
    * Input: purchases(amount, state, city, tax_already_paid). `asOf` stamps
    * the synthetic transaction date — an explicit parameter (never
    * current_date()) per the repo's pinned-as-of determinism rule. */
  def useTax(purchases: DataFrame,
      asOf: java.time.LocalDate = java.time.LocalDate.of(2024, 1, 1)): DataFrame = {
    val base = withTax(normalize(
      purchases.withColumn("transaction_id", lit("use-tax-calc"))
        .withColumn("transaction_date", lit(java.sql.Date.valueOf(asOf)))
        .withColumn("item_category", lit(null).cast(StringType))))
    val credit = least(col("tax_already_paid").cast(Money), col("tax_amount"))
    base
      .withColumn("credit", credit)
      .withColumn("use_tax", roundMoney(col("tax_amount") - credit))
      .withColumn("warnings",
        when(col("credit") > 0,
          array(concat(lit("Credit applied for $"),
            format_number(col("credit"), 2), lit(" tax already paid"))))
          .otherwise(array().cast(ArrayType(StringType, containsNull = false))))
  }
}
