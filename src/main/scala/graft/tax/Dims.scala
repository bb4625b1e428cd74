package graft.tax

import graft.functions.{DimLookup, DimTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The jurisdiction dimensions, built from [[TaxDims]] literals. All are
  * tiny (≤ ~100 rows) by design — the reference embeds them as in-process
  * literals (its tax_engine/rates.py:63-764, compliance.py:98-164,
  * refund_analyzer.py:71-92) and resolves them with dict lookups. They
  * come in two forms:
  *  - one scalar [[DimLookup]] column per dimension value: a driver-built
  *    hash table that travels in the plan, so the tax pipelines resolve
  *    every static dimension in-stage, with no join and no broadcast job;
  *  - DataFrames of the dimensions that are listed or joined as data (the
  *    `rates` command, the catalog and the specs).
  *
  * Rates are `DecimalType` built from exact decimal strings — mirroring the
  * reference's `Decimal(str(rate))` (calculator.py:212) so money math is
  * exact, not float-drifted.
  */
object Dims {
  val Rate: DecimalType = DecimalType(10, 6)
  val Money: DecimalType = DecimalType(18, 2)

  /** state_idx, state_code, state_name, base_rate, has_local_taxes,
    * max_local_rate, avg_combined_rate, notes */
  def stateRates(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TaxDims.stateRates
      .toDF("state_idx", "state_code", "state_name", "base_rate_s",
        "has_local_taxes", "max_local_rate_s", "avg_combined_rate_s", "notes")
      .withColumn("base_rate", col("base_rate_s").cast(Rate))
      .withColumn("max_local_rate", col("max_local_rate_s").cast(Rate))
      .withColumn("avg_combined_rate", col("avg_combined_rate_s").cast(Rate))
      .drop("base_rate_s", "max_local_rate_s", "avg_combined_rate_s")
  }

  /** state_code, city_lc, jurisdiction, county, rate, jurisdiction_type */
  def localRates(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TaxDims.localRates
      .toDF("state_code", "city_lc", "jurisdiction", "county", "rate_s",
        "jurisdiction_type")
      .withColumn("rate", col("rate_s").cast(Rate))
      .drop("rate_s")
  }

  /** (state_code, category) pairs: category is exempt in that state. */
  def stateExemptions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TaxDims.stateExemptions.toDF("state_code", "category")
  }

  /** free-text synonym -> canonical exemption category (calculator.py:96-113). */
  def categorySynonyms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TaxDims.categorySynonyms.toDF("synonym", "category")
  }

  def noNexusStates: Seq[String] = TaxDims.noNexusStates
  val DefaultDueDay: Int = TaxDims.defaultDueDay
  val DefaultSolYears: Int = TaxDims.defaultSolYears

  private def dec(s: String) = new java.math.BigDecimal(s)
  private def byState(name: String, t: DataType, rows: Seq[(String, Any)]) =
    DimTable(name, t, rows.map { case (st, v) => Seq(st) -> v })

  private lazy val stateNameT = byState("state_name", StringType,
    TaxDims.stateRates.map(r => r._2 -> r._3))
  private lazy val stateBaseT = byState("state_base_rate", Rate,
    TaxDims.stateRates.map(r => r._2 -> dec(r._4)))
  private lazy val stateHasLocalT = byState("state_has_local", BooleanType,
    TaxDims.stateRates.map(r => r._2 -> r._5))
  private lazy val stateAvgT = byState("state_avg_rate", Rate,
    TaxDims.stateRates.map(r => r._2 -> dec(r._7)))
  private lazy val localRateT = DimTable("local_rate", Rate,
    TaxDims.localRates.map(r => Seq(r._1, r._2) -> dec(r._5)))
  // stateExemptions ⋈ categorySynonyms on category, keyed (state, synonym)
  private lazy val exemptT = {
    val synonyms = TaxDims.categorySynonyms.groupBy(_._2)
    DimTable("exempt_category", StringType,
      for ((st, cat) <- TaxDims.stateExemptions;
           (syn, _) <- synonyms.getOrElse(cat, Nil)) yield Seq(st, syn) -> cat)
  }
  private lazy val nexusRevenueT = byState("nexus_revenue_threshold", Money,
    TaxDims.nexusThresholds.map(r => r._1 -> dec(r._2)))
  private lazy val nexusTxnT = byState("nexus_transaction_threshold", IntegerType,
    TaxDims.nexusThresholds.map(r => r._1 -> r._3.map(Int.box).orNull))
  private lazy val nexusPeriodT = byState("nexus_measurement_period", StringType,
    TaxDims.nexusThresholds.map(r => r._1 -> r._4))
  private lazy val dueDayT = byState("filing_due_day", IntegerType, TaxDims.filingDueDays)
  private lazy val solYearsT = byState("sol_years", IntegerType, TaxDims.solYears)

  /** State name; NULL exactly when `state` is not a known state code. */
  def stateName(state: Column): Column = DimLookup(stateNameT, state)
  def stateBaseRate(state: Column): Column = DimLookup(stateBaseT, state)
  def stateHasLocal(state: Column): Column = DimLookup(stateHasLocalT, state)
  def stateAvgRate(state: Column): Column = DimLookup(stateAvgT, state)

  /** Rate of a city with its own local rate; `cityLc` is lower-cased. */
  def localRate(state: Column, cityLc: Column): Column =
    DimLookup(localRateT, state, cityLc)

  /** The exempt category a lower-cased item category (a synonym,
    * calculator.py:96-113) resolves to in `state`; NULL when not exempt. */
  def exemptCategory(state: Column, categoryLc: Column): Column =
    DimLookup(exemptT, state, categoryLc)

  /** Economic-nexus thresholds; all NULL for a state without threshold
    * data, and the transaction threshold also where only revenue counts. */
  def nexusRevenueThreshold(state: Column): Column = DimLookup(nexusRevenueT, state)
  def nexusTransactionThreshold(state: Column): Column = DimLookup(nexusTxnT, state)
  def nexusPeriod(state: Column): Column = DimLookup(nexusPeriodT, state)

  /** Filing due day-of-month; NULL means [[DefaultDueDay]]. */
  def dueDay(state: Column): Column = DimLookup(dueDayT, state)

  /** Refund statute-of-limitations years; NULL means [[DefaultSolYears]]. */
  def solYears(state: Column): Column = DimLookup(solYearsT, state)
}
