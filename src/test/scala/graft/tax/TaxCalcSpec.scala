package graft.tax

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Divide
import org.apache.spark.sql.functions._
import java.sql.Date

/** Golden tests ported from the reference's tests/test_calculator.py and
  * tests/test_rates.py — exact-value assertions on the Spark pipeline. */
class TaxCalcSpec extends SparkSpec {
  import spark.implicits._

  private def txn(amount: String, state: String, city: String = null,
      category: String = null, cert: String = null,
      custType: String = "retail", pricing: String = "exclusive"): DataFrame =
    TaxCalc.normalize(Seq(
      ("T1", Date.valueOf("2024-01-15"), new java.math.BigDecimal(amount),
        state, Option(city), Option(category), Option(cert), custType, pricing))
      .toDF("transaction_id", "transaction_date", "amount", "state", "city",
        "item_category", "exemption_certificate", "customer_type",
        "pricing_model"))

  private def calc(df: DataFrame): Row = TaxCalc.withTax(df).head()

  private def bd(s: String) = new java.math.BigDecimal(s)

  private def warnings(r: Row): Seq[String] =
    r.getSeq[String](r.fieldIndex("warnings")).toList

  test("flagship: 500 TX Houston -> 31.25 state, 10.00 local, 41.25 total, 8.25%") {
    val r = calc(txn("500.00", "TX", "Houston"))
    assert(r.getAs[java.math.BigDecimal]("state_tax").compareTo(bd("31.25")) == 0)
    assert(r.getAs[java.math.BigDecimal]("local_tax").compareTo(bd("10.00")) == 0)
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("41.25")) == 0)
    assert(math.abs(r.getAs[Double]("effective_rate") - 0.0825) < 1e-9)
    assert(r.getAs[java.math.BigDecimal]("total_with_tax").compareTo(bd("541.25")) == 0)
  }

  test("CA 200 Los Angeles -> 14.50 + 5.00 = 19.50") {
    val r = calc(txn("200.00", "CA", "Los Angeles"))
    assert(r.getAs[java.math.BigDecimal]("state_tax").compareTo(bd("14.50")) == 0)
    assert(r.getAs[java.math.BigDecimal]("local_tax").compareTo(bd("5.00")) == 0)
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("19.50")) == 0)
  }

  test("no-tax state OR: exempt with reason") {
    val r = calc(txn("1000.00", "OR"))
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("0.00")) == 0)
    assert(r.getAs[Boolean]("is_exempt"))
    assert(r.getAs[String]("exemption_reason") == "Oregon has no sales tax")
  }

  test("unknown state ZZ: zero tax + warning, not exempt") {
    val r = calc(txn("100.00", "ZZ", custType = "wholesale"))
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("0.00")) == 0)
    assert(!r.getAs[Boolean]("is_exempt"))
    assert(r.getAs[String]("exemption_reason") == "")
    assert(warnings(r) == Seq("Unknown state code: ZZ"))
  }

  test("category exemption: TX grocery exempt") {
    val r = calc(txn("100.00", "TX", "Houston", category = "grocery"))
    assert(r.getAs[Boolean]("is_exempt"))
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("0.00")) == 0)
    assert(r.getAs[String]("exemption_reason") == "TX exempts grocery")
  }

  test("category synonym + case/trim: TX ' Groceries ' exempt") {
    val r = calc(txn("100.00", "TX", "Houston", category = " Groceries "))
    assert(r.getAs[Boolean]("is_exempt"))
  }

  test("non-exempt category in state without that exemption: MS grocery taxed") {
    val r = calc(txn("100.00", "MS", category = "grocery"))
    assert(!r.getAs[Boolean]("is_exempt"))
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("0.00")) > 0)
  }

  test("wholesale customer exempt") {
    val r = calc(txn("100.00", "TX", "Houston", custType = "wholesale"))
    assert(r.getAs[Boolean]("is_exempt"))
    assert(r.getAs[String]("exemption_reason") == "Customer type: wholesale")
  }

  test("exemption certificate exempt") {
    val r = calc(txn("100.00", "TX", "Houston", cert = "CERT-12345"))
    assert(r.getAs[Boolean]("is_exempt"))
    assert(r.getAs[String]("exemption_reason") == "Exemption cert: CERT-12345")
  }

  test("no-tax precedence beats customer type (OR wholesale)") {
    val r = calc(txn("100.00", "OR", custType = "wholesale"))
    assert(r.getAs[String]("exemption_reason") == "Oregon has no sales tax")
  }

  test("no city in has-local state: average local fallback + warning") {
    // TX avg_combined 0.082, base 0.0625 -> local 0.0195
    val r = calc(txn("1000.00", "TX"))
    assert(r.getAs[java.math.BigDecimal]("state_tax").compareTo(bd("62.50")) == 0)
    assert(r.getAs[java.math.BigDecimal]("local_tax").compareTo(bd("19.50")) == 0)
    assert(warnings(r) ==
      Seq("No city specified for TX; used average local rate"))
  }

  test("unmatched city in has-local state: average local fallback, no warning") {
    val r = calc(txn("1000.00", "TX", "Nowhereville"))
    assert(r.getAs[java.math.BigDecimal]("local_tax").compareTo(bd("19.50")) == 0)
    assert(warnings(r) == Seq.empty[String])
  }

  test("case-insensitive city match: houston == Houston") {
    val r = calc(txn("500.00", "TX", "hOuStOn"))
    assert(r.getAs[java.math.BigDecimal]("local_tax").compareTo(bd("10.00")) == 0)
  }

  test("no-local state MD: exactly 6%, no local component") {
    val r = calc(txn("500.00", "MD"))
    assert(r.getAs[java.math.BigDecimal]("state_tax").compareTo(bd("30.00")) == 0)
    assert(r.getAs[java.math.BigDecimal]("local_tax").compareTo(bd("0.00")) == 0)
    assert(warnings(r) == Seq.empty[String])
  }

  test("tax-inclusive back-out: 541.25 TX Houston inclusive -> taxable 500.00") {
    val r = calc(txn("541.25", "TX", "Houston", pricing = "inclusive"))
    assert(r.getAs[java.math.BigDecimal]("taxable_amount").compareTo(bd("500.00")) == 0)
    assert(r.getAs[java.math.BigDecimal]("tax_amount").compareTo(bd("41.25")) == 0)
  }

  test("use tax with credit: 1000 TX Houston paid 30 -> 52.50") {
    val p = Seq(("1000.00", "TX", "Houston", "30.00"))
      .toDF("amount", "state", "city", "tax_already_paid")
      .withColumn("amount", $"amount".cast(Dims.Money))
      .withColumn("tax_already_paid", $"tax_already_paid".cast(Dims.Money))
    val r = TaxCalc.useTax(p).head()
    assert(r.getAs[java.math.BigDecimal]("use_tax").compareTo(bd("52.50")) == 0)
    assert(warnings(r) ==
      Seq("Credit applied for $30.00 tax already paid"))
  }

  test("use tax without credit: 1000 TX Houston -> 82.50, no warning") {
    val p = Seq(("1000.00", "TX", "Houston", "0.00"))
      .toDF("amount", "state", "city", "tax_already_paid")
      .withColumn("amount", $"amount".cast(Dims.Money))
      .withColumn("tax_already_paid", $"tax_already_paid".cast(Dims.Money))
    val r = TaxCalc.useTax(p).head()
    assert(r.getAs[java.math.BigDecimal]("use_tax").compareTo(bd("82.50")) == 0)
    assert(warnings(r) == Seq.empty[String])
  }

  test("dims load: 51 states, local rates present, TX/CA/NY base rates") {
    val st = Dims.stateRates(spark)
    assert(st.count() == 51)
    val tx = st.filter($"state_code" === "TX").head()
    assert(tx.getAs[java.math.BigDecimal]("base_rate").compareTo(bd("0.062500")) == 0)
    val ca = st.filter($"state_code" === "CA").head()
    assert(ca.getAs[java.math.BigDecimal]("base_rate").compareTo(bd("0.072500")) == 0)
    val lr = Dims.localRates(spark)
    val hou = lr.filter($"state_code" === "TX" && $"city_lc" === "houston").head()
    assert(hou.getAs[java.math.BigDecimal]("rate").compareTo(bd("0.020000")) == 0)
    assert(hou.getAs[String]("county") == "Harris")
    val nyc = lr.filter($"state_code" === "NY" && $"city_lc" === "new york city").head()
    assert(nyc.getAs[java.math.BigDecimal]("rate").compareTo(bd("0.045000")) == 0)
  }

  test("batch agg over mixed batch") {
    val df = TaxCalc.normalize(Seq(
      ("B1", Date.valueOf("2024-01-01"), bd("500.00"), "TX", Some("Houston"), None: Option[String]),
      ("B2", Date.valueOf("2024-01-02"), bd("100.00"), "TX", Some("Houston"), Some("grocery")),
      ("B3", Date.valueOf("2024-01-03"), bd("200.00"), "OR", None, None))
      .toDF("transaction_id", "transaction_date", "amount", "state", "city", "item_category"))
    val r = TaxCalc.batchAgg(TaxCalc.withTax(df)).head()
    assert(r.getAs[Long]("transaction_count") == 3)
    assert(r.getAs[Long]("exempt_count") == 2)
    assert(r.getAs[java.math.BigDecimal]("total_tax").compareTo(bd("41.25")) == 0)
    assert(r.getAs[java.math.BigDecimal]("total_exempt").compareTo(bd("300.00")) == 0)
    assert(r.getAs[java.math.BigDecimal]("total_taxable").compareTo(bd("800.00")) == 0)
  }

  test("top-k rates: highest avg combined desc / lowest nonzero base asc") {
    val st = Dims.stateRates(spark)
    val hi = st.orderBy($"avg_combined_rate".desc, $"state_code").limit(5)
      .select("state_code").as[String].collect()
    assert(hi.length == 5)
    val lo = st.filter($"base_rate" > 0)
      .orderBy($"base_rate".asc, $"state_code").limit(5)
      .select("state_code").as[String].collect()
    assert(lo.contains("CO")) // CO 2.9% is the lowest nonzero state rate
  }

  test("normalize and withTax build one projection per stage: 7 Projects, not 24") {
    // normalize: the defaults, then the clean-up; withTax: dims, rates
    // and flags, taxable, the rounded components, the sums
    val raw = TaxCalc.readCsv(spark, sampleCsv)
    val n = projectsOver(TaxCalc.withTax(TaxCalc.normalize(raw)), raw)
    assert(n <= 7, s"withTax(normalize(csv)) stacks $n Projects")
  }

  test("withTax's optimized plan divides once: the back-out is not inlined") {
    // the staged projections keep the one division behind its alias; an
    // inlined copy per consumer is the op_incl_backout slowdown. The
    // pricing model comes from the data: a defaulted "exclusive" literal
    // lets the optimizer fold the back-out branch away
    val txns = TaxCalc.readCsv(spark, sampleCsv).withColumn("pricing_model",
      when(col("amount") > 100, "inclusive").otherwise("exclusive"))
    val taxed = TaxCalc.withTax(TaxCalc.normalize(txns))
    val divides = taxed.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case d: Divide => d }))
    assert(divides.size == 1, taxed.queryExecution.optimizedPlan.treeString)
  }
}
