package graft.functions

import graft.SparkSpec
import graft.tax.{Dims, TaxDims}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[DimLookup]] against the left join it replaces: for every dimension
  * value [[Dims]] exposes, a lookup over every dimension key plus the
  * misses must equal a left join against a frame built here from the
  * [[TaxDims]] rows — under whole-stage codegen and under interpreted eval.
  */
class DimLookupSpec extends SparkSpec {

  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  private val stateKeys: Seq[String] =
    TaxDims.stateRates.map(_._2) ++ Seq("ZZ", "ny", null)

  private def keyFrame(s: SparkSession, keys: Seq[Seq[String]]): DataFrame = {
    val n = keys.head.length
    val schema = StructType((0 until n).map(i => StructField(s"k$i", StringType)))
    // an RDD-backed frame, not a LocalRelation: ConvertToLocalRelation would
    // evaluate the projection on the driver and bypass the generated code
    s.createDataFrame(s.sparkContext.parallelize(keys.map(Row.fromSeq), 2), schema)
  }

  private def dimFrame(s: SparkSession, rows: Seq[(Seq[String], Any)],
      t: DataType): DataFrame = {
    val n = rows.head._1.length
    val schema = StructType((0 until n).map(i => StructField(s"d$i", StringType)) :+
      StructField("v_s", StringType))
    s.createDataFrame(s.sparkContext.parallelize(rows.map { case (k, v) =>
      Row.fromSeq(k :+ Option(v).map(_.toString).orNull) }), schema)
      .withColumn("v", col("v_s").cast(t)).drop("v_s")
  }

  /** Rows of `(keys..., value)` from the lookup and from the left join;
    * `key` maps the raw key columns to the lookup's key expressions, and
    * the join matches on the same expressions. */
  private def parity(s: SparkSession, keys: Seq[Seq[String]],
      rows: Seq[(Seq[String], Any)], t: DataType,
      lookup: Seq[Column] => Column, key: Seq[Column] => Seq[Column] = identity,
      default: Option[Any] = None): Seq[Row] = {
    val in = keyFrame(s, keys)
    val kc = in.columns.toSeq.map(in(_))
    val fill: Column => Column = c => default.fold(c)(d => coalesce(c, lit(d)))
    val viaLookup = in.select(kc :+ fill(lookup(key(kc))).as("v"): _*)
    val dim = dimFrame(s, rows, t)
    val cond = key(kc).zip(dim.columns.init.map(dim(_)))
      .map { case (k, d) => k === d }.reduce(_ && _)
    val viaJoin = in.join(dim, cond, "left").select(kc :+ fill(dim("v")).as("v"): _*)
    val got = viaLookup.collect().toSeq
    val plan = viaLookup.queryExecution.executedPlan.toString
    if (s eq spark)
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("dim_lookup")),
        s"lookup must run inside whole-stage codegen:\n$plan")
    else assert(!plan.contains("*("), plan)
    assert(viaLookup.schema("v").dataType == t)
    val order = (r: Row) => r.toSeq.map(String.valueOf).mkString("|")
    assert(got.sortBy(order) == viaJoin.collect().toSeq.sortBy(order))
    assert(got.size == keys.size)
    got
  }

  private def value(rows: Seq[Row], k: String*): Any =
    rows.find(r => (0 until k.length).forall(i => r.get(i) == k(i))).get.get(k.length)

  private def bothModes(name: String)(body: SparkSession => Unit): Unit = {
    test(s"$name (codegen)")(body(spark))
    test(s"$name (interpreted)")(body(interpreted))
  }

  bothModes("state dimension: name, base rate, local flag, average rate") { s =>
    val keys = stateKeys.map(Seq(_))
    def rows(f: ((Int, String, String, String, Boolean, String, String, String)) => Any) =
      TaxDims.stateRates.map(r => Seq(r._2) -> f(r))
    val names = parity(s, keys, rows(_._3), StringType, k => Dims.stateName(k.head))
    assert(value(names, "CA") == "California")
    assert(value(names, "ZZ") == null && value(names, null) == null &&
      value(names, "ny") == null)
    parity(s, keys, rows(_._4), Dims.Rate, k => Dims.stateBaseRate(k.head))
    parity(s, keys, rows(_._5), BooleanType, k => Dims.stateHasLocal(k.head))
    parity(s, keys, rows(_._7), Dims.Rate, k => Dims.stateAvgRate(k.head))
  }

  bothModes("local rates: every (state, city), a city under another state, NULLs") { s =>
    val keys = TaxDims.localRates.map(r => Seq(r._1, r._2)) ++ Seq(
      Seq("TX", "los angeles"), Seq("ZZ", "juneau"), Seq(null, "juneau"),
      Seq("AK", null), Seq("AK", "Juneau"))
    val got = parity(s, keys, TaxDims.localRates.map(r => Seq(r._1, r._2) -> r._5),
      Dims.Rate, k => Dims.localRate(k(0), k(1)), k => Seq(k(0), lower(k(1))))
    assert(value(got, "CA", "los angeles") == new java.math.BigDecimal("0.025000"))
    assert(value(got, "TX", "los angeles") == null)
    assert(value(got, "AK", "Juneau") == new java.math.BigDecimal("0.050000"))
    assert(value(got, null, "juneau") == null && value(got, "AK", null) == null)
  }

  bothModes("exemptions: every (state, synonym), mixed case, NULLs") { s =>
    val synonyms = TaxDims.categorySynonyms.map(_._1)
    val keys = (for (st <- stateKeys; syn <- synonyms :+ null) yield Seq(st, syn)) ++
      Seq(Seq("CA", "Groceries"), Seq("TX", "Groceries"), Seq("CA", "groceries "))
    // the join the lookup replaced: exemptions ⋈ synonyms on category
    val rows = for {
      (st, cat) <- TaxDims.stateExemptions
      (syn, c) <- TaxDims.categorySynonyms if c == cat
    } yield Seq(st, syn) -> cat
    val got = parity(s, keys, rows, StringType,
      k => Dims.exemptCategory(k(0), k(1)), k => Seq(k(0), lower(k(1))))
    assert(value(got, "CA", "Groceries") == "grocery")
    assert(value(got, "CA", "rx") == "prescription_drug")
    assert(value(got, "CA", "groceries ") == null)  // no trimming here
    assert(value(got, "AL", "groceries") == null)   // AL taxes groceries
    assert(value(got, "ZZ", "food") == null && value(got, "CA", null) == null)
  }

  bothModes("nexus thresholds: revenue, transactions, period") { s =>
    val keys = stateKeys.map(Seq(_))
    def rows(f: ((String, String, Option[Int], String)) => Any) =
      TaxDims.nexusThresholds.map(r => Seq(r._1) -> f(r))
    val rev = parity(s, keys, rows(_._2), Dims.Money,
      k => Dims.nexusRevenueThreshold(k.head))
    val txn = parity(s, keys, rows(_._3.map(Int.box).orNull), IntegerType,
      k => Dims.nexusTransactionThreshold(k.head))
    parity(s, keys, rows(_._4), StringType, k => Dims.nexusPeriod(k.head))
    // AL has a revenue threshold but no transaction threshold
    assert(value(rev, "AL") == new java.math.BigDecimal("250000.00"))
    assert(value(txn, "AL") == null)
    assert(value(txn, "NY") == 100)
    // states without nexus data miss on every value
    assert(Dims.noNexusStates.forall(st => value(rev, st) == null))
  }

  bothModes("due days and SOL years: absent states take the defaults") { s =>
    val keys = stateKeys.map(Seq(_))
    val due = parity(s, keys, TaxDims.filingDueDays.map(r => Seq(r._1) -> r._2),
      IntegerType, k => Dims.dueDay(k.head), default = Some(Dims.DefaultDueDay))
    assert(value(due, "CA") == 25 && value(due, "OH") == 23)
    assert(!TaxDims.filingDueDays.exists(_._1 == "AK"))
    assert(value(due, "AK") == Dims.DefaultDueDay && value(due, "ZZ") == Dims.DefaultDueDay)
    val sol = parity(s, keys, TaxDims.solYears.map(r => Seq(r._1) -> r._2),
      IntegerType, k => Dims.solYears(k.head), default = Some(Dims.DefaultSolYears))
    assert(value(sol, "AZ") == 4)
    val absent = TaxDims.stateRates.map(_._2).find(st => !TaxDims.solYears.exists(_._1 == st)).get
    assert(value(sol, absent) == Dims.DefaultSolYears && value(sol, null) == Dims.DefaultSolYears)
  }

  test("a duplicate key fails when the table is built, at either level") {
    val one = intercept[IllegalArgumentException](
      DimTable("t1", IntegerType, Seq(Seq("CA") -> 1, Seq("TX") -> 2, Seq("CA") -> 3)))
    assert(one.getMessage.contains("duplicate key CA"))
    val two = intercept[IllegalArgumentException](
      DimTable("t2", StringType, Seq(Seq("CA", "a") -> "x", Seq("TX", "a") -> "y",
        Seq("CA", "a") -> "z")))
    assert(two.getMessage.contains("duplicate key CA/a"))
    // the same inner key under different outer keys is not a duplicate
    DimTable("t3", StringType, Seq(Seq("CA", "a") -> "x", Seq("TX", "a") -> "y"))
  }

  test("non-string keys and a wrong key count are rejected at analysis") {
    val t = DimTable("t", IntegerType, Seq(Seq("CA") -> 1))
    val df = spark.range(1).toDF("id")
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(DimLookup(t, col("id"))).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      df.select(DimLookup(t, lit("CA"), lit("x"))).collect())
    assert(df.select(DimLookup(t, lit("CA"))).head().getInt(0) == 1)
  }
}
