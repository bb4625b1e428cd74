package graft.plans

import graft.SparkSpec
import graft.ops.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom per-key top-k operator must agree with the window-function
  * formulation on real data, and its plan must show the bounded-heap exec
  * pair around a key-clustered exchange instead of a sort. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("top-1 order per customer matches window row_number") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("total", col("o_totalprice").cast("decimal(18,2)"))
    val viaWindow = orders
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("total").desc, col("o_orderkey"))))
      .filter($"rn" === 1).select("o_custkey", "o_orderkey", "total")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaTopK = TopK.perKey(orders, Seq("o_custkey"), col("total"), 1)
      .select("o_custkey", "o_orderkey", "total")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ties: window breaks by o_orderkey; TopK.perKey ties are unspecified —
    // compare only keys whose max total is unique
    val totals = orders.groupBy("o_custkey")
      .agg(max("total").as("mx"), count(lit(1)).as("n")).collect()
    assert(viaTopK.keySet == viaWindow.keySet)
    val sameValue = viaTopK.filter { case (k, v) => viaWindow(k) == v }
    assert(sameValue.size.toDouble / viaTopK.size > 0.95) // ties are rare
  }

  test("top-3 per returnflag: exact multiset of order values") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("price", col("l_extendedprice").cast("decimal(18,2)"))
    val expected = li.withColumn("rn", row_number().over(
      Window.partitionBy("l_returnflag").orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))))
      .filter($"rn" <= 3)
      .groupBy("l_returnflag").agg(sort_array(collect_list("price"), asc = false).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[java.math.BigDecimal](1)).toMap
    val got = TopK.perKey(li, Seq("l_returnflag"), col("price"), 3)
      .groupBy("l_returnflag").agg(sort_array(collect_list("price"), asc = false).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[java.math.BigDecimal](1)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) =>
      assert(v.map(_.toString) == expected(k).map(_.toString), s"key $k")
    }
  }

  test("ascending mode returns minima") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 7)).toDF("k", "v")
    val got = TopK.perKey(df, Seq("k"), col("v"), 1, descending = false)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 1, "b" -> 7))
  }

  test("primitive struct(double,long) fast path == window semantics incl. NaN, ±0.0 and null fields") {
    // the round-19 PrimOrdHeap must order exactly like Catalyst: NaN
    // greatest (and equal to itself), -0.0 == 0.0, struct fields
    // nulls-first ascending — pinned against the row_number window, whose
    // SortExec uses the same comparators
    val rows: Seq[(String, java.lang.Double, java.lang.Long)] = Seq(
      ("a", 1.5, 10L), ("a", Double.NaN, 11L), ("a", 1.5, 9L),
      ("a", null, 12L), ("a", 0.0, 13L), ("a", -0.0, 14L),
      ("a", Double.NaN, 8L), ("b", 2.0, 1L), ("b", 2.0, 2L),
      ("b", null, 3L), ("b", 7.5, 4L), ("c", -1.0, 5L))
    val df = rows.toDF("k", "score", "id")
      .select(col("k"), col("score"), col("id"))
    for (desc <- Seq(true, false); k <- Seq(1, 2, 3, 5)) {
      val ord = struct(col("score"), col("id"))
      val viaTopK = TopK.perKey(df, Seq("k"), ord, k, descending = desc)
        .collect().map(r => (r.getString(0),
          Option(r.get(1)).map(_.toString).getOrElse("null"), r.getLong(2)))
        .toSet
      val w = Window.partitionBy("k").orderBy(
        if (desc) ord.desc else ord.asc)
      val viaWindow = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .collect().map(r => (r.getString(0),
          Option(r.get(1)).map(_.toString).getOrElse("null"), r.getLong(2)))
        .toSet
      assert(viaTopK == viaWindow, s"desc=$desc k=$k")
    }
  }

  test("primitive bare-long fast path == window semantics (hash-order sampling shape)") {
    val df = Seq(("a", 5L), ("a", 1L), ("a", 9L), ("b", 2L), ("b", 2L),
      ("b", 8L), ("c", -3L)).toDF("k", "h")
    for (desc <- Seq(true, false)) {
      val got = TopK.perKey(df, Seq("k"), col("h"), 2, descending = desc)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
      val w = Window.partitionBy("k").orderBy(if (desc) col("h").desc else col("h").asc)
      val exp = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
      assert(got == exp, s"desc=$desc")
    }
  }

  test("primitive bare-double fast path == window semantics incl. NaN, ±0.0 and null") {
    // fastMode 1: NaN greatest (and equal to itself), -0.0 == 0.0, and a
    // NULL order value dropped (the TopK.perKey contract) — so the window
    // reference ranks only the non-null rows. A bare order picks an
    // arbitrary row among ties, so compare order-value multisets, with
    // -0.0 read as 0.0.
    val rows: Seq[(String, java.lang.Double, Long)] = Seq(
      ("a", 1.5, 1L), ("a", Double.NaN, 2L), ("a", 1.5, 3L),
      ("a", null, 4L), ("a", 0.0, 5L), ("a", -0.0, 6L),
      ("a", Double.NaN, 7L), ("a", -2.0, 8L),
      ("b", -0.0, 9L), ("b", 0.0, 10L), ("b", null, 11L), ("b", -1.0, 12L),
      ("c", null, 13L), ("d", Double.NaN, 14L), ("d", 3.0, 15L))
    val df = rows.toDF("k", "score", "id")
    def multisets(out: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
      out.select("k", "score").as[(String, Double)].collect().toSeq
        .groupBy(_._1).map { case (k, v) =>
          k -> v.map(p => (if (p._2 == 0.0) 0.0 else p._2).toString).sorted }
    for (desc <- Seq(true, false); k <- Seq(1, 2, 3)) {
      val got = multisets(TopK.perKey(df, Seq("k"), col("score"), k,
        descending = desc))
      val w = Window.partitionBy("k")
        .orderBy(if (desc) col("score").desc else col("score").asc)
      val exp = multisets(df.filter(col("score").isNotNull)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
      assert(got == exp, s"desc=$desc k=$k")
    }
  }

  test("plan shows the heap exec pair with an exchange, and no sort") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val df = TopK.perKey(orders, Seq("o_custkey"), col("o_totalprice"), 2)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), p.take(1000))
    assert(!p.toLowerCase.contains("sortexec") && !p.contains("+- Sort "),
      "bounded heaps must replace sorting")
  }
}
