package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics + plan pins for the Bloom-prefiltered join: no false
  * negatives (result == plain semi join), real selectivity from the
  * prefilter, and the probe riding the scan below the exact join. */
class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bloom prefilter has no false negatives: semiJoin == plain semi join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val urgent = spark.read.parquet(s"$sf/orders.parquet")
      .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 200000.0)
    val bloom = BloomJoin.semiJoin(li, urgent, $"l_orderkey", $"o_orderkey",
      expectedItems = 10000L)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val plain = li.join(urgent, $"l_orderkey" === $"o_orderkey", "left_semi")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    // multiset compare (lineitem (orderkey, linenumber) is NOT unique)
    assert(bloom.unionAll(plain).groupBy("l_orderkey", "l_linenumber",
      "l_quantity").count().filter($"count" % 2 =!= 0).count() == 0)
    assert(bloom.count() == plain.count())
  }

  test("prefilter is selective: disjoint keys survive only at ~fpp") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // keys far outside the orderkey domain: every hit is a false positive
    val ghosts = (10000000L to 10000150L).toDF("o_orderkey")
    val bf = BloomJoin.buildFilter(ghosts, $"o_orderkey", 10000L, 0.01)
    val survivors = li.filter(
      graft.functions.BloomMightContain($"l_orderkey", bf)).count()
    val total = li.count()
    assert(survivors < total / 20,
      s"$survivors of $total survived a disjoint-key bloom (fpp 0.01)")
  }

  test("codegen and interpreted eval agree; non-integral keys rejected") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(500)
    val urgent = spark.read.parquet(s"$sf/orders.parquet").limit(200)
    val bf = BloomJoin.buildFilter(urgent, $"o_orderkey", 1000L, 0.03)
    val c = graft.functions.BloomMightContain($"l_orderkey", bf)
    val viaCodegen = li.select($"l_orderkey", c.as("hit")).collect()
    // interpreted path: rebuild the expression with a literal key per row
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val bytes = out.toByteArray
    viaCodegen.foreach { r =>
      val e = graft.functions.BloomMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(r.getLong(0)), bytes)
      assert(e.eval(null) == r.getBoolean(1), s"key ${r.getLong(0)}")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(s"$sf/documents.parquet")
        .select(graft.functions.BloomMightContain($"text", bf)).collect()
    }
  }

  test("op_bloom_join plan: bloom probe filters the lineitem side below the join") {
    val p = graft.SparkEntry.queries("op_bloom_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BloomMightContain") || p.contains("bloommightcontain"),
      p.take(2000))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "exact settle join must stay broadcast left-semi")
  }
}
