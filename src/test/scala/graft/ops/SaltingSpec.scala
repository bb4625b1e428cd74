package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SaltingSpec extends SparkSpec {
  import spark.implicits._

  test("salted join preserves plain-join semantics under skew") {
    // 90% of fact rows hit one key
    val fact = (1 to 1000).map(i => (if (i <= 900) "HOT" else s"k${i % 7}", i.toLong))
      .toDF("key", "v")
    val dim = Seq(("HOT", "hot-dim"), ("k1", "d1"), ("k3", "d3"))
      .toDF("key", "label")
    val plain = fact.join(dim, Seq("key")).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Salting.saltedJoin(fact, dim, "key", buckets = 8)
      .groupBy("key").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(plain == salted)
  }

  test("salted left join keeps unmatched fact rows exactly once") {
    val fact = Seq(("A", 1L), ("B", 2L), ("B", 3L)).toDF("key", "v")
    val dim = Seq(("A", "x")).toDF("key", "label")
    val rows = Salting.saltedJoin(fact, dim, "key", buckets = 4, joinType = "left")
      .orderBy("v").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("label") == "x")
    assert(rows(1).isNullAt(rows(1).fieldIndex("label")))
  }

  test("salted two-phase sum equals plain sum") {
    val df = (1 to 500).map(i => (if (i % 2 == 0) "HOT" else "COLD", i.toLong))
      .toDF("key", "v")
    val plain = df.groupBy("key").agg(sum("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salting.saltedSum(df, "key", "v", buckets = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("skewStats: heavy hitters, exact shares, bounded top-k plan") {
    import spark.implicits._
    // key 'hot' 6 rows, 'warm' 3, 'a'..'c' 1 each -> 12 rows, 5 keys
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("a", "b", "c"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("key", "v")
    val out = graft.ops.Salting.skewStats(df, "key", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == 2)
    val m = out.map(t => t._1 -> t).toMap
    assert(m("hot")._2 == 6L && m("warm")._2 == 3L)
    assert(m("hot")._3 == 6.0 / 12.0 && m("hot")._4 == 5L)
    // global top-k is the bounded TakeOrderedAndProject, never a full sort
    val plan = graft.ops.Salting.skewStats(df, "key", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1000))
  }
}
