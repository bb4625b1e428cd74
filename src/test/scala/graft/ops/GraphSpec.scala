package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics pins for the edge-list graph ops and the exact-sufficient-
  * statistics correlation query. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangleCount: K4 plus a pendant edge = 4 triangles, counted once each") {
    // K4 on {1,2,3,4} (4 triangles) + disconnected edge (8,9)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (8L, 9L)).toDF("x", "y")
    val r = ReferenceForms.triangleCount(edges).head()
    assert(r.getAs[Long]("n_edges") == 7L)
    assert(r.getAs[Long]("n_triangles") == 4L)
  }

  test("triangleCountAdj: identical counts to the wedge join, K4 and co-purchase slice") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (8L, 9L)).toDF("x", "y")
    val r = Graph.triangleCountAdj(edges).head()
    assert(r.getAs[Long]("n_edges") == 7L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    // agreement on a real co-occurrence graph (non-trivial degrees)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val co = Graph.cooccurrenceEdges(li, col("l_orderkey"), col("l_partkey"))
    val a = Graph.triangleCountAdj(co).head()
    val b = ReferenceForms.triangleCount(co).head()
    assert(a.getAs[Long]("n_triangles") == b.getAs[Long]("n_triangles"))
    assert(a.getAs[Long]("n_edges") == b.getAs[Long]("n_edges"))
  }

  test("degreeHistogram: star graph degrees") {
    // star: center 1 connected to 2,3,4 — one degree-3 vertex, three
    // degree-1 vertices
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("x", "y")
    val out = Graph.degreeHistogram(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(3L -> 1L, 1L -> 3L))
  }

  test("cooccurrenceEdges: canonical, distinct, per-group cliques") {
    val df = Seq((10L, 3L), (10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (20L, 2L)).toDF("g", "v") // duplicate (20,2) must not duplicate edges
    val e = Graph.cooccurrenceEdges(df, col("g"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("pageRank: fixed-point integer math matches a driver-side reference") {
    // path graph 1-2-3: degree(2)=2, endpoints 1; symmetric by construction
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    val got = Graph.pageRank(edges, iterations = 2, topK = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side reference of the same integer recurrence
    val S = 1000000000000L; val n = 3L
    val base = (S * 15L / 100L) / n
    var r = Map(1L -> S / n, 2L -> S / n, 3L -> S / n)
    val out = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    for (_ <- 1 to 2) {
      val contrib = out.toSeq.flatMap { case (v, ds) =>
        ds.map(d => d -> r(v) / ds.length) }
      r = contrib.groupBy(_._1).map { case (v, cs) =>
        v -> (base + 85L * cs.map(_._2).sum / 100L) }
    }
    assert(got == r, s"got $got want $r")
    // the middle vertex must outrank the endpoints
    assert(got(2L) > got(1L) && got(1L) == got(3L))
  }

  test("pageRank: topK selection is deterministic under rank ties") {
    // two disjoint edges — all four vertices end with identical rank, so
    // topK=2 must pick the two smallest vertex ids
    val edges = Seq((4L, 9L), (2L, 7L)).toDF("x", "y")
    val got = Graph.pageRank(edges, iterations = 1, topK = 2)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 4L))
  }

  test("op_moments matches a direct driver-side moment computation") {
    val rows = graft.SparkEntry.queries("op_moments")(
      spark, "/root/testdata/sf0.001").collect()
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .groupBy(_.getString(0))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qs = li(r.getString(0)).map(_.getDouble(1))
      val n = qs.length.toDouble
      val mean = qs.sum / n
      val m2 = qs.map(q => (q - mean) * (q - mean)).sum / n
      val m3 = qs.map(q => math.pow(q - mean, 3)).sum / n
      val m4 = qs.map(q => math.pow(q - mean, 4)).sum / n
      assert(math.abs(r.getAs[Double]("variance") - m2) < m2 * 1e-9)
      assert(math.abs(r.getAs[Double]("skewness") - m3 / (m2 * math.sqrt(m2)))
        < 1e-6)
      assert(math.abs(r.getAs[Double]("kurtosis_ex") - (m4 / (m2 * m2) - 3.0))
        < 1e-6)
    }
  }

  test("op_zscore matches a direct driver-side computation") {
    val rows = graft.SparkEntry.queries("op_zscore")(
      spark, "/root/testdata/sf0.001").collect()
    val daily = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderdate", "o_totalprice").collect()
      .groupBy(_.getAs[java.time.LocalDateTime](0).toLocalDate)
      .map { case (d, rs) =>
        d -> rs.map(r => math.round(r.getDouble(1) * 100)).sum }
    val n = daily.size.toDouble
    val s1 = daily.values.map(BigInt(_)).sum
    val s2 = daily.values.map(v => BigInt(v) * BigInt(v)).sum
    val mean = s1.toDouble / n
    val sd = math.sqrt(s2.toDouble / n - mean * mean)
    assert(rows.length == daily.size)
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val cents = r.getAs[Long]("day_cents")
      assert(daily(d) == cents, s"day $d cents")
      assert(math.abs(r.getAs[Double]("z") - (cents - mean) / sd) < 1e-9,
        s"day $d z")
      assert(r.getAs[Boolean]("is_outlier") ==
        (math.abs(r.getAs[Double]("z")) > 2.0))
    }
  }

  test("op_corr_stats matches a direct driver-side Pearson/OLS computation") {
    val rows = graft.SparkEntry.queries("op_corr_stats")(
      spark, "/root/testdata/sf0.001").collect()
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val flag = r.getString(0)
      val xs = li(flag).map(_.getDouble(1))
      val ys = li(flag).map(v => math.round(v.getDouble(2) * 100).toDouble)
      val n = xs.length.toDouble
      val sx = xs.sum; val sy = ys.sum
      val sxx = xs.map(x => x * x).sum; val syy = ys.map(y => y * y).sum
      val sxy = xs.zip(ys).map(p => p._1 * p._2).sum
      val corr = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(r.getAs[Long]("n") == xs.length.toLong)
      assert(math.abs(r.getAs[Double]("corr_qty_cents") - corr) < 1e-9,
        s"$flag corr")
      assert(math.abs(r.getAs[Double]("slope_cents_per_qty") - slope)
        < math.abs(slope) * 1e-9, s"$flag slope")
      // intercept satisfies the normal equation mean(y) = slope*mean(x) + b
      val b = r.getAs[Double]("intercept_cents")
      assert(math.abs((sy / n) - (slope * (sx / n) + b)) < 1e-6, s"$flag b")
    }
  }

  test("labelPropagation: 3 synchronous min-tie rounds match the hand simulation") {
    import spark.implicits._
    // two triangles bridged at 3-10; synchronous LPA with min-label ties,
    // hand-simulated:
    //   r1: 1->2 2->1 3->1 10->3 11->10 12->10
    //   r2: 1->1 2->1 3->1 10->10 11->3 12->3
    //   r3: 1->1 2->1 3->1 10->3  11->3 12->3
    // final communities: label 1 = {1,2,3}, label 3 = {10,11,12}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("x", "y")
    val out = Graph.labelPropagation(edges, rounds = 3, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(out == Seq(1L -> 3L, 3L -> 3L), out.toString)
    // topK caps deterministically (size desc, label asc)
    val top1 = Graph.labelPropagation(edges, rounds = 3, topK = 1)
      .collect().map(r => r.getLong(0)).toSeq
    assert(top1 == Seq(1L))
    // one round of a singleton edge: both endpoints adopt the other's
    // label (their only neighbor) — 2 communities of 1
    val pair = Seq((7L, 9L)).toDF("x", "y")
    val one = Graph.labelPropagation(pair, rounds = 1, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(one == Seq(7L -> 1L, 9L -> 1L), one.toString)
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(edges, rounds = 0)
    }
  }

  test("labelPropagation: string vertex ids — tie-break is lexicographic min, no numeric cast") {
    import spark.implicits._
    // the same bridged-triangles shape keyed by strings; the documented
    // deterministic tie rule (smallest label) must order STRINGS, which
    // the old max(struct(c, -lbl)) negation could not
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("p", "q"), ("p", "r"), ("q", "r"), ("c", "p"))
      .toDF("x", "y")
    val out = Graph.labelPropagation(edges, rounds = 3, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out == Seq("a" -> 3L, "c" -> 3L), out.toString)
    // direct tie pin: one round, vertex with neighbors {m, z} at equal
    // count must adopt "m" (lexicographic min), not "z"
    val star = Seq(("m", "v"), ("z", "v")).toDF("x", "y")
    val lbls = Graph.labelPropagation(star, rounds = 1, topK = 10)
      .collect().map(r => r.getString(0)).toSeq
    assert(lbls.contains("m") && !lbls.contains("z"), lbls.toString)
  }

  test("labelPropagation: packed-long fast path equals the struct path (r18 pin)") {
    import spark.implicits._
    // richer graph with genuine count ties and asymmetric communities;
    // zero-padded string ids order lexicographically exactly like the
    // longs, so the struct path (strings) must find the same communities
    // as the packed path (longs)
    val raw = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L), (2L, 9L), (9L, 10L),
      (10L, 1L), (8L, 11L), (11L, 12L), (12L, 8L))
    val longEdges = raw.toDF("x", "y")
    val strEdges = raw.map { case (a, b) => (f"$a%04d", f"$b%04d") }
      .toDF("x", "y")
    val packed = Graph.labelPropagation(longEdges, rounds = 4, topK = 20)
      .collect().map(r => f"${r.getLong(0)}%04d" -> r.getLong(1)).toSeq
    val structed = Graph.labelPropagation(strEdges, rounds = 4, topK = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(packed == structed, s"packed=$packed struct=$structed")
  }

  test("labelPropagation: integral ids outside [0, 2^32) fall back to the struct path (r19, drains r18 advice)") {
    import spark.implicits._
    // 2^32 and a NEGATIVE long — the packed order cannot represent them;
    // the up-front bounds check must route the call to the struct path
    // (which handles any orderable id, the pre-r18 behavior) instead of
    // raise_error-ing mid-aggregation on valid input
    val wide = Seq((1L, 4294967296L), (-5L, 1L)).toDF("x", "y")
    val out = Graph.labelPropagation(wide, rounds = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // one connected 3-vertex component; whatever labels the 2-round sweep
    // settles on, every vertex is accounted for
    assert(out.map(_._2).sum == 3, out.toString)
    // and in-range longs still take the packed path's result (equality
    // with the struct path is pinned by the r18 test above)
  }

  test("labelPropagation: the symmetrized edge build is persisted, appearing once across rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    val out = Graph.labelPropagation(edges, rounds = 3, topK = 10)
    // the final plan references the edge list only through
    // InMemoryTableScan nodes — the union-symmetrize subtree itself was
    // computed once into the cache, not unrolled per round
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"), plan)
    spark.catalog.clearCache()
  }
}
