package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQ8 scalar-quantization pins: code range, reconstruction error bound,
  * constant-dimension exactness, and that reconstructed-cosine search
  * preserves an unambiguous exact ranking. */
class SqSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("codes are bytes and reconstruction is within a half quantization step") {
    val df = vecs(
      (1L, Seq(0.0f, -1.0f, 10.0f)),
      (2L, Seq(1.0f, 1.0f, 20.0f)),
      (3L, Seq(0.25f, 0.5f, 12.5f)))
    val model = Sq.trainModel(df)
    val out = Sq.decode(Sq.encode(df, model), model)
      .select(col("vec_id"), col("embedding"), col("_q"), col("_xr"))
      .collect()
    for (r <- out) {
      val emb = r.getSeq[Float](1)
      val q = r.getSeq[Long](2)
      val xr = r.getSeq[Double](3)
      assert(q.forall(c => c >= 0 && c <= 255), q.toString)
      // per-dim ranges: 1.0, 2.0, 10.0 -> half-steps /510
      val half = Seq(1.0 / 510, 2.0 / 510, 10.0 / 510)
      emb.indices.foreach { i =>
        assert(math.abs(xr(i) - emb(i)) <= half(i) + 1e-12,
          s"dim $i: ${xr(i)} vs ${emb(i)}")
      }
    }
  }

  test("a constant dimension codes to 0 and reconstructs its value exactly") {
    val df = vecs((1L, Seq(7.25f, 1.0f)), (2L, Seq(7.25f, 3.0f)))
    val model = Sq.trainModel(df)
    val out = Sq.decode(Sq.encode(df, model), model)
      .select("vec_id", "_q", "_xr").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Double](2))))
      .toMap
    assert(out(1L)._1.head == 0L && out(2L)._1.head == 0L)
    assert(out(1L)._2.head == 7.25 && out(2L)._2.head == 7.25)
    // the varying dim still spans the full byte range
    assert(out(1L)._1(1) == 0L && out(2L)._1(1) == 255L)
  }

  test("reconstructed-cosine search preserves a well-separated exact ranking") {
    // query 0 points along (1,0,..); candidates at decreasing alignment,
    // gaps far wider than the quantization error
    val df = vecs(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.5f, 0.5f, 0.0f, 0.0f)),
      (3L, Seq(0.1f, 0.9f, 0.0f, 0.0f)),
      (4L, Seq(-0.5f, 0.5f, 0.0f, 0.0f)))
    val out = Sq.searchTopK(df, df.filter(col("vec_id") === 0), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L), out.mkString("; "))
    // cosines decrease strictly and sit near their float-exact values
    assert(out.map(_._3).sliding(2).forall(p => p(0) > p(1)))
    assert(math.abs(out(0)._3 - 0.9 / math.sqrt(0.82)) < 0.02)
  }

  test("native double-array cosine is bit-identical to the interpreted HOF form") {
    // the SQ family scores RECONSTRUCTIONS (array<double>); the native
    // CosineSim loop must reproduce the oracle-mirrored HOF accumulation
    // bit-for-bit on that element type (the float rung has its own pin
    // in CosineSimSpec territory — this is the round-16 double rung)
    val df = vecs(
      (1L, Seq(0.31f, -0.72f, 0.11f, 0.95f)),
      (2L, Seq(0.87f, 0.05f, -0.44f, 0.21f)),
      (3L, Seq(-0.13f, 0.66f, 0.38f, -0.57f)))
    val model = Sq.trainModel(df)
    val rec = Sq.decode(Sq.encode(df, model), model)
      .select(col("vec_id"), col("_xr"))
    val pairs = rec.crossJoin(
      rec.select(col("vec_id").as("v2"), col("_xr").as("_xr2")))
      .filter(col("vec_id") < col("v2"))
      .select(col("vec_id"), col("v2"),
        Similarity.cosine(col("_xr"), col("_xr2")).as("native"),
        ReferenceForms.cosineHof(col("_xr"), col("_xr2")).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3),
        s"(${r.getLong(0)}, ${r.getLong(1)}): native ${r.getDouble(2)} " +
          s"vs hof ${r.getDouble(3)}")
    }
  }

  test("searchTopKIvf: probing every cell reproduces the brute SQ8 ranking exactly") {
    val df = vecs(
      (0L, Seq(1.0f, 0.0f, 0.1f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.2f)),
      (2L, Seq(0.5f, 0.5f, 0.3f, 0.0f)),
      (3L, Seq(0.1f, 0.9f, 0.0f, 0.4f)),
      (4L, Seq(-0.5f, 0.5f, 0.2f, 0.1f)),
      (5L, Seq(-0.9f, 0.2f, 0.0f, 0.3f)),
      (6L, Seq(0.3f, -0.7f, 0.5f, 0.0f)),
      (7L, Seq(0.0f, 0.4f, -0.6f, 0.2f)))
    val ivf = Ivf.fixedModel(c = 2, dim = 4)
    val q = df.filter(col("vec_id") % 3 === 0)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // nprobe = C: every cell probes, the candidate set is the brute
    // set, the (cos, id) tie-break is shared -> EXACT identity
    assert(rows(Sq.searchTopKIvf(df, q, ivf, k = 3, nprobe = 2)) ==
      rows(Sq.searchTopK(df, q, k = 3)))
    // nprobe = 1: candidates restrict to each query's best cell — at
    // most k rows per query, ranks dense from 1, and every returned
    // pair also exists in the full-probe scoring universe with the
    // SAME cosine (routing changes candidates, never the metric)
    val routed = Sq.searchTopKIvf(df, q, ivf, k = 3, nprobe = 1)
    val byQ = routed.collect().groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.length <= 3)
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
    val fullPairs = rows(Sq.searchTopKIvf(df, q, ivf, k = 7, nprobe = 2))
      .map(t => (t._1, t._3) -> t._4).toMap
    rows(routed).foreach { case (qid, _, n, cos) =>
      assert(fullPairs.get((qid, n)).forall(_ == cos),
        s"($qid, $n): routed cos $cos differs from the brute metric")
    }
  }

  test("full-probe IVF-SQ recall equals brute SQ recall (routing changes candidates, never the metric)") {
    val df = vecs(
      (0L, Seq(1.0f, 0.0f, 0.1f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.2f)),
      (2L, Seq(0.5f, 0.5f, 0.3f, 0.0f)),
      (3L, Seq(0.1f, 0.9f, 0.0f, 0.4f)),
      (4L, Seq(-0.5f, 0.5f, 0.2f, 0.1f)),
      (5L, Seq(-0.9f, 0.2f, 0.0f, 0.3f)))
    val q = df.filter(col("vec_id") % 3 === 0)
    val ivf = Ivf.fixedModel(c = 2, dim = 4)
    def recallOf(search: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteForceTopK(df, q, 3)
        .select("q_id", "neighbor_id")
      val hit = search.select("q_id", "neighbor_id")
        .join(brute, Seq("q_id", "neighbor_id")).count()
      hit.toDouble / brute.count()
    }
    val full = recallOf(Sq.searchTopKIvf(df, q, ivf, k = 3, nprobe = 2))
    val sq = recallOf(Sq.searchTopK(df, q, k = 3))
    assert(full == sq, s"$full vs $sq")
    assert(full >= 0.0 && full <= 1.0)
    // restricting probes can only shrink the candidate set, never the
    // metric: routed recall is bounded by the full-probe recall
    val routed = recallOf(Sq.searchTopKIvf(df, q, ivf, k = 3, nprobe = 1))
    assert(routed <= full, s"$routed > $full")
  }

  test("zero-norm reconstruction: NULL cosine ranks LAST, never first") {
    // the round-16 swap from the HOF cosine to the native CosineSim
    // changed degenerate-candidate semantics: the HOF form yielded NaN
    // (which Spark desc-sorts ABOVE all reals — the degenerate neighbor
    // ranked FIRST), while CosineSim yields NULL (desc-sorts last). This
    // fixture pins the NULL rung: vec 1 is all-zero, the per-dim mins are
    // 0, so its SQ8 reconstruction is exactly zero-norm and its cosine is
    // NULL — it must fill the LAST rank, after every real cosine.
    val corpus = vecs(
      (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.8f, 0.6f)))
    val q = vecs((10L, Seq(1.0f, 0.0f)))
    val byRank = Sq.searchTopK(corpus, q, k = 3).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(byRank.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 1L),
      byRank.mkString("; "))
    assert(byRank.last.isNullAt(byRank.last.fieldIndex("cos")),
      "zero-norm candidate must carry a NULL cosine")
    assert(byRank.head.getAs[Double]("cos") == 1.0)
  }
}
