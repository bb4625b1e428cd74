package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Fixed-seed ScalaCheck properties for the round-16 additions
  * (CurationPropertySpec convention: generated fixtures, deterministic
  * seeds — regression pins, not flaky randomized claims). */
class Round16PropertySpec extends SparkSpec {
  import spark.implicits._

  // duplicate-heavy corpora: shared templates (some repeated inside one
  // doc) so window hashes get real cross- and within-doc multiplicity
  private val templates = Vector(
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight nine ten",
    "totally unrelated content words here nothing shared")
  private val docGen = for {
    t <- Gen.choose(0, templates.length - 1)
    rep <- Gen.choose(1, 2)
    tail <- Gen.choose(0, 2)
  } yield (Seq.fill(rep)(templates(t)) ++
    Seq.fill(tail)("tail filler token run")).mkString(" ")

  test("substrStats pair_rows == the miner's real pair-join input, any corpus, any cap") {
    for (seedVal <- Seq(7L, 23L, 61L)) {
      val docs = Gen.listOfN(20, docGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal))
        .zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
        .toDF("doc_id", "text")
      val maxDf = 2 + (seedVal % 5).toInt
      val stats = TextOps.substrStats(docs, maxDf = maxDf)
        .collect().head
      // the reference computation: build the kept index and COUNT the
      // a<b occurrence pairs the miner's join would emit
      val wins = TextOps.rollingWindows(docs, "text", 5)
      val keep = wins.select("doc_id", "wh").distinct()
        .groupBy("wh").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("wh")
      val f = wins.join(keep, "wh")
      val actual = f.select(col("wh"), col("doc_id").as("a"))
        .join(f.select(col("wh"), col("doc_id").as("b")), "wh")
        .filter(col("a") < col("b")).count()
      assert(stats.getAs[Long]("pair_rows") == actual,
        s"seed $seedVal cap $maxDf: ${stats.getAs[Long]("pair_rows")} vs $actual")
      // conservation: kept + dropped mass is cap-independent (it is the
      // uncapped join input), so raising the cap only MOVES mass
      val uncapped = TextOps.substrStats(docs, maxDf = Int.MaxValue)
        .collect().head
      assert(stats.getAs[Long]("pair_rows") +
        stats.getAs[Long]("dropped_pair_rows") ==
        uncapped.getAs[Long]("pair_rows"),
        s"seed $seedVal: kept+dropped mass not conserved")
    }
  }

  test("Ks.twoSample: stat in [0,1], num <= den, and translation invariance inside the clamp") {
    val valGen = Gen.choose(0L, 500L)
    for (seedVal <- Seq(5L, 17L, 83L)) {
      val as = Gen.listOfN(40, valGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal))
      val bs = Gen.listOfN(25, valGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal + 1))
      val a = as.toDF("v"); val b = bs.toDF("v")
      val r = graft.ops.Ks.twoSample(a, col("v"), b, col("v")).collect().head
      val (num, den) = (r.getAs[Long]("ks_num"), r.getAs[Long]("ks_den"))
      assert(num >= 0 && num <= den, s"seed $seedVal: $num/$den")
      assert(r.getAs[Double]("ks_stat") >= 0.0 &&
        r.getAs[Double]("ks_stat") <= 1.0)
      // shifting BOTH samples by a constant (staying inside the clamp)
      // cannot change the distance — only where it is attained
      val shift = 1000L
      val r2 = graft.ops.Ks.twoSample(
        as.map(_ + shift).toDF("v"), col("v"),
        bs.map(_ + shift).toDF("v"), col("v")).collect().head
      assert(r2.getAs[Long]("ks_num") == num &&
        r2.getAs[Long]("ks_den") == den,
        s"seed $seedVal: translation changed the statistic")
      assert(r2.getAs[Long]("at_value") == r.getAs[Long]("at_value") + shift)
      // identical samples: distance exactly zero whatever the data
      val same = graft.ops.Ks.twoSample(a, col("v"), a, col("v"))
        .collect().head
      assert(same.getAs[Long]("ks_num") == 0L)
    }
  }

  test("DP releases at different epsilons never compose back to the truth") {
    val langGen = Gen.oneOf("en", "de", "fr", "pt")
    for (seedVal <- Seq(3L, 29L)) {
      val rows = Gen.listOfN(30, langGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal))
        .zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("id", "lang")
      val truth = rows.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def release(eps: Double): Map[String, Double] =
        graft.ops.Audit.dpCounts(rows, Seq("lang"), epsilon = eps)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val e1 = release(1.0); val e05 = release(0.5); val e2 = release(2.0)
      truth.keys.foreach { k =>
        // the shared-draw attack solves 2x@1 - x@0.5 (and 2x@2 - x@1)
        // exactly for the truth; independent draws must not
        assert(math.abs(2 * e1(k) - e05(k) - truth(k)) > 1e-3,
          s"seed $seedVal $k: eps 1/0.5 composition recovers the count")
        assert(math.abs(2 * e2(k) - e1(k) - truth(k)) > 1e-3,
          s"seed $seedVal $k: eps 2/1 composition recovers the count")
        // and no release hands out the raw count
        Seq(e1, e05, e2).foreach(m => assert(m(k) != truth(k).toDouble))
      }
    }
  }
}
