package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Fixed-seed ScalaCheck properties for the round-14 band-bucket cap/star
  * reduction (the CurationPropertySpec convention: generated fixtures,
  * deterministic seeds, so the assertions are regression pins rather than
  * flaky randomized claims). */
class Round14PropertySpec extends SparkSpec {
  import spark.implicits._

  // template-soup corpora: heavy duplicate groups (exact dups plus a
  // one-token-tail near-dup per template) so band buckets genuinely
  // exceed small caps, plus unrelated singletons
  private val templates = Vector(
    "the quick brown fox jumps over the lazy dog by the river bank today",
    "subscribe to our newsletter for daily updates and breaking stories now",
    "completely different content about distributed query engines and plans",
    "a third unrelated paragraph mentioning databases indexes and storage")
  private val docGen = for {
    t <- Gen.choose(0, templates.length - 1)
    mut <- Gen.choose(0, 3)
  } yield if (mut == 0) templates(t) + " extra tail token" else templates(t)

  test("capped/star band join: CC drop-set == exact all-pairs across corpora and caps") {
    for (seedVal <- Seq(11L, 42L, 97L)) {
      val docs = Gen.listOfN(30, docGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal))
        .zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
        .toDF("doc_id", "text")
      val cap = 2 + (seedVal % 7).toInt
      try {
        def drops(maxBucket: Int): Set[Long] =
          Dedup.components(
            Dedup.minhashPairs(docs, minAgree = 20,
              maxBucket = maxBucket).select("a", "b"))
            .filter(col("doc_id") =!= col("cluster_id"))
            .select("doc_id").collect().map(_.getLong(0)).toSet
        val capped = drops(cap)
        assert(capped == drops(Int.MaxValue),
          s"seed $seedVal cap $cap: capped and exact CC drop-sets differ")
        assert(capped.nonEmpty, s"seed $seedVal: fixture lost its dup groups")
      } finally spark.catalog.clearCache()
    }
  }

  test("kGeneralize: nested ladders have monotone min class size (first rung well-defined)") {
    // a NESTED ladder (each rung a function of the previous) merges
    // classes as it coarsens, so the per-rung min class size is
    // non-decreasing — the "first qualifying rung" is a unique threshold.
    // Generated (grp, bucket) corpora against the standard nested shape.
    val rowGen = for {
      g <- Gen.oneOf("en", "de", "fr")
      b <- Gen.choose(0, 5)
    } yield (g, b)
    for (seedVal <- Seq(3L, 19L, 71L)) {
      val rows = Gen.listOfN(25, rowGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal))
        .zipWithIndex.map { case ((g, b), i) => (i.toLong, g, b) }
        .toDF("id", "g", "b")
      val ladder = Seq(
        Seq(col("g"), col("b").cast("string").as("b")),
        Seq(col("g"), (col("b") / 2).cast("int").cast("string").as("b")),
        Seq(col("g"), org.apache.spark.sql.functions.lit("*").as("b")),
        Seq(org.apache.spark.sql.functions.lit("*").as("g"),
          org.apache.spark.sql.functions.lit("*").as("b")))
      // per-rung min class sizes recomputed directly
      val mins = ladder.map(q => rows.select(q: _*)
        .groupBy("g", "b").count().agg(org.apache.spark.sql.functions.min("count"))
        .head().getLong(0))
      assert(mins == mins.sorted, s"seed $seedVal: non-monotone mins $mins")
      // kGeneralize picks exactly the first rung whose min reaches k
      for (k <- Seq(2, 5, 13)) {
        val expected = mins.indexWhere(_ >= k)
        val out = graft.ops.Audit.kGeneralize(rows, ladder, k).collect()
        if (expected < 0) assert(out.isEmpty, s"seed $seedVal k $k")
        else {
          assert(out.nonEmpty && out.forall(_.getInt(0) == expected),
            s"seed $seedVal k $k: expected rung $expected")
          assert(out.forall(_.getLong(3) >= k))
        }
      }
    }
  }

  test("capped candidate mass never exceeds the exact form's") {
    for (seedVal <- Seq(11L, 42L)) {
      val docs = Gen.listOfN(40, docGen)
        .pureApply(Gen.Parameters.default, Seed(seedVal))
        .zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
        .toDF("doc_id", "text")
      val sigs = docs.select(col("doc_id").as("id"),
        Dedup.minhashSignaturePortable(col("text")).as("sig"))
      val nCap = Dedup.lshCandidatesFromSigs(sigs, maxBucket = 3).count()
      val nExact = Dedup.lshCandidatesFromSigs(sigs, Int.MaxValue).count()
      assert(nCap <= nExact, s"seed $seedVal: $nCap > $nExact")
    }
  }
}
