package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Correctness specs for the dedup / similarity / multimodal operators —
  * these pin behavior for the ops whose hashes are Spark-specific and
  * therefore only get rows-only checks from the driver's oracle. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near-dup of 1
    (3L, "completely different content about spark distributed query engines"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "")).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs).collect()
    assert(r.length == 4) // 1&4 collapse
    val dup = r.find(_.getAs[Long]("n_dups") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("shingles: 3-gram count and short-text fallback") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](r.fieldIndex("sh"))).toMap
    assert(sh(1L).length == 11) // 13 tokens -> 11 shingles
    assert(sh(1L).contains("the quick brown"))
    assert(sh(5L) == Seq("")) // empty text falls back to one empty shingle
  }

  test("minhash LSH finds the exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashPairs(docs, minAgree = 32)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical -> all 64 agree
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash signature agreement approximates jaccard") {
    val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignaturePortable(col("text")).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Long](r.fieldIndex("sig"))).toMap
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    assert(sigs(1L) == sigs(4L)) // identical docs -> identical signatures
    assert(agree12 > 40, s"near-dups should agree on most hashes, got $agree12")
    assert(agree13 < 10, s"unrelated docs should rarely agree, got $agree13")
  }

  test("simhash: identical 0 bits apart; near-dups close; unrelated far") {
    val sh = Dedup.withSimhash(docs).select("doc_id", "simhash")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0)
    assert(ham(sh(1L), sh(2L)) <= 16)
    assert(ham(sh(1L), sh(3L)) > 16)
  }

  test("connected components: cliques, chains, min-id cluster labels") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (23L, 22L), (21L, 20L), (21L, 22L)) // a chain needing propagation
      .toDF("a", "b")
    val comps = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(comps(_) == 1L))
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert((20L to 23L).forall(comps(_) == 20L))
    assert(comps.size == 9) // only vertices appearing in pairs
  }

  test("components: empty pair set yields an empty labels frame (no NPE)") {
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    val res = Dedup.componentsWithStats(none)
    assert(res.labels.count() == 0)
    assert(res.converged)
  }

  test("components: near-dup cliques converge in at most 3 rounds") {
    // driver-synchronized rounds are the cost at scale — pin the testdata
    // round count so a regression in the fused convergence check is loud
    val pairs = Dedup.jaccardPairs(
      graft.Catalog.dedupCorpus(spark, "/root/testdata/sf0.001"))
    val res = Dedup.componentsWithStats(pairs)
    assert(res.converged, "label propagation must reach the fixpoint")
    assert(res.rounds <= 3, s"expected <= 3 rounds, took ${res.rounds}")
    res.labels.unpersist()
  }

  test("recall floor: LSH banding surfaces >=95% of exact jaccard pairs (fixture)") {
    // an explicit floor, not just a pinned oracle hash: a banding/threshold
    // parameter change that TANKS candidate recall must fail tests loudly,
    // not just shift a hash the next round notices
    val r = graft.SparkEntry.queries("op_dedup_recall")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getAs[Double]("recall") >= 0.95,
      s"MinHash-LSH candidate recall ${r.getAs[Double]("recall")} fell below the 0.95 floor")
    assert(r.getAs[Double]("precision_proxy") >= 0.90,
      s"candidate precision ${r.getAs[Double]("precision_proxy")} fell below the 0.90 floor")
  }

  test("contamination: verbatim benchmark docs hit their train originals") {
    val train = docs.filter($"doc_id" =!= 5L)
    val bench = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank"), // = train 1/4
      (102L, "totally novel benchmark question with no training overlap at all"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(train, bench)
      .collect().map(r => (r.getAs[Long]("bench_id"), r.getAs[Long]("train_id"),
        r.getAs[Long]("overlap"), r.getAs[Long]("bench_n_sh")))
    // verbatim containment: overlap equals the benchmark's own shingle count
    val verbatim = hits.filter(h => h._1 == 101L && (h._2 == 1L || h._2 == 4L))
    assert(verbatim.length == 2, hits.toSeq.toString)
    verbatim.foreach(h => assert(h._3 == h._4, s"verbatim hit must cover all shingles: $h"))
    // near-dup train doc 2 shares most shingles too
    assert(hits.exists(h => h._1 == 101L && h._2 == 2L))
    // the novel doc is clean, and bench docs never pair with each other
    assert(!hits.exists(_._1 == 102L))
    assert(!hits.exists(h => h._2 >= 100L))
  }

  test("jaccard pairs: near-dups above 1/3 threshold with exact counts") {
    val pairs = Dedup.jaccardPairs(docs)
      .select("a", "b", "inter", "union_n").as[(Long, Long, Long, Long)]
      .collect().map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    assert(pairs((1L, 4L)) == ((11L, 11L))) // identical: J = 1
    val (i12, u12) = pairs((1L, 2L))
    assert(i12 == 10 && u12 == 12) // one-token tail change flips 1 shingle
    assert(!pairs.contains((1L, 3L)))
  }

  test("containment pairs: excerpt ⊂ source at full containment; jaccard misses it") {
    // doc 6 = the first 7 words of doc 1: every excerpt shingle (5 of
    // them) appears in doc 1's 11 -> containment 1.0, jaccard 5/11 < 1/2
    val withExcerpt = docs.unionAll(Seq(
      (6L, "the quick brown fox jumps over the")).toDF("doc_id", "text"))
    val cont = Dedup.containmentPairs(withExcerpt)
      .select("a", "b", "inter", "na", "nb", "containment")
      .as[(Long, Long, Long, Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> ((p._3, p._4, p._5, p._6))).toMap
    assert(cont((1L, 6L)) == ((5L, 11L, 5L, 1.0)))
    assert(cont((4L, 6L)) == ((5L, 11L, 5L, 1.0))) // 4 is 1's exact dup
    assert(cont((1L, 4L))._4 == 1.0) // identical docs contain each other
    assert(!cont.contains((3L, 6L)))
    val jac = Dedup.jaccardPairs(withExcerpt)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 6L)),
      "the excerpt pair must be invisible to symmetric jaccard at 1/2")
  }

  test("brute-force ANN: self-similar embeddings rank first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (25L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.head == 1L) // closest direction
    assert(top.last == 25L) // opposite direction ranks last
  }

  test("LSH ANN returns a subset consistent with brute force on testdata") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 20), 5)
    val lsh = Similarity.lshTopK(emb, k = 5, planesPerTable = 4)
      .filter($"q_id" < 20)
    // recall@5: every LSH hit must be a real vector and scores must match
    // the exact cosine (bucketing limits candidates; scoring is exact)
    val bruteMap = brute.select("q_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lshRows = lsh.select("q_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    assert(lshRows.nonEmpty)
    val exact = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 20), 499)
      .select("q_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    lshRows.foreach { case (q, n, c) =>
      assert(math.abs(exact((q, n)) - c) < 1e-12)
    }
  }

  test("survivors: clustered docs keep only the min member; unpaired docs survive") {
    val labels = Dedup.components(Dedup.jaccardPairs(docs))
    val surv = Dedup.survivors(docs, labels).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("survivor")))).toMap
    assert(surv(1L) == ((1L, true)))  // cluster {1,2,4} min member
    assert(surv(2L) == ((1L, false)))
    assert(surv(4L) == ((1L, false)))
    assert(surv(3L) == ((3L, true)))  // never paired -> own cluster, kept
    assert(surv(5L) == ((5L, true)))
  }

  test("paraDedup: repeated paragraphs survive only in their lowest doc") {
    val pd = Seq(
      (1L, "unique first paragraph\n\nshared boilerplate\n\nanother unique one"),
      (2L, "different content here\n\nshared boilerplate"),
      (3L, "shared boilerplate\n\nshared boilerplate\n\nfresh paragraph"),
      (4L, "\n\n"), // only empty paragraphs -> drops entirely
      (5L, "solo document")).toDF("doc_id", "text")
    val r = Dedup.paraDedup(pd).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_paras"), x.getAs[Long]("n_unique"),
          x.getAs[Long]("n_kept")))).toMap
    assert(r(1L) == ((3L, 3L, 3L))) // owns the boilerplate (lowest doc id)
    assert(r(2L) == ((2L, 2L, 1L))) // boilerplate already owned by doc 1
    assert(r(3L) == ((3L, 2L, 1L))) // dup-within-doc counted, not kept
    assert(!r.contains(4L)) // empty paragraphs filtered, doc drops
    assert(r(5L) == ((1L, 1L, 1L)))
  }

  test("stripBoilerplate: drops high-df paragraphs, keeps original order") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bp = "all rights reserved license text"
    val rows = (1 to 10).map(i =>
      (i.toLong, s"unique opening $i\n\n$bp\n\nunique closing $i")) :+
      (11L, "a single unique paragraph")
    val out = Dedup.stripBoilerplate(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 11)
    assert(out(1L).getAs[Long]("n_paras") == 3L)
    assert(out(1L).getAs[Long]("n_dropped") == 1L)
    // cleaned text is the kept paragraphs re-joined in original order
    assert(out(3L).getAs[String]("clean_hash") ==
      md5hex("unique opening 3\n\nunique closing 3"))
    assert(out(11L).getAs[Long]("n_dropped") == 0L)
    assert(out(11L).getAs[String]("clean_hash") ==
      md5hex("a single unique paragraph"))
    // df = 9 stays below the threshold: nothing dropped at minDf = 10
    val under =
      Dedup.stripBoilerplate(rows.take(9).toDF("doc_id", "text")).collect()
    assert(under.forall(_.getAs[Long]("n_dropped") == 0L))
  }

  test("lshTopK queries restriction: identical answers for the query set") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 25 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect().toSet
    val full = key(Similarity.lshTopK(emb, k = 5)
      .filter($"q_id" % 25 === 0))
    val restricted = key(Similarity.lshTopK(emb, k = 5, queries = Some(qs)))
    assert(restricted == full) // per-query top-k commutes with restriction
    assert(restricted.nonEmpty)
  }

  test("ngramNovelty: unseen-shingle fraction against the reference; extremes hit 0 and 1") {
    import spark.implicits._
    val ref = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "alpha beta gamma delta epsilon"),    // every trigram seen -> 0
      (11L, "zeta eta theta iota kappa"),         // nothing seen -> 1
      (12L, "alpha beta gamma zeta eta"))         // 1 of 3 trigrams seen
      .toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(probe, ref)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(10L) == ((3L, 0L, 0.0)))
    assert(out(11L) == ((3L, 3L, 1.0)))
    assert(out(12L) == ((3L, 2L, 2.0 / 3.0)))
  }

  test("bestSurvivors: highest quality wins the cluster, ties to smallest id; bounded-heap plan") {
    import org.apache.spark.sql.functions.length
    // docs 1, 2, 4 cluster (near/exact dups); lengths: 1 = 4 (64 chars vs
    // 2's 65) -> the longest member 2 must win, NOT the min-id 1
    val labels = Dedup.components(Dedup.jaccardPairs(docs))
    val out = Dedup.bestSurvivors(docs, labels, length(col("text")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out(2L)._2 && !out(1L)._2 && !out(4L)._2,
      s"longest member must survive the cluster: $out")
    assert(out(1L)._1 == out(2L)._1 && out(2L)._1 == out(4L)._1)
    assert(out(3L)._2 && out(5L)._2) // singletons survive themselves
    // equal quality (1 and 4 are exact dups): smallest id wins the tie
    val tied = Dedup.bestSurvivors(
      docs.filter(col("doc_id").isin(1L, 4L)), labels, length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(tied == Map(1L -> true, 4L -> false))
    // the per-cluster argmax is the bounded heap, never a rank window
    val plan = Dedup.bestSurvivors(docs, labels, length(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("bestSurvivors: fractional Double quality keeps full precision (no integral truncation)") {
    import spark.implicits._
    // model scores in [0, 1] — the linearScore pairing: doc 4 carries the
    // highest score in the {1, 2, 4} cluster. A LongType cast would
    // truncate every score to 0 and silently fall back to min-id (doc 1).
    val labels = Dedup.components(Dedup.jaccardPairs(docs))
    val score = when(col("doc_id") === 4L, 0.95)
      .when(col("doc_id") === 2L, 0.60).otherwise(0.10)
    val out = Dedup.bestSurvivors(docs, labels, score)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(4L) && !out(1L) && !out(2L),
      s"highest fractional score must win, not min-id: $out")
  }

  test("bestSurvivors: non-numeric quality is rejected loudly") {
    val labels = Dedup.components(Dedup.jaccardPairs(docs))
    val e = intercept[IllegalArgumentException] {
      Dedup.bestSurvivors(docs, labels, col("text"))
    }
    assert(e.getMessage.contains("quality must be numeric"))
  }

  test("bestSurvivors: string ids tie-break lexicographically (struct ordering, no negation)") {
    import spark.implicits._
    val corpus = Seq(("b", 1.0), ("a", 1.0), ("c", 0.5))
      .toDF("doc_id", "q")
    val labels = Seq(("a", "a"), ("b", "a"), ("c", "a"))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.bestSurvivors(corpus, labels, col("q"))
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    // equal top quality on a and b -> smallest id "a" survives
    assert(out == Map("a" -> true, "b" -> false, "c" -> false))
  }

  test("dupAttribution: per-source dup mass, losers, and wasted chars recompute exactly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aaaa", "s1"),   // cluster {1,2}: min-id 1 survives
      (2L, "bbbbbb", "s2"), // the loser: 6 wasted chars on feed s2
      (3L, "cc", "s1"))     // singleton (absent from labels)
      .toDF("doc_id", "text", "source")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val out = Dedup.dupAttribution(corpus, labels)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("s1") == ((2L, 1L, 0L, 0L)), s"s1: $out")
    assert(out("s2") == ((1L, 1L, 1L, 6L)), s"s2: $out")
  }

  test("simhashPairs == brute-force hamming<=3 over all pairs (pigeonhole recall)") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Dedup.simhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val hashes = Dedup.withSimhash(corpus)
      .select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- hashes; (b, sb) <- hashes if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h).toMap
    assert(got == brute, s"banded=${got.size} brute=${brute.size}")
    // the verify is exact: every reported hamming recomputes
    assert(got.values.forall(_ <= 3))
  }

  test("capped/star band join: planted mega-cluster keeps the exact CC drop-set, linear output") {
    // 300 exact duplicates (> MaxBandBucket = 256) of one boilerplate page:
    // every one of its 16 band buckets is over-cap, so the capped form
    // emits 299 star edges per band instead of 44 850 pairs. Plus one
    // genuine near-dup pair and two unrelated singletons riding along.
    val mega = (100L to 399L).map(i =>
      (i, "subscribe to our newsletter for updates about the channel and more stories daily"))
    val rest = Seq(
      (500L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (501L, "the quick brown fox jumps over the lazy dog near the river shore"),
      (600L, "completely different content about spark distributed query engines"),
      (601L, "another unrelated document mentioning neither foxes nor rivers at all"))
    val corpus = (mega ++ rest).toDF("doc_id", "text")
    try {
      val capped = Dedup.minhashPairs(corpus, minAgree = 20)
      val exact = Dedup.minhashPairs(corpus, minAgree = 20,
        maxBucket = Int.MaxValue)
      val nCapped = capped.count()
      val nExact = exact.count()
      assert(nExact >= 300L * 299 / 2, s"all-pairs form should be quadratic: $nExact")
      assert(nCapped <= 300L + 10, s"capped form should be linear: $nCapped")
      // the whole point: connected-components dedup drops the SAME docs
      def dropSet(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
        Dedup.components(pairs.select("a", "b"))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      val dc = dropSet(capped)
      assert(dc == dropSet(exact), "capped and exact CC drop-sets differ")
      assert(dc == ((101L to 399L).toSet + 501L), s"unexpected drop-set: ${dc.size}")
    } finally spark.catalog.clearCache()
  }

  test("bandStats: over-cap accounting recomputes on the planted mega-cluster") {
    val mega = (100L to 399L).map(i =>
      (i, "subscribe to our newsletter for updates about the channel and more stories daily"))
    val corpus = (mega ++ Seq(
      (600L, "completely different content about spark distributed query engines")))
      .toDF("doc_id", "text")
    try {
      val out = Dedup.bandStats(corpus).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
      val (nb, over, maxOcc, pe, pm, se, sv) = out("minhash")
      // 16 bands: the mega-cluster fills one 300-doc bucket per band (over
      // cap), the singleton its own; all-pairs mass = 16 * 300*299/2,
      // emitted mass = 16 * 299 star edges
      assert(nb == 32L, s"n_buckets: $nb")
      assert(over == 16L && maxOcc == 300L, s"overcap/max: $over/$maxOcc")
      assert(pe == 16L * (300L * 299 / 2), s"pairs_exact: $pe")
      assert(pm == 16L * 299, s"pairs_emitted: $pm")
      // star-edge ledger: the 16 per-band star sets collapse to the SAME
      // 299 distinct (min, member) edges, and identical docs verify at
      // n_agree = 64 — zero shortfall on the exact-dup mega-cluster
      assert(se == 299L && sv == 299L, s"minhash star edges: $se/$sv")
      // simhash: 4 bands, same shape (identical docs share all 4 buckets)
      val (snb, sover, smax, spe, spm, sse, ssv) = out("simhash")
      assert(sover == 4L && smax == 300L, s"simhash overcap/max: $sover/$smax")
      assert(spe == 4L * (300L * 299 / 2) && spm == 4L * 299,
        s"simhash mass: $spe/$spm")
      assert(snb >= 5L, s"simhash buckets: $snb")
      assert(sse == 299L && ssv == 299L, s"simhash star edges: $sse/$ssv")
    } finally spark.catalog.clearCache()
  }

  test("bandStats: star-edge verify shortfall is MEASURED on an adversarial over-cap bucket") {
    // An over-cap bucket whose members are NOT all near-dups of the bucket
    // min under a strict verify: 280 identical boilerplate docs plus 20
    // one-word variants. The variants share most (not all) signature
    // positions with the identical group, so bands where the changed
    // word's shingles don't land put 300 docs in one bucket — over cap —
    // while a strict verify (minAgree = 64 / maxHamming = 0) REJECTS the
    // variant star edges. The ledger must report that shortfall instead
    // of assuming every star edge verifies; expectations are recomputed
    // brute-force from the collected signatures, not assumed.
    val base = "subscribe to our newsletter for updates about the channel and more stories daily"
    val corpus = ((100L to 379L).map(i => (i, base)) ++
      (380L to 399L).map(i => (i, base + " tonight")) ++
      Seq((600L, "completely different content about spark engines")))
      .toDF("doc_id", "text")
    try {
      // brute-force ground truth from the signatures themselves
      val sigRows = corpus.select(col("doc_id"),
        Dedup.minhashSignaturePortable(col("text")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val bands = for {
        (id, sig) <- sigRows.toSeq
        b <- 0 until 16
      } yield ((b, sig.slice(b * 4, b * 4 + 4).mkString(",")), id)
      val star = bands.groupBy(_._1).values.filter(_.size > Dedup.MaxBandBucket)
        .flatMap { bucket =>
          val ids = bucket.map(_._2)
          val m = ids.min
          ids.filter(_ != m).map(m -> _)
        }.toSet
      val starVerified = star.count { case (a, b) =>
        sigRows(a).zip(sigRows(b)).count(p => p._1 == p._2) >= 64 }
      assert(star.nonEmpty, "fixture must produce over-cap star edges")
      assert(starVerified < star.size,
        "fixture must contain star edges a strict verify rejects")
      val out = Dedup.bandStats(corpus, minAgree = 64, maxHamming = 0).collect()
        .map(r => r.getString(0) -> ((r.getLong(6), r.getLong(7)))).toMap
      assert(out("minhash") == ((star.size.toLong, starVerified.toLong)),
        s"minhash star ledger: ${out("minhash")} vs brute " +
          s"(${star.size}, $starVerified)")
      // simhash side: same brute-force pinning over the 60-bit fingerprints
      val shRows = Dedup.withSimhash(corpus)
        .select("doc_id", "simhash")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sBands = for {
        (id, sh) <- shRows.toSeq
        b <- 0 until 4
      } yield ((b, (sh >>> (15 * b)) & 32767L), id)
      val sStar = sBands.groupBy(_._1).values.filter(_.size > Dedup.MaxBandBucket)
        .flatMap { bucket =>
          val ids = bucket.map(_._2)
          val m = ids.min
          ids.filter(_ != m).map(m -> _)
        }.toSet
      val sVerified = sStar.count { case (a, b) =>
        java.lang.Long.bitCount(shRows(a) ^ shRows(b)) <= 0 }
      assert(out("simhash") == ((sStar.size.toLong, sVerified.toLong)),
        s"simhash star ledger: ${out("simhash")} vs brute " +
          s"(${sStar.size}, $sVerified)")
      // no-over-cap semantics: with the cap lifted there are no star
      // edges, so the ledger is exactly zero on both miners
      val zero = Dedup.bandStats(corpus, maxBucket = Int.MaxValue).collect()
        .map(r => r.getString(0) -> ((r.getLong(6), r.getLong(7)))).toMap
      assert(zero("minhash") == ((0L, 0L)) && zero("simhash") == ((0L, 0L)),
        s"uncapped star ledger must be zero: $zero")
    } finally spark.catalog.clearCache()
  }

  test("simhashPairs: star edges keep an over-cap exact-dup mega-cluster connected") {
    val mega = (100L to 399L).map(i =>
      (i, "subscribe to our newsletter for updates about the channel and more stories daily"))
    val corpus = (mega ++ Seq(
      (600L, "completely different content about spark distributed query engines")))
      .toDF("doc_id", "text")
    try {
      val got = Dedup.simhashPairs(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // linear star output: every mega member pairs with the bucket min
      // (hamming 0 — identical docs), nothing quadratic, singleton untouched
      assert(got == (101L to 399L).map(i => (100L, i)).toSet, s"${got.size}")
    } finally spark.catalog.clearCache()
  }

  test("minhashSweep: each threshold row matches an independent minhashPairs run") {
    val ths = Seq(20, 36, 52)
    val out = Dedup.minhashSweep(docs, ths)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val n = docs.count()
    ths.foreach { t =>
      val pairs = Dedup.minhashPairs(docs, minAgree = t)
      assert(out(t)._1 == pairs.count(), s"threshold $t pairs")
      val dropped = pairs.select("b").distinct().count()
      assert(out(t)._2 == dropped && out(t)._3 == n - dropped,
        s"threshold $t drops")
    }
    assert(out(20)._1 >= out(36)._1 && out(36)._1 >= out(52)._1)
  }

  test("crossSourceOverlap: pairs attribute to unordered source pairs with aligned doc counts") {
    import spark.implicits._
    val corpus = Seq((1L, "s2"), (2L, "s1"), (3L, "s1"), (4L, "s3"))
      .toDF("doc_id", "source")
    // pair (1,2): sources (s2,s1) -> cell (s1,s2) with the s1-side doc 2;
    // pair (1,3): -> (s1,s2) with s1-side doc 3; pair (2,3): within-s1
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val out = Dedup.crossSourceOverlap(corpus, pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("s1", "s2")) == ((2L, 2L, 1L)), s"cross cell: $out")
    assert(out(("s1", "s1")) == ((1L, 1L, 1L)), s"within cell: $out")
    assert(!out.contains(("s2", "s1"))) // unordered: one cell per pair
  }

  test("centroidOutliers: best-centroid cosine recomputes; fully narrow plan") {
    // axis-aligned centroids: v7 sits on centroid 0 (cos 1, inlier); v8
    // is equidistant-far from every axis (cos 0.5 to each of the 4) —
    // flag at minCos 0.6
    val model = Ivf.Model(Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f)))
    val vecs = Seq((7L, Seq(2f, 0f, 0f, 0f)), (8L, Seq(1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(vecs, model, minCos = 0.6)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(7L)._1 == 0 && math.abs(out(7L)._2 - 1.0) < 1e-12 && !out(7L)._3)
    assert(math.abs(out(8L)._2 - 0.5) < 1e-12 && out(8L)._3)
    // narrow: no exchange of any kind — the whole op rides the scan
    val plan = Similarity.centroidOutliers(vecs, model, 0.6)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1000))
  }

  /** Ids of the RDDs with cached blocks. */
  private def cachedRddIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("jaccardPairs persists one intermediate for the session: the de-hubbed index") {
    spark.catalog.clearCache()
    val before = cachedRddIds
    assert(Dedup.jaccardPairs(docs).count() >= 0)
    val added = cachedRddIds -- before
    assert(added.size == 1, s"expected one cached RDD, got ${added.size}")
    spark.catalog.clearCache()
  }

  test("components: labels are materialized blocks that clearCache leaves in place") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val before = cachedRddIds
    val labels = Dedup.components(pairs)
    assert(labels.collect().length == 5)
    val added = cachedRddIds -- before
    assert(added.nonEmpty, "the labels must be backed by persisted blocks")
    // the blocks are a local checkpoint, not a CacheManager entry
    spark.catalog.clearCache()
    assert(added.subsetOf(cachedRddIds))
    assert(labels.collect().length == 5)
  }

  test("multimodal: stub decode + batched feature extraction shapes") {
    val media = graft.multimodal.Multimodal.syntheticMedia(spark, "/root/testdata/sf0.001")
    val feats = graft.multimodal.Multimodal.extractFeatures(media, batchSize = 32)
    val rows = feats.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.histogram.length == 16))
    assert(rows.forall(r => r.frames_sampled <= 64))
    assert(rows.forall(r => Set("image", "audio", "video")(r.kind)))
    val r0 = rows.find(_.media_id == 0L).get
    assert(r0.n_bytes > 0 && r0.byte_mean > 0)
  }

  test("language ID classifies real-language samples") {
    // (The testdata documents are synthetic English word-salads with random
    // lang labels, so label-matching there is meaningless by construction;
    // the op's oracle check still validates Spark/DuckDB parity on them.)
    val samples = Seq(
      ("en", "the cat sat on the mat and the dog is happy with the bone"),
      ("es", "el perro y la gata viven en la casa y es muy bonita"),
      ("fr", "le chien et les chats sont dans une maison et c'est le soir"),
      ("de", "der hund und die katze sind mit das haus und ist sehr gut"),
      ("zh", "这是一个中文句子用于测试语言识别")).toDF("expected", "text")
    val wrong = samples.withColumn("pred", TextOps.langId(col("text")))
      .filter($"expected" =!= $"pred").count()
    assert(wrong == 0)
  }
}
