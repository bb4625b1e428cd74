package graft

import org.apache.spark.sql.functions._

/** Semantics pins for the round-4 curation operators (split assignment,
  * repetition signals, int8 quantization) beyond the oracle hash check. */
class CurationOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("op_split_assign: 90/5/5 by hash, partition-count independent") {
    val rows = SparkEntry.queries("op_split_assign")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = rows.values.sum
    assert(rows.keySet == Set("train", "val", "test"))
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
    val trainFrac = rows("train").toDouble / total
    assert(trainFrac > 0.85 && trainFrac < 0.95, s"train frac $trainFrac")
    // the assignment is a pure hash of doc_id: recomputing after an
    // arbitrary repartition yields the identical breakdown
    val bucket = pmod(
      graft.text.Dedup.portableHash(col("doc_id").cast("string")), lit(1000))
    val again = spark.read.parquet(s"$sf/documents.parquet").repartition(13)
      .withColumn("split",
        when(bucket < 900, "train").when(bucket < 950, "val").otherwise("test"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == rows.view.mapValues(identity).toMap.map {
      case (k, _) => k -> rows(k) })
  }

  test("op_repetition: token totals, types, and top-token count agree with a direct recount") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = SparkEntry.queries("op_repetition")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    out.keys.take(25).foreach { id =>
      val toks = docs(id).trim.toLowerCase.split("\\s+").toSeq
        .filter(_ => docs(id).trim.nonEmpty)
      val counts = toks.groupBy(identity).view.mapValues(_.size)
      assert(out(id) == ((toks.size.toLong, counts.size.toLong,
        counts.values.max.toLong)), s"doc $id")
    }
  }

  test("rollingFingerprint matches a direct Rabin-Karp recompute") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"), // 9 tokens
      (2L, "short doc")) // < 8 tokens -> drops
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.rollingFingerprint(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(!out.contains(2L))
    // direct recompute: md5-60 token hash mod P, Horner windows
    val P = 2147483647L
    def th(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % P
    }
    val toks = "alpha beta gamma delta epsilon zeta eta theta iota".split(" ")
    val whs = toks.sliding(8).map(_.foldLeft(0L)((acc, t) =>
      (acc * 31 + th(t)) % P)).toSeq
    assert(out(1L) == ((2, whs.distinct.length, whs.min)))
  }

  test("winnow matches a direct rightmost-min selection recompute") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, text), (2L, "too short for any window")).toDF("doc_id", "text")
    val out = graft.text.TextOps.winnow(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(!out.contains(2L)) // 5 tokens -> no 8-token window
    // direct recompute
    val P = 2147483647L
    def th(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % P
    }
    val wh = text.split(" ").sliding(8)
      .map(_.foldLeft(0L)((acc, t) => (acc * 31 + th(t)) % P)).toArray
    val runs = wh.indices.dropRight(3)
    val sels = runs.map { s =>
      val m = (s to s + 3).map(wh).min
      (s to s + 3).reverse.find(j => wh(j) == m).get
    }
    val ms = runs.map(s => (s to s + 3).map(wh).min)
    assert(out(1L) == ((runs.length, sels.distinct.length, ms.min)))
    // winnowing density: selected fingerprints are a strict subset of
    // windows yet every 4-run is covered by construction
    assert(sels.distinct.length < wh.length)
  }

  test("passageDups finds the planted shared passage with its min owner") {
    import spark.implicits._
    val docs = Seq(
      (3L, "x y z common passage shared by many docs"),
      (7L, "a b common passage shared by many docs too"),
      (9L, "entirely different words without any overlap here"))
      .toDF("doc_id", "text")
    val dups = graft.text.TextOps.passageDups(docs, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // "common passage shared by many" and "passage shared by many docs"
    // are 5-token windows common to docs 3 and 7
    assert(dups.length == 2)
    assert(dups.forall { case (_, nDocs, keep) => nDocs == 2 && keep == 3L })
  }

  test("bigramScore: corpus-frequency sums agree with a direct recount") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran on the mat"),
      (3L, "single"), // < 2 tokens -> no bigrams -> drops
      (4L, "the cat sat")).toDF("doc_id", "text")
    val out = graft.text.TextOps.bigramScore(docs, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // corpus bigram counts: "the cat"=3, "cat sat"=2, "sat on"=1, "on the"=2,
    // "the mat"=2, "cat ran"=1, "ran on"=1
    assert(out(1L) == ((5L, 3L + 2L + 1L + 2L + 2L)))
    assert(out(2L) == ((5L, 3L + 1L + 1L + 2L + 2L)))
    assert(out(4L) == ((2L, 3L + 2L)))
    assert(!out.contains(3L))
  }

  test("substrRuns: planted long repeats found with exact span; short/hub repeats drop") {
    import spark.implicits._
    // a 24-token passage planted inside two otherwise-different docs at
    // different offsets, plus a 10-token shared snippet (below minRun=20)
    // and an unrelated doc
    val passage = (1 to 24).map(i => s"tok$i").mkString(" ")
    val short = (1 to 10).map(i => s"snip$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, s"one two three four five six $passage seven $short"),
      (3L, s"unrelated words only here nothing shared at all $short"),
      (4L, "completely disjoint content with zero overlap whatsoever"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.substrRuns(docs, minRun = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    // doc1: passage starts at token 3; doc2: at token 6; run = 24 tokens
    assert(out == Map((1L, 2L) -> ((3, 6, 24L))), s"$out")
    // lowering minRun to 10 surfaces the short snippet pair too
    val out2 = graft.text.TextOps.substrRuns(docs, minRun = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(out2 == Map((1L, 2L) -> 24L, (2L, 3L) -> 10L), s"$out2")
    // hub cap: a window shared by more docs than maxDf never pairs
    val boiler = (1 to 30).map(i =>
      (100L + i, s"page $i says " + passage)).toDF("doc_id", "text")
    assert(graft.text.TextOps.substrRuns(boiler, minRun = 20, maxDf = 10)
      .count() == 0L)
  }

  test("substrRuns: the pair-mass budget refuses a blowup BEFORE the join; raising it is deliberate") {
    import spark.implicits._
    // the round-16 ×100 OOM made enforceable: 30 copies of one passage
    // at maxDf=100 (above the 30-way multiplicity) is exactly the
    // maxDf-at-duplication shape — the pre-flight mass read must REFUSE
    // under a small budget, naming the measured mass, without ever
    // paying for the pair join
    val passage = (1 to 24).map(i => s"tok$i").mkString(" ")
    val boiler = (1 to 30).map(i =>
      (100L + i, s"page $i says " + passage)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.text.TextOps.substrRuns(boiler, minRun = 20, pairBudget = 100L)
        .count()
    }
    assert(e.getMessage.contains("pair join"), e.getMessage)
    assert(e.getMessage.contains("maxDf"), e.getMessage)
    // 20 windows/passage shared by 30 docs -> 20 * C(30,2) = 8700 pairs
    // (plus the "says <passage-prefix>" bridging windows)
    assert("\\d{3,}".r.findFirstIn(e.getMessage).isDefined,
      s"measured mass missing from: ${e.getMessage}")
    // override path: a budget that covers the mass mines as before...
    assert(graft.text.TextOps.substrRuns(boiler,
      minRun = 20, pairBudget = 100000L).count() == 435L) // C(30,2) pairs
    // ...and the hub cap composes with the budget: capping maxDf below
    // the multiplicity drops the mass so even the tiny budget passes
    assert(graft.text.TextOps.substrRuns(boiler,
      minRun = 20, maxDf = 10, pairBudget = 100L).count() == 0L)
    // substrScrub threads the budget through to the miner
    intercept[IllegalArgumentException] {
      graft.text.TextOps.substrScrub(boiler, pairBudget = 100L).count()
    }
  }

  test("substrStats: pair-join mass matches the closed form and the miner's actual join input") {
    import spark.implicits._
    // doc1 repeats its 5-token window once (c=2), doc2 and doc3 hold it
    // once each: for that hash T=4, S=4+1+1=6 -> (16-6)/2 = 5 pair rows.
    val rep = "w1 w2 w3 w4 w5"
    val docs = Seq(
      (1L, s"$rep $rep"), (2L, s"x1 x2 $rep"), (3L, s"$rep y1 y2"))
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.substrStats(docs)
      .collect().head
    // windows: doc1 has 6 window positions (10 tokens, w=5), doc2/doc3
    // 3 each; the repeated-passage hash is one of several distinct hashes
    assert(r.getAs[Long]("n_hub_windows") == 0L)
    assert(r.getAs[Long]("dropped_pair_rows") == 0L)
    assert(r.getAs[Long]("max_df_kept") == 3L)
    // the shared w1..w5 hash contributes 5; every other hash is
    // single-doc (T == c per doc, so T²−S = 0 unless a doc repeats it —
    // doc1's overlap windows w2..w5+w1.. appear once each)
    assert(r.getAs[Long]("pair_rows") >= 5L)
    // EXACT cross-check: pair_rows must equal the miner's real join
    // input mass (the a<b occurrence-pair count before diagonal chaining)
    val wins = graft.text.TextOps.rollingWindows(docs, "text", 5)
    val f = wins.select(col("wh"), col("doc_id"), col("pos"))
    val actual = f.select(col("wh"), col("doc_id").as("a"))
      .join(f.select(col("wh"), col("doc_id").as("b")), "wh")
      .filter(col("a") < col("b")).count()
    assert(r.getAs[Long]("pair_rows") == actual, s"stats vs join: $r $actual")
    // the hub cap moves mass from pair_rows to dropped_pair_rows
    val capped = graft.text.TextOps.substrStats(docs, maxDf = 2).collect().head
    assert(capped.getAs[Long]("n_hub_windows") == 1L)
    assert(capped.getAs[Long]("dropped_pair_rows") == 5L)
    assert(capped.getAs[Long]("pair_rows") ==
      r.getAs[Long]("pair_rows") - 5L)
  }

  test("substrScrub: covered spans delete from the higher-id doc; overlaps union; others pass through") {
    import spark.implicits._
    val passage = (1 to 24).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, s"one two three four five six $passage seven"),
      (3L, "completely disjoint content with zero overlap whatsoever"),
      (4L, "   "))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.substrScrub(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc1 (lower id) survives untouched, normalized passthrough
    assert(out(1L) == ((29L, 29L, 0L, s"alpha beta gamma $passage delta epsilon")))
    // doc2 loses exactly the 24-token passage (positions 6..29)
    assert(out(2L) == ((31L, 7L, 24L, "one two three four five six seven")))
    // untouched and empty docs pass through
    assert(out(3L)._3 == 0L && out(3L)._4.startsWith("completely"))
    assert(out(4L) == ((0L, 0L, 0L, "")))
    // overlapping runs from TWO partners union their positions: doc 9 is
    // the b side of runs against docs 7 and 8 whose spans overlap — the
    // overlap deletes once, leaving only the unshared frame tokens
    val p1 = (1 to 22).map(i => s"x$i").mkString(" ")   // positions 1..22 in doc9
    val p2 = (3 to 24).map(i => s"x$i").mkString(" ")   // positions 3..24 in doc9
    val tri = Seq(
      (7L, s"lead $p1 tail7"),
      (8L, s"intro pad go $p2 tail8"),
      (9L, s"frame ${(1 to 24).map(i => s"x$i").mkString(" ")} outro"))
      .toDF("doc_id", "text")
    val out2 = graft.text.TextOps.substrScrub(tri)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(out2(9L) == ((24L, "frame outro")), s"${out2(9L)}")
    // doc7 (lowest id) survives untouched; doc8 is itself the b side of
    // the 7-8 run (they share x3..x22, 20 tokens) and loses exactly that
    assert(out2(7L)._1 == 0L, s"${out2(7L)}")
    assert(out2(8L) == ((20L, "intro pad go x23 x24 tail8")), s"${out2(8L)}")
  }

  test("vocabRichness: Chao1 and Good-Turing match hand values; empty docs drop") {
    import spark.implicits._
    // en: tokens a a b c -> N=4 V=3 F1=2 F2=1 -> chao1 = 3 + 2*1/(2*2)
    // = 3.5, p_unseen = 2/4 = .5; de: x x -> F1=0 -> chao1 = V = 1
    val docs = Seq((1L, "en", "a a b"), (2L, "en", "c"),
      (3L, "de", "x x"), (4L, "fr", "   ")).toDF("doc_id", "lang", "text")
    val out = graft.text.TextOps.vocabRichness(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("en") == ((4L, 3L, 2L, 1L, 3.5, 0.5)), out("en").toString)
    assert(out("de") == ((2L, 1L, 0L, 1L, 1.0, 0.0)))
    assert(!out.contains("fr")) // whitespace-only docs contribute nothing
  }

  test("scoreDeciles: tie groups stay whole, bins and fractions match the hand split") {
    import spark.implicits._
    // scores desc: 5,5,5 | 4 | 3,2,2 | 1 | 0,0 — q=5 bins of nominal 2:
    // the score-5 tie group (3 docs) lands whole in bin 1 (before=0);
    // score 4 (before=3 -> 15//10=1) bin 2; score 3 (before=4 -> 2) and
    // both 2s (before=5 -> 2) share bin 3; score 1 (before=7 -> 3) bin 4;
    // the 0s (before=8 -> 4) bin 5
    val scored = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 4L), (5L, 3L),
      (6L, 2L), (7L, 2L), (8L, 1L), (9L, 0L), (10L, 0L))
      .toDF("doc_id", "score")
    val labels = scored.select(col("doc_id"),
      (col("score") >= 3L).as("keep"))
    val out = graft.text.TextOps.scoreDeciles(scored, labels, q = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 5L, 5L, 3L, 3L, 1.0),
      (2L, 4L, 4L, 1L, 1L, 1.0),
      (3L, 2L, 3L, 3L, 1L, 1.0 / 3.0),
      (4L, 1L, 1L, 1L, 0L, 0.0),
      (5L, 0L, 0L, 2L, 0L, 0.0)), out.mkString(", "))
    intercept[IllegalArgumentException] {
      graft.text.TextOps.scoreDeciles(scored, labels, q = 1)
    }
  }

  test("pmiCollocations: micro-nat PMI matches a driver-side recompute; support floor and ranking hold") {
    import spark.implicits._
    // "strong glue" appears 3x and its words appear ONLY together (max
    // PMI); "the cat" appears 4x but from very frequent words (low PMI);
    // "rare pair" appears once — killed by the support floor
    val docs = Seq(
      (1L, "strong glue strong glue strong glue the cat the cat"),
      (2L, "the cat the dog the cat rare pair"),
      (3L, "the dog sat")).toDF("doc_id", "text")
    val toks = Seq("strong", "glue", "strong", "glue", "strong", "glue",
      "the", "cat", "the", "cat", "the", "cat", "the", "dog", "the",
      "cat", "rare", "pair", "the", "dog", "sat")
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.size.toLong
    def pmiMicro(w1: String, w2: String, cxy: Long): Long =
      math.floor((math.log(cxy.toDouble) + math.log(n.toDouble) -
        math.log(uni(w1).toDouble) - math.log(uni(w2).toDouble)) * 1e6).toLong
    val out = graft.text.TextOps.pmiCollocations(docs, minCount = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // support floor: only pairs with >= 3 occurrences survive
    assert(!out.contains(("rare", "pair")))
    assert(out.contains(("strong", "glue")) && out.contains(("the", "cat")))
    val sg = out(("strong", "glue"))
    assert(sg._1 == 3L && sg._2 == uni("strong") && sg._3 == uni("glue"))
    assert(sg._4 == pmiMicro("strong", "glue", 3L), s"$sg")
    val tc = out(("the", "cat"))
    assert(tc._4 == pmiMicro("the", "cat", 4L))
    // association ranking: the exclusive pair outranks the frequent one
    assert(sg._4 > tc._4)
    // bigrams are ORDERED and per-occurrence: (cat, the) totals only 2
    // across the corpus, under the floor — it must NOT ride (the, cat)'s 4
    assert(!out.contains(("cat", "the")))
    intercept[IllegalArgumentException] {
      graft.text.TextOps.pmiCollocations(docs, minCount = 0L)
    }
  }

  test("lmLogProb: micro-nat sums match a driver-side Math.log recompute") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran on the mat"),
      (3L, "   "), // whitespace-only -> no tokens -> drops
      (4L, "zyzzyva")).toDF("doc_id", "text")
    // corpus model: counts over all tokens; N = 13, V = 7
    val corpus = Seq("the", "cat", "sat", "on", "the", "mat",
      "the", "cat", "ran", "on", "the", "mat", "zyzzyva")
    val c = corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = corpus.size.toLong
    val v = c.size.toLong
    def lpMicro(tok: String): Long =
      math.floor((math.log((c(tok) + 1).toDouble) -
        math.log((n + v).toDouble)) * 1e6).toLong
    val out = graft.text.TextOps.lmLogProb(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // portableLn agrees with Math.log to ~1e-12 relative (SamplingSpec),
    // and every per-token value here sits far from a micro-nat floor
    // boundary, so the quantized sums must agree exactly
    val d1 = Seq("the", "cat", "sat", "on", "the", "mat").map(lpMicro).sum
    assert(out(1L) == ((6L, d1, d1.toDouble / 6e6)), s"${out(1L)} vs $d1")
    val d4 = lpMicro("zyzzyva")
    assert(out(4L) == ((1L, d4, d4.toDouble / 1e6)))
    assert(!out.contains(3L))
    // ranking sanity: the rare-token doc scores strictly lower
    assert(out(4L)._3 < out(1L)._3)
  }

  test("bigramLogProb: micro-nat sums match a driver-side recompute; word salad drops below fluent text") {
    import spark.implicits._
    // doc2 is doc1's tokens SHUFFLED: identical unigram stats (lmLogProb
    // scores them equal) but rare bigrams — the bigram LM must separate
    // them, which is the whole reason this rung exists
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the"),
      (3L, "the cat sat on the mat"),
      (4L, "solo"), // < 2 tokens -> no bigrams -> drops
      (5L, "   ")).toDF("doc_id", "text")
    val corpusBg = Seq(
      Seq("the cat", "cat sat", "sat on", "on the", "the mat"),
      Seq("mat the", "the on", "on sat", "sat cat", "cat the"),
      Seq("the cat", "cat sat", "sat on", "on the", "the mat"))
    val c = corpusBg.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = corpusBg.flatten.size.toLong
    val v = c.size.toLong
    def lpMicro(b: String): Long =
      math.floor((math.log((c(b) + 1).toDouble) -
        math.log((n + v).toDouble)) * 1e6).toLong
    val out = graft.text.TextOps.bigramLogProb(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val d1 = corpusBg.head.map(lpMicro).sum
    assert(out(1L) == ((5L, d1, d1.toDouble / 5e6)), s"${out(1L)} vs $d1")
    val d2 = corpusBg(1).map(lpMicro).sum
    assert(out(2L) == ((5L, d2, d2.toDouble / 5e6)))
    assert(!out.contains(4L) && !out.contains(5L))
    // the separation claim: shuffled doc scores strictly lower, while the
    // unigram LM cannot tell them apart
    assert(out(2L)._3 < out(1L)._3)
    val uni = graft.text.TextOps.lmLogProb(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(uni(1L) == uni(2L))
  }

  test("rrfFuse: integer micro scores, list-membership counting, deterministic ties") {
    import spark.implicits._
    // two rankings over one query: candidate 10 is rank 1 in both
    // (2 * ⌊1e6/61⌋); 20 is rank 2 in A only; 30 is rank 2 in B and
    // rank 3 in A; 40 is rank 3 in B only. Fused: 10 first, then 30
    // (two mid ranks beat one rank-2), then 20/40 tie on ⌊1e6/62⌋ +
    // nothing vs ⌊1e6/63⌋... hand-check below.
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("q_id", "neighbor_id", "rank")
    val b = Seq((1L, 10L, 1), (1L, 30L, 2), (1L, 40L, 3))
      .toDF("q_id", "neighbor_id", "rank")
    def m(r: Int): Long = 1000000L / (60L + r)
    val out = graft.text.Similarity.rrfFuse(Seq(a, b), k = 4)
      .collect().map(r => (r.getAs[Int]("fused_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("n_lists"),
        r.getAs[Long]("rrf_micro"))).sortBy(_._1)
    val expected = Seq(
      (10L, 2L, m(1) + m(1)), (30L, 2L, m(3) + m(2)),
      (20L, 1L, m(2)), (40L, 1L, m(3)))
      .sortBy { case (id, _, s) => (-s, id) }
      .zipWithIndex.map { case ((id, nl, s), i) => (i + 1, id, nl, s) }
    assert(out.toSeq == expected, s"${out.toSeq} vs $expected")
  }

  test("ccnetBuckets: terciles match a driver-side recompute; ties stay together; langs independent") {
    import spark.implicits._
    // lang xx: six docs of strictly decreasing fluency (more of the very
    // common token 'a' scores higher); lang yy: three IDENTICAL docs — one
    // score group straddling every boundary lands whole in 'head'; a
    // whitespace-only doc drops (no tokens)
    val rows = Seq(
      (1L, "xx", "a a a a a a"), (2L, "xx", "a a a a a r1"),
      (3L, "xx", "a a a a r2 r3"), (4L, "xx", "a a a r4 r5 r6"),
      (5L, "xx", "a a r7 r8 r9 r10"), (6L, "xx", "a r11 r12 r13 r14 r15"),
      (7L, "yy", "a a b b"), (8L, "yy", "a a b b"), (9L, "yy", "a a b b"),
      (10L, "yy", "   "))
    val docs = rows.toDF("doc_id", "lang", "text")
    // full independent recompute of the operator's integer pipeline
    // (Math.log stands in for portableLn — agreement ~1e-12, and no
    // per-token value here sits near a micro-nat floor boundary)
    val toks = rows.filter(_._3.trim.nonEmpty)
      .map(r => (r._1, r._2, r._3.trim.toLowerCase.split("\\s+").toSeq))
    val c = toks.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong)
    val n = toks.map(_._3.size.toLong).sum
    val v = c.size.toLong
    def lpMicro(t: String): Long = math.floor(
      (math.log((c(t) + 1).toDouble) - math.log((n + v).toDouble)) * 1e6).toLong
    val perDoc = toks.map { case (_, lang, ts) =>
      (lang, math.floorDiv(ts.map(lpMicro).sum, ts.size * 1000L), ts.size.toLong)
    }
    val expected = perDoc.groupBy(d => (d._1, d._2))
      .map { case ((lang, q), ds) => (lang, q, ds.size.toLong, ds.map(_._3).sum) }
      .toSeq.groupBy(_._1).flatMap { case (lang, hs) =>
        val sorted = hs.sortBy(-_._2)
        val tot = sorted.map(_._3).sum
        val cums = sorted.scanLeft(0L)(_ + _._3)
        sorted.zip(cums).map { case ((_, q, nd, tk), before) =>
          val b = if (before * 3 < tot) "head"
            else if (before * 3 < tot * 2) "middle" else "tail"
          (lang, b, q, nd, tk)
        }
      }.groupBy(x => (x._1, x._2)).map { case ((lang, b), g) =>
        (lang, b) -> ((g.map(_._4).sum, g.map(_._5).sum,
          g.map(_._3).min, g.map(_._3).max))
      }
    val out = graft.text.TextOps.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == expected, s"$out\nvs\n$expected")
    // structural pins: xx splits 2/2/2 (distinct scores), yy is one tied
    // head group of all 3 docs, the whitespace doc appears nowhere
    assert(out(("xx", "head"))._1 == 2L)
    assert(out(("xx", "middle"))._1 == 2L)
    assert(out(("xx", "tail"))._1 == 2L)
    assert(out(("yy", "head"))._1 == 3L)
    assert(!out.contains(("yy", "middle")) && !out.contains(("yy", "tail")))
    assert(out.values.map(_._1).sum == 9L)
    // score ranges are disjoint and ordered head > middle > tail
    assert(out(("xx", "head"))._3 > out(("xx", "middle"))._4)
    assert(out(("xx", "middle"))._3 > out(("xx", "tail"))._4)
  }

  test("assignSplit rejects duplicate cut bounds (unreachable labels)") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("id")
    val h = graft.text.Dedup.portableHash(col("id").cast("string"))
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.assignSplit(df, h,
        cuts = Seq(900 -> "train", 900 -> "val"))
    }
    // strictly ascending still accepted
    assert(graft.ops.Sampling.assignSplit(df, h,
      cuts = Seq(900 -> "train", 950 -> "val")).count() == 2)
  }

  test("quantizeInt8 rejects inputs carrying its reserved output columns") {
    import spark.implicits._
    val clash = Seq((1L, Array(1.0f), 2.0)).toDF("vec_id", "embedding", "scale")
    val e = intercept[IllegalArgumentException] {
      graft.text.Embeddings.quantizeInt8(clash)
    }
    assert(e.getMessage.contains("scale"))
  }

  test("packSequences: per-shard offsets are contiguous and spans flags are exact") {
    val packed = graft.text.TextOps.packSequences(
      spark.read.parquet(s"$sf/documents.parquet"), "text", budget = 512)
      .collect()
      .groupBy(_.getAs[String]("source"))
    assert(packed.nonEmpty)
    packed.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("doc_id"))
      var expectOffset = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("start_offset") == expectOffset,
          s"offsets must concatenate contiguously: $r")
        val n = r.getAs[Int]("n_tokens")
        val cs = r.getAs[Long]("chunk_start")
        val ce = r.getAs[Long]("chunk_end")
        assert(cs == expectOffset / 512)
        if (n > 0) assert(ce == (expectOffset + n - 1) / 512) else assert(ce == cs)
        assert(r.getAs[Boolean]("spans_chunks") == (cs != ce))
        expectOffset += n
      }
    }
  }

  test("piiScrub: per-class counts and sentinel replacement pin exact redacted content") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail john.doe@corp.io or 555-123-4567, server 10.0.0.1 ok"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.org and dotted 555.123.4567 phone"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.piiScrub(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._1 == 1 && out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(1L)._4 == md5hex("mail <EMAIL> or <PHONE>, server <IP> ok"))
    assert(out(2L) == ((0, 0, 0, md5hex("no pii here at all"))))
    // dotted phone: counted as phone (class order: email scrubs first,
    // then phone — before the 3-group IP pattern could see it)
    assert(out(3L)._1 == 2 && out(3L)._2 == 1 && out(3L)._3 == 0)
    assert(out(3L)._4 == md5hex("two mails <EMAIL> <EMAIL> and dotted <PHONE> phone"))
  }

  test("chunk: full coverage at stride size-overlap; hashes pin exact chunk content") {
    import spark.implicits._
    // 10-token doc, size 4, overlap 1 -> stride 3 -> starts 0,3,6,9
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, ""), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.chunk(docs, "text", size = 4, overlap = 1)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    assert(!out.contains(2L), "zero-token docs yield no chunks")
    val d3 = out(3L).map(r => (r.getAs[Int]("chunk_idx"),
      r.getAs[Int]("tok_start"), r.getAs[Int]("n_chunk_tokens")))
    assert(d3.toSeq == Seq((0, 0, 2)), "short doc -> one short chunk")
    val d1 = out(1L).sortBy(_.getAs[Int]("chunk_idx"))
      .map(r => (r.getAs[Int]("tok_start"), r.getAs[Int]("n_chunk_tokens")))
    assert(d1.toSeq == Seq((0, 4), (3, 4), (6, 4), (9, 1)))
    // content pin: chunk at tok_start=3 is "d e f g"
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectHash = md.digest("d e f g".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = out(1L).find(_.getAs[Int]("tok_start") == 3).get
      .getAs[String]("chunk_hash")
    assert(got == expectHash)
    // every token covered: union of [start, start+n) spans [0, 10)
    val covered = out(1L).flatMap(r => r.getAs[Int]("tok_start") until
      (r.getAs[Int]("tok_start") + r.getAs[Int]("n_chunk_tokens"))).toSet
    assert(covered == (0 until 10).toSet)
    // invalid parameters rejected
    intercept[IllegalArgumentException] {
      graft.text.TextOps.chunk(docs, "text", size = 4, overlap = 4)
    }
  }

  test("Embeddings.quantizeInt8: int8 range respected; dequantize reproduces max_err") {
    val q = graft.text.Embeddings.quantizeInt8(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    val checked = graft.text.ReferenceForms.dequantize(q)
      .select(col("vec_id"),
        expr("array_max(transform(q, v -> abs(cast(v as int))))").as("q_max"),
        expr("""array_max(zip_with(embedding, emb_hat,
                (a, b) -> abs(cast(a as double) - b)))""").as("rt_err"),
        col("max_err"))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      assert(r.getAs[Int]("q_max") <= 127, "quantized values must fit int8")
      // dequantize(q)/scale is the same expression max_err bounds — exact
      assert(r.getAs[Double]("rt_err") == r.getAs[Double]("max_err"))
    }
  }

  test("bpePairs: overlapping in-word pairs, end-of-word sentinel, freq weighting") {
    import spark.implicits._
    // vocab: aa (freq 2 — once per doc), ab (1), aaa (1)
    val docs = Seq((1L, "aa AB!"), (2L, "aa aaa"), (3L, "   ")).toDF("doc_id", "text")
    val out = graft.text.TextOps.bpePairs(docs, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // aa: 'aa'(1)+'a_'(1) per occurrence ×2; aaa: 'aa'×2 (overlap) + 'a_';
    // ab: 'ab' + 'b_'  (case-folded; blank doc contributes nothing)
    assert(out.toMap == Map("aa" -> 4L, "a_" -> 3L, "ab" -> 1L, "b_" -> 1L))
    // deterministic order: count desc, then pair asc ('_' < letters)
    assert(out.map(_._1).toSeq == Seq("aa", "a_", "ab", "b_"))
  }

  test("bpeApply: guarded merges, adjacent occurrences, 2-round composition, tie order") {
    import spark.implicits._
    // vocab: abab freq 3 (case-folded), cd freq 1; blank doc contributes 0
    val docs = Seq((1L, "abab ABab"), (2L, "abab cd"), (3L, " "))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.bpeApply(docs, mergesPerRound = 2,
        topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // round 1 pairs: (a,b)=6, (b,a)=3, (b,_)=3, (c,d)=1, (d,_)=1
    //   -> merges [(a,b), (b,_)] ('_' < 'a' on the y tie)
    //   abab: ONE left-to-right pass merges BOTH ab occurrences;
    //   (b,_) must NOT fire inside the new "ab" symbol (the '|' guard)
    // round 2 pairs: (ab,ab)=3, (ab,_)=3, (c,d)=1, (d,_)=1
    //   -> merges [(ab,_), (ab,ab)]; (ab,_) consumes the tail first so
    //   (ab,ab) finds nothing — order-dependence exercised
    // final: abab -> [ab, ab_] ×3; cd -> [c, d, _] ×1
    assert(out == Seq("ab" -> 3L, "ab_" -> 3L, "_" -> 1L, "c" -> 1L,
      "d" -> 1L))
  }

  test("lineDups: trimmed non-empty lines, dup counts beyond first, char fraction") {
    import spark.implicits._
    // doc 1: lines [a, b, a, a] (blank + whitespace lines drop):
    //   4 lines, 2 dups; chars total 1+1+1+1=4, distinct {a,b}=2 -> 0.5
    // doc 2: all unique; doc 3: all blank -> dropped
    val docs = Seq(
      (1L, "a\nb\n\n  \na\na"), (2L, "xy\nz"), (3L, "\n  \n"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.lineDups(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      1L -> ((4L, 2L, 4L, 0.5)),
      2L -> ((2L, 0L, 3L, 0.0))))
  }

  test("oovStats: top-k vocab with lexical tie-break; empty docs drop") {
    import spark.implicits._
    val docs = Seq((1L, "x x y z"), (2L, "x q"), (3L, "")).toDF("doc_id", "text")
    // freqs: x=3, then ties q/y/z=1 -> vocab(2) = {x, q} (lex smallest tie)
    val out = graft.text.TextOps.oovStats(docs, "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((4L, 2L)), 2L -> ((2L, 0L))))
  }

  test("cooccurPairs: position-window pairs, canonical order, exact lift") {
    import spark.implicits._
    // doc 1 "a b a": d=1 pairs {a,b},{a,b}; d=2 pair {a,a}
    // doc 2 "c a":   d=1 pair {a,c}
    val docs = Seq((1L, "a b a"), (2L, "c a"), (3L, " ")).toDF("doc_id", "text")
    val out = graft.text.TextOps.cooccurPairs(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // T=5 tokens, P=4 pair instances; unigrams a=3, b=1, c=1
    assert(out.keySet == Set(("a", "b"), ("a", "a"), ("a", "c")))
    assert(out(("a", "b"))._1 == 2L && out(("a", "a"))._1 == 1L)
    val (n, nx, ny, lift) = out(("a", "c"))
    assert((n, nx, ny) == ((1L, 3L, 1L)))
    assert(math.abs(lift - (1.0 / 4.0) / ((3.0 / 5.0) * (1.0 / 5.0))) < 1e-12)
  }

  test("tfidfTopTerms: rational idf, k bound, (score, term) tie-break") {
    import spark.implicits._
    // 3 docs; "z" appears in all (df=3), "q" only in doc 1 (df=1)
    val docs = Seq((1L, "z q q"), (2L, "z z z w"), (3L, "z")).toDF("doc_id", "text")
    val out = graft.text.TextOps.tfidfTopTerms(docs, "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1: q tf=2 df=1 -> 2*(4/2)=4.0 ; z tf=1 df=3 -> 1*(4/4)=1.0
    assert(out((1L, "q")) == ((2L, 1L, 4.0)))
    assert(out((1L, "z")) == ((1L, 3L, 1.0)))
    // doc 2: z tf=3 -> 3.0 ; w tf=1 df=1 -> 2.0 (both kept, k=2)
    assert(out((2L, "z")) == ((3L, 3L, 3.0)))
    assert(out((2L, "w")) == ((1L, 1L, 2.0)))
    // doc 3: only z
    assert(out.keySet.count(_._1 == 3L) == 1)
  }

  test("op_embed_quantize: scale saturates int8, error bounded by half a step") {
    val rows = SparkEntry.queries("op_embed_quantize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.take(50).foreach { r =>
      val maxAbs = r.getAs[Double]("max_abs")
      val scale = r.getAs[Double]("scale")
      val maxErr = r.getAs[Double]("max_err")
      assert(math.abs(scale * maxAbs - 127.0) < 1e-9)
      // quantization error can never exceed half a quantization step
      assert(maxErr <= 0.5 / scale * (1 + 1e-12), s"err $maxErr step ${1 / scale}")
    }
  }

  test("gopherRules: each named rule fires on its crafted doc; the clean doc keeps") {
    import spark.implicits._
    val clean = ((0 until 40).map(i => // 40 distinct digit-free words
      "al" + ('a' + i / 26).toChar + ('a' + i % 26).toChar + "pha") ++
      Seq("the", "the", "the", "and", "and", "of")).mkString(" ")
    val docs = Seq(
      1L -> clean,                              // passes every rule
      2L -> "one two three",                    // fail_short
      3L -> Array.fill(30)("spam").mkString(" "),       // fail_repeat
      4L -> (1 to 30).map(_ => "12345").mkString(" "),  // fail_digit (+repeat)
      5L -> Array.tabulate(30)(i => s"superlongword$i" * 2).mkString(" ")
    ).toDF("doc_id", "text")                    // 5: fail_word_len (>10 chars)
    val out = graft.text.TextOps.gopherRules(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"),
      out(1L).toString) // the clean doc survives every rule
    assert(!out(1L).getAs[Boolean]("fail_repeat"))
    assert(out(2L).getAs[Boolean]("fail_short") && !out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Boolean]("fail_repeat") && !out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Boolean]("fail_digit"))
    assert(out(5L).getAs[Boolean]("fail_word_len"))
    // fixture sanity: both outcomes occur on real documents
    val real = SparkEntry.queries("op_gopher_rules")(spark, sf)
      .groupBy("keep").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(real.keySet == Set(true, false), s"degenerate keep split: $real")
  }

  test("vocabCoverage: ranks, counts, and cumulative shares on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(1L -> "a a a b b c", 2L -> "b a").toDF("doc_id", "text")
    val out = graft.text.TextOps.vocabCoverage(docs, topN = 2)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(out.length == 2)
    assert(out(0).getAs[String]("token") == "a" && out(0).getAs[Long]("cnt") == 4L)
    assert(out(0).getAs[Long]("cum_cnt") == 4L)
    assert(math.abs(out(0).getAs[Double]("cum_share") - 0.5) < 1e-15)
    assert(out(1).getAs[String]("token") == "b" && out(1).getAs[Long]("cnt") == 3L)
    assert(math.abs(out(1).getAs[Double]("cum_share") - 0.875) < 1e-15)
  }

  test("hardNegatives: never same-label, exact top-5 vs a driver-side recompute") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Int]("label")))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { // index order matches the fused native loop
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val labels = emb.map(e => e._1 -> e._3).toMap
    val out = SparkEntry.queries("op_hard_negatives")(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos")))
    assert(out.nonEmpty)
    out.foreach { case (q, _, n, _) =>
      assert(labels(q) != labels(n), s"same-label pair $q -> $n") }
    out.groupBy(_._1).foreach { case (q, rows) =>
      val qv = emb.find(_._1 == q).get
      val expected = emb.filter(_._3 != qv._3)
        .map(e => (e._1, cos(qv._2, e._2)))
        .sortBy { case (id, c) => (-c, id) }.take(5)
      val got = rows.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got.map(_._1).toSeq == expected.map(_._1).toSeq, s"query $q ids")
      got.zip(expected).foreach { case ((_, gc), (_, ec)) =>
        assert(math.abs(gc - ec) < 1e-12, s"query $q cos $gc vs $ec") }
    }
  }

  test("standardize: z matches exact driver-side stats; constant dims yield NULL") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val qs = emb.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 10000)) }
    val dims = qs.head._2.length
    val stats = (0 until dims).map { d =>
      val col = qs.map(_._2(d))
      val n = col.length.toDouble
      val s1 = col.map(BigInt(_)).sum
      val s2 = col.map(v => BigInt(v) * BigInt(v)).sum
      val mean = s1.toDouble / n
      d -> ((mean, math.sqrt(s2.toDouble / n - mean * mean)))
    }.toMap
    val out = SparkEntry.queries("op_embed_norm")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, d, q) = (r.getAs[Long]("vec_id"), r.getAs[Int]("dim"),
        r.getAs[Long]("q"))
      assert(id % 25 == 0)
      assert(q == qs.find(_._1 == id).get._2(d), s"quantized $id/$d")
      val (mean, sd) = stats(d)
      assert(math.abs(r.getAs[Double]("z") - (q - mean) / sd) < 1e-12)
    }
    // a constant dimension has no z (0/0 guard), never a fake zero
    val const = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val z = graft.text.Embeddings.standardize(const, const)
      .filter(org.apache.spark.sql.functions.col("dim") === 0).collect()
    assert(z.forall(_.isNullAt(3)), "constant dim should yield NULL z")
  }

  test("datasetCard: totals, languages, exact-dup count, mean tokens") {
    import spark.implicits._
    // 4 docs: two share identical text (1 dup), two languages
    val docs = Seq(
      (1L, "hello world", "en"), (2L, "hello world", "en"),
      (3L, "bonjour", "fr"), (4L, "one two three", "en"))
      .toDF("doc_id", "text", "lang")
    val r = graft.text.TextOps.datasetCard(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_tokens") == 8L)   // 2 + 2 + 1 + 3
    assert(r.getAs[Long]("n_chars") == (11 + 11 + 7 + 13).toLong)
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[Long]("n_dup_docs") == 1L)
    assert(r.getAs[Double]("mean_doc_tokens") == 2.0)
  }

  test("c4Rules: kept-line predicate, every marker flag, keep conjunction") {
    import spark.implicits._
    val docs = Seq(
      // 3 kept lines (the 2-word "short one." drops), no markers -> keep
      (1L, "this sentence has at least five words.\nshort one.\n" +
        "another full sentence with enough words here!\n" +
        "a third proper sentence with many words today?"),
      // no line terminated -> 0 kept -> fail_few_lines
      (2L, "no punctuation line here at all\nsecond line also not terminated"),
      // 3 kept lines but a javascript marker -> fail_js only
      (3L, "enable javascript to view this content now please ok.\n" +
        "good sentence with enough words to pass muster!\n" +
        "third long sentence carrying plenty of words along?"),
      // lorem ipsum marker
      (4L, "lorem ipsum dolor sit amet something else.\n" +
        "this sentence has at least five words!\n" +
        "one more full sentence with ample words included?"),
      // brace marker; the brace line itself is not kept (ends in '}')
      (5L, "function f() { return 1; }\n" +
        "this sentence has at least five words.\n" +
        "another complete sentence with sufficient words there!\n" +
        "final proper sentence with enough words present?"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.c4Rules(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4), r.getBoolean(5),
          r.getBoolean(6), r.getBoolean(7), r.getBoolean(8)))).toMap
    //                 n_lines n_kept few   lorem  js     brace  keep
    assert(out(1L) == ((4L, 3L, false, false, false, false, true)))
    assert(out(2L) == ((2L, 0L, true, false, false, false, false)))
    assert(out(3L) == ((3L, 3L, false, false, true, false, false)))
    assert(out(4L) == ((3L, 3L, false, true, false, false, false)))
    assert(out(5L) == ((4L, 3L, false, false, false, true, false)))
    // kept_char_frac: doc 1 drops exactly the 10-char "short one."
    val r1 = graft.text.TextOps.c4Rules(docs)
      .filter(col("doc_id") === 1L).collect().head
    val total = "this sentence has at least five words.".length +
      "short one.".length +
      "another full sentence with enough words here!".length +
      "a third proper sentence with many words today?".length
    assert(r1.getAs[Double]("kept_char_frac") ==
      (total - 10).toDouble / total)
  }

  test("charDiversity: exact char histogram stats and Simpson index") {
    import spark.implicits._
    val docs = Seq((1L, "aab"), (2L, "zzzz"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.charDiversity(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // "aab": counts {a:2, b:1} -> sum_sq 5, repeat_prob 5/9
    assert(out == Map(
      1L -> ((3L, 2L, 2L, 5.0 / 9.0)),
      2L -> ((4L, 1L, 4L, 1.0))))
  }

  test("charDiversity: native kernel equals the HOF formulation (incl. unicode, r18 pin)") {
    import spark.implicits._
    // multi-byte codepoints (é 2 bytes, 中 3 bytes, 𝄞 4 bytes — a
    // surrogate PAIR in UTF-16, one codepoint here), repeated ASCII,
    // empty and NULL text: the native one-pass kernel must reproduce the
    // split-empty-regex HOF row-for-row
    val docs = Seq((1L, "aab"), (2L, "héllo héllo"), (3L, "中中文𝄞𝄞𝄞"),
      (4L, ""), (5L, null.asInstanceOf[String]), (6L, "x"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    val native = rows(graft.text.TextOps.charDiversity(docs))
    val hof = rows(graft.text.ReferenceForms.charDiversityHof(docs))
    assert(native == hof, s"native=$native hof=$hof")
    assert(native.map(_._1) == Seq(1L, 2L, 3L, 6L)) // empty+null dropped
    // spot: "中中文𝄞𝄞𝄞" = counts {中:2, 文:1, 𝄞:3} -> n=6, d=3, top=3, ss=14
    assert(native.find(_._1 == 3L).get == ((3L, 6L, 3L, 3L, 14.0 / 36.0)))
  }

  test("linearScore: md5-60 bucket weights recompute exactly; empty doc scores 0") {
    import spark.implicits._
    def md560(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def w(t: String): Long = (md560(t) % 64) * 37 % 21 - 10
    val docs = Seq((1L, "alpha beta gamma"), (2L, "Alpha  ALPHA"), (3L, " "))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.linearScore(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val s1 = w("alpha") + w("beta") + w("gamma")
    val s2 = 2 * w("alpha") // lower-cased before hashing
    assert(out == Map(
      1L -> ((3L, s1, s1 > 0)),
      2L -> ((2L, s2, s2 > 0)),
      3L -> ((0L, 0L, false))))
  }

  test("linearScore: a table-driven weight vector changes scores and labels; plan stays narrow") {
    import spark.implicits._
    def md560(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    def scoreWith(wfn: Long => Long) = {
      val tbl = spark.range(64).select(
        col("id").cast("int").as("bucket"),
        udf(wfn).apply(col("id")).cast("long").as("weight"))
      graft.text.TextOps.linearScore(docs, weights = Some(tbl))
        .collect().map(r => (r.getLong(2), r.getBoolean(3))).head
    }
    val allPlus = scoreWith(_ => 2L)      // every bucket +2 -> score 6, positive
    val allMinus = scoreWith(_ => -2L)    // every bucket -2 -> score -6, negative
    assert(allPlus == ((6L, true)) && allMinus == ((-6L, false)))
    // a single targeted bucket: only alpha's slot weighted (beta/gamma may
    // collide into it — the hashing trick's documented trade — so the
    // expected score counts every token landing in that slot)
    val alphaBucket = (md560("alpha") % 64).toInt
    val inSlot = Seq("alpha", "beta", "gamma")
      .count(t => (md560(t) % 64).toInt == alphaBucket)
    val one = scoreWith(b => if (b == alphaBucket) 5L else 0L)
    assert(one == ((5L * inSlot, true)))
    // the trained table folds into the expression: no join, no exchange —
    // same one-pass narrow plan as the default stand-in
    val tbl = spark.range(64).select(col("id").cast("int").as("bucket"),
      lit(1L).as("weight"))
    val plan = graft.text.TextOps.linearScore(docs, weights = Some(tbl))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan.take(800))
  }

  test("tokFertility: subword-per-word ratio recomputes exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "don't split-this up", "en"),   // 3 words, 5 subwords
      (2L, "plain words here", "en"),      // 3 words, 3 subwords
      (3L, "a+b=c", "de"))                 // 1 word, 2 subwords (a, b, c? no: a,b,c -> 3)
      .toDF("doc_id", "text", "lang")
    val out = graft.text.TextOps.tokFertility(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("en") == ((2L, 6L, 8L, 8.0 / 6.0)), s"en: $out")
    assert(out("de")._2 == 1L && out("de")._3 == 3L, s"de: $out")
  }

  test("corpusDrift: per-segment shares and means recompute; mass conserves") {
    import spark.implicits._
    val hist = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "x y z w"))
      .toDF("id", "text")                       // 2-token x2 (bucket 2), 4-token (bucket 3)
    val batch = Seq((4L, "p q r s"), (5L, "m n o t"))
      .toDF("id", "text")                       // both 4-token (bucket 3)
    val seg = (t: org.apache.spark.sql.Column) =>
      length(bin(graft.text.TextOps.tokenCount(t).cast("long")))
        .cast("string")
    val out = graft.text.TextOps.corpusDrift(hist, batch, segmentOf = seg)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(7)))).toMap
    assert(out("2") == ((2L, 0L, 666666L, 0L, -666666L)), s"b2: $out")
    assert(out("3") == ((1L, 2L, 333333L, 1000000L, 666667L)), s"b3: $out")
    assert(out.values.map(_._1).sum == 3L && out.values.map(_._2).sum == 2L)
  }

  test("vocabShift: share deltas recompute exactly; top-k by |delta| with token tie-break") {
    import spark.implicits._
    val hist = Seq((1L, "aa aa bb"), (2L, "aa cc")).toDF("doc_id", "text")
    //   hist: aa 3/5 = 600000, bb 1/5 = 200000, cc 1/5 = 200000
    val batch = Seq((3L, "bb bb dd")).toDF("doc_id", "text")
    //   batch: bb 2/3 = 666666, dd 1/3 = 333333
    val out = graft.text.TextOps.vocabShift(hist, batch, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))))
    val m = out.toMap
    assert(m("aa") == ((3L, 0L, 600000L, 0L, -600000L)))
    assert(m("bb") == ((1L, 2L, 200000L, 666666L, 466666L)))
    assert(m("cc") == ((1L, 0L, 200000L, 0L, -200000L)))
    assert(m("dd") == ((0L, 1L, 0L, 333333L, 333333L)))
    // ordered by |shift| desc, token asc
    assert(out.map(_._1).toSeq == Seq("aa", "bb", "dd", "cc"))
    // k truncates
    assert(graft.text.TextOps.vocabShift(hist, batch, k = 2).count() == 2)
  }

  test("lengthHist: log2 buckets with empty docs in bucket 0; exact masses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "en"),            // 1 token  -> bucket 1
      (2L, "a b c", "en"),        // 3 tokens -> bucket 2
      (3L, "a b c d", "en"),      // 4 tokens -> bucket 3
      (4L, "", "en"),             // 0 tokens -> bucket 0
      (5L, "a b", "de"))          // 2 tokens -> bucket 2
      .toDF("doc_id", "text", "lang")
    val out = graft.text.TextOps.lengthHist(docs)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(("en", 1)) == ((1L, 1L, 1L, 1L)))
    assert(out(("en", 2)) == ((1L, 3L, 3L, 3L)))
    assert(out(("en", 3)) == ((1L, 4L, 4L, 4L)))
    assert(out(("en", 0)) == ((1L, 0L, 0L, 0L)))
    assert(out(("de", 2)) == ((1L, 2L, 2L, 2L)))
    assert(out.size == 5)
  }

  test("qualityFloor: per-lang P25 gate matches the sketch quantile; totals conserve") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = SparkEntry.queries("op_quality_floor")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == byLang.keySet)
    out.foreach { case (lang, (nDocs, nKept, nTok, keptTok, floor)) =>
      assert(nDocs == byLang(lang))
      assert(nKept <= nDocs && keptTok <= nTok)
      // the gate keeps AT LEAST the top three quarters (P25 floor)
      assert(nKept * 4 >= nDocs * 2, s"$lang keeps too little: $nKept/$nDocs")
      assert(floor >= 0L)
    }
  }

  test("dsirWeights: exact bucket-count ratios recompute; dsirSelect takes top-n") {
    import spark.implicits._
    def bkt(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 2048
    }
    val rows = Seq(
      (1L, "tgt tgt alpha", true),
      (2L, "tgt beta", true),
      (3L, "alpha beta gamma", false),
      (4L, "tgt tgt tgt", false),
      (5L, "", false)) // no tokens -> no feature evidence -> dropped
    val docs = rows.toDF("doc_id", "text", "is_t")
    val got = graft.text.TextOps.dsirWeights(docs, "text", col("is_t"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // driver-side mirror of the hashed bucket model
    val toks = rows.map { case (id, t, is) =>
      (id, if (t.trim.isEmpty) Seq.empty[String]
           else t.trim.toLowerCase.split("\\s+").toSeq, is) }
    val tN = toks.filter(_._3).flatMap(_._2).groupBy(bkt)
      .map { case (b, ts) => b -> ts.size.toLong }
    val pN = toks.flatMap(_._2).groupBy(bkt)
      .map { case (b, ts) => b -> ts.size.toLong }
    toks.filter(_._2.nonEmpty).foreach { case (id, ts, _) =>
      val t = ts.map(tok => tN.getOrElse(bkt(tok), 0L)).sum
      val p = ts.map(tok => pN(bkt(tok))).sum
      assert(got(id) == ((ts.size.toLong, t, p, t.toDouble / p)), s"doc $id")
    }
    assert(!got.contains(5L))
    // doc 4 (pure target-heavy token) outranks doc 3 (no target tokens)
    assert(got(4L)._4 > got(3L)._4)
    val sel = graft.text.TextOps.dsirSelect(docs, "text", col("is_t"), n = 2)
      .collect().map(_.getLong(0)).toSeq
    val want = got.toSeq.sortBy { case (id, (_, _, _, w)) => (-w, id) }
      .take(2).map(_._1)
    assert(sel == want)
  }

  test("dupNgramFrac: repeated trigrams counted exactly; short docs drop; narrow plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b"),   // 6 trigrams: abc bca cab abc bca cab -> 3 distinct
      (2L, "x y z w"),            // 2 trigrams, both distinct
      (3L, "p q"))                // < 3 tokens -> dropped
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.dupNgramFrac(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((6L, 3L, 0.5)),
      2L -> ((2L, 2L, 0.0))))
    val plan = graft.text.TextOps.dupNgramFrac(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("cdcChunks: duplicates chunk identically; a suffix edit shares all but the tail chunk") {
    import spark.implicits._
    val base = (1 to 64).map(i => s"tok$i").mkString(" ")
    def stats(rows: Seq[(Long, String)]) = graft.text.TextOps
      .cdcChunks(rows.toDF("doc_id", "text"), w = 4, maskBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).head
    // an exact duplicate: every chunk of doc 1 reappears — dup count ==
    // one copy's chunk count, and mean·total == window total both runs
    val one = stats(Seq((1L, base)))
    val dup = stats(Seq((1L, base), (2L, base)))
    assert(dup._1 == 2 * one._1 && dup._3 == one._1)
    assert(math.round(one._1 * one._4) == 61) // 64 tokens, w=4 -> 61 windows
    // a SUFFIX edit: boundaries are position-local, so every chunk of the
    // original except (at most) its unterminated tail chunk recurs in the
    // edited copy — the insertion-survival property fixed-size blocks lack
    val edited = stats(Seq((1L, base), (2L, base + " extra trailing tokens here")))
    assert(edited._3 >= one._1 - 1,
      s"expected >= ${one._1 - 1} shared chunks, got ${edited._3}")
    // docs shorter than the window contribute nothing (no windows, no
    // chunks) — and an all-short corpus yields an empty-input aggregate
    val short = graft.text.TextOps
      .cdcChunks(Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text"),
        w = 4, maskBits = 2)
      .collect().head
    assert(short.getLong(0) == 0L && short.getLong(1) == 0L)
  }

  test("perceptronStep: misclassified docs update exactly their buckets; train feeds apply") {
    import spark.implicits._
    def md560(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def bkt(t: String): Int = (md560(t) % 64).toInt
    def w0(b: Int): Long = (b.toLong * 37 % 21) - 10
    val docs = Seq(
      (2L, 1L, "alpha beta"),       // even -> +1
      (3L, -1L, "gamma gamma"),     // odd  -> -1
      (4L, 1L, ""))                 // empty: score 0 -> misclassified, no tokens
      .toDF("doc_id", "label", "text")
    val out = graft.text.TextOps.perceptronStep(docs, "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 64)
    // recompute the expected gradient by hand
    val grad = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for ((lbl, toks) <- Seq((1L, Seq("alpha", "beta")),
        (-1L, Seq("gamma", "gamma")))) {
      val score = toks.map(t => w0(bkt(t))).sum
      if (lbl * score <= 0) toks.foreach(t => grad(bkt(t)) += lbl)
    }
    out.foreach { case (b, (wOld, g, wNew)) =>
      assert(wOld == w0(b), s"bucket $b w_old")
      assert(g == grad(b), s"bucket $b grad")
      assert(wNew == wOld + g, s"bucket $b w_new")
    }
    // something must actually have been misclassified under the stand-in
    assert(out.values.exists(_._2 != 0L), "degenerate fixture: no updates")
    // the closure: the emitted table IS a weights frame for linearScore
    val next = graft.text.TextOps.perceptronStep(docs, "label")
      .select(col("bucket"), col("w_new").as("weight"))
    val rescored = graft.text.TextOps.linearScore(
      docs.select("doc_id", "text"), weights = Some(next))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = Seq(2L -> Seq("alpha", "beta"), 3L -> Seq("gamma", "gamma"),
      4L -> Seq.empty[String]).toMap.map { case (id, toks) =>
      id -> toks.map(t => w0(bkt(t)) + grad(bkt(t))).sum }
    assert(rescored == expected)
  }

  test("ngramLangId: profiles separate planted languages; unknown text maps to und") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "aa", "the quick brown fox naps under the old dog tree"),
      (3L, "bb", "el zorro marron salta sobre el perro perezoso otra vez"),
      (4L, "bb", "el zorro marron duerme bajo el arbol del perro"),
      (5L, "aa", "xq")) // < 3 chars -> no trigrams -> und
      .toDF("doc_id", "lang", "text")
    val out = graft.text.TextOps.ngramLangId(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(out(1L)._1 == "aa" && out(2L)._1 == "aa")
    assert(out(3L)._1 == "bb" && out(4L)._1 == "bb")
    assert(out(5L) == (("und", 0L)))
    assert(out(1L)._2 > 0)
  }

  test("op_ngram_lang_id: planted-marker corpus classifies every language correctly") {
    val rows = SparkEntry.queries("op_ngram_lang_id")(spark, sf)
      .collect().map(r => (r.getString(1), r.getString(2)))
    val acc = rows.count { case (t, p) => t == p }.toDouble / rows.length
    assert(acc > 0.95, s"accuracy $acc over ${rows.length} docs")
  }

  test("chi2Terms: perfectly discriminative tokens rank first; exact value recompute") {
    import spark.implicits._
    // 12 docs, two classes; 'zebra' appears in ALL aa docs and NO bb docs
    // (perfect discriminator); 'shared' in 10 of 12 docs (inside the
    // [minDf, n-minDf] band); fillerN tokens have df=1 (excluded)
    val docs = (1 to 6).map(i => (i.toLong, "aa", "zebra shared filler" + i)) ++
      (7 to 10).map(i => (i.toLong, "bb", "yak shared filler" + i)) ++
      (11 to 12).map(i => (i.toLong, "bb", "yak filler" + i))
    val df = docs.toDF("doc_id", "lang", "text")
    val out = graft.text.TextOps.chi2Terms(df, k = 3, minDf = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    // zebra in aa: a=6 b=0 c=0 d=6 -> chi2 = 12*36^2/(6*6*6*6) = 12
    assert(out(("aa", 1)) == (("zebra", 6L, 12.0)))
    assert(out(("bb", 1)) == (("yak", 6L, 12.0)))
    // shared in aa: a=6 b=0 c=4 d=2 -> det=12, chi2 = 12*144/(36*20) = 2.4
    assert(out(("aa", 2)) == (("shared", 6L, 2.4)))
    // fillerN tokens (df=1 < minDf) are excluded entirely
    assert(!out.contains(("aa", 3)))
    // every chi2 is finite (the df margins are guarded)
    assert(out.values.forall(v => !v._3.isNaN && !v._3.isInfinite))
  }

  test("op_chi2_terms: each planted marker token tops its own language") {
    val rows = SparkEntry.queries("op_chi2_terms")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val top = rows.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val markers = Map(
      "en" -> "the quick brown fox and the lazy dog",
      "es" -> "el rapido zorro marron y el perro perezoso",
      "de" -> "der schnelle braune fuchs und der faule hund",
      "fr" -> "le renard brun rapide et le chien paresseux",
      "zh" -> "kuai su de zong se hu li he lan se gou")
      .view.mapValues(_.split(" ").toSet).toMap
    markers.foreach { case (lang, ms) =>
      assert(ms.contains(top(lang)),
        s"$lang top term ${top(lang)} should be a planted marker")
    }
  }

  test("randProj: signed integer projection recomputes from the quantized vector") {
    import spark.implicits._
    val vec = Seq(0.5f, -1.0f, 0.25f, 0.1f)
    val docs = Seq((7L, vec), (8L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.text.Embeddings.randProj(docs, outDims = 4, inDims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // zero vector drops (no max-abs scale); 4 dims emitted for vec 7
    assert(out.keys.map(_._1).toSet == Set(7L))
    assert(out.size == 4)
    val scale = 127.0 / 1.0
    val q = vec.map(x => BigDecimal(x.toDouble * scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    def sign(i: Int, j: Int): Long =
      if ((2654435761L * i + 1103515245L * j) % 1000000007L % 2 == 0) 1L
      else -1L
    (0 until 4).foreach { j =>
      val expect = q.zipWithIndex.map { case (qv, i) => qv * sign(i, j) }.sum
      assert(out((7L, j.toLong)) == expect, s"dim $j")
    }
    // signs are genuinely mixed (the hash does not collapse to parity)
    val signs = for (i <- 0 until 4; j <- 0 until 4) yield sign(i, j)
    assert(signs.toSet == Set(1L, -1L))
  }

  test("scoreAuc: hand-computed tie-aware AUC; clamping; degenerate labels NULL") {
    import spark.implicits._
    import graft.text.TextOps
    // positives score {3, 1}, negatives {1, 0}: pairs (3,1)=1, (3,0)=1,
    // (1,1)=tie ½, (1,0)=1 -> AUC 3.5/4 = 0.875, num2 = 7
    val scored = Seq((1L, 3L), (2L, 1L), (3L, 1L), (4L, 0L))
      .toDF("doc_id", "score")
    val labels = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("doc_id", "keep")
    val r = TextOps.scoreAuc(scored, labels).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 7L)), r.toString)
    assert(math.abs(r.getDouble(3) - 0.875) < 1e-15)
    // a perfect ranker scores 1.0
    val perfect = Seq((1L, true), (2L, false), (3L, false), (4L, false))
      .toDF("doc_id", "keep")
    assert(TextOps.scoreAuc(Seq((1L, 9L), (2L, 5L), (3L, 2L), (4L, 0L))
      .toDF("doc_id", "score"), perfect).head().getDouble(3) == 1.0)
    // out-of-range scores clamp into the edge buckets (become ties there)
    val clamped = TextOps.scoreAuc(
      Seq((1L, 900L), (2L, 700L), (3L, 600L), (4L, -800L))
        .toDF("doc_id", "score"), labels).head()
    // pos {900->499, 700->499}, neg {600->499, -800->-500}:
    // vs the 499-tied neg both pos tie (½ each), vs -500 both win -> 3/4
    assert(math.abs(clamped.getDouble(3) - 0.75) < 1e-15, clamped.toString)
    // degenerate: all labels positive -> NULL auc, counts still reported
    val allPos = Seq((1L, true), (2L, true), (3L, true), (4L, true))
      .toDF("doc_id", "keep")
    val d = TextOps.scoreAuc(scored, allPos).head()
    assert(d.getLong(0) == 4L && d.getLong(1) == 0L && d.isNullAt(3))
  }

  test("tokenEntropy: micro-nat numerator matches a driver-side recompute") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"), // constant doc -> H = 0 (within quantization)
      (2L, "a b c d"), // uniform over 4 -> H = ln 4
      (3L, "a a b c"), // mixed: ln 4 - (2 ln 2)/4
      (4L, "   ")) // whitespace-only -> drops
      .toDF("doc_id", "text")
    def lnMicro(m: Long): Long = math.floor(math.log(m.toDouble) * 1e6).toLong
    def ent(cs: Seq[Long]): Double = {
      val n = cs.sum
      (n * lnMicro(n) - cs.map(c => c * lnMicro(c)).sum).toDouble / (n * 1e6)
    }
    val out = graft.text.TextOps.tokenEntropy(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // portableLn agrees with Math.log to ~1e-12 and no value here sits on
    // a micro-nat floor boundary, so the quantized numerators match exactly
    assert(out(1L) == ((4L, 1L, ent(Seq(4L)))), out(1L).toString)
    assert(out(2L) == ((4L, 4L, ent(Seq(1L, 1L, 1L, 1L)))))
    assert(out(3L) == ((4L, 3L, ent(Seq(2L, 1L, 1L)))))
    assert(!out.contains(4L))
    // the constant doc's entropy is 0 within quantization (floor may land
    // a hair below), the uniform doc's is ln 4 within 2 micro-nats
    assert(math.abs(out(1L)._3) <= 2e-6)
    assert(math.abs(out(2L)._3 - math.log(4.0)) <= 2e-6)
    // ordering: constant < mixed < uniform
    assert(out(1L)._3 < out(3L)._3 && out(3L)._3 < out(2L)._3)
  }

  test("zipfSlope: integer OLS matches a driver-side recompute; degenerate lang NULL") {
    import spark.implicits._
    // lang xx: counts 8/4/2/1 over ranks 1..4 -> a clean power law of
    // exponent log2(e)... slope = -ln2/ln(rank-step) piecewise; recompute
    // exactly below. lang yy: one distinct token -> zero-variance x -> NULL
    val docs = Seq(
      (1L, "xx", Seq.fill(8)("t1").mkString(" ")),
      (2L, "xx", Seq.fill(4)("t2").mkString(" ")),
      (3L, "xx", Seq.fill(2)("t3").mkString(" ")),
      (4L, "xx", "t4"),
      (5L, "yy", "solo solo solo")).toDF("doc_id", "lang", "text")
    def lnMilli(m: Long): Long = math.floor(math.log(m.toDouble) * 1e3).toLong
    val pts = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L))
      .map { case (r, c) => (lnMilli(r), lnMilli(c)) }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val (num, den) = (n * sxy - sx * sy, n * sxx - sx * sx)
    val out = graft.text.TextOps.zipfSlope(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val xx = out("xx")
    assert((xx.getLong(1), xx.getLong(2), xx.getLong(3)) == ((4L, num, den)),
      xx.toString)
    assert(math.abs(xx.getDouble(4) - (-num.toDouble / den.toDouble)) == 0.0)
    // counts halve each rank (8/4/2/1) — steeper than Zipf-1 (ln r grows
    // slower than the halving), OLS fit ≈ 1.459: the health read would
    // flag this tiny fixture as boilerplate-steep, correctly
    assert(xx.getDouble(4) > 1.4 && xx.getDouble(4) < 1.5, xx.getDouble(4))
    val yy = out("yy")
    assert(yy.getLong(1) == 1L && yy.isNullAt(4))
    // tie handling: equal counts share y, so the OLS result is invariant
    // to which tied token takes which rank — recompute with 3 tied tokens
    val tied = Seq(
      (1L, "zz", "u1 u1 u2 u2 u3 u3 v")).toDF("doc_id", "lang", "text")
    val zz = graft.text.TextOps.zipfSlope(tied).collect().head
    val tp = Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 1L))
      .map { case (r, c) => (lnMilli(r), lnMilli(c)) }
    val (tn, tsx, tsy) = (tp.size.toLong, tp.map(_._1).sum, tp.map(_._2).sum)
    val (tnum, tden) = (tn * tp.map(p => p._1 * p._2).sum - tsx * tsy,
      tn * tp.map(p => p._1 * p._1).sum - tsx * tsx)
    assert((zz.getLong(2), zz.getLong(3)) == ((tnum, tden)), zz.toString)
  }
}
