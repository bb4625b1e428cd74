package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("fkAudit: detects planted orphans, null keys, and duplicated parent keys") {
    val child = Seq((1L, 10L), (2L, 10L), (3L, 99L), (4L, 20L))
      .toDF("id", "fk")
      // a NULL child key matches no parent: NOT-EXISTS semantics -> orphan
      .unionByName(Seq((5L, Option.empty[Long])).toDF("id", "fk"))
    val parent = Seq((10L, "a"), (20L, "b"), (20L, "b2"), (30L, "c"))
      .toDF("pk", "v")
    val out = Audit.fkAudit(Seq(
      Audit.FkEdge("child.fk", child, "fk", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // 5 child rows; orphans = id 3 (fk 99 unmatched) + id 5 (null fk);
    // parent has 3 distinct keys, one of them (20) duplicated
    assert(out.toSeq == Seq(("child.fk", 5L, 2L, 3L, 1L)))
  }

  test("fkAudit: multi-edge report preserves declaration order and clean edges report zeros") {
    val a = Seq((1L, 10L)).toDF("id", "fk")
    val p = Seq((10L, "x")).toDF("pk", "v")
    val out = Audit.fkAudit(Seq(
      Audit.FkEdge("e1", a, "fk", p, "pk"),
      Audit.FkEdge("e2", a, "id", p, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(out.toSeq == Seq(("e1", 0L), ("e2", 1L)))
  }

  test("fkAudit: NULL parent keys are not keys (count DISTINCT semantics) but dup NULLs still flag") {
    val child = Seq((1L, 10L)).toDF("id", "fk")
    // parent: key 10, plus TWO NULL-key rows — n_parent_keys must be 1
    // (the oracle's count(DISTINCT pk) excludes NULL) while the repeated
    // NULL group still counts as one duplicated key group
    val parent = Seq((Option(10L), "a"), (Option.empty[Long], "b"),
      (Option.empty[Long], "c")).toDF("pk", "v")
    val out = Audit.fkAudit(Seq(
      Audit.FkEdge("e", child, "fk", parent, "pk")))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq((1L, 0L, 1L, 1L)))
  }

  test("fkAudit: duplicate parent keys cannot fan out the child scan, which runs once per edge") {
    // parent key 10 appears twice — the orphan join must go against the
    // DISTINCT key list or n_child would double-count
    val child = Seq((1L, 10L), (2L, 10L), (3L, 99L)).toDF("id", "fk")
    val parent = Seq((10L, "a"), (10L, "b")).toDF("pk", "v")
    val report = Audit.fkAudit(Seq(
      Audit.FkEdge("e", child, "fk", parent, "pk")))
    val out = report.collect().map(r => (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((3L, 1L, 1L, 1L)))
    // single-scan shape: the child relation (the `fk` columns) appears
    // exactly ONCE in the physical plan — at 100 TB the fact side is the
    // scan cost, so orphan count and row count must share one pass
    // (column pruning renames the child's projected key to _k before the
    // scan; the parent-side scans surface as their raw pk column)
    // AQE renders Final AND Initial plans — count in the final one only
    val plan = report.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val childScans = "LocalTableScan \\[_k#".r.findAllIn(plan).size
    assert(childScans == 1, s"expected 1 child scan, got $childScans\n$plan")
  }

  test("snapshotDiff: added/removed/changed/unchanged classify and carry char mass") {
    val old = Seq((1L, "aaa"), (2L, "bbbb"), (3L, "cc")).toDF("doc_id", "text")
    val neu = Seq((1L, "aaa"), (2L, "BBBBB"), (4L, "dddddd")).toDF("doc_id", "text")
    val out = Audit.snapshotDiff(old, neu)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("unchanged") == ((1L, 3L, 3L)))
    assert(out("changed") == ((1L, 4L, 5L)))
    assert(out("removed") == ((1L, 2L, 0L)))
    assert(out("added") == ((1L, 0L, 6L)))
  }

  test("splitLeakage: verbatim clones across splits are leaky; within-split dups are not") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // ids chosen so the clone pair lands in DIFFERENT splits via a
    // synthetic hash (id itself): 100/950 -> train/test; 10/20 -> train
    val docs = Seq(
      (100L, "shared leak text"), (950L, "shared leak text"), // cross-split dup
      (10L, "same split dup"), (20L, "same split dup"),        // within-train dup
      (300L, "unique text")).toDF("doc_id", "text")
    val out = Audit.splitLeakage(docs, col("doc_id")) // hash = id: transparent buckets
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    // 3 fingerprints over 5 docs; 2 dup groups; 1 leaky (train+test), 2 docs
    assert(out == ((3L, 5L, 2L, 1L, 2L)))
  }

  test("kAnonymity: class sizes, below-k mass, and extremes recompute; expression quasi-ids resolve") {
    import org.apache.spark.sql.functions.{col, length}
    val rows = Seq(
      (1L, "en", "alpha"), (2L, "en", "alpha"), (3L, "en", "alpha"),
      (4L, "de", "beta"), (5L, "de", "gamma")).toDF("id", "lang", "text")
    // quasi-ids include a derived EXPRESSION (text length) — the projection
    // regression: grouping must happen on the projected columns
    val out = Audit.kAnonymity(rows,
      Seq(col("lang"), length(col("text")).as("len")), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).head
    // classes: (en,5)x3, (de,4)x1, (de,5)x1 -> 3 classes, 2 singletons,
    // 2 below k=3 holding 2 rows, sizes 1..3
    assert(out == ((3L, 5L, 2L, 2L, 2L, 1L, 3L)))
  }

  test("kAnonymity: colliding quasi-id output names fail loudly") {
    val rows = Seq((1L, "en")).toDF("id", "lang")
    val e = intercept[IllegalArgumentException] {
      Audit.kAnonymity(rows, Seq(col("lang"), lit("x").as("lang")), k = 2)
    }
    assert(e.getMessage.contains("alias"), e.getMessage)
  }

  test("kGeneralize: first qualifying rung wins; every released class reaches k; audit re-run clean") {
    // rung 0 (lang, bucket): four size-2 classes < k=4; rung 1 (bucket
    // suppressed): two size-4 classes — the chosen release
    val rows = Seq(
      (1L, "en", 1), (2L, "en", 2), (3L, "en", 1), (4L, "en", 2),
      (5L, "de", 1), (6L, "de", 2), (7L, "de", 1), (8L, "de", 2))
      .toDF("id", "lang", "b")
    val ladder = Seq(
      Seq(col("lang"), col("b").as("bucket")),
      Seq(col("lang"), lit("*").as("bucket")),
      Seq(lit("*").as("lang"), lit("*").as("bucket")))
    val out = Audit.kGeneralize(rows, ladder, k = 4).collect()
    assert(out.forall(_.getInt(0) == 1), out.mkString("; "))
    val classes = out.map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(classes == Map(("en", "*") -> 4L, ("de", "*") -> 4L))
    // the audit definition of done: re-running kAnonymity over the CHOSEN
    // rung's encoding reports zero classes below k
    val audit = Audit.kAnonymity(rows,
      Seq(col("lang"), lit("*").as("bucket")), k = 4).head()
    assert(audit.getAs[Long]("n_classes_below_k") == 0L)
    assert(audit.getAs[Long]("min_class_size") >= 4L)
  }

  test("lDiversity: homogeneous classes flagged; NULL sensitive counts as diversity 0") {
    // class (en): sources a,a,a -> diversity 1 (homogeneity attack);
    // class (de): a,b,c -> diversity 3; class (fr): NULL,NULL -> 0
    val rows = Seq(
      (1L, "en", Some("a")), (2L, "en", Some("a")), (3L, "en", Some("a")),
      (4L, "de", Some("a")), (5L, "de", Some("b")), (6L, "de", Some("c")),
      (7L, "fr", None), (8L, "fr", None))
      .toDF("id", "lang", "src")
    val out = Audit.lDiversity(rows, Seq(col("lang")), col("src"), l = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    // 3 classes / 8 rows; en (3 rows) + fr (2 rows) below l=3; extremes 0..3
    assert(out == ((3L, 8L, 2L, 5L, 0L, 3L)))
  }

  test("kGeneralize: rung 0 released untouched when already k-anonymous") {
    val rows = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "de"))
      .toDF("id", "lang")
    val out = Audit.kGeneralize(rows,
      Seq(Seq(col("lang")), Seq(lit("*").as("lang"))), k = 2).collect()
    assert(out.forall(_.getInt(0) == 0))
    assert(out.map(r => r.getString(1) -> r.getLong(2)).toMap ==
      Map("en" -> 2L, "de" -> 2L))
  }

  test("kGeneralize: nothing safe to release (n_rows < k) -> empty output") {
    val rows = Seq((1L, "en")).toDF("id", "lang")
    val out = Audit.kGeneralize(rows,
      Seq(Seq(col("lang")), Seq(lit("*").as("lang"))), k = 2)
    assert(out.count() == 0L)
  }

  test("lGeneralize: first rung every class spans l sources wins; audit re-run clean") {
    // rung 0 (lang, b): (en,1)={a,a} diversity 1 — homogeneous despite
    // size 2; rung 1 (b suppressed): (en)={a,a,b,c} 3, (de)={a,b,c,c} 3 —
    // the chosen release. A k-size choice would have picked rung 0 at
    // k=2; diversity is the different (and here stricter) criterion.
    val rows = Seq(
      (1L, "en", 1, "a"), (2L, "en", 1, "a"),
      (3L, "en", 2, "b"), (4L, "en", 2, "c"),
      (5L, "de", 1, "a"), (6L, "de", 1, "b"),
      (7L, "de", 2, "c"), (8L, "de", 2, "c"))
      .toDF("id", "lang", "b", "src")
    val ladder = Seq(
      Seq(col("lang"), col("b").as("bucket")),
      Seq(col("lang"), lit("*").as("bucket")),
      Seq(lit("*").as("lang"), lit("*").as("bucket")))
    val out = Audit.lGeneralize(rows, ladder, col("src"), l = 3).collect()
    assert(out.forall(_.getInt(0) == 1), out.mkString("; "))
    val classes = out.map(r => (r.getString(1), r.getString(2)) ->
      ((r.getLong(3), r.getLong(4)))).toMap
    assert(classes == Map(("en", "*") -> ((4L, 3L)), ("de", "*") -> ((4L, 3L))))
    // definition of done: re-running the lDiversity AUDIT over the chosen
    // rung's encoding reports zero classes below l
    val audit = Audit.lDiversity(rows,
      Seq(col("lang"), lit("*").as("bucket")), col("src"), l = 3).head()
    assert(audit.getAs[Long]("n_classes_below_l") == 0L)
    assert(audit.getAs[Long]("min_diversity") >= 3L)
  }

  test("dpCounts: noisy counts match a driver-side Laplace recompute; eps scales the noise") {
    val rows = Seq(
      (1L, "en", "cc"), (2L, "en", "cc"), (3L, "en", "cc"),
      (4L, "en", "wiki"), (5L, "de", "cc")).toDF("id", "lang", "src")
    // independent recompute: md5-60 content hash -> exponential via
    // Math.log (negLnU agrees to ~1e-12, SamplingSpec), Laplace as the
    // difference, micro-floor; allow 1 micro for a floor-boundary ulp
    def md5_60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def negLn(h: Long): Double =
      -math.log((h + 1).toDouble / math.pow(2.0, 60))
    def expected(lang: String, src: String, n: Long, eps: Double): Double = {
      val ks = lang + "\u0001" + src
      val tag = math.round(eps * 1e6).toString
      val lap = (negLn(md5_60(ks + ":dp+" + tag)) -
        negLn(md5_60(ks + ":dp-" + tag))) / eps
      (n * 1000000L + math.floor(lap * 1e6).toLong).toDouble / 1e6
    }
    val out = Audit.dpCounts(rows, Seq("lang", "src"), epsilon = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(out.keySet == Set(("en", "cc"), ("en", "wiki"), ("de", "cc")))
    val truth = Map(("en", "cc") -> 3L, ("en", "wiki") -> 1L, ("de", "cc") -> 1L)
    for ((k, noisy) <- out) {
      assert(math.abs(noisy - expected(k._1, k._2, truth(k), 1.0)) <= 1e-6 + 1e-9,
        s"$k: $noisy vs ${expected(k._1, k._2, truth(k), 1.0)}")
      // the raw count itself must not be released verbatim
      assert(noisy != truth(k).toDouble)
    }
    // different groups draw different noise (salted content hashes)
    assert((out(("en", "wiki")) - 1.0) != (out(("de", "cc")) - 1.0))
    // a release at a DIFFERENT epsilon draws from a different salt
    // namespace (eps is micro-encoded into the salt): each matches its
    // own recompute, and the pair does NOT solve for the true count —
    // with a shared draw, noise@0.5 = 2·noise@1, so 2·noisy@1 − noisy@0.5
    // would recover the truth exactly; independent draws break that
    val half = Audit.dpCounts(rows, Seq("lang", "src"), epsilon = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    for ((k, noisy) <- out) {
      assert(math.abs(half(k) - expected(k._1, k._2, truth(k), 0.5)) <=
        1e-6 + 1e-9, s"$k: ${half(k)} vs ${expected(k._1, k._2, truth(k), 0.5)}")
      val attack = 2.0 * noisy - half(k)
      assert(math.abs(attack - truth(k)) > 1e-3,
        s"$k: composing the two releases recovers the true count ($attack)")
    }
    // deterministic: a second invocation is bit-identical
    assert(Audit.dpCounts(rows, Seq("lang", "src"), epsilon = 1.0)
      .collect().map(r => r.getDouble(2)).sorted.sameElements(
        out.values.toArray.sorted))
    // reserved output name fails loudly
    intercept[IllegalArgumentException] {
      Audit.dpCounts(rows.withColumnRenamed("src", "noisy_count"),
        Seq("lang", "noisy_count"))
    }
  }

  test("dpSum: clipping bounds sensitivity; noise matches the recompute at clip/eps scale") {
    val rows = Seq(
      (1L, "en", "cc", 100L), (2L, "en", "cc", 5000L), // 5000 clips to 2000
      (3L, "en", "wiki", -50L), // negative clips to 0
      (4L, "de", "cc", 300L)).toDF("id", "lang", "src", "chars")
    def md5_60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def negLn(h: Long): Double =
      -math.log((h + 1).toDouble / math.pow(2.0, 60))
    def expected(lang: String, src: String, s: Long, clip: Double,
        eps: Double): Double = {
      val ks = lang + "\u0001" + src
      val tag = math.round(eps * 1e6).toString
      val lap = (negLn(md5_60(ks + ":dps+" + tag)) -
        negLn(md5_60(ks + ":dps-" + tag))) * clip / eps
      (s * 1000000L + math.floor(lap * 1e6).toLong).toDouble / 1e6
    }
    val out = Audit.dpSum(rows, Seq("lang", "src"), col("chars"),
      clip = 2000L, epsilon = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    // clipped true sums: en/cc = 100 + 2000, en/wiki = 0, de/cc = 300
    val truth = Map(("en", "cc") -> 2100L, ("en", "wiki") -> 0L,
      ("de", "cc") -> 300L)
    for ((k, noisy) <- out) {
      assert(math.abs(noisy -
        expected(k._1, k._2, truth(k), 2000.0, 1.0)) <= 1e-6 + 1e-9,
        s"$k: $noisy vs ${expected(k._1, k._2, truth(k), 2000.0, 1.0)}")
      assert(noisy != truth(k).toDouble) // the true sum never releases
    }
    // a different-eps release draws an INDEPENDENT dps-salted pair (eps
    // micro-encoded in the salt): it matches its own recompute, and
    // 2·noisy@1 − noisy@0.5 does NOT recover the true sum (it would,
    // exactly, with a shared draw)
    val half = Audit.dpSum(rows, Seq("lang", "src"), col("chars"),
      clip = 2000L, epsilon = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    for ((k, noisy) <- out) {
      assert(math.abs(half(k) -
        expected(k._1, k._2, truth(k), 2000.0, 0.5)) <= 1e-6 + 1e-9,
        s"$k: ${half(k)} vs ${expected(k._1, k._2, truth(k), 2000.0, 0.5)}")
      val attack = 2.0 * noisy - half(k)
      assert(math.abs(attack - truth(k)) > 1e-3,
        s"$k: composing the two releases recovers the true sum ($attack)")
    }
    intercept[IllegalArgumentException] {
      Audit.dpSum(rows.withColumnRenamed("src", "noisy_sum"),
        Seq("lang", "noisy_sum"), col("chars"), clip = 2000L)
    }
    intercept[IllegalArgumentException] {
      Audit.dpSum(rows, Seq("lang"), col("chars"), clip = 0L)
    }
  }

  test("lGeneralize: rung 0 released when already diverse; nothing-safe -> empty") {
    val rows = Seq(
      (1L, "en", "a"), (2L, "en", "b"), (3L, "de", "b"), (4L, "de", "c"))
      .toDF("id", "lang", "src")
    val out = Audit.lGeneralize(rows,
      Seq(Seq(col("lang")), Seq(lit("*").as("lang"))), col("src"), l = 2)
      .collect()
    assert(out.forall(_.getInt(0) == 0))
    assert(out.map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3))))
      .toMap == Map("en" -> ((2L, 2L)), "de" -> ((2L, 2L))))
    // corpus-wide the sensitive column holds ONE distinct value: even the
    // fully-suppressed rung has diversity 1 < l -> empty release
    val allSame = Seq((1L, "en", "a"), (2L, "de", "a")).toDF("id", "lang", "src")
    assert(Audit.lGeneralize(allSame,
      Seq(Seq(col("lang")), Seq(lit("*").as("lang"))), col("src"), l = 2)
      .count() == 0L)
  }

  test("dpAvg: sequential composition of the eps/2 mechanisms; suppression rule holds") {
    import spark.implicits._
    val df = Seq(("en", "web", 100L), ("en", "web", 300L),
      ("de", "web", 2500L), ("de", "web", 50L)).toDF("lang", "source", "n_chars")
    val avg = Audit.dpAvg(df, Seq("lang", "source"), col("n_chars"),
      clip = 2000L, epsilon = 1.0).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("noisy_sum"), r.getAs[Double]("noisy_count"),
          if (r.isNullAt(r.fieldIndex("noisy_avg"))) None
          else Some(r.getAs[Double]("noisy_avg"))))).toMap
    // composition: the released components ARE dpSum/dpCounts at eps/2
    val s2 = Audit.dpSum(df, Seq("lang", "source"), col("n_chars"),
      clip = 2000L, epsilon = 0.5).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("noisy_sum")).toMap
    val c2 = Audit.dpCounts(df, Seq("lang", "source"), epsilon = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("noisy_count")).toMap
    assert(avg.keySet == s2.keySet)
    for ((k, (ns, nc, na)) <- avg) {
      assert(ns == s2(k) && nc == c2(k), s"$k components differ")
      // suppression: NULL exactly when the noisy denominator is <= 0
      assert(na.isDefined == (nc > 0.0), s"$k suppression")
      na.foreach(v => assert(v == ns / nc))
    }
    intercept[IllegalArgumentException] {
      Audit.dpAvg(df, Seq("lang"), col("n_chars"), clip = 2000L,
        epsilon = 0.0)
    }
  }

  test("dpAvg: NULL-keyed rows drop — exact parity with composed dpSum ⋈ dpCounts (r19, drains r18 advice)") {
    import spark.implicits._
    // the composed form never released a NULL-keyed group (NULL joins
    // nothing on key equality); the fused form must not either — and a
    // NULL key must not reuse an empty-string group's noise draw (both
    // concat_ws to the same salt string)
    val df = Seq((Option("en"), 100L), (None, 999L), (None, 7L),
      (Option(""), 55L), (Option("de"), 300L))
      .toDF("lang", "n_chars")
    val fused = Audit.dpAvg(df, Seq("lang"), col("n_chars"),
      clip = 500L, epsilon = 1.0).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Double]("noisy_sum"), r.getAs[Double]("noisy_count"))))
      .toMap
    assert(!fused.keySet.contains(null), "fused dpAvg released a NULL group")
    assert(fused.keySet == Set("en", "de", ""))
    val s2 = Audit.dpSum(df, Seq("lang"), col("n_chars"), clip = 500L,
      epsilon = 0.5).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("noisy_sum")).toMap
    val c2 = Audit.dpCounts(df, Seq("lang"), epsilon = 0.5).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("noisy_count")).toMap
    for (k <- fused.keySet) {
      assert(fused(k)._1 == s2(k) && fused(k)._2 == c2(k),
        s"group '$k': fused != composed")
    }
  }

  test("dp releases reject off-grid epsilons whose salt tags would collide") {
    val rows = Seq((1L, "en", 10L)).toDF("id", "lang", "chars")
    // 1e-7 and 2e-7 both micro-round to tag 0 — a shared namespace would
    // share the draw and re-enable the exact composition attack
    intercept[IllegalArgumentException] {
      Audit.dpCounts(rows, Seq("lang"), epsilon = 1e-7)
    }
    // off-grid by less than the tag resolution (0.2500004 -> tag 250000,
    // colliding with 0.25's namespace at a different effective scale)
    intercept[IllegalArgumentException] {
      Audit.dpCounts(rows, Seq("lang"), epsilon = 0.2500004)
    }
    intercept[IllegalArgumentException] {
      Audit.dpSum(rows, Seq("lang"), col("chars"), clip = 10L,
        epsilon = 1e-7)
    }
    // dpAvg needs 2e-6 resolution so each eps/2 component stays on-grid
    intercept[IllegalArgumentException] {
      Audit.dpAvg(rows, Seq("lang"), col("chars"), clip = 10L,
        epsilon = 1e-6)
    }
    // on-grid epsilons pass the guard
    assert(Audit.dpCounts(rows, Seq("lang"), epsilon = 0.25).count() == 1L)
    assert(Audit.dpAvg(rows, Seq("lang"), col("chars"), clip = 10L,
      epsilon = 2e-6).count() == 1L)
    // LARGE on-grid epsilons pass too (relative tolerance): this value is
    // exactly 8582747781260/1e6 as a double, but its *1e6 image rounds
    // ~9.8e-4 away from the integer — an absolute 1e-9 tolerance
    // spuriously rejected a legitimately grid-aligned epsilon
    assert(Audit.dpCounts(rows, Seq("lang"), epsilon = 8582747.78126)
      .count() == 1L)
    assert(Audit.dpSum(rows, Seq("lang"), col("chars"), clip = 10L,
      epsilon = 8582747.78126).count() == 1L)
    assert(Audit.dpAvg(rows, Seq("lang"), col("chars"), clip = 10L,
      epsilon = 8582747.78126).count() == 1L)
  }

  test("dpQuantile: noisy-CDF median matches a driver-side recompute; empty bins release too") {
    val rows = Seq(
      (1L, "en", 100L), (2L, "en", 900L), (3L, "en", 1500L),
      (4L, "de", 50L), (5L, "de", 60L)).toDF("id", "lang", "chars")
    val out = Audit.dpQuantile(rows, Seq("lang"), col("chars"),
      lo = 0L, hi = 2000L, phiNum = 1L, epsilon = 1.0).collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getDouble(3)))).toMap
    // independent recompute of the whole mechanism: per-bin md5-60 salted
    // exponential pair (Math.log stands in for negLnU, ~1e-12 agreement),
    // micro-floored Laplace on EVERY bin of the public grid (including
    // the ~60 empty ones — their noise moves the CDF), exact integer
    // cumulative crossing at 1/2 the noisy total
    def md5_60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def negLn(h: Long): Double =
      -math.log((h + 1).toDouble / math.pow(2.0, 60))
    def expected(lang: String, counts: Map[Long, Long]): (Long, Long, Double) = {
      val nm = (0L until 64L).map { b =>
        val lap = negLn(md5_60(lang + ":dpq+1000000:" + b)) -
          negLn(md5_60(lang + ":dpq-1000000:" + b))
        b -> (counts.getOrElse(b, 0L) * 1000000L +
          math.floor(lap * 1e6).toLong)
      }
      val tot = nm.map(_._2).sum
      var cum = 0L
      var qb = -1L
      for ((b, m) <- nm if qb < 0) {
        cum += m
        if (tot > 0 && cum * 2 >= tot) qb = b
      }
      // qb = -1 models the SUPPRESSED (NULL) release of a non-positive
      // noisy total — possible at tiny n (64 Laplace(1) draws swing
      // ~±11 counts), exactly why the operator suppresses
      (qb, if (qb < 0) -1L else qb * 32L, tot.toDouble / 1e6)
    }
    // 100->bin3, 900->bin28, 1500->bin46; 50,60->bin1 (width 32)
    val en = expected("en", Map(3L -> 1L, 28L -> 1L, 46L -> 1L))
    val de = expected("de", Map(1L -> 2L))
    assert(out("en")._1 == en._1 && out("en")._2 == en._2, s"${out("en")} vs $en")
    assert(out("de")._1 == de._1 && out("de")._2 == de._2, s"${out("de")} vs $de")
    assert(math.abs(out("en")._3 - en._3) <= 1e-4, s"${out("en")._3} vs ${en._3}")
    assert(math.abs(out("de")._3 - de._3) <= 1e-4)
    // when released, the crossing bin sits on the grid
    assert(out("en")._1 == -1L || (out("en")._1 >= 0L && out("en")._1 <= 63L))
    // deterministic: a second invocation is bit-identical
    val again = Audit.dpQuantile(rows, Seq("lang"), col("chars"),
      lo = 0L, hi = 2000L, phiNum = 1L, epsilon = 1.0).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(again == out.map { case (k, v) => k -> v._1 })
    // guards: off-grid epsilon, reserved names, degenerate range/phi
    intercept[IllegalArgumentException] {
      Audit.dpQuantile(rows, Seq("lang"), col("chars"), 0L, 2000L,
        epsilon = 1e-7)
    }
    intercept[IllegalArgumentException] {
      Audit.dpQuantile(rows.withColumnRenamed("chars", "q_value"),
        Seq("lang", "q_value"), col("id"), 0L, 2000L)
    }
    intercept[IllegalArgumentException] {
      Audit.dpQuantile(rows, Seq("lang"), col("chars"), 5L, 5L)
    }
    intercept[IllegalArgumentException] {
      Audit.dpQuantile(rows, Seq("lang"), col("chars"), 0L, 2000L,
        phiNum = 3L)
    }
  }

  test("tCloseness: exact-integer total variation matches the hand computation; rational threshold is strict") {
    import spark.implicits._
    // class A (4 rows): x,x,x,y -> p_A = {x:.75, y:.25}; class B (2 rows):
    // y,y -> p_B = {y:1}. Table: x=3, y=3 -> p = {x:.5, y:.5}.
    // TV(A) = .25, TV(B) = .5 (hand); integer form: A 12/48, B 12/24.
    val df = Seq(("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "y"), ("B", "y")).toDF("cls", "sens")
    val r = Audit.tCloseness(df, Seq(col("cls")), col("sens"),
      tNum = 3L, tDen = 10L).collect().head
    assert(r.getAs[Long]("n_classes") == 2L)
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_classes_above_t") == 1L) // only B (.5 > .3)
    assert(r.getAs[Long]("n_rows_above_t") == 2L)
    assert(r.getAs[Double]("max_t_distance") == 0.5)
    // boundary is STRICT rational compare: at t = 1/4 class A's exact
    // 12/48 == 1/4 does NOT flag — no double round-off in the decision
    val r2 = Audit.tCloseness(df, Seq(col("cls")), col("sens"),
      tNum = 1L, tDen = 4L).collect().head
    assert(r2.getAs[Long]("n_classes_above_t") == 1L)
    // a class matching the table's distribution has distance exactly 0
    val uni = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y"))
      .toDF("cls", "sens")
    val r3 = Audit.tCloseness(uni, Seq(col("cls")), col("sens"), 0L, 1L)
      .collect().head
    assert(r3.getAs[Double]("max_t_distance") == 0.0)
    assert(r3.getAs[Long]("n_classes_above_t") == 0L)
    intercept[IllegalArgumentException] {
      Audit.tCloseness(df, Seq(col("cls")), col("sens"), 2L, 1L)
    }
  }

  test("tCloseness: NULL sensitive values are a category, not dropped mass") {
    import spark.implicits._
    // class A: sens all NULL (2 rows); class B: x,x. Table: NULL=2, x=2
    // -> p = {NULL:.5, x:.5}. p_A = {NULL:1}: TV(A) = .5; p_B = {x:1}:
    // TV(B) = .5. Before the null-safe join, class A vanished entirely
    // (its rows never matched the marginals) — n_classes must be 2 and
    // n_rows must be 4, with BOTH classes above t = 3/10.
    val df = Seq(("A", Option.empty[String]), ("A", Option.empty[String]),
      ("B", Option("x")), ("B", Option("x"))).toDF("cls", "sens")
    val r = Audit.tCloseness(df, Seq(col("cls")), col("sens"),
      tNum = 3L, tDen = 10L).collect().head
    assert(r.getAs[Long]("n_classes") == 2L)
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_classes_above_t") == 2L)
    assert(r.getAs[Long]("n_rows_above_t") == 4L)
    assert(r.getAs[Double]("max_t_distance") == 0.5)
  }

  test("tCloseness: a NULL QUASI-ID keys a class, not dropped mass") {
    import spark.implicits._
    // groupBy makes a class out of NULL-keyed rows, so the class-size
    // (ncs) join must be null-safe too — with a plain equi-join the NULL
    // class silently vanished from n_classes/n_rows (the same failure the
    // sensitive-value join fix closed). Class NULL: x,x (p={x:1});
    // class B: y,y (p={y:1}); table p={x:.5,y:.5} -> TV = .5 for both.
    val df = Seq((Option.empty[String], "x"), (Option.empty[String], "x"),
      (Option("B"), "y"), (Option("B"), "y"))
      .toDF("cls", "sens")
    val r = Audit.tCloseness(df, Seq(col("cls")), col("sens"),
      tNum = 3L, tDen = 10L).collect().head
    // with the equi-join bug the NULL class vanished: n_classes read 1
    assert(r.getAs[Long]("n_classes") == 2L)
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_classes_above_t") == 2L)
    assert(r.getAs[Long]("n_rows_above_t") == 4L)
    assert(r.getAs[Double]("max_t_distance") == 0.5)
  }
}
