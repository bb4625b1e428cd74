package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Physical-plan regression tests — pin the scale properties the operators
  * were designed around (in-stage dimension lookups, broadcast joins,
  * parquet pushdown/pruning, shuffle counts). A refactor that silently
  * turns a broadcast join into a sort-merge join or drops a pushed filter
  * fails here, not at 100 TB.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def shuffleCount(df: DataFrame): Int =
    // count shuffle Exchange nodes in the plan text (AQE hides the subtree
    // from SparkPlan.foreach until execution); BroadcastExchange excluded
    "(?<!Broadcast)Exchange ".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  test("op_tax_calc: zero shuffles; the tax block adds no join and no exchange") {
    assert(shuffleCount(SparkEntry.queries("op_tax_calc")(spark, sf)) == 0,
      "the tax expression block must be shuffle-free")
    // static dimensions resolve in-stage: over a file source, each tax
    // pipeline's executed plan has exactly its input's joins and exchanges
    // (broadcast ones included), and no dimension relation at all
    def count(df: DataFrame)(p: SparkPlan => Boolean): Int =
      collect(df.queryExecution.executedPlan) { case n if p(n) => n }.size
    def joins(df: DataFrame) = count(df)(_.isInstanceOf[BaseJoinExec])
    def exchanges(df: DataFrame) = count(df)(n =>
      n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec])
    val txns = graft.tax.TaxCalc.normalize(graft.tax.TaxCalc.readCsv(spark,
      getClass.getResource("/sample_transactions.csv").getPath))
    val activity = graft.tax.Compliance.stateActivity(txns)
    assert(exchanges(activity) == 1)
    for ((name, in, out) <- Seq(
        ("TaxCalc.withTax", txns, graft.tax.TaxCalc.withTax(txns)),
        ("Refunds.overpayments", txns, graft.tax.Refunds.overpayments(txns,
          java.time.LocalDate.of(2026, 8, 12))),
        ("Compliance.checkNexusUnsorted", activity,
          graft.tax.Compliance.checkNexusUnsorted(activity)))) {
      val p = out.queryExecution.executedPlan.toString
      assert(joins(out) == joins(in), s"$name adds a join:\n$p")
      assert(exchanges(out) == exchanges(in), s"$name adds an exchange:\n$p")
      assert(count(out)(_.isInstanceOf[LocalTableScanExec]) == 0,
        s"$name reads a local dimension relation:\n$p")
    }
  }

  test("op_filter_project: filter pushed to the parquet scan, columns pruned") {
    val p = plan("op_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
    assert(p.contains("FileScan parquet [l_orderkey#") &&
      p.contains(",l_linenumber#") && p.contains(",l_shipdate#") &&
      !p.contains(",l_tax#") && !p.contains(",l_comment#"),
      "scan must read only the 5 referenced columns")
  }

  test("op_rate_join: dimension chain is broadcast, fact scanned once") {
    val p = plan("op_rate_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("op_smj_join: shuffles for the distinct aggregate; join adapts to data size") {
    // At tiny sf the orders side broadcasts (correct adaptive behavior);
    // the two-phase count-distinct still exchanges twice.
    val df = SparkEntry.queries("op_smj_join")(spark, sf)
    assert(shuffleCount(df) >= 1, "count-distinct aggregation must exchange")
  }

  test("op_topk_desc plans as TakeOrderedAndProject, not global sort") {
    val p = plan("op_topk_desc")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q1_agg: partial (map-side) aggregation before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(1500))
    assert(shuffleCount(SparkEntry.queries("q1_agg")(spark, sf)) == 1,
      "one shuffle for the group-by, no more")
  }

  test("minhashPairs default path plans the native MinHashSig expression") {
    val corpus = Catalog.dedupCorpus(spark, sf)
    val p = graft.text.Dedup.minhashPairs(corpus, minAgree = 20)
      .queryExecution.executedPlan.toString
    assert(p.contains("portableminhashsig") || p.contains("PortableMinHashSig"),
      p.take(2000))
  }

  test("declared op_minhash_pairs uses the portable md5 hash family") {
    // the ORACLE-checked query must hash with the md5-based portable
    // family (DuckDB-reproducible), via the native PortableMinHashSig
    // expression, and with no other minhash kernel
    val p = plan("op_minhash_pairs")
    assert(p.contains("portableminhashsig") || p.contains("PortableMinHashSig"),
      p.take(2000))
    assert(!p.replace("portableminhashsig", "").replace("PortableMinHashSig", "")
      .toLowerCase.contains("minhashsig"),
      "the declared query plans one minhash kernel")
  }

  test("similarity top-k plans use TopKPerKey, not a corpus-wide window") {
    for (q <- Seq("op_ann_topk", "op_lsh_ann", "op_ivf_ann")) {
      val p = plan(q)
      assert(p.contains("TopKPerKey"), s"$q: ${p.take(1200)}")
      // the only Window left runs AFTER the bounded-heap operator, over
      // <= k rows per query — assert it is not feeding the heap
      assert(p.indexOf("Window") == -1 ||
        p.indexOf("TopKPerKey") > p.indexOf("Window"),
        s"$q: rank window must sit above TopKPerKey\n${p.take(1200)}")
    }
  }

  test("op_hist_quantiles: map-side partial aggregation, window only over the histogram") {
    val p = plan("op_hist_quantiles")
    // partial-then-final hash aggregate around the exchange: the full fact
    // never sorts — only the <= (states x buckets) histogram reaches the
    // window
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    // plan text prints consumers first: the Window (string index lower)
    // must CONSUME the aggregate's output, i.e. appear above it
    assert(p.indexOf("Window") >= 0 &&
      p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"window must run above the histogram aggregate\n${p.take(1500)}")
  }

  test("op_embed_outliers: fully narrow — the C-cosine max rides the scan") {
    val df = SparkEntry.queries("op_embed_outliers")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the only exchange is embCorpus's HARNESS-ONLY round-robin spread of
    // the single-file fixture; the operator itself never hash-partitions
    // (no join, no aggregate — DedupSpec pins zero exchanges on a raw
    // frame)
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p.take(1500))
  }

  test("op_schema_merge: one partial+final aggregate over the merged scan") {
    val df = SparkEntry.queries("op_schema_merge")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(shuffleCount(df) <= 1, p.take(1500))
  }

  test("op_bucketed_join: co-located scans, exchange-free below the join") {
    val df = SparkEntry.queries("op_bucketed_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both sides bucketed on the key -> the SortMergeJoin needs no
    // exchange; the only shuffle in the whole plan is the final
    // status aggregate
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("Bucketed: true"), p.take(2000))
    assert(shuffleCount(df) <= 1,
      s"expected at most the aggregate's shuffle\n${p.take(2000)}")
  }

  test("op_ngram_lang_id: profile via TopKPerKey; only the per-doc argmax window remains") {
    // the profile's per-language top-K runs through the bounded heap (a
    // rank window would sort each language's whole trigram vocabulary in
    // one task); the single remaining Window is the per-doc argmax over
    // <= |langs| rows
    val p = plan("op_ngram_lang_id")
    assert(p.contains("TopKPerKey"), p.take(1500))
    // count Window EXEC nodes ("Window ["); WindowGroupLimit — the rank
    // pushdown guarding the argmax — also contains the substring
    assert("Window \\[".r.findAllIn(p).size <= 1,
      s"only the per-doc argmax window may remain\n${p.take(1500)}")
  }

  test("op_sample_quantiles: typed-imperative sketch aggregate, no sort of the fact") {
    val df = SparkEntry.queries("op_sample_quantiles")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans through ObjectHashAggregate with a
    // map-side partial — the sketch ships <= k pairs per partition
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("\nSort ") && !p.contains("Window"),
      s"the value column must never sort\n${p.take(1500)}")
  }

  test("op_winsorize: sketch bounds broadcast back; no sort, no window") {
    val df = SparkEntry.queries("op_winsorize")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p.take(1500))
  }

  test("op_perceptron_step: narrow scoring, bucket-bounded gradient, no window or smj") {
    val df = SparkEntry.queries("op_perceptron_step")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(1500))
    // the model lives in the expression: no broadcast of a weight table
    // on the scoring path, just the final 64-row bucket join
    assert(shuffleCount(df) <= 2, p.take(2000))
  }

  test("op_bucketed_agg: the per-order aggregate needs no exchange on the bucketed scan") {
    val df = SparkEntry.queries("op_bucketed_agg")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p.take(2000))
    // the only shuffle is the tiny second-level rollup by item count —
    // the order-keyed aggregate rides the bucket distribution
    assert(shuffleCount(df) <= 1, p.take(2000))
  }

  test("op_chi2_terms: per-class top-k via TopKPerKey, no vocabulary window") {
    // the scored (class, token) frame is the class's WHOLE observed
    // vocabulary — a rank window partitioned by class would sort it in one
    // task per class. The bounded heap takes top-k; rank is recovered via
    // sort_array+posexplode over <= k rows per class, so the plan must
    // contain no Window node at all.
    val p = plan("op_chi2_terms")
    assert(p.contains("TopKPerKey"), p.take(1500))
    assert(!p.contains("Window"),
      s"chi2 rank must come from sort_array+posexplode, not a window\n${p.take(1500)}")
  }

  test("op_cap_per_key: per-group cap via TopKPerKey, never a window") {
    val p = plan("op_cap_per_key")
    assert(p.contains("TopKPerKey"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("op_weighted_sample: ticket lottery is narrow; winners via TakeOrdered, no corpus sort") {
    val df = SparkEntry.queries("op_weighted_sample")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the w-ticket min rides the scan in-row: no explode-shaped Generate,
    // no join; the global top-k is a bounded TakeOrdered
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Generate") && !p.contains("Join"), p.take(1500))
    assert(shuffleCount(df) == 0, p.take(2000))
  }

  test("op_weighted_race: O(1) key is fully narrow; winners via TakeOrdered, zero shuffles") {
    val df = SparkEntry.queries("op_weighted_race")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the portable-ln race key is plain in-row arithmetic: no Generate
    // (ticket explode), no join, no window; global top-k bounded
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Generate") && !p.contains("Join") &&
      !p.contains("Window"), p.take(1500))
    assert(shuffleCount(df) == 0, p.take(2000))
  }

  test("op_race_per_key: per-group race via TopKPerKey, never a window or sort") {
    val p = plan("op_race_per_key")
    assert(p.contains("TopKPerKey"), p.take(1500))
    assert(!p.contains("Window") && !p.contains("\nSort "), p.take(1500))
  }

  test("op_k_generalize / op_l_diversity: bounded aggregates; the only join is the 1-row rung choice") {
    val kg = SparkEntry.queries("op_k_generalize")(spark, sf)
    val pk = kg.queryExecution.executedPlan.toString
    // ladder fan-out is an in-row explode (Generate) feeding a keyed
    // aggregate; rung choice arrives as a 1-row broadcast nested loop —
    // never a sort-merge join, never a window, never a corpus sort
    assert(!pk.contains("SortMergeJoin") && !pk.contains("Window"),
      pk.take(1500))
    val ld = SparkEntry.queries("op_l_diversity")(spark, sf)
    val pl = ld.queryExecution.executedPlan.toString
    assert(!pl.contains("Join") && !pl.contains("Window") &&
      !pl.contains("Generate"), pl.take(1500))
  }

  test("op_band_stats: bounded occupancy aggregates + star-edge-sized joins only") {
    val df = SparkEntry.queries("op_band_stats")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // The accounting must never pay the quadratic pair join it is sizing:
    // since round 15 the plan DOES join — the star-edge verify ledger
    // joins (banded ⋈ bucket-stats) to find over-cap members and (star
    // edges ⋈ signatures) to recompute the verify — but every join input
    // is banded-table-linear or star-edge-sized, never an all-pairs
    // bucket self-join. Textual pin: no cartesian, no window, no
    // corpus-order sort; the occupancy report path itself stays
    // aggregate-only (pinned by the no-over-cap semantics test in
    // DedupSpec, where the star ledger is exactly zero).
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("\nSort "), p.take(1500))
  }

  test("op_kmeans_iter: each iteration is narrow assignment + partial aggregation") {
    val df = SparkEntry.queries("op_kmeans_iter")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // final-iteration plan (iteration 1 already reduced to driver
    // literals): posexplode feeds a partial-then-final aggregate; no
    // joins, no windows — C×dim rows out however large the corpus
    assert(p.contains("Generate") && p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1500))
    assert(shuffleCount(df) <= 1, p.take(2000))
  }

  test("op_dsir_weights: bucket model broadcast back; only the per-doc sum shuffles the corpus") {
    val df = SparkEntry.queries("op_dsir_weights")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p.take(1500))
  }

  test("op_quality_floor / op_mix_schedule: bounded plan ships broadcast back, no sort or window") {
    for (name <- Seq("op_quality_floor", "op_mix_schedule")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name\n${p.take(1500)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("Window") &&
        !p.contains("\nSort "), s"$name\n${p.take(1500)}")
    }
  }

  test("op_knn_classify: vote argmax via TopKPerKey; only cell-bounded windows remain") {
    val p = plan("op_knn_classify")
    assert(p.contains("TopKPerKey"), p.take(1500))
    // knnGraph's per-vector rank window partitions on vec_id with <= cell
    // occupancy rows — structurally bounded, allowed by the heap doctrine
  }

  test("op_length_hist / op_tok_fertility: one narrow pass into a bounded aggregate") {
    for (name <- Seq("op_length_hist", "op_tok_fertility")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name\n${p.take(1500)}")
      assert(shuffleCount(df) <= 1, s"$name\n${p.take(2000)}")
    }
  }

  test("op_curation_pipeline: stratified sample via TopKPerKey, no global sort") {
    val p = plan("op_curation_pipeline")
    assert(p.contains("TopKPerKey"), p.take(1500))
    assert(!p.contains("\nSort "), "no global sort of the corpus")
  }

  test("codec feature extraction is fully narrow (zero shuffles)") {
    // encode→decode→stats is one mapPartitions pipeline over the scan —
    // payloads never shuffle and never reach the driver
    for (q <- Seq("op_image_features", "op_audio_features")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(shuffleCount(df) == 0, s"$q must stay a narrow pipeline")
    }
  }

  test("op_image_phash stays a narrow codec pipeline (zero shuffles)") {
    val df = SparkEntry.queries("op_image_phash")(spark, sf)
    assert(shuffleCount(df) == 0, "encode→decode→hash must not shuffle")
  }

  test("round-10 HOF ops are fully narrow (zero shuffles, no joins)") {
    // c4Rules / charDiversity / linearScore are per-row HOF chains over
    // the documents scan; randProj is quantize + signed sums + posexplode
    // over the embeddings scan — none may exchange or join
    for (q <- Seq("op_c4_rules", "op_char_diversity", "op_linear_score",
        "op_rand_proj")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(shuffleCount(df) == 0, s"$q must ride the scan")
      assert(!p.contains("Join"), s"$q must not join")
    }
  }

  test("op_pq_encode: one narrow map stage, no joins or exchanges") {
    val df = SparkEntry.queries("op_pq_encode")(spark, sf)
    assert(shuffleCount(df) == 0, "PQ encoding must ride the scan")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "no join in the encode path")
  }

  test("op_pq_ann: queries broadcast with LUTs; corpus side never sorts") {
    val df = SparkEntry.queries("op_pq_ann")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(1500))
    assert(p.contains("TopKPerKey"), "ADC top-k must use the bounded heap")
    assert(!p.contains("SortMergeJoin"), "the code scan must not sort-merge")
  }

  test("unpartitioned-window inventory: every empty-partition Window is allowlisted with a cited bound") {
    // guide §2: a Window with no PARTITION BY moves ALL rows to one task.
    // That is acceptable ONLY when the window's input is provably bounded
    // by construction — this walks EVERY declared query's optimized plan,
    // collects Window nodes with an empty partitionSpec, and asserts the
    // owning query is allowlisted below with the structural bound that
    // keeps the single partition small. A new unpartitioned window over
    // unbounded data fails here, not at 100 TB. (r18 verdict item 7.)
    val allow: Map[String, String] = Map(
      "op_gini_sources" -> ("Profile.gini: rank window over the per-group " +
        "SUM table — ≤ |distinct sources| rows (group-cardinality bound)"),
      "op_score_auc" -> ("TextOps.scoreAuc: cumulative window over CLAMPED " +
        "integer score buckets — ≤ (maxScore-minScore+1) = 1000 rows by " +
        "construction, corpus-independent"),
      "op_score_deciles" -> ("TextOps.scoreDeciles: both windows run over " +
        "the per-bucket aggregate of the same clamped score domain — " +
        "≤ 1000 rows by construction"),
      "op_vocab_coverage" -> ("TextOps.vocabCoverage: cumulative window " +
        "AFTER the top-N limit — ≤ topN (50) rows"),
      "op_ivf_sweep" -> ("Ivf.probeSweep: the n_relevant max-window runs " +
        "over per-rung hit counts — ≤ |rungs|+1 (5) rows"),
      "op_sql_ks_drift" -> ("SQL cumsum/argmax windows over the per-value " +
        "GROUP BY v aggregate — ≤ |distinct floor(len/10)| rows, bounded " +
        "by the value DOMAIN (max doc length / 10), not corpus cardinality"),
      "op_sql_source_share" -> ("SQL rank window over the per-source " +
        "GROUP BY aggregate — ≤ |distinct sources| rows"),
      "op_sql_score_deciles" -> ("DECLARED corpus-sized: the SQL-surface " +
        "ntile(10) demo ranks every document in one task by definition; " +
        "the scale-correct bounded formulation is its Scala sibling " +
        "op_score_deciles (clamped-bucket two-phase) — changing the SQL " +
        "would change what the op demonstrates"))
    val offenders = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val n =
        try fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      if (n > 0 && !allow.contains(name)) offenders += s"$name(x$n)"
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside the allowlist: ${offenders.mkString(", ")}")
    val stale = allow.keySet.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString(", ")}")
  }

  test("op_display_truncate rides the shuffle-free tax lineage") {
    val df = SparkEntry.queries("op_display_truncate")(spark, sf)
    assert(shuffleCount(df) == 0,
      "display truncation must not add an exchange to the refund scan")
    assert(!df.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "SOL dim join must broadcast")
  }
}
