package graft

/** Benchmark main: times every declared query at the given scale factor and
  * prints ONE machine-parsed JSON line.
  *
  * Methodology: two timed passes over the query set, reporting the per-query
  * MINIMUM ("agg":"min_of_2" in the output). Wall-times on a shared box vary
  * ±30% run-to-run (SURVEY §9); the first pass additionally pays one-time
  * JIT/codegen-compile and cache-materialization costs that say nothing
  * about the engine's steady-state throughput. The min is the standard
  * noise-robust estimator for that steady state. warm_sec covers session
  * init + the one-time persist of the shared lineages (runner caching
  * policy, SURVEY §9) and is reported separately, not counted in `value`.
  *
  * Execution convention (round 17, `"exec":"plan"` in the sidecar): each
  * query runs via `queryExecution.toRdd.count()` — its OWN physical plan
  * — because `Dataset.count()` re-optimizes and can prune expensive
  * subtrees whose row count is statically derivable (op_mrr's brute scan
  * vanished under a unique-key left-join elimination; 36 queries showed
  * count-pruned leaves in a `Probe count-audit` sweep). Pre-r17 trend
  * entries for that set under-measured; the sidecar field marks the
  * boundary.
  */
object Bench {
  /** Short metric-line aliases — ROUND 19: the rename ledger reopened and
    * EVERY declared query re-keyed to a 1-2 char code so the stdout metric
    * line carries the full KEYED per-query map again. Background: the
    * closed-ledger doctrine (rounds 11-18) degraded the line to the keyless
    * "qv" values array once the catalog outgrew named keys (query #236),
    * and round 18's driver PERF came back with per_query EMPTY / n_common 0
    * — the driver aligns per-query trends by KEY, so the keyless array,
    * however self-describing, is invisible to it. The driver contract
    * ({"queries": {name: sec}}) outranks key stability, so round 19 trades
    * one ledger batch (every historical key mapped in [[aliasRenames]]) for
    * a keyed line at any realistic catalog size: 270 queries fit at integer
    * DECISECONDS with at most the few cheapest (sub-0.05 s) entries dropped,
    * where the old keys fit at NO granularity (the keyed-cs map measured
    * 2561 chars against the 1960 budget). Keys were assigned mechanically
    * (word initials, then first-letter + letter/digit, then any free code)
    * avoiding every historical key, so a rekeyed trend reader can never
    * confuse eras. Applied AFTER the "op_" strip. BenchAliasSpec pins
    * uniqueness, ledger integrity, and the keyed-coverage floor at 270 and
    * 300 queries. */
  val alias: Map[String, String] = Map(
    "alerts" -> "al", "ann_recall" -> "ar", "ann_topk" -> "at", "anti_join" -> "aj",
    "asof_join" -> "as", "asof_stale" -> "ao", "audio_features" -> "af", "band_stats" -> "bs",
    "batch_agg" -> "ba", "best_survivors" -> "be", "bigram_logprob" -> "bi", "bigram_score" -> "bg",
    "bloom_fpr" -> "bf", "bloom_join" -> "bj", "bm25" -> "bm", "boilerplate" -> "bo",
    "bpe_apply" -> "bp", "bpe_pairs" -> "br", "bucketed_agg" -> "bu", "bucketed_join" -> "bc",
    "c4_rules" -> "cr", "cap_per_key" -> "ca", "case_bucket" -> "cb", "ccnet_buckets" -> "cn",
    "cdc_chunks" -> "cd", "char_diversity" -> "ch", "chi2_terms" -> "ct", "chunk" -> "cu",
    "claims_nested" -> "cl", "cluster_sizes" -> "cs", "cms_error" -> "ce", "cms_topk" -> "cm",
    "compact_files" -> "cf", "compact_latest" -> "co", "containment" -> "ci", "contamination" -> "cg",
    "cooccur" -> "cj", "corpus_drift" -> "ck", "corr_stats" -> "cq", "cross_source_overlap" -> "cw",
    "csv_kv" -> "cx", "csv_roundtrip" -> "cy", "cube" -> "cz", "curation_pipeline" -> "c0",
    "dataset_card" -> "da", "dedup_clusters" -> "de", "dedup_exact" -> "dd", "dedup_recall" -> "dr",
    "degree_hist" -> "dh", "display_truncate" -> "di", "distinct" -> "ds", "doc_fingerprint" -> "df",
    "dp_avg" -> "dp", "dp_counts" -> "do", "dp_quantile" -> "dq", "dp_sum" -> "du",
    "dsir_select" -> "dl", "dsir_weights" -> "dw", "dup_attribution" -> "db", "dup_ngram_frac" -> "dn",
    "effective_rate" -> "er", "embed_drift" -> "ed", "embed_neardup" -> "em", "embed_norm" -> "eb",
    "embed_outliers" -> "eo", "embed_quantize" -> "eq", "events_window" -> "ew", "except" -> "ex",
    "filed_semijoin" -> "fs", "filing_deadlines" -> "fi", "filter_project" -> "fp", "fk_audit" -> "fa",
    "funnel" -> "fu", "fuzzy_join" -> "fj", "gini_sources" -> "gs", "gopher_rules" -> "gr",
    "grouping_sets" -> "go", "hard_negatives" -> "ha", "hash_sample" -> "hs", "hist_quantiles" -> "hq",
    "hll_distinct" -> "hd", "image_features" -> "if", "image_phash" -> "ip", "image_resize" -> "ir",
    "incl_backout" -> "ib", "incr_compact" -> "ic", "incr_dedup" -> "id", "incr_pipeline" -> "in",
    "incr_sem_compact" -> "is", "incr_sem_dedup" -> "ie", "incr_sem_trained" -> "im", "ivf_ann" -> "ia",
    "ivf_sweep" -> "iv", "ivfpq_ann" -> "iq", "ivfsq_ann" -> "ig", "ivfsq_recall" -> "il",
    "json_corrupt" -> "js", "json_extract" -> "je", "json_roundtrip" -> "jr", "k_anonymity" -> "ka",
    "k_generalize" -> "kg", "key_union" -> "ku", "kmeans_iter" -> "ki", "kmeans_step" -> "ks",
    "kmv_by_group" -> "kb", "kmv_distinct" -> "kd", "knn_classify" -> "kc", "knn_graph" -> "kn",
    "ks_drift" -> "kr", "l_diversity" -> "ld", "l_generalize" -> "lg", "label_centroids" -> "la",
    "label_prop" -> "lp", "lang_id" -> "li", "lead_ntile" -> "ln", "length_hist" -> "le",
    "lid_confusion" -> "lo", "line_dups" -> "lu", "linear_score" -> "ls", "lm_logprob" -> "ll",
    "lsh_ann" -> "lb", "media_features" -> "mf", "minhash_error" -> "me", "minhash_pairs" -> "mp",
    "minhash_sweep" -> "ms", "mix_schedule" -> "mi", "moments" -> "mo", "mrl_recall" -> "mr",
    "mrr" -> "ma", "mrr_ivf" -> "mv", "ndcg" -> "nc", "ndcg_ivf" -> "ni",
    "neardup_survivors" -> "ns", "nexus_check" -> "ne", "ngram_lang_id" -> "nl", "ngram_novelty" -> "nn",
    "oov_rate" -> "or", "orc_roundtrip" -> "oo", "pagerank" -> "pa", "para_dedup" -> "pd",
    "passage_dups" -> "ps", "perceptron_step" -> "pe", "period_gen" -> "pg", "phash_pairs" -> "pp",
    "pii_scrub" -> "pi", "pit_join" -> "pj", "pivot" -> "pv", "pmi" -> "pm",
    "pq_ann" -> "pq", "pq_encode" -> "pn", "profile" -> "pr", "q1_agg" -> "q1",
    "quality_floor" -> "qu", "quality_score" -> "qa", "quickscan" -> "qi", "race_per_key" -> "rp",
    "rand_proj" -> "ra", "range_join" -> "rn", "rank_stats" -> "rs", "rate_join" -> "rt",
    "rates_listing" -> "re", "refund_by_reason" -> "rb", "refund_by_state" -> "ru", "refund_claims" -> "rc",
    "refund_report" -> "rd", "refund_scan" -> "rg", "refund_summary" -> "rm", "repetition" -> "ri",
    "resample" -> "rh", "retention" -> "ro", "rolling_actives" -> "rv", "rolling_avg" -> "rk",
    "rolling_fp" -> "rq", "rollup" -> "rw", "rrf_fusion" -> "rx", "salted_agg" -> "sa",
    "salted_join" -> "sj", "sample_quantiles" -> "sp", "scd2" -> "sc", "schema_merge" -> "sh",
    "score_auc" -> "so", "score_deciles" -> "sd", "sem_dedup" -> "su", "semdedup_sweep" -> "sb",
    "semi_join" -> "si", "seq_pack" -> "sk", "sessionize" -> "sn", "shard_shuffle" -> "sr",
    "simhash" -> "sg", "simhash_pairs" -> "sl", "simhash_recall" -> "st", "skew_stats" -> "sv",
    "smj_join" -> "sy", "snapshot_diff" -> "sz", "sort_duedate" -> "s0", "source_mix" -> "s1",
    "split_assign" -> "s2", "split_leakage" -> "s3", "sq_ann" -> "s4", "sq_recall" -> "s5",
    "sql_ccnet_terciles" -> "s6", "sql_cross_source_dup" -> "s7", "sql_dedup_candidates" -> "s8", "sql_exact_dedup" -> "s9",
    "sql_ks_drift" -> "a", "sql_len_profile" -> "b", "sql_median" -> "c", "sql_quality_floor" -> "d",
    "sql_score_deciles" -> "e", "sql_source_share" -> "f", "sql_surface" -> "g", "sql_survivors" -> "h",
    "sql_winner" -> "i", "state_breakdown" -> "j", "state_quantiles" -> "k", "states_exempting" -> "l",
    "stratified_sample" -> "m", "stream_bloom" -> "n", "stream_cms" -> "o", "stream_dedup" -> "p",
    "stream_drift" -> "q", "stream_hll" -> "r", "stream_join" -> "s", "stream_neardup" -> "t",
    "stream_nexus" -> "u", "stream_sessions" -> "v", "stream_topk" -> "w", "stream_windows" -> "x",
    "substr_runs" -> "y", "substr_scrub" -> "z", "substr_stats" -> "aa", "subword_count" -> "ab",
    "t_closeness" -> "t_", "tax_calc" -> "ta", "tax_report" -> "tx", "tax_summary" -> "ts",
    "temp_mix" -> "te", "text_quality" -> "tt", "text_report" -> "tp", "tfidf" -> "ti",
    "tok_fertility" -> "to", "token_count" -> "tn", "token_entropy" -> "ty", "token_jaccard" -> "tj",
    "top_ngrams" -> "tg", "topk_asc_filtered" -> "tl", "topk_desc" -> "td", "topk_per_key" -> "tb",
    "trained_ivf_ann" -> "tv", "transitions" -> "th", "triangles" -> "tu", "triplet_mine" -> "tw",
    "txn_details" -> "tz", "txn_gen" -> "t0", "unigram_score" -> "un", "union" -> "ui",
    "unknown_state" -> "uk", "use_tax" -> "ut", "video_features" -> "vi", "vocab_coverage" -> "vo",
    "vocab_richness" -> "vr", "vocab_shift" -> "vs", "weighted_race" -> "we", "weighted_sample" -> "ws",
    "window_rank" -> "wi", "winnow" -> "wn", "winsorize" -> "wo", "zipf_slope" -> "zs",
    "zorder" -> "zo", "zscore" -> "zc")

  /** Machine-readable metric-line key RENAMES (old key → current key),
    * cumulative since the round-6 "stable" §9.2 table: apply to the
    * per-query map of a historical BENCH_r{N}.json to rekey it into the
    * current encoding before trending across rounds. Round 8: nine alias
    * shortenings plus six formerly-unaliased keys that gained aliases;
    * round 9: two shortenings (op_bpe_apply's new key forced headroom);
    * round 10: thirty-two shortenings freeing ~72 worst-case chars so the
    * next several catalog additions don't re-trip the line-fit guard.
    * BenchAliasSpec pins every value to a live metric key and every old
    * key to NOT be one (a rename can't silently alias a live query). */
  val aliasRenames: Map[String, String] = Map(
    "aft" -> "af", "alerts" -> "al", "alr" -> "al", "ann_tk" -> "at",
    "anr" -> "ar", "anti" -> "aj", "asof" -> "as", "ast" -> "ao",
    "atk" -> "at", "auc" -> "so", "aud_ft" -> "af", "bat" -> "ba",
    "batch" -> "ba", "bgs" -> "bg", "bka" -> "bu", "bkj" -> "bc",
    "bko" -> "ib", "bl" -> "bo", "blm" -> "bj", "bloom" -> "bj",
    "bm25" -> "bm", "bnst" -> "bs", "boil" -> "bo", "bpe" -> "br",
    "bpea" -> "bp", "bsv" -> "be", "c4" -> "cr", "c_bkt" -> "cb",
    "cbk" -> "cb", "cc" -> "cj", "cdc" -> "cd", "cdr" -> "ck",
    "cent" -> "la", "chd" -> "ch", "chk" -> "cu", "chunk" -> "cu",
    "claims" -> "cl", "clm" -> "cl", "cls" -> "cs", "cms" -> "cm",
    "cooc" -> "cj", "corr" -> "cq", "cp" -> "c0", "cpf" -> "cf",
    "cpk" -> "ca", "cpt" -> "co", "cso" -> "cw", "csv_kv" -> "cx",
    "csvr" -> "cy", "ctm" -> "cg", "ctn" -> "ci", "cube" -> "cz",
    "cur" -> "c0", "cv" -> "cy", "dat" -> "db", "dc" -> "da",
    "dcard" -> "da", "dd_cl" -> "de", "dd_rec" -> "dr", "ddc" -> "de",
    "ddl" -> "fi", "ddr" -> "dr", "ddx" -> "dd", "dfp" -> "df",
    "dgh" -> "dh", "dist" -> "ds", "dnf" -> "dn", "doc_fp" -> "df",
    "dss" -> "dl", "dsw" -> "dw", "dt" -> "di", "dtr" -> "di",
    "dtrunc" -> "di", "due" -> "s0", "e_near" -> "em", "edr" -> "ed",
    "eff" -> "er", "en" -> "eb", "enorm" -> "eb", "enr" -> "em",
    "eol" -> "eo", "ev_win" -> "ew", "evw" -> "ew", "exc" -> "ex",
    "except" -> "ex", "f_proj" -> "fp", "f_semi" -> "fs", "fd" -> "fi",
    "fka" -> "fa", "fnl" -> "fu", "fpj" -> "fp", "fsm" -> "fs",
    "funnel" -> "fu", "fuzzy" -> "fj", "fzy" -> "fj", "goph" -> "gr",
    "gsets" -> "go", "gst" -> "go", "h_qtl" -> "hq", "h_smp" -> "hs",
    "hn" -> "ha", "hneg" -> "ha", "hqt" -> "hq", "hsm" -> "hs",
    "i_ph" -> "ip", "i_rs" -> "ir", "icc" -> "ic", "ift" -> "if",
    "img_ft" -> "if", "incd" -> "id", "iph" -> "ip", "ipl" -> "in",
    "ipq" -> "iq", "irs" -> "ir", "isc" -> "is", "isd" -> "ie",
    "ivf" -> "ia", "ivfpq" -> "iq", "jac" -> "tj", "jc" -> "js",
    "jrt" -> "jr", "jsrt" -> "jr", "jsx" -> "je", "kan" -> "ka",
    "key_un" -> "ku", "kgn" -> "kg", "kmeans" -> "ks", "kmi" -> "ki",
    "kmn" -> "ks", "kmv" -> "kd", "knc" -> "kc", "knn" -> "kn",
    "kun" -> "ku", "kvg" -> "kb", "lc" -> "la", "ldv" -> "ld",
    "lh" -> "le", "lid" -> "li", "lin" -> "ls", "lnd" -> "lu",
    "lsh" -> "lb", "med_ft" -> "mf", "mft" -> "mf", "mh_p" -> "mp",
    "mhe" -> "me", "mhp" -> "mp", "mhs" -> "ms", "mix" -> "mi",
    "mom" -> "mo", "nd" -> "ns", "ndup" -> "ns", "nexus" -> "ne",
    "ngr" -> "tg", "nli" -> "nl", "nnv" -> "nn", "nt" -> "ln",
    "ntile" -> "ln", "nx" -> "ne", "oc" -> "oo", "oov" -> "or",
    "orcr" -> "oo", "pack" -> "sk", "padd" -> "pd", "per" -> "pg",
    "pgr" -> "pa", "ph_p" -> "pp", "php" -> "pp", "pii" -> "pi",
    "pit" -> "pj", "pivot" -> "pv", "pq_ann" -> "pq", "pq_enc" -> "pn",
    "pqe" -> "pn", "prof" -> "pr", "psg" -> "ps", "pst" -> "pe",
    "pvt" -> "pv", "q1_agg" -> "q1", "qf" -> "qu", "ql" -> "qa",
    "qs" -> "qi", "qscan" -> "qi", "qual" -> "qa", "quant" -> "eq",
    "qz" -> "eq", "ract" -> "rv", "rate_j" -> "rt", "rates" -> "re",
    "ravg" -> "rk", "rep" -> "ri", "repeat" -> "ri", "resmpl" -> "rh",
    "ret" -> "ro", "rf" -> "rm", "rf_cl" -> "rc", "rf_rpt" -> "rd",
    "rf_st" -> "ru", "rfc" -> "rc", "rfp" -> "rq", "rfr" -> "rb",
    "rfs" -> "rm", "rfsc" -> "rg", "rj" -> "rn", "rkst" -> "rs",
    "rl" -> "re", "rlp" -> "rw", "rng_j" -> "rn", "rollup" -> "rw",
    "rpj" -> "ra", "rpk" -> "rp", "rr" -> "rb", "rrp" -> "rd",
    "rsm" -> "rh", "rst" -> "ru", "rtj" -> "rt", "s_nx" -> "u",
    "s_win" -> "x", "sbk" -> "j", "scd2" -> "sc", "scm" -> "sh",
    "sdd" -> "p", "sdr" -> "q", "sds" -> "sb", "se" -> "sn",
    "semd" -> "su", "semi" -> "si", "sess" -> "sn", "sf" -> "m",
    "shard" -> "sr", "shd" -> "sr", "shp" -> "sl", "shr" -> "st",
    "simh" -> "sg", "sjn" -> "s", "skw" -> "sv", "slk" -> "s3",
    "slta" -> "sa", "sltj" -> "sj", "sm" -> "s1", "smix" -> "s1",
    "smj" -> "sy", "snd" -> "t", "snp" -> "sz", "snx" -> "u",
    "spl" -> "s2", "split" -> "s2", "sq" -> "k", "sql" -> "g",
    "sqt" -> "sp", "ss" -> "v", "sses" -> "v", "st_ex" -> "l",
    "stbrk" -> "j", "stk" -> "w", "stq" -> "k", "strat" -> "m",
    "subw" -> "ab", "sw" -> "ab", "swn" -> "x", "sx" -> "l",
    "t_det" -> "tz", "tc" -> "tn", "tdt" -> "tz", "tf" -> "to",
    "tfidf" -> "ti", "tiv" -> "tv", "tk" -> "tl", "tka" -> "tl",
    "tkd" -> "td", "tkk" -> "tb", "tm" -> "te", "tmix" -> "te",
    "tokc" -> "tn", "tq" -> "tt", "tr" -> "th", "trans" -> "th",
    "tri" -> "tu", "ttr" -> "tp", "txc" -> "ta", "txg" -> "t0",
    "txr" -> "tx", "txs" -> "ts", "ugs" -> "un", "uni" -> "ui",
    "unks" -> "uk", "us" -> "uk", "uset" -> "ut", "vc" -> "vo",
    "vcov" -> "vo", "vf" -> "vi", "vft" -> "vi", "vsh" -> "vs",
    "winw" -> "wn", "wr" -> "wi", "wrc" -> "we", "wrnk" -> "wi",
    "wsm" -> "ws", "ww" -> "wn", "wz" -> "wo", "x2" -> "ct",
    "zord" -> "zo", "zsc" -> "zc")
  // Round-19 ledger batch: reopened ONCE for the wholesale 1-2 char
  // re-keying (see [[alias]]); pre-r19 entries were retargeted through the
  // new map (transitive chains collapsed — a round-8 source points directly
  // at its final r19 key), and every CURRENT key that had appeared in a
  // committed BENCH_r*.json metric line gained an entry. Sources stay
  // genuine historical keys only: queries born after round 15 (the keyless
  // era) changed alias WITHOUT a ledger entry, since no committed line ever
  // carried their old key — exactly the birth-alias rule. BenchAliasSpec
  // still pins: every source historical, every target live, no source live.

  /** Metric-line key for a catalog query name: strip "op_", then alias. */
  def metricKey(name: String): String = {
    val s = name.stripPrefix("op_")
    alias.getOrElse(s, s)
  }

  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** DESCENDING pass-1-cost schedule for the budgeted second pass: slowest
    * queries first (name tiebreak). The r16 lesson inverted the r15 one:
    * cheapest-first maximized COVERAGE COUNT, but on a contended box the
    * headline's distortion lives entirely in the pass-1 OUTLIERS (a 0.9 s
    * query reading 35 s of scheduler noise), and cheapest-first spent the
    * whole budget re-measuring queries that were already fine while the
    * outliers kept their bogus numbers and the official total regressed
    * +57% on zero code change. Slowest-first re-measures exactly the
    * queries whose pass-1 reading dominates (and most distorts) the
    * min-of-2 sum — each warm hit there removes the most headline error
    * per budget-second; the cheap tail a partial budget leaves uncovered
    * contributes near-zero either way. Pure so BenchSidecarSpec pins the
    * order. */
  def pass2Order(p1: Map[String, Double]): Seq[String] =
    p1.toSeq.sortBy { case (n, v) => (-v, n) }.map(_._1)

  /** Contention detector: warm-up seconds beyond which the box is flagged
    * `contended` in the sidecar and metric line. The warm-up (session init
    * + parquet footers + the one-time shared-lineage persist) is the same
    * fixed work every run, so its wall time is a pure load probe:
    * calibrated on the sf0.1 history — builder-box readings span 8-24 s
    * (the 24.2 s run's per-query minima sat INSIDE the idle ambient band,
    * so it must not flag), the contended driver box read 31.9 s (r16) —
    * the threshold splits the two regimes. At smaller SFs warm-up
    * is far cheaper and the flag simply never fires; false negatives on a
    * lightly-contended box are fine (the flag is an adjudication AID for
    * headline readers, not a gate). */
  val contendedWarmSec: Double = 28.0

  /** Pass-2 time budget in seconds. The default (no override) is the
    * contended-box guard: whatever the old 420 s all-or-nothing wall
    * left after warmup + pass 1, floored at 120 s. `SPARK_GRAFT_P2_BUDGET`
    * overrides it — `full` (or any non-numeric value) = unbounded, a
    * number = that many seconds — so an IDLE box can run pass 2 to
    * COMPLETION and commit a sidecar with `agg = min_of_2`, keeping the
    * round-over-round headline comparable (the r15 lesson: a budgeted
    * cheapest-first pass 2 on the idle box left the expensive tail on
    * cold pass-1 numbers and the headline read as a 2× regression).
    * `NaN` parses numerically but would make the budget predicate
    * always-false — it maps to unbounded like any other non-numeric
    * string; a negative number clamps to an explicit ZERO budget
    * (deliberate pass-2 skip).
    * When `p2_covered` < catalog size anyway, `pass1_total` is the
    * cross-round trend metric, not the partial min-of-2 headline. Pure
    * so BenchSidecarSpec pins the override grammar. */
  def p2BudgetFor(elapsed: Double, env: Option[String]): Double =
    env match {
      case Some(s) =>
        val v = try { s.toDouble } catch {
          case _: NumberFormatException => Double.PositiveInfinity
        }
        // parseDouble accepts "NaN" — and elapsed < NaN is always false,
        // which would SILENTLY skip pass 2, the opposite of the
        // documented non-numeric = unbounded grammar; negatives clamp to
        // an explicit zero budget (deliberate pass-2 skip)
        if (v.isNaN) Double.PositiveInfinity else math.max(0.0, v)
      case None => math.max(120.0, 420.0 - elapsed)
    }

  /** Full-fidelity sidecar JSON (round-10 headroom decision, SURVEY §9.2):
    * unaliased query names, 3-decimal seconds, min-of-2 AND pass-1 values —
    * the trend ledger that survives any stdout-line degradation. Pure so
    * BenchSidecarSpec can pin the format without running a bench.
    * `p2Covered` ≥ 0 marks a BUDGETED second pass (agg min_of_2_partial):
    * how many queries got both passes — the per-query two-pass data for the
    * warm subset survives even on a contended box. */
  def sidecarJson(total: Double, agg: String, warmSec: Double,
      p1Total: Double, failed: Seq[String], sfDir: String,
      results: Map[String, Double], p1: Map[String, Double],
      p2Covered: Int = -1): String = {
    def fullJson(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cov = if (p2Covered >= 0) s""""p2_covered":$p2Covered,""" else ""
    // contended rides in the full-fidelity ledger ALWAYS (true or false):
    // a future reader diffing headlines across rounds adjudicates
    // contention from the committed file without judge forensics
    val cont = warmSec > contendedWarmSec
    s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""exec":"plan","agg":"$agg","warm_sec":${f3(warmSec)},"contended":$cont,""" +
      s""""pass1_total":${f3(p1Total)},""" +
      s"""$cov"failed":$failedJson,"sf":"$sfDir",""" +
      s""""queries":${fullJson(results)},"pass1":${fullJson(p1)}}"""
  }

  /** The stdout metric line with its degradation ladder — PURE so
    * BenchAliasSpec can pin the contract at any catalog size without
    * running a bench. The driver captures only the last ~2000 chars of
    * stdout and json-parses this line, so the emitted form must ALWAYS
    * fit that window: slim levels 0-4 (each dropping informational side
    * fields, never per-query data), then coarsen the KEYED map
    * (deciseconds), then drop at most 1/6 of the cheapest keyed entries,
    * then integer-second keyed maps, then the keyless qv arrays, then
    * max-slowest-that-fits. KEYED rungs come first (round 19): the
    * driver's per-query trend alignment works by key, so a keyed map
    * covering 83%+ of the catalog outranks a keyless array covering all
    * of it. Failures are never dropped at any level. */
  def metricLine(results: Seq[(String, Double)], total: Double, agg: String,
      warmSec: Double, p1Total: Double, failed: Seq[String],
      sfDir: String, p2Covered: Int = -1): String = {
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // a budgeted partial second pass is ALWAYS marked with its coverage —
    // the field rides next to agg at every slim level (a silent partial
    // would corrupt the min-of-2 trend exactly like a silent unit change)
    val covField = if (p2Covered >= 0) s""","p2_covered":$p2Covered""" else ""
    // contention flag: emitted ONLY when true (idle runs pay zero line
    // chars) and at EVERY slim level — a distorted headline without the
    // flag is exactly the r16 adjudication failure this field closes
    val contField =
      if (warmSec > contendedWarmSec) s""","contended":true""" else ""
    // Per-query values as INTEGER CENTISECONDS keyed by [[metricKey]]
    // ("op_" stripped, aliased per [[alias]] — SURVEY §9.2 maps them
    // back). Coarser rungs divide to DECISECONDS / SECONDS instead
    // (marked `"qunit"` on the line).
    def qJson(m: Seq[(String, Double)], div: Int): String = m
      .map { case (k, v) =>
        "\"" + metricKey(k) + "\":" + math.round(v * 100 / div).toString }
      .mkString("{", ",", "}")
    val sorted = results.sortBy(_._1)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Values-only encoding for the coarse rungs: every query's value in
    // ASCENDING unaliased-op-name order (the deterministic order any
    // reader reconstructs from the catalog), keys implied — key length
    // stops mattering, so ALL queries survive at any realistic size.
    def qArr(div: Int): String = sorted
      .map { case (_, v) => math.round(v * 100 / div).toString }
      .mkString("[", ",", "]")
    def line(qs: String, omitted: Int, slim: Int, unit: String): String = {
      val om = if (omitted > 0) s""","q_omitted":$omitted""" else ""
      // slim >= 1: drop the informational pass1_total and an EMPTY failed
      // list (never a non-empty one — failures must stay visible).
      // slim >= 2: also drop warm_sec and shorten sf to its basename.
      // slim >= 3: also drop the qunit/qprefix self-documentation (the
      // encoding is stable across rounds and documented in SURVEY §9) —
      // per-query trend data for every query outranks all side fields.
      // A non-default unit is ALWAYS marked, even at slim 3 (a silent
      // unit change would corrupt the trend ledger).
      val p1 = if (slim >= 1) "" else s""","pass1_total":${f(p1Total)}"""
      val fl = if (slim >= 1 && failed.isEmpty) "" else s""","failed":$failedJson"""
      val ws = if (slim >= 2) "" else s""","warm_sec":${f(warmSec)}"""
      val sf = if (slim >= 2) new java.io.File(sfDir).getName else sfDir
      val qu = if (slim >= 3) {
        if (unit == "cs") "" else s""","qunit":"$unit""""
      } else
        s""","qunit":"$unit","qkeys":"op_-stripped, aliased per SURVEY 9.2""""
      // slim >= 4: drop the agg self-documentation too — it is derivable
      // (p2_covered present == min_of_2_partial, absent == min_of_2, and
      // the sidecar always carries it verbatim); the honesty-critical
      // fields (p2_covered, contended, non-empty failed, non-default
      // qunit) ride at EVERY level
      val ag = if (slim >= 4) "" else s""","agg":"$agg""""
      s"""{"metric":"total","value":${f(total)},"unit":"sec"$ag$covField$contField$qu,"queries":$qs$om$p1$ws$fl,"sf":"$sf"}"""
    }
    // Values-array sibling of line() at slim 3: "qv" replaces "queries",
    // with the order spelled out so the encoding is self-describing. EVERY
    // declared query appears in qv — a failed query still records its
    // (meaningless) elapsed slot so positional alignment against the
    // catalog never shifts; the failed list marks which values to ignore.
    // The qorder string says so explicitly.
    def lineArr(unit: String): String = {
      val fl = if (failed.isEmpty) "" else s""","failed":$failedJson"""
      val sf = new java.io.File(sfDir).getName
      val div = if (unit == "ds") 10 else 100
      s"""{"metric":"total","value":${f(total)},"unit":"sec","agg":"$agg"$covField$contField""" +
        s""","qunit":"$unit","qorder":"asc query name, failed included","qv":${qArr(div)}""" +
        s"""$fl,"sf":"$sf"}"""
    }
    // hard guard: never emit a metric line that cannot fit the 2000-char
    // tail. Degrade in steps (round-19 ordering — the driver aligns
    // per-query trends by KEY, so KEYED rungs outrank keyless ones):
    // full -> minus informational fields (slim 0-4) -> COARSEN to keyed
    // DECISECONDS (slim 3 then 4) -> drop at most 1/6 of the CHEAPEST
    // queries from the keyed-ds map (q_omitted accounts for them; at ds
    // the dropped entries are the sub-0.05 s tail whose value reads 0
    // anyway, while the kept 83%+ trend at 0.1 s granularity — strictly
    // more driver-usable than an all-keys integer-seconds map where the
    // whole sub-second tail reads 0, and than the keyless qv array the
    // round-18 driver could not align at all) -> keyed integer-second
    // maps -> the keyless ds/s VALUES-ARRAYS (self-describing via
    // "qorder"; key length stops bounding the catalog) -> only then the
    // MAXIMUM number of slowest queries that fits (seconds encoding).
    // Failures are never dropped. 1960 leaves 40 chars of margin to the
    // true window.
    val bySlow = sorted.sortBy(-_._2)
    val fits = (s: String) => s.length <= 1960
    val keyedFull =
      (0 to 3).map(s => line(qJson(sorted, 1), 0, s, "cs")) ++
        Seq(line(qJson(sorted, 10), 0, 3, "ds"),
          line(qJson(sorted, 10), 0, 4, "ds"))
    val dropCheapestDs = Iterator.range(bySlow.length - 1,
        math.max(0, bySlow.length - sorted.length / 6 - 1), -1)
      .map { n =>
        line(qJson(bySlow.take(n).sortBy(_._1), 10), sorted.length - n,
          slim = 4, unit = "ds")
      }
      .find(fits)
    keyedFull.find(fits)
      .orElse(dropCheapestDs)
      .orElse(Seq(line(qJson(sorted, 100), 0, 3, "s"),
          line(qJson(sorted, 100), 0, 4, "s"),
          lineArr("ds"), lineArr("s")).find(fits))
      .getOrElse(Iterator.range(bySlow.length - 1, 0, -1)
        .map { n =>
          line(qJson(bySlow.take(n).sortBy(_._1), 100), sorted.length - n,
            slim = 4, unit = "s")
        }
        .find(fits)
        .getOrElse(line("{}", sorted.length, slim = 4, unit = "s")))
  }

  /** The scale-factor directory [[Bench]] and [[Probe]] read. */
  def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val sfDir = envSfDir
    val spark = GraftSession("graft-bench")
    // Warm-up: session init, parquet footer reads, and a ONE-TIME
    // materialization of the shared tax/refund/dedup lineages (reused by
    // 20+ queries via the CacheManager).
    val w0 = System.nanoTime()
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      // sequential on purpose: each materialization already fills all
      // executor slots, so concurrent counts only add contention
      Catalog.sharedFrames(spark, sfDir).foreach(
        _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count())
    } catch { case _: Throwable => }
    val warmSec = (System.nanoTime() - w0) / 1e9
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // Execute each query's OWN physical plan (toRdd), NOT Dataset.count():
    // round-17 finding — Catalyst re-optimizes the count() plan and can
    // prune expensive subtrees whose row count is statically derivable
    // (unique-key left-join elimination made op_mrr's brute scan vanish:
    // 0.4 s measured for a 60+ s plan at ×100; a `Probe count-audit`
    // sweep found 36 queries with count-pruned leaves). toRdd runs the
    // declared plan as planned — what the bench claims to measure.
    // Convention change marked "exec":"plan" in the sidecar; pre-r17
    // per-query trends for the pruned set under-measured.
    def runPlan(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }
    def pass(): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { runPlan(fn(spark, sfDir)) }
        catch { case _: Throwable => failed += name }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    val p1 = pass()
    // Second pass under a TIME BUDGET instead of the round-13 all-or-
    // nothing 420 s guard (which produced a pass1_only artifact on the
    // driver's contended box — no per-query two-pass data at all): pass 2
    // visits queries slowest-pass-1-first (see [[pass2Order]] — the
    // expensive tail is exactly where a cold-JIT pass-1 reading is least
    // trustworthy, so warm those first) and stops STARTING new ones
    // once its budget is spent; what any budget cuts is the cheap tail,
    // whose pass-1 readings were near-asymptotic anyway.
    // Budget = what the old guard left (420 s minus warm+pass1), floored
    // at 120 s so a contended box ALWAYS attempts the warm subset. An
    // idle box exports SPARK_GRAFT_P2_BUDGET=full for a complete
    // min-of-2 sidecar (see [[p2BudgetFor]]).
    val elapsed = (System.nanoTime() - w0) / 1e9
    val p2Budget = p2BudgetFor(elapsed, sys.env.get("SPARK_GRAFT_P2_BUDGET"))
    val p2t0 = System.nanoTime()
    val byCost = pass2Order(p1)
    val qmap = SparkEntry.queries
    // A pass-2 exception records NO timing (flatMap drops the entry): a
    // fast failure is not a warm measurement, and min-of-2 must fall back
    // to the valid pass-1 value instead of absorbing the bogus minimum
    // into `results` and the summed total. The failed list still marks it.
    val p2: Map[String, Double] = byCost.iterator
      .takeWhile(_ => (System.nanoTime() - p2t0) / 1e9 < p2Budget)
      .flatMap { name =>
        val t0 = System.nanoTime()
        try {
          runPlan(qmap(name)(spark, sfDir))
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => failed += name; None }
      }.toMap
    val agg = if (p2.size == p1.size) "min_of_2" else "min_of_2_partial"
    val results = p1.map { case (k, v) =>
      k -> p2.get(k).map(math.min(v, _)).getOrElse(v) }
    // The driver captures only the last ~2000 chars of output and
    // json-parses the metric line — built by the pure [[metricLine]]
    // ladder and made the very last line (build.sbt suppresses sbt's
    // "[success]" trailer and forwards forked stdout unprefixed).
    // pass1_total = the first (cold-cache/JIT) sweep, for transparency
    // alongside the per-query minima that `value` sums. A query that threw
    // still reports its (meaningless) elapsed time — the failed list is
    // what marks it; the correctness gate is Verify, not this.
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val p1Total = if (p1.nonEmpty) p1.values.sum else 0.0
    spark.sparkContext.setLogLevel("ERROR") // keep shutdown quiet after the metric line
    val p2Covered = if (p2.size == p1.size) -1 else p2.size
    val out = metricLine(results.toSeq, total, agg, warmSec, p1Total,
      failed.toSeq, sfDir, p2Covered)
    // Durable full-fidelity sidecar (round-10 headroom decision, SURVEY
    // §9.2): the stdout line is the DRIVER contract and must fit its
    // 2000-char tail, so it degrades (slim levels, then drop-cheapest with
    // q_omitted). This file is the TREND ledger: full query names, 3-decimal
    // seconds, both passes — so stdout degradation never loses per-query
    // data; commit it with the round. Best-effort: a bench must never fail
    // on a read-only working dir.
    try {
      val side = sidecarJson(total, agg, warmSec, p1Total, failed.toSeq,
        sfDir, results, p1, p2Covered)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL_LOCAL.json"),
        (side + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => }
    println(out)
    System.out.flush()
    spark.stop()
  }
}
