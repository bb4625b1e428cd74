package graft

/** DuckDB-oracle SQL mirrors for [[SparkEntry.queries]].
  *
  * Parity rules (both engines must produce bit-identical values, AND the
  * driver's pandas frames must stringify those values identically —
  * round 1's 18 hash mismatches were all representational: Spark parquet
  * DECIMAL reaches pandas as `Decimal('0.10')`, DuckDB DECIMAL as float
  * `0.1`):
  *  - money math stays in exact decimal ×/+ internally (decimal DIVISION is
  *    avoided — DuckDB computes it in DOUBLE), but every FINAL projection
  *    casts decimals to DOUBLE on both sides; decimal→double is correctly
  *    rounded in both engines, so equal decimals give bit-identical floats.
  *  - DuckDB sum() over INTEGER returns HUGEINT, which lands in pandas as
  *    float64 — wrap integer sums in CAST(... AS BIGINT).
  *  - double division (pct-of-threshold, cosine) is IEEE-identical in both
  *    engines; float→string printf is NOT (Java %.Nf rounds HALF_UP, C
  *    half-even) — display strings are derived from exact decimals/ints.
  *  - every aggregate / computed column is aliased identically on both
  *    sides (the driver sorts columns by name before hashing); outputs are
  *    flat scalars only (arrays/structs crash the driver's pandas sort).
  */
object OracleSql {
  /** Fixture parquet written by tools/extract_dims.py — same dim data as
    * [[graft.tax.TaxDims]] literals. */
  val Fix = "/root/repo/src/test/resources/taxdata"

  /** Synthetic transactions CTE — mirrors [[graft.tax.SyntheticTxns.txns]]
    * exactly (integer + decimal arithmetic only). */
  val txnsCte: String = s"""
    states AS (
      SELECT state_idx, state_code, state_name, base_rate, has_local_taxes,
             avg_combined_rate
      FROM read_parquet('$Fix/state_rates.parquet')
    ),
    txns0 AS (
      SELECT
        CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS transaction_id,
        CAST(l_shipdate AS DATE) AS transaction_date,
        CAST(CAST((l_orderkey * 97 + l_partkey * 31 + l_linenumber * 13) % 500000 AS DECIMAL(18,0))
             * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS amount,
        s.state_code AS state, s.state_name, s.base_rate, s.has_local_taxes,
        s.avg_combined_rate,
        CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE
          CASE (l_partkey + l_linenumber) % 7
            WHEN 0 THEN 'Houston' WHEN 1 THEN 'Los Angeles'
            WHEN 2 THEN 'New York City' WHEN 3 THEN 'Springfield'
            WHEN 4 THEN 'CHICAGO' WHEN 5 THEN 'denver' END
        END AS city,
        CASE l_partkey % 8
          WHEN 0 THEN 'electronics' WHEN 1 THEN 'grocery'
          WHEN 2 THEN ' Groceries ' WHEN 3 THEN 'clothing'
          WHEN 4 THEN 'prescription' WHEN 5 THEN 'software'
          WHEN 6 THEN 'medical' END AS item_category,
        CASE WHEN l_orderkey % 23 = 5
          THEN 'CERT-' || CAST(l_orderkey AS VARCHAR) END AS exemption_certificate,
        CASE l_orderkey % 17 WHEN 0 THEN 'wholesale' WHEN 1 THEN 'exempt'
          ELSE 'retail' END AS customer_type,
        (l_suppkey + l_linenumber) % 5 AS paid_bp
      FROM lineitem
      JOIN states s ON s.state_idx = (l_suppkey + l_partkey) % 51
    ),
    txns AS (
      SELECT *,
        CAST(round(amount * CASE paid_bp
          WHEN 0 THEN CAST(0.0850 AS DECIMAL(6,4))
          WHEN 1 THEN CAST(0.0000 AS DECIMAL(6,4))
          WHEN 2 THEN CAST(0.0600 AS DECIMAL(6,4))
          WHEN 3 THEN CAST(0.0825 AS DECIMAL(6,4))
          ELSE CAST(0.1000 AS DECIMAL(6,4)) END, 2) AS DECIMAL(18,2)) AS tax_paid
      FROM txns0
    )"""

  /** Per-transaction tax computation CTE (`taxcalc`) — mirrors
    * [[graft.tax.TaxCalc.withTax]]: CASE precedence no-tax → customer-type
    * → cert → category, average-local fallback, per-component HALF_UP
    * rounding (synthetic states always resolve, so no unknown-state rows).
    * All-exclusive pricing (back-out needs decimal division — covered by
    * ScalaTest goldens instead). */
  val taxCte: String = s"""
    $txnsCte,
    locals AS (
      SELECT state_code, city_lc, rate
      FROM read_parquet('$Fix/local_rates.parquet')
    ),
    exsyncat AS (
      SELECT e.state_code, c.synonym, e.category
      FROM read_parquet('$Fix/state_exemptions.parquet') e
      JOIN read_parquet('$Fix/category_synonyms.parquet') c USING (category)
    ),
    joined AS (
      SELECT t.*, lr.rate AS lr_rate, ex.category AS ex_category
      FROM txns t
      LEFT JOIN locals lr
        ON lr.state_code = t.state AND lower(t.city) = lr.city_lc
      LEFT JOIN exsyncat ex
        ON ex.state_code = t.state
       AND lower(trim(t.item_category)) = ex.synonym
    ),
    flags AS (
      SELECT *,
        (base_rate = CAST(0 AS DECIMAL(10,6)) AND NOT has_local_taxes) AS no_tax,
        (customer_type IN ('wholesale','exempt')) AS cust_ex,
        (exemption_certificate IS NOT NULL) AS cert_ex,
        (ex_category IS NOT NULL) AS cat_ex,
        CASE WHEN lr.lr_rate IS NOT NULL THEN CAST(lr.lr_rate AS DECIMAL(11,6))
             -- NOT greatest(): DuckDB's greatest() degrades DECIMAL to DOUBLE,
             -- which loses exact .xx5 half-up rounding downstream
             WHEN has_local_taxes THEN
               (CASE WHEN avg_combined_rate - base_rate > CAST(0 AS DECIMAL(11,6))
                     THEN avg_combined_rate - base_rate
                     ELSE CAST(0 AS DECIMAL(11,6)) END)
             ELSE CAST(0 AS DECIMAL(11,6)) END AS local_rate
      FROM joined lr
    ),
    taxcalc AS (
      SELECT transaction_id, transaction_date, state, city, amount, tax_paid,
        customer_type,
        (no_tax OR cust_ex OR cert_ex OR cat_ex) AS is_exempt,
        CASE WHEN no_tax THEN state_name || ' has no sales tax'
             WHEN cust_ex THEN 'Customer type: ' || customer_type
             WHEN cert_ex THEN 'Exemption cert: ' || exemption_certificate
             WHEN cat_ex THEN state || ' exempts ' || ex_category
             ELSE '' END AS exemption_reason,
        amount AS taxable_amount,
        CAST(CASE WHEN (no_tax OR cust_ex OR cert_ex OR cat_ex) THEN 0
             ELSE round(amount * base_rate, 2) END AS DECIMAL(18,2)) AS state_tax,
        CAST(CASE WHEN (no_tax OR cust_ex OR cert_ex OR cat_ex) THEN 0
             ELSE round(amount * local_rate, 2) END AS DECIMAL(18,2)) AS local_tax,
        CAST(CASE WHEN (no_tax OR cust_ex OR cert_ex OR cat_ex) THEN 0
             ELSE round(amount * base_rate, 2) + round(amount * local_rate, 2)
             END AS DECIMAL(18,2)) AS tax_amount,
        CASE WHEN (no_tax OR cust_ex OR cert_ex OR cat_ex)
             THEN CAST(0 AS DECIMAL(12,6))
             ELSE base_rate + local_rate END AS combined_rate
      FROM flags
    )"""

  /** Overpayment-records CTE (`refunds`) — mirrors
    * [[graft.tax.Refunds.overpayments]] with as_of pinned to 2004-06-15
    * (shipdates span 1995-2001, so both SOL outcomes occur). Reason emitted
    * as its prefix only (the full string embeds %.4f-formatted doubles whose
    * rendering is engine-specific). */
  val refundsCte: String = s"""
    $taxCte,
    sol AS (
      SELECT state_code, years FROM read_parquet('$Fix/sol_years.parquet')
    ),
    refunds AS (
      SELECT t.transaction_id, t.transaction_date, t.state, t.city,
        t.amount AS sale_amount, t.tax_paid, t.tax_amount AS tax_owed,
        CAST(round(t.tax_paid - t.tax_amount, 2) AS DECIMAL(18,2)) AS overpayment,
        CASE WHEN t.is_exempt THEN 'Exempt transaction taxed'
             WHEN t.tax_amount > 0 THEN 'Rate mismatch'
             ELSE 'Tax collected in no-tax jurisdiction' END AS reason_key,
        (t.transaction_date >=
          make_date(2004 - coalesce(s.years, 3), 6, 15)) AS refund_eligible,
        make_date(CAST(year(t.transaction_date) AS INT) + coalesce(s.years, 3),
          CAST(month(t.transaction_date) AS INT),
          CASE WHEN month(t.transaction_date) = 2 AND day(t.transaction_date) = 29
                AND NOT (((CAST(year(t.transaction_date) AS INT) + coalesce(s.years, 3)) % 4 = 0
                          AND (CAST(year(t.transaction_date) AS INT) + coalesce(s.years, 3)) % 100 <> 0)
                         OR (CAST(year(t.transaction_date) AS INT) + coalesce(s.years, 3)) % 400 = 0)
               THEN 28 ELSE CAST(day(t.transaction_date) AS INT)
          END) AS statute_of_limitations_date
      FROM taxcalc t
      LEFT JOIN sol s ON s.state_code = t.state
      WHERE round(t.tax_paid - t.tax_amount, 2) > 0
    )"""

  /** documents ∪ perturbed copies of every 10th doc — mirrors
    * [[Catalog.dedupCorpus]]. */
  val corpusCte: String = """
    corpus AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000000, text || ' near duplicate copy suffix',
             lang, source, n_chars
      FROM documents WHERE doc_id % 10 = 0
    )"""

  private def splitCount(words: Seq[String]): String =
    words.map(w => s"(len(string_split_regex(pad, '\\s$w\\s')) - 1)")
      .mkString(" + ")

  /** Per-language stopword-hit scores — mirrors TextOps.langId. */
  val langScoreSql: String = Seq(
    "s_en" -> Seq("the", "and", "of", "is", "with"),
    "s_es" -> Seq("el", "la", "los", "las", "es", "y"),
    "s_fr" -> Seq("le", "les", "des", "est", "et", "une"),
    "s_de" -> Seq("der", "die", "das", "und", "ist", "mit"))
    .map { case (n, ws) => s"${splitCount(ws)} AS $n" }.mkString(",\n          ")

  /** English stopword total — mirrors TextOps.qualitySignals. */
  val stopwordSumSql: String =
    splitCount(Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))

  /** Word-3-gram shingles of the dedup corpus — mirrors [[graft.text.Dedup
    * .shingles]] (distinct trigrams; short docs fall back to the joined
    * token string). Yields `shd(doc_id, s)`. */
  val shinglesCte: String = s"""
    $corpusCte,
    tok AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
      FROM corpus),
    shd AS MATERIALIZED (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest(
          CASE WHEN len(toks) >= 3 THEN
            list_transform(generate_series(1, len(toks) - 2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          ELSE [array_to_string(toks, ' ')] END) AS s
        FROM tok))"""

  /** Same shingle derivation over RAW documents (no perturbed corpus
    * copies) — yields `shd(doc_id, s)` for the cross-corpus contamination
    * oracle. Plain (non-interpolated) string: `\s` stays literal. */
  val shingleCteDocs: String = """
    tok0 AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
      FROM documents),
    shd AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest(
          CASE WHEN len(toks) >= 3 THEN
            list_transform(generate_series(1, len(toks) - 2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          ELSE [array_to_string(toks, ' ')] END) AS s
        FROM tok0))"""

  /** The MinHash affine coefficient families as SQL list literals — the
    * values of [[graft.functions.PortableTextSig.coefA]]/coefB. */
  private val coefASql = graft.functions.PortableTextSig.coefA.mkString("[", ", ", "]")
  private val coefBSql = graft.functions.PortableTextSig.coefB.mkString("[", ", ", "]")

  /** Engine-portable shingle hash — mirrors [[graft.text.Dedup
    * .portableHash]]: first 15 md5 hex chars as a 60-bit integer. */
  private def md5Long(col: String): String =
    s"CAST('0x' || substring(md5($col), 1, 15) AS BIGINT)"

  /** Weight + hash source for the race samplers (op_weighted_race /
    * op_race_per_key): weight = n_tokens² clamped to [1, 10⁶], h = md5-60
    * of the id string; lang carried for the per-group variant. Yields
    * `w(doc_id, lang, weight, h)`. */
  private val raceWeightCte: String = s"""w AS (
        SELECT doc_id, lang,
          greatest(CAST(1 AS BIGINT),
            least(tc * tc, CAST(1000000 AS BIGINT))) AS weight,
          ${md5Long("CAST(doc_id AS VARCHAR)")} AS h
        FROM (
          SELECT doc_id, lang,
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
                 END AS BIGINT) AS tc
          FROM documents))"""

  /** Race-key CTE chain over `w(..., weight, h)` — mirrors
    * [[graft.ops.Sampling.negLnU]] OPERATION-FOR-OPERATION (exponent via
    * length(bin(m))−1 plus a 61-entry power-of-two list, atanh-series
    * mantissa, identical IEEE arithmetic tree), so the priority double is
    * bit-exact cross-engine. Yields `s8` = w's columns + priority. */
  private val raceKeyCtes: String = {
    val pows = (0 to 60).map(1L << _).mkString("[", ",", "]")
    val terms = graft.ops.Sampling.RaceSeriesTerms
    val horner = (0 until terms - 1).reverse.foldLeft(
      s"(CAST(1 AS DOUBLE)/CAST(${2 * (terms - 1) + 1} AS DOUBLE))") {
      (acc, kk) =>
        s"((CAST(1 AS DOUBLE)/CAST(${2 * kk + 1} AS DOUBLE)) + z2 * $acc)"
    }
    s"""s1 AS (SELECT *, h + 1 AS m FROM w),
      s2 AS (SELECT *, CAST(length(bin(m)) - 1 AS INT) AS p FROM s1),
      s3 AS (SELECT *, ($pows)[p + 1] AS twop FROM s2),
      s4 AS (SELECT *,
        CAST(m - twop AS DOUBLE) / CAST(twop AS DOUBLE) AS f FROM s3),
      s5 AS (SELECT *, f / (f + CAST(2 AS DOUBLE)) AS z FROM s4),
      s6 AS (SELECT *, z * z AS z2 FROM s5),
      s7 AS (SELECT *, $horner AS t FROM s6),
      s8 AS (SELECT *,
        ((CAST(60 AS DOUBLE) - CAST(p AS DOUBLE))
            * CAST('0.6931471805599453' AS DOUBLE)
          - (CAST(2 AS DOUBLE) * z) * t) / CAST(weight AS DOUBLE) AS priority
        FROM s7)"""
  }

  /** ln(m) CTE chain over `src` (must yield BIGINT column `m` ≥ 1 plus the
    * `carry` columns) — mirrors [[graft.ops.Sampling.portableLn]]
    * OPERATION-FOR-OPERATION (integer exponent, 63-entry power table,
    * atanh-series mantissa, `p·ln2 + 2z·t` composition), so the double is
    * bit-exact cross-engine. Yields CTE `${pfx}7` = carry + `outCol`. */
  private def lnChain(pfx: String, src: String, carry: Seq[String],
      outCol: String): String = {
    val pows = (0 to 62).map(1L << _).mkString("[", ",", "]")
    val terms = graft.ops.Sampling.RaceSeriesTerms
    val horner = (0 until terms - 1).reverse.foldLeft(
      s"(CAST(1 AS DOUBLE)/CAST(${2 * (terms - 1) + 1} AS DOUBLE))") {
      (acc, kk) =>
        s"((CAST(1 AS DOUBLE)/CAST(${2 * kk + 1} AS DOUBLE)) + z2 * $acc)"
    }
    val c = carry.map(_ + ", ").mkString
    s"""${pfx}1 AS (SELECT ${c}m, CAST(length(bin(m)) - 1 AS INT) AS p
        FROM $src),
      ${pfx}2 AS (SELECT ${c}m, p, ($pows)[p + 1] AS twop FROM ${pfx}1),
      ${pfx}3 AS (SELECT ${c}p,
        CAST(m - twop AS DOUBLE) / CAST(twop AS DOUBLE) AS f FROM ${pfx}2),
      ${pfx}4 AS (SELECT ${c}p, f / (f + CAST(2 AS DOUBLE)) AS z
        FROM ${pfx}3),
      ${pfx}5 AS (SELECT ${c}p, z, z * z AS z2 FROM ${pfx}4),
      ${pfx}6 AS (SELECT ${c}p, z, $horner AS t FROM ${pfx}5),
      ${pfx}7 AS (SELECT ${c}CAST(p AS DOUBLE)
          * CAST('0.6931471805599453' AS DOUBLE)
          + (CAST(2 AS DOUBLE) * z) * t AS $outCol FROM ${pfx}6)"""
  }

  /** −ln(u) CTE chain over `src` (must yield a 60-bit BIGINT column `h`
    * plus the `carry` columns) — mirrors [[graft.ops.Sampling.negLnU]]
    * OPERATION-FOR-OPERATION (m = h+1, integer exponent, 61-entry power
    * table, atanh-series mantissa, `(60−p)·ln2 − 2z·t` composition), so
    * the double is bit-exact cross-engine. Yields CTE `${pfx}8` = carry +
    * `outCol`. The race samplers keep their own weighted chain
    * ([[raceKeyCtes]]); this is the plain exponential draw. */
  private def negLnChain(pfx: String, src: String, carry: Seq[String],
      outCol: String): String = {
    val pows = (0 to 60).map(1L << _).mkString("[", ",", "]")
    val terms = graft.ops.Sampling.RaceSeriesTerms
    val horner = (0 until terms - 1).reverse.foldLeft(
      s"(CAST(1 AS DOUBLE)/CAST(${2 * (terms - 1) + 1} AS DOUBLE))") {
      (acc, kk) =>
        s"((CAST(1 AS DOUBLE)/CAST(${2 * kk + 1} AS DOUBLE)) + z2 * $acc)"
    }
    val c = carry.map(_ + ", ").mkString
    s"""${pfx}1 AS (SELECT ${c}h + 1 AS m FROM $src),
      ${pfx}2 AS (SELECT ${c}m, CAST(length(bin(m)) - 1 AS INT) AS p
        FROM ${pfx}1),
      ${pfx}3 AS (SELECT ${c}m, p, ($pows)[p + 1] AS twop FROM ${pfx}2),
      ${pfx}4 AS (SELECT ${c}p,
        CAST(m - twop AS DOUBLE) / CAST(twop AS DOUBLE) AS f FROM ${pfx}3),
      ${pfx}5 AS (SELECT ${c}p, f / (f + CAST(2 AS DOUBLE)) AS z
        FROM ${pfx}4),
      ${pfx}6 AS (SELECT ${c}p, z, z * z AS z2 FROM ${pfx}5),
      ${pfx}7 AS (SELECT ${c}p, z, $horner AS t FROM ${pfx}6),
      ${pfx}8 AS (SELECT ${c}(CAST(60 AS DOUBLE) - CAST(p AS DOUBLE))
          * CAST('0.6931471805599453' AS DOUBLE)
          - (CAST(2 AS DOUBLE) * z) * t AS $outCol FROM ${pfx}7)"""
  }

  /** Left-to-right cosine similarity between two FLOAT[]/DOUBLE[] columns —
    * bit-identical to [[graft.functions.CosineSim]]'s fused loop. */
  private def cosSql(a: String, b: String): String = s"""
        list_sum(list_transform(list_zip($a, $b),
          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        / sqrt(
            list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
            * list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"""

  /** Sign-LSH bucket id for table `t` (planes t*8 .. t*8+7) — mirrors
    * [[graft.functions.LshSig]] with planesPerTable = 8. */
  private def lshBucketSql(embCol: String, tExpr: String): String = s"""
        CAST(list_sum(list_transform(generate_series(0, 7), p ->
          CASE WHEN list_sum(list_transform(
                 list_zip($embCol, generate_series(0, len($embCol) - 1)),
                 z -> CAST(z[1] AS DOUBLE) *
                   (CASE WHEN ((z[2] + ($tExpr * 8 + p) * 1000003)
                               * 2654435761) % 2147483647 % 2 = 0
                         THEN 1.0 ELSE -1.0 END))) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT)"""

  /** Fixed IVF centroids as a VALUES list — mirrors
    * [[graft.text.Ivf.fixedModel]](16, 64). */
  private val ivfCentsSql: String = (0 until 16).map { j =>
    val comps = (0 until 64).map(d => graft.text.Ivf.fixedComponent(j, d))
      .mkString("[", ",", "]")
    s"($j, $comps::DOUBLE[])"
  }.mkString("(VALUES ", ", ", ") AS cents(j, cent)")

  /** Exact brute-force ANN baseline (mirrors [[graft.text.Similarity
    * .bruteForceTopK]] over the %25 query set) — shared by op_ann_topk and
    * the op_ann_recall intersection. */
  private def annBruteSqlFor(mod: Int): String = s"""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id % $mod = 0),
      scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
          list_sum(list_transform(list_zip(e.embedding, q.q_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / sqrt(
              list_sum(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
              * list_sum(list_transform(q.q_emb,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
            AS rank
        FROM scored) r
      WHERE rank <= 5"""

  /** Shared score/label CTE prefix (linear hashed score + gopher keep,
    * clamped-bucket join) — yields CTE `j(b, keep)`; used by op_score_auc
    * and op_score_deciles. */
  private lazy val scoreLabelCtes: String = s"""tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM documents),
      sc AS (
        SELECT doc_id,
          coalesce(list_sum(list_transform(toks,
            t -> (CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 64)
                   * 53 % 41 - 20)), 0) AS score
        FROM tok),
      padded AS (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM documents),
      gsig AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
          length(regexp_replace(text, '\\s', '', 'g')) AS n_word_chars,
          length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
          $stopwordSumSql AS n_stopword
        FROM padded),
      grep_ AS (
        SELECT doc_id, max(c) AS top_tok_n FROM (
          SELECT doc_id, t, count(*) AS c FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents WHERE length(trim(text)) > 0) u
          GROUP BY doc_id, t) g
        GROUP BY doc_id),
      keepf AS (
        SELECT s.doc_id,
          NOT (s.n_tokens < 25 OR s.n_tokens > 10000
            OR s.n_word_chars < s.n_tokens * 3
            OR s.n_word_chars > s.n_tokens * 10
            OR s.n_digit * 5 > s.n_word_chars
            OR s.n_stopword * 20 < s.n_tokens
            OR coalesce(r.top_tok_n, 0) * 8 > s.n_tokens) AS keep
        FROM gsig s LEFT JOIN grep_ r USING (doc_id)),
      j AS (
        SELECT greatest(-500, least(sc.score, 499)) AS b, k.keep
        FROM sc JOIN keepf k USING (doc_id))"""


  /** The %25 query-set baseline shared by op_ann_topk / op_ann_recall /
    * the recall composers; op_ivf_sweep uses the 4x-thinner %100 set. */
  private val annBruteSql: String = annBruteSqlFor(25)

  /** SQ8 scalar-quantized search (mirrors [[graft.text.Sq]]: per-dim
    * min/max model, byte codes via the correctly-rounded
    * `floor((x−mn)/(mx−mn)·255+0.5)` tree, candidates RECONSTRUCTED
    * x̂ = mn + q·(mx−mn)/255 and scored by the HOF cosine, id tie-breaks)
    * — shared by op_sq_ann and op_sq_recall. */
  private lazy val sqAnnSql: String = s"""
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      stats AS (
        SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
          max(CAST(embedding[d] AS DOUBLE)) AS mx
        FROM embeddings CROSS JOIN dims GROUP BY d),
      model AS (SELECT list(mn ORDER BY d) AS mins,
          list(mx ORDER BY d) AS maxs FROM stats),
      sqv AS MATERIALIZED (
        SELECT vec_id,
          list_transform(generate_series(1, 64), i ->
            CASE WHEN maxs[i] = mins[i] THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
                   / (maxs[i] - mins[i]) * CAST(255 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) END) AS q
        FROM embeddings CROSS JOIN model),
      sqr AS MATERIALIZED (
        SELECT vec_id,
          list_transform(generate_series(1, 64), i ->
            mins[i] + CAST(q[i] AS DOUBLE)
              * ((maxs[i] - mins[i]) / CAST(255 AS DOUBLE))) AS xr
        FROM sqv CROSS JOIN model),
      sqscored AS (
        SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
          ${cosSql("c.xr", "qq.xr")} AS cos
        FROM sqr c CROSS JOIN (SELECT * FROM sqr WHERE vec_id % 25 = 0) qq
        WHERE c.vec_id <> qq.vec_id)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM sqscored) r
      WHERE rank <= 5"""

  /** Sign-LSH ANN (mirrors [[graft.text.Similarity.lshTopK]]) — shared by
    * op_lsh_ann and op_ann_recall. */
  private val annLshSql: String = s"""
      WITH sigs AS (
        SELECT vec_id, embedding, tt.t AS tbl,
          ${lshBucketSql("embedding", "tt.t")} AS bkt
        FROM embeddings CROSS JOIN generate_series(0, 3) AS tt(t)),
      keep AS (SELECT tbl, bkt FROM sigs GROUP BY tbl, bkt
               HAVING count(*) <= 512),
      f AS (SELECT s.vec_id, s.tbl, s.bkt FROM sigs s JOIN keep USING (tbl, bkt)),
      cand AS (
        SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS neighbor_id
        FROM f x JOIN f y
          ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id <> y.vec_id),
      scored AS (
        SELECT c.q_id, c.neighbor_id,
          ${cosSql("e1.embedding", "e2.embedding")} AS cos
        FROM cand c
        JOIN embeddings e1 ON e1.vec_id = c.q_id
        JOIN embeddings e2 ON e2.vec_id = c.neighbor_id)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
            AS rank
        FROM scored) r
      WHERE rank <= 5"""

  /** IVF cell CTEs (cents, sims, assigned, probes over the %25 query
    * set) — shared by op_ivf_ann / op_ann_recall / op_ivfpq_ann. */
  private val ivfCtesSql: String = s"""
      cents AS (SELECT j, cent FROM $ivfCentsSql),
      sims AS (
        SELECT e.vec_id, c.j, ${cosSql("e.embedding", "c.cent")} AS sim
        FROM embeddings e CROSS JOIN cents c),
      -- first-max cell, like Spark's array_position(sims, array_max(sims))
      assigned AS (
        SELECT vec_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM sims) t WHERE rn = 1),
      -- top-nprobe cells per query; Spark sorts (sim, cell) structs and
      -- reverses, so ties break on cell DESC
      probes AS (
        SELECT vec_id AS q_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j DESC) AS rn
          FROM sims WHERE vec_id % 25 = 0) t WHERE rn <= 4)"""

  /** IVF-routed SQ8 search (mirrors [[graft.text.Sq.searchTopKIvf]] at
    * c = 16, nprobe = 4 over the %25 query set) — shared by op_ivfsq_ann
    * and the op_ivfsq_recall composition. */
  private lazy val ivfSqAnnSql: String = s"""
      WITH $ivfCtesSql,
      dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      stats AS (
        SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
          max(CAST(embedding[d] AS DOUBLE)) AS mx
        FROM embeddings CROSS JOIN dims GROUP BY d),
      model AS (SELECT list(mn ORDER BY d) AS mins,
          list(mx ORDER BY d) AS maxs FROM stats),
      sqv AS MATERIALIZED (
        SELECT vec_id,
          list_transform(generate_series(1, 64), i ->
            CASE WHEN maxs[i] = mins[i] THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
                   / (maxs[i] - mins[i]) * CAST(255 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) END) AS q
        FROM embeddings CROSS JOIN model),
      sqr AS MATERIALIZED (
        SELECT vec_id,
          list_transform(generate_series(1, 64), i ->
            mins[i] + CAST(q[i] AS DOUBLE)
              * ((maxs[i] - mins[i]) / CAST(255 AS DOUBLE))) AS xr
        FROM sqv CROSS JOIN model),
      cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a
          ON a.ivf_cell = p.ivf_cell AND a.vec_id <> p.q_id),
      sqscored AS (
        SELECT c.q_id, c.neighbor_id, ${cosSql("n.xr", "qq.xr")} AS cos
        FROM cand c
        JOIN sqr n ON n.vec_id = c.neighbor_id
        JOIN sqr qq ON qq.vec_id = c.q_id)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM sqscored) r
      WHERE rank <= 5"""

  /** IVF ANN over the fixed-formula centroids (mirrors [[graft.text.Ivf
    * .searchTopK]]) — shared by op_ivf_ann and op_ann_recall. */
  private val annIvfSql: String = s"""
      WITH $ivfCtesSql,
      cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a
          ON a.ivf_cell = p.ivf_cell AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.neighbor_id,
          ${cosSql("e1.embedding", "e2.embedding")} AS cos
        FROM cand c
        JOIN embeddings e1 ON e1.vec_id = c.q_id
        JOIN embeddings e2 ON e2.vec_id = c.neighbor_id)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
            AS rank
        FROM scored) r
      WHERE rank <= 5"""

  /** One unrolled Lloyd update + re-assignment over the UPDATED centroids
    * — mirrors [[graft.text.Ivf.lloydNext]] then [[graft.text.Ivf.assign]]:
    * iteration-1 statistics from `assigned` (the fixed-centroid CTE),
    * centroid rebuild (new component = sum_milli/(n·1000), ONE exact-int
    * IEEE division rounded once to FLOAT — the arithmetic the Spark driver
    * replays; empty cells keep the fixed formula component), centroid
    * LISTS ordered by dim (so the cosine accumulates left-to-right exactly
    * like CosineSim), then second-iteration sims + first-max assignment.
    * Yields `cent2(j, cent)`, `sims2(vec_id, j, sim)`, `asg2(vec_id,
    * ivf_cell)`. Shared by op_kmeans_iter and op_trained_ivf_ann. */
  private val lloydCent2Ctes: String = s"""
      m1 AS (
        SELECT a.ivf_cell, emb.embedding
        FROM assigned a JOIN embeddings emb ON emb.vec_id = a.vec_id),
      x1 AS (
        SELECT ivf_cell, t.i - 1 AS dim,
          CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS milli
        FROM m1, unnest(generate_series(1, len(embedding))) AS t(i)),
      st1 AS (
        SELECT ivf_cell, dim, CAST(sum(milli) AS BIGINT) AS sum_milli,
          count(*) AS n
        FROM x1 GROUP BY ivf_cell, dim),
      grid AS (
        SELECT c.j, t.i - 1 AS dim, c.cent[t.i] AS old_comp
        FROM cents c, unnest(generate_series(1, 64)) AS t(i)),
      cent2 AS (
        SELECT g.j,
          list(CASE WHEN s.n IS NULL THEN g.old_comp
                    ELSE CAST(CAST(CAST(s.sum_milli AS DOUBLE)
                           / CAST(s.n * 1000 AS DOUBLE) AS FLOAT) AS DOUBLE)
               END ORDER BY g.dim) AS cent
        FROM grid g
        LEFT JOIN st1 s ON s.ivf_cell = g.j AND s.dim = g.dim
        GROUP BY g.j),
      sims2 AS (
        SELECT e.vec_id, c.j, ${cosSql("e.embedding", "c.cent")} AS sim
        FROM embeddings e CROSS JOIN cent2 c),
      asg2 AS (
        SELECT vec_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM sims2) t WHERE rn = 1)"""

  /** Perceptual-hash bits rebuilt from the closed-form image pattern —
    * mirrors [[graft.multimodal.Multimodal.imagePHash]] over
    * `imagePattern(id)` + `resizeNearest` integer index math: 8×8 cell
    * i (row-major) samples source pixel ((i÷8)·h÷8)·w + ((i%8)·w÷8) of the
    * w=8+id%9 × h=8+id%7 pattern, bit set iff cell·64 > Σcells (strict).
    * Halves are sums of distinct powers of two < 2^32 (no shift-at-63 /
    * integer-overflow semantics in play). Yields `bits(doc_id, phash_hi,
    * phash_lo, n_bits)`; shared by op_image_phash and op_phash_pairs. */
  private val phashBitsSql: String = """
      ph AS (
        SELECT doc_id,
          list_transform(generate_series(0, 63), i ->
            (doc_id * 31 +
              (((i // 8) * (8 + doc_id % 7) // 8) * (8 + doc_id % 9)
                + ((i % 8) * (8 + doc_id % 9) // 8)) * 7) % 256) AS r
        FROM documents),
      st AS (SELECT doc_id, r, list_sum(r) AS rsum FROM ph),
      bits AS (
        SELECT doc_id,
          CAST(list_sum(list_transform(generate_series(32, 63), i ->
            CASE WHEN r[i+1] * 64 > rsum THEN (CAST(1 AS BIGINT) << (i - 32))
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash_hi,
          CAST(list_sum(list_transform(generate_series(0, 31), i ->
            CASE WHEN r[i+1] * 64 > rsum THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash_lo,
          CAST(list_sum(list_transform(generate_series(0, 63), i ->
            CASE WHEN r[i+1] * 64 > rsum THEN 1 ELSE 0 END)) AS INT) AS n_bits
        FROM st)"""

  /** PQ codebook for block `b` as a nested list literal — same values as
    * [[graft.text.Pq.fixedModel]] (m=8, dsub=8, ksub=16). */
  private def pqBookSql(b: Int): String =
    (0 until 16).map(j => (0 until 8).map(d =>
      graft.text.Pq.fixedComponent(b, j, d)).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** Left-to-right double dot — bit-identical to Pq's aggregate/zip_with. */
  private def pqDotSql(sub: String, cw: String): String =
    s"""list_sum(list_transform(list_zip($sub, $cw),
          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"""

  /** PQ codes (vec_id, pq_0..pq_7) — mirrors [[graft.text.Pq.encode]]:
    * argmax (FIRST max) of subvector·codeword dots per block. Yields
    * `pqcodes`; shared by op_pq_encode and op_pq_ann. */
  private val pqCodesSql: String = {
    val sims = (0 until 8).map(b =>
      s"""list_transform(${pqBookSql(b)}, cw ->
            ${pqDotSql(s"list_slice(embedding, ${b * 8 + 1}, ${b * 8 + 8})", "cw")})
          AS sims_$b""").mkString(",\n          ")
    val codes = (0 until 8).map(b =>
      s"CAST(list_position(sims_$b, list_aggregate(sims_$b, 'max')) - 1 AS INT) AS pq_$b")
      .mkString(",\n          ")
    s"""
      pqsims AS (
        SELECT vec_id,
          $sims
        FROM embeddings),
      pqcodes AS (
        SELECT vec_id,
          $codes
        FROM pqsims)"""
  }

  /** ADC score of candidate `codesAlias` against query embedding `qEmb` —
    * sum over blocks of dot(query subvector, the coded codeword), same
    * left-to-right order as Pq's LUT-lookup sum. */
  private def pqAdcScoreSql(qEmb: String, codesAlias: String): String =
    (0 until 8).map(b => pqDotSql(
      s"list_slice($qEmb, ${b * 8 + 1}, ${b * 8 + 8})",
      s"(${pqBookSql(b)})[$codesAlias.pq_$b + 1]")).mkString("\n          + ")

  /** Stepwise Horner rolling hash over bh[i..i+w-1] mod 2^31−1 — nested
    * per step (every intermediate ≤ ~7·10^10), matching Spark's
    * aggregate((acc·31 + t) % P) from acc = 0: the first step reduces to
    * bh[i] since bh values are already < P. */
  private def rollingStepSql(w: Int): String =
    (1 until w).foldLeft("bh[i]")((acc, j) =>
      s"(($acc * 31 + bh[i+$j]) % 2147483647)")

  /** Rolling-hash window CTEs over `src(doc_id, text)` — mirrors
    * [[graft.text.TextOps.withRollingWindows]]; yields `whs(doc_id, wh)`. */
  private def rollingWindowsCte(src: String, w: Int): String = s"""
      tokr AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM $src),
      bhs AS (
        SELECT doc_id, list_transform(toks,
          t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 2147483647)
          AS bh
        FROM tokr),
      whs AS (
        SELECT doc_id,
          CASE WHEN len(bh) >= $w THEN
            list_transform(generate_series(1, len(bh) - ${w - 1}),
              i -> ${rollingStepSql(w)})
          ELSE CAST([] AS BIGINT[]) END AS wh
        FROM bhs)"""

  /** Exact (de-hubbed) jaccard near-dup pairs — shared by
    * op_token_jaccard and the op_dedup_recall intersection. */
  private val jaccardPairsSql: String = s"""
      WITH $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS MATERIALIZED (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS MATERIALIZED (
        SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS MATERIALIZED (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT i.a, i.b, i.inter, ca.n_sh + cb.n_sh - i.inter AS union_n
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.a
      JOIN counts cb ON cb.doc_id = i.b
      WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter"""

  /** MinHash-LSH candidate pairs — shared by op_minhash_pairs and
    * op_dedup_recall. Candidates use the hybrid capped/star band buckets
    * of [[graft.text.Dedup.lshCandidatesFromSigs]]: buckets ≤ 256 emit all
    * pairs, over-cap buckets emit star edges to the bucket min. */
  private val minhashPairsSql: String = s"""
      WITH $shinglesCte,
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM hsh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, g.bd,
          array_to_string(list_slice(sig, g.bd * 4 + 1, g.bd * 4 + 4), ',') AS bkey
        FROM sig CROSS JOIN generate_series(0, 15) AS g(bd)),
      bstats AS MATERIALIZED (
        SELECT bd, bkey, count(*) AS n, min(doc_id) AS m
        FROM banded GROUP BY bd, bkey),
      cand AS (
        SELECT DISTINCT a, b FROM (
          SELECT x.doc_id AS a, y.doc_id AS b
          FROM banded x
          JOIN banded y ON x.bd = y.bd AND x.bkey = y.bkey
            AND x.doc_id < y.doc_id
          JOIN bstats st ON st.bd = x.bd AND st.bkey = x.bkey
          WHERE st.n <= ${graft.text.Dedup.MaxBandBucket}
          UNION ALL
          SELECT st.m AS a, x.doc_id AS b
          FROM banded x JOIN bstats st ON st.bd = x.bd AND st.bkey = x.bkey
          WHERE st.n > ${graft.text.Dedup.MaxBandBucket} AND x.doc_id <> st.m)),
      pairs AS (
        SELECT c.a, c.b,
          CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT) AS n_agree
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b)
      SELECT a, b, n_agree FROM pairs WHERE n_agree >= 20"""

  /** SimHash banded Hamming pairs (hybrid capped/star buckets, verify
    * ≤ 3) — shared by op_simhash_pairs and op_simhash_recall. */
  private val simhashPairsSql: String = s"""
      WITH $shinglesCte,
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} AS h FROM shd),
      shv AS MATERIALIZED (
        SELECT doc_id, g.j,
          CASE WHEN sum(CASE WHEN ((h >> g.j) & 1) = 1
            THEN 1 ELSE -1 END) > 0
          THEN (CAST(1 AS BIGINT) << g.j) ELSE CAST(0 AS BIGINT)
          END AS bit
        FROM hsh CROSS JOIN generate_series(0, 59) AS g(j)
        GROUP BY doc_id, g.j),
      sh AS MATERIALIZED (
        SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
        FROM shv GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, b.bd,
          (simhash >> (15 * b.bd)) & 32767 AS bkey
        FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bd) b),
      bstats AS MATERIALIZED (
        SELECT bd, bkey, count(*) AS n, min(doc_id) AS m
        FROM banded GROUP BY bd, bkey),
      cand AS (
        SELECT DISTINCT a, b FROM (
          SELECT x.doc_id AS a, y.doc_id AS b
          FROM banded x
          JOIN banded y ON x.bd = y.bd AND x.bkey = y.bkey
            AND x.doc_id < y.doc_id
          JOIN bstats st ON st.bd = x.bd AND st.bkey = x.bkey
          WHERE st.n <= ${graft.text.Dedup.MaxBandBucket}
          UNION ALL
          SELECT st.m AS a, x.doc_id AS b
          FROM banded x JOIN bstats st ON st.bd = x.bd AND st.bkey = x.bkey
          WHERE st.n > ${graft.text.Dedup.MaxBandBucket} AND x.doc_id <> st.m))
      SELECT c.a, c.b,
        CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT) AS hamming
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.a
      JOIN sh s2 ON s2.doc_id = c.b
      WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3"""

  /** All oracle SQL, keyed identically to [[SparkEntry.queries]]. */
  val all: Map[String, String] = Map(
    // ---- generic relational ops over the TPC-H-ish testdata ----
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    // Runs VERBATIM on both engines (Spark executes this very string via
    // spark.sql) — keep it inside the common ANSI subset: explicit CASTs,
    // no engine-specific functions, count(*) only.
    "op_sql_surface" -> """
      SELECT o.o_orderpriority,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
          AS revenue,
        count(*) AS n_items,
        min(CAST(l.l_shipdate AS DATE)) AS first_ship,
        max(CAST(l.l_shipdate AS DATE)) AS last_ship
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE CAST(l.l_quantity AS DECIMAL(18,2)) > 10
      GROUP BY o.o_orderpriority""",

    // ---- SQL front-end family (round 16): each text below runs
    // VERBATIM on both engines (Catalog.sqlQuery feeds this very string
    // to spark.sql) — keep every one inside the common ANSI subset:
    // explicit CASTs, floor() for truncation (DuckDB CAST double->BIGINT
    // rounds, Spark truncates), no engine-specific functions beyond the
    // shared md5/ntile/row_number/sqrt surface.
    "op_sql_exact_dedup" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents
        WHERE doc_id % 10 = 0),
      fp AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM corpus)
      SELECT fp, CAST(count(*) AS BIGINT) AS n_dups,
        min(doc_id) AS survivor_id, max(doc_id) AS last_dup_id
      FROM fp GROUP BY fp HAVING count(*) > 1""",

    "op_sql_dedup_candidates" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text || ' near duplicate copy suffix'
        FROM documents WHERE doc_id % 10 = 0),
      bk AS (
        SELECT doc_id, md5(substring(lower(trim(text)), 1, 80)) AS bucket
        FROM corpus WHERE length(trim(text)) >= 80)
      SELECT x.bucket AS bucket, x.doc_id AS a, y.doc_id AS b
      FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.doc_id < y.doc_id""",

    "op_sql_quality_floor" -> """
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN length(trim(text)) >= 200
          AND (trim(text) LIKE '%.' OR trim(text) LIKE '%!'
               OR trim(text) LIKE '%?')
          THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        CAST(sum(CASE WHEN length(trim(text)) >= 200
          AND (trim(text) LIKE '%.' OR trim(text) LIKE '%!'
               OR trim(text) LIKE '%?')
          THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
          AS pass_rate
      FROM documents GROUP BY lang, source""",

    "op_sql_len_profile" -> """
      SELECT lang, CAST(floor(length(text) / 100) AS BIGINT) AS len_bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(min(length(text)) AS BIGINT) AS min_len,
        CAST(max(length(text)) AS BIGINT) AS max_len
      FROM documents GROUP BY 1, 2""",

    "op_sql_ks_drift" -> """
      WITH vals AS (
        SELECT doc_id, CAST(floor(length(text) / 10) AS BIGINT) AS v
        FROM documents),
      am AS (SELECT v, CAST(count(*) AS BIGINT) AS na FROM vals
             WHERE doc_id % 5 <> 0 GROUP BY v),
      bm AS (SELECT v, CAST(count(*) AS BIGINT) AS nb FROM vals
             WHERE doc_id % 5 = 0 GROUP BY v),
      m AS (SELECT coalesce(am.v, bm.v) AS v,
              coalesce(na, CAST(0 AS BIGINT)) AS na,
              coalesce(nb, CAST(0 AS BIGINT)) AS nb
            FROM am FULL OUTER JOIN bm ON am.v = bm.v),
      c AS (SELECT v,
              sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS ca,
              sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS cb,
              sum(na) OVER () AS ta, sum(nb) OVER () AS tb
            FROM m),
      g AS (SELECT abs(ca * tb - cb * ta) AS num, v, ta, tb FROM c),
      top AS (SELECT num, v, ta, tb FROM (
        SELECT num, v, ta, tb,
          row_number() OVER (ORDER BY num DESC, v) AS rn FROM g) q
        WHERE rn = 1)
      SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        CAST(num AS BIGINT) AS ks_num, CAST(ta * tb AS BIGINT) AS ks_den,
        CASE WHEN ta * tb > 0
          THEN CAST(num AS DOUBLE) / CAST(ta * tb AS DOUBLE) END AS ks_stat,
        CAST(v AS BIGINT) AS at_value,
        CASE WHEN ta * tb > 0 THEN CAST('1.358' AS DOUBLE)
          * sqrt(CAST(ta + tb AS DOUBLE) / CAST(ta * tb AS DOUBLE))
        END AS crit_05,
        CASE WHEN ta * tb > 0 THEN
          (CAST(num AS DOUBLE) / CAST(ta * tb AS DOUBLE))
            > (CAST('1.358' AS DOUBLE)
               * sqrt(CAST(ta + tb AS DOUBLE) / CAST(ta * tb AS DOUBLE)))
        END AS reject_05
      FROM top""",

    "op_sql_source_share" -> """
      WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars
        FROM documents GROUP BY source),
      t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM s)
      SELECT s.source, s.n_docs, s.n_chars,
        CAST(floor(CAST(s.n_docs * 1000000 AS DOUBLE)
          / CAST(t.total AS DOUBLE)) AS BIGINT) AS share_ppm,
        CAST(row_number() OVER (ORDER BY s.n_docs DESC, s.source)
          AS BIGINT) AS rnk
      FROM s CROSS JOIN t""",

    "op_sql_score_deciles" -> """
      WITH sc AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS score
        FROM documents),
      d AS (SELECT score,
          ntile(10) OVER (ORDER BY score, doc_id) AS decile FROM sc)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(score) AS min_score, max(score) AS max_score,
        CAST(sum(score) AS BIGINT) AS sum_score
      FROM d GROUP BY decile""",

    "op_sql_ccnet_terciles" -> """
      WITH d AS (SELECT lang, CAST(length(text) AS BIGINT) AS len,
          ntile(3) OVER (PARTITION BY lang
            ORDER BY length(text) DESC, doc_id) AS bucket
        FROM documents)
      SELECT lang, CAST(bucket AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        min(len) AS min_len, max(len) AS max_len
      FROM d GROUP BY lang, bucket""",

    "op_sql_winner" -> """
      WITH r AS (SELECT doc_id, lang, source,
          CAST(length(text) AS BIGINT) AS len,
          row_number() OVER (PARTITION BY lang
            ORDER BY length(text) DESC, doc_id) AS rn
        FROM documents)
      SELECT lang, doc_id AS winner_id, source, len
      FROM r WHERE rn = 1""",

    // The deliverable a SQL user actually wants from the dedup layer
    // (round 17): the SURVIVOR SET after exact dedup — min-id winner per
    // content fingerprint over a replica-planted corpus, one row per
    // distinct fingerprint, unique docs riding through with n_dups = 1.
    // Non-recursive (the CC-cluster native op stays the multi-hop path);
    // the join-on-winner form is the anti-join-back expressed in the
    // common subset both engines parse.
    "op_sql_survivors" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents
        WHERE doc_id % 10 = 0),
      fp AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM corpus),
      w AS (SELECT fp, min(doc_id) AS survivor_id,
              CAST(count(*) AS BIGINT) AS n_dups
            FROM fp GROUP BY fp)
      SELECT f.doc_id, f.fp, w.n_dups
      FROM fp f JOIN w ON f.fp = w.fp AND f.doc_id = w.survivor_id""",

    // Per-language length median (round 17): the rank-based lower median
    // in the common subset — no percentile/median builtin is shared, but
    // row_number + a floor((n+1)/2) pick is. INT/INT `/` returns DOUBLE
    // in BOTH dialects, so the floor sees the same value; ties broken by
    // doc_id so the picked ROW (not just the value) is deterministic.
    // `WHERE text IS NOT NULL` (round 18): length(NULL) sorts NULLs
    // FIRST in Spark ASC but LAST in DuckDB, so a NULL text row would
    // shift every rn and pick different median rows per engine —
    // exclude them so the shared-subset query is NULL-ordering-free
    // (same discipline as op_ks_drift's oracle).
    "op_sql_median" -> """
      WITH d AS (
        SELECT lang, CAST(length(text) AS BIGINT) AS len,
          row_number() OVER (PARTITION BY lang
            ORDER BY length(text), doc_id) AS rn,
          count(*) OVER (PARTITION BY lang) AS n
        FROM documents
        WHERE text IS NOT NULL)
      SELECT lang, CAST(n AS BIGINT) AS n_docs, len AS median_len
      FROM d WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)""",

    "op_sql_cross_source_dup" -> """
      WITH corpus AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 2000000000, text, 'mirror-site' FROM documents
        WHERE doc_id % 7 = 0),
      fp AS (SELECT doc_id, source, md5(lower(trim(text))) AS fp
             FROM corpus)
      SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        min(doc_id) AS first_id
      FROM fp GROUP BY fp HAVING count(DISTINCT source) > 1""",

    "op_filter_project" -> """
      SELECT l_orderkey, l_linenumber,
        CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND CAST(l_discount AS DECIMAL(4,2)) >= CAST(0.05 AS DECIMAL(4,2))""",

    "op_topk_desc" -> """
      SELECT p_partkey, p_name, p_retailprice AS price
      FROM part ORDER BY price DESC, p_partkey LIMIT 10""",

    "op_topk_asc_filtered" -> """
      SELECT p_partkey, p_name, p_size, p_retailprice AS price
      FROM part WHERE p_size > 25 ORDER BY price ASC, p_partkey LIMIT 10""",

    "op_rate_join" -> """
      SELECT n.n_name, r.r_name,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name, r.r_name""",

    "op_smj_join" -> """
      SELECT o.o_orderpriority,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        count(DISTINCT l.l_orderkey) AS n_orders
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority""",

    "op_anti_join" -> """
      SELECT c.c_custkey, c.c_name, c.c_mktsegment
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",

    "op_semi_join" -> """
      SELECT c.c_mktsegment, count(*) AS n_customers
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c.c_mktsegment""",

    // Triangle count on the co-purchase graph (the count
    // Graph.triangleCountAdj gives over Graph.cooccurrenceEdges: canonical
    // x<y edges, here by wedge join, close on (x, z)).
    "op_triangles" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS v
                  FROM lineitem),
      e AS (SELECT DISTINCT a.v AS x, b.v AS y
            FROM li a JOIN li b ON a.g = b.g AND a.v < b.v),
      w AS (SELECT e1.x, e2.y AS z FROM e e1 JOIN e e2 ON e1.y = e2.x),
      t AS (SELECT count(*) AS n FROM w JOIN e ON e.x = w.x AND e.y = w.z)
      SELECT (SELECT count(*) FROM e) AS n_edges,
             (SELECT n FROM t) AS n_triangles""",

    // Fixed-point integer PageRank, 2 unrolled iterations: floor division
    // and integer sums only, so both engines compute identical longs.
    "op_pagerank" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS v
                  FROM lineitem),
      e0 AS (SELECT DISTINCT a.v AS x, b.v AS y
             FROM li a JOIN li b ON a.g = b.g AND a.v < b.v),
      sym AS (SELECT x AS s, y AS d FROM e0
              UNION ALL SELECT y AS s, x AS d FROM e0),
      deg AS (SELECT s, count(*) AS dg FROM sym GROUP BY s),
      nv AS (SELECT count(*) AS c FROM deg),
      r0 AS (SELECT s AS v, 1000000000000 // (SELECT c FROM nv) AS r
             FROM deg),
      i1 AS (
        SELECT sym.d AS v,
          (150000000000 // (SELECT c FROM nv))
            + (85 * CAST(sum(r0.r // deg.dg) AS BIGINT)) // 100 AS r
        FROM sym JOIN r0 ON sym.s = r0.v JOIN deg ON sym.s = deg.s
        GROUP BY sym.d),
      i2 AS (
        SELECT sym.d AS v,
          (150000000000 // (SELECT c FROM nv))
            + (85 * CAST(sum(i1.r // deg.dg) AS BIGINT)) // 100 AS r
        FROM sym JOIN i1 ON sym.s = i1.v JOIN deg ON sym.s = deg.s
        GROUP BY sym.d)
      SELECT v, r AS rank_fp FROM i2 ORDER BY r DESC, v LIMIT 20""",

    // Deterministic label propagation, 3 unrolled rounds: most-frequent
    // neighbor label with min-label ties (row_number ORDER BY c DESC,
    // lbl == Spark's max(struct(c, -lbl))); community sizes at the end.
    "op_label_prop" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS v
                  FROM lineitem),
      e0 AS (SELECT DISTINCT a.v AS x, b.v AS y
             FROM li a JOIN li b ON a.g = b.g AND a.v < b.v),
      sym AS MATERIALIZED (SELECT x AS s, y AS d FROM e0
              UNION ALL SELECT y AS s, x AS d FROM e0),
      l0 AS (SELECT DISTINCT s AS v, s AS lbl FROM sym),
      c1 AS (SELECT sym.d, l.lbl, count(*) AS c
             FROM sym JOIN l0 l ON sym.s = l.v GROUP BY 1, 2),
      l1 AS MATERIALIZED (SELECT d AS v, lbl FROM (
        SELECT d, lbl, row_number() OVER (PARTITION BY d
          ORDER BY c DESC, lbl) AS rn FROM c1) q WHERE rn = 1),
      c2 AS (SELECT sym.d, l.lbl, count(*) AS c
             FROM sym JOIN l1 l ON sym.s = l.v GROUP BY 1, 2),
      l2 AS MATERIALIZED (SELECT d AS v, lbl FROM (
        SELECT d, lbl, row_number() OVER (PARTITION BY d
          ORDER BY c DESC, lbl) AS rn FROM c2) q WHERE rn = 1),
      c3 AS (SELECT sym.d, l.lbl, count(*) AS c
             FROM sym JOIN l2 l ON sym.s = l.v GROUP BY 1, 2),
      l3 AS (SELECT d AS v, lbl FROM (
        SELECT d, lbl, row_number() OVER (PARTITION BY d
          ORDER BY c DESC, lbl) AS rn FROM c3) q WHERE rn = 1)
      SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
      FROM l3 GROUP BY lbl
      ORDER BY n_members DESC, community LIMIT 100""",

    // Correlation/OLS from exact integer sufficient statistics: HUGEINT
    // sums mirror Spark's DECIMAL(38,0) sums exactly; the finishing
    // double arithmetic is textually identical to the Spark expressions.
    "op_corr_stats" -> """
      WITH s AS (
        SELECT l_returnflag, count(*) AS n,
          sum(CAST(l_quantity AS BIGINT)) AS sx,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
          sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS sxx,
          sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
            * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
          sum(CAST(l_quantity AS HUGEINT)
            * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy
        FROM lineitem GROUP BY l_returnflag),
      d AS (
        SELECT l_returnflag, n,
          CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
          CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
          CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        FROM s)
      SELECT l_returnflag, n,
        (nd * sxyd - sxd * syd)
          / sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
          AS corr_qty_cents,
        (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
          AS slope_cents_per_qty,
        (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd
          AS intercept_cents
      FROM d""",

    // Daily-revenue anomaly z-scores from exact integer cent sums; the
    // finishing double math mirrors the Spark expression op-for-op.
    "op_zscore" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1),
      st AS (
        SELECT count(*) AS nd, sum(CAST(cents AS HUGEINT)) AS s1,
          sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS s2
        FROM daily),
      d AS (
        SELECT day, cents, CAST(st.nd AS DOUBLE) AS n,
          CAST(st.s1 AS DOUBLE) AS s1d, CAST(st.s2 AS DOUBLE) AS s2d,
          CAST(cents AS DOUBLE) AS c
        FROM daily CROSS JOIN st)
      SELECT day, CAST(cents AS BIGINT) AS day_cents,
        (c - s1d / n) / sqrt(s2d / n - (s1d / n) * (s1d / n)) AS z,
        abs((c - s1d / n) / sqrt(s2d / n - (s1d / n) * (s1d / n))) > 2.0
          AS is_outlier
      FROM d""",

    // Central moments to 4th order from exact integer power sums; the
    // finishing double math (+,-,*,/,sqrt only — all correctly rounded)
    // is textually identical to the Spark expressions.
    "op_moments" -> """
      WITH s AS (
        SELECT l_returnflag, count(*) AS n,
          sum(CAST(l_quantity AS BIGINT)) AS rs1,
          sum(CAST(l_quantity AS HUGEINT)
            * CAST(l_quantity AS HUGEINT)) AS rs2,
          sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)
            * CAST(l_quantity AS HUGEINT)) AS rs3,
          sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)
            * CAST(l_quantity AS HUGEINT)
            * CAST(l_quantity AS HUGEINT)) AS rs4
        FROM lineitem GROUP BY l_returnflag),
      d AS (
        SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
          CAST(rs1 AS DOUBLE) AS s1, CAST(rs2 AS DOUBLE) AS s2,
          CAST(rs3 AS DOUBLE) AS s3, CAST(rs4 AS DOUBLE) AS s4
        FROM s),
      m AS (
        SELECT l_returnflag, n,
          (s2 - s1 * s1 / nd) / nd AS m2,
          (s3 - 3.0 * s1 * s2 / nd + 2.0 * s1 * s1 * s1 / (nd * nd)) / nd
            AS m3,
          (s4 - 4.0 * s1 * s3 / nd + 6.0 * s1 * s1 * s2 / (nd * nd)
            - 3.0 * s1 * s1 * s1 * s1 / (nd * nd * nd)) / nd AS m4
        FROM d)
      SELECT l_returnflag, n, m2 AS variance,
        m3 / (m2 * sqrt(m2)) AS skewness,
        m4 / (m2 * m2) - 3.0 AS kurtosis_ex
      FROM m""",

    // Morton z-values via the shift-or-mask spread ladder — pure int64
    // bit ops, textually mirrored from ZOrder.spread16.
    "op_zorder" -> """
      WITH z0 AS (
        SELECT (CAST(l_partkey AS BIGINT) & 65535) AS xa,
               (CAST(l_suppkey AS BIGINT) & 65535) AS ya
        FROM lineitem),
      z1 AS (SELECT ((xa | (xa << 8)) & 16711935) AS xa,
                    ((ya | (ya << 8)) & 16711935) AS ya FROM z0),
      z2 AS (SELECT ((xa | (xa << 4)) & 252645135) AS xa,
                    ((ya | (ya << 4)) & 252645135) AS ya FROM z1),
      z3 AS (SELECT ((xa | (xa << 2)) & 858993459) AS xa,
                    ((ya | (ya << 2)) & 858993459) AS ya FROM z2),
      z4 AS (SELECT ((xa | (xa << 1)) & 1431655765) AS xa,
                    ((ya | (ya << 1)) & 1431655765) AS ya FROM z3),
      zz AS (SELECT (xa | (ya << 1)) AS z FROM z4)
      SELECT z // 65536 AS z_bucket, count(*) AS n,
        min(z) AS min_z, max(z) AS max_z
      FROM zz GROUP BY z // 65536""",

    // Bloom-prefiltered semi join: the Bloom probe is a Spark-side
    // physical optimization with no false negatives, so the oracle is the
    // plain exact semi join.
    "op_bloom_join" -> """
      SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem l
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
        AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 200000)
      GROUP BY l_returnflag""",

    // Portable Bloom FPR calibration: salted md5-60 bit positions mod m,
    // probes anti-joined against members, hit iff every DISTINCT needed
    // bit is set; two int/int divisions mirror the Spark tree.
    "op_bloom_fpr" -> s"""
      WITH mem AS MATERIALIZED (
        SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
        WHERE c_custkey % 3 <> 0),
      js AS (SELECT unnest(generate_series(0, 2)) AS j),
      bits AS MATERIALIZED (
        SELECT DISTINCT
          ${md5Long("k || ':bf' || CAST(j AS VARCHAR)")} % 16384 AS b
        FROM mem CROSS JOIN js),
      pr AS MATERIALIZED (
        SELECT p FROM (
          SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS p FROM customer
          WHERE c_custkey % 3 = 0) c
        WHERE NOT EXISTS (SELECT 1 FROM mem WHERE mem.k = c.p)),
      pb AS MATERIALIZED (
        SELECT DISTINCT p,
          ${md5Long("p || ':bf' || CAST(j AS VARCHAR)")} % 16384 AS b
        FROM pr CROSS JOIN js),
      nd AS (SELECT p, count(*) AS needed FROM pb GROUP BY p),
      hv AS (SELECT p, count(*) AS covered FROM pb JOIN bits USING (b)
             GROUP BY p),
      fp AS (SELECT CAST(count(*) AS BIGINT) AS n_false_pos
             FROM nd JOIN hv USING (p) WHERE needed = covered),
      agg AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
        (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
        (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_probes)
      SELECT CAST(16384 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
        n_members, bits_set,
        CAST(bits_set AS DOUBLE) / CAST(16384 AS DOUBLE) AS fill_frac,
        n_probes, n_false_pos,
        CASE WHEN n_probes = 0 THEN NULL
             ELSE CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE)
        END AS fpr
      FROM agg CROSS JOIN fp""",

    "op_key_union" -> """
      WITH cn AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                  FROM customer GROUP BY c_nationkey),
           sn AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
                  FROM supplier GROUP BY s_nationkey)
      SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
        coalesce(cn.n_cust, 0) AS n_cust, coalesce(sn.n_supp, 0) AS n_supp
      FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey""",

    "op_window_rank" -> """
      SELECT o_custkey, o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn = 1""",

    "op_union" -> """
      SELECT nationkey, count(*) AS n FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey FROM supplier) u
      GROUP BY nationkey""",

    "op_except" -> """
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier""",

    "op_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem""",

    "op_case_bucket" -> """
      SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                  WHEN o_totalprice < 300000 THEN 'mid'
                  ELSE 'big' END AS bucket,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1""",

    "op_events_window" -> """
      SELECT event_id, user_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events""",

    "op_topk_per_key" -> """
      WITH ranked AS (
        SELECT l_suppkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
          row_number() OVER (PARTITION BY l_suppkey
            ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC) AS rn
        FROM lineitem)
      SELECT l_suppkey, rn AS price_rank, CAST(price AS DOUBLE) AS price
      FROM ranked WHERE rn <= 3""",

    "op_sessionize" -> """
      WITH flagged AS (
        SELECT event_id, user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_sess
        FROM events)
      SELECT event_id, user_id,
        -- DuckDB sum(int) returns HUGEINT, which pandas renders as float;
        -- Spark's running sum is BIGINT — pin the type
        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged""",

    // per-column table statistics over lineitem: one UNION ALL block per
    // column (the Spark side's per-branch pruned scans, spelled out)
    "op_profile" -> {
      val num = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val str = Seq("l_returnflag", "l_linestatus")
      val ts = Seq("l_shipdate")
      def block(c: String, minNum: String, maxNum: String, isStr: Boolean) = {
        val (minS, maxS) =
          if (isStr) (s"min($c)", s"max($c)")
          else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        s"""
        SELECT '$c' AS col_name,
          CAST(count(*) - count($c) AS BIGINT) AS n_null,
          CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
          $minNum AS min_num, $maxNum AS max_num,
          $minS AS min_str, $maxS AS max_str
        FROM lineitem"""
      }
      (num.map(c => block(c, s"CAST(min($c) AS DOUBLE)",
          s"CAST(max($c) AS DOUBLE)", isStr = false)) ++
        str.map(c => block(c, "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          isStr = true)) ++
        ts.map(c => block(c, s"CAST(min(epoch_us($c)) AS DOUBLE)",
          s"CAST(max(epoch_us($c)) AS DOUBLE)", isStr = false)))
        .mkString(" UNION ALL ")
    },

    // BM25 (rational-idf variant): the score expression is interpolated
    // from the SAME term Seq and constants as the Spark side, with
    // identical parenthesization — every +,-,*,/ is IEEE-correctly
    // rounded in both engines, so the doubles are bit-identical
    "op_bm25" -> {
      val terms = graft.Catalog.Bm25Terms
      val (k1, b) = (1.2, 0.75)
      val tfCols = terms.map(t =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS INT) AS tf_$t")
        .mkString(",\n          ")
      val dfCols = terms.map(t =>
        s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
        .mkString(",\n          ")
      // every literal is CAST(... AS DOUBLE): a bare DuckDB numeric
      // literal is DECIMAL and would switch the whole tree to decimal
      // arithmetic (found as a 2-ulp score divergence); decimal→double
      // casts are correctly rounded, so the constants still match Spark's
      def d(v: Double) = s"CAST($v AS DOUBLE)"
      def contrib(t: String) =
        s"((s.n_docs - s.df_$t + ${d(0.5)}) / (s.df_$t + ${d(0.5)})) * " +
          s"(b.tf_$t * ${d(k1 + 1.0)}) / (b.tf_$t + ${d(k1)} * " +
          s"(${d(1.0)} - ${d(b)} + ${d(b)} * b.dl / " +
          s"(CAST(s.sum_dl AS DOUBLE) / s.n_docs)))"
      s"""
      WITH toks AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN []
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM documents),
      base AS (
        SELECT doc_id, CAST(len(toks) AS INT) AS dl,
          $tfCols
        FROM toks),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(dl) AS BIGINT) AS sum_dl,
          $dfCols
        FROM base)
      SELECT b.doc_id, b.dl, ${terms.map(t => s"b.tf_$t").mkString(", ")},
        ${terms.map(contrib).mkString(" + ")} AS score
      FROM base b CROSS JOIN s
      WHERE ${terms.map(t => s"b.tf_$t > 0").mkString(" OR ")}"""
    },

    // blocked fuzzy join: the oracle skips the (lossless) length-band
    // blocking and verifies against the full cross product — identical
    // matches because levenshtein >= |len(a) - len(b)| bounds the block
    "op_fuzzy_join" -> """
      WITH clean AS (SELECT DISTINCT p_name FROM part),
      dirty AS (
        SELECT DISTINCT
          concat(substr(p_name, 1, (length(p_name) // 2) - 1),
                 substr(p_name, (length(p_name) // 2) + 1)) AS dirty_name
        FROM clean),
      cand AS (
        SELECT d.dirty_name, c.p_name,
          CAST(levenshtein(d.dirty_name, c.p_name) AS INT) AS dist
        FROM dirty d CROSS JOIN clean c
        WHERE levenshtein(d.dirty_name, c.p_name) <= 2)
      SELECT dirty_name, p_name AS match_name, dist
      FROM (SELECT *, row_number() OVER (
              PARTITION BY dirty_name ORDER BY dist, p_name) AS rn
            FROM cand)
      WHERE rn = 1""",

    // ordered funnel: stage i's first event must be STRICTLY after stage
    // i-1's first event for the same user; µs-long timestamps both sides
    // (DuckDB reads the nanos fixture at µs precision — the Spark side
    // truncates to µs so the strict-after comparisons agree exactly)
    "op_funnel" -> """
      WITH s1 AS (
        SELECT user_id, min(epoch_us(ts)) AS ts_view
        FROM events WHERE event_type = 'view' GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS ts_click
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.ts_view
        GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS ts_purchase
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.ts_click
        GROUP BY 1)
      SELECT s1.user_id, s1.ts_view, s2.ts_click, s3.ts_purchase,
        CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
               + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS INT)
          AS n_stages
      FROM s1
      LEFT JOIN s2 ON s1.user_id = s2.user_id
      LEFT JOIN s3 ON s2.user_id = s3.user_id""",

    // cohort retention: integer epoch-day arithmetic (// is exact integer
    // division — mirrors the Spark side's `div`, never double math)
    "op_retention" -> """
      WITH active AS (
        SELECT DISTINCT user_id,
          epoch_ns(ts) // 86400000000000 AS day
        FROM events),
      cohort AS (
        SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1)
      SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        count(*) AS n_users
      FROM active a JOIN cohort c ON a.user_id = c.user_id
      GROUP BY 1, 2""",

    // DAU + trailing 7-day rolling distinct actives via the cover-explode
    // formulation (rolling count-distinct is not window-decomposable);
    // integer epoch-day arithmetic mirrors the Spark side exactly
    "op_rolling_actives" -> """
      WITH active AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        FROM events),
      cover AS (
        SELECT DISTINCT user_id, day + o AS day2
        FROM active CROSS JOIN unnest(generate_series(0, 6)) AS t(o)),
      wau AS (
        SELECT day2 AS day, count(*) AS wau7 FROM cover
        WHERE day2 <= (SELECT max(day) FROM active) GROUP BY 1),
      dau AS (SELECT day, count(*) AS dau FROM active GROUP BY 1)
      SELECT w.day, CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
        CAST(w.wau7 AS BIGINT) AS wau7
      FROM wau w LEFT JOIN dau d ON w.day = d.day""",

    // degree histogram of the co-purchase graph: vertex degrees over the
    // canonical x<y edge list, then vertices per degree
    "op_degree_hist" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS v
                  FROM lineitem),
      e AS (SELECT DISTINCT a.v AS x, b.v AS y
            FROM li a JOIN li b ON a.g = b.g AND a.v < b.v),
      deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
          SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
        GROUP BY v)
      SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices
      FROM deg GROUP BY degree""",

    // Point-in-time join: the INTERVAL formulation (valid_from <= t <
    // valid_to, NULL = current) — the Spark side computes the same rows
    // with a backward-inclusive as-of join, so this oracle certifies the
    // cross-formulation equivalence, not just the numbers.
    "op_pit_join" -> """
      WITH ch0 AS (
        SELECT user_id, tus, event_id, event_type FROM (
          SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
            row_number() OVER (PARTITION BY user_id, epoch_us(ts)
              ORDER BY event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      c AS (
        SELECT user_id, event_type, tus,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY tus) AS prev,
          row_number() OVER (PARTITION BY user_id ORDER BY tus) AS rn0
        FROM ch0),
      ch AS (SELECT user_id, event_type, tus FROM c
             WHERE rn0 = 1 OR prev IS DISTINCT FROM event_type),
      dim AS (
        SELECT user_id, event_type AS dim_type, tus AS valid_from,
          lead(tus) OVER (PARTITION BY user_id ORDER BY tus) AS valid_to,
          CAST(row_number() OVER (PARTITION BY user_id ORDER BY tus)
            AS INTEGER) AS version
        FROM ch)
      SELECT e.event_id, e.user_id, d.dim_type, d.version
      FROM (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events) e
      JOIN dim d ON e.user_id = d.user_id
        AND e.tus >= d.valid_from
        AND (d.valid_to IS NULL OR e.tus < d.valid_to)""",

    // first-order Markov transitions: lag window in per-user total order,
    // pair counts, probability = one division of exact integer counts
    "op_transitions" -> """
      WITH pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events),
      c AS (SELECT prev_type, next_type, count(*) AS n
            FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
            FROM c GROUP BY 1)
      SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
        CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
      FROM c JOIN t ON c.prev_type = t.prev_type""",

    // latest-record compaction: the window formulation (deterministic
    // (ts, event_id) tie-break) proves the Spark max_by aggregate's result
    "op_compact_latest" -> """
      SELECT user_id, event_type, epoch_us(ts) AS ts, event_id, value
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1""",

    // calendar gap-fill: dense daily grid per priority, zero-filled exact
    // cents, running cumulative sum (HUGEINT window sum pinned to BIGINT)
    "op_resample" -> """
      WITH daily AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM orders GROUP BY 1, 2),
      grid AS (
        SELECT p.o_orderpriority, CAST(gs.d AS DATE) AS day
        FROM (SELECT DISTINCT o_orderpriority FROM orders) p
        CROSS JOIN (SELECT unnest(generate_series(
            (SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
            (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
            INTERVAL 1 DAY)) AS d) gs)
      SELECT g.o_orderpriority, g.day,
        CAST(COALESCE(d.cents, 0) AS BIGINT) AS cents,
        CAST(sum(COALESCE(d.cents, 0)) OVER (
          PARTITION BY g.o_orderpriority ORDER BY g.day) AS BIGINT)
          AS cum_cents
      FROM grid g LEFT JOIN daily d
        ON g.o_orderpriority = d.o_orderpriority AND g.day = d.day""",

    // SCD2 interval build: first-row-or-changed filter (null-safe), then
    // half-open validity windows over the surviving changes.
    "op_scd2" -> """
      WITH c AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS tns,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS prev,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS rn0
        FROM events),
      ch AS (SELECT user_id, event_type, tns, event_id FROM c
             WHERE rn0 = 1 OR prev IS DISTINCT FROM event_type)
      SELECT user_id, event_type, tns AS valid_from,
        lead(tns) OVER w AS valid_to,
        CAST(row_number() OVER w AS INTEGER) AS version,
        (lead(tns) OVER w IS NULL) AS is_current
      FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)""",

    // Trailing 7-day RANGE window over the daily pre-aggregate; the
    // average is one division of exact integers.
    "op_rolling_avg" -> """
      WITH daily AS (
        SELECT o_orderpriority,
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2)
      SELECT o_orderpriority, day_num, CAST(cents AS BIGINT) AS cents,
        CAST(sum(cents) OVER w AS BIGINT) AS roll_cents,
        count(*) OVER w AS roll_days,
        CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE)
          / CAST(count(*) OVER w AS DOUBLE) AS roll_avg_cents
      FROM daily
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_num
        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",

    "op_period_gen" -> """
      SELECT n.n_nationkey,
        CAST(ms AS DATE) AS period_start,
        last_day(CAST(ms AS DATE)) AS period_end,
        make_date(CAST(year(CAST(ms AS DATE) + INTERVAL 1 MONTH) AS INT),
                  CAST(month(CAST(ms AS DATE) + INTERVAL 1 MONTH) AS INT),
                  20) AS due_date
      FROM nation n
      CROSS JOIN generate_series(DATE '2024-01-01', DATE '2024-12-01',
                                 INTERVAL 1 MONTH) AS t(ms)""",

    // ---- tax-domain pipelines over synthetic transactions ----
    "op_txn_gen" -> s"""
      WITH $txnsCte
      SELECT transaction_id, transaction_date, CAST(amount AS DOUBLE) AS amount,
        state, city, item_category, exemption_certificate, customer_type,
        CAST(tax_paid AS DOUBLE) AS tax_paid
      FROM txns""",

    "op_tax_calc" -> s"""
      WITH $taxCte
      SELECT transaction_id, state, city,
        CAST(taxable_amount AS DOUBLE) AS taxable_amount,
        CAST(state_tax AS DOUBLE) AS state_tax,
        CAST(local_tax AS DOUBLE) AS local_tax,
        CAST(tax_amount AS DOUBLE) AS tax_amount,
        is_exempt, exemption_reason
      FROM taxcalc""",

    "op_tax_summary" -> s"""
      WITH $taxCte
      SELECT state, count(*) AS transaction_count,
        CAST(sum(taxable_amount) AS DOUBLE) AS taxable_amount,
        CAST(sum(tax_amount) AS DOUBLE) AS tax_amount,
        CAST(coalesce(sum(CASE WHEN is_exempt THEN taxable_amount END), 0)
             AS DOUBLE) AS exempt_amount,
        count(CASE WHEN is_exempt THEN 1 END) AS exempt_count
      FROM taxcalc GROUP BY state""",

    "op_batch_agg" -> s"""
      WITH $taxCte
      SELECT CAST(sum(taxable_amount) AS DOUBLE) AS total_taxable,
        CAST(sum(tax_amount) AS DOUBLE) AS total_tax,
        CAST(coalesce(sum(CASE WHEN is_exempt THEN taxable_amount END), 0)
             AS DOUBLE) AS total_exempt,
        count(*) AS transaction_count,
        count(CASE WHEN is_exempt THEN 1 END) AS exempt_count
      FROM taxcalc""",

    "op_state_breakdown" -> s"""
      WITH $taxCte
      SELECT state, CAST(sum(tax_amount) AS DOUBLE) AS state_total_tax
      FROM taxcalc GROUP BY state""",

    // key/value CSV dict-mode export (report_generator.py:358-362): the
    // summary dict as key,value rows, every value float-coerced — the
    // Spark side round-trips these rows through an actual CSV sink+scan
    "op_csv_kv" -> s"""
      WITH $taxCte,
      agg AS (
        SELECT count(*) AS n,
          sum(taxable_amount) AS taxable, sum(tax_amount) AS tax,
          coalesce(sum(CASE WHEN is_exempt THEN taxable_amount END), 0)
            AS exempt,
          count(CASE WHEN is_exempt THEN 1 END) AS n_exempt
        FROM taxcalc)
      SELECT 'total_transactions' AS key, CAST(n AS DOUBLE) AS value FROM agg
      UNION ALL SELECT 'total_taxable', CAST(taxable AS DOUBLE) FROM agg
      UNION ALL SELECT 'total_tax', CAST(tax AS DOUBLE) FROM agg
      UNION ALL SELECT 'total_exempt', CAST(exempt AS DOUBLE) FROM agg
      UNION ALL SELECT 'exempt_transactions', CAST(n_exempt AS DOUBLE) FROM agg
      UNION ALL SELECT 'overall_effective_rate',
        CASE WHEN taxable > 0 THEN CAST(tax AS DOUBLE) / CAST(taxable AS DOUBLE)
             ELSE 0.0 END FROM agg""",

    "op_refund_scan" -> s"""
      WITH $refundsCte
      SELECT transaction_id, transaction_date, state, city,
        CAST(sale_amount AS DOUBLE) AS sale_amount,
        CAST(tax_paid AS DOUBLE) AS tax_paid,
        CAST(tax_owed AS DOUBLE) AS tax_owed,
        CAST(overpayment AS DOUBLE) AS overpayment,
        reason_key, refund_eligible, statute_of_limitations_date
      FROM refunds""",

    "op_refund_summary" -> s"""
      WITH $refundsCte
      SELECT CAST(coalesce(sum(overpayment), 0) AS DOUBLE) AS total_overpayment,
        count(*) AS overpayment_count,
        min(CASE WHEN refund_eligible THEN transaction_date END) AS oldest_eligible,
        max(CASE WHEN refund_eligible THEN transaction_date END) AS newest_eligible,
        CAST(round(coalesce(sum(CASE WHEN refund_eligible THEN overpayment END), 0)
                   * CAST(0.85 AS DECIMAL(3,2)), 2) AS DOUBLE) AS estimated_recovery
      FROM refunds""",

    "op_refund_by_state" -> s"""
      WITH $refundsCte
      SELECT state, CAST(sum(overpayment) AS DOUBLE) AS overpayment
      FROM refunds GROUP BY state""",

    "op_refund_by_reason" -> s"""
      WITH $refundsCte
      SELECT reason_key, CAST(sum(overpayment) AS DOUBLE) AS overpayment
      FROM refunds GROUP BY reason_key""",

    "op_refund_claims" -> s"""
      WITH $refundsCte
      SELECT state AS state_code,
        min(transaction_date) AS claim_period_start,
        max(transaction_date) AS claim_period_end,
        CAST(sum(overpayment) AS DOUBLE) AS total_refund_requested,
        count(*) AS transaction_count,
        string_agg(DISTINCT reason_key, ',' ORDER BY reason_key) AS supporting_reasons
      FROM refunds WHERE refund_eligible GROUP BY state""",

    // flat capped claims records: top-10 per state by the same struct order
    // the Spark side uses (all projected columns participate in the order,
    // so the SELECTED rows are deterministic even under full ties)
    "op_claims_nested" -> s"""
      WITH $refundsCte,
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY state
          ORDER BY overpayment DESC, transaction_id DESC,
                   transaction_date DESC, sale_amount DESC, tax_paid DESC,
                   reason_key DESC) AS rn
        FROM refunds WHERE refund_eligible)
      SELECT state AS state_code, rn AS rec_rank, transaction_id,
        transaction_date,
        CAST(sale_amount AS DOUBLE) AS sale_amount,
        CAST(tax_paid AS DOUBLE) AS tax_paid,
        CAST(tax_owed AS DOUBLE) AS tax_owed,
        CAST(overpayment AS DOUBLE) AS overpayment,
        reason_key
      FROM ranked WHERE rn <= 10""",

    "op_tax_report" -> s"""
      WITH $taxCte,
      st AS (
        SELECT 'state' AS section, state, count(*) AS transaction_count,
          CAST(sum(taxable_amount) AS DOUBLE) AS taxable_amount,
          CAST(sum(tax_amount) AS DOUBLE) AS tax_amount,
          CAST(coalesce(sum(CASE WHEN is_exempt THEN taxable_amount END), 0)
               AS DOUBLE) AS exempt_amount,
          count(CASE WHEN is_exempt THEN 1 END) AS exempt_count
        FROM taxcalc GROUP BY state),
      sm AS (
        SELECT 'summary' AS section, CAST(NULL AS VARCHAR) AS state,
          count(*) AS transaction_count,
          CAST(sum(taxable_amount) AS DOUBLE) AS taxable_amount,
          CAST(sum(tax_amount) AS DOUBLE) AS tax_amount,
          CAST(coalesce(sum(CASE WHEN is_exempt THEN taxable_amount END), 0)
               AS DOUBLE) AS exempt_amount,
          count(CASE WHEN is_exempt THEN 1 END) AS exempt_count
        FROM taxcalc)
      SELECT *, CASE WHEN taxable_amount > 0
                     THEN tax_amount / taxable_amount ELSE 0.0
                END AS effective_rate
      FROM (SELECT * FROM st UNION ALL SELECT * FROM sm)""",

    "op_refund_report" -> s"""
      WITH $refundsCte,
      s AS (
        SELECT CAST(coalesce(sum(overpayment), 0) AS DOUBLE) AS total_overpayment,
          count(*) AS overpayment_count,
          min(CASE WHEN refund_eligible THEN transaction_date END) AS oldest,
          max(CASE WHEN refund_eligible THEN transaction_date END) AS newest,
          CAST(round(coalesce(sum(CASE WHEN refund_eligible THEN overpayment END), 0)
                     * CAST(0.85 AS DECIMAL(3,2)), 2) AS DOUBLE) AS recovery
        FROM refunds)
      SELECT 'summary' AS section, CAST(NULL AS VARCHAR) AS key,
        total_overpayment AS amount, overpayment_count AS n,
        CAST(NULL AS DATE) AS d FROM s
      UNION ALL
      SELECT 'recovery', NULL, recovery, 0, NULL FROM s
      UNION ALL
      SELECT 'oldest_eligible', NULL, NULL, NULL, oldest FROM s
      UNION ALL
      SELECT 'newest_eligible', NULL, NULL, NULL, newest FROM s
      UNION ALL
      SELECT 'state', state, CAST(sum(overpayment) AS DOUBLE), NULL, NULL
      FROM refunds GROUP BY state
      UNION ALL
      SELECT 'reason', reason_key, CAST(sum(overpayment) AS DOUBLE), NULL, NULL
      FROM refunds GROUP BY reason_key""",

    "op_nexus_check" -> s"""
      WITH $txnsCte,
      activity AS (
        SELECT state, CAST(sum(amount) AS DECIMAL(18,2)) AS revenue,
          count(*) AS transaction_count
        FROM txns GROUP BY state),
      nx AS (SELECT state_code, revenue_threshold, transaction_threshold
             FROM read_parquet('$Fix/nexus_thresholds.parquet')),
      nn AS (SELECT state_code FROM read_parquet('$Fix/no_nexus_states.parquet'))
      SELECT a.state, CAST(a.revenue AS DOUBLE) AS revenue, a.transaction_count,
        CASE WHEN a.state IN (SELECT state_code FROM nn) THEN FALSE
             WHEN t.state_code IS NULL THEN FALSE
             ELSE (a.revenue >= t.revenue_threshold
                   OR (t.transaction_threshold IS NOT NULL
                       AND a.transaction_count >= t.transaction_threshold))
        END AS has_nexus,
        CAST(CASE WHEN a.state IN (SELECT state_code FROM nn) THEN 0
             WHEN t.state_code IS NULL THEN 0
             ELSE t.revenue_threshold END AS DOUBLE) AS revenue_threshold,
        CASE WHEN a.state IN (SELECT state_code FROM nn) THEN NULL
             WHEN t.state_code IS NULL THEN NULL
             ELSE t.transaction_threshold END AS transaction_threshold,
        CASE WHEN a.state IN (SELECT state_code FROM nn) THEN 0.0
             WHEN t.state_code IS NULL THEN 0.0
             WHEN t.revenue_threshold > 0 THEN
               CAST(a.revenue AS DOUBLE) / CAST(t.revenue_threshold AS DOUBLE) * 100
             ELSE 0.0 END AS revenue_pct_of_threshold
      FROM activity a LEFT JOIN nx t ON t.state_code = a.state""",

    // Streaming batch-equivalence: the Spark side replays events through
    // the REAL Structured Streaming path (file source -> complete-mode
    // memory sink) — this oracle is the batch aggregate the stream must
    // equal. Integer-cents accumulation makes the sum order-independent.
    "op_stream_nexus" -> s"""
      WITH states AS (
        SELECT state_idx, state_code
        FROM read_parquet('$Fix/state_rates.parquet')),
      ev AS (
        SELECT s.state_code AS state,
          CAST(floor(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN states s ON s.state_idx = e.user_id % 51),
      activity AS (
        SELECT state,
          CAST(CAST(sum(cents) AS DECIMAL(18,2)) * CAST(0.01 AS DECIMAL(3,2))
            AS DECIMAL(18,2)) AS revenue,
          count(*) AS transaction_count
        FROM ev GROUP BY state),
      nx AS (SELECT state_code, revenue_threshold, transaction_threshold
             FROM read_parquet('$Fix/nexus_thresholds.parquet')),
      nn AS (SELECT state_code FROM read_parquet('$Fix/no_nexus_states.parquet'))
      SELECT a.state, CAST(a.revenue AS DOUBLE) AS revenue, a.transaction_count,
        CASE WHEN a.state IN (SELECT state_code FROM nn) THEN FALSE
             WHEN t.state_code IS NULL THEN FALSE
             ELSE (a.revenue >= t.revenue_threshold
                   OR (t.transaction_threshold IS NOT NULL
                       AND a.transaction_count >= t.transaction_threshold))
        END AS has_nexus,
        CAST(CASE WHEN a.state IN (SELECT state_code FROM nn) THEN 0
             WHEN t.state_code IS NULL THEN 0
             ELSE t.revenue_threshold END AS DOUBLE) AS revenue_threshold,
        CASE WHEN a.state IN (SELECT state_code FROM nn) THEN NULL
             WHEN t.state_code IS NULL THEN NULL
             ELSE t.transaction_threshold END AS transaction_threshold,
        CASE WHEN a.state IN (SELECT state_code FROM nn) THEN 0.0
             WHEN t.state_code IS NULL THEN 0.0
             WHEN t.revenue_threshold > 0 THEN
               CAST(a.revenue AS DOUBLE) / CAST(t.revenue_threshold AS DOUBLE) * 100
             ELSE 0.0 END AS revenue_pct_of_threshold
      FROM activity a LEFT JOIN nx t ON t.state_code = a.state""",

    // Streaming gap-sessionization equivalence: the Spark side replays
    // events through flatMapGroupsWithState (custom session state +
    // event-time timeout). Emitted on a bounded AvailableNow replay:
    // every session CLOSED by a later same-user event (all non-final
    // sessions), plus final sessions whose timeout (session_end + 30 min)
    // falls strictly before the final watermark (max event time - 61 min,
    // advanced by the trailing no-data micro-batch). All math in integer
    // epoch-ms on both sides (Timestamp state math is ms-granular).
    "op_stream_sessions" -> """
      WITH ev AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS tms FROM events),
      d AS (
        SELECT user_id, event_id, tms,
          CASE WHEN lag(tms) OVER w IS NULL
                 OR tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
      s AS (
        SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
          ORDER BY tms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM d),
      sess AS (
        SELECT user_id, sid, min(tms) AS session_start_ms,
          max(tms) AS session_end_ms, count(*) AS n_events
        FROM s GROUP BY user_id, sid),
      last AS (
        SELECT user_id, CAST(max(sid) AS BIGINT) AS last_sid
        FROM sess GROUP BY user_id),
      mx AS (SELECT max(tms) AS mt FROM ev)
      SELECT s.user_id, s.session_start_ms, s.session_end_ms,
        CAST(s.n_events AS BIGINT) AS n_events
      FROM sess s JOIN last l ON l.user_id = s.user_id
      WHERE s.sid < l.last_sid
         OR s.session_end_ms + 1800000 < (SELECT mt FROM mx) - 3660000""",

    // Streaming exact-dedup equivalence: the Spark side replays documents
    // (with planted duplicate texts) through dropDuplicatesWithinWatermark
    // on the real streaming path; the surviving distinct-content-hash SET
    // must equal the batch distinct over the same texts. (Which duplicate
    // row survives is scheduling-dependent; the hash set is not — hence
    // hash-only output.)
    "op_stream_dedup" -> """
      SELECT DISTINCT md5(text) AS text_hash FROM documents""",

    // Streaming near-dup dedup, batch-checked: the replayed per-band
    // verdicts OR into exactly the batch DIRECT-NEIGHBOR band dedup —
    // a doc drops iff some SMALLER-id doc shares a band key and the
    // signatures agree on >= 20 of 64 slots (the same portable-MinHash
    // banding as op_incr_dedup, without the CC step: streaming decides
    // at arrival, and the drop set is identical — only cluster ids
    // would differ).
    "op_stream_neardup" -> s"""
      WITH nd AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000000, text || ' streamed near duplicate tail'
        FROM documents WHERE doc_id % 9 = 4),
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM nd),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM hsh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      banded AS (
        SELECT doc_id, g.bd,
          array_to_string(list_slice(sig, g.bd * 4 + 1, g.bd * 4 + 4), ',') AS bkey
        FROM sig CROSS JOIN generate_series(0, 15) AS g(bd)),
      coll AS (
        SELECT DISTINCT y.doc_id
        FROM banded x JOIN banded y
          ON x.bd = y.bd AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        JOIN sig sa ON sa.doc_id = x.doc_id
        JOIN sig sb ON sb.doc_id = y.doc_id
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
          p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT) >= 20)
      SELECT n.doc_id, (c.doc_id IS NULL) AS keep
      FROM nd n LEFT JOIN coll c USING (doc_id)""",

    // Streaming event-time daily windows, batch-checked: the Spark side
    // runs window() on the real streaming path; this is the batch daily
    // aggregate it must equal (UTC-aligned day boundaries both sides).
    "op_stream_windows" -> s"""
      WITH states AS (
        SELECT state_idx, state_code
        FROM read_parquet('$Fix/state_rates.parquet'))
      SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
        s.state_code AS state,
        CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
          AS revenue_cents,
        count(*) AS transaction_count
      FROM events e JOIN states s ON s.state_idx = e.user_id % 51
      GROUP BY 1, 2""",

    // Streaming trending types, batch-checked: daily (day, event_type)
    // counts, per-day top-3 by (count desc, type asc) — the rank window
    // is oracle-side; the Spark plan ranks through the bounded heap.
    "op_stream_topk" -> """
      WITH c AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          count(*) AS n_events
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT day, event_type, n_events,
          row_number() OVER (PARTITION BY day
            ORDER BY n_events DESC, event_type) AS rn
        FROM c)
      SELECT day, event_type, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rn <= 3""",

    // Streaming drift alerts: per-(day, type) within-day share vs the
    // type's whole-period baseline share, floored-IEEE ppm, 2% alert bar.
    "op_stream_drift" -> """
      WITH c AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
          count(*) AS n_events
        FROM events GROUP BY 1, 2),
      d AS (SELECT day, sum(n_events) AS dt FROM c GROUP BY 1),
      b AS (SELECT event_type, sum(n_events) AS tt FROM c GROUP BY 1),
      t AS (SELECT sum(n_events) AS n FROM c)
      SELECT c.day, c.event_type, CAST(c.n_events AS BIGINT) AS n_events,
        CAST(floor(c.n_events * 1000000.0 / d.dt) AS BIGINT)
          AS day_share_ppm,
        CAST(floor(b.tt * 1000000.0 / t.n) AS BIGINT) AS base_share_ppm,
        CAST(floor(c.n_events * 1000000.0 / d.dt) AS BIGINT)
          - CAST(floor(b.tt * 1000000.0 / t.n) AS BIGINT) AS drift_ppm,
        abs(CAST(floor(c.n_events * 1000000.0 / d.dt) AS BIGINT)
          - CAST(floor(b.tt * 1000000.0 / t.n) AS BIGINT)) >= 20000
          AS alert
      FROM c JOIN d USING (day) JOIN b USING (event_type) CROSS JOIN t""",

    "op_filing_deadlines" -> s"""
      WITH reg AS (
        SELECT * FROM (VALUES
          ('CA', CAST(60000.00 AS DECIMAL(18,2))),
          ('NY', CAST(2400.00 AS DECIMAL(18,2))),
          ('TX', CAST(600.00 AS DECIMAL(18,2))),
          ('WA', CAST(12000.00 AS DECIMAL(18,2))),
          ('OH', CAST(1600.00 AS DECIMAL(18,2)))
        ) AS t(state_code, liability)),
      freq AS (
        SELECT *, CASE WHEN liability >= 4800 THEN 'monthly'
                       WHEN liability >= 1200 THEN 'quarterly'
                       ELSE 'annual' END AS frequency FROM reg),
      periods AS (
        SELECT f.state_code, f.frequency, f.liability, CAST(ms AS DATE) AS period_start
        FROM freq f CROSS JOIN generate_series(DATE '2024-01-01',
          DATE '2024-12-01', INTERVAL 1 MONTH) AS t(ms)
        WHERE (f.frequency = 'monthly')
           OR (f.frequency = 'quarterly'
               AND month(CAST(ms AS DATE)) IN (1, 4, 7, 10))
           OR (f.frequency = 'annual' AND month(CAST(ms AS DATE)) = 1)),
      pend AS (
        SELECT *, CASE WHEN frequency = 'monthly' THEN last_day(period_start)
                       WHEN frequency = 'quarterly'
                         THEN last_day(period_start + INTERVAL 2 MONTH)
                       ELSE DATE '2024-12-31' END AS period_end
        FROM periods),
      dd AS (SELECT state_code, due_day
             FROM read_parquet('$Fix/filing_due_days.parquet'))
      SELECT p.state_code, p.frequency, p.period_start, p.period_end,
        make_date(CAST(year(p.period_end + INTERVAL 1 MONTH) AS INT),
                  CAST(month(p.period_end + INTERVAL 1 MONTH) AS INT),
                  coalesce(d.due_day, 20)) AS due_date,
        (make_date(CAST(year(p.period_end + INTERVAL 1 MONTH) AS INT),
                   CAST(month(p.period_end + INTERVAL 1 MONTH) AS INT),
                   coalesce(d.due_day, 20)) < DATE '2024-12-01') AS is_overdue,
        datediff('day', DATE '2024-12-01',
          make_date(CAST(year(p.period_end + INTERVAL 1 MONTH) AS INT),
                    CAST(month(p.period_end + INTERVAL 1 MONTH) AS INT),
                    coalesce(d.due_day, 20))) AS days_until_due,
        CASE WHEN make_date(CAST(year(p.period_end + INTERVAL 1 MONTH) AS INT),
                            CAST(month(p.period_end + INTERVAL 1 MONTH) AS INT),
                            coalesce(d.due_day, 20)) < DATE '2024-12-01'
             THEN 'overdue' ELSE 'pending' END AS status
      FROM pend p LEFT JOIN dd d ON d.state_code = p.state_code""",

    // Same deadline generation with a filed-period set: filed periods flip
    // status and mask overdue (mirrors Compliance.filingDeadlines(filed=…)).
    "op_filed_semijoin" -> s"""
      WITH reg AS (
        SELECT * FROM (VALUES
          ('CA', CAST(60000.00 AS DECIMAL(18,2))),
          ('NY', CAST(2400.00 AS DECIMAL(18,2))),
          ('TX', CAST(600.00 AS DECIMAL(18,2))),
          ('WA', CAST(12000.00 AS DECIMAL(18,2))),
          ('OH', CAST(1600.00 AS DECIMAL(18,2)))
        ) AS t(state_code, liability)),
      freq AS (
        SELECT *, CASE WHEN liability >= 4800 THEN 'monthly'
                       WHEN liability >= 1200 THEN 'quarterly'
                       ELSE 'annual' END AS frequency FROM reg),
      periods AS (
        SELECT f.state_code, f.frequency, CAST(ms AS DATE) AS period_start
        FROM freq f CROSS JOIN generate_series(DATE '2024-01-01',
          DATE '2024-12-01', INTERVAL 1 MONTH) AS t(ms)
        WHERE (f.frequency = 'monthly')
           OR (f.frequency = 'quarterly'
               AND month(CAST(ms AS DATE)) IN (1, 4, 7, 10))
           OR (f.frequency = 'annual' AND month(CAST(ms AS DATE)) = 1)),
      pend AS (
        SELECT *, CASE WHEN frequency = 'monthly' THEN last_day(period_start)
                       WHEN frequency = 'quarterly'
                         THEN last_day(period_start + INTERVAL 2 MONTH)
                       ELSE DATE '2024-12-31' END AS period_end
        FROM periods),
      dd AS (SELECT state_code, due_day
             FROM read_parquet('$Fix/filing_due_days.parquet')),
      dued AS (
        SELECT p.state_code, p.period_start, p.period_end,
          make_date(CAST(year(p.period_end + INTERVAL 1 MONTH) AS INT),
                    CAST(month(p.period_end + INTERVAL 1 MONTH) AS INT),
                    coalesce(d.due_day, 20)) AS due_date
        FROM pend p LEFT JOIN dd d ON d.state_code = p.state_code),
      filed AS (
        SELECT * FROM (VALUES
          ('CA', DATE '2024-01-01', DATE '2024-01-31'),
          ('CA', DATE '2024-02-01', DATE '2024-02-29'),
          ('NY', DATE '2024-01-01', DATE '2024-03-31')
        ) AS t(state_code, fs, fe))
      SELECT u.state_code, u.period_start, u.period_end, u.due_date,
        (u.due_date < DATE '2024-12-01' AND f.fs IS NULL) AS is_overdue,
        datediff('day', DATE '2024-12-01', u.due_date) AS days_until_due,
        CASE WHEN f.fs IS NOT NULL THEN 'filed'
             WHEN u.due_date < DATE '2024-12-01' THEN 'overdue'
             ELSE 'pending' END AS status
      FROM dued u LEFT JOIN filed f ON f.state_code = u.state_code
        AND f.fs = u.period_start AND f.fe = u.period_end""",

    // Quick refund scan: overpayments at/above the 1.00 minimum, aggregated.
    "op_quickscan" -> s"""
      WITH $refundsCte
      SELECT count(*) AS n_hits,
        CAST(coalesce(sum(overpayment), 0) AS DOUBLE) AS total_overpayment
      FROM refunds WHERE overpayment >= 1.00""",

    // Forward window functions; cume_dist is a count ratio — IEEE-identical.
    "op_lead_ntile" -> """
      SELECT event_id, user_id,
        lead(event_type, 1) OVER w AS next_type,
        ntile(4) OVER w AS quartile,
        cume_dist() OVER w AS cume
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    // Rollup: same grouping-sets rows (NULL keys for subtotal levels) in
    // both engines; neither grouping column is data-nullable, so there is
    // no grouping-null vs data-null ambiguity.
    // Explicit GROUPING SETS with grouping() flags (cast to INT both
    // sides; DuckDB GROUPING returns BIGINT-ish, Spark BYTE).
    "op_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority,
        CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    // percent_rank/cume_dist: exact-int rank ratios — bit-stable doubles.
    "op_rank_stats" -> """
      SELECT DISTINCT l_returnflag,
        CAST(l_quantity AS DOUBLE) AS quantity,
        percent_rank() OVER
          (PARTITION BY l_returnflag ORDER BY l_quantity) AS pr,
        cume_dist() OVER
          (PARTITION BY l_returnflag ORDER BY l_quantity) AS cd
      FROM lineitem""",

    "op_rollup" -> s"""
      WITH $taxCte
      SELECT state,
        coalesce(CAST(is_exempt AS VARCHAR), 'all') AS exempt_level,
        CAST(coalesce(sum(tax_amount), 0) AS DOUBLE) AS tax_total,
        count(*) AS n
      FROM taxcalc GROUP BY ROLLUP (state, is_exempt)""",

    // full CUBE: same conventions as op_rollup, all four grouping levels
    "op_cube" -> s"""
      WITH $taxCte
      SELECT state,
        coalesce(CAST(is_exempt AS VARCHAR), 'all') AS exempt_level,
        CAST(coalesce(sum(tax_amount), 0) AS DOUBLE) AS tax_total,
        count(*) AS n
      FROM taxcalc GROUP BY CUBE (state, is_exempt)""",

    // stream-stream interval join, batch-equivalence form: every
    // (purchase, click-in-prior-10-min) pair per user, ms precision
    "op_stream_join" -> """
      SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        epoch_ns(p.ts) // 1000000 AS ts_p_ms,
        epoch_ns(c.ts) // 1000000 AS ts_c_ms
      FROM events p JOIN events c ON p.user_id = c.user_id
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        AND epoch_ns(c.ts) // 1000000
              BETWEEN epoch_ns(p.ts) // 1000000 - 600000
                  AND epoch_ns(p.ts) // 1000000""",

    // JSON field extraction + typed per-type aggregation
    "op_json_extract" -> """
      SELECT event_type, CAST(count(k) AS BIGINT) AS n,
        CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
      GROUP BY 1""",

    // Corrupt-JSON ingestion: same in-plan corruption; json_valid mirrors
    // from_json's PERMISSIVE null-on-malformed (a valid object with a
    // missing key stays a parsed row with NULL k, both engines).
    "op_json_corrupt" -> """
      WITH c AS (
        SELECT event_type,
          CASE WHEN event_id % 7 = 0
                 THEN substring(props, 1, greatest(length(props) - 3, 0))
               WHEN event_id % 11 = 0 THEN '{broken'
               ELSE props END AS p2
        FROM events),
      p AS (
        SELECT event_type, json_valid(p2) AS ok,
          CASE WHEN json_valid(p2)
               THEN CAST(json_extract_string(p2, '$.k') AS BIGINT) END AS k
        FROM c)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
        CAST(count(k) AS BIGINT) AS n_k,
        CAST(sum(k) AS BIGINT) AS sum_k
      FROM p GROUP BY 1""",

    // Pivot mirrored as conditional aggregation (engine-portable).
    "op_pivot" -> s"""
      WITH $taxCte
      SELECT state,
        CAST(sum(CASE WHEN customer_type = 'retail' THEN tax_amount END)
             AS DOUBLE) AS retail,
        CAST(sum(CASE WHEN customer_type = 'wholesale' THEN tax_amount END)
             AS DOUBLE) AS wholesale,
        CAST(sum(CASE WHEN customer_type = 'exempt' THEN tax_amount END)
             AS DOUBLE) AS exempt
      FROM taxcalc GROUP BY state""",

    // Exact discrete quantiles: the (pos)-th smallest per state — a sorted
    // POSITION pick, so the value is engine-independent even under ties.
    "op_state_quantiles" -> s"""
      WITH $taxCte,
      r AS (
        SELECT state, tax_amount,
          row_number() OVER (PARTITION BY state ORDER BY tax_amount) AS rn,
          count(*) OVER (PARTITION BY state) AS cnt
        FROM taxcalc)
      SELECT state, 'p50' AS quantile, CAST(tax_amount AS DOUBLE) AS tax_amount
      FROM r WHERE rn = (cnt + 1) // 2
      UNION ALL
      SELECT state, 'p90' AS quantile, CAST(tax_amount AS DOUBLE) AS tax_amount
      FROM r WHERE rn = (9 * cnt + 9) // 10""",

    // Histogram-sketch quantiles: fixed-width cents-bucket counts, then the
    // bucket containing the exact op's rank positions. All-integer math;
    // DuckDB's HUGEINT sums only feed comparisons, never the output.
    "op_hist_quantiles" -> s"""
      WITH $taxCte,
      b AS (
        SELECT state, CAST(tax_amount * 100 AS BIGINT) // 500 AS bucket,
          count(*) AS n
        FROM taxcalc GROUP BY 1, 2),
      c AS (
        SELECT state, bucket, n,
          sum(n) OVER (PARTITION BY state ORDER BY bucket) AS cum,
          sum(n) OVER (PARTITION BY state) AS total
        FROM b)
      SELECT state, 'p50' AS quantile, CAST(bucket * 500 AS BIGINT) AS lo_cents
      FROM c WHERE cum - n < (total + 1) // 2 AND (total + 1) // 2 <= cum
      UNION ALL
      SELECT state, 'p90' AS quantile, CAST(bucket * 500 AS BIGINT) AS lo_cents
      FROM c WHERE cum - n < (9 * total + 9) // 10
        AND (9 * total + 9) // 10 <= cum""",

    // Top-50 word bigrams (all occurrences; ties break on ngram text).
    "op_top_ngrams" -> """
      WITH tok AS (
        SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      bg AS (
        SELECT unnest(
          CASE WHEN len(toks) >= 2 THEN
            list_transform(generate_series(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1])
          ELSE CAST([] AS VARCHAR[]) END) AS ngram
        FROM tok)
      SELECT ngram, count(*) AS cnt FROM bg
      GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50""",

    // BPE merge-step pair counts: distinct-word vocab weighted by word
    // frequency; '_' is the one-char end-of-word sentinel, so every
    // adjacent symbol pair is a 2-char substring of word || '_'.
    "op_bpe_pairs" -> """
      WITH words AS (
        SELECT unnest(list_filter(
          string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
          t -> length(t) > 0)) AS word
        FROM documents),
      vocab AS (SELECT word, count(*) AS freq FROM words GROUP BY word),
      pairs AS (
        SELECT freq, unnest(list_transform(generate_series(1, length(word)),
          i -> substr(word || '_', i, 2))) AS pair
        FROM vocab)
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM pairs
      GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 50""",

    // Batch-BPE apply: 2 rounds x 16 ranked merges over the distinct-word
    // vocab. Symbols live in a '||'-guarded string; one merge = one
    // literal replace('|x||y|' -> '|xy|') — left-to-right non-overlapping
    // in DuckDB exactly as in Spark. Each recursive CTE steps through one
    // round's rank-ordered merge list (rnk = step + 1); recursion stops
    // when no rank matches, and the max-step filter keeps the fully-merged
    // state even if fewer than 16 distinct pairs exist. Tie order
    // (cnt DESC, x, y) is total, so the merge lists are identical
    // cross-engine.
    // PERF (round 15): every non-recursive CTE is MATERIALIZED and the
    // max-step pick runs as a window over ONE reference to the recursive
    // CTE — the previous `WHERE step = (SELECT max(step) FROM apN)` form
    // re-expanded the whole 16-step recursion per reference (DuckDB 1.0
    // inlines CTEs), which alone cost ~600 s at sf0.1.
    "op_bpe_apply" -> """
      WITH RECURSIVE
      words AS (
        SELECT unnest(list_filter(
          string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
          t -> length(t) > 0)) AS word
        FROM documents),
      vocab AS MATERIALIZED (
        SELECT word, count(*) AS freq FROM words GROUP BY word),
      init AS MATERIALIZED (
        SELECT word, freq,
          '||' || array_to_string(list_transform(
            generate_series(1, length(word) + 1),
            i -> substr(word || '_', i, 1)), '||') || '||' AS s
        FROM vocab),
      m1 AS MATERIALIZED (
        SELECT x, y, row_number() OVER (ORDER BY cnt DESC, x, y) AS rnk
        FROM (
          SELECT p.x AS x, p.y AS y, sum(freq) AS cnt FROM (
            SELECT freq, unnest(list_transform(
              generate_series(1, len(a) - 1),
              i -> {'x': a[i], 'y': a[i + 1]})) AS p
            FROM (SELECT freq, list_filter(string_split(s, '||'),
                    t -> length(t) > 0) AS a FROM init)
            WHERE len(a) >= 2)
          GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 16)),
      ap1 AS (
        SELECT 0 AS step, word, freq, s FROM init
        UNION ALL
        SELECT a.step + 1, a.word, a.freq,
          replace(a.s, '|' || m.x || '||' || m.y || '|',
            '|' || m.x || m.y || '|')
        FROM ap1 a JOIN m1 m ON m.rnk = a.step + 1),
      r1 AS MATERIALIZED (
        SELECT word, freq, s FROM (
          SELECT word, freq, s, step, max(step) OVER () AS mx FROM ap1)
        WHERE step = mx),
      m2 AS MATERIALIZED (
        SELECT x, y, row_number() OVER (ORDER BY cnt DESC, x, y) AS rnk
        FROM (
          SELECT p.x AS x, p.y AS y, sum(freq) AS cnt FROM (
            SELECT freq, unnest(list_transform(
              generate_series(1, len(a) - 1),
              i -> {'x': a[i], 'y': a[i + 1]})) AS p
            FROM (SELECT freq, list_filter(string_split(s, '||'),
                    t -> length(t) > 0) AS a FROM r1)
            WHERE len(a) >= 2)
          GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 16)),
      ap2 AS (
        SELECT 0 AS step, word, freq, s FROM r1
        UNION ALL
        SELECT a.step + 1, a.word, a.freq,
          replace(a.s, '|' || m.x || '||' || m.y || '|',
            '|' || m.x || m.y || '|')
        FROM ap2 a JOIN m2 m ON m.rnk = a.step + 1),
      r2 AS MATERIALIZED (
        SELECT word, freq, s FROM (
          SELECT word, freq, s, step, max(step) OVER () AS mx FROM ap2)
        WHERE step = mx)
      SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count FROM (
        SELECT freq, unnest(list_filter(string_split(s, '||'),
          t -> length(t) > 0)) AS piece
        FROM r2)
      GROUP BY piece ORDER BY piece_count DESC, piece LIMIT 100""",

    // Per-doc OOV stats vs the corpus' own top-500 vocab (freq desc, word
    // asc — the same deterministic total order as the Spark side).
    "op_oov_rate" -> """
      WITH tok AS (
        SELECT doc_id, unnest(
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END) AS tok
        FROM documents),
      vocab AS (
        SELECT tok AS vword FROM tok GROUP BY tok
        ORDER BY count(*) DESC, tok LIMIT 500)
      SELECT doc_id, count(*) AS n_tokens,
        count(CASE WHEN vword IS NULL THEN 1 END) AS n_oov
      FROM tok LEFT JOIN vocab ON tok = vword
      GROUP BY doc_id""",

    // CMS-prefiltered heavy hitters settle to the exact aggregate.
    "op_cms_topk" -> """
      WITH tok AS (
        SELECT unnest(
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END) AS tok
        FROM documents)
      SELECT tok, count(*) AS n FROM tok
      GROUP BY tok HAVING count(*) >= 300""",

    // Position-keyed co-occurrence pairs (±2 window) with independence
    // lift from exact counts; the double math is textually pinned.
    "op_cooccur" -> """
      WITH tokr AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      pr AS (
        SELECT unnest(flatten(list_transform(generate_series(1, 2), d ->
          list_transform(generate_series(1, len(toks) - d),
            i -> {'x': least(toks[i], toks[i + d]),
                  'y': greatest(toks[i], toks[i + d])})))) AS p
        FROM tokr),
      pc AS (SELECT p.x AS x, p.y AS y, count(*) AS n_pair
             FROM pr GROUP BY 1, 2),
      uni AS (SELECT unnest(toks) AS tok FROM tokr),
      uc AS (SELECT tok, count(*) AS n_tok FROM uni GROUP BY tok),
      tot AS (SELECT (SELECT count(*) FROM uni) AS t_toks,
                     (SELECT count(*) FROM pr) AS t_pairs)
      SELECT pc.x, pc.y, pc.n_pair, ux.n_tok AS n_x, uy.n_tok AS n_y,
        (CAST(pc.n_pair AS DOUBLE) / CAST(t.t_pairs AS DOUBLE)) /
          ((CAST(ux.n_tok AS DOUBLE) / CAST(t.t_toks AS DOUBLE))
            * (CAST(uy.n_tok AS DOUBLE) / CAST(t.t_toks AS DOUBLE))) AS lift
      FROM pc JOIN uc ux ON pc.x = ux.tok JOIN uc uy ON pc.y = uy.tok
      CROSS JOIN tot t
      ORDER BY pc.n_pair DESC, pc.x, pc.y LIMIT 50""",

    // Church & Hanks PMI collocations: adjacent bigrams under a ≥5 support
    // floor, ranked by the micro-nat integer PMI — four portable-ln chains
    // composed in the textually-pinned order ((ln c_xy + ln N) − ln c_x)
    // − ln c_y, floored once; hash-exact cross-engine.
    "op_pmi" -> s"""
      WITH tokr AS MATERIALIZED (
        SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM documents),
      bgp AS (
        SELECT unnest(CASE WHEN len(toks) >= 2 THEN
            list_transform(generate_series(1, len(toks) - 1),
              i -> {'w1': toks[i], 'w2': toks[i + 1]})
          ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END) AS p
        FROM tokr),
      big AS MATERIALIZED (
        SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS n_xy
        FROM bgp GROUP BY 1, 2 HAVING count(*) >= 5),
      uni AS MATERIALIZED (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS tok FROM tokr) GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM uni),
      ${lnChain("pmn", "tot", Seq.empty, "lnn")},
      xysrc AS (SELECT w1, w2, n_xy, n_xy AS m FROM big),
      ${lnChain("pmx", "xysrc", Seq("w1", "w2", "n_xy"), "lnxy")},
      usrc AS (SELECT tok, c, c AS m FROM uni),
      ${lnChain("pmu", "usrc", Seq("tok", "c"), "lnu")}
      SELECT b.w1, b.w2, b.n_xy, ux.c AS n_x, uy.c AS n_y,
        CAST(floor((b.lnxy + n.lnn - ux.lnu - uy.lnu)
          * CAST(1000000 AS DOUBLE)) AS BIGINT) AS pmi_micro
      FROM pmx7 b
      JOIN pmu7 ux ON ux.tok = b.w1
      JOIN pmu7 uy ON uy.tok = b.w2
      CROSS JOIN pmn7 n
      ORDER BY pmi_micro DESC, b.w1, b.w2 LIMIT 50""",

    // Rational add-one idf TF-IDF; the TopKPerKey boundary tie-break
    // (max struct(score, term)) is row_number ORDER BY score DESC,
    // term DESC.
    "op_tfidf" -> """
      WITH tok AS (
        SELECT doc_id, unnest(
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
          CAST(tf.tf AS DOUBLE) * ((CAST(n.n_docs AS DOUBLE) + 1.0)
            / (CAST(dfq.df AS DOUBLE) + 1.0)) AS score
        FROM tf JOIN dfq USING (term) CROSS JOIN nd n),
      rk AS (SELECT sc.*, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term DESC) AS rn
        FROM sc)
      SELECT doc_id, term, tf, df, score FROM rk WHERE rn <= 3""",

    // Deterministic hash-threshold sample (no RNG — pure function of data).
    "op_hash_sample" -> """
      SELECT count(*) AS n_sampled,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE CAST('0x' || substring(md5(
          CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
          || '|' || CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT)
        % 1000 < 100""",

    // Deterministic stratified sample: 20 smallest doc-id hashes per lang.
    "op_stratified_sample" -> """
      WITH h AS (
        SELECT lang, doc_id,
          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS hh
        FROM documents),
      r AS (
        SELECT lang, doc_id,
          row_number() OVER (PARTITION BY lang ORDER BY hh) AS rn
        FROM h)
      SELECT lang, doc_id FROM r WHERE rn <= 20""",

    // Per-source volume cap: 3 longest docs per source (ties -> smallest
    // id). The rank window is oracle-side only — the Spark plan rides the
    // bounded-heap TopKPerKey.
    "op_cap_per_key" -> """
      WITH r AS (
        SELECT source, doc_id, length(text) AS len,
          row_number() OVER (PARTITION BY source
            ORDER BY length(text) DESC, doc_id) AS rn
        FROM documents)
      SELECT source, doc_id, CAST(len AS BIGINT) AS len
      FROM r WHERE rn <= 3""",

    // Deterministic weighted sample without replacement: w_i md5-60
    // lottery tickets per row (ticket r = hash(id ':' r)), priority = the
    // smallest ticket, 100 smallest priorities win — Sampling
    // .weightedByHash mirrored hash-for-hash (integer weight derivation:
    // n_chars // 100 + 1 clamped to [1, 64]).
    "op_weighted_sample" -> """
      WITH w AS (
        SELECT doc_id,
          greatest(1, least(n_chars // 100 + 1, 64)) AS weight
        FROM documents),
      p AS (
        SELECT doc_id, weight,
          list_min(list_transform(generate_series(1, weight),
            r -> CAST('0x' || substring(md5(
              CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)),
              1, 15) AS BIGINT))) AS priority
        FROM w)
      SELECT doc_id, CAST(weight AS BIGINT) AS weight, priority
      FROM p ORDER BY priority, doc_id LIMIT 100""",

    // Exponential-race weighted sample: priority = −ln((h+1)/2^60)/w with
    // the portable series ln — every step mirrored operation-for-operation
    // from Sampling.negLnU (exponent via length(bin(m))−1 + a 61-entry
    // power-of-two list, atanh-series mantissa, the identical IEEE
    // arithmetic tree), so the priority double is bit-exact cross-engine.
    "op_weighted_race" -> s"""
      WITH $raceWeightCte,
      $raceKeyCtes
      SELECT doc_id, CAST(weight AS BIGINT) AS weight, priority
      FROM s8 ORDER BY priority, doc_id LIMIT 100""",

    // Per-group race sample: the same race key ranked WITHIN each lang
    // (mirrors the bounded-heap TopKPerKey with struct(priority, id)
    // ascending — ties impossible, the struct carries the id).
    "op_race_per_key" -> s"""
      WITH $raceWeightCte,
      $raceKeyCtes
      SELECT lang, doc_id, CAST(weight AS BIGINT) AS weight, priority
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY lang ORDER BY priority, doc_id) AS rn
        FROM s8) r
      WHERE rn <= 10""",

    // KMV sketch: the k smallest distinct md5-60 hashes and the classic
    // (k-1)·H/kth estimator — deterministic in both engines.
    "op_kmv_distinct" -> """
      WITH h AS (
        SELECT DISTINCT CAST('0x' || substring(
          md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM lineitem),
      m AS (SELECT h FROM h ORDER BY h LIMIT 64)
      SELECT count(*) AS n_minima,
        CASE WHEN count(*) < 64 THEN NULL ELSE max(h) END AS kth_min,
        CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
             ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        END AS est_distinct
      FROM m""",

    // Grouped KMV: the same k-minima derivation PER return flag (rank
    // window inside each group), estimate formula unchanged.
    "op_kmv_by_group" -> """
      WITH h AS (
        SELECT DISTINCT l_returnflag, CAST('0x' || substring(
          md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM lineitem),
      m AS (
        SELECT l_returnflag, h,
          row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk
        FROM h)
      SELECT l_returnflag, count(*) AS n_minima,
        CASE WHEN count(*) < 64 THEN NULL ELSE max(h) END AS kth_min,
        CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
             ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        END AS est_distinct
      FROM m WHERE rk <= 64
      GROUP BY l_returnflag""",

    // Interval join: the oracle states the range predicate directly —
    // DuckDB's IEJoin handles it; the Spark side bucketizes (same rows).
    "op_range_join" -> """
      WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS lo,
          ts + INTERVAL 1 HOUR AS hi
        FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, p.user_id, count(*) AS n_events
      FROM p JOIN events e
        ON e.user_id = p.user_id AND e.ts >= p.lo AND e.ts <= p.hi
      GROUP BY p.purchase_id, p.user_id""",

    // Backward as-of join via the SAME union + last-non-null-window
    // construction the Spark operator uses (engine-agnostic — avoids any
    // native ASOF JOIN tie/equality edge semantics). ts ordering is
    // order-equivalent across engines (Spark reads TIMESTAMP_NS as BIGINT
    // nanos, DuckDB as TIMESTAMP_NS).
    "op_asof_join" -> """
      WITH r AS (
        SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT event_id, user_id, ts, 1 AS side,
          CAST(NULL AS BIGINT) AS purchase_id,
          CAST(NULL AS DOUBLE) AS purchase_value,
          CAST(NULL AS BIGINT) AS rid
        FROM events
        UNION ALL
        SELECT CAST(NULL AS BIGINT), user_id, ts, 0, purchase_id,
          purchase_value, purchase_id
        FROM r),
      filled AS (
        SELECT event_id, user_id, side,
          last_value(purchase_id IGNORE NULLS) OVER w AS purchase_id,
          last_value(purchase_value IGNORE NULLS) OVER w AS purchase_value
        FROM u
        WINDOW w AS (PARTITION BY user_id
          ORDER BY ts ASC, side ASC, rid ASC NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, purchase_id, purchase_value
      FROM filled WHERE side = 1""",

    // Staleness-bounded as-of: the op_asof_join derivation with the
    // matched right ts carried alongside, then a 1-day lookback bound in
    // exact integer nanos nulling the whole match.
    "op_asof_stale" -> """
      WITH r AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_id AS purchase_id,
          value AS purchase_value
        FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT event_id, user_id, epoch_ns(ts) AS tsn, 1 AS side,
          CAST(NULL AS BIGINT) AS purchase_id,
          CAST(NULL AS DOUBLE) AS purchase_value,
          CAST(NULL AS BIGINT) AS rid,
          CAST(NULL AS BIGINT) AS rts
        FROM events
        UNION ALL
        SELECT CAST(NULL AS BIGINT), user_id, tsn, 0, purchase_id,
          purchase_value, purchase_id, tsn
        FROM r),
      filled AS (
        SELECT event_id, user_id, tsn, side,
          last_value(purchase_id IGNORE NULLS) OVER w AS purchase_id,
          last_value(purchase_value IGNORE NULLS) OVER w AS purchase_value,
          last_value(rts IGNORE NULLS) OVER w AS mts
        FROM u
        WINDOW w AS (PARTITION BY user_id
          ORDER BY tsn ASC, side ASC, rid ASC NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id,
        CASE WHEN mts >= tsn - 86400000000000 THEN purchase_id END
          AS purchase_id,
        CASE WHEN mts >= tsn - 86400000000000 THEN purchase_value END
          AS purchase_value
      FROM filled WHERE side = 1""",

    // Unknown-state handling: corrupt states where txn-id % 29 = 0 to 'ZZ'
    // (metadata NULLed — the synthetic generator embeds it at creation, so
    // this chain re-derives the joins the way TaxCalc.withTax does).
    // Unknown rows: zero tax, NOT exempt, exactly one warning.
    "op_unknown_state" -> s"""
      WITH $txnsCte,
      t2 AS (
        SELECT transaction_id, amount, city, item_category,
          exemption_certificate, customer_type,
          CASE WHEN CAST(transaction_id AS BIGINT) % 29 = 0
               THEN 'ZZ' ELSE state END AS state,
          CASE WHEN CAST(transaction_id AS BIGINT) % 29 = 0
               THEN NULL ELSE state_name END AS state_name,
          CASE WHEN CAST(transaction_id AS BIGINT) % 29 = 0
               THEN NULL ELSE base_rate END AS base_rate,
          CASE WHEN CAST(transaction_id AS BIGINT) % 29 = 0
               THEN NULL ELSE has_local_taxes END AS has_local_taxes,
          CASE WHEN CAST(transaction_id AS BIGINT) % 29 = 0
               THEN NULL ELSE avg_combined_rate END AS avg_combined_rate
        FROM txns),
      j2 AS (
        SELECT t.*, lr.rate AS lr_rate, ex.category AS ex_category
        FROM t2 t
        LEFT JOIN (SELECT state_code, city_lc, rate
                   FROM read_parquet('$Fix/local_rates.parquet')) lr
          ON lr.state_code = t.state AND lower(t.city) = lr.city_lc
        LEFT JOIN (SELECT e.state_code, c.synonym, e.category
                   FROM read_parquet('$Fix/state_exemptions.parquet') e
                   JOIN read_parquet('$Fix/category_synonyms.parquet') c
                     USING (category)) ex
          ON ex.state_code = t.state
         AND lower(trim(t.item_category)) = ex.synonym),
      f2 AS (
        SELECT *,
          (state_name IS NULL) AS unknown,
          coalesce(base_rate = CAST(0 AS DECIMAL(10,6))
                   AND NOT has_local_taxes, false) AS no_tax,
          (customer_type IN ('wholesale','exempt')) AS cust_ex,
          (exemption_certificate IS NOT NULL) AS cert_ex,
          (ex_category IS NOT NULL) AS cat_ex,
          CASE WHEN lr_rate IS NOT NULL THEN CAST(lr_rate AS DECIMAL(11,6))
               WHEN coalesce(has_local_taxes, false) THEN
                 (CASE WHEN avg_combined_rate - base_rate > CAST(0 AS DECIMAL(11,6))
                       THEN avg_combined_rate - base_rate
                       ELSE CAST(0 AS DECIMAL(11,6)) END)
               ELSE CAST(0 AS DECIMAL(11,6)) END AS local_rate
        FROM j2)
      SELECT transaction_id, state,
        (NOT unknown AND (no_tax OR cust_ex OR cert_ex OR cat_ex)) AS is_exempt,
        CASE WHEN unknown THEN ''
             WHEN no_tax THEN state_name || ' has no sales tax'
             WHEN cust_ex THEN 'Customer type: ' || customer_type
             WHEN cert_ex THEN 'Exemption cert: ' || exemption_certificate
             WHEN cat_ex THEN state || ' exempts ' || ex_category
             ELSE '' END AS exemption_reason,
        CAST(CASE WHEN unknown OR no_tax OR cust_ex OR cert_ex OR cat_ex THEN 0
             ELSE round(amount * base_rate, 2) + round(amount * local_rate, 2)
             END AS DOUBLE) AS tax_amount,
        CASE WHEN unknown THEN 1
             WHEN NOT (no_tax OR cust_ex OR cert_ex OR cat_ex)
                  AND city IS NULL AND coalesce(has_local_taxes, false) THEN 1
             ELSE 0 END AS n_warnings,
        CASE WHEN unknown THEN 'Unknown state code: ' || state
             WHEN NOT (no_tax OR cust_ex OR cert_ex OR cat_ex)
                  AND city IS NULL AND coalesce(has_local_taxes, false)
               THEN 'No city specified for ' || state
                    || '; used average local rate'
             ELSE '' END AS warning_text
      FROM f2""",

    // Per-state effective rate: exact decimal sums cast to DOUBLE, then
    // IEEE double division — bit-identical in Spark and DuckDB.
    "op_effective_rate" -> s"""
      WITH $taxCte,
      agg AS (
        SELECT state, CAST(sum(taxable_amount) AS DOUBLE) AS taxable,
          CAST(sum(tax_amount) AS DOUBLE) AS tax
        FROM taxcalc GROUP BY state)
      SELECT state,
        CASE WHEN taxable > 0 THEN tax / taxable ELSE 0.0 END AS effective_rate
      FROM agg""",

    // Tax-inclusive back-out with EXACT integer division: taxable =
    // HALF_UP_2(amount / (1 + rate)). For cents n and rate-micro d:
    // taxable_cents = floor((2·n·1e6 + (1e6+d)) / (2·(1e6+d))) — exact
    // HALF_UP of the true rational quotient (incl. exact halves). Spark's
    // decimal division rounds at scale ≥ 14 first, which cannot flip any
    // value whose distance from a half-cent is ≥ 1/(2·2.2e6) — i.e. every
    // non-half case; halves agree by construction. Exempt rows skip the
    // back-out (taxable = amount), mirroring calculator.py:196-209 vs 229.
    "op_incl_backout" -> s"""
      WITH $taxCte,
      backout AS (
        SELECT f.transaction_id, f.state, f.city,
          (f.no_tax OR f.cust_ex OR f.cert_ex OR f.cat_ex) AS is_exempt,
          CASE WHEN f.no_tax THEN f.state_name || ' has no sales tax'
               WHEN f.cust_ex THEN 'Customer type: ' || f.customer_type
               WHEN f.cert_ex THEN 'Exemption cert: ' || f.exemption_certificate
               WHEN f.cat_ex THEN f.state || ' exempts ' || f.ex_category
               ELSE '' END AS exemption_reason,
          f.base_rate, f.local_rate,
          CASE WHEN (f.no_tax OR f.cust_ex OR f.cert_ex OR f.cat_ex)
               THEN f.amount
               ELSE CAST(
                 (2 * CAST(f.amount * 100 AS BIGINT) * 1000000
                    + (1000000 + CAST((f.base_rate + f.local_rate) * 1000000 AS BIGINT)))
                 // (2 * (1000000 + CAST((f.base_rate + f.local_rate) * 1000000 AS BIGINT)))
                 AS DECIMAL(18,0)) * CAST(0.01 AS DECIMAL(3,2))
               END AS taxable
        FROM flags f)
      SELECT transaction_id, state, CAST(taxable AS DOUBLE) AS taxable_amount,
        CAST(CASE WHEN is_exempt THEN 0
             ELSE round(taxable * base_rate, 2) + round(taxable * local_rate, 2)
             END AS DOUBLE) AS tax_amount,
        is_exempt, exemption_reason, city,
        CAST(CASE WHEN is_exempt THEN 0
             ELSE round(taxable * base_rate, 2) END AS DOUBLE) AS state_tax,
        CAST(CASE WHEN is_exempt THEN 0
             ELSE round(taxable * local_rate, 2) END AS DOUBLE) AS local_tax
      FROM backout""",

    // Use tax (calculator.py:305-345): destination tax minus credit for tax
    // already paid, floored at zero. Division-free; CASE instead of least()
    // (DuckDB's least/greatest degrade DECIMAL to DOUBLE). The purchase has
    // no category/cert/customer-type, so only the no-tax branch can exempt.
    "op_use_tax" -> s"""
      WITH $txnsCte,
      locals AS (
        SELECT state_code, city_lc, rate
        FROM read_parquet('$Fix/local_rates.parquet')
      ),
      flags AS (
        SELECT t.state, t.city, t.amount, t.tax_paid,
          (t.base_rate = CAST(0 AS DECIMAL(10,6)) AND NOT t.has_local_taxes) AS no_tax,
          CASE WHEN lr.rate IS NOT NULL THEN CAST(lr.rate AS DECIMAL(11,6))
               WHEN t.has_local_taxes THEN
                 (CASE WHEN t.avg_combined_rate - t.base_rate > CAST(0 AS DECIMAL(11,6))
                       THEN t.avg_combined_rate - t.base_rate
                       ELSE CAST(0 AS DECIMAL(11,6)) END)
               ELSE CAST(0 AS DECIMAL(11,6)) END AS local_rate,
          t.base_rate
        FROM txns t
        LEFT JOIN locals lr
          ON lr.state_code = t.state AND lower(t.city) = lr.city_lc
      ),
      taxed AS (
        SELECT state, city, tax_paid,
          CAST(CASE WHEN no_tax THEN 0
               ELSE round(amount * base_rate, 2) + round(amount * local_rate, 2)
               END AS DECIMAL(18,2)) AS tax_amount
        FROM flags
      )
      SELECT state, city, CAST(tax_amount AS DOUBLE) AS tax_amount,
        CAST(CASE WHEN tax_paid < tax_amount THEN tax_paid ELSE tax_amount END
             AS DOUBLE) AS credit,
        CAST(round(tax_amount -
          (CASE WHEN tax_paid < tax_amount THEN tax_paid ELSE tax_amount END), 2)
          AS DOUBLE) AS use_tax
      FROM taxed""",

    // ---- text / dedup ops over documents ----
    "op_dedup_exact" -> """
      SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
      FROM documents GROUP BY md5(text)""",

    "op_token_count" -> """
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        length(text) AS n_chars
      FROM documents""",

    "op_text_quality" -> """
      SELECT doc_id, length(text) AS n_chars,
        length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
        length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces
      FROM documents""",

    "op_doc_fingerprint" -> """
      SELECT doc_id,
        substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16)
          AS fingerprint
      FROM documents""",

    // k-anonymity over (lang, source, log2 token bucket), k = 5.
    "op_k_anonymity" -> """
      WITH q AS (
        SELECT lang, source,
          CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) = 0 THEN 0
            ELSE length(bin(CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) AS BIGINT))) END AS len_bucket
        FROM documents),
      c AS (SELECT lang, source, len_bucket, count(*) AS n
            FROM q GROUP BY 1, 2, 3)
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
        CAST(sum(n) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_singletons,
        CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_classes_below_k,
        CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
          AS n_rows_below_k,
        CAST(min(n) AS BIGINT) AS min_class_size,
        CAST(max(n) AS BIGINT) AS max_class_size
      FROM c""",

    // l-diversity: distinct non-NULL sources per (lang, len_bucket) class.
    "op_l_diversity" -> """
      WITH q AS (
        SELECT lang, source,
          CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) = 0 THEN 0
            ELSE length(bin(CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) AS BIGINT))) END AS len_bucket
        FROM documents),
      c AS (SELECT lang, len_bucket, count(*) AS n,
              count(DISTINCT source) AS ld
            FROM q GROUP BY 1, 2)
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
        CAST(sum(n) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN ld < 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_classes_below_l,
        CAST(sum(CASE WHEN ld < 3 THEN n ELSE 0 END) AS BIGINT)
          AS n_rows_below_l,
        CAST(min(ld) AS BIGINT) AS min_diversity,
        CAST(max(ld) AS BIGINT) AS max_diversity
      FROM c""",

    // t-closeness: per class, total-variation distance as an exact
    // integer pair — present values fold |c_cv·n − c_v·n_c|, absent
    // values contribute n_c·n − Σ_present c_v·n_c in closed form;
    // threshold compare exact rational (t = 3/10), max distance one
    // IEEE division per class.
    "op_t_closeness" -> """
      WITH q AS (
        SELECT lang, source,
          CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) = 0 THEN 0
            ELSE length(bin(CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) AS BIGINT))) END AS len_bucket
        FROM documents),
      cv AS MATERIALIZED (
        SELECT lang, len_bucket, source, CAST(count(*) AS BIGINT) AS ccv
        FROM q GROUP BY 1, 2, 3),
      marg AS (SELECT source, CAST(count(*) AS BIGINT) AS cval
               FROM q GROUP BY source),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
      ncs AS (SELECT lang, len_bucket, CAST(sum(ccv) AS BIGINT) AS nc
              FROM cv GROUP BY 1, 2),
      per AS (
        SELECT c.lang, c.len_bucket, s.nc, t.n,
          CAST(sum(abs(c.ccv * t.n - m.cval * s.nc)) AS BIGINT)
            + (s.nc * t.n - CAST(sum(m.cval * s.nc) AS BIGINT)) AS tv_num,
          s.nc * t.n * 2 AS tv_den
        FROM cv c
        JOIN marg m ON c.source IS NOT DISTINCT FROM m.source
        JOIN ncs s ON s.lang IS NOT DISTINCT FROM c.lang
          AND s.len_bucket IS NOT DISTINCT FROM c.len_bucket
        CROSS JOIN tot t
        GROUP BY c.lang, c.len_bucket, s.nc, t.n)
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
        CAST(sum(nc) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN tv_num * 10 > 3 * tv_den THEN 1 ELSE 0 END)
          AS BIGINT) AS n_classes_above_t,
        CAST(sum(CASE WHEN tv_num * 10 > 3 * tv_den THEN nc ELSE 0 END)
          AS BIGINT) AS n_rows_above_t,
        max(CAST(tv_num AS DOUBLE) / CAST(tv_den AS DOUBLE))
          AS max_t_distance
      FROM per""",

    // Generalization ladder: the first rung whose every class reaches k=5;
    // values compared as VARCHAR (the release encoding), rung 1's width-2
    // bucket = len_bucket // 2 * 2 (floor — non-negative, matches Spark's
    // floor(x/2)*2).
    "op_k_generalize" -> """
      WITH q AS (
        SELECT lang, source,
          CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) = 0 THEN 0
            ELSE length(bin(CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) AS BIGINT))) END AS len_bucket
        FROM documents),
      r AS (
        SELECT 0 AS rung, lang, source,
          CAST(len_bucket AS VARCHAR) AS len_bucket FROM q
        UNION ALL
        SELECT 1, lang, source,
          CAST(len_bucket // 2 * 2 AS VARCHAR) FROM q
        UNION ALL
        SELECT 2, lang, source, '*' FROM q
        UNION ALL
        SELECT 3, lang, '*', '*' FROM q
        UNION ALL
        SELECT 4, '*', '*', '*' FROM q),
      c AS (
        SELECT rung, lang, source, len_bucket, count(*) AS class_size
        FROM r GROUP BY 1, 2, 3, 4),
      ch AS (
        SELECT min(rung) AS chosen FROM (
          SELECT rung, min(class_size) AS mc FROM c GROUP BY 1) m
        WHERE mc >= 5)
      SELECT CAST(c.rung AS INT) AS rung, lang, source, len_bucket,
        CAST(class_size AS BIGINT) AS class_size
      FROM c JOIN ch ON c.rung = ch.chosen""",

    // l-diversity generalization ladder: the first rung whose every
    // (lang, len_bucket) class spans >= 3 distinct non-NULL sources;
    // same VARCHAR release encoding and rung arithmetic as
    // op_k_generalize, chosen by min DIVERSITY instead of min size.
    "op_l_generalize" -> """
      WITH q AS (
        SELECT lang, source,
          CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) = 0 THEN 0
            ELSE length(bin(CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                END) AS BIGINT))) END AS len_bucket
        FROM documents),
      r AS (
        SELECT 0 AS rung, lang,
          CAST(len_bucket AS VARCHAR) AS len_bucket, source FROM q
        UNION ALL
        SELECT 1, lang, CAST(len_bucket // 2 * 2 AS VARCHAR), source FROM q
        UNION ALL
        SELECT 2, lang, '*', source FROM q
        UNION ALL
        SELECT 3, '*', '*', source FROM q),
      c AS (
        SELECT rung, lang, len_bucket, count(*) AS class_size,
          count(DISTINCT source) AS n_sensitive
        FROM r GROUP BY 1, 2, 3),
      ch AS (
        SELECT min(rung) AS chosen FROM (
          SELECT rung, min(n_sensitive) AS md FROM c GROUP BY 1) m
        WHERE md >= 3)
      SELECT CAST(c.rung AS INT) AS rung, lang, len_bucket,
        CAST(class_size AS BIGINT) AS class_size,
        CAST(n_sensitive AS BIGINT) AS n_sensitive
      FROM c JOIN ch ON c.rung = ch.chosen""",

    // Differentially-private (lang, source) count release: Laplace(1/eps)
    // noise as the difference of two salted-hash exponentials, each a
    // negLnChain mirror of Sampling.negLnU — the noisy double is
    // bit-exact cross-engine; the true count never appears in the output.
    "op_dp_counts" -> s"""
      WITH grp AS MATERIALIZED (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
          concat_ws(chr(1), lang, source) AS ks
        FROM documents GROUP BY lang, source),
      e1src AS (SELECT lang, source, n,
        ${md5Long("ks || ':dp+1000000'")} AS h FROM grp),
      ${negLnChain("e1", "e1src", Seq("lang", "source", "n"), "ex1")},
      e2src AS (SELECT lang, source,
        ${md5Long("ks || ':dp-1000000'")} AS h FROM grp),
      ${negLnChain("e2", "e2src", Seq("lang", "source"), "ex2")}
      SELECT a.lang, a.source,
        CAST(a.n * 1000000 + CAST(floor((a.ex1 - b.ex2)
              / CAST('1.0' AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)
            AS DOUBLE) / CAST(1000000 AS DOUBLE) AS noisy_count
      FROM e18 a JOIN e28 b USING (lang, source)""",

    // Differentially-private per-lang char-mass MEDIAN (mirrors
    // Audit.dpQuantile): post-processing of a DP histogram over the
    // declared [0, 2000] range — 64 bins (width 32), EVERY bin noisy
    // (empties included), quantile = lower edge of the first bin whose
    // noisy cumulative (exact micro-unit integers) reaches 1/2 of the
    // noisy total; non-positive total suppresses to NULL.
    "op_dp_quantile" -> s"""
      WITH langs AS (SELECT DISTINCT lang FROM documents),
      bins AS (SELECT unnest(generate_series(0, 63)) AS bin),
      cnt AS (
        SELECT lang,
          greatest(CAST(0 AS BIGINT), least(CAST(n_chars AS BIGINT),
            CAST(2000 AS BIGINT))) // 32 AS bin,
          CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      g AS MATERIALIZED (
        SELECT l.lang, b.bin, coalesce(c.n, CAST(0 AS BIGINT)) AS n,
          concat_ws(chr(1), l.lang) AS ks
        FROM langs l CROSS JOIN bins b
        LEFT JOIN cnt c ON c.lang = l.lang AND c.bin = b.bin),
      q1src AS (SELECT lang, bin, n,
        ${md5Long("ks || ':dpq+1000000:' || CAST(bin AS VARCHAR)")} AS h
        FROM g),
      ${negLnChain("q1", "q1src", Seq("lang", "bin", "n"), "ex1")},
      q2src AS (SELECT lang, bin,
        ${md5Long("ks || ':dpq-1000000:' || CAST(bin AS VARCHAR)")} AS h
        FROM g),
      ${negLnChain("q2", "q2src", Seq("lang", "bin"), "ex2")},
      nm AS (
        SELECT a.lang, a.bin,
          a.n * 1000000 + CAST(floor((a.ex1 - b.ex2) / CAST('1.0' AS DOUBLE)
            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS m
        FROM q18 a JOIN q28 b USING (lang, bin)),
      cq AS (
        SELECT lang, bin,
          sum(m) OVER (PARTITION BY lang ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(m) OVER (PARTITION BY lang) AS tot
        FROM nm),
      hit AS (SELECT lang, min(bin) AS q_bin FROM cq
              WHERE tot > 0 AND cum * 2 >= tot * 1 GROUP BY lang),
      tots AS (SELECT lang, max(tot) AS totm FROM cq GROUP BY lang)
      SELECT t.lang, CAST(h.q_bin AS BIGINT) AS q_bin,
        CAST(h.q_bin * 32 AS BIGINT) AS q_value,
        CAST(t.totm AS DOUBLE) / CAST(1000000 AS DOUBLE) AS noisy_total
      FROM tots t LEFT JOIN hit h ON t.lang = h.lang""",

    // Differentially-private (lang, source) SUM release: per-row n_chars
    // clipped to [0, 2000], Laplace(clip/eps) noise as the difference of
    // two salted-hash exponentials (negLnChain mirrors negLnU op-for-op),
    // scaled by the clip and micro-floored — bit-exact cross-engine.
    "op_dp_sum" -> s"""
      WITH grp AS MATERIALIZED (
        SELECT lang, source,
          CAST(sum(greatest(CAST(0 AS BIGINT),
            least(CAST(n_chars AS BIGINT), CAST(2000 AS BIGINT))))
            AS BIGINT) AS s,
          concat_ws(chr(1), lang, source) AS ks
        FROM documents GROUP BY lang, source),
      s1src AS (SELECT lang, source, s,
        ${md5Long("ks || ':dps+1000000'")} AS h FROM grp),
      ${negLnChain("s1", "s1src", Seq("lang", "source", "s"), "ex1")},
      s2src AS (SELECT lang, source,
        ${md5Long("ks || ':dps-1000000'")} AS h FROM grp),
      ${negLnChain("s2", "s2src", Seq("lang", "source"), "ex2")}
      SELECT a.lang, a.source,
        CAST(a.s * 1000000 + CAST(floor((a.ex1 - b.ex2)
              * CAST(2000 AS DOUBLE) / CAST('1.0' AS DOUBLE)
              * CAST(1000000 AS DOUBLE)) AS BIGINT)
            AS DOUBLE) / CAST(1000000 AS DOUBLE) AS noisy_sum
      FROM s18 a JOIN s28 b USING (lang, source)""",

    // DP mean by sequential composition: the dp_sum and dp_counts chains
    // each at eps = 0.5, joined per group; suppress on a non-positive
    // noisy denominator.
    "op_dp_avg" -> s"""
      WITH grp AS MATERIALIZED (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(greatest(CAST(0 AS BIGINT),
            least(CAST(n_chars AS BIGINT), CAST(2000 AS BIGINT))))
            AS BIGINT) AS s,
          concat_ws(chr(1), lang, source) AS ks
        FROM documents GROUP BY lang, source),
      s1src AS (SELECT lang, source, s,
        ${md5Long("ks || ':dps+500000'")} AS h FROM grp),
      ${negLnChain("as1", "s1src", Seq("lang", "source", "s"), "ex1")},
      s2src AS (SELECT lang, source,
        ${md5Long("ks || ':dps-500000'")} AS h FROM grp),
      ${negLnChain("as2", "s2src", Seq("lang", "source"), "ex2")},
      c1src AS (SELECT lang, source, n,
        ${md5Long("ks || ':dp+500000'")} AS h FROM grp),
      ${negLnChain("ac1", "c1src", Seq("lang", "source", "n"), "ex3")},
      c2src AS (SELECT lang, source,
        ${md5Long("ks || ':dp-500000'")} AS h FROM grp),
      ${negLnChain("ac2", "c2src", Seq("lang", "source"), "ex4")},
      fin AS (
        SELECT a.lang, a.source,
          CAST(a.s * 1000000 + CAST(floor((a.ex1 - b.ex2)
                * CAST(2000 AS DOUBLE) / CAST('0.5' AS DOUBLE)
                * CAST(1000000 AS DOUBLE)) AS BIGINT)
              AS DOUBLE) / CAST(1000000 AS DOUBLE) AS noisy_sum,
          CAST(c.n * 1000000 + CAST(floor((c.ex3 - d.ex4)
                / CAST('0.5' AS DOUBLE)
                * CAST(1000000 AS DOUBLE)) AS BIGINT)
              AS DOUBLE) / CAST(1000000 AS DOUBLE) AS noisy_count
        FROM as18 a
        JOIN as28 b USING (lang, source)
        JOIN ac18 c USING (lang, source)
        JOIN ac28 d USING (lang, source))
      SELECT lang, source, noisy_sum, noisy_count,
        CASE WHEN noisy_count > CAST(0 AS DOUBLE)
          THEN noisy_sum / noisy_count END AS noisy_avg
      FROM fin""",

    // Gini of token mass across sources: exact integer OLS-free form —
    // ascending rank window over the bounded source table, one division.
    "op_gini_sources" -> """
      WITH g AS (
        SELECT source AS k,
          CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END) AS BIGINT) AS x
        FROM documents GROUP BY source),
      r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, k) AS BIGINT) AS i
            FROM g),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS tot,
              CAST(sum(i * x) AS BIGINT) AS ix
            FROM r)
      SELECT n AS n_groups, tot AS total_mass,
        2 * ix - (n + 1) * tot AS gini_num, n * tot AS gini_den,
        CASE WHEN tot > 0 THEN CAST(2 * ix - (n + 1) * tot AS DOUBLE)
          / CAST(n * tot AS DOUBLE) END AS gini
      FROM a""",

    // Snapshot diff: old = documents, new = the derived snapshot (13th
    // dropped, 7th survivor edited, 11th cloned under a new id).
    "op_snapshot_diff" -> """
      WITH newsnap AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN text || ' edited in snapshot 2'
               ELSE text END AS text
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT doc_id + 1000000000, text || ' new snapshot doc'
        FROM documents WHERE doc_id % 11 = 0),
      o AS (SELECT doc_id, md5(text) AS h, length(text) AS l
            FROM documents),
      n AS (SELECT doc_id, md5(text) AS h, length(text) AS l
            FROM newsnap)
      SELECT CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h = n.h THEN 'unchanged'
                  ELSE 'changed' END AS status,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(coalesce(o.l, 0)) AS BIGINT) AS old_chars,
        CAST(sum(coalesce(n.l, 0)) AS BIGINT) AS new_chars
      FROM o FULL OUTER JOIN n USING (doc_id)
      GROUP BY 1""",

    // Split leakage: exact-dup-planted corpus (10th cloned verbatim),
    // fingerprint groups spanning >1 id-hash split.
    "op_split_leakage" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents
        WHERE doc_id % 10 = 0),
      f AS (
        SELECT substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))),
            1, 16) AS fp,
          CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                 1, 15) AS BIGINT) % 1000 < 900 THEN 'train'
               WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                 1, 15) AS BIGINT) % 1000 < 950 THEN 'val'
               ELSE 'test' END AS split
        FROM corpus),
      g AS (SELECT fp, count(*) AS n, count(DISTINCT split) AS ns
            FROM f GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
        CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_groups,
        CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_leaky_groups,
        CAST(sum(CASE WHEN ns > 1 THEN n ELSE 0 END) AS BIGINT)
          AS n_leaky_docs
      FROM g""",

    // Vocabulary shift: per-token occurrence-share delta history vs the
    // ingest batch, top-50 by |delta| (floored-IEEE ppm).
    "op_vocab_shift" -> """
      WITH batch AS (
        SELECT doc_id + 1000000000 AS doc_id,
          text || ' near duplicate copy suffix' AS text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000000, reverse(text)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 3000000000, reverse(text) || ' ingest copy marker'
        FROM documents WHERE doc_id % 26 = 0),
      ht AS (
        SELECT unnest(CASE WHEN length(trim(text)) = 0
            THEN CAST([] AS VARCHAR[])
            ELSE string_split_regex(lower(trim(text)), '\s+') END) AS token
        FROM documents),
      bt AS (
        SELECT unnest(CASE WHEN length(trim(text)) = 0
            THEN CAST([] AS VARCHAR[])
            ELSE string_split_regex(lower(trim(text)), '\s+') END) AS token
        FROM batch),
      h AS (SELECT token, count(*) AS n_hist FROM ht GROUP BY 1),
      b AS (SELECT token, count(*) AS n_batch FROM bt GROUP BY 1),
      th AS (SELECT sum(n_hist) AS v FROM h),
      tb AS (SELECT sum(n_batch) AS v FROM b),
      j AS (
        SELECT token,
          CAST(coalesce(h.n_hist, 0) AS BIGINT) AS n_hist,
          CAST(coalesce(b.n_batch, 0) AS BIGINT) AS n_batch,
          CAST(floor(coalesce(h.n_hist, 0) * 1000000.0 / th.v) AS BIGINT)
            AS hist_ppm,
          CAST(floor(coalesce(b.n_batch, 0) * 1000000.0 / tb.v) AS BIGINT)
            AS batch_ppm
        FROM h FULL OUTER JOIN b USING (token) CROSS JOIN th CROSS JOIN tb)
      SELECT token, n_hist, n_batch, hist_ppm, batch_ppm,
        batch_ppm - hist_ppm AS shift_ppm
      FROM j
      ORDER BY abs(batch_ppm - hist_ppm) DESC, token
      LIMIT 50""",

    // ---- training-data ops ----
    // Chi-square discriminative terms per language (TextOps.chi2Terms
    // mirrored): exact 2x2 contingency integers over the planted-marker
    // corpus, the same fixed-order double finishing math, top-10 per
    // class by (chi2 DESC, token).
    "op_chi2_terms" -> """
      WITH lc AS (
        SELECT doc_id, lang, text || CASE lang
          WHEN 'en' THEN ' the quick brown fox and the lazy dog'
          WHEN 'es' THEN ' el rapido zorro marron y el perro perezoso'
          WHEN 'de' THEN ' der schnelle braune fuchs und der faule hund'
          WHEN 'fr' THEN ' le renard brun rapide et le chien paresseux'
          WHEN 'zh' THEN ' kuai su de zong se hu li he lan se gou'
          ELSE '' END AS text
        FROM documents),
      dt AS (
        SELECT cls, doc_id, unnest(toks) AS token FROM (
          SELECT lang AS cls, doc_id, list_distinct(
            string_split_regex(lower(trim(text)), '\s+')) AS toks
          FROM lc WHERE length(trim(text)) > 0)),
      nn AS (SELECT count(*) AS n FROM lc),
      ct AS (SELECT lang AS cls, count(*) AS ncls FROM lc GROUP BY 1),
      tt AS (SELECT token, count(*) AS ntok FROM dt GROUP BY 1),
      at AS (SELECT cls, token, count(*) AS a FROM dt GROUP BY 1, 2),
      j AS (
        SELECT at.cls, at.token, at.a, tt.ntok, ct.ncls, nn.n
        FROM at JOIN tt USING (token) JOIN ct USING (cls) CROSS JOIN nn
        WHERE tt.ntok >= 5 AND tt.ntok <= nn.n - 5),
      f AS (
        SELECT cls, token, a, n,
          a * (n - ncls - (ntok - a)) - (ncls - a) * (ntok - a) AS det,
          ncls AS ab, n - ncls AS cd, ntok AS ac, n - ntok AS bd
        FROM j),
      r AS (
        SELECT cls, token, a,
          CAST(det AS DOUBLE) * CAST(det AS DOUBLE) * CAST(n AS DOUBLE)
            / ((CAST(ab AS DOUBLE) * CAST(cd AS DOUBLE))
               * (CAST(ac AS DOUBLE) * CAST(bd AS DOUBLE))) AS chi2
        FROM f),
      rk AS (
        SELECT cls, token, a, chi2,
          row_number() OVER (PARTITION BY cls
            ORDER BY chi2 DESC, token) AS rank
        FROM r)
      SELECT cls AS lang, CAST(rank AS INT) AS rank, token,
        CAST(a AS BIGINT) AS n_class_tok, chi2
      FROM rk WHERE rank <= 10""",

    // Cavnar-Trenkle n-gram language ID over the planted-marker corpus
    // (Catalog.langCorpus mirrored): per-lang top-300 trigram profiles by
    // (count DESC, trigram), per-doc distinct-trigram overlap argmax with
    // (score DESC, lang) tie-break — TextOps.ngramLangId step for step.
    "op_ngram_lang_id" -> """
      WITH lc AS (
        SELECT doc_id, lang, text || CASE lang
          WHEN 'en' THEN ' the quick brown fox and the lazy dog'
          WHEN 'es' THEN ' el rapido zorro marron y el perro perezoso'
          WHEN 'de' THEN ' der schnelle braune fuchs und der faule hund'
          WHEN 'fr' THEN ' le renard brun rapide et le chien paresseux'
          WHEN 'zh' THEN ' kuai su de zong se hu li he lan se gou'
          ELSE '' END AS text
        FROM documents),
      nrm AS (
        SELECT doc_id, lang,
          lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
        FROM lc),
      tris AS (
        SELECT doc_id, lang,
          CASE WHEN length(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, length(t) - 2),
              i -> substring(t, i, 3)))
          ELSE CAST([] AS VARCHAR[]) END AS tris
        FROM nrm),
      cnt AS (
        SELECT plang, tri, count(*) AS c FROM (
          SELECT lang AS plang, unnest(tris) AS tri FROM tris)
        GROUP BY plang, tri),
      prof AS (
        SELECT plang, tri FROM (
          SELECT plang, tri,
            row_number() OVER (PARTITION BY plang
              ORDER BY c DESC, tri) AS rk
          FROM cnt)
        WHERE rk <= 300),
      sc AS (
        SELECT d.doc_id, d.lang, p.plang, count(*) AS score FROM (
          SELECT doc_id, lang, unnest(tris) AS tri FROM tris) d
        JOIN prof p ON p.tri = d.tri
        GROUP BY d.doc_id, d.lang, p.plang),
      best AS (
        SELECT doc_id, plang, score FROM (
          SELECT doc_id, plang, score,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, plang) AS rk
          FROM sc)
        WHERE rk = 1)
      SELECT d.doc_id, d.lang, coalesce(b.plang, 'und') AS lang_pred,
        CAST(coalesce(b.score, 0) AS BIGINT) AS score
      FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id""",

    "op_lang_id" -> s"""
      WITH padded AS (
        SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS pad
        FROM documents),
      scores AS (
        SELECT doc_id, lang, text,
          $langScoreSql
        FROM padded)
      SELECT doc_id, lang,
        CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0
               THEN 'zh'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es' END AS lang_pred
      FROM scores""",

    // Language-ID confusion cells + per-truth fraction (the evaluator for
    // the lang_id heuristic): prediction CASE mirrors op_lang_id.
    "op_lid_confusion" -> s"""
      WITH padded AS (
        SELECT lang, text, ' ' || lower(text) || ' ' AS pad
        FROM documents),
      scores AS (
        SELECT lang, text,
          $langScoreSql
        FROM padded),
      pred AS (
        SELECT lang AS true_lang,
          CASE WHEN length(regexp_replace(text,
                 '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es' END AS pred_lang
        FROM scores),
      cells AS (
        SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2)
      SELECT true_lang, pred_lang, n_docs,
        CAST(n_docs AS DOUBLE)
          / CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS DOUBLE)
          AS frac
      FROM cells""",

    // Portable CMS overcount on the top-50 tokens: 4 md5-salted hash rows
    // x 64 counters (deliberately undersized for the fixture vocabulary
    // so collisions are measured), estimate = min over rows, vs exact.
    "op_cms_error" -> s"""
      WITH tok AS MATERIALIZED (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      counts AS MATERIALIZED (
        SELECT tok AS v, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY tok),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      counters AS (
        SELECT j, ${md5Long("v || ':cms' || CAST(j AS VARCHAR)")} % 64
            AS b,
          CAST(sum(n) AS BIGINT) AS c
        FROM counts CROSS JOIN js GROUP BY 1, 2),
      top AS (
        SELECT v, n FROM (
          SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS r
          FROM counts) q WHERE r <= 50),
      topb AS (
        SELECT v, n, j,
          ${md5Long("v || ':cms' || CAST(j AS VARCHAR)")} % 64 AS b
        FROM top CROSS JOIN js)
      SELECT t.v AS token, t.n AS n_exact,
        CAST(min(c.c) AS BIGINT) AS cms_est,
        CAST(min(c.c) - t.n AS BIGINT) AS overcount
      FROM topb t JOIN counters c USING (j, b)
      GROUP BY t.v, t.n""",

    "op_subword_count" -> """
      SELECT doc_id,
        len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
            t -> length(t) > 0)) AS n_subwords
      FROM documents""",

    // Tokenizer fertility: subword tokens per whitespace word per lang.
    "op_tok_fertility" -> """
      WITH sig AS (
        SELECT lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END AS w,
          len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
              t -> length(t) > 0)) AS s
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(w) AS BIGINT) AS n_words,
        CAST(sum(s) AS BIGINT) AS n_subwords,
        CAST(sum(s) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS fertility
      FROM sig GROUP BY 1""",

    // Text-side drift: the op_lang_id scoring applied to BOTH history
    // (documents) and the ingest batch, per-predicted-language shares
    // (floored IEEE ppm) + mean token counts.
    // Exact two-sample KS over token counts: integer gap argmax over the
    // merged value histogram; stat/crit/reject from correctly-rounded
    // IEEE ops in the textually-pinned order.
    "op_ks_drift" -> """
      WITH toks AS (
        SELECT doc_id,
          greatest(CAST(0 AS BIGINT), least(
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(lower(trim(text)), '\s+'))
            END AS BIGINT), CAST(1048575 AS BIGINT))) AS v
        FROM documents
        WHERE text IS NOT NULL),
      am AS (SELECT v, CAST(count(*) AS BIGINT) AS na FROM toks
             WHERE doc_id % 5 <> 0 GROUP BY v),
      bm AS (SELECT v, CAST(count(*) AS BIGINT) AS nb FROM toks
             WHERE doc_id % 5 = 0 GROUP BY v),
      m AS (SELECT coalesce(am.v, bm.v) AS v, coalesce(na, 0) AS na,
              coalesce(nb, 0) AS nb
            FROM am FULL OUTER JOIN bm ON am.v = bm.v),
      c AS (SELECT v,
              sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS ca,
              sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS cb,
              sum(na) OVER () AS ta, sum(nb) OVER () AS tb
            FROM m),
      g AS (SELECT abs(ca * tb - cb * ta) AS num, v, ta, tb FROM c),
      top AS (SELECT num, v, ta, tb FROM (
        SELECT *, row_number() OVER (ORDER BY num DESC, v) AS rn FROM g) q
        WHERE rn = 1)
      SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        CAST(num AS BIGINT) AS ks_num, CAST(ta * tb AS BIGINT) AS ks_den,
        CASE WHEN ta * tb > 0
          THEN CAST(num AS DOUBLE) / CAST(ta * tb AS DOUBLE) END AS ks_stat,
        CAST(v AS BIGINT) AS at_value,
        CASE WHEN ta * tb > 0 THEN CAST('1.358' AS DOUBLE)
          * sqrt(CAST(ta + tb AS DOUBLE) / CAST(ta * tb AS DOUBLE))
        END AS crit_05,
        CASE WHEN ta * tb > 0 THEN
          (CAST(num AS DOUBLE) / CAST(ta * tb AS DOUBLE))
            > (CAST('1.358' AS DOUBLE)
               * sqrt(CAST(ta + tb AS DOUBLE) / CAST(ta * tb AS DOUBLE)))
        END AS reject_05
      FROM top""",

    "op_corpus_drift" -> s"""
      WITH batch AS (
        SELECT doc_id + 1000000000 AS doc_id,
          text || ' near duplicate copy suffix' AS text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000000, reverse(text)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 3000000000, reverse(text) || ' ingest copy marker'
        FROM documents WHERE doc_id % 26 = 0),
      hsc AS (
        SELECT text, $langScoreSql,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
          END AS ntok
        FROM (SELECT text, ' ' || lower(text) || ' ' AS pad FROM documents)),
      bsc AS (
        SELECT text, $langScoreSql,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
          END AS ntok
        FROM (SELECT text, ' ' || lower(text) || ' ' AS pad FROM batch)),
      hl AS (
        SELECT (CASE WHEN length(regexp_replace(text,
                 '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es' END) || ':' ||
          (CASE WHEN ntok = 0 THEN '0'
                ELSE CAST(length(bin(CAST(ntok AS BIGINT))) AS VARCHAR)
           END) AS segment, ntok
        FROM hsc),
      bl AS (
        SELECT (CASE WHEN length(regexp_replace(text,
                 '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es' END) || ':' ||
          (CASE WHEN ntok = 0 THEN '0'
                ELSE CAST(length(bin(CAST(ntok AS BIGINT))) AS VARCHAR)
           END) AS segment, ntok
        FROM bsc),
      hc AS (SELECT segment, count(*) AS n_hist, sum(ntok) AS th
             FROM hl GROUP BY 1),
      bc AS (SELECT segment, count(*) AS n_batch, sum(ntok) AS tb
             FROM bl GROUP BY 1),
      tot AS (SELECT (SELECT count(*) FROM documents) AS nh,
                     (SELECT count(*) FROM batch) AS nb)
      SELECT segment,
        CAST(coalesce(hc.n_hist, 0) AS BIGINT) AS n_hist,
        CAST(coalesce(bc.n_batch, 0) AS BIGINT) AS n_batch,
        CAST(floor(coalesce(hc.n_hist, 0) * 1000000.0 / t.nh) AS BIGINT)
          AS hist_share_ppm,
        CAST(floor(coalesce(bc.n_batch, 0) * 1000000.0 / t.nb) AS BIGINT)
          AS batch_share_ppm,
        CAST(hc.th AS DOUBLE) / hc.n_hist AS mean_tokens_hist,
        CAST(bc.tb AS DOUBLE) / bc.n_batch AS mean_tokens_batch,
        CAST(floor(coalesce(bc.n_batch, 0) * 1000000.0 / t.nb) AS BIGINT)
          - CAST(floor(coalesce(hc.n_hist, 0) * 1000000.0 / t.nh) AS BIGINT)
          AS drift_ppm
      FROM hc FULL OUTER JOIN bc USING (segment) CROSS JOIN tot t""",

    // Token-budget mixture plan: sqrt-temper over per-lang TOKEN masses,
    // keep rate floor(1000*sqrt(tok_min/tok_g)), hash-filter accounting.
    "op_mix_schedule" -> """
      WITH rows_ AS (
        SELECT lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END AS t,
          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000 AS h
        FROM documents),
      tot AS (SELECT lang, sum(t) AS n_tokens FROM rows_ GROUP BY 1),
      rates AS (
        SELECT lang, CAST(floor(1000.0 * sqrt(
            CAST((SELECT min(n_tokens) FROM tot) AS DOUBLE)
              / CAST(n_tokens AS DOUBLE))) AS INT) AS keep_permille
        FROM tot)
      SELECT r.lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(r.t) AS BIGINT) AS n_tokens,
        ra.keep_permille,
        CAST(sum(CASE WHEN r.h < ra.keep_permille THEN 1 ELSE 0 END)
          AS BIGINT) AS kept_docs,
        CAST(sum(CASE WHEN r.h < ra.keep_permille THEN r.t ELSE 0 END)
          AS BIGINT) AS kept_tokens
      FROM rows_ r JOIN rates ra USING (lang)
      GROUP BY r.lang, ra.keep_permille""",

    "op_quality_score" -> s"""
      WITH padded AS (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM documents),
      sig AS (
        SELECT doc_id, length(text) AS n_chars,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
          length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
          length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
          length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
          $stopwordSumSql AS n_stopword
        FROM padded)
      SELECT doc_id, n_chars, n_tokens, n_upper, n_digit, n_punct, n_stopword,
        CASE WHEN n_chars < 30 THEN 'too_short'
             WHEN n_digit * 3 > n_chars THEN 'digit_heavy'
             WHEN n_punct * 5 > n_tokens * 2 THEN 'punct_heavy'
             WHEN n_stopword * 20 < n_tokens THEN 'low_stopword'
             ELSE 'ok' END AS quality_bucket
      FROM sig""",

    // Gopher-style composite quality filter: every flag is an integer-only
    // predicate mirrored op-for-op from TextOps.gopherRules.
    "op_gopher_rules" -> s"""
      WITH padded AS (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM documents),
      sig AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
          length(regexp_replace(text, '\\s', '', 'g')) AS n_word_chars,
          length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
          $stopwordSumSql AS n_stopword
        FROM padded),
      rep AS (
        SELECT doc_id, max(c) AS top_tok_n FROM (
          SELECT doc_id, t, count(*) AS c FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents WHERE length(trim(text)) > 0) u
          GROUP BY doc_id, t) g
        GROUP BY doc_id),
      fl AS (
        SELECT s.doc_id, s.n_tokens, s.n_word_chars,
          coalesce(r.top_tok_n, 0) AS top_tok_n,
          s.n_tokens < 25 AS fail_short,
          s.n_tokens > 10000 AS fail_long,
          (s.n_word_chars < s.n_tokens * 3
            OR s.n_word_chars > s.n_tokens * 10) AS fail_word_len,
          s.n_digit * 5 > s.n_word_chars AS fail_digit,
          s.n_stopword * 20 < s.n_tokens AS fail_stopword,
          coalesce(r.top_tok_n, 0) * 8 > s.n_tokens AS fail_repeat
        FROM sig s LEFT JOIN rep r USING (doc_id))
      SELECT doc_id, n_tokens, n_word_chars, top_tok_n,
        fail_short, fail_long, fail_word_len, fail_digit, fail_stopword,
        fail_repeat,
        NOT (fail_short OR fail_long OR fail_word_len OR fail_digit
          OR fail_stopword OR fail_repeat) AS keep
      FROM fl""",

    // C4-style line-level filter over the planted structured corpus
    // (Catalog.c4Corpus mirrored line-for-line): a line is kept when it
    // ends in terminal punctuation and has >= 5 whitespace words; flags
    // mirror TextOps.c4Rules exactly. kept_char_frac is a single
    // exact-int division.
    "op_c4_rules" -> """
      WITH c AS (
        SELECT doc_id,
          text || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END
            || chr(10) || 'short line here.'
            || CASE WHEN doc_id % 3 <> 1 THEN chr(10)
                 || 'this properly terminated sentence has enough words to pass!'
               ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN chr(10)
                 || 'another well formed sentence appears right here today?'
               ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN chr(10)
                 || 'enable javascript to view this page' ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN chr(10)
                 || 'lorem ipsum dolor sit amet' ELSE '' END
            || CASE WHEN doc_id % 13 = 0 THEN chr(10)
                 || 'function f() { return 1; }' ELSE '' END
          AS text
        FROM documents),
      l AS (
        SELECT doc_id, text, lower(text) AS low,
          list_filter(list_transform(string_split(text, chr(10)),
            x -> trim(x)), x -> length(x) > 0) AS ls
        FROM c),
      k AS (
        SELECT doc_id, text, low, ls,
          list_filter(ls, x -> right(x, 1) IN ('.', '!', '?', '"')
            AND len(string_split_regex(x, '\s+')) >= 5) AS kept
        FROM l)
      SELECT doc_id,
        CAST(len(ls) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS n_kept_lines,
        CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) > 0
          THEN CAST(coalesce(list_sum(list_transform(kept, x -> length(x))), 0)
                 AS DOUBLE)
             / CAST(list_sum(list_transform(ls, x -> length(x))) AS DOUBLE)
        END AS kept_char_frac,
        len(kept) < 3 AS fail_few_lines,
        low LIKE '%lorem ipsum%' AS fail_lorem,
        low LIKE '%javascript%' AS fail_js,
        contains(text, '{') AS fail_brace,
        NOT (len(kept) < 3 OR low LIKE '%lorem ipsum%'
          OR low LIKE '%javascript%' OR contains(text, '{')) AS keep
      FROM k""",

    // Character-distribution diversity: Simpson index from exact integer
    // char counts (TextOps.charDiversity's narrow nested-HOF histogram,
    // re-expressed as the unnest-and-group formulation).
    "op_char_diversity" -> """
      WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        WHERE length(text) > 0),
      cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
      a AS (
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars,
          CAST(count(*) AS BIGINT) AS n_distinct_chars,
          CAST(max(k) AS BIGINT) AS top_char_n,
          CAST(sum(k * k) AS BIGINT) AS sum_sq
        FROM cnt GROUP BY doc_id)
      SELECT doc_id, n_chars, n_distinct_chars, top_char_n,
        CAST(sum_sq AS DOUBLE) / CAST(n_chars * n_chars AS DOUBLE)
          AS repeat_prob
      FROM a""",

    // Hashed bag-of-words linear classifier: portable md5-60 token hash
    // into 64 feature buckets, fixed integer weight table
    // w(b) = (b*37 mod 21) - 10, per-doc score + threshold label —
    // TextOps.linearScore mirrored hash-for-hash.
    "op_linear_score" -> """
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      s AS (
        -- the table-driven weight vector: bucket b -> (b*53) % 41 - 20,
        -- mirroring the (bucket, weight) frame the Spark side folds into
        -- the scoring expression
        SELECT doc_id, len(toks) AS n_tokens,
          coalesce(list_sum(list_transform(toks,
            t -> (CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 64)
                   * 53 % 41 - 20)), 0) AS score
        FROM tok)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(score AS BIGINT) AS score, score > 0 AS label_positive
      FROM s""",

    // Bucketed AUC of the hashed linear score against the Gopher keep
    // flag: per ascending clamped score bucket, positives pay
    // 2·(negatives below) + (negatives tied); auc = num2 / (2·P·N) with
    // double-product denominator. Score and keep CTEs reuse the
    // op_linear_score / op_gopher_rules constructions verbatim.
    "op_score_auc" -> s"""
      WITH $scoreLabelCtes,
      pb AS (
        SELECT b, sum(CASE WHEN keep THEN 1 ELSE 0 END) AS p,
          sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n
        FROM j GROUP BY 1),
      cum AS (
        SELECT *, coalesce(sum(n) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        FROM pb)
      SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        CAST(sum(n) AS BIGINT) AS n_neg,
        CAST(sum(p * (cumneg * 2 + n)) AS BIGINT) AS auc_num2,
        CASE WHEN sum(p) > 0 AND sum(n) > 0 THEN
          CAST(sum(p * (cumneg * 2 + n)) AS DOUBLE)
            / (CAST(sum(p) AS DOUBLE) * CAST(sum(n) AS DOUBLE) * CAST(2 AS DOUBLE))
        ELSE NULL END AS auc
      FROM cum""",

    // Score-decile lift table: same score/label prefix, docs-before
    // cumulative over the descending score histogram, bin = integer
    // (before*10)//N with tie groups whole, per-bin positive fraction.
    "op_score_deciles" -> s"""
      WITH $scoreLabelCtes,
      pb AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n,
          sum(CASE WHEN keep THEN 1 ELSE 0 END) AS p
        FROM j GROUP BY 1),
      cum AS (
        SELECT *, coalesce(sum(n) OVER (ORDER BY b DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_,
          sum(n) OVER () AS tot
        FROM pb),
      dec AS (
        SELECT *, least(9, (before_ * 10) // tot) AS d FROM cum)
      SELECT CAST(d + 1 AS BIGINT) AS bin,
        CAST(min(b) AS BIGINT) AS lo_score, CAST(max(b) AS BIGINT) AS hi_score,
        CAST(sum(n) AS BIGINT) AS n_docs, CAST(sum(p) AS BIGINT) AS n_pos,
        CAST(sum(p) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS frac_pos
      FROM dec GROUP BY d""",

    // DSIR importance weights: 2048-bucket hashed-token model (target =
    // lang 'en'), per-doc exact integer sums of the bucket counts, weight
    // = ONE IEEE double division — TextOps.dsirWeights hash-for-hash.
    "op_dsir_weights" -> """
      WITH tok AS (
        SELECT doc_id, (lang = 'en') AS is_t,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      ex AS (
        SELECT doc_id, is_t,
          CAST('0x' || substring(md5(unnest(toks)), 1, 15) AS BIGINT)
            % 2048 AS bkt
        FROM tok),
      model AS (
        SELECT bkt, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_n,
          count(*) AS p_n
        FROM ex GROUP BY 1),
      d AS (
        SELECT e.doc_id, count(*) AS n_tokens,
          sum(m.t_n) AS t_sum, sum(m.p_n) AS p_sum
        FROM ex e JOIN model m USING (bkt) GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(t_sum AS BIGINT) AS t_sum, CAST(p_sum AS BIGINT) AS p_sum,
        CAST(t_sum AS DOUBLE) / CAST(p_sum AS DOUBLE) AS weight
      FROM d""",

    // DSIR selection: top-100 by weight desc / doc_id asc over the same
    // weights CTE — deterministic because the weights are exact-integer
    // ratios (identical doubles in both engines) and the id tie-break.
    "op_dsir_select" -> """
      WITH tok AS (
        SELECT doc_id, (lang = 'en') AS is_t,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      ex AS (
        SELECT doc_id, is_t,
          CAST('0x' || substring(md5(unnest(toks)), 1, 15) AS BIGINT)
            % 2048 AS bkt
        FROM tok),
      model AS (
        SELECT bkt, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_n,
          count(*) AS p_n
        FROM ex GROUP BY 1),
      d AS (
        SELECT e.doc_id, count(*) AS n_tokens,
          sum(m.t_n) AS t_sum, sum(m.p_n) AS p_sum
        FROM ex e JOIN model m USING (bkt) GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(t_sum AS BIGINT) AS t_sum, CAST(p_sum AS BIGINT) AS p_sum,
        CAST(t_sum AS DOUBLE) / CAST(p_sum AS DOUBLE) AS weight
      FROM d
      ORDER BY weight DESC, doc_id LIMIT 100""",

    // One batch perceptron epoch: score each doc under the stand-in
    // weight vector (TextOps.weightTable's default, mirrored inline),
    // misclassified docs (lbl * score <= 0) contribute lbl per token
    // occurrence into the token's bucket; output = all 64 buckets with
    // w_old, grad, w_new = w_old + grad.
    "op_perceptron_step" -> """
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      sc AS (
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS lbl, toks,
          coalesce(list_sum(list_transform(toks,
            t -> (CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 64)
                   * 37 % 21 - 10)), 0) AS score
        FROM tok),
      g AS (
        SELECT (CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 64)
                 AS bucket,
               sum(lbl) AS grad
        FROM (SELECT lbl, unnest(toks) AS t FROM sc WHERE lbl * score <= 0)
        GROUP BY 1)
      SELECT CAST(r.range AS INT) AS bucket,
        CAST(r.range * 37 % 21 - 10 AS BIGINT) AS w_old,
        CAST(coalesce(g.grad, 0) AS BIGINT) AS grad,
        CAST(r.range * 37 % 21 - 10 + coalesce(g.grad, 0) AS BIGINT) AS w_new
      FROM range(64) r LEFT JOIN g ON g.bucket = r.range""",

    // Tokenizer-vocab coverage curve: top-50 tokens by (count desc, token)
    // with cumulative share of all occurrences (exact-integer division).
    // Chao1 + Good–Turing per language: bias-corrected richness
    // V + F1(F1-1)/(2(F2+1)) and unseen mass F1/N, exact-int inputs.
    "op_vocab_richness" -> """
      WITH tok AS (
        SELECT lang,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY 1, 2),
      a AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS v_observed,
              CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
              CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
            FROM c GROUP BY lang)
      SELECT lang, n_tokens, v_observed, f1, f2,
        CAST(v_observed AS DOUBLE)
          + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
          AS chao1_est,
        CASE WHEN n_tokens > 0
          THEN CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS p_unseen
      FROM a""",

    "op_vocab_coverage" -> """
      WITH tok AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0),
      c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c),
      top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50)
      SELECT CAST(row_number() OVER w AS BIGINT) AS rank, token, cnt,
        CAST(sum(cnt) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
        CAST(CAST(sum(cnt) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS DOUBLE)
          / CAST((SELECT n_total FROM tot) AS DOUBLE) AS cum_share
      FROM top
      WINDOW w AS (ORDER BY cnt DESC, token)""",

    // Deterministic source-weighted mixing: per-lang hash thresholds.
    "op_source_mix" -> """
      SELECT lang, count(*) AS n_kept FROM documents
      WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 1000 <
        CASE lang WHEN 'en' THEN 400 WHEN 'de' THEN 650 ELSE 1000 END
      GROUP BY lang""",

    // JSON round-trip: oracle reads the source; Spark must reproduce it
    // through its own JSON write+read cycle.
    // Temperature-scaled (alpha = 0.5) language mixing: keep rate =
    // floor(1000 * sqrt(c_min / c_lang)); IEEE division + sqrt are
    // correctly rounded in both engines.
    "op_temp_mix" -> """
      WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      m AS (SELECT min(cnt) AS cmin FROM c),
      r AS (
        SELECT lang,
          CAST(floor(1000.0 * sqrt(CAST(cmin AS DOUBLE) / CAST(cnt AS DOUBLE)))
            AS INT) AS permille
        FROM c CROSS JOIN m),
      k AS (
        SELECT d.lang FROM documents d JOIN r USING (lang)
        WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 1000 < r.permille)
      SELECT lang, count(*) AS n_kept FROM k GROUP BY lang""",

    "op_json_roundtrip" -> """
      SELECT o_orderkey, o_custkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
        CAST(o_orderdate AS DATE) AS order_date,
        o_orderpriority AS priority
      FROM orders WHERE o_orderkey % 100 = 0""",

    // CSV round-trip: the oracle reads the SOURCE — the Spark side must
    // reproduce it exactly through its own CSV write+read cycle.
    "op_csv_roundtrip" -> """
      SELECT l_orderkey, l_linenumber,
        CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
        CAST(l_shipdate AS DATE) AS ship_date,
        l_returnflag AS flag
      FROM lineitem WHERE l_orderkey % 100 = 0""",

    // Contamination: benchmark = every 7th doc (id-shifted); overlap =
    // count of shared distinct 3-gram shingles vs the df-capped train index.
    "op_contamination" -> s"""
      WITH $shingleCteDocs,
      tsh AS (SELECT doc_id AS train_id, s FROM shd),
      keep AS (
        SELECT s FROM tsh GROUP BY s HAVING count(*) <= 100),
      tidx AS (SELECT train_id, tsh.s FROM tsh JOIN keep ON tsh.s = keep.s),
      bsh AS (
        SELECT doc_id + 5000000000 AS bench_id, s,
          count(*) OVER (PARTITION BY doc_id) AS bench_n_sh
        FROM shd WHERE doc_id % 7 = 3)
      SELECT bench_id, train_id, count(*) AS overlap,
        CAST(min(bench_n_sh) AS BIGINT) AS bench_n_sh
      FROM bsh JOIN tidx ON bsh.s = tidx.s
      GROUP BY bench_id, train_id
      HAVING count(*) >= 5""",

    // Per-label centroid components: floor-quantized milli sums + counts
    // (division-free; float->double then *1000 is bit-identical math).
    "op_label_centroids" -> """
      WITH e AS (
        SELECT label, t.i - 1 AS dim,
          CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS milli
        FROM embeddings,
          unnest(generate_series(1, len(embedding))) AS t(i))
      SELECT label, dim, CAST(sum(milli) AS BIGINT) AS sum_milli,
        count(*) AS n
      FROM e GROUP BY label, dim""",

    // Curation pipeline: quality 'ok' docs → exact-dedup survivors →
    // 10-per-language smallest-portable-hash sample.
    "op_curation_pipeline" -> s"""
      WITH padded AS (
        SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents),
      sig AS (
        SELECT p.doc_id, d.lang, d.text,
          length(d.text) AS n_chars,
          CASE WHEN length(trim(d.text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(d.text), '\\s+')) END AS n_tokens,
          length(regexp_replace(d.text, '[^0-9]', '', 'g')) AS n_digit,
          length(regexp_replace(d.text, '[^.!?,;:]', '', 'g')) AS n_punct,
          $stopwordSumSql AS n_stopword
        FROM padded p JOIN documents d ON p.doc_id = d.doc_id),
      ok AS (
        SELECT * FROM sig
        WHERE NOT (n_chars < 30)
          AND NOT (n_digit * 3 > n_chars)
          AND NOT (n_punct * 5 > n_tokens * 2)
          AND NOT (n_stopword * 20 < n_tokens)),
      ded AS (
        SELECT lang, doc_id, n_tokens,
          min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM ok),
      sv AS (SELECT lang, doc_id, n_tokens FROM ded WHERE doc_id = keep_id),
      r AS (
        SELECT lang, doc_id, n_tokens,
          row_number() OVER (PARTITION BY lang ORDER BY
            CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT)) AS rn
        FROM sv)
      SELECT lang, doc_id, n_tokens FROM r WHERE rn <= 10""",

    "op_token_jaccard" -> jaccardPairsSql,

    // Asymmetric shingle containment over the planted-excerpt corpus
    // (Catalog.contCorpus mirrored): same de-hubbed index derivation as
    // jaccardPairsSql, kept when inter/min(na, nb) >= 0.8 (multiplicative
    // integer filter; the reported containment is ONE exact-int division).
    "op_containment" -> """
      WITH cont AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
          array_to_string(toks[1:greatest(len(toks)//2, 3)], ' ') AS text
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents WHERE doc_id % 7 = 0)),
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM cont),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT i.a, i.b, i.inter,
        CAST(ca.n_sh AS BIGINT) AS na, CAST(cb.n_sh AS BIGINT) AS nb,
        CAST(i.inter AS DOUBLE) / CAST(least(ca.n_sh, cb.n_sh) AS DOUBLE)
          AS containment
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.a
      JOIN counts cb ON cb.doc_id = i.b
      WHERE i.inter * 1000 >= least(ca.n_sh, cb.n_sh) * 800""",

    // Near-dup clusters: the jaccard pair derivation, then exact connected
    // components via a recursive CTE (cluster id = min reachable doc_id —
    // the same fixpoint the Spark min-label propagation converges to).
    "op_dedup_clusters" -> s"""
      WITH RECURSIVE $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      nodes AS (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id)
      SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id""",

    // The dedup deliverable: every corpus doc with its near-dup cluster id
    // (itself when unpaired) and the canonical-survivor flag — the same
    // recursive-CTE exact CC as op_dedup_clusters, left-joined back.
    "op_neardup_survivors" -> s"""
      WITH RECURSIVE $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      nodes AS (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id)
      SELECT c.doc_id, coalesce(x.cluster_id, c.doc_id) AS cluster_id,
        (coalesce(x.cluster_id, c.doc_id) = c.doc_id) AS survivor
      FROM corpus c LEFT JOIN cc x USING (doc_id)""",

    // MinHash calibration: exact jaccard pairs (the op_token_jaccard
    // pipeline, union carried) joined to portable-signature agreement;
    // est_ppm = n_agree·15625 (10⁶/64 exactly), ex_ppm = integer
    // division — all-integer error so the sum is order-independent.
    "op_minhash_error" -> s"""
      WITH $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b, i.inter,
          ca.n_sh + cb.n_sh - i.inter AS uni
        FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM hsh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      e AS (
        SELECT
          CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS BIGINT)
            * 15625 AS est_ppm,
          p.inter * 1000000 // p.uni AS ex_ppm
        FROM prs p
        JOIN sig sa ON sa.doc_id = p.a
        JOIN sig sb ON sb.doc_id = p.b)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(abs(est_ppm - ex_ppm)) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS mean_abs_err_ppm,
        CAST(max(abs(est_ppm - ex_ppm)) AS BIGINT) AS max_abs_err_ppm,
        CAST(sum(CASE WHEN est_ppm < ex_ppm THEN 1 ELSE 0 END) AS BIGINT)
          AS n_underestimates
      FROM e""",

    // Cluster-size histogram over the same jaccard CC labels as
    // op_neardup_survivors.
    "op_cluster_sizes" -> s"""
      WITH RECURSIVE $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      nodes AS (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id),
      asg AS (
        SELECT c.doc_id, coalesce(x.cluster_id, c.doc_id) AS cluster_id
        FROM corpus c LEFT JOIN cc x USING (doc_id)),
      cs AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY 1)
      SELECT CAST(sz AS BIGINT) AS cluster_size,
        CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(sz) AS BIGINT) AS n_docs
      FROM cs GROUP BY 1""",

    // Quality-aware survivors: the op_neardup_survivors clustering with
    // keep-the-LONGEST (ties -> smallest id) instead of min-id. The rank
    // window here is oracle-side only — the Spark plan takes the
    // per-cluster argmax through the bounded heap.
    "op_best_survivors" -> s"""
      WITH RECURSIVE $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      nodes AS (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id),
      asg AS (
        SELECT c.doc_id, coalesce(x.cluster_id, c.doc_id) AS cluster_id,
          length(c.text) AS q
        FROM corpus c LEFT JOIN cc x USING (doc_id)),
      best AS (
        SELECT cluster_id, doc_id AS best_id FROM (
          SELECT cluster_id, doc_id,
            row_number() OVER (PARTITION BY cluster_id
              ORDER BY q DESC, doc_id) AS rn
          FROM asg) t WHERE rn = 1)
      SELECT a.doc_id, a.cluster_id, (a.doc_id = b.best_id) AS survivor
      FROM asg a JOIN best b USING (cluster_id)""",

    // Per-source duplication attribution: the op_neardup_survivors
    // clustering rolled up by source — docs in size>1 clusters, min-id
    // survivorship losers, and the losers' character mass.
    "op_dup_attribution" -> s"""
      WITH RECURSIVE $corpusCte,
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM corpus),
      shd AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      nodes AS (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id),
      asg AS (
        SELECT c.doc_id, c.source, length(c.text) AS len,
          coalesce(x.cluster_id, c.doc_id) AS cluster_id
        FROM corpus c LEFT JOIN cc x USING (doc_id)),
      sizes AS (
        SELECT cluster_id, count(*) AS sz, min(doc_id) AS keep_id
        FROM asg GROUP BY 1)
      SELECT a.source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN s.sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_docs,
        CAST(sum(CASE WHEN a.doc_id <> s.keep_id THEN 1 ELSE 0 END)
          AS BIGINT) AS n_wasted,
        CAST(sum(CASE WHEN a.doc_id <> s.keep_id THEN a.len ELSE 0 END)
          AS BIGINT) AS wasted_chars
      FROM asg a JOIN sizes s USING (cluster_id)
      GROUP BY a.source""",

    // Cross-source overlap matrix: the exact-jaccard pair graph (the
    // op_token_jaccard prs CTE) attributed to unordered source pairs,
    // endpoint ids re-aligned to the swapped source order.
    "op_cross_source_overlap" -> s"""
      WITH $shinglesCte,
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      keep AS (SELECT s FROM shd GROUP BY s HAVING count(*) <= 100),
      f AS (SELECT shd.doc_id, shd.s FROM shd JOIN keep USING (s)),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        FROM f x JOIN f y USING (s) WHERE x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      prs AS (
        SELECT i.a, i.b FROM inter i
        JOIN counts ca ON ca.doc_id = i.a
        JOIN counts cb ON cb.doc_id = i.b
        WHERE i.inter * 2 >= ca.n_sh + cb.n_sh - i.inter),
      lab AS (SELECT doc_id, source FROM corpus),
      att AS (
        SELECT least(sa.source, sb.source) AS source_a,
          greatest(sa.source, sb.source) AS source_b,
          CASE WHEN sa.source <= sb.source THEN p.a ELSE p.b END AS da,
          CASE WHEN sa.source <= sb.source THEN p.b ELSE p.a END AS db
        FROM prs p
        JOIN lab sa ON sa.doc_id = p.a
        JOIN lab sb ON sb.doc_id = p.b)
      SELECT source_a, source_b,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(count(DISTINCT da) AS BIGINT) AS n_docs_a,
        CAST(count(DISTINCT db) AS BIGINT) AS n_docs_b
      FROM att GROUP BY 1, 2""",

    // Centroid-distance outliers: best cosine against the fixed centroids
    // (same per-vector max the assigned CTE ranks by), thresholded.
    "op_embed_outliers" -> s"""
      WITH cents AS (SELECT j, cent FROM $ivfCentsSql),
      sims AS (
        SELECT e.vec_id, c.j, ${cosSql("e.embedding", "c.cent")} AS sim
        FROM embeddings e CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, ivf_cell, sim AS cos_centroid FROM (
          SELECT vec_id, j AS ivf_cell, sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM sims) t WHERE rn = 1)
      SELECT vec_id, ivf_cell, cos_centroid,
        cos_centroid < 0.13 AS is_outlier
      FROM assigned""",

    // Embedding drift: history (= embeddings) vs the standing vector
    // ingest batch, per-cell occupancy shares (floor of the IEEE ppm
    // quotient — Spark CAST truncates but DuckDB CAST rounds, so both
    // sides floor explicitly) and mean centroid cosine via exact
    // floor(cos*1e6) integer sums.
    "op_embed_drift" -> s"""
      WITH cents AS (SELECT j, cent FROM $ivfCentsSql),
      batch AS (
        SELECT vec_id + 1000000000 AS vec_id, embedding FROM embeddings
        WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 2000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 13 = 0
        UNION ALL
        SELECT vec_id + 3000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 26 = 0),
      hs AS (
        SELECT e.vec_id, c.j, ${cosSql("e.embedding", "c.cent")} AS sim
        FROM embeddings e CROSS JOIN cents c),
      bs AS (
        SELECT e.vec_id, c.j, ${cosSql("e.embedding", "c.cent")} AS sim
        FROM batch e CROSS JOIN cents c),
      ha AS (
        SELECT vec_id, ivf_cell, sim AS cosc FROM (
          SELECT vec_id, j AS ivf_cell, sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM hs) t WHERE rn = 1),
      ba AS (
        SELECT vec_id, ivf_cell, sim AS cosc FROM (
          SELECT vec_id, j AS ivf_cell, sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM bs) t WHERE rn = 1),
      hc AS (SELECT ivf_cell, count(*) AS n_hist,
               sum(CAST(floor(cosc * 1000000.0) AS BIGINT)) AS ch
             FROM ha GROUP BY 1),
      bc AS (SELECT ivf_cell, count(*) AS n_batch,
               sum(CAST(floor(cosc * 1000000.0) AS BIGINT)) AS cb
             FROM ba GROUP BY 1),
      tot AS (SELECT (SELECT count(*) FROM embeddings) AS nh,
                     (SELECT count(*) FROM batch) AS nb)
      SELECT ivf_cell,
        CAST(coalesce(hc.n_hist, 0) AS BIGINT) AS n_hist,
        CAST(coalesce(bc.n_batch, 0) AS BIGINT) AS n_batch,
        CAST(floor(coalesce(hc.n_hist, 0) * 1000000.0 / t.nh) AS BIGINT)
          AS hist_share_ppm,
        CAST(floor(coalesce(bc.n_batch, 0) * 1000000.0 / t.nb) AS BIGINT)
          AS batch_share_ppm,
        CAST(hc.ch AS DOUBLE) / hc.n_hist / 1000000.0 AS mean_cos_hist,
        CAST(bc.cb AS DOUBLE) / bc.n_batch / 1000000.0 AS mean_cos_batch,
        CAST(floor(coalesce(bc.n_batch, 0) * 1000000.0 / t.nb) AS BIGINT)
          - CAST(floor(coalesce(hc.n_hist, 0) * 1000000.0 / t.nh) AS BIGINT)
          AS drift_ppm
      FROM hc FULL OUTER JOIN bc USING (ivf_cell) CROSS JOIN tot t""",

    // Compaction: the Spark side MEASURES the physical layout (64 ingest
    // shards -> 4 range-partitioned files) and checksums content across
    // the rewrite; the oracle pins the expected counts — a layout
    // regression (e.g. an accidental coalesce) fails against these
    // constants, and content_preserved certifies the rewrite lost
    // nothing.
    "op_compact_files" -> """
      SELECT CAST(64 AS BIGINT) AS n_files_frag,
        CAST(4 AS BIGINT) AS n_files_compact,
        CAST(count(*) AS BIGINT) AS n_rows,
        true AS content_preserved
      FROM documents""",

    // Schema merge: the Spark side reads two physically-evolved parquet
    // snapshots (snapshot 1 lacks lang) with mergeSchema; the oracle is
    // the layout-invariant semantic answer over the fixture table.
    "op_schema_merge" -> """
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'pre_schema' ELSE lang END AS lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1""",

    // ---- portable-hash dedup / similarity families ----
    "op_minhash_pairs" -> minhashPairsSql,

    // Vote-threshold sweep: the op_minhash_pairs pipeline at its laxest
    // bar (n_agree >= 20), counted per candidate min_agree threshold.
    "op_minhash_sweep" -> s"""
      WITH pr AS MATERIALIZED (SELECT a, b, n_agree FROM ($minhashPairsSql)),
      th AS (SELECT CAST(unnest([20, 28, 36, 44, 52]) AS INT) AS min_agree),
      hits AS (
        SELECT t.min_agree, count(*) AS n_pairs,
          count(DISTINCT p.b) AS n_dropped
        FROM th t JOIN pr p ON p.n_agree >= t.min_agree
        GROUP BY 1),
      nd AS (
        SELECT count(*) AS n FROM (
          SELECT doc_id FROM documents
          UNION ALL
          SELECT doc_id + 1000000000 FROM documents WHERE doc_id % 10 = 0))
      SELECT t.min_agree,
        CAST(coalesce(h.n_pairs, 0) AS BIGINT) AS n_pairs,
        CAST(coalesce(h.n_dropped, 0) AS BIGINT) AS n_dropped,
        CAST(nd.n - coalesce(h.n_dropped, 0) AS BIGINT) AS n_kept
      FROM th t LEFT JOIN hits h USING (min_agree) CROSS JOIN nd""",

    // Incremental dedup oracle = FROM-SCRATCH minhash dedup over
    // (history ∪ new batch), restricted to the new batch: the same
    // shingle → portable-minhash → band → verify(n_agree >= 20) pipeline
    // as op_minhash_pairs over the union corpus, exact CC via the
    // recursive CTE, keep ⟺ cluster min == own id. The Spark side never
    // recomputes history (it probes the persisted band index) — this row
    // certifies the incremental path is EXACTLY the batch answer.
    "op_incr_dedup" -> s"""
      WITH RECURSIVE allcorp AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text || ' near duplicate copy suffix'
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000000, reverse(text)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 3000000000, reverse(text) || ' ingest copy marker'
        FROM documents WHERE doc_id % 26 = 0),
      tok AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM allcorp),
      shd AS MATERIALIZED (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM hsh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, g.bd,
          array_to_string(list_slice(sig, g.bd * 4 + 1, g.bd * 4 + 4), ',') AS bkey
        FROM sig CROSS JOIN generate_series(0, 15) AS g(bd)),
      cand AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y
          ON x.bd = y.bd AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      prs AS MATERIALIZED (
        SELECT c.a, c.b FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
          p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT) >= 20),
      nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS MATERIALIZED (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS MATERIALIZED (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id)
      SELECT c.doc_id,
        (coalesce(x.cluster_id, c.doc_id) = c.doc_id) AS keep
      FROM allcorp c LEFT JOIN cc x USING (doc_id)
      WHERE c.doc_id >= 1000000000""",

    // Retention-compaction oracle = the op_incr_dedup pipeline with the
    // HISTORY side restricted to the retained corpus (doc_id % 3 <> 0 —
    // the Spark side compacted the standing index to exactly those docs'
    // signatures), plus the store-size reduction pinned as constants.
    // Batch docs that near-dup'ed only removed history must flip to keep.
    "op_incr_compact" -> s"""
      WITH RECURSIVE allcorp AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT doc_id + 1000000000, text || ' near duplicate copy suffix'
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000000, reverse(text)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 3000000000, reverse(text) || ' ingest copy marker'
        FROM documents WHERE doc_id % 26 = 0),
      tok AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM allcorp),
      shd AS MATERIALIZED (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM hsh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, g.bd,
          array_to_string(list_slice(sig, g.bd * 4 + 1, g.bd * 4 + 4), ',') AS bkey
        FROM sig CROSS JOIN generate_series(0, 15) AS g(bd)),
      cand AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y
          ON x.bd = y.bd AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      prs AS MATERIALIZED (
        SELECT c.a, c.b FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
          p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT) >= 20),
      nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS MATERIALIZED (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS MATERIALIZED (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id)
      SELECT c.doc_id,
        (coalesce(x.cluster_id, c.doc_id) = c.doc_id) AS keep,
        CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_sigs_before,
        CAST((SELECT count(*) FROM documents WHERE doc_id % 3 <> 0) AS BIGINT)
          AS n_sigs_after
      FROM allcorp c LEFT JOIN cc x USING (doc_id)
      WHERE c.doc_id >= 1000000000""",

    // SemDeDup: nearest-fixed-centroid cell assignment (the shared IVF
    // CTEs), then within-cell pairwise cosine — a vector drops when ANY
    // smaller-id cell-mate scores >= 0.3 (identical fused-loop
    // accumulation order both engines, so the threshold compare is
    // bit-stable).
    "op_sem_dedup" -> s"""
      WITH $ivfCtesSql,
      m AS (
        SELECT a.vec_id, a.ivf_cell, e.embedding
        FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
      drp AS (
        SELECT DISTINCT y.vec_id
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id < y.vec_id
        WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.3)
      SELECT m.vec_id, m.ivf_cell, (d.vec_id IS NULL) AS keep
      FROM m LEFT JOIN drp d ON d.vec_id = m.vec_id""",

    // Semantic-dedup threshold sweep: the op_sem_dedup cell-scoped pair
    // cosines, counted per candidate threshold (pairs cleared, distinct
    // smaller-id-rule drops, kept = corpus - drops).
    "op_semdedup_sweep" -> s"""
      WITH $ivfCtesSql,
      m AS (
        SELECT a.vec_id, a.ivf_cell, e.embedding
        FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
      th AS (
        SELECT CAST(unnest([0.2, 0.3, 0.4, 0.5]) AS DOUBLE) AS threshold),
      scored AS (
        SELECT y.vec_id AS b, ${cosSql("x.embedding", "y.embedding")} AS cos
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id < y.vec_id),
      hits AS (
        SELECT t.threshold, count(*) AS n_pairs,
          count(DISTINCT s.b) AS n_dropped
        FROM th t JOIN scored s ON s.cos >= t.threshold
        GROUP BY 1)
      SELECT t.threshold,
        CAST(coalesce(h.n_pairs, 0) AS BIGINT) AS n_pairs,
        CAST(coalesce(h.n_dropped, 0) AS BIGINT) AS n_dropped,
        CAST((SELECT count(*) FROM embeddings) - coalesce(h.n_dropped, 0)
          AS BIGINT) AS n_kept
      FROM th t LEFT JOIN hits h USING (threshold)""",

    // Incremental semantic dedup oracle = FROM-SCRATCH semDedup over
    // (history ∪ new vector batch), restricted to the new batch: cell
    // assignment over the union with the same fixed-centroid argmax, then
    // the within-cell smaller-id ≥ 0.3 cosine drop rule. The Spark side
    // never recomputes history (it probes the persisted partitioned cell
    // store, pruned to the batch's touched cells) — this row certifies
    // the incremental path is EXACTLY the batch answer.
    "op_incr_sem_dedup" -> s"""
      WITH allv AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000000, embedding FROM embeddings
        WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 2000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 13 = 0
        UNION ALL
        SELECT vec_id + 3000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 26 = 0),
      cents AS MATERIALIZED (SELECT j, cent FROM $ivfCentsSql),
      sims AS MATERIALIZED (
        SELECT v.vec_id, c.j, ${cosSql("v.embedding", "c.cent")} AS sim
        FROM allv v CROSS JOIN cents c),
      assigned AS MATERIALIZED (
        SELECT vec_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM sims) t WHERE rn = 1),
      m AS MATERIALIZED (
        SELECT a.vec_id, a.ivf_cell, v.embedding
        FROM assigned a JOIN allv v ON v.vec_id = a.vec_id),
      drp AS MATERIALIZED (
        SELECT DISTINCT y.vec_id
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id < y.vec_id
        WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.3)
      SELECT m.vec_id, m.ivf_cell, (d.vec_id IS NULL) AS keep
      FROM m LEFT JOIN drp d ON d.vec_id = m.vec_id
      WHERE m.vec_id >= 1000000000""",

    // End-to-end incremental pipeline oracle = the whole chain from
    // scratch: the four-class multimodal batch (documents ⋈ embeddings),
    // the gopher quality gate over the batch, from-scratch union minhash
    // dedup (exact CC) for the text stage, from-scratch union semDedup
    // for the semantic stage, then the per-doc ledger with the published
    // survivors' deterministic splits.
    "op_incr_pipeline" -> s"""
      WITH RECURSIVE j AS MATERIALIZED (
        SELECT d.doc_id, d.text, e.embedding
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      batch AS MATERIALIZED (
        SELECT doc_id + 1000000000 AS doc_id,
          text || ' near duplicate copy suffix' AS text,
          list_reverse(embedding) AS embedding
        FROM j WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000000, reverse(text), embedding
        FROM j WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 3000000000,
          array_to_string(list_reverse(string_split_regex(trim(text), '\\s+')), ' '),
          embedding
        FROM j WHERE doc_id % 7 = 3
        UNION ALL
        SELECT doc_id + 4000000000,
          array_to_string(list_reverse(string_split_regex(trim(text), '\\s+')), ' '),
          list_reverse(embedding)
        FROM j WHERE doc_id % 11 = 5),
      padded AS MATERIALIZED (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad FROM batch),
      g_sig AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
          length(regexp_replace(text, '\\s', '', 'g')) AS n_word_chars,
          length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
          $stopwordSumSql AS n_stopword
        FROM padded),
      g_rep AS MATERIALIZED (
        SELECT doc_id, max(c) AS top_tok_n FROM (
          SELECT doc_id, t, count(*) AS c FROM (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM batch WHERE length(trim(text)) > 0) u
          GROUP BY doc_id, t) g
        GROUP BY doc_id),
      gp AS MATERIALIZED (
        SELECT s.doc_id,
          NOT (s.n_tokens < 25 OR s.n_tokens > 10000
            OR s.n_word_chars < s.n_tokens * 3
            OR s.n_word_chars > s.n_tokens * 10
            OR s.n_digit * 5 > s.n_word_chars
            OR s.n_stopword * 20 < s.n_tokens
            OR coalesce(r.top_tok_n, 0) * 8 > s.n_tokens) AS q_pass
        FROM g_sig s LEFT JOIN g_rep r USING (doc_id)),
      qb AS MATERIALIZED (
        SELECT b.doc_id, b.text, b.embedding
        FROM batch b JOIN gp USING (doc_id) WHERE gp.q_pass),
      allcorp AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id, text FROM qb),
      tok AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM allcorp),
      shd AS MATERIALIZED (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tok)),
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM hsh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      banded AS MATERIALIZED (
        SELECT doc_id, g.bd,
          array_to_string(list_slice(sig, g.bd * 4 + 1, g.bd * 4 + 4), ',') AS bkey
        FROM sig CROSS JOIN generate_series(0, 15) AS g(bd)),
      cand AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x JOIN banded y
          ON x.bd = y.bd AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      prs AS MATERIALIZED (
        SELECT c.a, c.b FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
          p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT) >= 20),
      nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM prs
                UNION SELECT DISTINCT b FROM prs),
      egs AS MATERIALIZED (SELECT a AS u, b AS v FROM prs
              UNION SELECT b AS u, a AS v FROM prs),
      reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.u AS id, r.label FROM egs e JOIN reach r ON e.v = r.id),
      cc AS MATERIALIZED (SELECT id AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY id),
      tkeep AS MATERIALIZED (
        SELECT c.doc_id,
          (coalesce(x.cluster_id, c.doc_id) = c.doc_id) AS keep
        FROM allcorp c LEFT JOIN cc x USING (doc_id)
        WHERE c.doc_id >= 1000000000),
      tb AS MATERIALIZED (
        SELECT q.doc_id, q.embedding
        FROM qb q JOIN tkeep k USING (doc_id) WHERE k.keep),
      allv AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT doc_id AS vec_id, embedding FROM tb),
      cents AS MATERIALIZED (SELECT j, cent FROM $ivfCentsSql),
      sims AS MATERIALIZED (
        SELECT v.vec_id, c.j, ${cosSql("v.embedding", "c.cent")} AS sim
        FROM allv v CROSS JOIN cents c),
      assigned AS MATERIALIZED (
        SELECT vec_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM sims) t WHERE rn = 1),
      m AS MATERIALIZED (
        SELECT a.vec_id, a.ivf_cell, v.embedding
        FROM assigned a JOIN allv v ON v.vec_id = a.vec_id),
      drp AS MATERIALIZED (
        SELECT DISTINCT y.vec_id
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id < y.vec_id
        WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.3),
      skeep AS MATERIALIZED (
        SELECT m.vec_id AS doc_id, (d.vec_id IS NULL) AS keep
        FROM m LEFT JOIN drp d ON d.vec_id = m.vec_id
        WHERE m.vec_id >= 1000000000)
      SELECT b.doc_id,
        gp.q_pass,
        (gp.q_pass AND coalesce(tk.keep, false)) AS text_keep,
        (gp.q_pass AND coalesce(tk.keep, false)
          AND coalesce(sk.keep, false)) AS published,
        CASE WHEN gp.q_pass AND coalesce(tk.keep, false)
               AND coalesce(sk.keep, false)
          THEN CASE WHEN CAST('0x' || substring(
                 md5(CAST(b.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 1000 < 900 THEN 'train'
               WHEN CAST('0x' || substring(
                 md5(CAST(b.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 1000 < 950 THEN 'val'
               ELSE 'test' END
        END AS split
      FROM batch b
      JOIN gp USING (doc_id)
      LEFT JOIN tkeep tk USING (doc_id)
      LEFT JOIN skeep sk USING (doc_id)""",

    // Incremental semantic dedup over TRAINED cells: the identical
    // data-adaptive centroids rebuilt in SQL (lloydCent2Ctes — trained on
    // HISTORY only, the frozen-model policy), then from-scratch semDedup
    // over (history ∪ batch) under those centroids, restricted to the
    // batch — certifying the trained-cell incremental path is EXACTLY the
    // batch answer.
    "op_incr_sem_trained" -> s"""
      WITH $ivfCtesSql,
      $lloydCent2Ctes,
      allv AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000000, embedding FROM embeddings
        WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 2000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 13 = 0
        UNION ALL
        SELECT vec_id + 3000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 26 = 0),
      simsT AS (
        SELECT v.vec_id, c.j, ${cosSql("v.embedding", "c.cent")} AS sim
        FROM allv v CROSS JOIN cent2 c),
      asgT AS MATERIALIZED (
        SELECT vec_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM simsT) t WHERE rn = 1),
      mT AS MATERIALIZED (
        SELECT a.vec_id, a.ivf_cell, v.embedding
        FROM asgT a JOIN allv v ON v.vec_id = a.vec_id),
      drpT AS MATERIALIZED (
        SELECT DISTINCT y.vec_id
        FROM mT x JOIN mT y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id < y.vec_id
        WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.3)
      SELECT mT.vec_id, mT.ivf_cell, (d.vec_id IS NULL) AS keep
      FROM mT LEFT JOIN drpT d ON d.vec_id = mT.vec_id
      WHERE mT.vec_id >= 1000000000""",

    // Retention-compaction oracle for the vector store: op_incr_sem_dedup
    // with HISTORY restricted to the retained vectors (vec_id % 3 <> 0),
    // plus the store-size reduction as constants — a batch vector whose
    // only smaller-id neighbor left the corpus flips to keep.
    "op_incr_sem_compact" -> s"""
      WITH allv AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
        UNION ALL
        SELECT vec_id + 1000000000, embedding FROM embeddings
        WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 2000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 13 = 0
        UNION ALL
        SELECT vec_id + 3000000000, list_reverse(embedding) FROM embeddings
        WHERE vec_id % 26 = 0),
      cents AS MATERIALIZED (SELECT j, cent FROM $ivfCentsSql),
      sims AS MATERIALIZED (
        SELECT v.vec_id, c.j, ${cosSql("v.embedding", "c.cent")} AS sim
        FROM allv v CROSS JOIN cents c),
      assigned AS MATERIALIZED (
        SELECT vec_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j) AS rn
          FROM sims) t WHERE rn = 1),
      m AS MATERIALIZED (
        SELECT a.vec_id, a.ivf_cell, v.embedding
        FROM assigned a JOIN allv v ON v.vec_id = a.vec_id),
      drp AS MATERIALIZED (
        SELECT DISTINCT y.vec_id
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id < y.vec_id
        WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.3)
      SELECT m.vec_id, m.ivf_cell, (d.vec_id IS NULL) AS keep,
        CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vecs_before,
        CAST((SELECT count(*) FROM embeddings WHERE vec_id % 3 <> 0) AS BIGINT)
          AS n_vecs_after
      FROM m LEFT JOIN drp d ON d.vec_id = m.vec_id
      WHERE m.vec_id >= 1000000000""",

    // Cell-scoped corpus k-NN graph: within-cell pairwise cosine (the
    // sem_dedup derivation without the id ordering), rank window per
    // query vector with the (cos DESC, neighbor) tie-break mirrored from
    // Similarity.knnGraph.
    "op_knn_graph" -> s"""
      WITH $ivfCtesSql,
      m AS (
        SELECT a.vec_id, a.ivf_cell, e.embedding
        FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
      p AS (
        SELECT x.vec_id AS q, y.vec_id AS n,
          ${cosSql("x.embedding", "y.embedding")} AS cos
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id <> y.vec_id),
      r AS (
        SELECT q, n, cos,
          row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rk
        FROM p)
      SELECT q AS vec_id, CAST(rk AS INT) AS rank, n AS neighbor_id, cos
      FROM r WHERE rk <= 5""",

    // k-NN majority vote over the op_knn_graph top-5: votes grouped by
    // neighbor label, argmax (votes desc, label asc); the rank window is
    // oracle-side only — Spark's argmax rides the bounded heap.
    "op_knn_classify" -> s"""
      WITH $ivfCtesSql,
      m AS (
        SELECT a.vec_id, a.ivf_cell, e.embedding
        FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
      p AS (
        SELECT x.vec_id AS q, y.vec_id AS n,
          ${cosSql("x.embedding", "y.embedding")} AS cos
        FROM m x JOIN m y
          ON x.ivf_cell = y.ivf_cell AND x.vec_id <> y.vec_id),
      r AS (
        SELECT q, n,
          row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rk
        FROM p),
      votes AS (
        SELECT r.q AS vec_id, e.label AS nl, count(*) AS n_votes
        FROM r JOIN embeddings e ON e.vec_id = r.n
        WHERE r.rk <= 5 GROUP BY 1, 2),
      best AS (
        SELECT vec_id, nl, n_votes,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY n_votes DESC, nl) AS brn
        FROM votes)
      SELECT b.vec_id, CAST(b.nl AS BIGINT) AS pred_label,
        CAST(b.n_votes AS BIGINT) AS n_votes,
        CAST(e.label AS BIGINT) AS true_label,
        b.nl = e.label AS correct
      FROM best b JOIN embeddings e ON e.vec_id = b.vec_id
      WHERE b.brn = 1""",

    "op_simhash" -> s"""
      WITH $shinglesCte,
      hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} AS h FROM shd),
      shv AS MATERIALIZED (
        SELECT doc_id, g.j,
          CASE WHEN sum(CASE WHEN ((h >> g.j) & 1) = 1
            THEN 1 ELSE -1 END) > 0
          THEN (CAST(1 AS BIGINT) << g.j) ELSE CAST(0 AS BIGINT)
          END AS bit
        FROM hsh CROSS JOIN generate_series(0, 59) AS g(j)
        GROUP BY doc_id, g.j)
      SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
      FROM shv GROUP BY doc_id""",

    // SimHash banded Hamming pairs: same simhash construction, 4x15-bit
    // band collision candidates, exact xor-popcount verify at <= 3.
    "op_simhash_pairs" -> simhashPairsSql,

    // SimHash candidate quality vs the exact (de-hubbed) jaccard pairs —
    // the sketch-eval read op_dedup_recall provides for MinHash: how many
    // n-gram near-dup pairs the hamming<=3 fingerprint surfaces (recall),
    // and how many of its pairs are jaccard near-dups (precision proxy).
    "op_simhash_recall" -> s"""
      WITH sh AS MATERIALIZED (SELECT a, b FROM ($simhashPairsSql)),
      ex AS MATERIALIZED (SELECT a, b FROM ($jaccardPairsSql)),
      bth AS (SELECT count(*) AS n_both FROM sh JOIN ex USING (a, b)),
      ns AS (SELECT count(*) AS n_simhash FROM sh),
      ne AS (SELECT count(*) AS n_exact FROM ex)
      SELECT n_simhash, n_exact, n_both,
        CASE WHEN n_exact > 0
             THEN CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE)
             ELSE 1.0 END AS recall,
        CASE WHEN n_simhash > 0
             THEN CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE)
             ELSE 1.0 END AS precision_proxy
      FROM ns CROSS JOIN ne CROSS JOIN bth""",

    // Band-bucket occupancy accounting for both signature miners: per
    // miner, bucket totals, over-cap buckets, worst bucket, exact
    // all-pairs candidate mass, the mass the capped/star form emits, and
    // (round 15) the star-edge verify ledger — distinct (bucket-min,
    // member) edges from over-cap buckets and how many survive the
    // miner's own verify (n_agree >= 20 / hamming <= 3).
    "op_band_stats" -> s"""
      WITH $shinglesCte,
      mh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} % 2147483647 AS h FROM shd),
      sigl AS MATERIALIZED (
        SELECT doc_id, g.j,
          min((($coefASql)[g.j] * h + ($coefBSql)[g.j]) % 2147483647) AS mv
        FROM mh CROSS JOIN generate_series(1, 64) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(mv ORDER BY j) AS sig FROM sigl GROUP BY doc_id),
      mbanded AS MATERIALIZED (
        SELECT doc_id, g.bd,
          array_to_string(list_slice(sig, g.bd * 4 + 1, g.bd * 4 + 4), ',') AS bkey
        FROM sig CROSS JOIN generate_series(0, 15) AS g(bd)),
      mstat AS MATERIALIZED (
        SELECT bd, bkey, count(*) AS n, min(doc_id) AS m
        FROM mbanded GROUP BY bd, bkey),
      msedge AS (
        SELECT DISTINCT st.m AS a, x.doc_id AS b
        FROM mbanded x JOIN mstat st ON st.bd = x.bd AND st.bkey = x.bkey
        WHERE st.n > ${graft.text.Dedup.MaxBandBucket} AND x.doc_id <> st.m),
      msver AS (
        SELECT CAST(count(*) AS BIGINT) AS n_star_edges,
          CAST(coalesce(sum(CASE WHEN n_agree >= 20 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_star_verified
        FROM (
          SELECT CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS INT) AS n_agree
          FROM msedge e
          JOIN sig sa ON sa.doc_id = e.a
          JOIN sig sb ON sb.doc_id = e.b)),
      sh_hsh AS MATERIALIZED (
        SELECT doc_id, ${md5Long("s")} AS h FROM shd),
      shv AS MATERIALIZED (
        SELECT doc_id, g.j,
          CASE WHEN sum(CASE WHEN ((h >> g.j) & 1) = 1
            THEN 1 ELSE -1 END) > 0
          THEN (CAST(1 AS BIGINT) << g.j) ELSE CAST(0 AS BIGINT)
          END AS bit
        FROM sh_hsh CROSS JOIN generate_series(0, 59) AS g(j)
        GROUP BY doc_id, g.j),
      sh AS MATERIALIZED (
        SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
        FROM shv GROUP BY doc_id),
      sbanded AS MATERIALIZED (
        SELECT doc_id, b.bd,
          (simhash >> (15 * b.bd)) & 32767 AS bkey
        FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bd) b),
      sstat AS MATERIALIZED (
        SELECT bd, bkey, count(*) AS n, min(doc_id) AS m
        FROM sbanded GROUP BY bd, bkey),
      ssedge AS (
        SELECT DISTINCT st.m AS a, x.doc_id AS b
        FROM sbanded x JOIN sstat st ON st.bd = x.bd AND st.bkey = x.bkey
        WHERE st.n > ${graft.text.Dedup.MaxBandBucket} AND x.doc_id <> st.m),
      ssver AS (
        SELECT CAST(count(*) AS BIGINT) AS n_star_edges,
          CAST(coalesce(sum(CASE WHEN bit_count(xor(s1.simhash, s2.simhash))
            <= 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_star_verified
        FROM ssedge e
        JOIN sh s1 ON s1.doc_id = e.a
        JOIN sh s2 ON s2.doc_id = e.b),
      cap AS (SELECT ${graft.text.Dedup.MaxBandBucket} AS c)
      SELECT 'minhash' AS miner,
        CAST(count(*) AS BIGINT) AS n_buckets,
        CAST(sum(CASE WHEN n > cap.c THEN 1 ELSE 0 END) AS BIGINT)
          AS n_overcap_buckets,
        CAST(max(n) AS BIGINT) AS max_occupancy,
        CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pairs_exact,
        CAST(sum(CASE WHEN n <= cap.c THEN n * (n - 1) // 2 ELSE n - 1 END)
          AS BIGINT) AS pairs_emitted,
        v.n_star_edges, v.n_star_verified
      FROM mstat CROSS JOIN cap CROSS JOIN msver v
      GROUP BY cap.c, v.n_star_edges, v.n_star_verified
      UNION ALL
      SELECT 'simhash' AS miner,
        CAST(count(*) AS BIGINT) AS n_buckets,
        CAST(sum(CASE WHEN n > cap.c THEN 1 ELSE 0 END) AS BIGINT)
          AS n_overcap_buckets,
        CAST(max(n) AS BIGINT) AS max_occupancy,
        CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pairs_exact,
        CAST(sum(CASE WHEN n <= cap.c THEN n * (n - 1) // 2 ELSE n - 1 END)
          AS BIGINT) AS pairs_emitted,
        v.n_star_edges, v.n_star_verified
      FROM sstat CROSS JOIN cap CROSS JOIN ssver v
      GROUP BY cap.c, v.n_star_edges, v.n_star_verified""",

    "op_lsh_ann" -> annLshSql,

    // IVF-PQ: the probes/assigned CTEs of op_ivf_ann composed with the
    // pqcodes of op_pq_encode — candidates from the probed cells only,
    // scored by the same ADC sum as op_pq_ann.
    "op_ivfpq_ann" -> s"""
      WITH $ivfCtesSql,
      $pqCodesSql,
      codes AS (
        SELECT a.ivf_cell, p.* FROM pqcodes p JOIN assigned a USING (vec_id)),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
            WHERE vec_id % 25 = 0),
      scored AS (
        SELECT p.q_id, c.vec_id AS neighbor_id,
          ${pqAdcScoreSql("q.q_emb", "c")}
          AS score
        FROM probes p
        JOIN q ON q.q_id = p.q_id
        JOIN codes c ON c.ivf_cell = p.ivf_cell AND c.vec_id <> p.q_id)
      SELECT q_id, rank, neighbor_id, score FROM (
        SELECT q_id, neighbor_id, score,
          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id)
            AS rank
        FROM scored) r
      WHERE rank <= 5""",

    "op_embed_neardup" -> s"""
      WITH sigs AS (
        SELECT vec_id, embedding, tt.t AS tbl,
          ${lshBucketSql("embedding", "tt.t")} AS bkt
        FROM embeddings CROSS JOIN generate_series(0, 3) AS tt(t)),
      keep AS (SELECT tbl, bkt FROM sigs GROUP BY tbl, bkt
               HAVING count(*) <= 512),
      f AS (SELECT s.vec_id, s.tbl, s.bkt FROM sigs s JOIN keep USING (tbl, bkt)),
      cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM f x JOIN f y
          ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
      scored AS (
        SELECT c.a, c.b, ${cosSql("e1.embedding", "e2.embedding")} AS cos
        FROM cand c
        JOIN embeddings e1 ON e1.vec_id = c.a
        JOIN embeddings e2 ON e2.vec_id = c.b)
      SELECT a, b, cos FROM scored WHERE cos >= 0.2""",

    "op_ivf_ann" -> annIvfSql,

    // IVF nprobe -> recall/cost ladder: per rung, top-5 over the rn <= np
    // probed cells (the searchTopK mirror), hits against the brute
    // baseline, and the scan volume = Σ probed-cell sizes (self included).
    "op_ivf_sweep" -> {
      val rungs = Seq(1, 2, 4, 16)
      val rungCtes = rungs.map { np =>
        s"""sc$np AS (
        SELECT p.q_id, a.vec_id AS neighbor_id,
          ${cosSql("e1.embedding", "e2.embedding")} AS cos
        FROM prall p
        JOIN asg a ON a.ivf_cell = p.ivf_cell AND a.vec_id <> p.q_id
        JOIN embeddings e1 ON e1.vec_id = p.q_id
        JOIN embeddings e2 ON e2.vec_id = a.vec_id
        WHERE p.rn <= $np),
      tp$np AS (
        SELECT q_id, neighbor_id FROM (
          SELECT q_id, neighbor_id, row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rank
          FROM sc$np) r WHERE rank <= 5)"""
      }.mkString(",\n      ")
      val rungRows = rungs.map { np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe,
        (SELECT CAST(count(*) AS BIGINT) FROM brute) AS n_relevant,
        (SELECT CAST(count(*) AS BIGINT) FROM tp$np t
           JOIN brute b ON b.q_id = t.q_id
             AND b.neighbor_id = t.neighbor_id) AS n_hits,
        (SELECT CAST(sum(cs) AS BIGINT) FROM prall p JOIN csize s
           ON s.ivf_cell = p.ivf_cell WHERE p.rn <= $np) AS n_scanned"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH $ivfCtesSql,
      asg AS MATERIALIZED (SELECT vec_id, ivf_cell FROM assigned),
      brute AS MATERIALIZED (
        SELECT q_id, neighbor_id FROM (${annBruteSqlFor(100)})),
      prall AS MATERIALIZED (
        SELECT vec_id AS q_id, j AS ivf_cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, j DESC) AS rn
        FROM sims WHERE vec_id % 100 = 0),
      csize AS MATERIALIZED (
        SELECT ivf_cell, CAST(count(*) AS BIGINT) AS cs
        FROM asg GROUP BY ivf_cell),
      $rungCtes
      SELECT nprobe, n_relevant, n_hits,
        CAST(n_hits AS DOUBLE) / CAST(n_relevant AS DOUBLE) AS recall,
        n_scanned
      FROM ($rungRows)"""
    },

    // One k-means Lloyd iteration from the fixed IVF centroids: nearest-
    // centroid assignment (the shared `assigned` CTE), then per-(cell, dim)
    // quantized sums + cell sizes — the update step's sufficient statistics.
    "op_kmeans_step" -> s"""
      WITH $ivfCtesSql,
      m AS (
        SELECT a.ivf_cell, emb.embedding
        FROM assigned a JOIN embeddings emb ON emb.vec_id = a.vec_id),
      x AS (
        SELECT ivf_cell, t.i - 1 AS dim,
          CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS milli
        FROM m, unnest(generate_series(1, len(embedding))) AS t(i))
      SELECT ivf_cell, dim, CAST(sum(milli) AS BIGINT) AS sum_milli,
        count(*) AS n
      FROM x GROUP BY ivf_cell, dim""",

    // TWO unrolled Lloyd iterations: iteration-1 statistics rebuild the
    // centroids in SQL (the shared lloydCent2Ctes chain), then iteration 2
    // re-aggregates the same statistics over the updated assignment.
    "op_kmeans_iter" -> s"""
      WITH $ivfCtesSql,
      $lloydCent2Ctes,
      m2 AS (
        SELECT a.ivf_cell, emb.embedding
        FROM asg2 a JOIN embeddings emb ON emb.vec_id = a.vec_id),
      x2 AS (
        SELECT ivf_cell, t.i - 1 AS dim,
          CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS milli
        FROM m2, unnest(generate_series(1, len(embedding))) AS t(i))
      SELECT ivf_cell, dim, CAST(sum(milli) AS BIGINT) AS sum_milli,
        count(*) AS n
      FROM x2 GROUP BY ivf_cell, dim""",

    // IVF ANN over the TRAINED centroids — the op_kmeans_iter model put to
    // work: the same probe/score/rank pipeline as op_ivf_ann, but probes
    // and cell assignment both come from the UPDATED (data-adaptive)
    // centroid lists; Spark ties break identically (assignment first-max
    // cell ASC, probes sim DESC then cell DESC).
    "op_trained_ivf_ann" -> s"""
      WITH $ivfCtesSql,
      $lloydCent2Ctes,
      probes2 AS (
        SELECT vec_id AS q_id, ivf_cell FROM (
          SELECT vec_id, j AS ivf_cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, j DESC) AS rn
          FROM sims2 WHERE vec_id % 25 = 0) t WHERE rn <= 4),
      cand2 AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM probes2 p JOIN asg2 a
          ON a.ivf_cell = p.ivf_cell AND a.vec_id <> p.q_id),
      scored2 AS (
        SELECT c.q_id, c.neighbor_id,
          ${cosSql("e1.embedding", "e2.embedding")} AS cos
        FROM cand2 c
        JOIN embeddings e1 ON e1.vec_id = c.q_id
        JOIN embeddings e2 ON e2.vec_id = c.neighbor_id)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
            AS rank
        FROM scored2) r
      WHERE rank <= 5""",

    // PQ codes: every embedding's 8 subvector codewords (argmax dot,
    // first-max ties) against the closed-form codebook.
    "op_pq_encode" -> s"""
      WITH $pqCodesSql
      SELECT vec_id, pq_0, pq_1, pq_2, pq_3, pq_4, pq_5, pq_6, pq_7
      FROM pqcodes""",

    // Compressed-domain ANN (ADC): candidate score = sum over blocks of
    // dot(query subvector, the candidate's coded codeword) — identical
    // left-to-right accumulation to the Spark LUT-lookup sum.
    "op_pq_ann" -> s"""
      WITH $pqCodesSql,
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
            WHERE vec_id % 25 = 0),
      scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
          ${pqAdcScoreSql("q.q_emb", "c")}
          AS score
        FROM pqcodes c CROSS JOIN q
        WHERE c.vec_id <> q.q_id)
      SELECT q_id, rank, neighbor_id, score FROM (
        SELECT q_id, neighbor_id, score,
          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id)
            AS rank
        FROM scored) r
      WHERE rank <= 5""",

    "op_media_features" -> """
      SELECT doc_id AS media_id,
        list_extract(['image', 'audio', 'video'],
          CAST(doc_id % 3 AS INT) + 1) AS kind,
        octet_length(encode(text)) AS n_bytes,
        CASE WHEN octet_length(encode(text)) = 0 THEN 0
             ELSE least(64, (octet_length(encode(text)) - 1) // 32 + 1)
        END AS frames_sampled
      FROM documents""",

    "op_txn_details" -> s"""
      WITH $taxCte
      SELECT transaction_id, state, coalesce(city, '') AS city,
        CAST(taxable_amount AS DOUBLE) AS taxable_amount,
        CAST(state_tax AS DOUBLE) AS state_tax,
        CAST(local_tax AS DOUBLE) AS local_tax,
        CAST(tax_amount AS DOUBLE) AS total_tax,
        CAST(CAST(combined_rate * 100 AS DECIMAL(10,4)) AS VARCHAR) || '%'
          AS effective_rate,
        is_exempt, exemption_reason
      FROM taxcalc""",

    "op_alerts" -> s"""
      WITH $txnsCte,
      activity AS (
        SELECT state, CAST(sum(amount) AS DECIMAL(18,2)) AS revenue,
          count(*) AS transaction_count
        FROM txns GROUP BY state),
      nx AS (SELECT state_code, revenue_threshold, transaction_threshold
             FROM read_parquet('$Fix/nexus_thresholds.parquet')),
      nn AS (SELECT state_code FROM read_parquet('$Fix/no_nexus_states.parquet')),
      regs AS (SELECT * FROM (VALUES ('CA'), ('NY'), ('TX')) t(state_code)),
      chk AS (
        SELECT a.state, a.revenue, a.transaction_count,
          (a.state IN (SELECT state_code FROM nn)) AS is_nn,
          (t.state_code IS NULL) AS no_data,
          CASE WHEN a.state IN (SELECT state_code FROM nn) THEN FALSE
               WHEN t.state_code IS NULL THEN FALSE
               ELSE (a.revenue >= t.revenue_threshold
                     OR (t.transaction_threshold IS NOT NULL
                         AND a.transaction_count >= t.transaction_threshold))
          END AS has_nexus,
          CASE WHEN a.state IN (SELECT state_code FROM nn) THEN 0.0
               WHEN t.state_code IS NULL THEN 0.0
               WHEN t.revenue_threshold > 0 THEN
                 CAST(a.revenue AS DOUBLE) / CAST(t.revenue_threshold AS DOUBLE) * 100
               ELSE 0.0 END AS rev_pct,
          CASE WHEN a.state IN (SELECT state_code FROM nn)
                 OR t.state_code IS NULL THEN NULL
               WHEN t.transaction_threshold IS NOT NULL THEN
                 CAST(a.transaction_count AS DOUBLE)
                   / CAST(t.transaction_threshold AS DOUBLE) * 100
          END AS txn_pct
        FROM activity a LEFT JOIN nx t ON t.state_code = a.state),
      appr AS (
        SELECT *, CASE WHEN is_nn OR no_data THEN FALSE
                       ELSE (rev_pct >= 80 OR coalesce(txn_pct >= 80, FALSE))
                            AND NOT has_nexus END AS approaching
        FROM chk),
      nexus_alerts AS (
        SELECT
          CASE WHEN has_nexus AND r.state_code IS NULL THEN 'critical'
               ELSE 'warning' END AS severity,
          c.state AS state_code,
          CASE WHEN has_nexus AND r.state_code IS NULL
               THEN 'Economic nexus established in ' || c.state ||
                    ' but not registered for sales tax collection'
               ELSE 'Approaching economic nexus threshold in ' || c.state ||
                    ' (' || CAST(CAST(floor(rev_pct + 0.5) AS BIGINT) AS VARCHAR) ||
                    '% of revenue limit)' END AS message,
          CASE WHEN has_nexus AND r.state_code IS NULL
               THEN 'Register for sales tax in ' || c.state ||
                    ' immediately. Revenue: ' || '$$' ||
                    format('{:,}', CAST(c.revenue * 100 AS BIGINT) // 100) ||
                    '.' ||
                    lpad(CAST(CAST(c.revenue * 100 AS BIGINT) % 100 AS VARCHAR), 2, '0')
               ELSE 'Monitor ' || c.state ||
                    ' activity. Prepare registration materials proactively.'
          END AS action_required,
          CAST(NULL AS DATE) AS deadline
        FROM appr c LEFT JOIN regs r ON r.state_code = c.state
        WHERE (has_nexus AND r.state_code IS NULL) OR approaching),
      freqr AS (
        SELECT state_code,
          CASE WHEN 0 >= 4800 THEN 'monthly'
               WHEN 0 >= 1200 THEN 'quarterly'
               ELSE 'annual' END AS frequency
        FROM regs),
      periods AS (
        SELECT f.state_code, f.frequency, CAST(ms AS DATE) AS period_start
        FROM freqr f CROSS JOIN generate_series(DATE '2024-01-01',
          DATE '2024-12-01', INTERVAL 1 MONTH) AS t(ms)
        WHERE (f.frequency = 'monthly')
           OR (f.frequency = 'quarterly'
               AND month(CAST(ms AS DATE)) IN (1, 4, 7, 10))
           OR (f.frequency = 'annual' AND month(CAST(ms AS DATE)) = 1)),
      pend AS (
        SELECT *, CASE WHEN frequency = 'monthly' THEN last_day(period_start)
                       WHEN frequency = 'quarterly'
                         THEN last_day(period_start + INTERVAL 2 MONTH)
                       ELSE DATE '2024-12-31' END AS period_end
        FROM periods),
      dd AS (SELECT state_code, due_day
             FROM read_parquet('$Fix/filing_due_days.parquet')),
      due AS (
        SELECT p.state_code, p.period_start, p.period_end,
          make_date(CAST(year(p.period_end + INTERVAL 1 MONTH) AS INT),
                    CAST(month(p.period_end + INTERVAL 1 MONTH) AS INT),
                    coalesce(d.due_day, 20)) AS due_date
        FROM pend p LEFT JOIN dd d ON d.state_code = p.state_code),
      overdue_alerts AS (
        SELECT
          CASE WHEN datediff('day', due_date, DATE '2024-12-01') > 30
               THEN 'critical' ELSE 'warning' END AS severity,
          state_code,
          state_code || ' return for ' || strftime(period_start, '%Y-%m-%d') ||
            ' to ' || strftime(period_end, '%Y-%m-%d') || ' is ' ||
            CAST(datediff('day', due_date, DATE '2024-12-01') AS VARCHAR) ||
            ' days past due' AS message,
          'File ' || state_code || ' return immediately. Late penalties may apply.'
            AS action_required,
          due_date AS deadline
        FROM due WHERE due_date < DATE '2024-12-01')
      SELECT * FROM nexus_alerts UNION ALL SELECT * FROM overdue_alerts""",

    "op_ann_topk" -> annBruteSql,

    // Mean reciprocal rank @10 (mirrors Similarity.mrrAtK): exact cosine
    // top-10, first same-label neighbor's rank -> floor(1e6/rank) integer
    // micro-units, misses 0 but in the denominator; one int/int division.
    "op_mrr" -> s"""
      WITH r AS (
        SELECT q_id, neighbor_id, rank FROM (
          SELECT q_id, neighbor_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
              ${cosSql("e.embedding", "q.q_emb")} AS cos
            FROM embeddings e CROSS JOIN (
              SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id % 25 = 0) q
            WHERE e.vec_id <> q.q_id) s0) rr
        WHERE rank <= 10),
      fh AS (
        SELECT r.q_id, min(r.rank) AS fr
        FROM r JOIN embeddings n ON n.vec_id = r.neighbor_id
             JOIN embeddings qq ON qq.vec_id = r.q_id
        WHERE n.label = qq.label
        GROUP BY r.q_id),
      base AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 25 = 0)
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
        CAST(sum(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hit,
        CAST(sum(coalesce(1000000 // fr, 0)) AS BIGINT) AS sum_rr_micro,
        CAST(CAST(sum(coalesce(1000000 // fr, 0)) AS BIGINT) AS DOUBLE)
          / CAST(count(*) * 1000000 AS DOUBLE) AS mrr
      FROM base LEFT JOIN fh USING (q_id)""",

    // Routed MRR@10 beside the exact baseline (mirrors
    // Similarity.mrrRouted at c=16, nprobe=4): both first-hit ranks ->
    // integer micro reciprocal ranks; agreement count and gap are exact
    // integers, the two mrr values one division each.
    "op_mrr_ivf" -> s"""
      WITH $ivfCtesSql,
      bru AS (
        SELECT q_id, neighbor_id, rank FROM (
          SELECT q_id, neighbor_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
              ${cosSql("e.embedding", "q.q_emb")} AS cos
            FROM embeddings e CROSS JOIN (
              SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id % 25 = 0) q
            WHERE e.vec_id <> q.q_id) s0) rr
        WHERE rank <= 10),
      cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a
          ON a.ivf_cell = p.ivf_cell AND a.vec_id <> p.q_id),
      rts AS (
        SELECT q_id, neighbor_id, rank FROM (
          SELECT c.q_id, c.neighbor_id,
            row_number() OVER (PARTITION BY c.q_id
              ORDER BY ${cosSql("e2.embedding", "e1.embedding")} DESC,
                c.neighbor_id) AS rank
          FROM cand c
          JOIN embeddings e1 ON e1.vec_id = c.q_id
          JOIN embeddings e2 ON e2.vec_id = c.neighbor_id) r
        WHERE rank <= 10),
      fhe AS (
        SELECT r.q_id, min(r.rank) AS fe
        FROM bru r JOIN embeddings n ON n.vec_id = r.neighbor_id
             JOIN embeddings qq ON qq.vec_id = r.q_id
        WHERE n.label = qq.label GROUP BY r.q_id),
      fhi AS (
        SELECT r.q_id, min(r.rank) AS fi
        FROM rts r JOIN embeddings n ON n.vec_id = r.neighbor_id
             JOIN embeddings qq ON qq.vec_id = r.q_id
        WHERE n.label = qq.label GROUP BY r.q_id),
      base AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 25 = 0)
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
        CAST(sum(CASE WHEN fe IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hit_exact,
        CAST(sum(CASE WHEN fi IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hit_ivf,
        CAST(sum(coalesce(1000000 // fe, 0)) AS BIGINT) AS sum_rr_micro_exact,
        CAST(sum(coalesce(1000000 // fi, 0)) AS BIGINT) AS sum_rr_micro_ivf,
        CAST(sum(CASE WHEN coalesce(1000000 // fe, 0)
              = coalesce(1000000 // fi, 0) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rr_agree,
        CAST(sum(coalesce(1000000 // fe, 0))
          - sum(coalesce(1000000 // fi, 0)) AS BIGINT) AS mrr_gap_micro,
        CAST(CAST(sum(coalesce(1000000 // fe, 0)) AS BIGINT) AS DOUBLE)
          / CAST(count(*) * 1000000 AS DOUBLE) AS mrr_exact,
        CAST(CAST(sum(coalesce(1000000 // fi, 0)) AS BIGINT) AS DOUBLE)
          / CAST(count(*) * 1000000 AS DOUBLE) AS mrr_ivf
      FROM base LEFT JOIN fhe USING (q_id) LEFT JOIN fhi USING (q_id)""",

    // Binary-relevance NDCG@10 (mirrors Similarity.ndcgAtK): per-rank
    // gain = floor(1e6*ln2/ln(1+rank)) with ln the portable chain (ln 2
    // is the chain's own p=1 constant, written literally); dcg over the
    // relevant ranks of the exact top-10, idcg over ranks 1..min(R,10)
    // with R = same-label population minus self; ndcg one division,
    // NULL when no relevant neighbor exists.
    "op_ndcg" -> s"""
      WITH ranks AS (SELECT unnest(generate_series(1, 10)) AS r),
      rsrc AS (SELECT r, r + 1 AS m FROM ranks),
      ${lnChain("ngl", "rsrc", Seq("r"), "lnr")},
      g AS (SELECT r, CAST(floor(CAST(1000000 AS DOUBLE)
          * CAST('0.6931471805599453' AS DOUBLE) / lnr) AS BIGINT) AS gm
        FROM ngl7),
      ranked AS (
        SELECT q_id, neighbor_id, rank FROM (
          SELECT q_id, neighbor_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
              ${cosSql("e.embedding", "q.q_emb")} AS cos
            FROM embeddings e CROSS JOIN (
              SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id % 25 = 0) q
            WHERE e.vec_id <> q.q_id) s0) rr
        WHERE rank <= 10),
      ql AS (SELECT vec_id AS q_id, label AS qlb FROM embeddings
             WHERE vec_id % 25 = 0),
      dcg AS (
        SELECT rk.q_id, CAST(count(*) AS BIGINT) AS n_rel_at_k,
          CAST(sum(g.gm) AS BIGINT) AS dcg_micro
        FROM ranked rk JOIN embeddings n ON n.vec_id = rk.neighbor_id
          JOIN ql ON ql.q_id = rk.q_id
          JOIN g ON g.r = rk.rank
        WHERE n.label = ql.qlb GROUP BY rk.q_id),
      hist AS (SELECT label, CAST(count(*) AS BIGINT) AS cl
               FROM embeddings GROUP BY label),
      ideal AS (
        SELECT q.q_id, CAST(sum(g.gm) AS BIGINT) AS idcg_micro
        FROM ql q JOIN hist h ON h.label = q.qlb
          JOIN g ON g.r <= least(h.cl - 1, 10)
        GROUP BY q.q_id)
      SELECT q.q_id,
        coalesce(d.n_rel_at_k, CAST(0 AS BIGINT)) AS n_rel_at_k,
        coalesce(d.dcg_micro, CAST(0 AS BIGINT)) AS dcg_micro,
        coalesce(i.idcg_micro, CAST(0 AS BIGINT)) AS idcg_micro,
        CASE WHEN coalesce(i.idcg_micro, CAST(0 AS BIGINT)) > 0
          THEN CAST(coalesce(d.dcg_micro, CAST(0 AS BIGINT)) AS DOUBLE)
            / CAST(i.idcg_micro AS DOUBLE) END AS ndcg
      FROM ql q LEFT JOIN ideal i ON i.q_id = q.q_id
        LEFT JOIN dcg d ON d.q_id = q.q_id""",

    // Routed NDCG@10 beside the exact baseline (mirrors
    // Similarity.ndcgRouted at c=16, nprobe=4): two dcg reads over the
    // same integer gain table and the same idcg; dcg_agree is exact
    // integer equality.
    "op_ndcg_ivf" -> s"""
      WITH $ivfCtesSql,
      ranks AS (SELECT unnest(generate_series(1, 10)) AS r),
      rsrc AS (SELECT r, r + 1 AS m FROM ranks),
      ${lnChain("ngl", "rsrc", Seq("r"), "lnr")},
      g AS (SELECT r, CAST(floor(CAST(1000000 AS DOUBLE)
          * CAST('0.6931471805599453' AS DOUBLE) / lnr) AS BIGINT) AS gm
        FROM ngl7),
      bru AS (
        SELECT q_id, neighbor_id, rank FROM (
          SELECT q_id, neighbor_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
              ${cosSql("e.embedding", "q.q_emb")} AS cos
            FROM embeddings e CROSS JOIN (
              SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id % 25 = 0) q
            WHERE e.vec_id <> q.q_id) s0) rr
        WHERE rank <= 10),
      cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a
          ON a.ivf_cell = p.ivf_cell AND a.vec_id <> p.q_id),
      rts AS (
        SELECT q_id, neighbor_id, rank FROM (
          SELECT c.q_id, c.neighbor_id,
            row_number() OVER (PARTITION BY c.q_id
              ORDER BY ${cosSql("e2.embedding", "e1.embedding")} DESC,
                c.neighbor_id) AS rank
          FROM cand c
          JOIN embeddings e1 ON e1.vec_id = c.q_id
          JOIN embeddings e2 ON e2.vec_id = c.neighbor_id) r
        WHERE rank <= 10),
      ql AS (SELECT vec_id AS q_id, label AS qlb FROM embeddings
             WHERE vec_id % 25 = 0),
      dce AS (
        SELECT rk.q_id, CAST(count(*) AS BIGINT) AS n_rel_at_k_exact,
          CAST(sum(g.gm) AS BIGINT) AS dcg_micro_exact
        FROM bru rk JOIN embeddings n ON n.vec_id = rk.neighbor_id
          JOIN ql ON ql.q_id = rk.q_id
          JOIN g ON g.r = rk.rank
        WHERE n.label = ql.qlb GROUP BY rk.q_id),
      dci AS (
        SELECT rk.q_id, CAST(count(*) AS BIGINT) AS n_rel_at_k_ivf,
          CAST(sum(g.gm) AS BIGINT) AS dcg_micro_ivf
        FROM rts rk JOIN embeddings n ON n.vec_id = rk.neighbor_id
          JOIN ql ON ql.q_id = rk.q_id
          JOIN g ON g.r = rk.rank
        WHERE n.label = ql.qlb GROUP BY rk.q_id),
      hist AS (SELECT label, CAST(count(*) AS BIGINT) AS cl
               FROM embeddings GROUP BY label),
      ideal AS (
        SELECT q.q_id, CAST(sum(g.gm) AS BIGINT) AS idcg_micro
        FROM ql q JOIN hist h ON h.label = q.qlb
          JOIN g ON g.r <= least(h.cl - 1, 10)
        GROUP BY q.q_id)
      SELECT q.q_id,
        coalesce(de.n_rel_at_k_exact, CAST(0 AS BIGINT)) AS n_rel_at_k_exact,
        coalesce(di.n_rel_at_k_ivf, CAST(0 AS BIGINT)) AS n_rel_at_k_ivf,
        coalesce(de.dcg_micro_exact, CAST(0 AS BIGINT)) AS dcg_micro_exact,
        coalesce(di.dcg_micro_ivf, CAST(0 AS BIGINT)) AS dcg_micro_ivf,
        coalesce(i.idcg_micro, CAST(0 AS BIGINT)) AS idcg_micro,
        CASE WHEN coalesce(i.idcg_micro, CAST(0 AS BIGINT)) > 0
          THEN CAST(coalesce(de.dcg_micro_exact, CAST(0 AS BIGINT)) AS DOUBLE)
            / CAST(i.idcg_micro AS DOUBLE) END AS ndcg_exact,
        CASE WHEN coalesce(i.idcg_micro, CAST(0 AS BIGINT)) > 0
          THEN CAST(coalesce(di.dcg_micro_ivf, CAST(0 AS BIGINT)) AS DOUBLE)
            / CAST(i.idcg_micro AS DOUBLE) END AS ndcg_ivf,
        coalesce(de.dcg_micro_exact, CAST(0 AS BIGINT))
          = coalesce(di.dcg_micro_ivf, CAST(0 AS BIGINT)) AS dcg_agree
      FROM ql q LEFT JOIN ideal i ON i.q_id = q.q_id
        LEFT JOIN dce de ON de.q_id = q.q_id
        LEFT JOIN dci di ON di.q_id = q.q_id""",

    // Triplet mining (mirrors Similarity.tripletMine): per query the
    // best SAME-label positive and the hardest DIFFERENT-label negative
    // by exact cosine (id tie-breaks), margin = pos_cos - neg_cos.
    "op_triplet_mine" -> s"""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id % 25 = 0),
      sc AS MATERIALIZED (
        SELECT q.q_id, q.q_label, e.label, e.vec_id AS neighbor_id,
          ${cosSql("e.embedding", "q.q_emb")} AS cos
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      pos AS (SELECT q_id, neighbor_id AS pos_id, cos AS pos_cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rn
        FROM sc WHERE label = q_label) p WHERE rn = 1),
      neg AS (SELECT q_id, neighbor_id AS neg_id, cos AS neg_cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, neighbor_id) AS rn
        FROM sc WHERE label <> q_label) n WHERE rn = 1)
      SELECT p.q_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
        p.pos_cos - n.neg_cos AS margin
      FROM pos p JOIN neg n USING (q_id)""",

    // Hard-negative mining (mirrors Similarity.hardNegatives): exact
    // cosine top-5 per query among DIFFERENT-label vectors only.
    "op_hard_negatives" -> """
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id % 25 = 0),
      scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
          list_sum(list_transform(list_zip(e.embedding, q.q_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / sqrt(
              list_sum(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
              * list_sum(list_transform(q.q_emb,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.label <> q.q_label)
      SELECT q_id, rank, neighbor_id, cos FROM (
        SELECT q_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
            AS rank
        FROM scored) r
      WHERE rank <= 5""",

    // Per-dimension z-standardization from exact quantized-integer sums
    // (mirrors Embeddings.standardize): q = round(x·10000) longs, HUGEINT
    // S1/S2, double finishing math identical op-for-op.
    "op_embed_norm" -> """
      WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
          unnest(embedding) AS x
        FROM embeddings),
      q AS (
        SELECT vec_id, dim,
          CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS q
        FROM e),
      st AS (
        SELECT dim, count(*) AS n, sum(CAST(q AS HUGEINT)) AS s1,
          sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS s2
        FROM q GROUP BY dim),
      sd AS (
        SELECT dim, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS sd
        FROM st)
      SELECT q.vec_id, q.dim, q.q,
        CASE WHEN sd.sd > 0
          THEN (CAST(q.q AS DOUBLE) - sd.mean) / sd.sd END AS z
      FROM q JOIN sd USING (dim)
      WHERE q.vec_id % 25 = 0""",

    // Recall@5 of each approximate ANN path against the exact baseline:
    // intersection on (q_id, neighbor_id), denominator = baseline pairs.
    "op_ann_recall" -> s"""
      WITH brute AS (SELECT q_id, neighbor_id FROM ($annBruteSql)),
      lshm AS (SELECT q_id, neighbor_id FROM ($annLshSql)),
      ivfm AS (SELECT q_id, neighbor_id FROM ($annIvfSql)),
      methods AS (
        SELECT 'lsh' AS method, q_id, neighbor_id FROM lshm
        UNION ALL
        SELECT 'ivf' AS method, q_id, neighbor_id FROM ivfm),
      hits AS (
        SELECT m.method, count(*) AS n_hit
        FROM methods m JOIN brute b USING (q_id, neighbor_id)
        GROUP BY m.method),
      tot AS (SELECT count(*) AS n_total FROM brute)
      SELECT h.method, h.n_hit, t.n_total,
        CAST(h.n_hit AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS recall_at_5
      FROM hits h CROSS JOIN tot t""",

    "op_sq_ann" -> sqAnnSql,

    // IVF-routed SQ8 ANN: the ivf assignment/probe CTEs route on RAW
    // vectors (fixed-formula centroids), candidates score on their SQ8
    // reconstructions against the reconstructed query — the sqAnnSql
    // model/encode/decode chain verbatim, restricted to probed cells
    // (shared text: [[ivfSqAnnSql]], composed by op_ivfsq_recall).
    "op_ivfsq_ann" -> ivfSqAnnSql,

    // Recall@5 of the IVF-routed SQ8 tier vs the exact float baseline —
    // the nprobe-vs-quality read for the COMPOSED index (op_ann_recall
    // covers routing alone, op_sq_recall quantization alone; this is
    // what the two cost together at nprobe = 4).
    "op_ivfsq_recall" -> s"""
      WITH brute AS (SELECT q_id, neighbor_id FROM ($annBruteSql)),
      ivfsq AS (SELECT q_id, neighbor_id FROM ($ivfSqAnnSql)),
      hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hit
        FROM ivfsq JOIN brute USING (q_id, neighbor_id)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM brute)
      SELECT h.n_hit, t.n_total,
        CAST(h.n_hit AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS recall_at_5
      FROM hits h CROSS JOIN tot t""",

    // Matryoshka truncation sweep: per rung d', exact cosine top-5 on the
    // FIRST d' dimensions (list slice), recall vs the full-dim baseline.
    "op_mrl_recall" -> {
      def rung(d: Int) = s"""
        SELECT $d AS dims, q_id, neighbor_id FROM (
          SELECT q_id, neighbor_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
              ${cosSql(s"e.embedding[1:$d]", s"q.q_emb[1:$d]")} AS cos
            FROM embeddings e CROSS JOIN (
              SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id % 100 = 0) q
            WHERE e.vec_id <> q.q_id) s0) r
        WHERE rank <= 5"""
      s"""
      WITH brute AS (
        SELECT q_id, neighbor_id FROM (${annBruteSqlFor(100)})),
      perdim AS (${Seq(8, 16, 32, 64).map(rung).mkString(" UNION ALL ")}),
      hits AS (
        SELECT dims, CAST(count(*) AS BIGINT) AS n_hit
        FROM perdim JOIN brute USING (q_id, neighbor_id) GROUP BY dims),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM brute)
      SELECT CAST(h.dims AS INT) AS dims, h.n_hit, t.n_total,
        CAST(h.n_hit AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS recall_at_5
      FROM hits h CROSS JOIN tot t"""
    },

    // Reciprocal-rank fusion (mirrors Similarity.rrfFuse over the
    // op_rrf_fusion composition): full-dim exact top-10 and 16-dim MRL
    // truncated top-10, fused by integer micro-unit RRF (k=60, `//`
    // truncating like Spark's div on positives), top-5 per query.
    "op_rrf_fusion" -> {
      def rankedRung(dims: Option[Int]) = {
        val e = dims.map(d => s"e.embedding[1:$d]").getOrElse("e.embedding")
        val qe = dims.map(d => s"q.q_emb[1:$d]").getOrElse("q.q_emb")
        s"""
        SELECT q_id, neighbor_id, rank FROM (
          SELECT q_id, neighbor_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
              ${cosSql(e, qe)} AS cos
            FROM embeddings e CROSS JOIN (
              SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              WHERE vec_id % 25 = 0) q
            WHERE e.vec_id <> q.q_id) s0) r
        WHERE rank <= 10"""
      }
      s"""
      WITH u AS (${rankedRung(None)} UNION ALL ${rankedRung(Some(16))}),
      g AS (
        SELECT q_id, neighbor_id, CAST(count(*) AS BIGINT) AS n_lists,
          CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
        FROM u GROUP BY 1, 2)
      SELECT q_id, CAST(fused_rank AS INT) AS fused_rank, neighbor_id,
        n_lists, rrf_micro
      FROM (
        SELECT g.*, row_number() OVER (PARTITION BY q_id
          ORDER BY rrf_micro DESC, neighbor_id) AS fused_rank
        FROM g) f
      WHERE fused_rank <= 5"""
    },

    // Recall@5 of the SQ8 integer-domain search vs exact float cosine.
    "op_sq_recall" -> s"""
      WITH brute AS (SELECT q_id, neighbor_id FROM ($annBruteSql)),
      sqm AS (SELECT q_id, neighbor_id FROM ($sqAnnSql)),
      hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hit
        FROM sqm JOIN brute USING (q_id, neighbor_id)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM brute)
      SELECT h.n_hit, t.n_total,
        CAST(h.n_hit AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS recall_at_5
      FROM hits h CROSS JOIN tot t""",

    // Overdue filings for zero-liability (annual) registrations as of
    // 2025-03-01 — the single 2024 annual period per state, due in Jan 2025.
    "op_sort_duedate" -> s"""
      WITH reg AS (SELECT * FROM (VALUES
          ('CA'), ('NY'), ('TX'), ('WA'), ('OH')) AS t(state_code)),
      dd AS (SELECT state_code, due_day
             FROM read_parquet('$Fix/filing_due_days.parquet')),
      dued AS (
        SELECT r.state_code,
          DATE '2024-01-01' AS period_start,
          DATE '2024-12-31' AS period_end,
          make_date(2025, 1, coalesce(d.due_day, 20)) AS due_date
        FROM reg r LEFT JOIN dd d ON d.state_code = r.state_code)
      SELECT state_code, period_start, period_end, due_date,
        datediff('day', DATE '2025-03-01', due_date) AS days_until_due,
        'overdue' AS status
      FROM dued WHERE due_date < DATE '2025-03-01'""",

    // Quick-scan display projection with in-plan truncation: id cut to 12
    // chars, reason to 40 (the cut lands inside the %.4f-rendered paid
    // rate, so the truncation is observable). printf %.4f on a double is
    // correctly rounded from the exact binary value in both engines, and
    // exact decimal ties at the 4th place are impossible for binary doubles.
    "op_display_truncate" -> s"""
      WITH $taxCte,
      hits AS (
        SELECT t.transaction_id, t.state, t.amount, t.tax_paid, t.tax_amount,
          t.combined_rate, t.is_exempt, t.exemption_reason,
          CAST(round(t.tax_paid - t.tax_amount, 2) AS DECIMAL(18,2))
            AS overpayment
        FROM taxcalc t
        WHERE round(t.tax_paid - t.tax_amount, 2) >= CAST(1.00 AS DECIMAL(18,2)))
      SELECT substring(transaction_id, 1, 12) AS id, state,
        CAST(amount AS DOUBLE) AS sale_amount,
        CAST(tax_paid AS DOUBLE) AS tax_paid,
        CAST(tax_amount AS DOUBLE) AS tax_owed,
        CAST(overpayment AS DOUBLE) AS overpayment,
        substring(
          CASE WHEN is_exempt
                 THEN 'Exempt transaction taxed: ' || exemption_reason
               WHEN tax_amount > 0
                 THEN printf('Rate mismatch: paid %.4f%%, correct rate %.4f%%',
                   CAST(tax_paid AS DOUBLE) / CAST(amount AS DOUBLE) * 100,
                   CAST(combined_rate AS DOUBLE) * 100)
               ELSE 'Tax collected in no-tax jurisdiction' END,
          1, 40) AS reason
      FROM hits""",

    // All-states rates listing with the CLI's None/-/Y renderings derived
    // from the exact decimal rates (scale-3 percent cast → string).
    "op_rates_listing" -> s"""
      SELECT state_code, state_name,
        CASE WHEN base_rate > 0
             THEN CAST(CAST(base_rate * 100 AS DECIMAL(9,3)) AS VARCHAR) || '%'
             ELSE 'None' END AS base_rate_text,
        CASE WHEN avg_combined_rate > 0
             THEN CAST(CAST(avg_combined_rate * 100 AS DECIMAL(9,3)) AS VARCHAR) || '%'
             ELSE '-' END AS avg_combined_text,
        CASE WHEN has_local_taxes THEN 'Y' ELSE '' END AS local_flag
      FROM read_parquet('$Fix/state_rates.parquet')""",

    // States exempting each category (rates.py:856-862).
    "op_states_exempting" -> s"""
      SELECT category,
        string_agg(DISTINCT state_code, ',' ORDER BY state_code) AS states,
        count(DISTINCT state_code) AS n_states
      FROM read_parquet('$Fix/state_exemptions.parquet')
      GROUP BY category""",

    // Decoded-pixel statistics of the real PNG round-trip, recomputed from
    // the closed-form pattern (Multimodal.imagePattern): w = 8 + id%9,
    // h = 8 + id%7, pixel(i) = (id*31 + i*7) % 256.
    "op_image_features" -> """
      SELECT doc_id AS media_id,
        CAST(8 + doc_id % 9 AS INT) AS width,
        CAST(8 + doc_id % 7 AS INT) AS height,
        (8 + doc_id % 9) * (8 + doc_id % 7) AS n_px,
        CAST(list_sum(list_transform(
          generate_series(0, CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS INT) - 1),
          i -> (doc_id * 31 + i * 7) % 256)) AS BIGINT) AS px_sum,
        CAST(list_aggregate(list_transform(
          generate_series(0, CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS INT) - 1),
          i -> (doc_id * 31 + i * 7) % 256), 'min') AS INT) AS px_min,
        CAST(list_aggregate(list_transform(
          generate_series(0, CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS INT) - 1),
          i -> (doc_id * 31 + i * 7) % 256), 'max') AS INT) AS px_max
      FROM documents""",

    // Decoded-sample statistics of the real WAV PCM round-trip, recomputed
    // from Multimodal.audioPattern: n = 256 + id%257,
    // s(i) = ((id*131 + i*17) % 65536) - 32768.
    "op_audio_features" -> """
      SELECT doc_id AS media_id,
        CAST(16000 AS INT) AS sample_rate,
        256 + doc_id % 257 AS n_samples,
        CAST(list_sum(list_transform(
          generate_series(0, CAST(256 + doc_id % 257 AS INT) - 1),
          i -> (doc_id * 131 + i * 17) % 65536 - 32768)) AS BIGINT) AS sample_sum,
        CAST(list_aggregate(list_transform(
          generate_series(0, CAST(256 + doc_id % 257 AS INT) - 1),
          i -> (doc_id * 131 + i * 17) % 65536 - 32768), 'min') AS INT) AS sample_min,
        CAST(list_aggregate(list_transform(
          generate_series(0, CAST(256 + doc_id % 257 AS INT) - 1),
          i -> (doc_id * 131 + i * 17) % 65536 - 32768), 'max') AS INT) AS sample_max
      FROM documents""",

    // Nearest-neighbor 8x8 resize of the decoded pattern image: out pixel
    // (ox, oy) samples source (ox*w//8, oy*h//8) — pure integer math.
    "op_image_resize" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        FROM documents),
      r AS (
        SELECT doc_id,
          list_transform(generate_series(0, 63),
            i -> (doc_id * 31
                  + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 7) % 256)
            AS px
        FROM d)
      SELECT doc_id AS media_id,
        CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
        CAST(list_sum(px) AS BIGINT) AS r_sum,
        CAST(list_aggregate(px, 'min') AS INT) AS r_min,
        CAST(list_aggregate(px, 'max') AS INT) AS r_max
      FROM r""",

    // Decoded-frame statistics of the real animated-GIF round-trip,
    // recomputed from Multimodal.videoPattern: 2 + id%4 frames of the
    // image dims, frame f pixel i = (id*31 + f*97 + i*7) % 256, frames
    // sampled at stride 2.
    "op_video_features" -> """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
          2 + doc_id % 4 AS nf
        FROM documents),
      s AS (
        SELECT doc_id, w, h, nf,
          list_filter([0, 2, 4], f -> f < nf) AS sampled
        FROM d)
      SELECT doc_id AS media_id,
        CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        CAST(nf AS INT) AS n_frames,
        CAST(len(sampled) AS INT) AS n_sampled,
        CAST(list_sum(list_transform(sampled, f ->
          list_sum(list_transform(generate_series(0, CAST(w * h AS INT) - 1),
            i -> (doc_id * 31 + f * 97 + i * 7) % 256)))) AS BIGINT) AS px_sum,
        CAST(list_aggregate(list_transform(sampled, f ->
          list_aggregate(list_transform(generate_series(0, CAST(w * h AS INT) - 1),
            i -> (doc_id * 31 + f * 97 + i * 7) % 256), 'min')), 'min')
          AS INT) AS px_min,
        CAST(list_aggregate(list_transform(sampled, f ->
          list_aggregate(list_transform(generate_series(0, CAST(w * h AS INT) - 1),
            i -> (doc_id * 31 + f * 97 + i * 7) % 256), 'max')), 'max')
          AS INT) AS px_max
      FROM s""",

    // ORC round-trip oracle = the source slice (writer/reader fidelity is
    // what the hash checks).
    "op_orc_roundtrip" -> """
      SELECT o_orderkey, o_custkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
        CAST(o_orderdate AS DATE) AS order_date,
        o_orderstatus AS status
      FROM orders WHERE o_orderkey % 50 = 0""",

    // MinHash-LSH candidate quality vs the exact (de-hubbed) jaccard
    // pairs: recall = exact pairs surfaced by the candidates; the proxy
    // precision = candidates that really are near-dups at the 1/3 bar.
    "op_dedup_recall" -> s"""
      WITH mh AS MATERIALIZED (SELECT a, b FROM ($minhashPairsSql)),
      ex AS MATERIALIZED (SELECT a, b FROM ($jaccardPairsSql)),
      bth AS (SELECT count(*) AS n_both FROM mh JOIN ex USING (a, b)),
      nm AS (SELECT count(*) AS n_minhash FROM mh),
      ne AS (SELECT count(*) AS n_exact FROM ex)
      SELECT n_minhash, n_exact, n_both,
        CASE WHEN n_exact > 0
             THEN CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE)
             ELSE 1.0 END AS recall,
        CASE WHEN n_minhash > 0
             THEN CAST(n_both AS DOUBLE) / CAST(n_minhash AS DOUBLE)
             ELSE 1.0 END AS precision_proxy
      FROM nm CROSS JOIN ne CROSS JOIN bth""",

    // The salted join's result is salt-independent — the oracle is the
    // plain equi-join it must equal.
    "op_salted_join" -> """
      SELECT s.s_nationkey, count(*) AS n,
        CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey""",

    // Two-phase salted aggregation equals the plain group-by.
    // Bucketed co-located join: the oracle is the PLAIN join+aggregate —
    // bucketing is a physical layout (the Spark side's exchange-free plan
    // is pinned by PlanSpec); the result must be layout-invariant.
    // l_quantity is whole-valued in this data, so the BIGINT cast is
    // exact in both engines and the sum is order-independent.
    "op_bucketed_join" -> """
      SELECT o.o_orderstatus,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1""",

    // Sample-sketch quantiles: per flag the 256 smallest-hash rows
    // (hash collisions keep min value, mirroring the sketch), sorted
    // sample ranks at 50/90/99 with exact integer index math.
    "op_sample_quantiles" -> """
      WITH b AS (
        SELECT l_returnflag AS flag,
          CAST('0x' || substring(md5(
            CAST(l_orderkey AS VARCHAR) || ':' ||
            CAST(l_linenumber AS VARCHAR) || ':' ||
            CAST(l_partkey AS VARCHAR) || ':' ||
            CAST(l_suppkey AS VARCHAR) || ':' ||
            CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)), 1, 15) AS BIGINT)
            AS h,
          CAST(l_quantity AS BIGINT) AS v
        FROM lineitem),
      d AS (SELECT flag, h, min(v) AS v FROM b GROUP BY flag, h),
      r AS (SELECT flag, v,
              row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
            FROM d),
      smp AS (SELECT flag, list(v ORDER BY v) AS s
              FROM r WHERE rn <= 256 GROUP BY flag),
      tot AS (SELECT l_returnflag AS flag, count(*) AS n_rows
              FROM lineitem GROUP BY 1)
      SELECT t.flag AS l_returnflag, CAST(t.n_rows AS BIGINT) AS n_rows,
        CAST(len(s.s) AS INT) AS n_sample,
        s.s[(len(s.s)-1)*50//100 + 1] AS p50,
        s.s[(len(s.s)-1)*90//100 + 1] AS p90,
        s.s[(len(s.s)-1)*99//100 + 1] AS p99
      FROM tot t JOIN smp s USING (flag)""",

    // Winsorize: the op_sample_quantiles sketch sample per flag gives
    // [p5, p95] bounds; values clip to them and re-aggregate.
    "op_winsorize" -> """
      WITH b AS (
        SELECT l_returnflag AS flag,
          CAST('0x' || substring(md5(
            CAST(l_orderkey AS VARCHAR) || ':' ||
            CAST(l_linenumber AS VARCHAR) || ':' ||
            CAST(l_partkey AS VARCHAR) || ':' ||
            CAST(l_suppkey AS VARCHAR) || ':' ||
            CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)), 1, 15) AS BIGINT)
            AS h,
          CAST(l_quantity AS BIGINT) AS v
        FROM lineitem),
      d AS (SELECT flag, h, min(v) AS v FROM b GROUP BY flag, h),
      r AS (SELECT flag, v,
              row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
            FROM d),
      smp AS (SELECT flag, list(v ORDER BY v) AS s
              FROM r WHERE rn <= 256 GROUP BY flag),
      bounds AS (
        SELECT flag, s[(len(s)-1)*5//100 + 1] AS lo,
                     s[(len(s)-1)*95//100 + 1] AS hi
        FROM smp)
      SELECT l.l_returnflag,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN CAST(l.l_quantity AS BIGINT) < bo.lo
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        CAST(sum(CASE WHEN CAST(l.l_quantity AS BIGINT) > bo.hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
        CAST(sum(greatest(bo.lo,
          least(bo.hi, CAST(l.l_quantity AS BIGINT)))) AS BIGINT)
          AS sum_winsorized,
        CAST(bo.lo AS BIGINT) AS lo, CAST(bo.hi AS BIGINT) AS hi
      FROM lineitem l JOIN bounds bo ON bo.flag = l.l_returnflag
      GROUP BY 1, bo.lo, bo.hi""",

    // FK audit: per edge the NOT-EXISTS orphan count (anti-join
    // semantics) and duplicate-parent-key count.
    "op_fk_audit" -> {
      def edge(name: String, child: String, ck: String, parent: String,
          pk: String): String = s"""
        SELECT '$name' AS edge,
          CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
          CAST((SELECT count(*) FROM $child c
                WHERE NOT EXISTS (SELECT 1 FROM $parent p
                                  WHERE p.$pk = c.$ck)) AS BIGINT)
            AS n_orphan_child,
          CAST((SELECT count(DISTINCT $pk) FROM $parent) AS BIGINT)
            AS n_parent_keys,
          CAST((SELECT count(*) FROM (
                  SELECT $pk FROM $parent GROUP BY 1
                  HAVING count(*) > 1) t) AS BIGINT) AS n_dup_parent_keys"""
      Seq(
        edge("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
        edge("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"))
        .mkString("", " UNION ALL ", "")
    },

    // Bucketed aggregation: layout-invariant oracle (the bucketed-join
    // convention) — per-order rollup re-aggregated by item count.
    "op_bucketed_agg" -> """
      WITH o AS (
        SELECT l_orderkey, count(*) AS n_items,
          sum(CAST(l_quantity AS BIGINT)) AS qty
        FROM lineitem GROUP BY 1)
      SELECT CAST(n_items AS BIGINT) AS n_items,
        CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(qty) AS BIGINT) AS sum_qty
      FROM o GROUP BY 1""",

    // Skew diagnosis: per-key counts, top-10 by (count desc, key), each
    // with its share (one exact-integer division) and the distinct-key
    // total.
    "op_skew_stats" -> """
      WITH c AS (
        SELECT l_suppkey AS key, count(*) AS key_rows
        FROM lineitem GROUP BY 1),
      t AS (
        SELECT CAST(sum(key_rows) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n_keys FROM c),
      top AS (
        SELECT key, key_rows FROM c ORDER BY key_rows DESC, key LIMIT 10)
      SELECT top.key, CAST(top.key_rows AS BIGINT) AS key_rows,
        CAST(top.key_rows AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share,
        t.n_keys
      FROM top CROSS JOIN t""",

    "op_salted_agg" -> """
      SELECT l_returnflag,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_returnflag""",

    // Deterministic 90/5/5 split on the portable doc-id hash.
    "op_split_assign" -> """
      WITH b AS (
        SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 1000 AS bucket,
          length(text) AS n_chars
        FROM documents)
      SELECT CASE WHEN bucket < 900 THEN 'train'
                  WHEN bucket < 950 THEN 'val'
                  ELSE 'test' END AS split,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM b GROUP BY 1""",

    // Per-doc token totals / distinct types / top-token count (empty docs
    // drop on both sides: explode of an empty array vs the length filter).
    "op_repetition" -> """
      WITH tok AS (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        count(*) AS n_types, CAST(max(c) AS BIGINT) AS top_tok_n
      FROM cnt GROUP BY doc_id""",

    // Perceptual average-hash bits from the closed-form pattern (the Spark
    // side decodes REAL PNGs and resamples — any codec/resize infidelity
    // hash-mismatches here).
    "op_image_phash" -> s"""
      WITH $phashBitsSql
      SELECT doc_id AS media_id, phash_hi, phash_lo, n_bits FROM bits""",

    // Image near-dup pairs: 4x16-bit banded candidates over the perceptual
    // hash, exact hamming <= 12.
    "op_phash_pairs" -> s"""
      WITH $phashBitsSql,
      bands AS (
        SELECT doc_id, g.band,
          CASE g.band WHEN 0 THEN phash_lo % 65536
                      WHEN 1 THEN phash_lo // 65536
                      WHEN 2 THEN phash_hi % 65536
                      ELSE phash_hi // 65536 END AS bval
        FROM bits CROSS JOIN generate_series(0, 3) AS g(band)),
      keep AS (SELECT band, bval FROM bands GROUP BY band, bval
               HAVING count(*) <= 64),
      f AS (SELECT b.doc_id, b.band, b.bval
            FROM bands b JOIN keep USING (band, bval)),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM f x JOIN f y
          ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
      SELECT c.a, c.b,
        CAST(bit_count(xor(ha.phash_hi, hb.phash_hi))
           + bit_count(xor(ha.phash_lo, hb.phash_lo)) AS INT) AS hamming
      FROM cand c
      JOIN bits ha ON ha.doc_id = c.a
      JOIN bits hb ON hb.doc_id = c.b
      WHERE bit_count(xor(ha.phash_hi, hb.phash_hi))
          + bit_count(xor(ha.phash_lo, hb.phash_lo)) <= 12""",

    // Paragraph-level exact dedup over the planted-boilerplate corpus:
    // per-doc totals + surviving distinct paragraphs (survivor = lowest
    // owning doc id).
    "op_para_dedup" -> """
      WITH pc AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) ||
            'shared boilerplate license paragraph repeated across documents'
            ELSE '' END ||
          CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) ||
            'subscribe to the newsletter for updates and announcements'
            ELSE '' END AS text
        FROM documents),
      paras AS (
        SELECT doc_id, md5(p) AS ph FROM (
          SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS p
          FROM pc) u
        WHERE length(trim(p)) > 0),
      perdoc AS (
        SELECT doc_id, ph, count(*) AS n_occ FROM paras GROUP BY doc_id, ph),
      owner AS (SELECT ph, min(doc_id) AS keep_doc FROM perdoc GROUP BY ph)
      SELECT d.doc_id, CAST(sum(d.n_occ) AS BIGINT) AS n_paras,
        count(*) AS n_unique,
        count(CASE WHEN o.keep_doc = d.doc_id THEN 1 END) AS n_kept
      FROM perdoc d JOIN owner o USING (ph)
      GROUP BY d.doc_id""",

    // Gopher duplicate-line stats over the planted repeated-line corpus:
    // trimmed non-empty newline splits, dup count = occurrences beyond
    // each line's first, dup_char_frac from exact integer char sums (one
    // int-to-double division — bit-stable cross-engine).
    // Duplicate-ngram fraction over the planted repeated-line corpus:
    // per-doc trigram list (NON-distinct), repeats = total - distinct,
    // one exact-integer division; docs under 3 tokens drop.
    "op_dup_ngram_frac" -> """
      WITH lc AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN
            chr(10) || 'repeated footer line instance' ||
            chr(10) || 'repeated footer line instance'
            ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN
            chr(10) || 'repeated legal notice line' ||
            chr(10) || 'repeated legal notice line' ||
            chr(10) || 'repeated legal notice line'
            ELSE '' END AS text
        FROM documents),
      tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM lc),
      tri AS (
        SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
        FROM tok WHERE len(toks) >= 3)
      SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_ngrams,
        CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct,
        CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
          / CAST(len(tg) AS DOUBLE) AS dup_frac
      FROM tri""",

    // N-gram novelty of the ingest batch vs the historical corpus:
    // distinct probe shingles LEFT-join the reference's distinct shingle
    // set; novelty = unseen/total (one exact-integer division).
    "op_ngram_novelty" -> """
      WITH nb AS (
        SELECT doc_id + 1000000000 AS doc_id,
               text || ' near duplicate copy suffix' AS text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000000, reverse(text)
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 3000000000, reverse(text) || ' ingest copy marker'
        FROM documents WHERE doc_id % 26 = 0),
      tokp AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM nb),
      shdp AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tokp)),
      tokr AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      shdr AS (
        SELECT DISTINCT s FROM (
          SELECT unnest(
            CASE WHEN len(toks) >= 3 THEN
              list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END) AS s
          FROM tokr))
      SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unseen,
        CAST(sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS novelty
      FROM shdp p LEFT JOIN shdr r ON r.s = p.s
      GROUP BY p.doc_id""",

    "op_line_dups" -> """
      WITH lc AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN
            chr(10) || 'repeated footer line instance' ||
            chr(10) || 'repeated footer line instance'
            ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN
            chr(10) || 'repeated legal notice line' ||
            chr(10) || 'repeated legal notice line' ||
            chr(10) || 'repeated legal notice line'
            ELSE '' END AS text
        FROM documents),
      arr AS (
        SELECT doc_id, list_filter(
          list_transform(string_split(text, chr(10)), l -> trim(l)),
          l -> length(l) > 0) AS ls
        FROM lc)
      SELECT doc_id,
        CAST(len(ls) AS BIGINT) AS n_lines,
        CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,
        CAST(list_aggregate(list_transform(ls, l -> length(l)), 'sum')
          AS BIGINT) AS chars_total,
        CAST(list_aggregate(list_transform(ls, l -> length(l)), 'sum')
            - list_aggregate(list_transform(list_distinct(ls),
                l -> length(l)), 'sum') AS DOUBLE)
          / CAST(list_aggregate(list_transform(ls, l -> length(l)), 'sum')
            AS DOUBLE) AS dup_char_frac
      FROM arr WHERE len(ls) > 0""",

    // C4-style boilerplate strip over the planted corpus: drop paragraphs
    // appearing in >= 10 distinct docs, clean_hash = md5 of the kept
    // paragraphs re-joined in original order (empty docs hash '').
    "op_boilerplate" -> """
      WITH pc AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) ||
            'shared boilerplate license paragraph repeated across documents'
            ELSE '' END ||
          CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) ||
            'subscribe to the newsletter for updates and announcements'
            ELSE '' END AS text
        FROM documents),
      paras AS (
        SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS para
        FROM (SELECT doc_id,
          string_split(text, chr(10) || chr(10)) AS l FROM pc) s),
      pf AS (
        SELECT doc_id, pos, para, md5(para) AS ph FROM paras
        WHERE length(trim(para)) > 0),
      dfreq AS (
        SELECT ph, count(DISTINCT doc_id) AS df FROM pf GROUP BY ph)
      SELECT p.doc_id, count(*) AS n_paras,
        count(CASE WHEN f.df >= 10 THEN 1 END) AS n_dropped,
        md5(coalesce(string_agg(CASE WHEN f.df < 10 THEN p.para END,
          chr(10) || chr(10) ORDER BY p.pos), '')) AS clean_hash
      FROM pf p JOIN dfreq f USING (ph)
      GROUP BY p.doc_id""",

    // Deterministic global training shuffle: shard = md5-60 hash mod 16,
    // shard_pos = row_number in (hash, doc_id) order within the shard.
    "op_shard_shuffle" -> """
      WITH h AS (
        SELECT doc_id,
          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) AS hv
        FROM documents)
      SELECT doc_id, CAST(hv % 16 AS INT) AS shard,
        row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id)
          AS shard_pos
      FROM h""",

    // Per-doc Rabin-Karp rolling-hash fingerprint summary (w = 8 token
    // windows); docs shorter than 8 tokens drop.
    // CDC chunking over the near-dup corpus: boundary after every window
    // with wh % 16 = 0; chunk id = boundaries among strictly-preceding
    // windows (O(n²) prefix sums — oracle-side only); chunk hash = the
    // same Horner fold as the Spark side, list_reduce's first-element
    // init being identical to Spark's fold-from-0 first step.
    "op_cdc_chunks" -> s"""
      WITH $corpusCte,
      ${rollingWindowsCte("corpus", 8)},
      r1 AS (
        SELECT doc_id, wh, unnest(generate_series(1, len(wh))) AS i
        FROM whs WHERE len(wh) > 0),
      r2 AS (
        SELECT doc_id, i, wh[i] AS whv,
          CASE WHEN i = 1 THEN 0
               ELSE list_sum(list_transform(list_slice(wh, 1, i - 1),
                 x -> CASE WHEN x % 16 = 0 THEN 1 ELSE 0 END)) END AS cid
        FROM r1),
      ck AS (
        SELECT doc_id, cid, count(*) AS n_windows,
          list_reduce(list(whv ORDER BY i),
            (a, x) -> (a * 31 + x) % 2147483647) AS chunk_hash
        FROM r2 GROUP BY doc_id, cid)
      SELECT CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
        CAST(count(*) - count(DISTINCT chunk_hash) AS BIGINT)
          AS n_dup_chunks,
        CAST(sum(n_windows) AS DOUBLE) / CAST(count(*) AS DOUBLE)
          AS mean_chunk_windows
      FROM ck""",

    "op_rolling_fp" -> s"""
      WITH ${rollingWindowsCte("documents", 8)}
      SELECT doc_id, len(wh) AS n_windows,
        len(list_distinct(wh)) AS n_distinct,
        list_aggregate(wh, 'min') AS min_wh
      FROM whs WHERE len(wh) > 0""",

    // Winnowing (g = 4) over the 8-token rolling windows: rightmost
    // minimum per 4-run; n_fp counts distinct selected positions (the
    // 1-based SQL positions are a uniform shift of Spark's 0-based ones,
    // so the distinct count is identical).
    "op_winnow" -> s"""
      WITH ${rollingWindowsCte("documents", 8)},
      whg AS (SELECT doc_id, wh FROM whs WHERE len(wh) >= 4),
      sel AS (
        SELECT doc_id,
          list_transform(generate_series(1, len(wh) - 3), s ->
            CASE WHEN wh[s+3] = least(wh[s], wh[s+1], wh[s+2], wh[s+3]) THEN s + 3
                 WHEN wh[s+2] = least(wh[s], wh[s+1], wh[s+2], wh[s+3]) THEN s + 2
                 WHEN wh[s+1] = least(wh[s], wh[s+1], wh[s+2], wh[s+3]) THEN s + 1
                 ELSE s END) AS sels,
          list_transform(generate_series(1, len(wh) - 3), s ->
            least(wh[s], wh[s+1], wh[s+2], wh[s+3])) AS ms
        FROM whg)
      SELECT doc_id, CAST(len(ms) AS INT) AS n_select,
        CAST(len(list_distinct(sels)) AS INT) AS n_fp,
        CAST(list_aggregate(ms, 'min') AS BIGINT) AS min_fp
      FROM sel""",

    // Cross-document duplicated 5-token passages over the planted
    // boilerplate corpus: window hashes in >= 2 docs, min-id owner.
    // Exact-substring duplicate runs: shared 5-token window hashes at
    // constant pair offset, maximal consecutive runs via gaps-and-islands
    // (pa - row_number per (a, b, diff) diagonal), hub cap 100, run
    // length = windows + w - 1, kept at >= 20 tokens.
    "op_substr_runs" -> s"""
      WITH $corpusCte,
      ${rollingWindowsCte("corpus", 5)},
      wpos AS MATERIALIZED (
        SELECT doc_id, t.i - 1 AS pos, wh[t.i] AS h
        FROM whs, unnest(generate_series(1, len(wh))) AS t(i)),
      keep AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM wpos)
        GROUP BY h HAVING count(*) <= 100),
      f AS MATERIALIZED (
        SELECT w.doc_id, w.pos, w.h FROM wpos w JOIN keep USING (h)),
      prs AS MATERIALIZED (
        SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb,
          x.pos - y.pos AS diff
        FROM f x JOIN f y ON x.h = y.h AND x.doc_id < y.doc_id),
      isl AS (
        SELECT a, b, diff, pa, pb,
          pa - row_number() OVER (PARTITION BY a, b, diff ORDER BY pa) AS grp
        FROM prs)
      SELECT a, b, CAST(min(pa) AS INT) AS start_a,
        CAST(min(pb) AS INT) AS start_b,
        CAST(count(*) + 4 AS BIGINT) AS run_tokens
      FROM isl GROUP BY a, b, diff, grp
      HAVING count(*) + 4 >= 20""",

    // Pre-flight sizing read for the run miner: per window hash, kept
    // (df <= 100) occurrence totals T and per-doc squares S give the
    // pair join's exact input mass (T*T - S) / 2 — integers throughout.
    "op_substr_stats" -> s"""
      WITH $corpusCte,
      ${rollingWindowsCte("corpus", 5)},
      wpos AS (
        SELECT doc_id, wh[t.i] AS h
        FROM whs, unnest(generate_series(1, len(wh))) AS t(i)),
      pd AS (SELECT h, doc_id, CAST(count(*) AS BIGINT) AS c
             FROM wpos GROUP BY h, doc_id),
      pw AS (SELECT h, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS t,
               CAST(sum(c * c) AS BIGINT) AS s
             FROM pd GROUP BY h)
      SELECT CAST(count(*) AS BIGINT) AS n_windows,
        CAST(sum(CASE WHEN df > 100 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hub_windows,
        coalesce(max(CASE WHEN df <= 100 THEN df END), CAST(0 AS BIGINT))
          AS max_df_kept,
        coalesce(CAST(sum(CASE WHEN df <= 100 THEN (t * t - s) // 2
          ELSE 0 END) AS BIGINT), CAST(0 AS BIGINT)) AS pair_rows,
        coalesce(CAST(sum(CASE WHEN df > 100 THEN (t * t - s) // 2
          ELSE 0 END) AS BIGINT), CAST(0 AS BIGINT)) AS dropped_pair_rows
      FROM pw""",

    // op_substr_runs' actuator: the same run-mining chain, then every
    // covered b-side token position deletes (DISTINCT across runs) and
    // docs rebuild from kept tokens ordered by position. The oracle takes
    // the relational removal-positions form — slower than the engine's
    // in-row interval filter, but cell-exact and trivially mirrorable.
    "op_substr_scrub" -> s"""
      WITH $corpusCte,
      ${rollingWindowsCte("corpus", 5)},
      wpos AS MATERIALIZED (
        SELECT doc_id, t.i - 1 AS pos, wh[t.i] AS h
        FROM whs, unnest(generate_series(1, len(wh))) AS t(i)),
      keep AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM wpos)
        GROUP BY h HAVING count(*) <= 100),
      f AS MATERIALIZED (
        SELECT w.doc_id, w.pos, w.h FROM wpos w JOIN keep USING (h)),
      prs AS MATERIALIZED (
        SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb,
          x.pos - y.pos AS diff
        FROM f x JOIN f y ON x.h = y.h AND x.doc_id < y.doc_id),
      isl AS (
        SELECT a, b, diff, pa, pb,
          pa - row_number() OVER (PARTITION BY a, b, diff ORDER BY pa) AS grp
        FROM prs),
      runs AS MATERIALIZED (
        SELECT b, min(pb) AS start_b, count(*) + 4 AS run_tokens
        FROM isl GROUP BY a, b, diff, grp
        HAVING count(*) + 4 >= 20),
      rm AS (
        SELECT DISTINCT b AS doc_id, CAST(t.p AS BIGINT) AS pos
        FROM runs,
          unnest(generate_series(start_b, start_b + run_tokens - 1))
            AS t(p)),
      tokp AS MATERIALIZED (
        SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, toks[t.i] AS tok
        FROM (
          SELECT doc_id,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM corpus WHERE length(trim(text)) > 0) s,
        unnest(generate_series(1, len(toks))) AS t(i)),
      kept AS (
        SELECT k.doc_id, k.pos, k.tok
        FROM tokp k LEFT JOIN rm r
          ON k.doc_id = r.doc_id AND k.pos = r.pos
        WHERE r.doc_id IS NULL),
      reb AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
          string_agg(tok, ' ' ORDER BY pos) AS text_scrubbed
        FROM kept GROUP BY doc_id),
      base AS (
        SELECT doc_id,
          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
               END AS BIGINT) AS nb
        FROM corpus)
      SELECT b.doc_id, b.nb AS n_tokens_before,
        CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
        CAST(b.nb - coalesce(r.n_tokens_kept, 0) AS BIGINT)
          AS n_tokens_removed,
        coalesce(r.text_scrubbed, '') AS text_scrubbed
      FROM base b LEFT JOIN reb r USING (doc_id)""",

    "op_passage_dups" -> s"""
      WITH pc AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) ||
            'shared boilerplate license paragraph repeated across documents'
            ELSE '' END ||
          CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) ||
            'subscribe to the newsletter for updates and announcements'
            ELSE '' END AS text
        FROM documents),
      ${rollingWindowsCte("pc", 5)},
      ex AS (SELECT doc_id, unnest(list_distinct(wh)) AS wh FROM whs)
      SELECT wh, count(*) AS n_docs, min(doc_id) AS keep_doc
      FROM ex GROUP BY wh HAVING count(*) >= 2""",

    // Sum of corpus-wide bigram counts per document (bigram LM quality
    // rung); docs with < 2 tokens drop (no bigrams).
    "op_bigram_score" -> """
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        FROM documents),
      bg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM tok WHERE len(toks) >= 2),
      cnt AS (SELECT bg, count(*) AS corpus_n FROM bg GROUP BY bg)
      SELECT t.doc_id, count(*) AS n_bigrams,
        CAST(sum(c.corpus_n) AS BIGINT) AS freq_sum
      FROM bg t JOIN cnt c USING (bg)
      GROUP BY t.doc_id""",

    // Sum of corpus-wide token counts per document (unigram quality core).
    "op_unigram_score" -> """
      WITH tok AS (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      cnt AS (SELECT tok, count(*) AS corpus_n FROM tok GROUP BY tok)
      SELECT t.doc_id, count(*) AS n_tokens,
        CAST(sum(c.corpus_n) AS BIGINT) AS freq_sum
      FROM tok t JOIN cnt c USING (tok)
      GROUP BY t.doc_id""",

    // Unigram-LM mean log-probability (add-1 smoothing) — the log side of
    // the KenLM-style filter: per-token ln((c+1)/(N+V)) via the portable
    // series ln (lnChain mirrors Sampling.portableLn op-for-op), quantized
    // to micro-nats (floor of an exact IEEE product of bit-identical
    // doubles), summed as exact integers; avg = one int/int division.
    "op_lm_logprob" -> s"""
      WITH tok AS MATERIALIZED (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      counts AS MATERIALIZED (
        SELECT tok, count(*) AS c FROM tok GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS BIGINT) + CAST(count(*) AS BIGINT) AS m
              FROM counts),
      ${lnChain("ld", "tot", Seq.empty, "lnden")},
      csrc AS (SELECT tok, c + 1 AS m FROM counts),
      ${lnChain("lc", "csrc", Seq("tok"), "lnc")},
      scored AS (
        SELECT t.doc_id,
          CAST(floor((l.lnc - d.lnden) * CAST(1000000 AS DOUBLE)) AS BIGINT)
            AS lp
        FROM tok t JOIN lc7 l USING (tok) CROSS JOIN ld7 d)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
        CAST(CAST(sum(lp) AS BIGINT) AS DOUBLE)
          / CAST(count(*) * 1000000 AS DOUBLE) AS avg_logprob
      FROM scored GROUP BY doc_id""",

    // Bigram-LM rung (mirrors TextOps.bigramLogProb): the lm_logprob
    // chain over word PAIRS — same portable-series ln, micro-nat floor,
    // exact integer per-doc sum; docs with < 2 tokens drop (no bigrams).
    "op_bigram_logprob" -> s"""
      WITH tokarr AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM documents),
      bg AS MATERIALIZED (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM tokarr WHERE len(toks) >= 2),
      counts AS MATERIALIZED (
        SELECT bg, count(*) AS c FROM bg GROUP BY bg),
      tot AS (SELECT CAST(sum(c) AS BIGINT) + CAST(count(*) AS BIGINT) AS m
              FROM counts),
      ${lnChain("bld", "tot", Seq.empty, "lnden")},
      csrc AS (SELECT bg, c + 1 AS m FROM counts),
      ${lnChain("blc", "csrc", Seq("bg"), "lnc")},
      scored AS (
        SELECT t.doc_id,
          CAST(floor((l.lnc - d.lnden) * CAST(1000000 AS DOUBLE)) AS BIGINT)
            AS lp
        FROM bg t JOIN blc7 l USING (bg) CROSS JOIN bld7 d)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
        CAST(CAST(sum(lp) AS BIGINT) AS DOUBLE)
          / CAST(count(*) * 1000000 AS DOUBLE) AS avg_logprob
      FROM scored GROUP BY doc_id""",

    // CCNet head/middle/tail terciles per language: the lm_logprob chain
    // (portable series ln, micro-nat floor) re-run, each doc's mean
    // log-prob floor-divided to milli-nats (subtract-pmod form — exact
    // division, so truncating // agrees with Spark's div), then the
    // tie-together tercile rule over the value-range-bounded histogram.
    "op_ccnet_buckets" -> s"""
      WITH tok AS MATERIALIZED (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      counts AS MATERIALIZED (
        SELECT tok, count(*) AS c FROM tok GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS BIGINT) + CAST(count(*) AS BIGINT) AS m
              FROM counts),
      ${lnChain("cbd", "tot", Seq.empty, "lnden")},
      csrc AS (SELECT tok, c + 1 AS m FROM counts),
      ${lnChain("cbc", "csrc", Seq("tok"), "lnc")},
      scored AS MATERIALIZED (
        SELECT t.doc_id,
          CAST(floor((l.lnc - d.lnden) * CAST(1000000 AS DOUBLE)) AS BIGINT)
            AS lp
        FROM tok t JOIN cbc7 l USING (tok) CROSS JOIN cbd7 d),
      perdoc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(sum(lp) AS BIGINT) AS slp
        FROM scored GROUP BY doc_id),
      qd AS (
        SELECT d.lang, p.n_toks,
          CAST((p.slp - (((p.slp % (p.n_toks * 1000)) + (p.n_toks * 1000))
              % (p.n_toks * 1000))) // (p.n_toks * 1000) AS BIGINT) AS q
        FROM perdoc p JOIN documents d USING (doc_id)),
      hist AS (
        SELECT lang, q, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(n_toks) AS BIGINT) AS toks
        FROM qd GROUP BY lang, q),
      cum AS (
        SELECT lang, q, n, toks,
          CAST(sum(n) OVER (PARTITION BY lang ORDER BY q DESC) AS BIGINT)
            AS c,
          CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS t
        FROM hist)
      SELECT lang,
        CASE WHEN (c - n) * 3 < t THEN 'head'
             WHEN (c - n) * 3 < t * 2 THEN 'middle'
             ELSE 'tail' END AS bucket,
        CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(sum(toks) AS BIGINT) AS n_tokens,
        min(q) AS min_millinats, max(q) AS max_millinats
      FROM cum GROUP BY 1, 2""",

    // Per-doc unigram token entropy: H = (n·lnμ(n) − Σ c·lnμ(c)) / (n·10⁶)
    // with lnμ = floor(portable-series-ln × 10⁶) — both chains mirror
    // Sampling.portableLn op-for-op, the numerator is an exact integer,
    // the output is one int/int double division.
    "op_token_entropy" -> s"""
      WITH tok AS MATERIALIZED (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      csrc AS MATERIALIZED (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS c,
          CAST(count(*) AS BIGINT) AS m
        FROM tok GROUP BY doc_id, tok),
      ${lnChain("te", "csrc", Seq("doc_id", "c"), "lnc")},
      perdoc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          CAST(count(*) AS BIGINT) AS n_distinct,
          CAST(sum(c * CAST(floor(lnc * CAST(1000000 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS sclnc
        FROM te7 GROUP BY doc_id),
      nsrc AS (SELECT doc_id, n_tokens, n_distinct, sclnc, n_tokens AS m
               FROM perdoc),
      ${lnChain("tn", "nsrc",
        Seq("doc_id", "n_tokens", "n_distinct", "sclnc"), "lnn")}
      SELECT doc_id, n_tokens, n_distinct,
        CAST(n_tokens * CAST(floor(lnn * CAST(1000000 AS DOUBLE)) AS BIGINT)
            - sclnc AS DOUBLE)
          / CAST(n_tokens * 1000000 AS DOUBLE) AS entropy
      FROM tn7""",

    // Per-language Zipf slope: milli-nat integer OLS of ln(count) on
    // ln(rank) over the top-1000 tokens (rank by count desc, md5-60 hash
    // asc — the engines' shared total order); slope_num/slope_den exact
    // integers, zipf_slope = −num/den as one double division.
    "op_zipf_slope" -> s"""
      WITH tok AS MATERIALIZED (
        SELECT lang,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      cnt AS MATERIALIZED (
        SELECT lang, CAST(count(*) AS BIGINT) AS c,
          ${md5Long("tok")} AS h
        FROM tok GROUP BY lang, tok),
      top AS MATERIALIZED (
        SELECT lang, c FROM (
          SELECT lang, c,
            row_number() OVER (PARTITION BY lang ORDER BY c DESC, h) AS r
          FROM cnt) q WHERE r <= 1000),
      -- within a tie group y = lnₘ(c) is constant, so the OLS sums are
      -- invariant to which tied row takes which rank: a bare count-desc
      -- rank here equals the engine's hash-tiebroken one after aggregation
      -- (the top-K BOUNDARY pick, where ties do matter, used h above)
      xsrc AS (
        SELECT lang, c,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY c DESC)
            AS BIGINT) AS m
        FROM top),
      ${lnChain("zx", "xsrc", Seq("lang", "c"), "lnr")},
      ysrc AS (SELECT lang,
          CAST(floor(lnr * CAST(1000 AS DOUBLE)) AS BIGINT) AS x,
          c AS m FROM zx7),
      ${lnChain("zy", "ysrc", Seq("lang", "x"), "lnc")},
      pts AS (SELECT lang, x,
          CAST(floor(lnc * CAST(1000 AS DOUBLE)) AS BIGINT) AS y FROM zy7),
      agg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_points,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY lang)
      SELECT lang, n_points,
        CAST(n_points * sxy - sx * sy AS BIGINT) AS slope_num,
        CAST(n_points * sxx - sx * sx AS BIGINT) AS slope_den,
        CASE WHEN n_points * sxx - sx * sx = 0 THEN NULL
             ELSE -(CAST(n_points * sxy - sx * sy AS DOUBLE)
                    / CAST(n_points * sxx - sx * sx AS DOUBLE))
        END AS zipf_slope
      FROM agg""",

    // Portable HyperLogLog per-language vocabulary estimate (mirrors
    // graft.ops.Hll: md5-60 hash, 4096 registers, rank = 49 − bitlength,
    // Σ2^{−M} exact-scaled by 2⁴⁹, α-corrected raw / linear-counting
    // branch via the portable series ln), plus the exact distinct.
    "op_hll_distinct" -> s"""
      WITH tok AS MATERIALIZED (
        SELECT lang,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      rnk AS (
        SELECT lang, h % 4096 AS idx,
          CASE WHEN h // 4096 = 0 THEN 49
               ELSE 49 - length(bin(h // 4096)) END AS rank
        FROM (SELECT lang, ${md5Long("tok")} AS h FROM tok) q0),
      regs AS (SELECT lang, idx, max(rank) AS mx FROM rnk GROUP BY 1, 2),
      agg AS (
        SELECT lang,
          CAST(sum((${(0 to 49).map(1L << _).mkString("[", ",", "]")}
            )[50 - mx]) AS BIGINT) AS s_seen,
          CAST(count(*) AS BIGINT) AS v_seen
        FROM regs GROUP BY lang),
      base AS (
        SELECT lang, 4096 - v_seen AS v_zero,
          s_seen + (4096 - v_seen) * 562949953421312 AS s
        FROM agg),
      vsrc AS (SELECT lang, v_zero AS m FROM base WHERE v_zero >= 1),
      ${lnChain("hv", "vsrc", Seq("lang"), "lnv")},
      est AS (
        SELECT b.lang, b.v_zero,
          CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE)
              + CAST('1.079' AS DOUBLE) / CAST(4096 AS DOUBLE))
            * CAST(16777216 AS DOUBLE) * CAST(562949953421312 AS DOUBLE)
            / CAST(b.s AS DOUBLE) AS raw,
          l.lnv
        FROM base b LEFT JOIN hv7 l USING (lang)),
      ex AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact
             FROM tok GROUP BY lang)
      SELECT e.lang, x.n_exact, CAST(e.v_zero AS BIGINT) AS v_zero,
        CASE WHEN e.raw <= CAST(10240 AS DOUBLE) AND e.v_zero > 0
             THEN CAST(4096 AS DOUBLE) * (CAST(12 AS DOUBLE)
                  * CAST('0.6931471805599453' AS DOUBLE) - e.lnv)
             ELSE e.raw END AS hll_est
      FROM est e JOIN ex x USING (lang)""",

    // Streaming Bloom filter: the replayed stream's bit set equals the
    // batch build (bit-set union is order-insensitive), so the oracle IS
    // the batch calibration — members = event user ids, probes = event
    // ids anti-joined against the members.
    "op_stream_bloom" -> s"""
      WITH mem AS MATERIALIZED (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events),
      js AS (SELECT unnest(generate_series(0, 2)) AS j),
      bits AS MATERIALIZED (
        SELECT DISTINCT
          ${md5Long("k || ':bf' || CAST(j AS VARCHAR)")} % 1024 AS b
        FROM mem CROSS JOIN js),
      pr AS MATERIALIZED (
        SELECT p FROM (
          SELECT DISTINCT CAST(event_id AS VARCHAR) AS p FROM events) c
        WHERE NOT EXISTS (SELECT 1 FROM mem WHERE mem.k = c.p)),
      pb AS MATERIALIZED (
        SELECT DISTINCT p,
          ${md5Long("p || ':bf' || CAST(j AS VARCHAR)")} % 1024 AS b
        FROM pr CROSS JOIN js),
      nd AS (SELECT p, count(*) AS needed FROM pb GROUP BY p),
      hv AS (SELECT p, count(*) AS covered FROM pb JOIN bits USING (b)
             GROUP BY p),
      fp AS (SELECT CAST(count(*) AS BIGINT) AS n_false_pos
             FROM nd JOIN hv USING (p) WHERE needed = covered),
      agg AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
        (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
        (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_probes)
      SELECT CAST(1024 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
        n_members, bits_set,
        CAST(bits_set AS DOUBLE) / CAST(1024 AS DOUBLE) AS fill_frac,
        n_probes, n_false_pos,
        CASE WHEN n_probes = 0 THEN NULL
             ELSE CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE)
        END AS fpr
      FROM agg CROSS JOIN fp""",

    // Streaming CMS heavy hitters: the replayed stream's cell counts
    // equal the batch counters (sum-merge is order-insensitive), so the
    // oracle IS the batch sketch over events' user ids.
    "op_stream_cms" -> s"""
      WITH cnt AS MATERIALIZED (
        SELECT CAST(user_id AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      counters AS (
        SELECT j, ${md5Long("v || ':cms' || CAST(j AS VARCHAR)")} % 64 AS b,
          CAST(sum(n) AS BIGINT) AS c
        FROM cnt CROSS JOIN js GROUP BY 1, 2),
      top AS (
        SELECT v, n FROM (
          SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS r
          FROM cnt) q WHERE r <= 50),
      topb AS (
        SELECT v, n, j,
          ${md5Long("v || ':cms' || CAST(j AS VARCHAR)")} % 64 AS b
        FROM top CROSS JOIN js)
      SELECT t.v AS user_id, t.n AS n_exact,
        CAST(min(c.c) AS BIGINT) AS cms_est,
        CAST(min(c.c) - t.n AS BIGINT) AS overcount
      FROM topb t JOIN counters c USING (j, b)
      GROUP BY t.v, t.n""",

    // Streaming HLL distinct users per event type: the replayed stream's
    // register maxes equal the batch pipeline's (max-merge is
    // order-insensitive), so the oracle IS the batch sketch over events.
    "op_stream_hll" -> s"""
      WITH rnk AS (
        SELECT event_type, h % 4096 AS idx,
          CASE WHEN h // 4096 = 0 THEN 49
               ELSE 49 - length(bin(h // 4096)) END AS rank
        FROM (SELECT event_type,
            ${md5Long("CAST(user_id AS VARCHAR)")} AS h FROM events) q0),
      regs AS (SELECT event_type, idx, max(rank) AS mx
               FROM rnk GROUP BY 1, 2),
      agg AS (
        SELECT event_type,
          CAST(sum((${(0 to 49).map(1L << _).mkString("[", ",", "]")}
            )[50 - mx]) AS BIGINT) AS s_seen,
          CAST(count(*) AS BIGINT) AS v_seen
        FROM regs GROUP BY event_type),
      base AS (
        SELECT event_type, 4096 - v_seen AS v_zero,
          s_seen + (4096 - v_seen) * 562949953421312 AS s
        FROM agg),
      vsrc AS (SELECT event_type, v_zero AS m FROM base WHERE v_zero >= 1),
      ${lnChain("sv", "vsrc", Seq("event_type"), "lnv")},
      est AS (
        SELECT b.event_type, b.v_zero,
          CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE)
              + CAST('1.079' AS DOUBLE) / CAST(4096 AS DOUBLE))
            * CAST(16777216 AS DOUBLE) * CAST(562949953421312 AS DOUBLE)
            / CAST(b.s AS DOUBLE) AS raw,
          l.lnv
        FROM base b LEFT JOIN sv7 l USING (event_type)),
      ex AS (SELECT event_type,
          CAST(count(DISTINCT CAST(user_id AS VARCHAR)) AS BIGINT)
            AS n_exact
        FROM events GROUP BY event_type)
      SELECT e.event_type, x.n_exact, CAST(e.v_zero AS BIGINT) AS v_zero,
        CASE WHEN e.raw <= CAST(10240 AS DOUBLE) AND e.v_zero > 0
             THEN CAST(4096 AS DOUBLE) * (CAST(12 AS DOUBLE)
                  * CAST('0.6931471805599453' AS DOUBLE) - e.lnv)
             ELSE e.raw END AS hll_est
      FROM est e JOIN ex x USING (event_type)""",

    // One-row corpus datasheet over the planted-dup corpus: totals are
    // exact integers; the mean is one division of exact integers.
    "op_dataset_card" -> s"""
      WITH $corpusCte,
      tok AS (
        SELECT doc_id, text, lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
          END AS n_toks
        FROM corpus)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        CAST(sum(length(text)) AS BIGINT) AS n_chars,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
        CAST(CAST(sum(n_toks) AS BIGINT) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS mean_doc_tokens
      FROM tok""",

    // Per-language token-length histogram: bucket = bit length of the
    // token count (bin() is unpadded in both engines), empty docs -> 0.
    "op_length_hist" -> """
      WITH tok AS (
        SELECT lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END AS n
        FROM documents)
      SELECT lang,
        CAST(CASE WHEN n = 0 THEN 0
             ELSE length(bin(CAST(n AS BIGINT))) END AS INT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n) AS BIGINT) AS n_tokens,
        CAST(min(n) AS BIGINT) AS min_tokens,
        CAST(max(n) AS BIGINT) AS max_tokens
      FROM tok GROUP BY 1, 2""",

    // Per-language P25 token-count floor from the deterministic sample
    // sketch (the op_sample_quantiles min-k-by-hash mirror over documents),
    // then the gate counts.
    "op_quality_floor" -> """
      WITH tok AS (
        SELECT doc_id, lang,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END AS n
        FROM documents),
      b AS (
        SELECT lang,
          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) AS h,
          CAST(n AS BIGINT) AS v
        FROM tok),
      d AS (SELECT lang, h, min(v) AS v FROM b GROUP BY lang, h),
      r AS (SELECT lang, v,
              row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
            FROM d),
      smp AS (SELECT lang, list(v ORDER BY v) AS s
              FROM r WHERE rn <= 256 GROUP BY lang),
      floors AS (
        SELECT lang, s[(len(s)-1)*25//100 + 1] AS floor_tokens FROM smp)
      SELECT t.lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN t.n >= fl.floor_tokens THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        CAST(sum(t.n) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN t.n >= fl.floor_tokens THEN t.n ELSE 0 END)
          AS BIGINT) AS kept_tokens,
        CAST(fl.floor_tokens AS BIGINT) AS floor_tokens
      FROM tok t JOIN floors fl USING (lang)
      GROUP BY t.lang, fl.floor_tokens""",

    // Per-source concat-then-chunk packing at budget 512: start offset =
    // per-shard cumsum of token counts, chunk ids by integer division.
    "op_seq_pack" -> """
      WITH tok AS (
        SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END AS n_tokens
        FROM documents),
      off AS (
        SELECT doc_id, source, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (
            PARTITION BY source ORDER BY doc_id, n_tokens
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset
        FROM tok)
      SELECT doc_id, source, n_tokens, start_offset,
        start_offset // 512 AS chunk_start,
        CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
             ELSE start_offset // 512 END AS chunk_end,
        (start_offset // 512) <>
          (CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
                ELSE start_offset // 512 END) AS spans_chunks
      FROM off""",

    // PII scrubbing over the planted-PII corpus: per-class counts on the
    // original text + md5 of the chained sentinel replacement (email →
    // phone → IPv4, the same order as TextOps.PiiPatterns — the patterns
    // below are interpolated FROM that Seq so they cannot drift). RE2
    // ('g' = replace all) and Java regex agree on these alternation-free
    // patterns.
    "op_pii_scrub" -> {
      val ps = graft.text.TextOps.PiiPatterns
      val scrub = ps.foldLeft("t") { case (acc, (_, pat, repl)) =>
        s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
      val counts = ps.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(t, '$pat')) AS INT) AS n_$name"
      }.mkString(",\n        ")
      s"""
      WITH pii AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN ' call 555-867-5309' ELSE '' END ||
          CASE WHEN doc_id % 9 = 0
               THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.42'
               ELSE '' END AS t
        FROM documents)
      SELECT doc_id,
        $counts,
        md5($scrub) AS scrubbed_hash
      FROM pii"""
    },

    // token-window chunking with overlap: 128-token chunks at stride 96
    // (chunk starts = generate_series over the token count), content
    // pinned by md5 over the chunk's joined tokens — mirrors
    // TextOps.chunk's slice+concat_ws exactly (1-based inclusive list
    // slicing clamps at the tail in both engines)
    "op_chunk" -> """
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(lower(trim(text)), '\s+')
          END AS toks
        FROM documents),
      ch AS (
        SELECT doc_id, len(toks) AS n_tokens, toks,
          unnest(generate_series(0, len(toks) - 1, 96)) AS tok_start
        FROM tok WHERE len(toks) > 0)
      SELECT doc_id,
        CAST(tok_start // 96 AS INT) AS chunk_idx,
        CAST(tok_start AS INT) AS tok_start,
        least(128, n_tokens - tok_start) AS n_chunk_tokens,
        md5(array_to_string(toks[tok_start + 1 : tok_start + 128], ' '))
          AS chunk_hash
      FROM ch""",

    // int8 max-abs quantization parity: scale, quantized-value sum, and
    // max reconstruction error — every step an IEEE double op, computed
    // identically element-by-element in both engines.
    "op_embed_quantize" -> """
      WITH m AS (
        SELECT vec_id, embedding,
          list_aggregate(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE))), 'max') AS max_abs
        FROM embeddings)
      SELECT vec_id, max_abs, 127.0 / max_abs AS scale,
        CAST(list_sum(list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / max_abs)) AS BIGINT)))
          AS BIGINT) AS q_sum,
        list_aggregate(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)
                   - round(CAST(x AS DOUBLE) * (127.0 / max_abs))
                     / (127.0 / max_abs))), 'max') AS max_err
      FROM m WHERE max_abs > 0""",

    // Signed random projection over the int8-quantized vectors: signs
    // from the same (i, j) hash as Embeddings.randProj, integer-only
    // sums — bit-exact cross-engine by construction.
    "op_rand_proj" -> """
      WITH m AS (
        SELECT vec_id, embedding,
          list_aggregate(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE))), 'max') AS max_abs
        FROM embeddings),
      q AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / max_abs)) AS BIGINT))
          AS qa
        FROM m WHERE max_abs > 0),
      e AS (
        SELECT vec_id, generate_subscripts(qa, 1) - 1 AS i, unnest(qa) AS qv
        FROM q)
      SELECT e.vec_id, j.dim,
        CAST(sum(qv * CASE
          WHEN (2654435761 * i + 1103515245 * j.dim) % 1000000007 % 2 = 0
          THEN 1 ELSE -1 END) AS BIGINT) AS proj_q
      FROM e CROSS JOIN range(0, 16) j(dim)
      GROUP BY e.vec_id, j.dim""",

    // format_text printf-parity: every console line of the tax-liability
    // summary report rebuilt from exact cents (comma-grouped int + 2-digit
    // fraction = Java's %,.2f on decimal-sourced doubles, which never tie
    // at the 2nd place) and %.2f for the overall rate (correctly rounded
    // exact-value formatting in both engines). Line numbers are 0-based.
    "op_text_report" -> s"""
      WITH $taxCte,
      sm AS (
        SELECT count(*) AS n,
          sum(taxable_amount) AS taxable, sum(tax_amount) AS tax,
          coalesce(sum(CASE WHEN is_exempt THEN taxable_amount END), 0) AS exempt,
          count(CASE WHEN is_exempt THEN 1 END) AS n_exempt
        FROM taxcalc),
      st AS (
        SELECT state, count(*) AS n,
          sum(taxable_amount) AS taxable, sum(tax_amount) AS tax
        FROM taxcalc GROUP BY state),
      smc AS (
        SELECT n, n_exempt,
          CAST(taxable * 100 AS BIGINT) AS tc,
          CAST(tax * 100 AS BIGINT) AS xc,
          CAST(exempt * 100 AS BIGINT) AS ec,
          CASE WHEN taxable > 0
               THEN CAST(tax AS DOUBLE) / CAST(taxable AS DOUBLE) ELSE 0.0
          END AS rate
        FROM sm),
      stc AS (
        SELECT state, n,
          format('{:,}', CAST(taxable * 100 AS BIGINT) // 100) || '.' ||
            lpad(CAST(CAST(taxable * 100 AS BIGINT) % 100 AS VARCHAR), 2, '0')
            AS ttxt,
          format('{:,}', CAST(tax * 100 AS BIGINT) // 100) || '.' ||
            lpad(CAST(CAST(tax * 100 AS BIGINT) % 100 AS VARCHAR), 2, '0')
            AS xtxt
        FROM st),
      stline AS (
        SELECT 16 + row_number() OVER (ORDER BY state) AS line_no,
          '  ' || state || ': $$' ||
          CASE WHEN length(ttxt) >= 12 THEN ttxt
               ELSE lpad(ttxt, 12, ' ') END ||
          ' taxable | $$' ||
          CASE WHEN length(xtxt) >= 10 THEN xtxt
               ELSE lpad(xtxt, 10, ' ') END ||
          ' tax | ' || CAST(n AS VARCHAR) || ' txns' AS line
        FROM stc),
      header AS (
        SELECT * FROM (VALUES
          (0, repeat('=', 60)),
          (1, '  Tax Liability Summary'),
          (2, '  Generated: 2024-12-01'),
          (3, '  Period: 2024'),
          (4, repeat('=', 60)),
          (5, ''),
          (6, 'SUMMARY'),
          (7, repeat('-', 40)),
          (14, ''),
          (15, 'STATE BREAKDOWN'),
          (16, repeat('-', 40))) AS t(line_no, line)),
      smline AS (
        SELECT 8 AS line_no,
          '  Total Transactions: ' || CAST(n AS VARCHAR) AS line FROM smc
        UNION ALL SELECT 9, '  Total Taxable: $$' ||
          format('{:,}', tc // 100) || '.' ||
          lpad(CAST(tc % 100 AS VARCHAR), 2, '0') FROM smc
        UNION ALL SELECT 10, '  Total Tax: $$' ||
          format('{:,}', xc // 100) || '.' ||
          lpad(CAST(xc % 100 AS VARCHAR), 2, '0') FROM smc
        UNION ALL SELECT 11, '  Total Exempt: $$' ||
          format('{:,}', ec // 100) || '.' ||
          lpad(CAST(ec % 100 AS VARCHAR), 2, '0') FROM smc
        UNION ALL SELECT 12, '  Exempt Transactions: ' ||
          CAST(n_exempt AS VARCHAR) FROM smc
        UNION ALL SELECT 13, '  Overall Effective Rate: ' ||
          printf('%.2f', rate * 100) || '%' FROM smc),
      trailer AS (
        SELECT 17 + count(*) AS line_no, '' AS line FROM st)
      SELECT CAST(line_no AS BIGINT) AS line_no, line FROM (
        SELECT * FROM header
        UNION ALL SELECT * FROM smline
        UNION ALL SELECT * FROM stline
        UNION ALL SELECT * FROM trailer)""",
  )
}
