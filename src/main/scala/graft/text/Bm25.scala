package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BM25 keyword relevance scoring over the corpus — the full-text-search
  * ranking primitive (Robertson/Spärck Jones probabilistic weighting with
  * the standard k1/b length normalization), for a FIXED query-term set:
  * the "score every document against this query" shape that retrieval
  * evaluation and hard-negative mining pipelines run at corpus scale.
  *
  * One deliberate deviation for cross-engine bit parity: the inverse
  * document frequency uses the RATIONAL core `(N - df + 0.5)/(df + 0.5)`
  * without the usual `ln` — logarithms are the one place Spark (JVM
  * `Math.log`) and DuckDB (libm) may differ in the last ulp, while
  * +,-,*,/ are IEEE-correctly-rounded in both. The rational idf is
  * monotone in df, so RANKINGS are identical to log-idf BM25; only the
  * score scale differs (documented, and trivially post-mapped with `ln`
  * outside the oracle-checked path).
  *
  * Scale: per-term tf counts are HOF filters over the token array in one
  * narrow projection — zero shuffles for the per-doc stage; the corpus
  * stats (N, Σdl, per-term df) are ONE single-row aggregate broadcast
  * back via crossJoin. The token array is rebuilt per HOF reference
  * (CollapseProject inlines it — SURVEY parity-notes trap), costing
  * terms+1 tokenizations per row in exchange for no exchange at all;
  * for large fixed query sets, explode+conditional-agg trades that CPU
  * for one shuffle.
  */
object Bm25 {
  private val K1 = 1.2
  private val B = 0.75

  /** Per matching doc (≥1 query term present): `dl` token length, per-term
    * `tf_<term>` counts, and the fixed-order BM25 `score`. */
  def score(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms)
    val toks = TextOps.tokens(col("text"))
    val base = docs.select(
      col("doc_id") +:
        size(toks).as("dl") +:
        terms.map(t =>
          size(filter(toks, x => x === lit(t))).as(s"tf_$t")): _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl") +:
        terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L))
          .as(s"df_$t")): _*)
    // contrib terms ordered and parenthesized EXACTLY as the oracle SQL
    // (OracleSql interpolates from the same Seq): bit-identical doubles
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    def contrib(t: String): Column =
      ((col("n_docs") - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5))) *
        (col(s"tf_$t") * lit(K1 + 1.0)) /
        (col(s"tf_$t") + lit(K1) *
          (lit(1.0) - lit(B) + lit(B) * col("dl") / avgdl))
    base.crossJoin(broadcast(stats))
      .filter(terms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .select(col("doc_id") +: col("dl") +:
        terms.map(t => col(s"tf_$t")) :+
        terms.map(contrib).reduce(_ + _).as("score"): _*)
  }
}
