package graft.ops

import graft.text.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Engine-portable count-min sketch (Cormode & Muthukrishnan 2005) error
  * calibration — the sketch-eval read for FREQUENCY estimation, beside
  * [[Hll]]'s cardinality and the MinHash/SimHash recall family: a CMS is
  * `depth` rows of `width` counters, each item hashing to one counter per
  * row, estimate = min over rows — it can only OVERcount (collisions add),
  * and the guarantee is `overcount ≤ εN` with probability 1−δ at
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉. This operator measures the actual
  * overcount on the corpus's own heavy hitters, which is how you size
  * width/depth before trusting the sketch at 100 TB.
  *
  * Spark's built-in `countMinSketch` hashes with JVM-private seeds —
  * uncheckable outside the JVM (the existing heavy-hitters op uses it only
  * as a pre-filter and re-counts exactly). This one is deterministic and
  * engine-exact: row j's hash is the repo's md5-prefix 60-bit integer of
  * `value:cms<j>` taken mod width, counters are exact long sums, the
  * estimate is an exact min — the DuckDB oracle reproduces every cell. */
object Cms {

  /** For the corpus's `topK` most frequent values (by exact count, value
    * tie-break): the exact count, the CMS estimate, and the overcount.
    * Output: token, n_exact, cms_est, overcount (≥ 0 always — min-of-sums
    * never undercounts).
    *
    * Scale: ONE corpus-scale aggregate (the exact value counts — which a
    * calibration pass needs anyway); the counter table is bounded at
    * depth × width rows and built FROM the counts (Σ n per bucket ==
    * counting occurrences directly), the top-K pick is a bounded
    * TakeOrdered, and the estimate join touches topK × depth rows. */
  private def bucketCol(v: Column, j: Column, width: Int): Column =
    pmod(Dedup.portableHash(
      concat(v.cast("string"), lit(":cms"), j.cast("string"))),
      lit(width.toLong))

  def errorTopK(df: DataFrame, value: Column, depth: Int = 4,
      width: Int = 1024, topK: Int = 50): DataFrame = {
    require(depth >= 1 && depth <= 16, "errorTopK: depth in [1, 16]")
    require(width >= 1, "errorTopK: width must be positive")
    val counts = df.select(value.as("_v"))
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    // counters FROM the counts (Σ n per bucket == counting occurrences)
    val counters = (0 until depth).map(j =>
      counts.select(lit(j).as("_j"),
        bucketCol(col("_v"), lit(j), width).as("_b"), col("_n")))
      .reduce(_ unionByName _)
      .groupBy("_j", "_b").agg(sum("_n").as("_c"))
    estimateTopK(counters, counts, depth, width, topK)
  }

  /** The STREAMABLE half of the sketch: each input row explodes into its
    * `depth` (row j, bucket) cells — a narrow in-row map with NO
    * aggregation, so `cellRows(...).groupBy(_j, _b).count()` can be a
    * Structured Streaming query's single stateful aggregation (state
    * bounded at depth × width cells FOREVER), and because counter
    * sum-merge is order-insensitive the streamed counter table equals the
    * batch one ([[errorTopK]]'s) exactly — the stream == batch proof
    * CmsSpec pins as a decomposition equality. */
  def cellRows(df: DataFrame, value: Column, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 16, "cellRows: depth in [1, 16]")
    require(width >= 1, "cellRows: width must be positive")
    df.select(value.as("_v"))
      .withColumn("_j", explode(typedLit((0 until depth).toList)))
      .select(col("_j"),
        bucketCol(col("_v"), col("_j"), width).as("_b"))
  }

  /** Batch FINISHER over an externally-built counter table `(_j, _b, _c)`
    * — e.g. one a streaming aggregation maintained: for the `topK` most
    * frequent values of `counts` `(_v, _n)` (exact count, value
    * tie-break), the CMS estimate (min over rows) and the overcount.
    * Bounded: the counter table is depth × width rows, the top-K pick a
    * bounded TakeOrdered, the estimate join topK × depth rows. */
  def estimateTopK(counters: DataFrame, counts: DataFrame, depth: Int,
      width: Int, topK: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, "estimateTopK: depth in [1, 16]")
    require(width >= 1, "estimateTopK: width must be positive")
    require(topK >= 1, "estimateTopK: topK must be positive")
    val top = counts.orderBy(col("_n").desc, col("_v")).limit(topK)
    (0 until depth).map(j =>
      top.select(col("_v"), col("_n"), lit(j).as("_j"),
        bucketCol(col("_v"), lit(j), width).as("_b")))
      .reduce(_ unionByName _)
      .join(counters, Seq("_j", "_b"))
      .groupBy("_v", "_n").agg(min("_c").as("cms_est"))
      .select(col("_v").as("token"), col("_n").as("n_exact"),
        col("cms_est"), (col("cms_est") - col("_n")).as("overcount"))
  }
}
