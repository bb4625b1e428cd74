package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout helpers for the cluster-scale read path.
  *
  * Partitioning by a low-cardinality predicate column turns per-state /
  * per-date queries into directory pruning (the scan's `PartitionFilters`
  * — zero I/O for excluded partitions). Bucketing by a join key lets two
  * bucketed tables join shuffle-free. Both are write-time decisions that
  * repay every downstream query; LayoutSpec proves the pruning actually
  * happens in the plan.
  */
object Layout {

  /** Write parquet hive-partitioned by `cols` (e.g. state, or year/month
    * derived from a date). */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Write a bucketed + sorted table (requires saveAsTable — bucketing
    * metadata lives in the catalog). Two tables bucketed identically on the
    * join key co-locate: the join plans without an exchange. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Derived partition columns for transaction facts: year/month from the
    * transaction date — the natural layout for filing-period queries. */
  def withDateParts(txns: DataFrame): DataFrame =
    txns.withColumn("txn_year", year(col("transaction_date")))
      .withColumn("txn_month", month(col("transaction_date")))
}
