package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured-Streaming specs: running nexus aggregate, watermarked window,
  * and stateful one-shot crossing alerts, driven synchronously through
  * MemoryStream micro-batches. */
class NexusMonitorSpec extends SparkSpec {
  import spark.implicits._
  import NexusMonitor._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("running nexus aggregate updates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Txn]
    val q = nexusStatusStream(in.toDF())
      .writeStream.format("memory").queryName("nexus_status")
      .outputMode(OutputMode.Complete).start()
    try {
      // TX threshold is 500k: first batch below, second crosses
      in.addData(Txn("TX", 200000.0, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      val r1 = spark.table("nexus_status").filter($"state" === "TX").head()
      assert(!r1.getAs[Boolean]("has_nexus"))
      in.addData(Txn("TX", 350000.0, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val r2 = spark.table("nexus_status").filter($"state" === "TX").head()
      assert(r2.getAs[Boolean]("has_nexus"))
      assert(r2.getAs[Long]("transaction_count") == 2)
    } finally q.stop()
  }

  test("watermarked daily windows aggregate by event time") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Txn]
    val q = windowedRevenue(in.toDF())
      .writeStream.format("memory").queryName("daily_rev")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        Txn("CA", 100.0, ts("2024-03-01 10:00:00")),
        Txn("CA", 50.0, ts("2024-03-01 15:00:00")),
        Txn("CA", 25.0, ts("2024-03-02 09:00:00")))
      q.processAllAvailable()
      val rows = spark.table("daily_rev").orderBy("day").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[java.math.BigDecimal]("revenue")
        .compareTo(new java.math.BigDecimal("150.00")) == 0)
      assert(rows(1).getAs[Long]("transaction_count") == 1)
    } finally q.stop()
  }

  test("append mode drops data later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Txn]
    // append mode: a window is emitted once, only after the watermark
    // passes its end — THE mode where late-drop semantics are observable
    // (complete mode keeps all state and would still absorb late rows)
    val q = windowedRevenue(in.toDF())
      .writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Txn("CA", 100.0, ts("2024-03-01 10:00:00")),
        Txn("CA", 50.0, ts("2024-03-01 15:00:00")))
      q.processAllAvailable()
      // advance the watermark beyond day 1 -> the day-1 window finalizes
      in.addData(Txn("CA", 25.0, ts("2024-03-03 12:00:00")))
      q.processAllAvailable()
      // 999 is two days behind the watermark: must be dropped entirely
      in.addData(Txn("CA", 999.0, ts("2024-03-01 12:00:00")))
      q.processAllAvailable()
      // push the watermark past day 3 so its window finalizes too
      in.addData(Txn("CA", 10.0, ts("2024-03-05 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("late_drop").orderBy("day").collect()
        .map(r => r.getAs[java.sql.Timestamp]("day").toString.take(10) ->
          r.getAs[java.math.BigDecimal]("revenue").doubleValue)
      assert(rows.contains("2024-03-01" -> 150.0), rows.toSeq.toString)
      assert(rows.contains("2024-03-03" -> 25.0), rows.toSeq.toString)
      assert(!rows.exists(_._2 >= 999.0), "late row must not surface anywhere")
    } finally q.stop()
  }

  test("the batch tax expression block runs unchanged on a stream") {
    // in-stage dimension lookups: TaxCalc.withTax over a streaming source
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Date, String, String, String)]
    val txns = graft.tax.TaxCalc.normalize(
      in.toDF().toDF("transaction_id", "transaction_date", "amount_s", "state", "city")
        .withColumn("amount", col("amount_s").cast(graft.tax.Dims.Money))
        .drop("amount_s"))
    val q = graft.tax.TaxCalc.withTax(txns)
      .select("transaction_id", "state_tax", "local_tax", "tax_amount")
      .writeStream.format("memory").queryName("stream_tax")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(("S1", java.sql.Date.valueOf("2024-01-01"), "500.00", "TX", "Houston"))
      q.processAllAvailable()
      val r = spark.table("stream_tax").head()
      assert(r.getAs[java.math.BigDecimal]("state_tax")
        .compareTo(new java.math.BigDecimal("31.25")) == 0)
      assert(r.getAs[java.math.BigDecimal]("tax_amount")
        .compareTo(new java.math.BigDecimal("41.25")) == 0)
    } finally q.stop()
  }

  test("crossing alerts fire exactly once per state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Txn]
    val q = crossingAlerts(in.toDS(), Map("TX" -> 500000.0, "GA" -> 100000.0))
      .writeStream.format("memory").queryName("alerts")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Txn("TX", 400000.0, ts("2024-01-01 00:00:00")),
        Txn("GA", 50000.0, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      assert(spark.table("alerts").count() == 0)
      in.addData(Txn("TX", 200000.0, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val a1 = spark.table("alerts").collect()
      assert(a1.length == 1 && a1.head.getAs[String]("state") == "TX")
      // further TX revenue must NOT re-alert; GA crossing must
      in.addData(Txn("TX", 100000.0, ts("2024-01-03 00:00:00")),
        Txn("GA", 60000.0, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
      val a2 = spark.table("alerts").collect()
      assert(a2.length == 2)
      assert(a2.map(_.getAs[String]("state")).toSet == Set("TX", "GA"))
    } finally q.stop()
  }
}
