package graft.ops

import graft.SparkSpec
import graft.tax.{SyntheticTxns, TaxCalc}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Layout specs: partition pruning visible in the plan, bucketed join
  * without exchange. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("state-partitioned transactions: predicate becomes partition pruning") {
    val dir = Files.createTempDirectory("graft_layout").toString
    val txns = TaxCalc.normalize(SyntheticTxns.txns(spark, "/root/testdata/sf0.001"))
    Layout.writePartitioned(txns, s"$dir/txns", Seq("state"))
    val df = spark.read.parquet(s"$dir/txns").filter($"state" === "TX")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(state"), plan.take(1200))
    // the pushed partition filter must eliminate non-TX directories
    assert(df.count() > 0)
    assert(df.select("state").distinct().collect().map(_.getString(0)).toSeq == Seq("TX"))
    // data filters list must NOT contain the state predicate (it's pruned,
    // not scanned-and-filtered)
    assert(plan.contains("(state#") === false ||
      !plan.split("DataFilters").last.split("]").head.contains("state"))
  }

  test("year/month derived partitioning") {
    val txns = Layout.withDateParts(
      TaxCalc.normalize(SyntheticTxns.txns(spark, "/root/testdata/sf0.001")))
    val r = txns.select("txn_year", "txn_month").distinct().count()
    assert(r > 12) // shipdates span multiple years
  }

  test("IVF-PQ cell store: probe queries scan ONLY the probed cells' files") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val dir = Files.createTempDirectory("graft_ivf_store").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = graft.text.Ivf.fixedModel(c = 16, dim = 64)
    val pq = graft.text.Pq.fixedModel()
    graft.text.Pq.writeCellStore(emb, ivf, pq, s"$dir/codes")
    val queries = emb.filter($"vec_id" % 25 === 0)
    val nprobe = 2
    try {
      val res = graft.text.Pq.searchTopKIvfStore(spark, s"$dir/codes",
        queries, ivf, pq, k = 5, nprobe = nprobe)
      // the probed-cell set this query is allowed to touch
      val probedCells = graft.text.Ivf.probeCells(queries, ivf, nprobe)
        .select("ivf_cell").distinct().collect().map(_.getInt(0)).toSet
      assert(probedCells.size < 16, "probe set must actually prune")
      // functional equality with the in-memory IVF-PQ path
      val store = res.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val mem = graft.text.Pq.searchTopKIvf(emb, queries, ivf, pq, k = 5,
        nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(store == mem)
      // executed plan: the store scan's selected partitions == probed cells
      val scan = scans(res.queryExecution.executedPlan).find(
        _.metadata.get("Location").exists(_.contains("graft_ivf_store")))
      assert(scan.nonEmpty, "expected a parquet scan of the cell store")
      // cells with no assigned vectors write no directory: the scan covers
      // probed ∩ existing, and strictly fewer dirs than the full store
      val existing = spark.read.parquet(s"$dir/codes")
        .select("ivf_cell").distinct().collect().map(_.getInt(0)).toSet
      val expected = probedCells.intersect(existing)
      val scannedParts = scan.get.selectedPartitions.partitionCount
      assert(scannedParts == expected.size,
        s"scan read $scannedParts partition dirs, probes needed ${expected.size}")
      assert(scannedParts < existing.size,
        "pruning must skip at least one existing cell directory")
      assert(res.queryExecution.executedPlan.toString
        .contains("PartitionFilters: [ivf_cell"))
    } finally spark.catalog.clearCache()
  }

  test("identically bucketed tables join without an exchange") {
    // default warehouse dir (./spark-warehouse, gitignored); clean any
    // leftover managed locations from previous JVMs (the fresh derby
    // metastore doesn't know about them and refuses the create)
    for (t <- Seq("li_b", "o_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    try {
      // force the join to sort-merge so the test proves bucketing, not
      // broadcasting
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      Layout.writeBucketed(li, "li_b", "l_orderkey", 8)
      Layout.writeBucketed(o, "o_b", "o_orderkey", 8)
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      val shuffles = "(?<!Broadcast)Exchange ".r.findAllIn(plan).size
      assert(shuffles == 0, s"expected shuffle-free bucketed join, got $shuffles")
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("zValue interleaves bits (known vectors)") {
    val df = Seq((3L, 5L), (0L, 0L), (65535L, 0L), (0L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y").as("z"))
    // interleave(3=0b11, 5=0b101) = 0b100111 = 39; x fills even bits,
    // y odd bits; 16 ones spread to alternating bits of a 32-bit value
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(39L, 0L, 0x55555555L, 0xAAAAAAAAL))
  }

  test("z-ordered files carry 2-D bounding boxes: a suppkey filter skips files a partkey sort cannot") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val zdir = Files.createTempDirectory("graft_zord").toString
    val sdir = Files.createTempDirectory("graft_sort").toString
    ZOrder.writeZOrdered(li, s"$zdir/t",
      ZOrder.quantize16($"l_partkey", 199L),
      ZOrder.quantize16($"l_suppkey", 9L), files = 8)
    li.repartitionByRange(8, $"l_partkey").sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$sdir/t")
    // per-file suppkey bounding ranges — the stats a parquet reader skips
    // on; count files whose [min,max] intersects the filter supp IN [8,9]
    def intersecting(dir: String): (Int, Int) = {
      val files = new java.io.File(dir).listFiles
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString).sorted
      val hit = files.count { f =>
        val r = spark.read.parquet(f)
          .agg(min("l_suppkey"), max("l_suppkey")).head()
        r.getLong(0) <= 9L && 8L <= r.getLong(1)
      }
      (hit, files.length)
    }
    val (zHit, zN) = intersecting(s"$zdir/t")
    val (sHit, sN) = intersecting(s"$sdir/t")
    assert(zN >= 6 && sN >= 6, s"want ~8 files, got z=$zN sorted=$sN")
    // partkey-sorted files all span the full suppkey domain; z-ordered
    // files cover curve segments = (part, supp) boxes, so most exclude
    // supp 8-9 entirely
    assert(sHit == sN, s"partkey sort should prune nothing: $sHit/$sN")
    assert(zHit * 2 <= zN, s"z-order should skip >= half the files: $zHit/$zN")
    // layout changes never change data
    assert(spark.read.parquet(s"$zdir/t").count() == li.count())
  }
}
