package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the Verify error-marker contract (the round-8 harness fix): a
  * query that THROWS — at plan-build time or at execution time — still
  * leaves a parquet frame under its name, carrying the one-column
  * `__verify_error` marker, so the driver's oracle compare records a loud
  * failure for that key instead of silently omitting it (the round-7
  * green-by-omission failure mode). A healthy query in the same run must
  * be written normally — one query's failure cannot eat its neighbors. */
class VerifySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def read(out: String, name: String): DataFrame =
    spark.read.parquet(s"$out/$name")

  test("dump writes a __verify_error marker for throwing queries, real output for healthy ones") {
    val out = java.nio.file.Files.createTempDirectory("verifyspec").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      // throws while BUILDING the plan (the r7 ts-unit failures threw here)
      "op_throws_build" -> ((_, _) => sys.error("boom at plan build")),
      // analyzes fine, throws at EXECUTION (write-time)
      "op_throws_exec" -> ((s, _) => {
        import s.implicits._
        Seq(1, 0).toDF("d").selectExpr("assert_true(d > 0) as ok", "d")
      }),
      "op_healthy" -> ((s, dir) =>
        s.read.parquet(s"$dir/region.parquet").select("r_regionkey")))
    Verify.dump(spark, queries, sf, out)

    val healthy = read(out, "op_healthy")
    assert(healthy.columns.toSeq == Seq("r_regionkey"))
    assert(healthy.count() > 0)

    Seq("op_throws_build", "op_throws_exec").foreach { name =>
      val marker = read(out, name)
      assert(marker.columns.toSeq == Seq("__verify_error"),
        s"$name must leave the one-column error marker")
      val rows = marker.collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0).nonEmpty, s"$name marker must carry the cause")
    }
    assert(read(out, "op_throws_build").collect().head.getString(0)
      .contains("boom at plan build"))
  }

  test("main with the wrong argument count throws with the usage line") {
    // the throw comes before any session is built
    Seq(Array.empty[String], Array("only-one"), Array("a", "b", "c", "d")).foreach { args =>
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.contains(s"got ${args.length}"))
      assert(e.getMessage.contains("usage: graft.Verify <sfDir> <outDir>"))
    }
  }
}
