package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Write each query's result to `outDir/<name>` parquet. A query that
    * THROWS still produces a frame — a one-row `__verify_error` marker —
    * so the driver's oracle compare records a loud schema/hash failure
    * for that key instead of omitting it (round 7 silently dropped 9
    * broken ops because nothing was written). Extracted from [[main]] so
    * VerifySpec can pin the marker path with an injected throwing query. */
  def dump(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      sfDir: String, outDir: String): Unit =
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${e2.getMessage}")
        }
      }
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always passes exactly two)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ => throw new IllegalArgumentException(
        s"expected 2 or 3 arguments, got ${args.length}; " +
          "usage: graft.Verify <sfDir> <outDir> [query,query,...]")
    }
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // persist the shared tax/refund lineages once — every query containing
    // the same subtree reuses them via the CacheManager
    val shared = Catalog.sharedFrames(spark, sfDir)
    shared.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    dump(spark,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    shared.foreach(_.unpersist(blocking = false))
    spark.stop()
  }
}
