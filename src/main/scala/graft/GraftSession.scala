package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session for this engine: every main and the test
  * suites share this config.
  *
  *  - `local[cpus]` with `cpus` shuffle partitions; `cpus` defaults to
  *    `SPARK_GRAFT_CPUS` (4 when unset). `SPARK_MASTER`, a deployment
  *    setting, replaces the local master when set.
  *  - UTC session time zone, so date math and rendered timestamps do not
  *    depend on the host.
  *  - `nanosAsLong`: a TIMESTAMP(NANOS) events fixture reads as long nanos,
  *    a MICROS fixture as timestamp — `Catalog.tsAsNanos` normalizes either.
  *  - no Spark UI. */
object GraftSession {
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def apply(appName: String, cpus: Int = envCpus,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
