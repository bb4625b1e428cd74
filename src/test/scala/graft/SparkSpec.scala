package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("graft-test", cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `Project` nodes `df`'s analyzed plan adds on top of `input`'s: the
    * projections a pipeline stacks, each analyzed when it is built. */
  protected def projectsOver(df: DataFrame, input: DataFrame): Int = {
    def count(d: DataFrame) =
      d.queryExecution.analyzed.collect { case p: Project => p }.size
    count(df) - count(input)
  }

  protected lazy val sampleCsv: String =
    getClass.getResource("/sample_transactions.csv").getPath
}
