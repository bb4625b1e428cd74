package graft

/** The driver contract's flagship query returns rows. */
class SparkEntrySpec extends SparkSpec {
  test("SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
