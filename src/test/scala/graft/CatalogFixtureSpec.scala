package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** The fixture cache resolves each path once per session, also when the
  * first callers on a new session race. */
class CatalogFixtureSpec extends SparkSpec {
  test("racing first callers on a new session all get one resolved relation") {
    val s = spark.newSession()
    val path = "/root/testdata/sf0.001/nation.parquet"
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val results = (1 to threads).map(_ =>
        pool.submit(() => { start.await(); Catalog.fixture(s, path) }))
      start.countDown()
      val dfs = results.map(_.get(120, TimeUnit.SECONDS))
      assert(dfs.forall(_ eq dfs.head))
      assert(Catalog.fixture(s, path) eq dfs.head)
    } finally pool.shutdownNow()
  }
}
