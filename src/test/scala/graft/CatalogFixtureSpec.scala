package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** The catalog's two memo rules: the fixture cache resolves each path
  * once per session, also when the first callers on a new session race;
  * a staged on-disk artifact is built once and rebuilt when its
  * directory is gone. */
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

  test("a staged artifact builds once and builds again when its directory is gone") {
    val root = Files.createTempDirectory("graft_staged")
    var builds = 0
    def stage(): String =
      Catalog.staged("spec_artifact", root.toString, identity[String]) {
        builds += 1
        Files.createDirectories(root.resolve(s"build$builds")).toString
      }
    val first = stage()
    assert(builds == 1)
    assert(stage() == first)
    assert(builds == 1, "the second call must reuse the staged directory")
    Files.delete(Paths.get(first))
    val again = stage()
    assert(builds == 2, "a deleted directory must be built again")
    assert(again != first && Files.isDirectory(Paths.get(again)))
  }
}
