package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The multi-corpus session persist policy (round-11): per-corpus scopes
  * keep the session's cached-block audit BOUNDED at one corpus's working
  * set no matter how many corpora flow through — the `Probe cache-audit`-style
  * check the round-10 verdict asked for. */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int) = (1 to 40).map(i =>
    (i.toLong, s"corpus $seed document number $i with shared overlapping " +
      s"tokens plus unique marker token${seed}x$i repeated across lines"))
    .toDF("doc_id", "text")

  private def cachedRdds: Int = spark.sparkContext.getRDDStorageInfo.length

  test("two corpora through per-corpus scopes: audit stays bounded, not cumulative") {
    // quiesce: drop any cache left by other suites (shared session)
    spark.sharedState.cacheManager.clearCache()
    val base = cachedRdds

    def sweep(tag: String, seed: Int): Long = {
      val scope = CacheScope.corpus(tag)
      val n = graft.text.Dedup.jaccardPairs(corpus(seed), scope = scope).count()
      // r19: ONE persisted frame — the de-hubbed inverted index (the raw
      // exploded index no longer persists; df comes from a window over
      // the index's own exchange)
      assert(scope.size >= 1, "the dedup family must persist its index")
      n
    }

    sweep("crawl-a", 1)
    val afterA = cachedRdds
    assert(afterA > base, "first corpus should have live persists")
    assert(CacheScope.liveCorpora.contains("crawl-a"))
    CacheScope.releaseCorpus("crawl-a", blocking = true)
    assert(cachedRdds == base,
      s"release must return the audit to baseline ($base), got $cachedRdds")

    sweep("crawl-b", 2)
    val afterB = cachedRdds
    // the bounded-session property: corpus B's working set is no larger
    // than corpus A's was — K corpora never accumulate K× frames
    assert(afterB <= afterA,
      s"second corpus grew the audit past one working set: $afterB > $afterA")
    CacheScope.releaseCorpus("crawl-b", blocking = true)
    assert(cachedRdds == base)
    assert(!CacheScope.liveCorpora.exists(_.startsWith("crawl-")))
    // releasing an unknown tag is a safe no-op
    CacheScope.releaseCorpus("never-registered")
  }

  test("components routed through a scope: labels tracked and released with the corpus") {
    spark.sharedState.cacheManager.clearCache()
    val base = cachedRdds
    val scope = new CacheScope
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = graft.text.Dedup.components(pairs, scope = scope)
    assert(labels.collect().length == 5)
    assert(scope.size == 1, "the final labels frame must be tracked")
    assert(cachedRdds > base, "labels should be persisted after the fixpoint")
    scope.unpersistAll(blocking = true)
    assert(cachedRdds == base,
      s"scoped release must free the labels persist ($base), got $cachedRdds")
  }

  test("the same tag returns the same scope (pipeline stages share indexes)") {
    val a = CacheScope.corpus("shared-tag")
    val b = CacheScope.corpus("shared-tag")
    assert(a eq b)
    CacheScope.releaseCorpus("shared-tag")
    // after release the tag is forgotten: a fresh scope is created
    val c = CacheScope.corpus("shared-tag")
    assert(!(c eq a))
    CacheScope.releaseCorpus("shared-tag")
  }
}
