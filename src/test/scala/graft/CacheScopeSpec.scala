package graft

/** The no-leak lifecycle contract: operators register their persisted
  * intermediates with CacheScope, and releaseAll drops every one of
  * them — a long-lived session embedding the library accumulates no
  * cache entries across pipeline runs. */
class CacheScopeSpec extends SparkSpec {

  test("cache-heavy registry queries leave nothing behind after releaseAll") {
    // clean slate (other suites may legitimately hold caches)
    spark.catalog.clearCache()
    CacheScope.releaseAll(spark)

    // the persisting query families — the Jaccard capped path (q17),
    // the bucketed pair join (q37) — plus the flagship (q10), which
    // persists nothing and must leave nothing behind either
    Seq("q10_wallet_profits", "q17_dedup_ngram_jaccard", "q37_price_correlation")
      .foreach(q => SparkEntry.queries(q)(spark, SfDir).count(): Unit)
    assert(CacheScope.pending(spark) > 0,
      "the persisting queries must register their intermediates")

    val released = CacheScope.releaseAll(spark)
    assert(released > 0)
    assert(CacheScope.pending(spark) == 0, "registry must drain")
    assert(spark.sharedState.cacheManager.isEmpty,
      "cache entries leaked past releaseAll — some operator persists outside CacheScope")

    // release is a performance event, not a semantic one: the same
    // query re-runs correctly and re-registers
    assert(SparkEntry.queries("q37_price_correlation")(spark, SfDir).count() > 0)
    assert(CacheScope.pending(spark) > 0)
    CacheScope.releaseAll(spark)
    assert(CacheScope.pending(spark) == 0)
  }
}
