package graft

import graft.core.DfCacheStore

/** Eviction contract of the shared derived-base cache: bounded entry
  * count, LRU victim selection (a touched entry survives a later
  * insert), evicted blocks released, and a re-request after eviction
  * rebuilding through the builder again. */
class DfCacheSpec extends SparkSpec {

  private def frame(n: Int) = {
    val s = spark; import s.implicits._
    (0 until n).map(_.toLong).toDF("v")
  }

  test("hit returns the same frame without rebuilding") {
    val store = new DfCacheStore(4)
    var builds = 0
    def get() = store.cached(spark, "/d", "a") { builds += 1; frame(3) }
    val first = get()
    val second = get()
    assert(builds == 1)
    assert(first eq second)
    assert(first.count() == 3)
  }

  test("entry count is capped; eviction defers release while a consumer " +
      "holds the frame, then releases once the last reference drops") {
    val store = new DfCacheStore(2)
    var a: org.apache.spark.sql.DataFrame = store.cached(spark, "/d", "a")(frame(1))
    // Dataset.storageLevel / unpersist don't see localCheckpointed
    // frames (they're LogicalRDDs the CacheManager never registered) —
    // assert at the RDD layer, where the blocks actually live
    val aRdds = store.checkpointRdds(a)
    assert(aRdds.nonEmpty, "cached frame should be a materialized checkpoint")
    val ids = spark.sparkContext.getPersistentRDDs
    assert(aRdds.forall(r => ids.contains(r.id)),
      "checkpoint blocks must be registered while resident")
    store.cached(spark, "/d", "b")(frame(2))
    store.cached(spark, "/d", "c")(frame(3))
    assert(store.entryCount == 2)
    // 'a' was eldest and evicted — but this test still HOLDS the frame:
    // its truncated-lineage blocks must stay resident and runnable (an
    // eager unpersist here is exactly the lookup-vs-eviction race)
    assert(store.pendingReleaseCount == 1)
    val mid = spark.sparkContext.getPersistentRDDs
    assert(aRdds.forall(r => mid.contains(r.id)),
      "evicted-but-held frame's blocks must not be released yet")
    assert(a.count() == 1, "a held evicted frame must still execute")
    // drop the last consumer reference: the plan-root anchor clears on
    // GC and the sweep releases the blocks. A canary weak-ref guards the
    // assertion against JVMs where System.gc() is a no-op (e.g.
    // -XX:+DisableExplicitGC): if even the trivially-unreachable canary
    // never clears, the environment can't exercise the contract — skip
    // rather than flake.
    val canary = new java.lang.ref.WeakReference(new Object)
    a = null
    var tries = 0
    while (store.pendingReleaseCount > 0 && tries < 60) {
      System.gc(); Thread.sleep(50); store.sweepReleases(); tries += 1
    }
    if (store.pendingReleaseCount > 0 && canary.get() != null)
      cancel("JVM did not process weak references within the retry window")
    assert(store.pendingReleaseCount == 0,
      "anchor must clear once no consumer can still run the frame")
    val after = spark.sparkContext.getPersistentRDDs
    assert(aRdds.forall(r => !after.contains(r.id)),
      "evicted entry's checkpoint blocks were not released after the sweep")
  }

  test("LRU: touching an entry protects it; the untouched one is evicted") {
    val store = new DfCacheStore(2)
    var rebuiltA = 0
    var rebuiltB = 0
    def getA() = store.cached(spark, "/d", "a") { rebuiltA += 1; frame(1) }
    def getB() = store.cached(spark, "/d", "b") { rebuiltB += 1; frame(2) }
    getA(); getB()
    getA() // refresh A's recency — B becomes the LRU victim
    store.cached(spark, "/d", "c")(frame(3))
    assert(store.entryCount == 2)
    getA()
    assert(rebuiltA == 1, "touched entry must have survived the insert")
    getB()
    assert(rebuiltB == 2, "untouched entry must have been evicted and rebuilt")
  }

  test("cache HITS drain pending releases — no further insert required") {
    // a long-lived service whose tag set stabilizes only ever HITS the
    // cache; deferred releases must still drain (r10 ADVICE)
    val store = new DfCacheStore(1)
    var a: org.apache.spark.sql.DataFrame = store.cached(spark, "/d", "a")(frame(1))
    val aRdds = store.checkpointRdds(a)
    store.cached(spark, "/d", "b")(frame(2)) // evicts a (held -> deferred)
    assert(store.pendingReleaseCount == 1)
    val canary = new java.lang.ref.WeakReference(new Object)
    a = null
    var tries = 0
    while (store.pendingReleaseCount > 0 && tries < 60) {
      System.gc(); Thread.sleep(50)
      store.cached(spark, "/d", "b")(frame(2)) // pure lookup hit
      tries += 1
    }
    if (store.pendingReleaseCount > 0 && canary.get() != null)
      cancel("JVM did not process weak references within the retry window")
    assert(store.pendingReleaseCount == 0,
      "a lookup hit must sweep cleared anchors")
    val after = spark.sparkContext.getPersistentRDDs
    assert(aRdds.forall(r => !after.contains(r.id)),
      "blocks must be released by the hit-path sweep")
  }

  test("evicted then re-requested: rebuilds and serves the new frame") {
    val store = new DfCacheStore(1)
    var builds = 0
    def get() = store.cached(spark, "/d", "a") { builds += 1; frame(5) }
    get()
    store.cached(spark, "/d", "b")(frame(1)) // evicts a
    val back = get()
    assert(builds == 2)
    assert(back.count() == 5)
  }
}
