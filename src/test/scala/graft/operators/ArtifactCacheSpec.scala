package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

/** The one LRU memo behind the Dedup and Similarity artifact caches:
  * recency order, eviction with one drop per evicted value, staleness of
  * unpersisted relations, `clear`, and one build per missing key under
  * concurrent callers. */
class ArtifactCacheSpec extends graft.SparkSpec {

  private final class Recorder {
    val dropped = mutable.ArrayBuffer.empty[String]
    val builds = mutable.ArrayBuffer.empty[String]
    val cache = new ArtifactCache[String, String](2, drop = v => dropped.synchronized(dropped += v))
    def get(k: String): String = cache(k) { builds += k; s"v$k" }
  }

  test("a hit becomes most recently used, so the other entry is evicted") {
    val r = new Recorder
    r.get("a"); r.get("b")
    assert(r.get("a") == "va") // hit: no build, and a is now the newest
    r.get("c")                 // past the cap: evicts b, not a
    assert(r.dropped == Seq("vb"))
    r.get("a")
    assert(r.builds == Seq("a", "b", "c"))
    r.get("b") // b was evicted: rebuilt, evicting c (a was touched last)
    assert(r.builds == Seq("a", "b", "c", "b"))
    assert(r.dropped == Seq("vb", "vc"))
  }

  test("eviction past the cap drops each evicted value exactly once") {
    val r = new Recorder
    Seq("a", "b", "c", "d", "e").foreach(r.get)
    assert(r.dropped == Seq("va", "vb", "vc"))
    Seq("d", "e").foreach(r.get) // both still cached
    assert(r.builds == Seq("a", "b", "c", "d", "e"))
    assert(r.dropped == Seq("va", "vb", "vc"))
  }

  test("clear() drops every value and forgets every key") {
    val r = new Recorder
    r.get("a"); r.get("b")
    r.cache.clear()
    assert(r.dropped.sorted == Seq("va", "vb"))
    r.get("a")
    assert(r.builds == Seq("a", "b", "a"))
    r.cache.clear()
    assert(r.dropped.sorted == Seq("va", "va", "vb"))
  }

  test("a relation unpersisted elsewhere is rebuilt, not served") {
    val cache = ArtifactCache.relations[String](4)
    val builds = new AtomicInteger
    def get() = cache("k") {
      builds.incrementAndGet()
      ArtifactCache.persist(spark.range(10).toDF("id"))
    }
    val first = get()
    assert(ArtifactCache.isPersisted(first))
    assert((get() eq first) && builds.get == 1)
    first.unpersist(blocking = true) // released outside the cache
    val second = get()
    assert(builds.get == 2 && !(second eq first))
    assert(ArtifactCache.isPersisted(second))
    assert(second.count() == 10)
    cache.clear()
    assert(!ArtifactCache.isPersisted(second))
  }

  test("concurrent callers of one missing key run the build once") {
    val cache = new ArtifactCache[String, Object](4)
    val builds = new AtomicInteger
    val callers = 4
    val ready = new CountDownLatch(callers)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val results = (1 to callers).map { _ =>
        pool.submit(new Callable[Object] {
          def call(): Object = {
            ready.countDown(); go.await()
            cache("k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
          }
        })
      }
      ready.await(); go.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }
}
