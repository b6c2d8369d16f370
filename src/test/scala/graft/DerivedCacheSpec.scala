package graft

import graft.index.DerivedCache
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one freshness / build-lock / LRU / release implementation behind
  * every index-derived artifact. Pure driver-side unit: no Spark jobs. */
class DerivedCacheSpec extends AnyFunSuite {

  /** A cache of strings whose released values are recorded. */
  private final class Fixture(slots: Int) {
    val released = new ConcurrentLinkedQueue[String]()
    val builds = new AtomicInteger(0)
    val cache = new DerivedCache[String, Long, String](slots,
      v => { released.add(v); () })
    def get(key: String, stamp: Long): String =
      cache.get(key, stamp) {
        builds.incrementAndGet()
        s"$key@$stamp#${builds.get()}"
      }
    def releasedSeq: Seq[String] = released.asScala.toSeq
  }

  test("one build per stamp: repeated gets with the same stamp hit") {
    val f = new Fixture(4)
    val v = f.get("a", 1L)
    assert(f.get("a", 1L) eq v)
    assert(f.get("a", 1L) eq v)
    assert(f.builds.get() == 1)
    assert(f.releasedSeq.isEmpty)
  }

  test("N threads missing on one key run one build") {
    val n = 8
    val cache = new DerivedCache[String, Long, String](4, _ => ())
    val builds = new AtomicInteger(0)
    val entered = new CountDownLatch(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val results = (1 to n).map { _ =>
        pool.submit(() => {
          entered.countDown()
          cache.get("k", 7L) {
            builds.incrementAndGet()
            // hold the build open until every caller has entered get, so
            // the others miss and queue on the key's build lock
            entered.await(10, TimeUnit.SECONDS)
            "built"
          }
        })
      }
      assert(results.map(_.get(20, TimeUnit.SECONDS)).forall(_ == "built"))
      assert(builds.get() == 1, s"${builds.get()} builds for one key and stamp")
    } finally pool.shutdownNow()
  }

  test("a changed stamp rebuilds and releases the replaced value exactly once") {
    val f = new Fixture(4)
    val v1 = f.get("a", 1L)
    val v2 = f.get("a", 2L)
    assert(v2 != v1 && f.builds.get() == 2)
    assert(f.releasedSeq == Seq(v1))
    assert(f.get("a", 2L) eq v2)
    val v3 = f.get("a", 3L)
    assert(f.releasedSeq == Seq(v1, v2), "each replaced value released once")
    assert(f.get("a", 3L) eq v3)
  }

  test("the LRU evicts and releases the eldest entry past `slots`") {
    val f = new Fixture(2)
    val a = f.get("a", 1L)
    val b = f.get("b", 1L)
    f.get("a", 1L) // touch a: b is now the least recently used
    val c = f.get("c", 1L)
    assert(f.releasedSeq == Seq(b), "the least-recently-used entry goes")
    assert(f.get("a", 1L) eq a)
    assert(f.get("c", 1L) eq c)
    assert(f.builds.get() == 3)
    f.get("b", 1L) // rebuilt; evicts the eldest of (a, c): a
    assert(f.builds.get() == 4)
    assert(f.releasedSeq == Seq(b, a))
    f.cache.clear()
    assert(f.releasedSeq.toSet == Set(b, a, c, s"b@1#4"), "clear releases all")
  }

  test("a stamp read before a concurrent mutation leaves the entry stale on " +
      "arrival; the next get with the new stamp rebuilds") {
    val tick = new AtomicLong(0L)
    var data = "v0"
    val cache = new DerivedCache[String, Long, String](4, _ => ())
    val builds = new AtomicInteger(0)
    def read(): String = {
      val stamp = tick.get() // read BEFORE the build, as the index does
      cache.get("k", stamp) {
        val seen = data
        // the first build is overtaken by a mutation after it read the data
        if (builds.incrementAndGet() == 1) { data = "v1"; tick.incrementAndGet() }
        seen
      }
    }
    assert(read() == "v0")
    // the entry carries stamp 0 but the tick is now 1: stale on arrival
    assert(read() == "v1", "the pre-mutation value must not be served again")
    assert(builds.get() == 2, "the next get with the new stamp must rebuild")
    assert(read() == "v1" && builds.get() == 2)
  }

  test("a build that throws publishes nothing; the next get retries") {
    val f = new Fixture(4)
    val v1 = f.get("a", 1L)
    val boom = intercept[IllegalStateException] {
      f.cache.get("a", 2L)(throw new IllegalStateException("build failed"))
    }
    assert(boom.getMessage == "build failed")
    assert(f.releasedSeq.isEmpty, "a failed build must not release the old value")
    assert(f.get("a", 1L) eq v1, "the old entry still serves its own stamp")
    val v2 = f.get("a", 2L)
    assert(v2.startsWith("a@2"))
    assert(f.releasedSeq == Seq(v1))
  }
}
