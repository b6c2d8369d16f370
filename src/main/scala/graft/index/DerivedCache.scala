package graft.index

import scala.jdk.CollectionConverters._

/** A cache of state DERIVED from an index (a broadcast context snapshot, a
  * persisted RDD, a point-store directory, gate stats): the one copy of the
  * freshness, build-lock, LRU and release machinery every such artifact
  * shares.
  *
  * Freshness contract: `get(key, stamp)(build)` returns the cached value
  * only when the entry's stamp `==` the caller's stamp. The caller reads
  * the stamp (for a live index handle: the JVM-global mutation tick, the
  * persisted write epoch and the visible row count) BEFORE calling `get`,
  * so the build runs against state at least as new as its stamp: a
  * mutation that lands mid-build advances the tick and leaves the new
  * entry stale on arrival, and the next `get` rebuilds. A stale entry is
  * never served; at worst a current one is rebuilt.
  *
  * On a miss the build runs under a per-key lock after a re-check, so N
  * callers missing on one key run one build. A build that throws publishes
  * nothing. Publishing releases the replaced value; past `slots` entries the
  * least-recently-used one is evicted and released. `release` must tolerate
  * an in-flight user of the value (e.g. broadcast `unpersist`, not
  * `destroy`, when a running batch may still hold it). */
private[graft] final class DerivedCache[K, S, V](slots: Int, release: V => Unit) {
  private final class Entry(val stamp: S, val value: V)

  // access order: iteration starts at the least-recently-used entry
  private val entries = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true)
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[K, Object]()

  private def fresh(key: K, stamp: S): Option[V] = entries.synchronized {
    val e = entries.get(key)
    if (e != null && e.stamp == stamp) Some(e.value) else None
  }

  def get(key: K, stamp: S)(build: => V): V =
    fresh(key, stamp).getOrElse {
      buildLocks.computeIfAbsent(key, _ => new Object).synchronized {
        fresh(key, stamp).getOrElse {
          val value = build
          val dropped = entries.synchronized {
            val out = List.newBuilder[V]
            val replaced = entries.put(key, new Entry(stamp, value))
            if (replaced != null) out += replaced.value
            val it = entries.values.iterator
            while (entries.size > slots) { out += it.next().value; it.remove() }
            out.result()
          }
          dropped.foreach(releaseLogged)
          value
        }
      }
    }

  /** Drop (and release) every entry. */
  def clear(): Unit = {
    val dropped = entries.synchronized {
      val out = entries.values.asScala.map(_.value).toList
      entries.clear()
      out
    }
    dropped.foreach(releaseLogged)
  }

  private def releaseLogged(v: V): Unit =
    try release(v)
    catch {
      case scala.util.control.NonFatal(e) =>
        DerivedCache.log.warn("releasing a superseded derived value failed", e)
    }
}

private[graft] object DerivedCache {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[DerivedCache[_, _, _]])

  /** Slot count for a cache whose entries are small or never need evicting. */
  val Unbounded: Int = Int.MaxValue
}
