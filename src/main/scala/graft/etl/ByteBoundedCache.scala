package graft.etl

/** Driver-side LRU cache bounded by the summed weight, in bytes, of its
  * entries rather than by their number: one entry may be a small schema
  * or a multi-megabyte bloom pack, so an entry cap bounds nothing. `weigh`
  * estimates an entry's retained bytes once, at insertion. Inserting past
  * `maxBytes` evicts least-recently-used entries until the total fits
  * again; an entry heavier than the whole bound is not kept. Callers must
  * not depend on a hit for correctness. Thread-safe. */
final class ByteBoundedCache[K, V](maxBytes: Long, weigh: (K, V) => Long) {
  require(maxBytes > 0L, s"maxBytes must be positive: $maxBytes")

  private val entries = new java.util.LinkedHashMap[K, (V, Long)](16, 0.75f, true)
  private var used = 0L

  def get(k: K): Option[V] = synchronized(Option(entries.get(k)).map(_._1))

  def put(k: K, v: V): Unit = {
    val w = weigh(k, v)
    synchronized {
      remove(k)
      if (w <= maxBytes) {
        entries.put(k, (v, w))
        used += w
        val it = entries.values.iterator
        while (used > maxBytes) { used -= it.next()._2; it.remove() }
      }
    }
  }

  def getOrElseUpdate(k: K)(v: => V): V = get(k).getOrElse {
    val nv = v
    put(k, nv)
    nv
  }

  def remove(k: K): Unit = synchronized {
    Option(entries.remove(k)).foreach(old => used -= old._2)
  }

  def removeIf(p: K => Boolean): Unit = synchronized {
    val it = entries.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { used -= e.getValue._2; it.remove() }
    }
  }

  /** (entries, summed weight in bytes) now held. */
  def footprint: (Int, Long) = synchronized((entries.size, used))
}
