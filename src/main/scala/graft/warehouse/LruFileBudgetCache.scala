package graft.warehouse

/** The one driver-side cache shape: an LRU map whose residency is
  * budgeted in caller-chosen units (files, bytes, rels, entries).
  * Eviction drops least-recently-used entries until the total fits the
  * budget, but never the entry just inserted — a single huge table
  * re-reading its sidecar on every call would be strictly worse than
  * holding it (the cache is an accelerator; eviction only costs a
  * re-read).
  *
  * Sidecar caches also keep a bounded admission memo beside the map:
  * keyed by (sidecar fingerprint, budget), it records what a sizing job
  * decided — the admitted parts and their size, empty parts for a
  * refusal — so a refused or partly admitted sidecar costs one sizing
  * job per sidecar generation, not one per read.
  *
  * @param budget  residency bound, read at every insert (a conf can move it)
  * @param sizeOf  an entry's size in budget units, computed once at put
  * @param onEvict run once for every entry the budget evicts
  */
final class LruFileBudgetCache[K, V](budget: () => Long, sizeOf: V => Long,
                                     onEvict: V => Unit = (_: V) => ()) {
  // size is stored beside the value: the eviction scan runs on every
  // insert, and a sizeOf that walks the entry (e.g. a FileIndex
  // materializing its path array) would turn each insert into
  // O(resident entries × files) of allocation
  private val map = new java.util.LinkedHashMap[K, (V, Long)](16, 0.75f, true)
  private var total = 0L

  private val admissions =
    new java.util.LinkedHashMap[(String, Long), (Seq[Int], Long)](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Seq[Int], Long)]): Boolean =
        size() > LruFileBudgetCache.MaxAdmissions
    }

  /** The cached value (refreshing its recency), or null when absent. */
  def get(k: K): V = map.synchronized {
    val e = map.get(k)
    if (e == null) null.asInstanceOf[V] else e._1
  }

  def put(k: K, v: V): Unit = {
    val evicted = map.synchronized {
      val size = sizeOf(v)
      val old = map.put(k, (v, size))
      if (old != null) total -= old._2
      total += size
      val out = Vector.newBuilder[V]
      val it = map.entrySet().iterator()
      while (total > budget() && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) {
          total -= e.getValue._2
          out += e.getValue._1
          it.remove()
        }
      }
      out.result()
    }
    evicted.foreach(onEvict)
  }

  def remove(k: K): Unit = map.synchronized {
    val old = map.remove(k)
    if (old != null) total -= old._2
  }

  def removeIf(pred: K => Boolean): Unit = map.synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (pred(e.getKey)) { total -= e.getValue._2; it.remove() }
    }
  }

  /** (resident entries, resident size in budget units). */
  def resident: (Int, Long) = map.synchronized { (map.size(), total) }

  /** The memoized admission of a sidecar generation under `budget`. */
  def admission(fingerprint: String, budget: Long): Option[(Seq[Int], Long)] =
    admissions.synchronized {
      Option(admissions.get((fingerprint, budget)))
    }

  def admit(fingerprint: String, budget: Long,
            decided: (Seq[Int], Long)): Unit =
    admissions.synchronized { admissions.put((fingerprint, budget), decided); () }
}

object LruFileBudgetCache {
  /** Bound on memoized admissions per cache: sidecar generations rotate,
    * so old fingerprints age out instead of accumulating.
    */
  private val MaxAdmissions = 1024
}
