package graft.serving

import graft.serving.DashboardServer.Key

/** The dashboard's response memo: 200 bodies by [[Key]], bounded by the
  * bytes it holds (each entry is charged its UTF-8 body plus its key's
  * strings, so many tiny answers cannot hold unbounded keys) and evicted
  * least-recently-used first. Lookups and inserts take the lock; a miss
  * is computed outside it, so two concurrent misses on one key may both
  * compute — they produce the same body, and the later insert replaces
  * the earlier one. `maxBytes` is set only by specs. */
private[serving] final class ResponseMemo(maxBytes: Long = ResponseMemo.MaxBytes) {
  private val lru = new java.util.LinkedHashMap[Key, Array[Byte]](16, 0.75f, true)
  private var held = 0L

  private def charge(k: Key, body: Array[Byte]): Long = k.bytes + body.length

  def get(k: Key): Option[Array[Byte]] = synchronized(Option(lru.get(k)))

  /** Store `body` under `k`, then evict from the least recently used end
    * until the memo fits its bound; a body larger than the bound is not
    * stored at all. */
  def put(k: Key, body: Array[Byte]): Unit = synchronized {
    if (charge(k, body) <= maxBytes) {
      Option(lru.put(k, body)).foreach(old => held -= charge(k, old))
      held += charge(k, body)
      val it = lru.entrySet.iterator
      while (held > maxBytes) {
        val e = it.next()
        held -= charge(e.getKey, e.getValue)
        it.remove()
      }
    }
  }

  def size: Int = synchronized(lru.size)

  def bytes: Long = synchronized(held)

  def clear(): Unit = synchronized { lru.clear(); held = 0L }
}

private[serving] object ResponseMemo {
  /** 8 MiB: room for hundreds of the largest bodies (1,500 scatter
    * points, about 35 KB) and tens of thousands of small ones; the seeded
    * `perfbench` listing stream of about 1,000 requests fills under 0.2 MB. */
  val MaxBytes: Long = 8L << 20
}
