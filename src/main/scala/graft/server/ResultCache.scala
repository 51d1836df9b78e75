package graft.server

/** The reference's query-result cache (S7): completed rendered responses,
  * ≤ 4 MB each, kept for 60 minutes / 100 entries, keyed by the query's
  * canonicalized argument list (`/root/reference/src/kbrowse/core.clj:41-54`).
  * `/cached` replays a hit without touching the data at all.
  *
  * It caches RENDERED BYTES, not data — deliberately not `df.cache()`
  * (SURVEY.md §2.1 S7). Key canonicalization here sorts `k=v` pairs; the
  * reference is insertion-order-sensitive — a documented divergence
  * (SURVEY.md §7.4 item 6) that makes logically-equal queries share one
  * entry.
  */
final class ResultCache(
    maxItems: Int = 100,
    ttlMillis: Long = 60L * 60 * 1000,
    itemSizeLimit: Int = 4 * 1024 * 1024) {

  private case class Entry(value: String, at: Long)

  private val map = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      this.size() > maxItems
  }

  /** Canonical cache key: sorted `k=v` list. */
  def key(args: Map[String, String]): String =
    args.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&")

  def get(k: String): Option[String] = map.synchronized {
    Option(map.get(k)).flatMap { e =>
      if (System.currentTimeMillis() - e.at > ttlMillis) { map.remove(k); None }
      else Some(e.value)
    }
  }

  /** Cache iff within the per-item byte budget (the reference aborts
    * buffering past 4 MB with a char-0 marker; same outcome here). */
  def put(k: String, v: String): Unit =
    if (v.length <= itemSizeLimit) map.synchronized {
      map.put(k, Entry(v, System.currentTimeMillis())); ()
    }

  def size: Int = map.synchronized(map.size())

  /** A streamed response bound for key `k`: [[Tee.out]] passes each chunk
    * to `sink` and buffers it until the buffer passes the per-item
    * budget; [[Tee.commit]] then caches the buffered response iff it
    * never did. */
  def tee(k: String, sink: String => Unit): Tee = new Tee(k, sink)

  final class Tee private[ResultCache] (k: String, sink: String => Unit) {
    private var buffer = new java.lang.StringBuilder()

    /** False once the response has outgrown the budget (and the buffer
      * has been dropped). */
    private[server] def buffering: Boolean = buffer != null

    val out: String => Unit = s => {
      sink(s)
      if (buffer != null) {
        buffer.append(s)
        if (buffer.length > itemSizeLimit) buffer = null
      }
    }

    def commit(): Unit = if (buffer != null) put(k, buffer.toString)
  }
}
