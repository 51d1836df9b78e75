package graft.server

import java.util.concurrent.atomic.AtomicReference

/** The reference's background topics cache (C8): one refresher per cluster,
  * every `kafka-topics-cache-sleep-seconds` (default 300 s), feeding the
  * console dropdowns (`/root/reference/src/kbrowse/topics.clj:24-51`).
  *
  * Offline stand-in: the "cluster" is a fixture directory and its "topics"
  * are the record-log topics plus the catalog tables.
  */
final class TopicsCache(clusters: Seq[String], refreshSeconds: Int = 300) {

  private val state = new AtomicReference[Map[String, Set[String]]](Map.empty)

  def topics(cluster: String): Set[String] = state.get.getOrElse(cluster, Set.empty)
  def all: Map[String, Set[String]] = state.get

  def refresh(): Unit =
    state.set(clusters.map(c => c -> listTopics(c)).toMap)

  private def listTopics(cluster: String): Set[String] =
    graft.log.RecordLog.Topics.toSet ++ graft.core.Tables.All

  /** Daemon refresher thread, like the reference's future-per-cluster. */
  private val refresher = new Thread(() => {
    var running = true
    while (running) {
      try refresh() catch {
        case _: InterruptedException => running = false
        case _: Exception => ()
      }
      if (running)
        try Thread.sleep(refreshSeconds * 1000L)
        catch { case _: InterruptedException => running = false }
    }
  }, "graft-topics-cache")
  refresher.setDaemon(true)

  /** First refresh is synchronous so routes never observe an empty cache. */
  def start(): this.type = { refresh(); refresher.start(); this }
  def stop(): Unit = refresher.interrupt()
}
