package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The release path for query-lifetime caches (VERDICT r8 item 1).
  *
  * Several pipeline operators materialize a shared intermediate — the
  * (doc, term) aggregate feeding both branches of [[graft.pipeline.TfIdf]],
  * the hot-cell membership frame of [[graft.pipeline.MinHashDedup]], the
  * fixed-point-lifted corpus of [[graft.pipeline.Clustering]] — because
  * Catalyst plans the two consumers as independent subtrees and an
  * uncached shared aggregate is scanned and tokenized once PER BRANCH
  * (the r5/r7 double-scan class, pinned by PlanAuditSpec). The returned
  * DataFrame depends on the cache, so the operator itself can never
  * unpersist eagerly — but a long-lived session (an HTTP service, a
  * notebook) that never releases accumulates one corpus-scale cached
  * relation per query until storage pressure evicts them.
  *
  * This registry is the middle ground: operators persist through
  * [[barrier]]/[[register]], which track the frame; the caller that owns
  * the session lifecycle calls [[releaseAll]] once the query's result is
  * fully consumed ([[graft.Verify]] after each result dump,
  * [[graft.Bench]] between timed queries). Releasing is ALWAYS
  * correctness-safe — every registered frame is deterministic by the
  * repo's bit-reproducibility conventions (fixed-point arithmetic, no
  * nondeterministic functions), so a released-then-reused frame merely
  * recomputes — which is also why releasing from one thread while
  * another query is mid-flight cannot corrupt a result, only slow it.
  *
  * [[collecting]] scopes registration to a block for tests that must
  * release exactly their own frames (the shared test session may hold
  * caches belonging to other suites' plans — CacheManager dedupes by
  * plan, so dropping a same-plan cache out from under another suite
  * would dissolve its pinned InMemoryTableScan shape).
  */
object Materialize {

  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Dataset[_]]()
  private val collector =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Dataset[_]]]()

  private def track(d: Dataset[_]): Unit = {
    live.add(d)
    val buf = collector.get()
    if (buf != null) buf += d
  }

  /** Self-healing prune: drop registry entries that are no longer cached
    * (storageLevel NONE). A session that clears caches out-of-band —
    * `spark.catalog.clearCache()`, a direct `unpersist`, or a second
    * registration of the same plan whose release dissolved the shared
    * CacheManager entry — leaves the registry holding Dataset references
    * whose cache is already gone; without pruning, a long-lived session
    * using clearCache-only hygiene accumulates them forever. Run on every
    * [[releaseAll]]/[[liveCount]] so the registry converges to the truth
    * regardless of which path dropped the cache.
    *
    * Scoped to the CALLER's shared state (ADVICE r10): probing
    * `storageLevel` touches the owning session's CacheManager, and a
    * registry accessor running for session X must not side-effect
    * entries belonging to session Y. The one exception is an entry whose
    * session has been STOPPED — its probe throws the stopped-context
    * error, nothing can ever release it, so it is dropped regardless of
    * owner. Only that SPECIFIC failure drops the entry (ADVICE r11): a
    * transient probe failure (an interrupt mid-probe, say) keeps the
    * entry registered — dropping it would orphan a still-cached frame
    * that `releaseAll` could no longer reach. */
  private def pruneStale(spark: SparkSession): Unit =
    live.asScala.foreach { d =>
      val stale =
        try {
          (d.sparkSession.sharedState eq spark.sharedState) &&
            d.storageLevel == StorageLevel.NONE
        } catch {
          // SparkContext.assertNotStopped throws IllegalStateException
          // ("Cannot call methods on a stopped SparkContext"); some probe
          // paths wrap it in SparkException with the same marker text.
          case _: IllegalStateException => true
          case e: org.apache.spark.SparkException
              if e.getMessage != null &&
                e.getMessage.toLowerCase.contains("stopped") => true
          case scala.util.control.NonFatal(_) => false // transient: keep
        }
      if (stale) live.remove(d)
    }

  /** Persist (MEMORY_AND_DISK — `Dataset.cache()`'s level, spilling
    * instead of forcing a recompute under pressure), run the count
    * BARRIER, and register for release. The barrier is the
    * jaccardPairs-style materialization fence: when the cached frame
    * feeds BOTH sides of a downstream join, the join's stages launch
    * concurrently and racing an unfilled cache would re-run the
    * expensive subtree per branch. */
  def barrier(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val out = df.persist(level)
    out.count()
    track(out)
    out
  }

  /** Persist + register WITHOUT a barrier — for caches that fill lazily
    * because their first consumer is sequential (no concurrent-branch
    * race), e.g. the k-means round-0 assignment over the lifted corpus. */
  def register(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val out = df.persist(level)
    track(out)
    out
  }

  /** Unpersist exactly these frames and drop them from the registry —
    * for operators that retire a cache mid-query (the jaccardPairs
    * signature handoff) and for [[collecting]]-scoped tests. */
  def release(frames: Seq[Dataset[_]]): Unit =
    frames.foreach { d =>
      live.remove(d)
      d.unpersist(blocking = false)
    }

  /** Release every registered frame belonging to this session's shared
    * state (caches live in SharedState, so `newSession()` clones share
    * them). Returns the number released. Call once per completed query
    * in any long-lived session. */
  def releaseAll(spark: SparkSession): Int = {
    pruneStale(spark)
    val mine = live.asScala.toSeq
      .filter(_.sparkSession.sharedState eq spark.sharedState)
    release(mine)
    mine.size
  }

  /** Registered-frame count for this session's shared state. */
  def liveCount(spark: SparkSession): Int = {
    pruneStale(spark)
    live.asScala.count(_.sparkSession.sharedState eq spark.sharedState)
  }

  /** Identity snapshot of this session's registered frames — the
    * test-side leak probe (MaterializeSpec and HttpServiceSpec assert on
    * WHICH frames are live, not on a count that other suites' leftovers
    * or a same-plan stale twin's prune could skew). */
  private[graft] def liveSnapshot(spark: SparkSession): Set[Dataset[_]] = {
    pruneStale(spark)
    live.asScala.toSet
      .filter(_.sparkSession.sharedState eq spark.sharedState)
  }

  /** Run `body`, returning its result plus exactly the frames it
    * registered from THIS thread — the test-side scope (see the class
    * doc for why tests must not releaseAll on a shared session). Not
    * reentrant: nested collecting scopes capture into the innermost
    * block only. */
  def collecting[T](body: => T): (T, Seq[Dataset[_]]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    (collectInto(buf)(body), buf.toSeq)
  }

  /** Run `body` in a [[collecting]] scope and release exactly the frames
    * it registered, whether it returns or throws — the per-micro-batch
    * scope of [[graft.streaming.MicroBatch.each]]. (`collecting` alone
    * loses its frames when `body` throws, leaving them cached in the
    * long-lived session.) */
  private[graft] def releasing[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    try collectInto(buf)(body) finally release(buf.toSeq)
  }

  private def collectInto[T](
      buf: scala.collection.mutable.ArrayBuffer[Dataset[_]])(body: => T): T = {
    val prev = collector.get()
    collector.set(buf)
    try body
    finally {
      if (prev == null) collector.remove() else collector.set(prev)
    }
  }
}
