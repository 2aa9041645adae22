package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.PlanReads
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The one way library code caches a frame, and the release discipline
  * for operators that persist or checkpoint intermediates.
  *
  * [[hold]] persists a frame (always `MEMORY_AND_DISK`) and records the
  * instance it returns as one OWNER of the session's cache entry for that
  * plan; [[drop]] removes an owner and unpersists the entry only when no
  * owner is left. Spark keeps one cache entry per plan, so two owners of
  * the same plan — an operator and the product build it triggers, or two
  * builds on `Par.async` threads — share one entry, and without the count
  * the first owner's release would free it under the others. Owners are
  * keyed by the entry's cache builder, so an owner held before a
  * `clearCache()` is stale: dropping it never frees the fresh entry a
  * later [[hold]] of the same plan made. Dropping an instance twice is a
  * no-op the second time, and a frame persisted outside [[hold]] counts
  * as one owner. Registry and free run under one lock ([[hold]] and
  * [[drop]] run on `Par.async` threads and on the listener bus).
  *
  * Operators cache frames that feed several branches of ONE query (a
  * fingerprint table probed twice, a tf table feeding both training and
  * scoring) and checkpoint the states of their driver-paced loops. The
  * result is returned lazily, so the operator cannot free them before
  * returning: they must survive until the CALLER's terminal action. A
  * long-lived session must not accumulate every query's intermediates
  * either, and a library cannot rely on its caller's `clearCache()`.
  *
  * [[releaseAfterAction]] applies ONE rule to every frame it is given:
  *
  *  - a frame the result's plan does not read is freed at once;
  *  - the others are freed together by the first completed action (success
  *    or failure) whose plan reads all of them.
  *
  * "Reads" is decided on plans, never on timing: a persisted frame is read
  * when the plan holds its InMemoryRelation (matched by cache builder), a
  * checkpoint frame when the plan holds one of its LogicalRDD leaves
  * (matched by RDD id), and a frame is also read when a cache the plan
  * reads still has to be filled from it. The action must read ALL of them
  * because a held entry may be shared: another owner's action reads the
  * shared corpus but not this result's own frames, and freeing on it
  * would uncache frames a build is about to fill (Spark then fills a
  * builder the CacheManager no longer lists, and its blocks leak). So an
  * action on another thread or another query's action never frees a
  * query's intermediates. The kind of
  * frame decides only HOW it is freed: [[drop]] for a persisted frame,
  * [[org.apache.spark.sql.graft.Checkpoints.release]] for a checkpoint (so
  * pass a checkpoint itself, not only a cache built on it).
  *
  * Two contract limits remain. A result that is never acted on keeps its
  * read frames until `clearCache` or the end of the session. A
  * checkpoint-backed result is SINGLE-USE: its first action frees the
  * checkpoint, so run one terminal action (write/collect), or
  * `localCheckpoint(true)` the result first when several must follow.
  * Measured Spark 4.1 semantics of a violation (pinned by PipelineSpec's
  * single-use-contract test): re-acting on the SAME Dataset serves
  * byte-identical rows from its materialized AQE shuffle stages, and a
  * FRESH execution over the released plan fails loudly
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — never silently different rows.
  * The callback runs on the listener bus thread; `unpersist(blocking =
  * false)` and listener self-removal are both thread-safe.
  */
object Caching {

  /** Held instance → the cache builder of the entry it owns (by identity). */
  private val owners = new java.util.IdentityHashMap[DataFrame, AnyRef]()

  /** Persist `df` and record it as one owner of its cache entry. */
  def hold(df: DataFrame): DataFrame = owners.synchronized {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    PlanReads.cacheEntry(df).foreach(owners.put(df, _))
    df
  }

  /** Remove each frame as an owner; unpersist its entry when it was the
    * last owner of the entry the session holds now. */
  def drop(frames: DataFrame*): Unit = owners.synchronized {
    frames.foreach { df =>
      val held = Option(owners.remove(df))
      PlanReads.cacheEntry(df).foreach { entry =>
        if (held.forall(_ eq entry) && !owners.containsValue(entry)) df.unpersist(false)
      }
    }
  }

  /** Return `result` with `cached` released by the rule in the object doc. */
  def releaseAfterAction(result: DataFrame, cached: DataFrame*): DataFrame = {
    val resultReads = PlanReads.walk(result.queryExecution.withCachedData, throughFilled = false)
    val (kept, unread) = cached.map(df => (df, PlanReads.of(df)))
      .partition(_._2.sharesWith(resultReads))
    unread.foreach(free)
    if (kept.nonEmpty) {
      val manager = result.sparkSession.listenerManager
      val listener: QueryExecutionListener = new QueryExecutionListener {
        private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        private def release(qe: QueryExecution): Unit = {
          // The action has just filled the caches it read, so look through
          // every nested cache, filled or not.
          val actionReads = scala.util.Try(PlanReads.walk(qe.withCachedData, throughFilled = true))
          if (actionReads.toOption.exists(r => kept.forall(_._2.sharesWith(r))) &&
              done.compareAndSet(false, true)) {
            kept.foreach(free)
            manager.unregister(this)
          }
        }
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = release(qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = release(qe)
      }
      manager.register(listener)
    }
    result
  }

  /** Free a frame by its kind: unpersist a persisted frame, release a
    * checkpoint's RDD-level storage. */
  private def free(frame: (DataFrame, PlanReads)): Unit =
    try {
      if (frame._2.caches.nonEmpty) drop(frame._1)
      else org.apache.spark.sql.graft.Checkpoints.release(frame._1)
    } catch { case _: Throwable => () }
}
