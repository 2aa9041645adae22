package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.PlanReads
import org.apache.spark.sql.util.QueryExecutionListener

/** Release discipline for operators that persist or checkpoint
  * intermediates.
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
  *    or failure) whose plan reads one of them.
  *
  * "Reads" is decided on plans, never on timing: a persisted frame is read
  * when the plan holds its InMemoryRelation (matched by cache builder), a
  * checkpoint frame when the plan holds one of its LogicalRDD leaves
  * (matched by RDD id), and a frame is also read when a cache the plan
  * reads still has to be filled from it. So an action on another thread or
  * another query's action never frees a query's intermediates. The kind of
  * frame decides only HOW it is freed: `unpersist` for a persisted frame,
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
          if (actionReads.toOption.exists(r => kept.exists(_._2.sharesWith(r))) &&
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
      if (frame._2.caches.nonEmpty) frame._1.unpersist(false)
      else org.apache.spark.sql.graft.Checkpoints.release(frame._1)
    } catch { case _: Throwable => () }
}
