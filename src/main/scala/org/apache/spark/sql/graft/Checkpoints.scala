// Lives in org.apache.spark.sql.graft to reach the private[sql] LogicalRDD
// node and cache builder (same access route as the native expressions in
// this package).
package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation,
  InMemoryTableScanExec}

/** Release the storage behind `Dataset.localCheckpoint`.
  *
  * `localCheckpoint(true)` persists the query's RDD at the RDD level and
  * wraps it in a LogicalRDD — the Dataset-level `unpersist()` only consults
  * the CacheManager, so the checkpoint blocks survive it (and survive
  * `catalog.clearCache()` too): every checkpointed training pass or
  * connected-components round would otherwise park its blocks until the
  * ContextCleaner happens to GC the RDD reference. Iterative operators call
  * [[release]] on a superseded checkpoint frame to free the blocks
  * deterministically.
  */
object Checkpoints {

  /** Unpersist the RDDs backing every LogicalRDD in `df`'s plan. Safe on
    * non-checkpointed frames (no LogicalRDD → no-op); non-blocking. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}

/** Persisted caches (by cache builder, an identity handle) and checkpoint
  * RDDs (by id): what a plan reads, or what a frame itself is. */
final case class PlanReads(caches: List[AnyRef], rdds: Set[Int]) {
  def sharesWith(o: PlanReads): Boolean =
    caches.exists(c => o.caches.exists(_ eq c)) || rdds.exists(o.rdds)
}

object PlanReads extends AdaptiveSparkPlanHelper {

  /** `df`'s own cache when it is persisted, else its checkpoint RDDs. */
  def of(df: DataFrame): PlanReads = cacheEntry(df) match {
    case Some(b) => PlanReads(List(b), Set.empty[Int])
    case None => PlanReads(Nil,
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet)
  }

  /** The cache builder of the session's current cache entry for `df`'s
    * plan, if it is persisted. */
  def cacheEntry(df: DataFrame): Option[AnyRef] =
    df.sparkSession.sharedState.cacheManager.lookupCachedData(df)
      .map(_.cachedRepresentation.cacheBuilder)

  /** Walk `plan` and, through each cache it reads, the physical plan that
    * fills that cache — only while the cache is not yet filled, unless
    * `throughFilled`. */
  def walk(plan: LogicalPlan, throughFilled: Boolean): PlanReads = {
    var caches = List.empty[CachedRDDBuilder]
    var rdds = Set.empty[Int]
    def cache(b: CachedRDDBuilder): Unit =
      if (!caches.exists(_ eq b)) {
        caches ::= b
        if (throughFilled || !b.isCachedColumnBuffersLoaded)
          collectWithSubqueries(b.cachedPlan) {
            case scan: InMemoryTableScanExec => cache(scan.relation.cacheBuilder)
            case scan: RDDScanExec => rdds += scan.rdd.id
          }: Unit
      }
    plan.foreachWithSubqueries {
      case lr: LogicalRDD => rdds += lr.rdd.id
      case r: InMemoryRelation => cache(r.cacheBuilder)
      case _ => ()
    }
    PlanReads(caches, rdds)
  }
}
