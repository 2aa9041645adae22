package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.PlanReads
import org.apache.spark.storage.StorageLevel
import graft.functions.Caching

/** Release discipline: operators cache frames only through
  * [[Caching.hold]], which counts owners per cache entry, and hand them to
  * [[Caching.releaseAfterAction]], which frees each one at once when the
  * result never reads it, else after the first completed action that
  * reads all the frames the result reads — so a long-lived session does
  * not accumulate every query's
  * cached blocks (the round-7 advisory), and a nested build holding the
  * same plan cannot free its caller's frame. The listener fires on the
  * async listener bus, so assertions poll for the level change. */
class CachingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Cross-suite isolation for the GLOBAL zero-persistent-RDD
    * assertions below: a prior suite in the same JVM may have
    * CONSTRUCTED (without acting on) operators whose internal persists
    * or checkpoint blocks `clearCache` cannot see — those are that
    * suite's artifacts, not this suite's leaks. Drain everything
    * already persisted before asserting, so these tests pass under any
    * `testOnly` suite combination, not just the full-run order. */
  private def drainForeignPersists(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(r =>
      try r.unpersist(blocking = true) catch { case _: Throwable => () })
  }

  private def awaitReleased(df: DataFrame): Boolean = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (df.storageLevel != StorageLevel.NONE && System.nanoTime() < deadline)
      Thread.sleep(50)
    df.storageLevel == StorageLevel.NONE
  }

  /** Poll `live` until it reads 0 (the listener fires on the async bus). */
  private def awaitNone(live: => Int): Boolean = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (live > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    live == 0
  }

  test("releaseAfterAction: cached frame is unpersisted after the result's action") {
    val cached = Caching.hold(Seq(1L, 2L, 3L).toDF("x"))
    cached.count() // materialize
    assert(cached.storageLevel != StorageLevel.NONE)
    val result = Caching.releaseAfterAction(
      cached.groupBy().sum("x").withColumnRenamed("sum(x)", "s"), cached)
    assert(result.collect().map(_.getLong(0)).toSeq === Seq(6L))
    assert(awaitReleased(cached), "intermediate stayed cached after the action")
  }

  test("checkpoint-backed results survive unrelated actions, release on their own") {
    // The round-9 advisory fix: a localCheckpoint'd input has TRUNCATED
    // lineage, so releasing it on just any session action would strand
    // the result. Release must wait for an action whose plan actually
    // reads the checkpoint RDD.
    val ckpt = Seq(1L, 2L, 3L, 4L).toDF("x").localCheckpoint(true)
    val ckptRdds = ckpt.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(ckptRdds.nonEmpty && ckptRdds.forall(_.getStorageLevel != StorageLevel.NONE))
    val result = Caching.releaseAfterAction(
      ckpt.groupBy().sum("x").withColumnRenamed("sum(x)", "s"), ckpt)
    // unrelated actions must NOT release the checkpoint blocks
    Seq(9L).toDF("y").count()
    Seq(9L).toDF("y").collect()
    Thread.sleep(500) // give the listener bus time to (wrongly) fire
    assert(ckptRdds.forall(_.getStorageLevel != StorageLevel.NONE),
      "an unrelated action released the checkpoint the result still needs")
    // ...and the result still computes correctly
    assert(result.collect().map(_.getLong(0)).toSeq === Seq(10L))
    // after the result's OWN action, the checkpoint blocks are freed
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def live = ckptRdds.count(_.getStorageLevel != StorageLevel.NONE)
    while (live > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(live === 0, "checkpoint blocks survived the result's own action")
  }

  test("contract sweep: every caching operator self-releases after its action") {
    drainForeignPersists()
    // One query per operator family that persists an internal intermediate
    // (the round-8 sweep extended the discipline repo-wide). Each runs its
    // terminal action; no cached RDD may survive the listener.
    val wired = Seq("dedup_minhash_pairs", "dedup_simhash_pairs",
      "dedup_ngram_jaccard", "dedup_embedding_lsh", "sim_ivf_topk",
      "sim_lsh_topk", "sim_pq_topk", "events_funnel", "events_retention",
      "decontaminate", "decontaminate_bloom", "decontaminate_semantic",
      "pack_sequences_global", "tokenize_wordpiece", "wordcount_cms",
      "vocab_coverage", "text_langid_ngram", "text_lm_score",
      "text_ccnet_bucket", "text_tfidf_linear", "vocab_train", "tokenize_bpe",
      "tokenize_wordpiece_learned", "dedup_clusters", "dedup_clusters_best")
    for (name <- wired) {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, TestSpark.sf).collect()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def live = spark.sparkContext.getPersistentRDDs.size
      while (live > 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(live === 0, s"$name: $live persistent RDDs survived its action")
    }
  }

  test("pagerankConvergedDf: localCheckpoint(true) frees the loop checkpoint, 3 actions") {
    drainForeignPersists()
    // Checkpoint-backed results are single-use: their first action frees
    // the loop's checkpoint. A consumer that needs several actions
    // checkpoints the result into its own blocks — that checkpoint action
    // reads the loop's checkpoint, so it is the one that frees it.
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "cnt")
    val ranks = operators.Graph.pagerankConvergedDf(
      edges, epsE12 = 1000000L, maxRounds = 50)
    val loopRdds = ranks.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(loopRdds.nonEmpty && loopRdds.forall(_.getStorageLevel != StorageLevel.NONE))
    val own = ranks.localCheckpoint(true)
    assert(awaitNone(loopRdds.count(_.getStorageLevel != StorageLevel.NONE)),
      "the checkpoint action left the loop's checkpoint blocks alive")
    val first = own.orderBy("node_id").collect()
    val second = own.orderBy("node_id").collect() // would throw on released blocks
    assert(first.toSeq === second.toSeq)
    assert(first.length === 3)
    assert(own.count() === 3L) // and a third, differently-shaped action
    org.apache.spark.sql.graft.Checkpoints.release(own) // caller-owned copy
    assert(awaitNone(spark.sparkContext.getPersistentRDDs.size),
      "persistent RDDs survived the caller's release")
  }

  test("releaseAfterAction: unread frames go at once; another thread's action frees none") {
    drainForeignPersists()
    val read = Caching.hold(Seq(1L, 2L, 3L).toDF("x"))
    val unread = Caching.hold(Seq(7L).toDF("y"))
    read.count(); unread.count()
    val result = Caching.releaseAfterAction(
      read.groupBy().sum("x").withColumnRenamed("sum(x)", "s"), read, unread)
    // a passed frame the result never reads is freed with no action at all
    assert(awaitReleased(unread), "a frame the result does not read stayed cached")
    // an unrelated action on a Par.async thread must not free `read`
    graft.functions.Par.async {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      Seq(9L).toDF("z").count()
    }(): Unit
    Thread.sleep(500) // give the listener bus time to (wrongly) fire
    assert(read.storageLevel != StorageLevel.NONE,
      "another thread's action released a frame the result still reads")
    // the result's own action — a Parquet write — releases it
    val out = java.nio.file.Files.createTempDirectory("graft-release").toString + "/out"
    result.write.parquet(out)
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).toSeq === Seq(6L))
    assert(awaitReleased(read), "the result's own action left its frame cached")
  }

  test("kcoreDf, lpaDf and graphTopK free their final loop states after the action") {
    drainForeignPersists()
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (2L, 5L), (5L, 6L)).toDF("a", "b")
    // Held in vals: a leaked checkpoint stays strongly reachable through
    // the result's plan, so the ContextCleaner cannot hide the leak.
    val kcore = operators.Graph.kcoreDf(edges, k = 3L)
    val lpa = operators.Graph.lpaDf(edges)
    val graph = operators.Similarity.graphTopK(spark, TestSpark.sf)
    assert(kcore.collect().length === 6)
    assert(lpa.collect().length === 6)
    assert(graph.collect().nonEmpty)
    assert(awaitNone(spark.sparkContext.getPersistentRDDs.size),
      s"${spark.sparkContext.getPersistentRDDs.size} persistent RDDs " +
        "survived the three results' actions")
  }

  test("operator-level: substringDup's window cache self-releases after its action") {
    drainForeignPersists()
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    val out = operators.Dedup.substringDupDf(docs)
    out.collect()
    // The operator's internal persist is anonymous; observe the session-wide
    // effect instead: no cached RDD blocks survive the action + listener.
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def live = spark.sparkContext.getPersistentRDDs.size
    while (live > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(live === 0, s"$live persistent RDDs survived the terminal action")
  }

  test("hold/drop: owners of one plan keep its entry until the last drops") {
    drainForeignPersists()
    def plan(): DataFrame = spark.range(0, 1000).selectExpr("id * 3 AS y")
    def cached(): Boolean = PlanReads.cacheEntry(plan()).nonEmpty
    val main = Caching.hold(plan())
    val other = graft.functions.Par.async(Caching.hold(plan()))()
    assert(main.count() === 1000L)
    assert(PlanReads.cacheEntry(main).get eq PlanReads.cacheEntry(other).get,
      "two holds of one plan did not share its cache entry")
    Caching.drop(main)
    assert(cached(), "dropping one owner freed the entry under the other")
    Caching.drop(main)
    assert(cached(), "dropping the same instance twice counted it twice")
    Caching.drop(other)
    assert(!cached(), "the last owner's drop left the entry cached")
    // An owner from before clearCache() is stale: dropping it must not
    // free the fresh entry a later hold of the same plan made.
    val stale = Caching.hold(plan())
    spark.catalog.clearCache()
    val fresh = Caching.hold(plan())
    Caching.drop(stale, main)
    assert(cached(), "a stale owner freed the fresh entry")
    Caching.drop(fresh)
    assert(!cached(), "the fresh owner's drop left the entry cached")
  }

  test("releaseAfterAction: another owner's action on a shared entry frees nothing") {
    drainForeignPersists()
    def plan(): DataFrame = spark.range(0, 1000).selectExpr("id * 5 AS y")
    val caller = Caching.hold(plan())
    val shared = Caching.hold(plan())
    val own = Caching.hold(shared.selectExpr("y + 1 AS z"))
    val result = Caching.releaseAfterAction(own.crossJoin(shared.limit(1)), shared, own)
    assert(caller.count() === 1000L) // reads the shared entry only
    Thread.sleep(500) // give the listener bus time to (wrongly) fire
    assert(own.storageLevel != StorageLevel.NONE,
      "an action on the shared entry freed the result's own frame")
    assert(result.count() === 1000L)
    assert(awaitReleased(own), "the result's own action left its frame cached")
    assert(caller.storageLevel != StorageLevel.NONE,
      "the result's release freed the entry its caller still holds")
    Caching.drop(caller)
  }

  test("cold evalNavInsert keeps its corpus cached through the nested builds") {
    drainForeignPersists()
    // An empty products root makes the navgraph (main thread) and navdelta
    // (Par.async) builds run cold; both hold the same corpus plan as the
    // eval and release it after their own writes.
    val root = java.nio.file.Files.createTempDirectory("graft-acroot").toFile
    spark.conf.set("spark.graft.products.dir", root.getAbsolutePath)
    val t0 = System.nanoTime()
    try {
      val result = operators.Similarity.evalNavInsert(spark, TestSpark.sf)
      Thread.sleep(500) // let the listener bus drain the builds' releases
      assert(PlanReads.cacheEntry(operators.Similarity.corpus(spark, TestSpark.sf)).nonEmpty,
        "a nested build's release uncached the eval's corpus")
      val caches = result.queryExecution.withCachedData
        .collectWithSubqueries { case r: InMemoryRelation => r.cacheBuilder }.distinct
      assert(caches.size === 2, "the result should read the corpus and edges caches")
      assert(result.collect().length === 2)
      assert(awaitNone(spark.sparkContext.getPersistentRDDs.size),
        "persistent RDDs survived the eval's own action")
    } finally {
      spark.conf.unset("spark.graft.products.dir")
      graft.sources.ArtifactCache.rmTree(root.getAbsolutePath)
      info(f"cold evalNavInsert probe: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }
}
