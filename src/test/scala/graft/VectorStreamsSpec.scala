package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventStreams, VectorStreams}
import graft.operators.Similarity

/** The streaming IVF-PQ index ingest must produce bit-identical rows to
  * the batch index build — the train-offline/serve-online contract. */
class VectorStreamsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("streaming ivfpq ingest equals the batch index build row for row") {
    val dir = Paths.get("target", "test-scratch", "vecstream")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.ivfPqIngestStream(spark, dir.toString, TestSpark.sf),
        "t_vecingest", mode = "append")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    val batch = Similarity.ivfPqTrainedCodes(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq,
      "streamed index rows diverge from the batch build")
    // sanity: the index is not degenerate — multiple cells and codes occur
    assert(streamed.map(_._2).distinct.length > 1)
    assert(streamed.map(_._3).distinct.length > 1)
  }

  test("served streaming ingest (artifacts from the persisted index) matches too") {
    // The full production loop: the index builds once on disk, the stream
    // encodes arrivals against the STORED centroids/codebook — rows must
    // still be bit-identical to the batch build, proving online ingest
    // cannot drift from the offline index version it serves beside.
    val dir = Paths.get("target", "test-scratch", "vecstream_served")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val idxPath = Paths.get("target", "test-scratch", "vecstream_served_idx")
    // A leftover index from an OLDER layout (e.g. pre-manifest) correctly
    // refuses to serve (fail-loud validation) — start from a clean dir so
    // this test exercises the build-and-serve loop, not stale scratch.
    graft.sources.ArtifactCache.rmTree(idxPath.toString)
    val idxDir = idxPath.toAbsolutePath.toString
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.ivfPqIngestStreamServed(spark, dir.toString,
          TestSpark.sf, indexDir = Some(idxDir)),
        "t_vecingest_served", mode = "append")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    val batch = Similarity.ivfPqTrainedCodes(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(streamed.toSeq === batch.toSeq,
      "served-ingest rows diverge from the batch index build")
  }

  test("streaming sq8 encode matches an independent recompute; codes reconstruct") {
    val dir = Paths.get("target", "test-scratch", "vecstream_sq")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.sqEncodeStream(spark, dir.toString, TestSpark.sf),
        "t_vecingest_sq", mode = "append")
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    // Independent model + encode recompute over the collected corpus —
    // NOT the shared column expression, so a drift in either side fails.
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .selectExpr("vec_id", "cast(embedding as array<double>)")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val dim = vecs.head._2.length
    val mns = (0 until dim).map(i => vecs.map(_._2(i)).min)
    val mxs = (0 until dim).map(i => vecs.map(_._2(i)).max)
    val steps = (0 until dim).map(i =>
      if (mxs(i) > mns(i)) (mxs(i) - mns(i)) / 255.0 else 0.0)
    val expected = vecs.map { case (id, v) =>
      (id, v.indices.map(i =>
        if (steps(i) > 0) math.round((v(i) - mns(i)) / steps(i)) else 0L).toSeq)
    }
    assert(streamed.length === expected.length)
    assert(streamed.toSeq === expected.toSeq,
      "streamed SQ8 codes diverge from the independent encode")
    // codes are genuine one-byte integers and reconstruct within step/2
    assert(streamed.forall(_._2.forall(c => c >= 0L && c <= 255L)))
    for (((id, q), (_, v)) <- streamed.zip(vecs); i <- 0 until dim) {
      val dec = mns(i) + q(i) * steps(i)
      assert(math.abs(dec - v(i)) <= steps(i) / 2 + 1e-12,
        s"vec $id dim $i reconstructs outside the quantization bound")
    }
  }

  test("streaming range alert + dedup tail equals the batch radius query") {
    val dir = Paths.get("target", "test-scratch", "vecstream_range")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.rangeAlertStream(spark, dir.toString, TestSpark.sf),
        "t_rangealert", mode = "append")
      .as[(Long, Long, Long)].collect()
    // sink-side dedup (a pair alerts once per agreeing band), then
    // restrict to the batch twin's query ids: the replayed corpus must
    // reproduce the batch radius result minus the self-pairs the probe
    // excludes by contract.
    val got = streamed.toSet.filter(_._1 < 10L)
    val batch = graft.operators.Similarity.rangeSearch(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect()
      .filter(t => t._1 != t._2).toSet
    assert(got === batch,
      "streamed range alerts diverge from the batch radius query")
    assert(streamed.forall(_._3 >= graft.operators.Similarity.RangeThrE4))
  }

  test("streaming health scores aggregate to the batch health row exactly") {
    val dir = Paths.get("target", "test-scratch", "vecstream_health")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.healthScoreStream(spark, dir.toString, TestSpark.sf),
        "t_health", mode = "append")
      .as[(Long, Long, Long)].collect() // (vec_id, nrm_e4, cos_e4)
    def r(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val batch = Similarity.embeddingHealth(spark, TestSpark.sf).collect().head
    // The replayed per-vector scores must REAGGREGATE to the batch
    // diagnostic field-for-field — the monitor and the report are the
    // same numbers by construction, not approximately.
    assert(streamed.length.toLong === batch.getAs[Long]("n_vectors"))
    assert(streamed.map(_._2).min === batch.getAs[Long]("norm_min_e4"))
    assert(streamed.map(_._2).max === batch.getAs[Long]("norm_max_e4"))
    assert(r(streamed.map(_._2).sum * 1.0 / streamed.length) ===
      batch.getAs[Long]("norm_mean_e4"))
    assert(r(streamed.map(_._3).sum * 1.0 / streamed.length) ===
      batch.getAs[Long]("aniso_e4"))
    // every vector scored exactly once
    assert(streamed.map(_._1).distinct.length === streamed.length)
  }

  test("streaming knn probe + ranking tail equals the batch knn graph") {
    val dir = Paths.get("target", "test-scratch", "vecstream_knn")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.knnProbeStream(spark, dir.toString, TestSpark.sf),
        "t_knnprobe", mode = "append")
      .as[(Long, Long, Long, Long)].collect() // (src, dst, band_idx, sim_e4)
    assert(streamed.nonEmpty)
    assert(streamed.forall(r => r._1 != r._2), "self-match leaked through")
    // multi-band hits agree on the score (the verify is a pure pair function)
    for (((_, _), rows) <- streamed.groupBy(r => (r._1, r._2)))
      assert(rows.map(_._4).distinct.length === 1)
    // ranking tail (dedup + top-k per src) == the batch knn graph exactly
    val tail = streamed.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.toSeq.map(r => (r._2, r._4)).distinct
        .sortBy { case (dst, sim) => (-sim, dst) }
        .take(Similarity.KnnK).zipWithIndex
        .map { case ((dst, sim), i) => (src, dst, sim, i + 1L) }
    }.toSet
    val batch = Similarity.knnGraph(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(tail === batch, "streamed probe + post-step diverged from batch")
  }

  test("streaming graph probe equals the batch beam search verbatim") {
    // The 31st twin: arriving query vectors walk the RAM-resident
    // navigable-graph replica per row. Replaying the corpus, the rows for
    // the batch query set (vec_id < 10) must equal sim_graph_topk's
    // output BIT-identically — same entry, same schedule, same HALF_UP
    // e4 scores, same (sim desc, cid) ties.
    val dir = Paths.get("target", "test-scratch", "vecstream_graph")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.graphProbeStream(spark, dir.toString, TestSpark.sf),
        "t_graphprobe", mode = "append")
      .as[(Long, Long, Long, Long)].collect()
    // Every replayed vector got a full ranked answer.
    val n = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet").count()
    assert(streamed.map(_._1).distinct.length.toLong === n)
    assert(streamed.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._4).sorted.toSeq == (1L to rs.length.toLong) })
    val batch = Similarity.graphTopK(spark, TestSpark.sf)
      .select("qid", "cid", "sim_e4", "rn")
      .as[(Long, Long, Long, Long)].collect()
    val streamedQ = streamed.filter(_._1 < 10).sortBy(r => (r._1, r._4))
    assert(streamedQ.toSeq === batch.sortBy(r => (r._1, r._4)).toSeq,
      "online walk diverged from the batch beam search")
  }

  test("streaming layered-banded probe equals the batch banded-entry search verbatim") {
    // The 33rd twin — the entry-strategy table's production config
    // online: per-row banded entry selection + the LayeredRounds walk
    // must reproduce sim_graph_layered_banded BIT-identically for the
    // batch query set on a replayed corpus.
    val dir = Paths.get("target", "test-scratch", "vecstream_graph_lb")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.graphLayeredProbeStream(spark, dir.toString,
          TestSpark.sf),
        "t_graphlbprobe", mode = "append")
      .as[(Long, Long, Long, Long)].collect()
    val n = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet").count()
    assert(streamed.map(_._1).distinct.length.toLong === n)
    assert(streamed.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._4).sorted.toSeq == (1L to rs.length.toLong) })
    val batch = Similarity.graphLayeredBandedTopK(spark, TestSpark.sf)
      .select("qid", "cid", "sim_e4", "rn")
      .as[(Long, Long, Long, Long)].collect()
    val streamedQ = streamed.filter(_._1 < 10).sortBy(r => (r._1, r._4))
    assert(streamedQ.toSeq === batch.sortBy(r => (r._1, r._4)).toSeq,
      "online banded-entry walk diverged from the batch search")
  }

  test("graph probe refuses a replica past the configured byte bound, loudly") {
    // The serving replica is RAM-resident by design; a corpus past
    // driver memory must fail at stream CONSTRUCTION with the sharding
    // answer in the message, not as an opaque OOM mid-collect. Planted
    // over-bound: any positive corpus estimate exceeds a 1-byte bound.
    val dir = Paths.get("target", "test-scratch", "vecstream_graph_guard")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.conf.set("spark.graft.serving.maxReplicaBytes", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        VectorStreams.graphProbeStream(spark, dir.toString, TestSpark.sf)
      }
      assert(e.getMessage.contains("maxReplicaBytes") &&
        e.getMessage.contains("shard"),
        s"guard message must name the knob and the remedy: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.serving.maxReplicaBytes")
    // Under the default (driver-heap-derived) bound the same corpus
    // constructs fine — the parity test above covers the walk itself.
  }

  test("rrf fusion over a streamed ANN sink equals the independent rank fold") {
    // The hybrid family's ONLINE claim, made code: the streaming ANN
    // probe maintains a sink table; ranking it per query and fusing with
    // the lexical tower through the SAME rrfFuse core the batch queries
    // use must produce the RRF result an independent driver-side fold
    // computes from the two rank tables. Rank-only fusion means the
    // streamed tower needs no score calibration against the batch one.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = Paths.get("target", "test-scratch", "vecstream_fuse")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val sink = EventStreams.runToCompletion(
      spark,
      VectorStreams.knnProbeStream(spark, dir.toString, TestSpark.sf),
      "t_fuseprobe", mode = "append") // (src, dst, band_idx, sim_e4)
    // Semantic tower: dedup multi-band hits, rank per arriving query.
    val wS = Window.partitionBy("qid").orderBy(desc("sim_e4"), asc("cid"))
    val sem = sink.filter(col("src") < Similarity.HybridNq)
      .groupBy(col("src").as("qid"), col("dst").as("cid"))
      .agg(max("sim_e4").as("sim_e4"))
      .withColumn("r", row_number().over(wS).cast("long"))
      .filter(col("r") <= Similarity.HybridDepth)
      .select(col("qid"), col("cid"), col("r").as("r_sem"))
    // Lexical tower: the shared pair product, the batch queries' own.
    val jac = graft.operators.Dedup.jaccardPairsShared(spark, TestSpark.sf)
    val wL = Window.partitionBy("qid").orderBy(desc("jac_e4"), asc("cid"))
    val lex = jac.filter(col("d1") < Similarity.HybridNq)
        .select(col("d1").as("qid"), col("d2").as("cid"), col("jac_e4"))
      .unionAll(jac.filter(col("d2") < Similarity.HybridNq)
        .select(col("d2").as("qid"), col("d1").as("cid"), col("jac_e4")))
      .withColumn("r", row_number().over(wL).cast("long"))
      .filter(col("r") <= Similarity.HybridDepth)
      .select(col("qid"), col("cid"), col("r").as("r_lex"))
    val fused = Similarity.rrfFuse(lex, sem, Similarity.HybridTopK)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(fused.nonEmpty)
    // Independent fold over the two collected rank tables.
    val lexM = lex.as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val semM = sem.as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    def term(r: Long) = math.round(10000.0 / (Similarity.RrfK + r))
    val expected = (lexM.keySet ++ semM.keySet).toSeq
      .map { case (q, c) =>
        (q, c, lexM.getOrElse((q, c), 0L), semM.getOrElse((q, c), 0L),
          lexM.get((q, c)).map(term).getOrElse(0L) +
            semM.get((q, c)).map(term).getOrElse(0L))
      }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._5, t._2)).take(Similarity.HybridTopK)
          .zipWithIndex.map { case ((q, c, rl, rs, f), i) =>
            (q, c, rl, rs, f, i + 1L)
          }
      }.toSet
    assert(fused.toSet === expected,
      "streamed-sink fusion diverged from the independent RRF fold")
    spark.catalog.clearCache()
  }

  test("the per-row encoder matches the batch argmin on a static frame too") {
    // Same encoder, batch frame in, no streaming machinery — pins that the
    // literal-array expressions are the load-bearing equality, not the
    // stream harness.
    val (cents, cb, full, nv, af, rsubs) =
      Similarity.ivfPqTrainedModel(spark, TestSpark.sf)
    graft.functions.Caching.drop(full, nv, af, rsubs)
    val viaColumns = VectorStreams.ivfPqEncodeColumns(
        graft.sources.Tables.embeddings(spark, TestSpark.sf), cents, cb)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    val batch = Similarity.ivfPqTrainedCodes(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(viaColumns.toSeq === batch.toSeq)
  }

  test("streaming insert twin: one replayed batch reproduces the batch delta exactly") {
    // Index maintenance goes continuous: the last NavInsertBatch ids
    // arrive as ONE trigger against a base replica of the rest; the
    // emitted delta must equal navInsertDf over the full corpus —
    // every class, every cap, every tie — because the per-trigger
    // local algorithm replays the batch arithmetic (band eligibility
    // counts base + trigger, HALF_UP e4, identical window orders).
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val cut = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
      .head().getLong(0) - Similarity.NavInsertBatch + 1L
    val baseDir = Paths.get("target", "test-scratch", "navins_base")
    Files.createDirectories(baseDir)
    emb.filter(col("vec_id") < cut).coalesce(1).write.mode("overwrite")
      .parquet(baseDir.resolve("embeddings.parquet").toString)
    val arrDir = Paths.get("target", "test-scratch", "navins_arrivals")
      .toString
    emb.filter(col("vec_id") >= cut).coalesce(1).write.mode("overwrite")
      .parquet(arrDir)
    val streamed = EventStreams.runToCompletion(
        spark,
        VectorStreams.navInsertStream(spark, arrDir, baseDir.toString),
        "t_navinsert", mode = "append")
      .as[(Long, Long, String)].collect().toSet
    val batch = Similarity.navInsertDf(emb)
      .select("src", "dst", "edge_class")
      .as[(Long, Long, String)].collect().toSet
    spark.catalog.clearCache()
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      s"online delta diverged from the batch: only-stream=" +
        s"${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
  }
}
