package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns._
import graft.functions.Caching.{drop, hold}
import graft.operators.Similarity

/** Streaming twins for the vector/ANN family: the trained IVF-PQ index
  * artifacts (coarse centroids + residual codebook — driver-sized integer
  * tables) are learned BATCH-side, and arriving vectors are assigned and
  * encoded STATELESSLY against them — the train-offline/serve-online split
  * every production vector store ships with, and the continuous-ingest
  * side of the billion-vector index story ([[Similarity.ivfPqTrainedCodes]]
  * is the same encode as a batch index build).
  *
  * Scale posture: per-row column work only — the centroids and codebook
  * ride as literals inside codegen'd expressions (nCells·Dim + M·K·SubDim
  * integers), so there is NO streaming state, no shuffle, and no
  * per-batch driver work; micro-batches append straight to the
  * cell-bucketed index sink. Retraining (rare) swaps the literals —
  * exactly how serving systems version their codebooks.
  */
object VectorStreams {

  /** Broadcast ceiling for [[knnProbeStream]]'s static banded key table,
    * in KEY ROWS (corpus vectors × bands; each row carries a Dim-double
    * vector, so 1M rows ≈ 0.5 GB serialized — about the most a broadcast
    * should ever carry). Above it the join goes hint-free and the
    * optimizer shuffles each bounded micro-batch to the static side
    * instead of duplicating the corpus into every executor. */
  val KnnProbeBroadcastMaxRows = 1000000L

  /** Embeddings schema (TESTDATA.md) for the streaming file source. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming source over an embeddings parquet path; `maxFilesPerTrigger`
    * is the same ingestion back-pressure knob as the other file streams. */
  def embeddingStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(embeddingsSchema)
    val withOpt =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else reader
    withOpt.parquet(path)
  }

  /** Streaming IVF-PQ index ingest — the seventeenth twin: train the
    * model on the static corpus ([[Similarity.ivfPqTrainedModel]], both
    * k-means loops, bounded collects), then encode every ARRIVING vector
    * per row against the broadcast-literal artifacts. Output rows
    * (vec_id, cell_id, c0..c{M−1}) are bit-identical to the batch index
    * ([[Similarity.ivfPqTrainedCodes]] — VectorStreamsSpec replays the
    * corpus and asserts equality), because every arithmetic step (e4
    * quantization, e4-cosine argmax with cell-id ties, exact-integer
    * residual, 64-bit anisotropic loss argmin with code-id ties) is the
    * same fixed-op-order expression. */
  def ivfPqIngestStream(spark: SparkSession, path: String, staticDir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val (cents, cb, full, nv, af, rsubs) =
      Similarity.ivfPqTrainedModel(spark, staticDir)
    // Batch-side training frames are not needed for serving — release now
    // (the artifacts live on as literals).
    drop(full, nv, af, rsubs)
    ivfPqEncodeColumns(embeddingStream(spark, path, maxFilesPerTrigger),
      cents, cb)
  }

  /** [[ivfPqIngestStream]] SERVED from the persisted index: the coarse
    * centroids and residual codebook load from
    * [[Similarity.ivfPqWriteIndex]]'s stored artifact tables instead of
    * retraining both k-means loops at stream start — the complete
    * production loop: build the index offline on a schedule, serve batch
    * queries from it ([[Similarity.ivfPqServedTopK]]), and encode
    * ARRIVING vectors against the very same versioned artifacts so online
    * ingest can never drift from the offline build (the artifacts are the
    * index's own tables, not a re-derivation). Stream-side cost is
    * unchanged — the artifacts ride as codegen literals, no state, no
    * shuffle. */
  def ivfPqIngestStreamServed(spark: SparkSession, path: String,
      staticDir: String, indexDir: Option[String] = None,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val dir = Similarity.ensureIvfPqIndex(spark, staticDir, indexDir)
    val (cents, cb) = Similarity.loadIvfPqArtifacts(spark, dir)
    ivfPqEncodeColumns(embeddingStream(spark, path, maxFilesPerTrigger),
      cents, cb)
  }

  /** Streaming SQ8 index ingest — the twenty-sixth twin, the scalar-
    * quantization sibling of [[ivfPqIngestStream]]: the per-dimension
    * min/step model is learned BATCH-side on the static corpus (one tiny
    * aggregate, [[Similarity.sqModelFor]]) and every ARRIVING vector
    * encodes to its one-byte codes per row through the SAME
    * [[Similarity.sqCodesCol]] expression the batch index runs — online
    * ingest can never drift from the offline build because there is one
    * code definition, not two (VectorStreamsSpec replays the corpus and
    * asserts the codes against an independent recompute).
    *
    * Scale posture: the model is 2×Dim doubles riding as codegen
    * literals — NO streaming state, no shuffle, no per-batch driver
    * work; micro-batches append straight to the code-table sink.
    * Re-fitting the model on corpus drift (rare — min/max move slowly)
    * swaps the literals, the same versioning story as the IVF-PQ
    * codebook. */
  def sqEncodeStream(spark: SparkSession, path: String, staticDir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val (mns, steps) = Similarity.sqModelFor(spark, staticDir)
    embeddingStream(spark, path, maxFilesPerTrigger)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .select(col("vec_id"), Similarity.sqCodesCol(col("v"), mns, steps).as("q"))
  }

  /** Streaming ANN PROBE — the serving side of the k-NN graph/LSH query
    * family ([[Similarity.knnGraph]]/[[Similarity.lshTopK]]) run online:
    * each ARRIVING vector computes its banded sign-projection keys per row
    * (the SAME [[Similarity.bandedKeysCarry]] definition as batch, so
    * bucketing can never drift), probes the static corpus's banded key
    * table, and every agreeing band emits a scored evidence row
    * (src, dst, band_idx, sim_e4) with the exact-cosine verify inside the
    * join — self-matches excluded so replaying the corpus reports only
    * genuine neighbors. The ranking tail (dedup multi-band hits, top-k per
    * src) is a report-sized post-step at the sink, the same contract as
    * the BM25 and winnowing probes; VectorStreamsSpec applies it and
    * matches [[Similarity.knnGraph]] exactly.
    *
    * Scale posture: no streaming state, no watermark — per-row key
    * computation plus a stream-static equi-join on (band, key). The
    * static side carries every corpus vector once PER BAND (bands× the
    * corpus bytes), so broadcasting it is only right while the corpus is
    * small: the switch below broadcasts up to
    * [[KnnProbeBroadcastMaxRows]] key rows (one cheap metadata count
    * decides) and otherwise leaves the join hint-free, letting the
    * optimizer shuffle the micro-batch to the static side. At 100 TB the
    * banded corpus table is written BUCKETED by (band, key) once and each
    * micro-batch (bounded) shuffles to it — the winnowing probe's
    * posture, vector-valued. */
  def knnProbeStream(spark: SparkSession, path: String, staticDir: String,
      bands: Int = 8, rows: Int = 4, maxFilesPerTrigger: Int = 0,
      broadcastMaxRows: Long = KnnProbeBroadcastMaxRows,
      bucketCap: Long = Similarity.KnnBucketCap): DataFrame = {
    val corpus = graft.sources.Tables.embeddings(spark, staticDir)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    // The banded static table feeds TWO consumers (the occupancy count
    // and the probe join), and a stream-static join re-evaluates its
    // static side every micro-batch — persist it so the corpus
    // scan+projection runs once, exactly as the batch knnGraph persists
    // its keys. The cache lives for the stream's lifetime (it IS the
    // serving table); the stream's owner releases it at stream stop.
    val allKeys = hold(Similarity.bandedKeysCarry(corpus, bands, rows)
      .select(col("band_idx"), col("band_key"), col("vec_id").as("dst"),
        col("v").as("dv"), col("nrm").as("dn")))
    // Same celebrity-bucket occupancy cap as the batch knnGraph: buckets
    // holding > bucketCap corpus vectors are dropped from the probe table,
    // so an arriving vector can never fan out quadratically into a dense
    // mode AND the streamed evidence stays consistent with the capped
    // batch graph on skewed corpora (inert on this corpus, like batch).
    val staticKeys = Similarity.cappedBuckets(allKeys, bucketCap)
    val keyRows = graft.sources.Tables.embeddings(spark, staticDir).count() *
      bands
    val staticSide =
      if (keyRows <= broadcastMaxRows) broadcast(staticKeys) else staticKeys
    val stream = embeddingStream(spark, path, maxFilesPerTrigger)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    Similarity.bandedKeysCarry(stream, bands, rows)
      .join(staticSide, Seq("band_idx", "band_key"))
      .filter(col("dst") =!= col("vec_id"))
      .select(col("vec_id").as("src"), col("dst"), col("band_idx"),
        e4(dotD(col("v"), col("dv")) / (col("nrm") * col("dn"))).as("sim_e4"))
  }

  /** Streaming RANGE ALERT — the twenty-seventh twin, the online half of
    * the batch radius query ([[Similarity.rangeSearch]]): every ARRIVING
    * vector that lands within the similarity radius of a static-corpus
    * vector emits an alert row (src, dst, sim_e4) — the "a near-duplicate
    * of existing content just arrived" intake gate, run per row at
    * ingest instead of per audit batch. Same construction as the probe
    * ([[knnProbeStream]]'s band match + exact-cosine verify — ONE
    * banding definition corpus-wide), thresholded instead of ranked, so
    * like the batch twin it needs no per-query state at all: no
    * watermark, no aggregation, a pure stream-static join + filter.
    * A pair that agrees on several bands emits per agreeing band; the
    * sink dedups (the probe family's contract — VectorStreamsSpec
    * applies it and matches the batch radius result exactly). */
  def rangeAlertStream(spark: SparkSession, path: String, staticDir: String,
      thrE4: Long = Similarity.RangeThrE4, bands: Int = 8, rows: Int = 4,
      maxFilesPerTrigger: Int = 0): DataFrame =
    knnProbeStream(spark, path, staticDir, bands, rows, maxFilesPerTrigger)
      .filter(col("sim_e4") >= thrE4)
      .select(col("src"), col("dst"), col("sim_e4"))

  /** Streaming EMBEDDING-HEALTH scores — the twenty-eighth twin, the
    * online half of the pre-index diagnostic
    * ([[Similarity.embeddingHealth]]): the corpus mean DIRECTION trains
    * batch-side ([[Similarity.meanDirection]] — one static pass, a
    * Dim-row collect), and every ARRIVING vector scores statelessly
    * against it: (vec_id, nrm_e4, cos_e4) through the SAME two
    * expressions the batch diagnostic aggregates ONE definition, so the
    * monitor cannot drift from the report. This is the intake gate that
    * catches an upstream ENCODER change — a model swap shifts the norm
    * distribution and the cosine-to-baseline population within one
    * micro-batch, long before index recall visibly decays. Per-row
    * column work against a Dim-double literal: no state, no watermark,
    * no shuffle; any window/alert policy aggregates the sink
    * (VectorStreamsSpec replays the corpus and matches the batch health
    * row field-for-field from these scores). */
  def healthScoreStream(spark: SparkSession, path: String, staticDir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val (meanDir, _) = Similarity.meanDirection(spark, staticDir)
    Similarity.healthScoreCols(
      embeddingStream(spark, path, maxFilesPerTrigger)
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
        .withColumn("nrm", l2Norm(col("v"))),
      meanDir)
  }

  /** Stateless per-row IVF-PQ encode of (vec_id, embedding) rows against
    * driver-held artifacts (works on static frames and streams alike):
    * the batch index's own e4 normalization and residual wiring
    * ([[Similarity.e4Normalized]], [[Similarity.withResidual]]) around
    * the one quantizer kernel, then each subspace's code through
    * [[Similarity.pqCode]] under the anisotropic loss — one output column
    * per subspace, the codebook riding as literals. */
  def ivfPqEncodeColumns(vecs: DataFrame, cents: Seq[(Long, Seq[Double])],
      cb: Seq[(Long, Long, Seq[Double])], m: Int = Similarity.PqM,
      eta: Int = Similarity.PqEta): DataFrame = {
    val sub = Similarity.PqSubDim
    val base = vecs
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    def code(i: Int): Column = {
      def part(c: String) = slice(col(c), i * sub + 1, sub)
      Similarity.pqCode(cb, lit(i),
        Similarity.anisoLoss(part("r"), part("xq"), eta)).getField("id")
    }
    Similarity.withResidual(Similarity.e4Normalized(base), cents)
      .select(col("vec_id") +: col("cell_id") +:
        (0 until m).map(i => code(i).as(s"c$i")): _*)
  }

  /** REPLICA-SIZE GUARD — the loud-failure standard every other
    * artifact path here has (manifest validation, under-admit
    * requires): a serving replica is RAM-resident BY DESIGN, so a
    * corpus past driver memory must fail with the deployment answer in
    * the message, not as an opaque OOM mid-collect. Each replica's
    * estimate is its own arithmetic, computed from cheap distributed
    * aggregates BEFORE anything is collected; JVM overhead beyond the
    * modeled terms (map load factor, object padding) is absorbed by the
    * bound's safety margin: `spark.graft.serving.maxReplicaBytes`
    * defaults to a QUARTER of driver heap precisely so a few-× estimate
    * undershoot cannot turn into an OOM. One rule, one knob for every
    * replica. */
  private def requireReplicaFits(spark: SparkSession, estBytes: Long,
      what: String, remedy: String): Unit = {
    val maxReplicaBytes = spark.conf
      .getOption("spark.graft.serving.maxReplicaBytes")
      .map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory / 4)
    require(estBytes <= maxReplicaBytes,
      s"$what estimate ${estBytes} B exceeds " +
        s"spark.graft.serving.maxReplicaBytes=$maxReplicaBytes B: $remedy")
  }

  /** (vector count, dim) of an embeddings frame in one aggregate, and the
    * replica bytes of those vectors: dim doubles + array/boxing overhead
    * each. max() over zero rows is null — an empty corpus estimates to
    * 0 bytes and builds the (empty) replica. */
  private def vectorStats(embDf: DataFrame): (Long, Long, Long) = {
    val r = embDf.select(count(lit(1)), max(size(col("embedding")))).head()
    val (nVecs, dim) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getInt(1).toLong)
    (nVecs, dim, nVecs * (dim * 8L + 64L))
  }

  /** The corpus vectors of an embeddings frame, collected (id → vector). */
  private def collectVectors(embDf: DataFrame): Map[Long, Array[Double]] = {
    import embDf.sparkSession.implicits._
    embDf.select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .as[(Long, Array[Double])].collect().toMap
  }

  /** The graph probes' RAM replica, guarded then loaded: the nav
    * adjacency (src → sorted dsts), the vectors with their norms, and
    * the corpus count (the layered probe's log-layer rule resolves from
    * it). The estimate adds one 8-byte long per edge and a
    * per-distinct-src term for the adjacency Map's entry + boxed key +
    * value array header (~48 B each on a 64-bit JVM) to the vectors'
    * bytes. Shared by both graph probes. */
  private def graphReplica(spark: SparkSession, staticDir: String):
      (Map[Long, Array[Long]], Map[Long, (Array[Double], Double)], Long) = {
    import spark.implicits._
    val edgesDf = Similarity.navGraphShared(spark, staticDir)
    val embDf = graft.sources.Tables.embeddings(spark, staticDir)
    val (nEdges, nSrcs) = {
      val r = edgesDf.select(count(lit(1)),
        count_distinct(col("src"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (nVecs, dim, vecBytes) = vectorStats(embDf)
    requireReplicaFits(spark, nEdges * 8L + nSrcs * 48L + vecBytes,
      s"graph-serving replica ($nVecs vectors x dim $dim + $nEdges edges " +
        s"over $nSrcs sources)",
      "shard the graph across serving replicas or store SQ8 codes " +
        "instead of raw doubles (the standard memory/recall trade) " +
        "before serving this corpus from one RAM replica")
    val adj = edgesDf.select("src", "dst").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2).sorted }
    val vecs = collectVectors(embDf)
      .map { case (id, v) => id -> (v, math.sqrt(Replica.dot(v, v))) }
    (adj, vecs, nVecs)
  }

  /** Streaming GRAPH-ANN PROBE — the THIRTY-FIRST twin, the online
    * serving form of [[Similarity.graphTopK]] and the last index family
    * to get one (IVF-PQ has ingest, LSH the probe, SQ8 the encoder):
    * every ARRIVING query vector runs the SAME deterministic best-first
    * beam walk over the SAME navigable-graph product, per row, with no
    * streaming state.
    *
    * Deployment shape — deliberately HNSW's own: graph indexes serve
    * from RAM-RESIDENT replicas (the walk is pointer-chasing; a
    * distributed join per round would put a shuffle inside every hop),
    * so the nav edges and the corpus vectors load once driver-side and
    * broadcast (sf0.1: ~33 K edges + 5 K × 64 doubles ≈ 3 MB). At
    * 100 TB the replica holds SQ8 codes instead of raw doubles and the
    * graph is sharded — the standard memory/recall trade, versioned
    * like the IVF-PQ codebook.
    *
    * Parity is BIT-exact, not approximate: the per-row walk replays the
    * batch loop's schedule (entry → expand out-neighbors → exact
    * re-score → top-beam by (sim desc, cid), fixed rounds) with the
    * identical arithmetic — sequential dot, one divide, ×10⁴, HALF_UP
    * round (Spark's `round` semantics, NOT Math.round, which differs on
    * negative halves) — so a replayed corpus query returns the batch
    * rows verbatim (VectorStreamsSpec asserts it). */
  def graphProbeStream(spark: SparkSession, path: String, staticDir: String,
      k: Int = 5, beam: Int = Similarity.GraphBeam,
      rounds: Int = Similarity.GraphRounds,
      maxFilesPerTrigger: Int = 0,
      tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val (adj, vecs, _) = graphReplica(spark, staticDir)
    val badj = spark.sparkContext.broadcast(adj)
    val bvec = spark.sparkContext.broadcast(vecs)
    val entry = Similarity.GraphEntry
    embeddingStream(spark, path, maxFilesPerTrigger)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val adjM = badj.value
        val vecM = bvec.value
        it.flatMap { case (qid, qv) =>
          GraphProbe.walk(qid, qv, entry, beam, rounds, k, adjM, vecM,
            tombstones.contains)
        }
      }
      .toDF()
  }

  /** Streaming LAYERED-BANDED GRAPH PROBE — the THIRTY-THIRD twin and
    * the production serving config the entry-strategy decision table
    * (`eval_graph_entry`) recommends: arriving queries pick their entry
    * among their coarse BUCKET-MATES (bucket-bounded per row — no
    * corpus-proportional scan anywhere in the online path) and walk
    * [[Similarity.LayeredRounds]] rounds instead of the fixed-entry
    * probe's [[Similarity.GraphRounds]] — a third fewer hops per query
    * at equal-or-better recall on the banded graph. The coarse KEY
    * INDEX rides in the replica next to the edges and vectors (n/32
    * entries × 8 bands — a rounding error against the vector table);
    * parity with [[Similarity.graphLayeredBandedTopK]] is BIT-exact
    * (same planes, strict sign test, HALF_UP e4, (cs desc, cc) ties,
    * fixed-entry fallback), asserted in VectorStreamsSpec on a replayed
    * corpus. Shares [[graphProbeStream]]'s replica-size guard
    * semantics: the same byte estimate runs before anything collects.
    *
    * `beam`/`rounds` default 0 = the log-layer rule resolved from the
    * REPLICA's corpus count at stream-construction time — the online
    * path serves the same config the batch walk would pick, so the
    * parity spec holds by shared rule, not by luck. */
  def graphLayeredProbeStream(spark: SparkSession, path: String,
      staticDir: String, k: Int = 5, beam: Int = 0,
      rounds: Int = 0,
      maxFilesPerTrigger: Int = 0,
      tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val (adj, vecs, nVecs) = graphReplica(spark, staticDir)
    val beamN = if (beam > 0) beam else Similarity.graphBeamFor(nVecs)
    val roundsN = if (rounds > 0) rounds else Similarity.layeredRoundsFor(nVecs)
    // Coarse key index: band keys of the n/CoarseMod coarse vectors —
    // the maintained registry a live deployment keeps beside the graph.
    // Geometry = the entry band rule over the coarse layer, exactly the
    // batch walk's resolution (4 at every contract corpus).
    val coarseIds = vecs.keys.toSeq
      .filter(_ % Similarity.CoarseMod == 0).sorted
    val eRows = Similarity.entryBandRowsFor(coarseIds.length.toLong)
    val coarseIdx: Map[(Int, Long), Array[Long]] = coarseIds
      .flatMap(cc => Replica.bandKeys(vecs(cc)._1, eRows).map(_ -> cc))
      .groupBy(_._1).map { case (bk, ccs) => bk -> ccs.map(_._2).toArray }
    val badj = spark.sparkContext.broadcast(adj)
    val bvec = spark.sparkContext.broadcast(vecs)
    val bidx = spark.sparkContext.broadcast(coarseIdx)
    val entryK = Similarity.LayeredEntryK
    val fallback = Similarity.GraphEntry
    embeddingStream(spark, path, maxFilesPerTrigger)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val adjM = badj.value
        val vecM = bvec.value
        val idxM = bidx.value
        it.flatMap { case (qid, qv) =>
          val entries = GraphProbe.bandedEntries(qid, qv, entryK, idxM,
            fallback, vecM, eRows)
          GraphProbe.walkFrom(qid, qv, entries, beamN, roundsN, k, adjM, vecM,
            tombstones.contains)
        }
      }
      .toDF()
  }

  /** STREAMING GRAPH-INDEX INSERT — index MAINTENANCE becomes
    * continuous like every other family: each TRIGGER's arriving
    * vectors play one [[Similarity.navInsertDf]] batch and emit the
    * SAME capped delta edge set (knn/mirror/up/down/hw), computed
    * locally against the RAM replica — base band-key registry with
    * per-bucket occupancy, base vectors — plus the trigger's own rows.
    * A batch replayed as ONE trigger reproduces the `navdelta` product
    * rows exactly (VectorStreamsSpec); across multiple triggers each
    * trigger is its own batch — the same additive delta-then-compact
    * contract as [[Similarity.evalNavInsertSeq]]'s sequential replay,
    * with band eligibility counting base + this trigger's arrivals
    * (the corpus visible at arrival time).
    *
    * Scale shape: per trigger the work is the arrivals' band buckets
    * only (Σ occ ≤ cap · |trigger| · bands candidate pairs — corpus-
    * size-independent, the batch delta's own bound); the micro-batch
    * is coalesced to ONE task because the delta's mirror/down windows
    * rank ACROSS arrivals (a per-row attach would miss
    * arrival-to-arrival links; an ingest batch is RAM-trivial). No
    * streaming state — the base registry rides as a broadcast, exactly
    * like the IVF-PQ codebook literals. Arrival ids are assumed new
    * (not present in the base corpus), as for any ingest path. */
  def navInsertStream(spark: SparkSession, path: String, staticDir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import spark.implicits._
    // Size guard: this replica is vectors + band-key registry only (no
    // adjacency — the insert path never walks), so the estimate is the
    // vectors' bytes plus 8 registry entries per vector (~16 B each
    // boxed). Same knob, same margin as the graph replica.
    val embDf = graft.sources.Tables.embeddings(spark, staticDir)
    val (nVecs, dim, vecBytes) = vectorStats(embDf)
    requireReplicaFits(spark, vecBytes + nVecs * 8L * 16L,
      s"insert-replica ($nVecs vectors x dim $dim + key registry)",
      "shard the ingest by key range or store SQ8 codes in the attach " +
        "replica before running continuous inserts on one node")
    val vecs = collectVectors(embDf)
    // Base band-key registry with occupancy — the maintained artifact a
    // live deployment keeps beside the graph (here derived once from
    // the base corpus, like every other replica input). Geometry = the
    // band rule at the BASE count: the registry is versioned with the
    // corpus it indexes (a growth step that crosses a rule boundary is
    // a registry rebuild — the standard registry-maintenance cadence),
    // and a trigger's few arrivals never move the rule's log2 input
    // materially, so online and batch resolve the same rows in
    // practice (equal at the parity corpus, asserted in the spec).
    val rowsN = Similarity.bandRowsFor(nVecs)
    val baseBuckets: Map[(Int, Long), Array[Long]] = vecs.keys.toSeq.sorted
      .flatMap { id => Replica.bandKeys(vecs(id), rowsN).map(bk => bk -> id) }
      .groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2).toArray }
    val bvec = spark.sparkContext.broadcast(vecs)
    val bbuck = spark.sparkContext.broadcast(baseBuckets)
    embeddingStream(spark, path, maxFilesPerTrigger)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .coalesce(1)
      .mapPartitions { it =>
        val arrivals = it.toArray
        if (arrivals.isEmpty) Iterator.empty
        else NavDelta.delta(arrivals, bvec.value, bbuck.value, rowsN).iterator
      }
      .toDF()
  }
}

/** The plain-Scala replica kit the per-row serving paths share
  * ([[GraphProbe]], [[NavDelta]]): the batch expressions' arithmetic
  * replayed on driver-collected arrays, one definition each. */
private[streaming] object Replica {

  /** Sequential dot product — the codegen `dotD`'s accumulation order. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** sim_e4 with Spark's `round` semantics: HALF_UP via BigDecimal —
    * Math.round floors negative halves and would desync the oracle. */
  def simE4(a: Array[Double], an: Double, b: Array[Double], bn: Double): Long =
    java.math.BigDecimal.valueOf(dot(a, b) / (an * bn) * 10000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** The 8 × rows-bit sign-projection band keys (band, key) of one
    * vector — [[graft.operators.Similarity.bandedKeys]] replayed per row
    * (same planes, strict `> 0` sign; rows from the band-geometry rule
    * at the caller). */
  def bandKeys(v: Array[Double], rows: Int): Seq[(Int, Long)] =
    (0 until 8).map { b =>
      var key = 0L
      var r = 0
      while (r < rows) {
        if (dot(v, graft.operators.Similarity.plane(b * rows + r)) > 0)
          key |= (1L << r)
        r += 1
      }
      (b, key)
    }
}

/** The per-row beam walk behind [[VectorStreams.graphProbeStream]] —
  * plain-Scala replica of the batch loop's schedule and arithmetic. */
private[streaming] object GraphProbe {
  import Replica.{dot, simE4}

  def walk(qid: Long, qv: Array[Double], entry: Long, beam: Int,
      rounds: Int, k: Int, adj: Map[Long, Array[Long]],
      vecs: Map[Long, (Array[Double], Double)],
      tombstoned: Long => Boolean = _ => false): Iterator[GraphProbeHit] =
    walkFrom(qid, qv, Array(entry), beam, rounds, k, adj, vecs, tombstoned)

  /** The walk seeded by an ENTRY SET (the layered probes hand it the
    * best-[[Similarity.LayeredEntryK]] coarse entries) — round 0 is the
    * scored entries kept to the beam, exactly the batch gb0.
    * `tombstoned` is the serve-time DELETE filter
    * ([[graft.operators.Similarity.navDeleteTopK]]'s rule, replayed):
    * tombstoned nodes stay traversable (they route) but are filtered
    * from the FINAL beam before the top-k — identical semantics to the
    * batch query, so the parity spec holds filtered too. */
  def walkFrom(qid: Long, qv: Array[Double], entries: Array[Long],
      beam: Int, rounds: Int, k: Int, adj: Map[Long, Array[Long]],
      vecs: Map[Long, (Array[Double], Double)],
      tombstoned: Long => Boolean = _ => false): Iterator[GraphProbeHit] = {
    val qn = math.sqrt(dot(qv, qv))
    def score(cid: Long): (Long, Long) = {
      val (cv, cn) = vecs(cid)
      (simE4(qv, qn, cv, cn), cid)
    }
    // (sim desc, cid asc) — the batch window's exact order.
    val ord = Ordering.by[(Long, Long), (Long, Long)] { case (s, c) => (-s, c) }
    var beamSet: Array[(Long, Long)] =
      entries.distinct.map(score).sorted(ord).take(beam)
    for (_ <- 1 to rounds) {
      val cands = (beamSet.map(_._2) ++
        beamSet.flatMap { case (_, c) => adj.getOrElse(c, Array.empty[Long]) })
        .distinct
      beamSet = cands.map(score).sorted(ord).take(beam)
    }
    beamSet.iterator.filterNot { case (_, c) => tombstoned(c) }
      .take(k).zipWithIndex.map { case ((s, c), i) =>
        GraphProbeHit(qid, c, s, i + 1L)
      }
  }

  /** Banded entry selection, per row: the query's sign-projection band
    * keys (the same planes as the batch `bandedKeys`) probe the coarse
    * key index; bucket-mate coarse nodes are exact-scored and the best
    * `entryK` seed the walk, with the fixed-entry fallback on a full
    * band miss — [[graft.operators.Similarity.graphLayeredBandedTopK]]'s
    * rule, replayed with identical arithmetic (sequential dot, strict
    * `> 0` sign, HALF_UP e4, (cs desc, cc asc) ties). */
  def bandedEntries(qid: Long, qv: Array[Double], entryK: Int,
      coarseIdx: Map[(Int, Long), Array[Long]], fallback: Long,
      vecs: Map[Long, (Array[Double], Double)],
      rows: Int = 4): Array[Long] = {
    val qn = math.sqrt(dot(qv, qv))
    val cands = Replica.bandKeys(qv, rows)
      .flatMap(coarseIdx.getOrElse(_, Array.empty[Long]))
      .distinct.filterNot(_ == qid)
    if (cands.isEmpty) Array(fallback)
    else {
      val ord = Ordering.by[(Long, Long), (Long, Long)] { case (s, c) => (-s, c) }
      cands.map { cc =>
        val (cv, cn) = vecs(cc)
        (simE4(qv, qn, cv, cn), cc)
      }.sorted(ord).take(entryK).map(_._2).toArray
    }
  }
}

/** Output row of [[VectorStreams.graphProbeStream]]. */
case class GraphProbeHit(qid: Long, cid: Long, sim_e4: Long, rn: Long)

/** Output row of [[VectorStreams.navInsertStream]] — the batch delta's
  * (src, dst, edge_class) shape. */
case class NavDeltaEdge(src: Long, dst: Long, edge_class: String)

/** The per-trigger insert delta behind [[VectorStreams.navInsertStream]]
  * — a plain-Scala replica of [[graft.operators.Similarity.navInsertDf]]'s
  * banded delta arithmetic (same planes, strict `> 0` sign, full-corpus
  * bucket eligibility = base + trigger occupancy, HALF_UP e4 scores,
  * and the five window-capped edge classes with identical tie orders),
  * so a batch replayed as one trigger reproduces the `navdelta` product
  * rows exactly. */
private[streaming] object NavDelta {
  import graft.operators.Similarity.{KnnK, KnnBucketCap, CoarseMod,
    NavMirrorCap, NavDownCap, NavHighwayK, GraphEntry}
  import Replica.{bandKeys, dot}

  def delta(arrivals: Array[(Long, Array[Double])],
      base: Map[Long, Array[Double]],
      baseBuckets: Map[(Int, Long), Array[Long]],
      rows: Int = 4): Seq[NavDeltaEdge] = {
    val arr = arrivals.toMap
    val nrms = scala.collection.mutable.Map.empty[Long, Double]
    def vecOf(id: Long): Array[Double] = arr.getOrElse(id, base(id))
    def nrmOf(id: Long): Double =
      nrms.getOrElseUpdate(id,
        math.sqrt(dot(vecOf(id), vecOf(id))))
    def sim(a: Long, b: Long): Long =
      Replica.simE4(vecOf(a), nrmOf(a), vecOf(b), nrmOf(b))
    val arrKeys: Map[Long, Seq[(Int, Long)]] =
      arr.map { case (id, v) => id -> bandKeys(v, rows) }
    val arrBuckets: Map[(Int, Long), Array[Long]] = arrKeys.toSeq
      .flatMap { case (id, ks) => ks.map(_ -> id) }
      .groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2).toArray }
    def occ(bk: (Int, Long)): Long =
      baseBuckets.get(bk).fold(0L)(_.length.toLong) +
        arrBuckets.get(bk).fold(0L)(_.length.toLong)
    // Candidates of one arrival: distinct members of its ELIGIBLE band
    // buckets (base and fellow arrivals alike — the batch ckNew ⋈ ck).
    def mates(id: Long, coarseOnly: Boolean): Seq[Long] =
      arrKeys(id).filter(occ(_) <= KnnBucketCap)
        .flatMap(bk => baseBuckets.getOrElse(bk, Array.empty[Long]) ++
          arrBuckets.getOrElse(bk, Array.empty[Long]))
        .distinct
        .filter(c => c != id && (!coarseOnly || c % CoarseMod == 0))
    val ids = arr.keys.toSeq.sorted
    val knn: Seq[(Long, Long, Long)] = ids.flatMap { a =>
      mates(a, coarseOnly = false).map(dst => (a, dst, sim(a, dst)))
        .sortBy { case (_, dst, s) => (-s, dst) }
        .take(KnnK)
    }
    val mirror = knn.groupBy(_._2).toSeq.flatMap { case (dst, es) =>
      es.sortBy { case (src, _, s) => (-s, src) }.take(NavMirrorCap)
        .map { case (src, _, _) => NavDeltaEdge(dst, src, "mirror") }
    }
    val up: Seq[(Long, Long, Long)] = ids.flatMap { a =>
      val cands = mates(a, coarseOnly = true)
      if (cands.nonEmpty) {
        val (cc, cs) = cands.map(cc => (cc, sim(a, cc)))
          .minBy { case (c, s) => (-s, c) }
        Some((a, cc, cs))
      } else if (a != GraphEntry && base.contains(GraphEntry))
        Some((a, GraphEntry, sim(a, GraphEntry)))
      else None
    }
    val down = up.groupBy(_._2).toSeq.flatMap { case (dst, es) =>
      es.sortBy { case (src, _, cs) => (-cs, src) }.take(NavDownCap)
        .map { case (src, _, _) => NavDeltaEdge(dst, src, "down") }
    }
    val hw = ids.filter(_ % CoarseMod == 0).flatMap { a =>
      mates(a, coarseOnly = true).map(dst => (a, dst, sim(a, dst)))
        .sortBy { case (_, dst, s) => (-s, dst) }
        .take(NavHighwayK)
        .map { case (src, dst, _) => NavDeltaEdge(src, dst, "hw") }
    }
    (knn.map { case (s, d, _) => NavDeltaEdge(s, d, "knn") } ++ mirror ++
      up.map { case (s, d, _) => NavDeltaEdge(s, d, "up") } ++ down ++ hw)
      .filter(e => e.src != e.dst)
      .distinct
  }
}
