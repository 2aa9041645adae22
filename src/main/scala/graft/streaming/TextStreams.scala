package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns._
import graft.operators.{Dedup, Pipeline, TextAnalytics}

/** The reference engine brands itself a *streaming* word counter — its
  * dispatch loop (coordinator.py:85-104) feeds chunks as the file is read.
  * This is that idea as an actual Structured Streaming query: a directory of
  * text files consumed as a stream (new files picked up per trigger), the
  * same tokenize → count pipeline as the batch/oracle path, counts
  * maintained incrementally in aggregation state.
  *
  * Scale posture: the aggregation state is one row per distinct word
  * (bounded by vocabulary, not stream length); file listing shards across
  * the cluster; complete-mode output is only sensible for report-sized
  * vocabularies — at 100 TB emit update mode into a keyed sink instead.
  */
object TextStreams {

  /** Continuous word count over a text-file directory (streaming twin of
    * Report.wordcountTextDir — identical pipeline, streaming source). Each
    * trigger's partitions emit per-word partials and the aggregation state
    * holds their running `sum` per word. */
  def wordCountStream(spark: SparkSession, dir: String): DataFrame =
    TextAnalytics.wordCountsText(spark.readStream.text(dir), "value")

  /** Documents schema (TESTDATA.md) for the streaming file source. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over a documents parquet path; `maxFilesPerTrigger`
    * is the same ingestion back-pressure knob as the event stream's. */
  def documentStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(documentsSchema)
    val withOpt =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else reader
    withOpt.parquet(path)
  }

  /** Streaming exact-dedup twin of [[graft.operators.Dedup.exact]]: each
    * arriving document is fingerprinted and only a fingerprint's FIRST
    * occurrence within the watermark horizon passes —
    * `dropDuplicatesWithinWatermark`, the streaming-state form of the batch
    * group-by-text survivor.
    *
    * The fingerprint is 128 bits: two independent xxhash64 values (the
    * second salted). At crawl scale a 32-bit hash collides with near
    * certainty (~77k docs for a 50% birthday collision) and a collision
    * here silently DROPS a distinct document — so the key is wide enough
    * that the expected collision count stays ≪ 1 up to ~10¹⁸ docs.
    * Residual risk: a 128-bit collision still drops a distinct doc; the
    * batch twin keys on the full text and has no such risk. Keying state
    * on the text itself would close even that, at the cost of holding
    * full document bodies in the state store — the hash keeps state rows
    * fixed-width, the property that makes the horizon bound meaningful.
    *
    * Event time is synthesized from doc_id (documents carry no timestamp;
    * a real ingest pipeline would use arrival time). The watermark bounds
    * the dedup state: a fingerprint is remembered only `horizon` past its
    * event time, so state is O(docs per horizon window), not O(stream) —
    * the property that makes streaming dedup survive an unbounded crawl.
    * Batch semantics differ deliberately: batch keeps min-doc_id globally,
    * the stream keeps first-arrival per horizon — the SET of surviving
    * texts is identical when all dups arrive within one horizon
    * (StreamingSpec asserts exactly that). */
  def dedupStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0, horizon: String = "1 hour"): DataFrame =
    documentStream(spark, path, maxFilesPerTrigger)
      .withColumn("fp1", xxhash64(col("text")))
      .withColumn("fp2", xxhash64(lit("dedup-salt-2"), col("text")))
      // +1 day: a row whose event time equals the INITIAL watermark (epoch 0)
      // would be discarded as late before the first batch even runs.
      .withColumn("event_ts", timestamp_micros(col("doc_id") + lit(86400000000L)))
      .withWatermark("event_ts", horizon)
      .dropDuplicatesWithinWatermark("fp1", "fp2")
      .select(col("doc_id"), col("fp1"), col("fp2"), col("text"), col("lang"))

  /** Streaming twin of [[graft.operators.Pipeline.corpusStats]]: the
    * per-language report card maintained incrementally as documents arrive
    * — state is one row per language (report-sized, bounded by the lang
    * key space, not stream length), the same property as the word-count
    * stream's vocabulary-bounded state. Complete-mode output; at 100 TB
    * emit update mode into a keyed sink. */
  def corpusStatsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    documentStream(spark, path, maxFilesPerTrigger)
      .select(col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))

  /** Streaming count-min-sketch twin of
    * [[graft.operators.TextAnalytics.wordcountCms]]'s sketch build: every
    * arriving token increments its d salted cells, so the d·w counter
    * matrix is maintained incrementally. Cell counts are pure sums over
    * the same deterministic [[graft.functions.Fns.saltedBucket]] columns
    * the batch sketch uses (one definition), so after consuming the whole
    * corpus the streaming cells equal the batch cells exactly
    * (TextStreamsSpec asserts it) — and state is the sketch itself,
    * d·w rows REGARDLESS of stream length or vocabulary growth, which is
    * precisely why a frequency sketch is the streaming answer where an
    * exact word count's state grows with the vocabulary. Complete-mode
    * here (report-sized); update mode into a keyed sink at scale. */
  def cmsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import graft.operators.TextAnalytics.{CmsDepth, CmsWidth}
    val cells = (0 until CmsDepth).map { j =>
      struct(lit(j).as("j"),
        graft.functions.Fns.saltedBucket(s"c$j#", col("word"), CmsWidth).as("ccol"))
    }
    documentStream(spark, path, maxFilesPerTrigger)
      .select(explode(tokens(col("text"))).as("word"))
      .select(explode(array(cells: _*)).as("p"))
      .groupBy(col("p.j").as("j"), col("p.ccol").as("ccol"))
      .agg(count(lit(1)).as("cell"))
  }

  /** Streaming corpus-clean twin of [[graft.operators.Pipeline.cleanCorpus]]:
    * the cleaned corpus AS A STREAM — arriving documents are exact-deduped
    * within the watermark horizon ([[dedupStream]]) and then pass the same
    * quality ∧ language gates as the batch pipeline
    * (`Pipeline.withGateFlags` — ONE definition, so the keep heuristics
    * cannot drift between batch and stream). Emits only kept documents:
    * batch emits flags for audit, the stream emits the corpus a downstream
    * trainer would consume. The kept-TEXT set equals the batch keep=1 set
    * when duplicates arrive within one horizon (TextStreamsSpec asserts
    * it); survivor identity differs as in dedupStream (first-arrival vs
    * global min id). Gates are stateless per-row projections, so the only
    * streaming state is the dedup fingerprint store. */
  def cleanStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0, horizon: String = "1 hour"): DataFrame =
    Pipeline.withGateFlags(dedupStream(spark, path, maxFilesPerTrigger, horizon))
      .filter(col("quality_ok") === 1L && col("lang_match") === 1L)
      .select(col("doc_id"), col("text"), col("lang"))

  /** Streaming quality-gate twin of the batch rule batteries: arriving
    * documents pass the Gopher rule suite
    * ([[graft.operators.TextAnalytics.withGopherFlags]]) and the C4
    * line/page rules ([[graft.operators.Pipeline.withC4Flags]]) — the
    * SAME appended-column definitions the batch `text_gopher` /
    * `corpus_clean_c4` queries select from, so batch and stream cannot
    * drift — and only documents passing BOTH gates are emitted, carrying
    * the C4-cleaned text. Every stage is a stateless per-row projection:
    * NO streaming state at all, append mode — the filter a crawl
    * ingestion front-end runs before anything stateful sees the data. */
  def gateStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    Pipeline.withC4Flags(TextAnalytics.withGopherFlags(
        documentStream(spark, path, maxFilesPerTrigger)))
      .filter(col("gopher_keep") === 1L && col("c4_keep") === 1L)
      .select(col("doc_id"), col("lang"), col("source"),
        col("c4_text_clean").as("text_clean"))

  /** Streaming decontamination twin of
    * [[graft.operators.Pipeline.decontaminateBloom]]: the eval split's
    * Bloom bitset and distinct shingle set are built BATCH-side from
    * `staticDocs` (the artifacts a pipeline persists once per eval-suite
    * release) and joined as STATIC frames; arriving documents shingle,
    * probe the broadcast bitset map-side, and only Bloom candidates enter
    * the exact stream-static verify join. Emits the contamination
    * EVIDENCE stream — one (doc_id, sh) row per matched shingle
    * occurrence — in append mode: every stage is a stateless projection
    * or stream-static join, so the query holds NO streaming state at all
    * (the right posture for a probe against a static reference set; the
    * per-doc rollup belongs downstream of the sink, where the batch twin's
    * n_shared aggregate runs). Arriving docs that themselves hash into
    * the test split are excluded, mirroring the batch operator's corpus
    * filter. Bloom has no false negatives and the verify is exact, so the
    * streamed evidence's doc set equals the batch `contaminated = 1` set
    * (TextStreamsSpec asserts it). */
  def decontaminateStream(spark: SparkSession, path: String,
      staticDocs: DataFrame, maxFilesPerTrigger: Int = 0): DataFrame = {
    val evalSh = Pipeline.evalShingles(staticDocs)
    val bits = Pipeline.bloomBitsFrom(evalSh)
    val m = Pipeline.BloomBits
    val stream = documentStream(spark, path, maxFilesPerTrigger)
      .filter(Pipeline.splitCol(col("doc_id")) =!= "test")
    Dedup.shingles(stream)
      .withColumn("p1", saltedBucket("b1#", col("sh"), m))
      .withColumn("p2", saltedBucket("b2#", col("sh"), m))
      .join(broadcast(bits.select(col("w").as("w1"), col("bits").as("bits1"))),
        expr("p1 div 64") === col("w1"), "left")
      .join(broadcast(bits.select(col("w").as("w2"), col("bits").as("bits2"))),
        expr("p2 div 64") === col("w2"), "left")
      .filter(col("bits1").isNotNull && col("bits2").isNotNull &&
        expr("(shiftright(bits1, CAST(p1 % 64 AS INT)) & 1) = 1") &&
        expr("(shiftright(bits2, CAST(p2 % 64 AS INT)) & 1) = 1"))
      .join(evalSh, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("sh"))
  }

  /** Streaming drift-count twin of [[Pipeline.corpusDrift]]'s aggregate —
    * the continuous form of the crawl-admission monitor: per-word cohort
    * counts maintained incrementally as documents arrive (state is one row
    * per distinct word — vocabulary-bounded like the word-count stream,
    * never stream-length-bounded). The report tail (totals + the pinned
    * e6 division ranking) is a report-sized post-step over the sink —
    * TextStreamsSpec replays the corpus, applies it, and matches the
    * batch report exactly. Complete-mode here; update mode into a keyed
    * sink at 100 TB. */
  def driftCountsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    Pipeline.driftCounts(
      documentStream(spark, path, maxFilesPerTrigger)
        .withColumn("cohort_a", Pipeline.driftCohortA))

  /** Streaming fertility twin — the trained tokenizer DEPLOYED on the
    * stream: the vocabulary is learned batch-side
    * ([[graft.operators.TextAnalytics.vocabTrainDf]] over the static
    * corpus, a bounded merge-table collect), and each arriving document
    * segments statelessly against it with the same native greedy
    * longest-match expression the batch fertility uses — per-row column
    * work, no state, no shuffle. This is the train-offline/serve-online
    * split every production tokenizer ships with. Batch difference:
    * the batch form segments only DISTINCT words and joins counts back;
    * the stateless stream pays the per-occurrence segmentation instead of
    * carrying a vocabulary-sized state store — the standard
    * stream-vs-batch trade, and the outputs are identical
    * (TextStreamsSpec replays the corpus). */
  def fertilityStream(spark: SparkSession, path: String,
      staticDocs: DataFrame, maxFilesPerTrigger: Int = 0): DataFrame = {
    val learned = graft.operators.TextAnalytics.vocabTrainDf(staticDocs)
      .select("merged").collect().map(_.getString(0)).toSeq.distinct
    documentStream(spark, path, maxFilesPerTrigger)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc +
          size(org.apache.spark.sql.graft.StringExprs.wordPieces(t, learned))
            .cast("long")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        when(col("n_words") === 0L, lit(0L))
          .otherwise(round(col("n_pieces") * lit(10000.0) / col("n_words")).cast("long"))
          .as("fertility_e4"))
  }

  /** Streaming OPTIMAL-segmentation fertility — the thirtieth twin:
    * [[fertilityStream]]'s shape with the unigram/Viterbi DP
    * ([[org.apache.spark.sql.graft.UnigramDp]]) in place of the greedy
    * walk, scores = the batch-learned merge pair counts. The two streams
    * together are the online A/B of the encoder decision the batch
    * three-way fertility eval prices: run both at intake, diff the
    * per-doc fertilities. Stateless per-row column work (the DP runs
    * per occurrence — the same stream-vs-batch trade as the greedy twin,
    * whose batch side segments only distinct words);
    * TextStreamsSpec replays the corpus and matches an independent
    * per-word-DP + occurrence-join recompute exactly. */
  def dpFertilityStream(spark: SparkSession, path: String,
      staticDocs: DataFrame, maxFilesPerTrigger: Int = 0): DataFrame = {
    val scored = graft.operators.TextAnalytics.vocabTrainDf(staticDocs)
      .orderBy("merge_rank").select("merged", "pair_cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val vocab = scored.map(_._1)
    val weights = scored.map(_._2)
    documentStream(spark, path, maxFilesPerTrigger)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc +
          element_at(org.apache.spark.sql.graft.StringExprs
            .unigramDp(t, vocab, weights), 2)).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        when(col("n_words") === 0L, lit(0L))
          .otherwise(round(col("n_pieces") * lit(10000.0) / col("n_words")).cast("long"))
          .as("fertility_e4"))
  }

  /** Streaming BM25 scoring — the retrieval scorer DEPLOYED online: the
    * corpus-side model (query-term dfs, N, avgdl — 8 rows + 2 scalars,
    * [[graft.operators.TextAnalytics.bm25Stats]]) trains batch-side, and
    * each ARRIVING document scores statelessly against it: tokenize per
    * row, tf per query term by an array scan over the literal 8-term list
    * (no explode-groupBy, so no streaming aggregation state), dl from the
    * same token array, then the IDENTICAL pinned float chain the batch
    * query and the oracle share ([[graft.operators.TextAnalytics.bm25ScoreCol]]).
    * Emits (doc_id, word, tf, df, score_e4) for terms the document
    * contains — the batch query's pre-top-k scored rows, which is what
    * TextStreamsSpec replays and matches. No state, no shuffle, no
    * watermark: the ranking tail (per-term top-k) stays a report-sized
    * post-step wherever the scores land. */
  def bm25ScoreStream(spark: SparkSession, path: String,
      staticDocs: DataFrame, maxFilesPerTrigger: Int = 0): DataFrame = {
    val (q, nd, avgdl) = graft.operators.TextAnalytics.bm25Stats(staticDocs)
    val qArr = // empty-corpus guard: a typed empty list, not an untyped array()
      if (q.isEmpty) array().cast("array<struct<word:string,df:bigint>>")
      else array(q.map { case (word, df) =>
        struct(lit(word).as("word"), lit(df).as("df")) }: _*)
    documentStream(spark, path, maxFilesPerTrigger)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("dl"), explode(qArr).as("q"))
      .withColumn("tf",
        size(filter(col("toks"), t => t === col("q.word"))).cast("long"))
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("q.word").as("word"), col("tf"),
        col("q.df").as("df"),
        graft.operators.TextAnalytics.bm25ScoreCol(
          col("tf"), col("q.df"), col("dl"), nd, avgdl).as("score_e4"))
  }

  /** Streaming perceptual fingerprinting — the media-ingest twin: each
    * arriving document builds its P6 image (the same pure-SQL
    * construction as batch) and decodes + average-hashes it per row with
    * the ONE [[graft.multimodal.Media.phashRaw]] implementation, so
    * batch and stream cannot hash differently. Stateless per-row column
    * + mapPartitions work (one codec scope per partition — the
    * multimodal batching contract holds on streams too); the emitted
    * (doc_id, width, height, phash) rows append straight to the
    * fingerprint table the Hamming pair search reads. TextStreamsSpec
    * replays the corpus and matches the batch media_phash rows exactly. */
  def phashStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    graft.multimodal.Media.phashRaw(
      graft.multimodal.Media.ppmTableDf(
        documentStream(spark, path, maxFilesPerTrigger)))

  /** Streaming FRAME EXTRACTION — the twenty-ninth twin, the continuous
    * form of the batch frame sampler ([[graft.multimodal.Media
    * .frameSampleQuery]]): arriving media payloads flatMap into their
    * per-frame rows (one 64-byte frame per 256-byte window, energy +
    * rolling checksum) through the ONE [[graft.multimodal.Media
    * .frameSampleRaw]] implementation, so batch and stream cannot frame
    * differently. This is the video-ingest shape: demux-at-arrival,
    * frame rows appended straight to the table the frame-level dedup
    * and scene heuristics read. Stateless mapPartitions — no state, no
    * watermark, no shuffle; TextStreamsSpec replays the corpus and
    * matches the batch media_frames rows exactly. */
  def frameStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    graft.multimodal.Media.frameSampleRaw(
      graft.multimodal.Media.mediaTableDf(
        documentStream(spark, path, maxFilesPerTrigger)))

  /** Streaming THUMBNAIL — the thirty-second twin, the continuous form
    * of the batch resize ([[graft.multimodal.Media.thumbnailQuery]]):
    * arriving media payloads box-filter to their thumbnails through the
    * ONE [[graft.multimodal.Media.thumbnailRaw]] codec path (same block
    * geometry, same floor-division means, same checksum fold), so batch
    * and stream cannot resize differently. This is the media-ingest
    * shape: derive-at-arrival, thumb rows (payload + checksum) appended
    * straight to the serving table the preview/feature tiers read.
    * Stateless mapPartitions — no state, no watermark, no shuffle;
    * TextStreamsSpec replays the corpus and matches the batch
    * media_thumbnail rows exactly. */
  def thumbnailStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame =
    graft.multimodal.Media.thumbnailRaw(
      graft.multimodal.Media.ppmTableDf(
        documentStream(spark, path, maxFilesPerTrigger)))

  /** Streaming copy-detection probe — the winnowing family's daily-crawl
    * shape (the eleventh twin): arriving documents fingerprint STATELESSLY
    * with the exact batch selector ([[Dedup.winnowingFingerprints]] — one
    * definition, so batch and stream can never select differently) and
    * probe the static corpus fingerprint table; every shared fingerprint
    * emits an evidence row (doc_id, corpus_doc_id, fp). Self-matches are
    * excluded so replaying the corpus over itself reports only genuine
    * cross-document overlap.
    *
    * Scale posture: per-row fingerprinting is narrow (≈ 2/(w+1) density);
    * the probe is a stream-static equi-join on the fingerprint — at test
    * scale the static side broadcasts, at 100 TB the fingerprint table is
    * written BUCKETED by fp once and each micro-batch (bounded) shuffles
    * to it, the corpus never recomputing — the same posture as
    * [[graft.operators.Dedup.incremental]]'s saved-fingerprint contract.
    * No watermark state: the stream side holds nothing between batches. */
  def winnowingProbeStream(spark: SparkSession, path: String,
      staticDocs: DataFrame, maxFilesPerTrigger: Int = 0): DataFrame = {
    val corpusFps = Dedup.winnowingFingerprints(staticDocs)
      .select(col("doc_id").as("corpus_doc_id"), col("fp"))
    Dedup.winnowingFingerprints(documentStream(spark, path, maxFilesPerTrigger))
      .join(corpusFps, "fp")
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id"), col("corpus_doc_id"), col("fp"))
  }

  /** Streaming NEAR-dup twin of [[Dedup.simhashPairs]]: arriving documents
    * are SimHash-fingerprinted, exploded into the same 16-bit prefix bands,
    * and matched against per-bucket state via `flatMapGroupsWithState` —
    * each (band, bits) bucket remembers the (doc_id, fingerprint) pairs it
    * has seen and Hamming-verifies every newcomer against them. The
    * pigeonhole property carries over: a pair within Hamming ≤ maxHamming
    * agrees exactly on ≥ 1 band, so bucket-local matching finds every
    * qualifying pair as it arrives.
    *
    * Exactly-once emission WITHOUT cross-bucket state: a pair agreeing on
    * several bands would be discovered in each of them, so a match is
    * emitted only from its FIRST agreeing band — a pure function of the two
    * fingerprints, hence the same single bucket decides regardless of
    * arrival order or batch boundaries.
    *
    * Scale posture: state is per-bucket (doc_id, fingerprint, event-ms)
    * triples — bounded by band-bucket occupancy (65,536 buckets/band at
    * 64-bit) WITHIN the dedup horizon: entries are evicted by event time
    * (EventTimeTimeout + a watermark filter on every state update), exactly
    * like the exact-dedup twin's watermark, so state is O(docs per horizon
    * window) on an unbounded crawl, not O(stream). Two documents match only
    * if they arrive within one horizon of each other — the same contract
    * dedupStream has. Rows inside a micro-batch are processed in doc_id
    * order so within-batch discovery is deterministic. */
  def nearDupStream(spark: SparkSession, path: String, maxHamming: Int = 3,
      maxFilesPerTrigger: Int = 0, horizonMs: Long = 3600000L): Dataset[NearDupPair] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxHamming < Dedup.SimBands, "pigeonhole needs maxHamming < SimBands")
    val bands = documentStream(spark, path, maxFilesPerTrigger)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.StringExprs
          .simhash(tokens(col("text")), Dedup.SimBits).as("fp"))
      // Same synthesized event time as dedupStream (+1 day off epoch 0).
      .withColumn("event_ts", timestamp_micros(col("doc_id") + lit(86400000000L)))
      .withWatermark("event_ts", s"$horizonMs milliseconds")
      // The band slices come from Dedup.simhashBandStructs — ONE definition
      // shared with the batch pair join, so batch and stream cannot band
      // differently (streaming recall would silently diverge otherwise).
      // event_ts rides through AS the watermarked timestamp column (event-
      // time timeout requires the watermark attribute to reach the stateful
      // operator); the state function derives millis from it.
      .select(col("doc_id"), col("fp"), col("event_ts"),
        explode(Dedup.simhashBandStructs(col("fp"))).as("bb"))
      .select(col("doc_id"), col("fp"), col("event_ts"),
        col("bb.band_idx").as("band_idx"), col("bb.band_bits").as("band_bits"))
      .as[(Long, Long, java.sql.Timestamp, Long, Long)]
    def firstAgreeingBand(a: Long, b: Long): Long = {
      val mask = (1L << Dedup.SimBandBits) - 1
      (0 until Dedup.SimBands).indexWhere { i =>
        ((a >> (i * Dedup.SimBandBits)) & mask) == ((b >> (i * Dedup.SimBandBits)) & mask)
      }.toLong
    }
    bands
      .groupByKey { case (_, _, _, bandIdx, bandBits) => (bandIdx, bandBits) }
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], NearDupPair](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((bandIdx, _), rows, state: GroupState[Seq[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            // No row for this bucket since the watermark passed its horizon —
            // every remembered doc is beyond matching range; drop the bucket.
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            // Evict entries the watermark has passed: nothing arriving later
            // can be within `horizonMs` of them.
            var seen = state.getOption.getOrElse(Seq.empty).filter(_._3 >= wm)
            val out = Seq.newBuilder[NearDupPair]
            for ((docId, fp, eventTs, _, _) <- rows.toSeq.sortBy(_._1)) {
              val eventMs = eventTs.getTime
              for ((id2, fp2, _) <- seen) {
                val h = java.lang.Long.bitCount(fp ^ fp2)
                if (h <= maxHamming && firstAgreeingBand(fp, fp2) == bandIdx)
                  out += NearDupPair(math.min(docId, id2), math.max(docId, id2), h.toLong)
              }
              seen = (docId, fp, eventMs) +: seen // prepend: O(1); order irrelevant
            }
            state.update(seen)
            // Wake (and clear) this bucket once the watermark passes its
            // newest entry's horizon; max(wm+1,…) keeps the timestamp legal
            // even for a bucket fed only watermark-stale rows.
            val newest = if (seen.isEmpty) wm else seen.map(_._3).max
            state.setTimeoutTimestamp(math.max(wm + 1, newest + horizonMs))
            out.result().iterator
          }
      }
  }

  /** STREAMING BUDGET ADMISSION — the online half of the token-budget
    * plans ([[graft.operators.Pipeline.dataMixEpochs]] allocates each
    * source a share; [[graft.operators.Pipeline.dataBudgetTrim]] trims a
    * static corpus to a budget): documents arriving at crawl intake are
    * ADMITTED while their source's share has room and refused after —
    * admission control, the per-document decision a 100 TB intake makes
    * as data lands. No windowed aggregate expresses it (the running
    * total must survive across triggers AND gate each row), so this is
    * the `flatMapGroupsWithState` custom-state case: state is ONE long
    * per source (O(sources), never O(docs)); whole documents only, the
    * batch trim's rule. Output mode: update (each arriving doc emits its
    * decision once, with the share consumed after it).
    *
    * ORDERING SEMANTICS (stated, not assumed): admission is
    * order-of-ARRIVAL across triggers — the production intake rule. Rows
    * WITHIN one micro-batch are re-ordered by doc_id before folding
    * (Spark's stateful exchange only guarantees grouping-key order, so an
    * upstream secondary sort cannot survive to this iterator), which
    * makes the decision sequence deterministic — and equal to the batch
    * greedy fold — whenever files ARRIVE in doc_id order (a single-drop
    * replay, or an ordered feed); under arbitrary trigger slicing of an
    * unordered feed the admitted set is the arrival-order one.
    * MEMORY BOUND: the sort buffers one source's slice of ONE micro-batch
    * (3 longs per doc) on its state worker — bounded by the trigger size
    * (`maxFilesPerTrigger`), never by the corpus. */
  /** STREAMING PACKING — the continuous form of
    * [[graft.operators.Pipeline.packSequencesIncremental]]: documents
    * arriving at intake are assigned their training-sequence offset the
    * moment they land, against a per-source running TOKEN TOTAL kept in
    * state (O(sources) longs — the state IS the persisted per-source
    * total the batch append reads as a product; here it survives across
    * triggers instead of across jobs). Each document emits exactly once
    * with its offset (the total before it) and seq_id.
    *
    * Same ordering semantics as [[budgetAdmissionStream]] (stated, not
    * assumed): offsets are order-of-ARRIVAL across triggers — the intake
    * rule — with rows re-ordered by doc_id within each micro-batch, so a
    * doc_id-ordered replay reproduces the batch [[Pipeline.packSequences]]
    * layout byte-for-byte, and an arbitrary feed gets the arrival-order
    * packing. MEMORY BOUND: one source's slice of one micro-batch
    * (3 longs per doc), bounded by `maxFilesPerTrigger`, never the
    * corpus. */
  def packOffsetsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): Dataset[PackOffset] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    documentStream(spark, path, maxFilesPerTrigger)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, PackOffset](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val batch = rows.toArray
          scala.util.Sorting.quickSort(batch)(Ordering.by(_._2))
          val out = batch.map { case (_, id, n) =>
            val off = total; total += n
            // offsets are non-negative: Long division = the batch floor
            PackOffset(src, id, n, off, off / Pipeline.SeqLen)
          }
          state.update(total)
          out.iterator
      }
  }

  def budgetAdmissionStream(spark: SparkSession, path: String,
      sharePerSource: Long, maxFilesPerTrigger: Int = 0): Dataset[BudgetAdmit] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    documentStream(spark, path, maxFilesPerTrigger)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, BudgetAdmit](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          // One array, sorted in place, folded eagerly: the state update
          // must see the post-fold total before the iterator is returned.
          val batch = rows.toArray
          scala.util.Sorting.quickSort(batch)(Ordering.by(_._2))
          val out = batch.map { case (_, id, n) =>
            val ok = used + n <= sharePerSource
            if (ok) used += n
            BudgetAdmit(src, id, n, if (ok) 1L else 0L, used)
          }
          state.update(used)
          out.iterator
      }
  }
}

/** Output row of [[TextStreams.nearDupStream]]. */
case class NearDupPair(d1: Long, d2: Long, hamming: Long)

/** Output row of [[TextStreams.budgetAdmissionStream]]. */
case class BudgetAdmit(source: String, doc_id: Long, n_toks: Long,
  admitted: Long, used_after: Long)

/** Output row of [[TextStreams.packOffsetsStream]]. */
case class PackOffset(source: String, doc_id: Long, n_toks: Long,
  offset: Long, seq_id: Long)
