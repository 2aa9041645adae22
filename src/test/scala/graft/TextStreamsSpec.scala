package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventStreams, TextStreams}

/** The streaming word count must agree with the batch/oracle pipeline. */
class TextStreamsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("streaming dedup keeps exactly one survivor per distinct text (batch parity)") {
    // Stage the documents table as a file-stream directory.
    val dir = Paths.get("target", "test-scratch", "docstream")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.dedupStream(spark, dir.toString), "t_dedup",
        mode = "append")
      .select("text").as[String].collect()
    // One survivor per distinct text, and the surviving-text SET equals the
    // batch exact-dedup survivors (survivor IDENTITY may differ: batch keeps
    // global min doc_id, the stream keeps first arrival).
    assert(streamed.length === streamed.distinct.length, "a duplicate text survived")
    val batch = graft.operators.Dedup.exact(spark, TestSpark.sf)
      .select("text").as[String].collect().toSet
    assert(streamed.toSet === batch)
  }

  test("streaming clean corpus keeps exactly the batch keep set (text-level)") {
    val dir = Paths.get("target", "test-scratch", "docstream_clean")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.cleanStream(spark, dir.toString), "t_clean",
        mode = "append")
      .select("text").as[String].collect().toSet
    // Batch keep=1 docs, resolved to their texts. The corpus has no
    // same-text-different-lang duplicates (verified), so the kept-text set
    // is survivor-identity-independent and must match exactly.
    val keptIds = graft.operators.Pipeline.cleanCorpus(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("keep") === 1)
      .select("doc_id")
    val batchTexts = graft.sources.Tables.documents(spark, TestSpark.sf)
      .join(keptIds, "doc_id").select("text").as[String].collect().toSet
    assert(streamed === batchTexts)
    assert(streamed.nonEmpty, "corpus keeps nothing — test would be vacuous")
  }

  test("streaming gate twin keeps exactly the batch gopher∧c4 keep set") {
    import org.apache.spark.sql.functions.col
    // Planted corpus: the synthetic table is single-line and
    // punctuation-free (c4-keep vacuously 0), so parity runs on docs that
    // exercise all four keep/fail combinations.
    val passLine = "the quick brown fox jumps over a lazy dog today."
    val both = Seq.fill(6)(passLine).zipWithIndex
      .map { case (l, i) => l.replace("today", s"day$i") }.mkString("\n")
    val gopherOnly = (Seq("the", "a") ++ Seq.fill(58)("word")).mkString(" ")
    val c4Only = Seq.fill(5)("one two three.").mkString("\n")
    val docs = Seq(
      (1L, both, "en", "s1"), (2L, gopherOnly, "en", "s1"),
      (3L, c4Only, "en", "s2"), (4L, "", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val stage = Paths.get("target", "test-scratch", "docstream_gate_stage")
    val dir = Paths.get("target", "test-scratch", "docstream_gate")
    org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    docs.coalesce(1).write.parquet(stage.toString)
    Files.createDirectories(dir)
    val part = Files.list(stage).filter(p => p.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, dir.resolve("documents.parquet"))
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.gateStream(spark, dir.toString), "t_gate",
        mode = "append")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.operators.Pipeline.withC4Flags(
        graft.operators.TextAnalytics.withGopherFlags(docs))
      .filter(col("gopher_keep") === 1L && col("c4_keep") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(batch === Set(1L), "planted corpus must keep exactly the both-pass doc")
    assert(streamed === batch)
    // The emitted text is the C4 rewrite, not the raw text.
    val cleaned = EventStreams.runToCompletion(
        spark, TextStreams.gateStream(spark, dir.toString), "t_gate2",
        mode = "append")
      .select("text_clean").as[String].collect()
    assert(cleaned.forall(_.nonEmpty))
  }

  test("streaming decontamination evidence equals the batch contaminated set") {
    val dir = Paths.get("target", "test-scratch", "docstream_decon")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val staticDocs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.decontaminateStream(spark, dir.toString, staticDocs),
        "t_decon", mode = "append")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.operators.Pipeline.decontaminate(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("contaminated") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(batch.nonEmpty, "no contaminated docs — test would be vacuous")
    assert(streamed === batch,
      "streamed evidence doc set must equal the batch contaminated set")
  }

  test("streaming fertility equals the batch learned-vocab fertility per doc") {
    val dir = Paths.get("target", "test-scratch", "docstream_fert")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val staticDocs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.fertilityStream(spark, dir.toString, staticDocs),
        "t_fert", mode = "append")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.TextAnalytics
      .tokenizeWordpieceLearned(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming dp fertility equals the per-word DP joined to occurrences") {
    val dir = Paths.get("target", "test-scratch", "docstream_dpfert")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val staticDocs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.dpFertilityStream(spark, dir.toString, staticDocs),
        "t_dpfert", mode = "append")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, w, p, f) => id -> ((w, p, f)) }.toMap
    // Independent recompute: the batch per-WORD DP (tokenize_unigram's
    // engine path) joined back to per-doc occurrences in plain Scala.
    val scored = graft.operators.TextAnalytics.vocabTrainDf(staticDocs)
      .orderBy("merge_rank").select("merged", "pair_cnt")
      .as[(String, Long)].collect().toSeq
    val perWord = graft.operators.TextAnalytics
      .tokenizeUnigramDf(staticDocs, scored)
      .select("word", "n_pieces").as[(String, Long)].collect().toMap
    // word extraction via the engine tokenizer (word-boundary semantics
    // are TokenizerSpec's subject, not this spec's)
    val docs = staticDocs
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.Fns.tokens(
          org.apache.spark.sql.functions.col("text")).as("w"))
      .as[(Long, Seq[String])].collect()
    assert(streamed.nonEmpty && streamed.size === docs.length)
    for ((id, words) <- docs) {
      val pieces = words.map(perWord).sum
      val (w, p, f) = streamed(id)
      assert(w === words.length.toLong, s"doc $id word count")
      assert(p === pieces, s"doc $id piece count")
      val expF = if (words.isEmpty) 0L
        else BigDecimal(pieces * 10000.0 / words.length)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(f === expF, s"doc $id fertility")
    }
  }

  test("streaming winnowing probe evidence equals the batch fingerprint join") {
    val dir = Paths.get("target", "test-scratch", "docstream_winnow")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val staticDocs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.winnowingProbeStream(spark, dir.toString, staticDocs),
        "t_winnow", mode = "append")
      .select("doc_id", "corpus_doc_id", "fp")
      .as[(Long, Long, Long)].collect().toSet
    // batch expectation: the same one-definition fingerprint join
    val fps = graft.operators.Dedup.winnowingFingerprints(staticDocs)
    val batch = fps
      .join(fps.withColumnsRenamed(Map("doc_id" -> "corpus_doc_id")), "fp")
      .filter(org.apache.spark.sql.functions.col("doc_id") =!=
        org.apache.spark.sql.functions.col("corpus_doc_id"))
      .select("doc_id", "corpus_doc_id", "fp")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "no cross-document fingerprint overlap — vacuous")
    assert(streamed === batch)
  }

  test("streaming perceptual hashes equal the batch media_phash rows") {
    val dir = Paths.get("target", "test-scratch", "docstream_phash")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.phashStream(spark, dir.toString), "t_phash",
        mode = "append")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.multimodal.Media.phashQuery(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming frame extraction equals the batch media_frames rows") {
    val dir = Paths.get("target", "test-scratch", "docstream_frames")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.frameStream(spark, dir.toString), "t_frames",
        mode = "append")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.multimodal.Media.frameSampleQuery(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming thumbnail equals the batch media_thumbnail rows") {
    val dir = Paths.get("target", "test-scratch", "docstream_thumb")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.thumbnailStream(spark, dir.toString), "t_thumb",
        mode = "append")
      .select("doc_id", "width", "height", "thumb_w", "thumb_h", "checksum")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.multimodal.Media.thumbnailQuery(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
    // The streamed PAYLOADS are valid P6 the real decoder accepts and
    // they re-fold to the declared checksum — the bytes themselves twin,
    // not just the integer summary.
    val payloads = spark.table("t_thumb")
      .select("thumb", "checksum").as[(Array[Byte], Long)].collect()
    for ((thumb, chk) <- payloads.take(20)) {
      val (tw2, th2, _, _, _) = graft.multimodal.Media.decodePpm(thumb)
      assert(tw2 >= 1 && th2 >= 1)
      var c = 0L
      thumb.drop(thumb.length - 3 * tw2 * th2)
        .foreach(b => c = (c * 31 + (b & 0xff)) & 0xffffffffL)
      assert(c === chk, "payload does not re-fold to its checksum")
    }
  }

  test("streaming bm25 equals an independent model and contains the batch top-k") {
    val dir = Paths.get("target", "test-scratch", "docstream_bm25")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val staticDocs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.bm25ScoreStream(spark, dir.toString, staticDocs),
        "t_bm25", mode = "append")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    // Independent plain-Scala model over the same corpus: tokenize with the
    // reference regex, derive tf/df/N/avgdl, apply the identical IEEE chain.
    val raw = staticDocs.select("doc_id", "text").as[(Long, String)].collect()
    val tok = """\b[a-z]+\b""".r
    val toks = raw.map { case (id, t) => id -> tok.findAllIn(t.toLowerCase).toSeq }
    val tf = toks.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, o) => (id, w, o.size.toLong) } }
    val df = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val qterms = df.toSeq.sortBy { case (w, d) => (-d, w) }
      .take(graft.operators.TextAnalytics.Bm25Terms)
    val dl = toks.map { case (id, ws) => id -> ws.length.toLong }.toMap
    val nd = raw.length.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / raw.length
    val qset = qterms.toMap
    val expected = tf.filter(t => qset.contains(t._2)).map { case (id, w, f) =>
      val d = qset(w)
      val idf = (nd - d + 0.5) / (d + 0.5)
      val den = f + 1.2 * (0.25 + 0.75 * (dl(id) / avgdl))
      (id, w, f, d, math.round(idf * ((f * 2.2) / den) * 10000.0))
    }.toSet
    assert(expected.nonEmpty)
    assert(streamed === expected)
    // the batch query's ranked rows are a subset of the streamed scores
    val batch = graft.operators.TextAnalytics.bm25(spark, TestSpark.sf)
      .select("doc_id", "word", "tf", "df", "score_e4")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(batch.subsetOf(streamed), "batch top-k rows missing from the stream")
  }

  test("streaming near-dup pairs equal the batch simhash Hamming-ball exactly") {
    val dir = Paths.get("target", "test-scratch", "docstream_neardup")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.nearDupStream(spark, dir.toString).toDF(), "t_neardup",
        mode = "append")
      .as[(Long, Long, Long)].collect().toSeq
    // Exactly-once: no pair reported twice (the first-agreeing-band rule).
    assert(streamed.map(t => (t._1, t._2)).distinct.size === streamed.size,
      "a pair was emitted from more than one band bucket")
    // Full parity with the batch operator — same pairs, same Hamming.
    val batch = graft.operators.Dedup.simhashPairs(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed.toSet === batch.toSet)
    assert(batch.nonEmpty, "corpus has no near-dups — test would be vacuous")
  }

  test("streaming corpus stats equal the batch per-language report") {
    val dir = Paths.get("target", "test-scratch", "docstream_stats")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.corpusStatsStream(spark, dir.toString), "t_stats")
      .as[(String, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Pipeline.corpusStats(spark, TestSpark.sf)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming count-min cells equal the batch sketch after the full corpus") {
    val dir = Paths.get("target", "test-scratch", "docstream_cms")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.cmsStream(spark, dir.toString), "t_cms")
      .as[(Long, Long, Long)].collect().toSet
    // Batch twin of the cell build: same tokens, same salted buckets.
    import org.apache.spark.sql.functions.{array, col, count, explode, lit, struct}
    val cells = (0 until graft.operators.TextAnalytics.CmsDepth).map { j =>
      struct(lit(j).as("j"), graft.functions.Fns.saltedBucket(
        s"c$j#", col("word"), graft.operators.TextAnalytics.CmsWidth).as("ccol"))
    }
    val batch = sources.Tables.documents(spark, TestSpark.sf)
      .select(explode(graft.functions.Fns.tokens(col("text"))).as("word"))
      .select(explode(array(cells: _*)).as("p"))
      .groupBy(col("p.j").cast("long"), col("p.ccol")).agg(count(lit(1)).as("cell"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming drift counts + report tail reproduce the batch drift report") {
    val dir = Paths.get("target", "test-scratch", "docstream_drift")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val cells = EventStreams.runToCompletion(
        spark, TextStreams.driftCountsStream(spark, dir.toString), "t_drift")
      .as[(String, Long, Long)].collect()
    // Report tail over the sink (the post-step the scaladoc describes):
    // totals + the same pinned e6 arithmetic, top-k by (diff desc, word).
    val na = cells.map(_._2).sum.toDouble
    val nb = cells.map(_._3).sum.toDouble
    val report = cells.map { case (w, ca, cb) =>
      (w, ca, cb, math.round(math.abs(ca / na - cb / nb) * 1000000.0))
    }.sortBy { case (w, _, _, d) => (-d, w) }
      .take(graft.operators.Pipeline.DriftTopK).toSeq
    val batch = graft.operators.Pipeline.corpusDrift(spark, TestSpark.sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(report === batch)
    assert(report.nonEmpty)
  }

  test("streaming word count over a text dir equals the batch word count") {
    val dir = Paths.get("target", "test-scratch", "textstream")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.txt"), "The quick brown fox\njumps over the lazy dog\n")
    Files.writeString(dir.resolve("b.txt"), "the quick brown fox jumps again\n")
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.wordCountStream(spark, dir.toString), "t_wordcount")
      .as[(String, Long)].collect().toMap
    val batch = Report.wordcountTextDir(spark, dir.toString)
      .as[(String, Long)].collect().toMap
    assert(streamed === batch)
    assert(streamed("the") === 3L)
  }

  test("streaming word count survives a restart: resumed run equals uninterrupted and batch") {
    // The per-word sums live in checkpointed aggregation state: a job
    // stopped after the first drop and restarted after the second must end
    // on the same table as one run over both drops, and as the batch count.
    val root = Paths.get("target", "test-scratch", "textstream_restart")
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    val dir = root.resolve("in")
    Files.createDirectories(dir)
    def run(ck: String): Map[String, Long] = {
      var last = Map.empty[String, Long]
      val q = TextStreams.wordCountStream(spark, dir.toString)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          last = df.as[(String, Long)].collect().toMap
          ()
        }
        .option("checkpointLocation", ck)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      last
    }
    val resumedCk = root.resolve("ck_resumed").toString
    Files.writeString(dir.resolve("a.txt"), "The quick brown fox\nnaïve café fox\n")
    val first = run(resumedCk)
    assert(first("fox") === 2L)
    Files.writeString(dir.resolve("b.txt"), "the FOX again\nx2 a_b don't\n")
    val resumed = run(resumedCk)
    val uninterrupted = run(root.resolve("ck_once").toString)
    val batch = Report.wordcountTextDir(spark, dir.toString)
      .as[(String, Long)].collect().toMap
    assert(resumed === uninterrupted, "restart lost or double-counted words")
    assert(resumed === batch)
    assert(resumed("fox") === 3L && resumed("the") === 2L)
  }

  test("streaming packing offsets equal the batch pack_sequences layout") {
    // A doc_id-ordered replay (one parquet drop) must reproduce the
    // batch packing byte-for-byte: the stream's per-source state is the
    // running token total the batch window computes.
    val dir = Paths.get("target", "test-scratch", "docstream_pack")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.packOffsetsStream(spark, dir.toString).toDF(),
        "t_pack", mode = "update")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(streamed.nonEmpty)
    assert(streamed.length === streamed.map(r => (r._1, r._2)).distinct.length,
      "a document was packed more than once")
    val batch = graft.operators.Pipeline.packSequences(spark, TestSpark.sf)
      .select("source", "doc_id", "n_toks", "offset", "seq_id")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(streamed.toSet === batch.toSet,
      "streamed packing diverged from the batch layout")
  }

  test("streaming packing state survives a restart: run 2 continues run 1's totals") {
    // The production claim behind the twin: the per-source running token
    // total lives in CHECKPOINTED state, so a stopped-and-restarted job
    // keeps packing where it left off — the streaming equivalent of
    // pack_sequences_incremental's persisted-totals append, across JOBS.
    val dir = Paths.get("target", "test-scratch", "docstream_pack_restart")
    val ck = Paths.get("target", "test-scratch", "docstream_pack_ck")
    for (d <- Seq(dir, ck) if Files.exists(d))
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    Files.createDirectories(dir)
    def drop(rows: Seq[(Long, String, String, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    def run(): Seq[(String, Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long, Long)]
      val q = TextStreams.packOffsetsStream(spark, dir.toString).toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf ++= df.as[(String, Long, Long, Long, Long)].collect()
          ()
        }
        .option("checkpointLocation", ck.toString)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.toSeq
    }
    drop(Seq((1L, "w w", "en", "a", 3L), (2L, "w", "en", "b", 1L)))
    assert(run().sortBy(_._2) === Seq(
      ("a", 1L, 2L, 0L, 0L), ("b", 2L, 1L, 0L, 0L)))
    // second drop lands AFTER the first job terminated; the restarted job
    // must resume the totals (a at 2, b at 1), not restart them at 0
    drop(Seq((3L, "x y z", "en", "a", 5L), (4L, "q", "en", "b", 1L)))
    assert(run().sortBy(_._2) === Seq(
      ("a", 3L, 3L, 2L, 0L), ("b", 4L, 1L, 1L, 0L)),
      "restart lost the per-source running totals")
  }

  test("streaming budget admission matches the batch per-source greedy fold") {
    val dir = Paths.get("target", "test-scratch", "docstream_budget")
    Files.createDirectories(dir)
    Files.copy(Paths.get(TestSpark.sf, "documents.parquet"),
      dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val share = 500L
    val streamed = EventStreams.runToCompletion(
        spark, TextStreams.budgetAdmissionStream(spark, dir.toString, share).toDF(),
        "t_budget", mode = "update")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(streamed.nonEmpty)
    // Each doc emits its decision EXACTLY once — duplicate emissions
    // would be collapsed by the set compare below, so pin count first.
    assert(streamed.length === streamed.map(r => (r._1, r._2)).distinct.length,
      "a document emitted more than one admission decision")
    // Batch fold: per source in doc_id order, admit while used + n <= share.
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          graft.functions.Fns.tokens(org.apache.spark.sql.functions.col("text")))
          .cast("long"))
      .as[(String, Long, Long)].collect()
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var used = 0L
      rows.sortBy(_._2).toSeq.map { case (_, id, n) =>
        val ok = used + n <= share
        if (ok) used += n
        (src, id, n, if (ok) 1L else 0L, used)
      }
    }.toSet
    assert(streamed.toSet === expect)
    // both decisions must actually occur at this share
    assert(streamed.exists(_._4 == 1L) && streamed.exists(_._4 == 0L),
      "share must split the corpus non-trivially")
    // every emitted running total respects the share
    assert(streamed.forall(_._5 <= share))
  }
}
