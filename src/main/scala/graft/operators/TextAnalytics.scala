package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.sources.Tables

/** Text operators: the reference engine's entire production query surface
  * (word count / top-k / distinct words — coordinator.py:62-136, worker.py:9-17)
  * plus the mandated text-analysis extensions (n-grams, document frequency,
  * language ID, quality scoring, token stats, fingerprinting).
  *
  * Scale notes (100 TB): every pipeline here is scan → narrow per-row transform
  * (tokenize = codegen'd regex, no UDF) → explode → hash partial agg → shuffle
  * on the group key → final agg. The partial aggregate (Spark's built-in
  * map-side combine, HashAggregateExec mode=Partial) is the same optimization
  * the reference hand-rolls in worker.py:13-15; shuffle volume is bounded by
  * distinct keys per task, not input size. Top-k is TakeOrderedAndProject —
  * a per-partition heap + driver merge of k rows, never a global sort spill.
  */
object TextAnalytics {

  /** Words per doc, lowered + tokenized with the reference regex. */
  def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))

  /** word → count over the whole corpus (reference O5+O6). */
  def wordCounts(docs: DataFrame): DataFrame =
    wordCountsText(docs, "text")

  /** word → count over any text column (documents table or raw text lines —
    * the Report/textLines ingest path shares this exact pipeline). */
  def wordCountsText(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Flagship: reference parity top-k (O3,O4,O5,O6,O9,O10) with the rebuild's
    * deterministic total order (count desc, word asc — SURVEY §2 R1). */
  def wordcountTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    wordCounts(Tables.documents(spark, dir))
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)

  /** Full frequency table, the TSV-sink analog (O12). */
  def wordcountFull(spark: SparkSession, dir: String): DataFrame =
    wordCounts(Tables.documents(spark, dir))
      .orderBy(desc("cnt"), asc("word"))

  /** Distinct-word count per language (O11 generalized). */
  def distinctWords(spark: SparkSession, dir: String): DataFrame =
    docTokens(Tables.documents(spark, dir))
      .select(col("lang"), explode(col("toks")).as("word"))
      .groupBy("lang")
      .agg(countDistinct("word").as("n_words"))
      .orderBy("lang")

  /** Sketch variant of distinctWords: HyperLogLog++ via
    * approx_count_distinct. At 100 TB the exact distinct (a second shuffle
    * of every (lang, word) pair) is the expensive path; the sketch merges
    * fixed-size registers instead. rows-only in the gate (sketch estimates
    * are engine-specific); TextAnalyticsSpec gates the error vs exact. */
  def distinctWordsApprox(spark: SparkSession, dir: String): DataFrame =
    docTokens(Tables.documents(spark, dir))
      .select(col("lang"), explode(col("toks")).as("word"))
      .groupBy("lang")
      .agg(approx_count_distinct("word").as("n_words_approx"))
      .orderBy("lang")

  /** Fixed subword piece inventory for [[tokenizeWordpiece]] — whole hot
    * words plus common fragments, so segmentation fertility is non-trivial
    * on this corpus. A trained deployment swaps in its learned merges; the
    * segmenter is vocabulary-agnostic. MUST stay byte-identical to the
    * VALUES list in SparkEntry's oracle (generated from this constant). */
  val WordPieceVocab: Seq[String] = Seq(
    "the", "er", "an", "or", "in", "ow", "ch", "sh", "st", "ta",
    "row", "key", "big", "data", "spark", "join", "hash", "scan", "sort",
    "part", "query", "stream", "window", "filter", "order", "value",
    "batch", "small", "group")

  /** Merge count for [[vocabTrain]] — deliberately small so the unrolled
    * oracle CTE chain stays reviewable; production vocabularies run this
    * exact loop tens of thousands of iterations (see the scale note). */
  val BpeMerges = 12

  /** Max merges applied per training pass (sound batching — see
    * [[selectMergeBatch]]) and the candidate-list width collected per pass
    * (the width also caps how far the safety guard can SEE; pairs outside
    * the collected list are bounded by the last collected count). */
  val BpeBatch = 8
  val BpeTopM = 256

  /** TRAIN the subword vocabulary — deterministic BPE pair-merge training
    * (Sennrich et al. 2016, arXiv:1508.07909), the learned sibling of the
    * hand-picked [[WordPieceVocab]] exactly as `text_langid_ngram` is the
    * trained sibling of `text_langid`. Semantics are the classic SEQUENTIAL
    * loop: count adjacent piece pairs over the DISTINCT-word table weighted
    * by corpus word frequency, take the most frequent pair (count-desc /
    * pair-asc ties — all-integer, so the trained merge table hash-matches
    * the oracle's unrolled CTE chain), merge it greedily left-to-right
    * inside every word, repeat. Output: the ranked merge table
    * (merge_rank, lhs, rhs, merged, pair_cnt) — the artifact a tokenizer
    * ships.
    *
    * EXECUTION is batched: each pass collects the top-[[BpeTopM]] pairs in
    * one job, selects up to [[BpeBatch]] merges whose sequential outcome is
    * PROVABLY unaffected by the earlier merges in the batch
    * ([[selectMergeBatch]] — prefix-of-the-sorted-list, symbol-disjoint,
    * guarded against pairs whose counts can rise mid-batch), and applies
    * them in ONE fold pass + ONE localCheckpoint. The merge table is
    * bit-identical to the sequential loop's by construction, so the oracle
    * stays the plain sequential CTE unroll; jobs-per-vocab drops by the
    * realized batch factor (TextAnalyticsSpec measures it).
    *
    * Scale shape: training runs over the word → count table (vocabulary-
    * sized, NOT the corpus — the one corpus-sized shuffle already happened
    * in wordCounts), so each PASS is one pair-count shuffle over |vocab|
    * rows plus a topM-row collect; driver state is the merge list (nMerges
    * rows) + the topM candidates. The greedy merge application is a
    * codegen'd `aggregate` HOF fold per word — a fold's "merge, then
    * compare the NEW last piece" recurrence is exactly BPE's
    * non-overlapping left-to-right scan, and a batch's rules are
    * symbol-disjoint so one scan applies them all without interaction.
    * At production merge counts (30-50 K) this is the difference between
    * 30-50 K Spark jobs and ~nMerges/B passes — the driver-paced
    * coordinator loop (the reference's coordinator.py:74-83 disease)
    * amortized away. */
  def vocabTrain(spark: SparkSession, dir: String,
      nMerges: Int = BpeMerges): DataFrame =
    spark.read.parquet(ensureBpeProduct(spark, dir, nMerges) + "/merges")
      .orderBy("merge_rank")

  /** On-disk layout version of the persisted BPE training product — bump
    * whenever the training loop or the table shapes change. */
  private val BpeProductVersion = 1

  /** Resolve (and build on miss) the persisted BPE TRAINING PRODUCT for
    * corpus `d` — the build-once/consume-many split for the family's most
    * expensive step, the driver-paced merge-training loop, which
    * `vocab_train`, `tokenize_bpe`, `tokenize_wordpiece_learned` and
    * `pack_sequences_bpe` each re-ran inside their own query. One
    * training run stores two tables under the content-addressed
    * [[graft.sources.ArtifactCache]] directory:
    *
    *  - `merges/` (merge_rank, lhs, rhs, merged, pair_cnt) — the ranked
    *    merge table, the artifact a tokenizer ships (nMerges rows);
    *  - `seg/`    (word, cnt, pieces) — the post-training segmentation
    *    of every distinct corpus word, i.e. the BPE encode of the
    *    vocabulary (what inference reuses instead of replaying merges).
    *
    * Consumers read their table and join/order as before — rows are
    * identical by construction (the training loop is deterministic and
    * all-integer), so every consumer's oracle is unchanged. The build
    * publishes through [[graft.sources.ArtifactCache.getOrBuildDir]]
    * (crash-safe, FIRST-WINS: concurrent cold starts both train and the
    * losing copy is discarded complete). Planted-test Df variants keep
    * training self-contained. */
  private[graft] def ensureBpeProduct(s: SparkSession, d: String,
      nMerges: Int = BpeMerges, batch: Int = BpeBatch): String =
    graft.sources.ArtifactCache.getOrBuildDir(s, "bpe",
      s"$d/documents.parquet", Seq(nMerges, batch, BpeProductVersion)) { tmp =>
      import s.implicits._
      val (m, _, seg) = vocabTrainSeg(Tables.documents(s, d), nMerges, batch)
      try {
        m.toDF("merge_rank", "lhs", "rhs", "merged", "pair_cnt")
          .coalesce(1).write.parquet(s"$tmp/merges")
        seg.write.parquet(s"$tmp/seg")
      } finally org.apache.spark.sql.graft.Checkpoints.release(seg)
    }

  /** Same, over any (doc_id, text) DataFrame (planted tests). Each
    * pass's segmentation is an EAGER localCheckpoint: the merge fold
    * is a nested lambda expression, so chaining passes lineage-deep
    * makes Catalyst re-analyze an ever-growing plan (quadratic driver
    * time by ~iteration 20); truncating per round keeps every round O(1)
    * plan work — the same fix dedup_clusters uses for its CC rounds (swap
    * for reliable `checkpoint` on a real cluster). */
  def vocabTrainDf(docs: DataFrame, nMerges: Int = BpeMerges,
      batch: Int = BpeBatch): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    vocabTrainRaw(docs, nMerges, batch)._1
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_cnt")
      .orderBy("merge_rank")
  }

  /** Training core: returns (merge table rows, number of passes run).
    * `batch = 1` degenerates to the exact sequential loop — the spec runs
    * both and asserts identical tables with fewer passes. */
  private[graft] def vocabTrainRaw(docs: DataFrame, nMerges: Int,
      batch: Int): (Seq[(Long, String, String, String, Long)], Int) = {
    val (m, p, seg) = vocabTrainSeg(docs, nMerges, batch)
    org.apache.spark.sql.graft.Checkpoints.release(seg)
    (m, p)
  }

  /** [[vocabTrainRaw]] plus the post-training segmentation table
    * (word, cnt, pieces) — every distinct corpus word encoded by the full
    * merge sequence. The returned frame is checkpoint-persisted; the caller
    * owns its release ([[tokenizeBpeDf]] frees it after its terminal
    * action). */
  private[graft] def vocabTrainSeg(docs: DataFrame, nMerges: Int,
      batch: Int): (Seq[(Long, String, String, String, Long)], Int, DataFrame) = {
    var seg = wordCountsText(docs, "text")
      .select(col("word"), col("cnt"),
        regexp_extract_all(col("word"), lit("[a-z]"), lit(0)).as("pieces"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var passes = 0
    var done = false
    while (merges.size < nMerges && !done) {
      val cand = seg
        .select(col("cnt"), explode(zip_with(
          slice(col("pieces"), lit(1), greatest(size(col("pieces")) - 1, lit(0))),
          slice(col("pieces"), lit(2), greatest(size(col("pieces")) - 1, lit(0))),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum("cnt").as("c"))
        .orderBy(desc("c"), asc("lhs"), asc("rhs"))
        .limit(BpeTopM).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq
      passes += 1
      if (cand.isEmpty) done = true
      else {
        val outsideBound = if (cand.length == BpeTopM) cand.last._3 else 0L
        val accepted = selectMergeBatch(cand, outsideBound,
          math.min(batch, nMerges - merges.size))
        accepted.foreach { case (l, r, c) =>
          merges += ((merges.size + 1L, l, r, l + r, c))
        }
        val prev = seg
        // One fold applies the whole batch: rules are symbol-disjoint and
        // never reference an earlier rule's merged symbol, so at most one
        // rule matches any (last piece, next piece) step and the chained
        // `when` is order-independent.
        seg = seg.withColumn("pieces",
          aggregate(col("pieces"), lit(Array.empty[String]), (acc, x) =>
            accepted.foldRight(concat(acc, array(x)): org.apache.spark.sql.Column) {
              case ((l, r, _), els) =>
                when(size(acc) > 0 &&
                    element_at(acc, -1) === lit(l) && x === lit(r),
                  concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                  .otherwise(els)
            }))
          .localCheckpoint(true)
        org.apache.spark.sql.graft.Checkpoints.release(prev)
      }
    }
    (merges.toSeq, passes, seg)
  }

  /** Select a batch of merges whose sequential outcome is provably fixed by
    * the pre-pass pair counts — the SOUNDNESS rule that lets one pass apply
    * several merges while staying bit-identical (ranks, pairs, AND recorded
    * pair_cnt) to the one-merge-at-a-time loop.
    *
    * `cand` is the pair list sorted (count desc, lhs asc, rhs asc);
    * `outsideBound` bounds the count of any pair NOT in `cand` (the last
    * collected count when the list was truncated, else 0). Walk the PREFIX
    * of the list — stopping, never skipping, because a skipped pair could
    * itself be the true next merge — and accept candidate p_j after
    * accepted merges p_1..p_{j-1} iff:
    *
    *  1. p_j's lhs, rhs, AND merged symbol are all absent from every
    *     accepted merge's {lhs, rhs, merged}. Sharing lhs/rhs means p_j's
    *     own count would have DECREASED before its sequential turn;
    *     equalling a merged symbol means it could have INCREASED — either
    *     way its pre-pass count is stale. And if p_j's MERGED symbol is an
    *     accepted rule's input (accept (ab,c) then (a,b): "a b c" folds to
    *     "abc" in one scan, but sequentially (ab,c) ran before any "ab"
    *     existed and the answer is "ab c"), the single-scan fold would
    *     cascade where sequential order forbids it → stop.
    *  2. count(p_j) strictly exceeds every accepted merge's RISER BOUND.
    *     A pair's count grows only by gaining an endpoint equal to some
    *     merged symbol m_i = a_i+b_i, and each gained occurrence of
    *     (x, m_i) maps to a pre-pass occurrence of some pair ENDING IN a_i
    *     ((x, a_i) for original x; (b_k, a_i) when x is itself a batch
    *     output m_k — either way rhs = a_i), so
    *     post(·, m_i) ≤ max{cnt : rhs = m_i} + max{cnt : rhs = a_i}, and
    *     symmetrically post(m_i, ·) ≤ max{cnt : lhs = m_i} +
    *     max{cnt : lhs = b_i}. Maxima are floored at `outsideBound` for
    *     pairs beyond the collected list. Strict > also settles ties
    *     without comparing names. (Self-pairs a_i = b_i make their own
    *     count a gain source, so the bound reaches c_i and the batch
    *     stops behind them — correct: "aaa…" leftovers really do feed
    *     (m_i, a_i) next.)
    *
    * With 1–2 holding, induction gives: at sequential step j, every pair
    * above p_j pre-pass was either already consumed (accepted — greedy
    * left-to-right leaves no lhs·rhs adjacency, and symbol-disjointness
    * means no other batch rule recreates one) or stopped the batch, every
    * riser stays strictly below count(p_j), and p_j's own count is
    * untouched — so p_j is the strict argmax with its pre-pass count,
    * which is exactly what the sequential loop records. Worst case the
    * guard truncates to batch size 1 = the sequential loop. */
  private[graft] def selectMergeBatch(
      cand: IndexedSeq[(String, String, Long)], outsideBound: Long,
      maxB: Int): Seq[(String, String, Long)] = {
    val accepted = scala.collection.mutable.ArrayBuffer(cand.head)
    var syms = Set(cand.head._1, cand.head._2, cand.head._1 + cand.head._2)
    var j = 1
    var stop = false
    while (!stop && j < cand.length && accepted.size < maxB) {
      val (l, r, c) = cand(j)
      if (syms(l) || syms(r) || syms(l + r)) stop = true
      else {
        def maxRhs(s: String) = (outsideBound +: cand.collect {
          case (_, qr, qc) if qr == s => qc
        }).max
        def maxLhs(s: String) = (outsideBound +: cand.collect {
          case (ql, _, qc) if ql == s => qc
        }).max
        val riser = accepted.map { case (a, b, _) =>
          val m = a + b
          math.max(maxRhs(a) + maxRhs(m), maxLhs(b) + maxLhs(m))
        }.max
        if (c > riser) {
          accepted += cand(j)
          syms ++= Set(l, r, l + r)
          j += 1
        } else stop = true
      }
    }
    accepted.toSeq
  }

  /** Subword tokenization fertility — the BPE/WordPiece inference step as
    * a corpus statistic: every token greedy-longest-match segments against
    * [[WordPieceVocab]] (no match → single character), and each document
    * reports words, pieces, and pieces-per-word in e4 — the number a
    * tokenizer team watches when deciding whether a vocab fits a data
    * source (fertility ≈ 1 = vocab native, high = wasteful encoding).
    *
    * Scale shape: the segmenter (a native expression, one tight loop)
    * runs per DISTINCT word — segmenting the VOCABULARY, not the corpus —
    * and the word → n_pieces table joins back to the occurrence stream.
    * Broadcast here (this corpus's vocabulary is tiny); at a real corpus's
    * vocabulary size the same join shuffles on the word, still never
    * re-segmenting an occurrence. Oracle: the identical greedy walk as a
    * recursive CTE over per-position longest-match steps — the cut
    * positions hash-match engine to engine. */
  def tokenizeWordpiece(spark: SparkSession, dir: String): DataFrame =
    tokenizeWordpieceDf(Tables.documents(spark, dir))

  /** [[tokenizeWordpiece]] with the vocabulary LEARNED from the corpus by
    * [[vocabTrain]] instead of the hand-picked stub — train, then segment,
    * the full "fit the tokenizer to the data source" loop. The merge table
    * is bounded driver state (nMerges rows); everything else is the shared
    * fertility pipeline. Oracle: the unrolled BPE CTE chain feeds the same
    * recursive greedy-walk CTE, so the trained segmentation hash-matches
    * end to end (single characters never need to be in the vocab — both
    * segmenters fall back to a 1-char step on no match). */
  def tokenizeWordpieceLearned(spark: SparkSession, dir: String): DataFrame = {
    val learned = vocabTrain(spark, dir)
      .select("merged").collect().map(_.getString(0)).toSeq.distinct
    tokenizeWordpieceDf(Tables.documents(spark, dir), learned)
  }

  /** The THIRD segmentation paradigm over the same learned symbols —
    * optimal (unigram/Viterbi) DP segmentation next to BPE merge-order
    * ([[tokenizeBpe]]) and greedy longest-match
    * ([[tokenizeWordpieceLearned]]): per distinct corpus word, the split
    * into learned pieces + single characters that MAXIMIZES total piece
    * score (score = the piece's pair count at merge time; ties → fewer
    * pieces), reported as the optimum's VALUE (word, cnt, best_score,
    * n_pieces) — unique even where several splits achieve it, so the
    * query is deterministic with no path tie-break rules. This is where
    * greedy's myopia shows: "abc" under {ab: 5, bc: 100} greedy-cuts
    * ab|c (score 5) while the DP finds a|bc (score 100) — exactly the
    * difference SentencePiece's Viterbi buys over WordPiece's walk
    * (Kudo 2018), expressed with integer scores so both engines agree
    * bit-for-bit. Scale shape: training reads the persisted BPE product;
    * segmentation is one native-expression pass over DISTINCT words
    * (vocabulary-sized, not corpus-sized). */
  def tokenizeUnigram(spark: SparkSession, dir: String): DataFrame = {
    val merges = vocabTrain(spark, dir)
      .select("merged", "pair_cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    tokenizeUnigramDf(Tables.documents(spark, dir), merges)
  }

  /** Same, over any (doc_id, text) DataFrame and any scored vocab
    * (planted tests). `scored` in merge order — the first occurrence of a
    * duplicate piece wins, matching the oracle's min-merge-rank rule. */
  def tokenizeUnigramDf(docs: DataFrame,
      scored: Seq[(String, Long)]): DataFrame =
    wordCountsText(docs, "text")
      .withColumn("dp", org.apache.spark.sql.graft.StringExprs
        .unigramDp(col("word"), scored.map(_._1), scored.map(_._2)))
      .select(col("word"), col("cnt"),
        element_at(col("dp"), 1).as("best_score"),
        element_at(col("dp"), 2).as("n_pieces"))
      .orderBy("word")

  /** Same, over any (doc_id, text) DataFrame and any vocab (planted tests). */
  def tokenizeWordpieceDf(docs: DataFrame,
      vocab: Seq[String] = WordPieceVocab): DataFrame = {
    val occ = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val np = occ.select("word").distinct()
      .withColumn("n_pieces",
        size(org.apache.spark.sql.graft.StringExprs
          .wordPieces(col("word"), vocab)).cast("long"))
    val pd = occ.join(broadcast(np), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_pieces"))
    graft.functions.Caching.releaseAfterAction(
      docs.select("doc_id").join(pd, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
          when(col("n_words").isNull, lit(0L))
            .otherwise(round(col("n_pieces") * lit(10000.0) / col("n_words")).cast("long"))
            .as("fertility_e4"))
        .orderBy("doc_id"),
      occ)
  }

  /** TRUE BPE inference — encode the corpus by replaying the learned merge
    * sequence IN RANK ORDER (Sennrich et al. 2016 §3: apply merges in the
    * order they were learned), the semantics HuggingFace/SentencePiece BPE
    * tokenizers ship. This differs from [[tokenizeWordpieceLearned]]'s
    * greedy longest-match over the same learned symbols: merge-order can
    * split where longest-match would not (a long symbol is only reachable
    * if its build-up chain of merges fires), so the two fertilities
    * diverge on real text — exactly the BPE-vs-WordPiece inference gap a
    * tokenizer team measures when choosing an encoder.
    *
    * Implementation: training already maintains the corpus segmentation
    * under the merges applied so far — after the last merge that table IS
    * the encode of every distinct word, so inference reuses
    * [[vocabTrainSeg]]'s final state instead of re-running the fold chain.
    * The per-word piece counts broadcast back onto the occurrence stream
    * ([[tokenizeWordpieceDf]]'s join shape: segment the VOCABULARY, never
    * re-encode an occurrence). Output: (doc_id, n_words, n_pieces,
    * fertility_e4), schema-compatible with both wordpiece fertilities.
    *
    * Oracle: the unrolled BPE CTE chain extended with the final merge's
    * application stage — its seg-N table is the same fixed point, walked
    * one merge at a time (the batched fold is bit-identical by
    * [[selectMergeBatch]]'s soundness rule). */
  def tokenizeBpe(spark: SparkSession, dir: String): DataFrame =
    // The stored `seg/` table IS the encode of every distinct word —
    // consume the SHARED training product instead of re-running the loop.
    bpeFertilityFrom(Tables.documents(spark, dir),
      spark.read.parquet(ensureBpeProduct(spark, dir) + "/seg"))

  /** Same, over any (doc_id, text) DataFrame (planted tests — trains
    * self-contained). */
  def tokenizeBpeDf(docs: DataFrame, nMerges: Int = BpeMerges,
      batch: Int = BpeBatch): DataFrame = {
    val (_, _, seg) = vocabTrainSeg(docs, nMerges, batch)
    graft.functions.Caching.releaseAfterAction(
      bpeFertilityFrom(docs, seg), seg)
  }

  /** TOKENIZER-SELECTION DECISION TABLE (`eval_tokenizer_fertility`) —
    * the report a tokenizer team reads when choosing an ENCODER for the
    * learned symbol inventory: per crawl source, corpus-weighted
    * fertility (pieces per word, e4) under BOTH inference rules over the
    * SAME trained vocabulary — true BPE merge-order replay
    * ([[tokenizeBpe]]'s semantics) vs greedy longest-match
    * ([[tokenizeWordpieceLearned]]'s) — plus their per-source delta.
    * Merge-order can split where longest-match would not (a long symbol
    * is only reachable if its build-up chain fires), so the delta is
    * ≥ 0 pointwise and varies BY SOURCE: a source whose vocabulary the
    * merges were trained on sits near 0, a drifted source pays more —
    * the same per-source lens [[vocabCoverage]] gives OOV rates.
    *
    * Scale shape: both encoders segment the VOCABULARY, not the corpus —
    * the BPE side reads the persisted `seg/` product, the wordpiece side
    * runs the native greedy expression over the same distinct-word
    * table — and one (word → counts) broadcast joins back onto the
    * occurrence stream already grouped by source. One corpus-sized
    * shuffle total (the occurrence group-by), registry-sized output. */
  def tokenizerFertilityEval(spark: SparkSession, dir: String): DataFrame = {
    val prod = ensureBpeProduct(spark, dir)
    val seg = spark.read.parquet(prod + "/seg")
    val scored = spark.read.parquet(prod + "/merges")
      .orderBy("merge_rank").select("merged", "pair_cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    fertilityEvalCore(Tables.documents(spark, dir), seg, scored)
  }

  /** Same, over any (doc_id, text, source) DataFrame (planted tests —
    * trains self-contained). */
  def tokenizerFertilityEvalDf(docs: DataFrame, nMerges: Int = BpeMerges,
      batch: Int = BpeBatch): DataFrame = {
    val (m, _, seg) = vocabTrainSeg(docs, nMerges, batch)
    graft.functions.Caching.releaseAfterAction(
      fertilityEvalCore(docs, seg, m.map(t => (t._4, t._5))), seg)
  }

  private def fertilityEvalCore(docs: DataFrame, seg: DataFrame,
      scored: Seq[(String, Long)]): DataFrame = {
    val vocab = scored.map(_._1).distinct
    // One per-word table carries all THREE encodes of the identical
    // learned symbols: the stored BPE merge-order pieces, the greedy
    // longest-match walk, and the optimal (unigram/Viterbi) DP count
    // (single chars need no vocab entry — all three 1-char-step on miss).
    val np = seg.select(col("word"),
      size(col("pieces")).cast("long").as("bpe_p"),
      size(org.apache.spark.sql.graft.StringExprs
        .wordPieces(col("word"), vocab)).cast("long").as("wp_p"),
      element_at(org.apache.spark.sql.graft.StringExprs
        .unigramDp(col("word"), scored.map(_._1), scored.map(_._2)), 2)
        .as("dp_p"))
    val perSrc = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .join(broadcast(np), "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("bpe_p").as("bpe_pieces"), sum("wp_p").as("wp_pieces"),
        sum("dp_p").as("dp_pieces"))
    def fert(p: Column, w: Column): Column =
      when(w === 0L, lit(0L))
        .otherwise(round(p * lit(10000.0) / w).cast("long"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(perSrc, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("bpe_pieces"), lit(0L)).as("bpe_pieces"),
        coalesce(col("wp_pieces"), lit(0L)).as("wp_pieces"),
        coalesce(col("dp_pieces"), lit(0L)).as("dp_pieces"),
        fert(coalesce(col("bpe_pieces"), lit(0L)),
          coalesce(col("n_words"), lit(0L))).as("bpe_fertility_e4"),
        fert(coalesce(col("wp_pieces"), lit(0L)),
          coalesce(col("n_words"), lit(0L))).as("wp_fertility_e4"),
        fert(coalesce(col("dp_pieces"), lit(0L)),
          coalesce(col("n_words"), lit(0L))).as("dp_fertility_e4"))
      .withColumn("delta_e4",
        col("bpe_fertility_e4") - col("wp_fertility_e4"))
      .withColumn("dp_delta_e4",
        col("wp_fertility_e4") - col("dp_fertility_e4"))
      .orderBy("source")
  }

  /** The fertility-join core over a supplied (word, cnt, pieces)
    * segmentation table — shared by the self-contained Df path and the
    * shared-product query path. */
  private def bpeFertilityFrom(docs: DataFrame, seg: DataFrame): DataFrame = {
    val np = seg.select(col("word"),
      size(col("pieces")).cast("long").as("n_pieces"))
    val pd = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .join(broadcast(np), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_pieces"))
    docs.select("doc_id").join(pd, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        when(col("n_words").isNull, lit(0L))
          .otherwise(round(col("n_pieces") * lit(10000.0) / col("n_words")).cast("long"))
          .as("fertility_e4"))
      .orderBy("doc_id")
  }

  /** Count-min sketch dimensions: depth = independent salted hash rows,
    * width = counter columns per row. d·w cells bound the sketch at 32 K
    * counters regardless of vocabulary size; estimate error is
    * ≤ ε·N (ε = e/w) with probability 1 − e^−d. */
  val CmsDepth = 4
  val CmsWidth = 8192

  /** Probe-join strategy bound: the k-result-word probe BROADCASTS the
    * aggregated sketch only while d·w stays under this many cells (the
    * shipped 4×8192 = 32 K cells is ~a few hundred KB — trivially
    * broadcastable). A sketch configured wider than this probes via a
    * plain shuffle join instead: at 100 TB a fat sketch (d·w sized for
    * single-digit-ppm error on trillions of tokens) must not be shipped
    * to every executor when only the k probed words' d cells are needed. */
  val CmsBroadcastCells = 1L << 20

  /** Heavy-hitter word counts through a count-min sketch — the frequency
    * member of the sketch family (HLL = distinct, GK = quantiles, CMS =
    * counts). Each token occurrence increments [[CmsDepth]] salted-hash
    * cells; a word's estimate is the MIN over its cells, which can only
    * OVER-count (collisions add, never subtract) — est ≥ true always,
    * the one-sided bound that makes CMS safe for threshold filters.
    * Output: the exact top-k words with exact and sketched counts side
    * by side (the estimate column is what a 100 TB pipeline would use
    * when the full word→count table can't materialize).
    *
    * Scale shape: cell increments partial-aggregate map-side into ≤ d·w
    * counters per task — THE point of a sketch: the shuffle carries
    * bounded state however large the vocabulary, where the exact count's
    * shuffle grows with distinct words. The probe joins the k result
    * words' cells against the sketch — broadcast while d·w ≤
    * [[CmsBroadcastCells]], shuffle join beyond it (PlanSpec pins both
    * shapes). Integer counts + deterministic salted hashes ⇒ hash-matches
    * the oracle, collisions included. */
  def wordcountCms(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    wordcountCmsDf(Tables.documents(spark, dir), k)

  /** Same, over any (doc_id, text) DataFrame with explicit sketch dims
    * (tiny widths force collisions in tests). */
  def wordcountCmsDf(docs: DataFrame, k: Int = 20,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    def cellOf(j: Int) = struct(lit(j).as("j"),
      graft.functions.Fns.saltedBucket(s"c$j#", col("word"), width).as("ccol"))
    val cellsOf = explode(array((0 until depth).map(cellOf): _*)).as("p")
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word")).limit(k)
    val cells = words.select(col("word"), cellsOf)
      .groupBy(col("p.j").as("j"), col("p.ccol").as("ccol"))
      .agg(count(lit(1)).as("cell"))
    val probeSide =
      if (depth.toLong * width <= CmsBroadcastCells) broadcast(cells) else cells
    graft.functions.Caching.releaseAfterAction(
      exact.select(col("word"), col("cnt"), cellsOf)
        .select(col("word"), col("cnt"), col("p.j").as("j"), col("p.ccol").as("ccol"))
        .join(probeSide, Seq("j", "ccol"))
        .groupBy("word", "cnt").agg(min("cell").as("cms_cnt"))
        .orderBy(desc("cnt"), asc("word")),
      words)
  }

  /** Bigram frequency top-k. */
  def ngramTopK(spark: SparkSession, dir: String, n: Int = 2, k: Int = 20): DataFrame =
    docTokens(Tables.documents(spark, dir))
      .select(explode(wordNgrams(col("toks"), n)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(k)

  /** Document frequency per term (integer counts only; TF-IDF's float log is
    * deliberately kept out of the oracle surface — SURVEY §2.D). Per-doc
    * term dedup is `array_distinct` before the explode (narrow, per-row);
    * the `explode().distinct()` it replaces shuffled the whole term stream
    * once just to reach the word aggregate. */
  def docFrequency(spark: SparkSession, dir: String): DataFrame =
    docTokens(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("word"))

  /** TF-IDF per (doc, term): tf · ln(N/df), 1e-4 fixed point. Kept OUT of
    * the DuckDB oracle set deliberately — ln is a libm call whose last ulp
    * is not pinned across engines, and rule R2 forbids float outputs in
    * hash-matched queries. TextAnalyticsSpec pins the formula against
    * in-JVM expected values on a planted corpus instead. Shape: the doc-term
    * counts and the df table come from the same exploded scan; the join on
    * term is the only shuffle beyond the aggregations. */
  def tfIdf(spark: SparkSession, dir: String): DataFrame =
    tfIdfDf(Tables.documents(spark, dir))

  def tfIdfDf(docs: DataFrame): DataFrame = {
    val (tfdf, n) = termFrequencies(docs)
    tfdf.select(
        col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")) * lit(10000)).cast("long").as("tfidf_e4"))
      .orderBy("doc_id", "word")
  }

  /** Shared tf/df kit for the two weighting variants: per-(doc, word) term
    * frequency joined with per-word document frequency, plus the corpus
    * size. df derives FROM the tf table — tf already has exactly one row
    * per (doc, word), so df = count per word over tf. The previous
    * `terms.distinct()` formulation shuffled the raw term stream a second
    * time to recompute what the tf aggregate had already established; it
    * also forced persisting `terms` for two consumers, which tf-reuse makes
    * unnecessary. */
  private def termFrequencies(docs: DataFrame): (DataFrame, Long) = {
    val tf = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.count() // one scalar; the scan is cheap relative to the explode
    (graft.functions.Caching.releaseAfterAction(tf.join(df_, "word"), tf), n)
  }

  /** Log-free TF-IDF sibling: weight = tf · N / df in 1e-4 fixed point —
    * the rational inverse-frequency weighting (no `ln`), which preserves the
    * same per-document ranking of terms by rarity while staying exactly
    * oracle-expressible (rule R2 keeps libm out of hash-matched outputs;
    * this is the hash-matched twin of the rows-only `text_tfidf`). One
    * double multiply-divide in fixed op order, then round. */
  def tfIdfLinear(spark: SparkSession, dir: String): DataFrame = {
    val (tfdf, n) = termFrequencies(Tables.documents(spark, dir))
    tfdf.select(
        col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf") * lit(10000.0) * lit(n.toDouble) / col("df")).cast("long").as("w_e4"))
      .orderBy("doc_id", "word")
  }

  /** BM25 parameters (Robertson et al.; the standard k1/b defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms = 8
  val Bm25TopK = 10

  /** BM25 RETRIEVAL SCORING — the lexical ranking function behind classic
    * search and RAG retrieval stacks. Queries here are the corpus's top
    * [[Bm25Terms]] terms by document frequency (a deterministic stand-in
    * for a query workload; the Df form takes any term list), and each term
    * returns its top [[Bm25TopK]] documents by BM25 score.
    *
    * Hash-match note (rule R2): the idf factor is the LOG-FREE
    * Robertson–Spärck Jones kernel (N − df + ½)/(df + ½) — the exact
    * argument BM25's `log` takes, monotone decreasing in df like the real
    * idf, but rational, so no libm call enters the oracle surface. The tf
    * saturation term is textbook: tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * All inputs are exact integers; the float tail is a fixed chain of IEEE
    * ops written in the identical order on both engines, then one e4 round.
    *
    * Scale shape: tf/df come from one exploded scan (df FROM the tf
    * aggregate — the shared kit); the query-term table is top-k-tiny and
    * `broadcast()`, so the posting join is map-side and only rows matching
    * a query term survive (8 posting lists, not the corpus). The per-term
    * top-k window partitions on the term; with a stopword-sized posting
    * list at 100 TB, swap the window for a per-partition top-K heap + merge
    * (the TakeOrderedAndProject shape per key) — the ranking is unchanged
    * because scores are already e4-rounded with doc_id tie-breaks. */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Df(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted-corpus tests). */
  def bm25Df(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = bm25Tf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (q, nd, avgdl) = bm25ModelOf(tf, docs.count())
    val qterms = docs.sparkSession.createDataFrame(q).toDF("word", "df")
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val w = Window.partitionBy("word").orderBy(desc("score_e4"), asc("doc_id"))
    graft.functions.Caching.releaseAfterAction(
      tf.join(broadcast(qterms), "word")
        .join(dl, "doc_id")
        .withColumn("score_e4",
          bm25ScoreCol(col("tf"), col("df"), col("dl"), nd, avgdl))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= Bm25TopK)
        .select(col("word"), col("doc_id"), col("tf"), col("df"),
          col("score_e4"), col("rn"))
        .orderBy("word", "rn"),
      tf)
  }

  /** Per-(doc, word) term counts — the shared BM25 input frame. */
  private def bm25Tf(docs: DataFrame): DataFrame =
    docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** The corpus-side BM25 model from a tf frame + the doc count: the top
    * [[Bm25Terms]] (word, df) query terms, N as double, and avgdl — ONE
    * derivation consumed by both the batch query and the streaming
    * scorer, so the model cannot drift between them. */
  private def bm25ModelOf(tf: DataFrame, nDocs: Long): (Seq[(String, Long)], Double, Double) = {
    val q = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("word")).limit(Bm25Terms)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val tot = tf.agg(sum("tf")).head()
    val avgdl = if (tot.isNullAt(0) || nDocs == 0L) 1.0
                else tot.getLong(0).toDouble / nDocs
    (q, nDocs.toDouble, avgdl)
  }

  /** The BM25 score as one pinned-order float column (identical op order
    * in the oracle SQL and the streaming twin — one definition, so the
    * three can never drift): one division for idf, dl/avgdl → ·b → +(1−b)
    * → ·k1 → +tf for the denominator, tf·(k1+1) for the numerator,
    * multiply, e4 round. */
  private[graft] def bm25ScoreCol(tf: org.apache.spark.sql.Column,
      df: org.apache.spark.sql.Column, dl: org.apache.spark.sql.Column,
      nDocs: Double, avgdl: Double): org.apache.spark.sql.Column = {
    val idf = (lit(nDocs) - df + lit(0.5)) / (df + lit(0.5))
    val den = tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * (dl / lit(avgdl)))
    round(idf * ((tf * lit(Bm25K1 + 1.0)) / den) * lit(10000.0)).cast("long")
  }

  /** The corpus-side BM25 model a stream serves with: the top
    * [[Bm25Terms]] (word, df) query terms, the document count, and the
    * average document length — all bounded (8 rows + 2 scalars), the
    * train-offline half of the train-offline/score-online split.
    * Delegates to [[bm25ModelOf]] — the same derivation [[bm25Df]]
    * consumes. */
  private[graft] def bm25Stats(docs: DataFrame): (Seq[(String, Long)], Double, Double) = {
    val tf = bm25Tf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = bm25ModelOf(tf, docs.count())
    tf.unpersist(false)
    r
  }

  /** docTokens without the lang column (works on any (doc_id, text) frame). */
  def docTokensText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  // Marker stopword sets for the n-gram-free language-ID heuristic. Tiny on
  // purpose: at 100 TB the marker lookup is a codegen'd IN-list per token,
  // no join, no broadcast needed.
  val EnMarkers = Seq("the", "a", "and", "of", "is")
  val DeMarkers = Seq("der", "die", "das", "und", "ist")
  val EsMarkers = Seq("el", "la", "los", "que", "y")
  val FrMarkers = Seq("le", "les", "des", "et", "est")
  val StopWords = Seq("the", "a", "and", "of", "is", "to", "in")

  private[operators] def hits(toks: org.apache.spark.sql.Column, markers: Seq[String]) =
    size(filter(toks, t => t.isin(markers: _*))).cast("long")

  /** The language-ID argmax (priority en > de > es > fr, 'und' on zero hits)
    * as a column over the four score columns — shared by langId and the
    * corpus_clean gate so the heuristic can't drift between them. */
  private[operators] def langPred(en: org.apache.spark.sql.Column,
      de: org.apache.spark.sql.Column, es: org.apache.spark.sql.Column,
      fr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(en >= de && en >= es && en >= fr && en > 0, lit("en"))
      .when(de >= es && de >= fr && de > 0, lit("de"))
      .when(es >= fr && es > 0, lit("es"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("und"))

  /** Language-ID heuristic: count marker-word hits per language, argmax with
    * fixed priority en > de > es > fr, 'und' when no marker hits at all. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = docTokens(Tables.documents(spark, dir))
      .select(
        col("doc_id"), col("lang"),
        hits(col("toks"), EnMarkers).as("en_s"),
        hits(col("toks"), DeMarkers).as("de_s"),
        hits(col("toks"), EsMarkers).as("es_s"),
        hits(col("toks"), FrMarkers).as("fr_s"))
    t.withColumn(
        "pred",
        langPred(col("en_s"), col("de_s"), col("es_s"), col("fr_s")))
      .orderBy("doc_id")
  }

  /** CLASSIFIER EVALUATION as a first-class query — the labeled-corpus
    * confusion matrix of the marker language classifier: one row per
    * (true lang, predicted lang) with the count and the within-language
    * share (e4, one pinned division). This is the model-QA surface a
    * pipeline runs after every classifier refresh; the same shape
    * evaluates any (label, pred) pair. Cost: the langId pass + one
    * langs²-bounded aggregate — the matrix is tiny however large the
    * corpus, and the share window partitions on the handful of true
    * languages. */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = Window.partitionBy("lang")
    langId(spark, dir).select("lang", "pred")
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .withColumn("share_e4",
        round(col("n") * lit(10000.0) / sum("n").over(tot)).cast("long"))
      .orderBy("lang", "pred")
  }

  /** Profile size for the character-n-gram language ID. */
  val LangProfileK = 20

  /** Character-trigram language ID — the n-gram-profile classifier (the
    * production shape of language ID, vs the fixed marker-word heuristic of
    * [[langId]]): TRAIN per-language profiles from the labeled corpus (top
    * [[LangProfileK]] trigrams by frequency, count-desc/trigram-asc ties),
    * then CLASSIFY every document by profile overlap (distinct doc trigrams
    * ∩ profile), argmax with score-desc/lang-asc ties, 'und' on zero
    * overlap. Both phases are deterministic integer arithmetic, so the
    * trained classifier hash-matches the oracle end to end.
    *
    * Scale shape: training is one explode → (lang, trigram) count →
    * per-lang top-K (rank over tiny per-lang key sets); the profile table
    * is langs × K rows and BROADCASTS into the scoring join — the corpus
    * trigram stream never shuffles for classification, only the per-doc
    * score aggregate does. Train once, classify any corpus: the two phases
    * split naturally into a saved table + a map-side join in production. */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame =
    langIdNgramDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text, lang) DataFrame (planted tests). */
  def langIdNgramDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One-pass trigram expression: the HOF transform(sequence, i ->
    // lower(text).substr(i, 3)) re-evaluates lower() per position and each
    // substr re-scans to codepoint i — O(len²) per doc. CharNgrams emits the
    // identical array in O(len) (FnsParitySpec pins the parity).
    val tgs = org.apache.spark.sql.graft.StringExprs
      .charNgrams(lower(col("text")), 3)
    val base = docs.select(col("doc_id"), col("lang"), tgs.as("tgs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val profiles = base.select(col("lang"), explode(col("tgs")).as("tg"))
      .groupBy("lang", "tg").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(desc("c"), asc("tg"))))
      .filter(col("rn") <= LangProfileK)
      .select(col("lang").as("plang"), col("tg"))
    val scores = base.select(col("doc_id"), explode(array_distinct(col("tgs"))).as("tg"))
      .join(broadcast(profiles), "tg")
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang"), col("score"))
    graft.functions.Caching.releaseAfterAction(
      base.select("doc_id", "lang")
        .join(scores, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("plang"), lit("und")).as("pred_ng"),
          coalesce(col("score"), lit(0L)).as("score"))
        .withColumn("is_match", (col("pred_ng") === col("lang")).cast("long"))
        .orderBy("doc_id"),
      base)
  }

  /** Percentile band for the corpus-relative length filter. */
  val LenPctLo = 0.05
  val LenPctHi = 0.95

  /** Corpus-relative length filter — trim the token-count distribution's
    * tails (very short docs are boilerplate/fragments, very long ones are
    * concatenation artifacts): keep documents whose token count lies in
    * the [p05, p95] band of the CORPUS distribution. Percentile-relative
    * (not absolute) thresholds adapt as the corpus mix shifts — the
    * standard pretraining trim alongside the absolute quality gate.
    *
    * Scale shape: one scan → token counts; the two cut points are a
    * 2-value global aggregate (exact discrete percentiles over longs)
    * broadcast back as a literal-free cross join of ONE row — the corpus
    * never reshuffles. At extreme scale swap the exact percentile for the
    * approx_percentile sketch (agg_quantiles_approx shows the shape). */
  def lengthFilter(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
    val cuts = counts.agg(
      expr(s"percentile_disc($LenPctLo) WITHIN GROUP (ORDER BY n_toks)").cast("long").as("lo"),
      expr(s"percentile_disc($LenPctHi) WITHIN GROUP (ORDER BY n_toks)").cast("long").as("hi"))
    counts.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_toks"), col("lo"), col("hi"),
        (col("n_toks") >= col("lo") && col("n_toks") <= col("hi")).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** Quality scoring: token count, mean token length, stopword ratio (both as
    * 1e-4 fixed-point), and a boolean-ish quality flag. All-integer outputs. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame — also the weak-label source
    * for [[qualityTrainedDf]]. */
  def qualityDf(docs: DataFrame): DataFrame = {
    val t = docs.select(
      col("doc_id"),
      // text is [a-z ]-only, so total token chars = length with spaces removed;
      // identical formula on the DuckDB side avoids any HOF-sum ordering question.
      length(replace(col("text"), lit(" "), lit(""))).as("alpha_len"),
      tokens(col("text")).as("toks"))
    t.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        col("alpha_len"),
        hits(col("toks"), StopWords).as("stop_hits"))
      .select(
        col("doc_id"),
        col("n_toks"),
        round(col("alpha_len") * lit(10000.0) / col("n_toks")).cast("long").as("avg_len_e4"),
        round(col("stop_hits") * lit(10000.0) / col("n_toks")).cast("long").as("stop_e4"),
        when(col("n_toks") >= 5 && col("stop_hits") > 0, lit(1L)).otherwise(lit(0L)).as("ok"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance scoring for data selection (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its terms
    * are under the TARGET distribution than under the raw-corpus SOURCE
    * distribution — the importance weight that DSIR then samples
    * proportionally to. The target here is the quality gate's accepted set
    * ([[qualityDf]]'s ok flag — one definition, so "what good text looks
    * like" cannot drift from the gate); production swaps in any curated
    * target corpus at no structural change. Features are unigram terms
    * (the paper uses hashed n-grams; the hash bucketing drops in where the
    * word key is).
    *
    * Exactness: both smoothed distributions stay integer — the per-term
    * weight is round((( c_t+1)·(n_s+V) as exact-long double) / ((c_s+1)·
    * (n_t+V)) · 1e4), ONE divide and ONE multiply in pinned order (the
    * products stay < 2^53, the ratio is O(10) so the e4 scale-up is
    * exact-range), then all-long document sums — hash-matched.
    *
    * Scale shape: ONE (doc, term) tf shuffle feeds the source counts, the
    * target counts, and the scoring join (the [[qualityTrainedDf]] /
    * [[lmScoreDf]] train-and-score shape); the model table is
    * vocabulary-sized; n_s/n_t/V are three scalars. Train once, score any
    * corpus. */
  def dsirScore(spark: SparkSession, dir: String): DataFrame =
    dsirScoreDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def dsirScoreDf(docs: DataFrame): DataFrame = {
    val tf = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val target = qualityDf(docs).filter(col("ok") === 1L).select("doc_id")
    // Source and target counts from ONE word-keyed aggregate (left-mark
    // target membership, conditional sum) instead of two shuffles + a
    // word join; ns/v/nt from ONE scalar action instead of two. c_t is
    // NULL exactly where the old inner-join ct frame had no row, so the
    // coalesce below is unchanged (r16, guide §2.4/§1.2).
    val counts = tf
      .join(target.withColumn("is_t", lit(1L)), Seq("doc_id"), "left")
      .groupBy("word").agg(sum("tf").as("c_s"),
        sum(when(col("is_t") === 1L, col("tf"))).as("c_t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totRow = counts
      .agg(sum("c_s").as("ns"), count(lit(1)).as("v"), sum("c_t").as("nt"))
      .head()
    val (ns, v) =
      (if (totRow.isNullAt(0)) 0L else totRow.getLong(0), totRow.getLong(1))
    val nt = if (totRow.isNullAt(2)) 0L else totRow.getLong(2)
    val model = counts
      .select(col("word"),
        round(((coalesce(col("c_t"), lit(0L)) + lit(1L)) * lit(ns + v))
          .cast("double")
          ./(((col("c_s") + lit(1L)) * lit(nt + v)).cast("double"))
          .*(lit(10000.0))).cast("long").as("ratio_e4"))
    val scored = tf.join(model, "word")
      .groupBy("doc_id").agg(
        sum("tf").as("n_terms"),
        sum(col("tf") * col("ratio_e4")).as("dsir_sum_e4"))
    graft.functions.Caching.releaseAfterAction(
      docs.select("doc_id").join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_terms"), lit(0L)).as("n_terms"),
          coalesce(col("dsir_sum_e4"), lit(0L)).as("dsir_sum_e4"),
          when(col("n_terms").isNull, lit(0L))
            .otherwise(round(col("dsir_sum_e4") / col("n_terms")).cast("long"))
            .as("dsir_mean_e4"))
        .orderBy("doc_id"),
      tf, counts)
  }

  /** The Gopher rule-suite thresholds (Rae et al. 2021, arXiv:2112.11446
    * Appendix A) — the paper's published constants, unscaled: word count
    * in [50, 100000], mean word length in [3, 10] chars, symbol-to-word
    * ratio ("#" chars plus "..." runs) ≤ 0.1, ≤ 10 % of lines starting
    * with a bullet, ≤ 30 % ending in an ellipsis, ≥ 80 % of words
    * containing an alphabetic character, and at least 2 of the paper's
    * eight stop words present. Ratios live in the repo-wide 1e-4 fixed
    * point so the flags compare integers. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanLenE4 = 30000L
  val GopherMaxMeanLenE4 = 100000L
  val GopherMaxSymbolE4 = 1000L
  val GopherMaxBulletE4 = 1000L
  val GopherMaxEllipsisE4 = 3000L
  val GopherMinAlphaE4 = 8000L
  val GopherMinStops = 2L

  /** The stop-word RULE is the paper's (≥ 2 distinct function words
    * present); the LIST is the repo-wide function-word set [[StopWords]]
    * rather than the paper's eight English prose words ("be", "that",
    * "have", "with" — absent from this corpus's vocabulary, which would
    * pin the rule false on every document and make the gate vacuous).
    * Production use swaps in the target language's function words, as the
    * paper itself does implicitly by being English-only. */
  val GopherStops = StopWords

  /** Gopher quality rule suite — the industry-standard document filter
    * battery, complementing [[quality]] (this repo's compact heuristic)
    * and [[qualityTrained]] (the learned gate): each rule is computed as
    * its published metric over the RAW text (words = space-delimited
    * runs, lines = newline-delimited; the tokenizer's lowercase [a-z]+
    * stream is used only for the stop-word rule, which is case-robust by
    * construction), every metric ships in the output so a failing
    * document explains itself, and `keep` is the full conjunction.
    *
    * Scale shape: a pure per-row map — no shuffle at all before the
    * contract's terminal presentation sort; every metric is a
    * codegen'd string/array expression over the document's own bytes, so
    * the operator runs at scan speed and composes into any gate
    * conjunction (Ship's keep logic) for free. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQualityDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted rule-trip tests). */
  def gopherQualityDf(docs: DataFrame): DataFrame =
    withGopherFlags(docs).select(col("doc_id"),
        col("g_n_words").as("n_words"), col("g_mean_len_e4").as("mean_len_e4"),
        col("g_symbol_e4").as("symbol_e4"), col("g_bullet_e4").as("bullet_e4"),
        col("g_ellipsis_e4").as("ellipsis_e4"), col("g_alpha_e4").as("alpha_e4"),
        col("g_stop_present").as("stop_present"), col("gopher_keep").as("keep"))
      .orderBy("doc_id")

  /** The battery as g_-prefixed APPENDED columns over any frame with a
    * `text` column — ONE definition shared by the batch query above and
    * the streaming gate twin (graft.streaming.TextStreams.gateStream), so
    * the rules cannot drift. Stateless per-row projection; works on
    * streams. */
  private[graft] def withGopherFlags(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= lit(""))
    val lines = split(col("text"), "\n")
    val nWords = size(ws).cast("long")
    // words are space-split, so summed word length = non-space length
    val wchars = length(replace(col("text"), lit(" "), lit(""))).cast("long")
    val hashN = (length(col("text")) -
      length(replace(col("text"), lit("#"), lit("")))).cast("long")
    val ellN = ((length(col("text")) -
      length(replace(col("text"), lit("..."), lit("")))) / lit(3)).cast("long")
    val bulletLines = size(filter(lines,
      l => substring(ltrim(l), 1, 1).isin("•", "-", "*"))).cast("long")
    val ellLines = size(filter(lines,
      l => endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…")))).cast("long")
    val nLines = size(lines).cast("long")
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopPresent = GopherStops.map(sw =>
      when(array_contains(tokens(col("text")), sw), lit(1L))
        .otherwise(lit(0L))).reduce(_ + _)
    def rat(num: Column, den: Column): Column =
      when(den === 0L, lit(0L))
        .otherwise(round(num * lit(10000.0) / den).cast("long"))
    docs
      .withColumn("g_n_words", nWords)
      .withColumn("g_mean_len_e4", rat(wchars, nWords))
      .withColumn("g_symbol_e4", rat(hashN + ellN, nWords))
      .withColumn("g_bullet_e4", rat(bulletLines, nLines))
      .withColumn("g_ellipsis_e4", rat(ellLines, nLines))
      .withColumn("g_alpha_e4", rat(alphaWords, nWords))
      .withColumn("g_stop_present", stopPresent)
      .withColumn("gopher_keep", when(
          col("g_n_words").between(GopherMinWords, GopherMaxWords) &&
          col("g_mean_len_e4").between(GopherMinMeanLenE4, GopherMaxMeanLenE4) &&
          col("g_symbol_e4") <= GopherMaxSymbolE4 &&
          col("g_bullet_e4") <= GopherMaxBulletE4 &&
          col("g_ellipsis_e4") <= GopherMaxEllipsisE4 &&
          col("g_alpha_e4") >= GopherMinAlphaE4 &&
          col("g_stop_present") >= GopherMinStops, lit(1L)).otherwise(lit(0L)))
  }

  /** Gopher repetition-battery thresholds (Rae et al. 2021 App. A, table
    * A1): duplicate line / paragraph fractions ≤ 0.30, duplicate line /
    * paragraph CHARACTER fractions ≤ 0.20, top {2,3,4}-gram character
    * fractions ≤ {0.20, 0.18, 0.16}, duplicate {5..10}-gram character
    * fractions ≤ {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}. */
  val GopherMaxDupLineE4 = 3000L
  val GopherMaxDupParaE4 = 3000L
  val GopherMaxDupLineCharE4 = 2000L
  val GopherMaxDupParaCharE4 = 2000L
  val GopherMaxTopGramE4 = Map(2 -> 2000L, 3 -> 1800L, 4 -> 1600L)
  val GopherMaxDupGramE4 =
    Map(5 -> 1500L, 6 -> 1400L, 7 -> 1300L, 8 -> 1200L, 9 -> 1100L, 10 -> 1000L)

  /** Gopher repetition battery — the second half of the Rae et al. 2021
    * App. A filter (the first half is [[gopherQuality]]): per document,
    * the duplicate-line and duplicate-paragraph fractions (occurrence- and
    * character-weighted), the character share of the single most frequent
    * {2,3,4}-gram, and the character share of all duplicated {5..10}-grams.
    * Lines/paragraphs are non-empty `\n` / `\n\n` splits of the raw text;
    * grams run over the tokenizer stream with single-space joins. Character
    * masses are count×length of the joined item over the raw text length —
    * the paper's non-overlap accounting is approximated by this
    * count-weighted mass (documented divergence; deterministic, mirrored
    * exactly in the oracle). The most frequent gram breaks ties by item
    * ascending. `keep` is the full conjunction at the paper's thresholds;
    * item-less documents (empty text) score 0 everywhere and pass — the
    * word-count rule in [[gopherQuality]] owns rejecting those.
    *
    * Scale shape: a pure per-row MAP, like [[gopherQuality]] — every
    * metric is per-document, so nothing about this battery needs a
    * shuffle. Items reduce to the 114-bit coprime fingerprint pair + length
    * ([[org.apache.spark.sql.graft.NgramFp57]] — per-token hashes and
    * O(n) modular combines per window, the gram strings are never even
    * materialized), and [[org.apache.spark.sql.graft.RepStats]] computes
    * each unit's run-length statistics with one LOCAL index sort over the
    * document's own items. The first cut of this operator exploded all 11
    * unit kinds into a (doc_id, unit, item) aggregate — correct, and the
    * keys carried doc_id so it skewed nowhere, but it shuffled ≈9× the
    * token count per document for metrics that never cross documents;
    * measured 12.3 s → 1.0 s at sf0.1 collapsing it to this map. The
    * top-gram tie-break is (count desc, h1, h2) — fingerprint order, not
    * item order; deterministic and mirrored in the oracle. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetitionDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted-repetition tests). */
  def gopherRepetitionDf(docs: DataFrame): DataFrame = {
    val sx = org.apache.spark.sql.graft.StringExprs
    // Tokenize ONCE into a real column: nine gram widths reference the
    // same token array — inlining tokens() per width would re-run the
    // regex scan 9× per document.
    val base = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("dlen"),
      filter(split(col("text"), "\n"), l => l =!= lit("")).as("ls"),
      filter(split(col("text"), "\n\n"), p => p =!= lit("")).as("ps"),
      tokens(col("text")).as("toks"))
    def strFp(s: Column): Column =
      struct(polyHash57(s, 31).as("h1"), polyHash57(s, 37).as("h2"),
        length(s).cast("long").as("len"))
    val statCols =
      sx.repStats(transform(col("ls"), strFp _)).as("sL") +:
      sx.repStats(transform(col("ps"), strFp _)).as("sP") +:
      (2 to 10).map(n => sx.repStats(sx.ngramFp57(col("toks"), n)).as(s"sG$n"))
    val perDoc = base.select(Seq(col("doc_id"), col("dlen")) ++ statCols: _*)
    def rat(num: Column, den: Column): Column =
      when(den === 0L, lit(0L))
        .otherwise(round(num * lit(10000.0) / den).cast("long"))
    def dupFrac(s: String) = rat(col(s"$s.n") - col(s"$s.nd"), col(s"$s.n"))
    def dupChar(s: String) = rat(col(s"$s.dupchars"), col(s"$s.tot"))
    perDoc.select(Seq(col("doc_id"),
        dupFrac("sL").as("dup_line_e4"), dupChar("sL").as("dup_line_char_e4"),
        dupFrac("sP").as("dup_para_e4"), dupChar("sP").as("dup_para_char_e4")) ++
        (2 to 4).map(n => rat(col(s"sG$n.topmass"), col("dlen")).as(s"top${n}_e4")) ++
        (5 to 10).map(n => rat(col(s"sG$n.dupchars"), col("dlen")).as(s"dup${n}_e4")): _*)
      .withColumn("keep", when(
          col("dup_line_e4") <= GopherMaxDupLineE4 &&
          col("dup_para_e4") <= GopherMaxDupParaE4 &&
          col("dup_line_char_e4") <= GopherMaxDupLineCharE4 &&
          col("dup_para_char_e4") <= GopherMaxDupParaCharE4 &&
          (2 to 4).map(n => col(s"top${n}_e4") <= GopherMaxTopGramE4(n)).reduce(_ && _) &&
          (5 to 10).map(n => col(s"dup${n}_e4") <= GopherMaxDupGramE4(n)).reduce(_ && _),
          lit(1L)).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** TRAINED quality scoring — the learned sibling of the [[quality]]
    * heuristic, completing the pipeline's trained-artifact set (langid →
    * trained trigram profiles, LM score → trained bigram model, wordpiece
    * → trained BPE vocab, IVF/PQ → trained quantizers; the quality gate
    * was the last fixed heuristic). Weak supervision, as production
    * quality classifiers bootstrap: the heuristic's ok flag labels the
    * corpus, per-token add-one-smoothed class frequencies train a
    * likelihood-ratio model, and every document scores by its tokens'
    * mean ratio — a model that GENERALIZES past the gate (a doc with no
    * stopword hits still scores well when its vocabulary is the good
    * class's vocabulary, and that is the point of training one).
    *
    * Rule R2 keeps libm out of the hash-matched surface, so the weight is
    * the e4-rounded RATIO w(t) = 1e4·p(t|ok)/p(t|bad) (same log-free
    * treatment as [[lmScoreDf]]) and the document score is the exact
    * integer Σ w over token occurrences plus its per-token mean; predict
    * ok when the mean ratio exceeds 1e4 (p(t|ok) > p(t|bad) on average).
    * Integer end to end after one pinned double divide per DISTINCT
    * token, so the trained classifier hash-matches the oracle.
    *
    * Scale shape: ONE (doc, word) tf shuffle (map-side combined) feeds
    * labeling joins, class counts, and scoring — the token stream never
    * shuffles twice; the model table is vocabulary-sized and the scoring
    * join is a linear equi-join on the word. Train once, score any
    * corpus: the model table persists in production and new corpora only
    * pay the scoring join. */
  def qualityTrained(spark: SparkSession, dir: String): DataFrame =
    qualityTrainedDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def qualityTrainedDf(docs: DataFrame): DataFrame = {
    // Persisted: referenced by the tf labeling join AND the final
    // projection — unpersisted, the whole Gopher-rule corpus pass ran
    // twice (r16, guide §5).
    val labels = qualityDf(docs).select(col("doc_id"), col("ok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .join(labels, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classTotals = tf.agg(
      // coalesce: sum over an EMPTY corpus is null, and the model must
      // stay defined (smoothing handles the rest of the degenerate cases).
      coalesce(sum(when(col("ok") === 1L, col("tf")).otherwise(0L)), lit(0L)).as("n_ok"),
      coalesce(sum(when(col("ok") === 0L, col("tf")).otherwise(0L)), lit(0L)).as("n_bad"),
      countDistinct("word").as("v")).head()
    val (nOk, nBad, v) =
      (classTotals.getLong(0), classTotals.getLong(1), classTotals.getLong(2))
    val model = tf.groupBy("word").agg(
        sum(when(col("ok") === 1L, col("tf")).otherwise(0L)).as("c_ok"),
        sum(when(col("ok") === 0L, col("tf")).otherwise(0L)).as("c_bad"))
      // w = 1e4 · [(c_ok+1)/(n_ok+V)] / [(c_bad+1)/(n_bad+V)], one double
      // divide in pinned op order, half-up e4 round — all inputs integer.
      .select(col("word"),
        round(lit(10000.0) * (col("c_ok") + lit(1L)) * lit((nBad + v).toDouble) /
          ((col("c_bad") + lit(1L)) * lit((nOk + v).toDouble)))
          .cast("long").as("w_e4"))
    val scored = tf.join(model, "word")
      .groupBy("doc_id").agg(
        sum("tf").as("n_toks"),
        sum(col("tf") * col("w_e4")).as("score_e4"))
    graft.functions.Caching.releaseAfterAction(
      docs.select("doc_id").join(labels, "doc_id")
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ok"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("score_e4"), lit(0L)).as("score_e4"),
          when(col("n_toks").isNull, lit(0L))
            .otherwise(round(col("score_e4") / col("n_toks")).cast("long"))
            .as("mean_e4"))
        .withColumn("pred_ok", (col("mean_e4") > 10000L).cast("long"))
        .orderBy("doc_id"),
      tf, labels)
  }

  /** Token counting: whitespace split vs reference-regex tokens vs a BPE-ish
    * piece regex (letter runs or single non-letter glyphs). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
        col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("ws_tokens"),
        size(tokens(col("text"))).cast("long").as("re_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[^a-z ]"), lit(0))).cast("long").as("piece_tokens"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")

  /** Length-band edges (token counts): [0,16) [16,64) [64,256) [256,1024)
    * [1024,∞) — the bands a SeqLen/packing decision reads. */
  val LengthBands: Seq[Long] = Seq(0L, 16L, 64L, 256L, 1024L)

  /** CONTEXT-LENGTH PLANNING TABLE — per (source, token-length band):
    * document count, token mass, and each band's share of the source's
    * tokens (pinned e4). This is the input to the SeqLen/packing choice
    * the pack family executes: a corpus whose mass sits in [16,64) wastes
    * most of a 1024-token window under pad-per-doc and pays boundary
    * splits under concat-and-chunk — `eval_pack_efficiency` prices the
    * strategies; this table says WHY, per crawl source. Token counts use
    * the corpus-standard tokenizer (`re_tokens`). One scan + one
    * (source, band) aggregate; band count is fixed, so the group space
    * is sources × 5 at any corpus size. */
  def lengthBands(spark: SparkSession, dir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    // largest band edge ≤ n: each ascending edge wraps the accumulated
    // chain, so the final expression tests the highest edge first
    val bandLo = LengthBands.tail.foldLeft(lit(LengthBands.head): Column) {
      (acc, e) => when(n >= e, lit(e)).otherwise(acc)
    }
    val perBand = Tables.documents(spark, dir)
      .select(col("source"), bandLo.as("band_lo"), n.as("n_tokens"))
      .groupBy("source", "band_lo")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    val perSrc = perBand.groupBy("source")
      .agg(sum("tokens").as("src_tokens"))
    perBand.join(perSrc, "source")
      .select(col("source"), col("band_lo"), col("n_docs"), col("tokens"),
        when(col("src_tokens") === 0L, lit(0L))
          .otherwise(round(col("tokens") * lit(10000.0) / col("src_tokens"))
            .cast("long")).as("share_e4"))
      .orderBy("source", "band_lo")
  }

  /** Document fingerprint: 32-bit polynomial rolling hash of the full text
    * (deterministic, engine-portable — see Fns.polyHash). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), polyHash(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Within-document repetition scoring (the Gopher-style repetition filter):
    * per document, the fraction of bigram OCCURRENCES that are repeats of an
    * earlier bigram (dup_e4) and the share of the single most frequent bigram
    * (top_e4), both 1e-4 fixed point. High values mean boilerplate /
    * degenerate repetition — a standard pre-training drop rule.
    *
    * Shape: one scan → bigram explode → (doc, bigram) count → per-doc
    * aggregate; shuffle volume is bounded by distinct (doc, bigram) pairs.
    * Docs with < 2 tokens have no bigrams and score 0 (the left join). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted-repetition tests). */
  def repetitionDf(docs: DataFrame): DataFrame = {
    val perBigram = docTokensText(docs)
      .select(col("doc_id"), explode(wordNgrams(col("toks"), 2)).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
    val perDoc = perBigram.groupBy("doc_id").agg(
      sum("c").as("n_bigrams"),
      count(lit(1)).as("n_distinct"),
      max("c").as("max_c"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_bigrams").isNull, lit(0L))
          .otherwise(round((col("n_bigrams") - col("n_distinct")) * lit(10000.0) / col("n_bigrams")).cast("long"))
          .as("dup_e4"),
        when(col("n_bigrams").isNull, lit(0L))
          .otherwise(round(col("max_c") * lit(10000.0) / col("n_bigrams")).cast("long"))
          .as("top_e4"))
      .orderBy("doc_id")
  }

  /** Lexical diversity per document: type-token ratio and the
    * Simpson/Gini concentration of the unigram distribution —
    * simpson_e4 = round(Σc²·10⁴ / n²), the probability two tokens drawn
    * with replacement coincide (1 = one word repeated, → 1/V = uniform).
    * The junk filter that catches "the same word 5 000 times", which
    * length and stopword gates pass. Exact integer sums (Σc, Σc²,
    * distinct count) until one final double divide + e4 round, so the
    * trained-free quality signal hash-matches the oracle.
    *
    * Scale shape: one (doc, word) count shuffle + one per-doc rollup on
    * doc_id — the same two-aggregate profile as [[repetitionDf]], no
    * corpus-global state at all. */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    diversityDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def diversityDf(docs: DataFrame): DataFrame = {
    val perWord = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val perDoc = perWord.groupBy("doc_id").agg(
      sum("c").as("n_toks"),
      count(lit(1)).as("n_types"),
      sum(col("c") * col("c")).as("sum_c2"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        when(col("n_toks").isNull, lit(0L))
          .otherwise(round(col("n_types") * lit(10000.0) / col("n_toks")).cast("long"))
          .as("ttr_e4"),
        when(col("n_toks").isNull, lit(0L))
          .otherwise(round(col("sum_c2") * lit(10000.0) /
            (col("n_toks") * col("n_toks"))).cast("long"))
          .as("simpson_e4"))
      .orderBy("doc_id")
  }

  /** Vocabulary size for the OOV-coverage operator: deliberately smaller
    * than this corpus's 31-word vocabulary so the OOV rate is non-trivial. */
  val VocabSize = 10

  /** Vocabulary coverage: build the top-[[VocabSize]] corpus vocabulary by
    * frequency (count desc, word asc — deterministic ties) and score every
    * document's out-of-vocabulary token fraction. The tokenizer-fit signal
    * a training pipeline uses to decide whether its tokenizer/vocab matches
    * a new data source.
    *
    * Scale shape: the vocab is a derived aggregate of bounded size
    * (TakeOrderedAndProject, V rows) and is explicitly `broadcast()` into
    * the per-token membership join — the exploded term stream never
    * shuffles on the word for scoring; per-doc aggregation shuffles on
    * doc_id only. `terms` feeds both the vocab build and the scoring pass,
    * so it is persisted (the harness clears the cache per query). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docTokensText(docs)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = terms.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word")).limit(VocabSize)
      .select(col("word"), lit(1L).as("in_v"))
    val perDoc = terms.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
    graft.functions.Caching.releaseAfterAction(
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(col("n_toks").isNull, lit(0L))
            .otherwise(round(col("n_oov") * lit(10000.0) / col("n_toks")).cast("long"))
            .as("oov_e4"))
        .orderBy("doc_id"),
      terms)
  }

  // PII-redaction patterns. Simple greedy character classes on purpose: the
  // same pattern strings run under the JVM regex engine (Spark) and RE2
  // (DuckDB oracle), and for these constructs both engines agree on
  // leftmost-longest matching. Replacement order is URL → email → number so
  // an address inside a URL is consumed by the URL rule first; the
  // placeholder tokens contain no digits, so the number pass cannot touch
  // earlier redactions.
  val UrlRe = "https?://[a-zA-Z0-9./_%+-]+"
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val NumRe = "[0-9]+"

  /** PII redaction / text normalization: URLs → `<URL>`, email addresses →
    * `<EMAIL>`, digit runs → `<NUM>`, with per-document redaction counts
    * (each count measured on the PREVIOUS stage's output, so the stages
    * compose deterministically). Pure narrow projection — codegen'd regex
    * per row, no shuffle before the terminal sort. The synthetic corpus
    * contains no PII (counts are 0 and clean_text = text — still a real
    * oracle check of the whole pipeline); planted-PII redaction behavior is
    * pinned in TextAnalyticsSpec. */
  def textClean(spark: SparkSession, dir: String): DataFrame =
    textCleanDf(Tables.documents(spark, dir))

  /** Bigram language-model quality score — the integer-exact form of the
    * standard "perplexity filter" for pretraining corpora: train a bigram
    * model on the corpus (add-one smoothing), score each document by its
    * bigram probabilities under that model. Rule R2 (no libm in the
    * hash-matched surface) rules out log-probs, so the score is the sum of
    * e4-rounded smoothed probabilities Σ round(1e4·(c(w1,w2)+1)/(c_hist(w1)+V))
    * — LONG arithmetic end to end, so distributed summation order cannot
    * perturb the result — plus its per-bigram mean. Same doc ranking intent
    * as mean log-prob for quality gating: fluent, in-distribution text
    * scores high; gibberish and OOV-dense text scores low.
    *
    * Scale shape: per-doc bigram tf (ONE shuffle of the bigram stream with
    * map-side combine) feeds everything — corpus bigram counts, history
    * counts, and the scoring join — so the raw token stream is never
    * shuffled twice. The model table is vocab²-bounded (far smaller in
    * practice); the scoring join is a linear equi-join on bigram. V (vocab
    * size) is one count-distinct scalar: swap in approx_count_distinct at
    * crawl scale (distinct_words_approx shows the error-gated shape).
    * In production the model tables persist once and score any number of
    * corpora — train/score split at no extra cost. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoresShared(spark, dir).orderBy("doc_id")

  /** Algorithm version of the LM-score product — part of the cache key
    * (bump when the model/scoring recipe changes). */
  private val LmScoreVersion = 1

  /** The per-document LM-score table built ONCE per corpus and SHARED
    * through the content-addressed [[graft.sources.ArtifactCache]] —
    * four queries consume it (`text_lm_score` is the product itself,
    * `text_ccnet_bucket` ranks it per language, `corpus_clean_ccnet`
    * gates on the buckets, `data_curriculum` stages the training order
    * by it), and the first three previously retrained the bigram
    * model inside their own plans. This IS the "model tables persist once
    * and score any number of corpora" split the [[lmScore]] docstring
    * describes, realized: first consumer trains + scores + publishes;
    * every later consumer scans (doc_id, n_bigrams, lm_score_e4,
    * lm_mean_e4). Identical rows by construction (integer-exact scoring),
    * so consumers' oracles are unchanged. */
  def lmScoresShared(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactCache.getOrBuild(s, "lmscore",
      s"$d/documents.parquet", Seq(LmScoreVersion))(
      lmScoreDf(Tables.documents(s, d)))

  /** Same, over any (doc_id, text) DataFrame (planted fluency tests). */
  def lmScoreDf(docs: DataFrame): DataFrame = {
    // ONE tokenize pass feeds both the bigram tf and the vocab-size
    // branch (r17; the r16 shape re-tokenized the corpus for V — the
    // guide §1.2-step-1 double-pass this family's tf/df kit already
    // avoids), and V stays IN-PLAN as a one-row broadcast instead of a
    // sequential driver action — same arithmetic, one job.
    val toks = docTokensText(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = toks
      .select(col("doc_id"), explode(wordNgrams(col("toks"), 2)).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val biCounts = tf.groupBy("bigram").agg(sum("tf").as("c_bi"))
      .withColumn("hist", substring_index(col("bigram"), " ", 1))
    val histCounts = biCounts.groupBy("hist").agg(sum("c_bi").as("c_hist"))
    val vDf = toks
      .select(explode(col("toks")).as("w"))
      .agg(countDistinct("w").as("v"))
    val model = biCounts.join(histCounts, "hist")
      .crossJoin(broadcast(vDf))
      .select(col("bigram"),
        round(lit(10000.0) * (col("c_bi") + lit(1L)) / (col("c_hist") + col("v")))
          .cast("long").as("p_e4"))
    val scored = tf.join(model, "bigram")
      .groupBy("doc_id").agg(
        sum("tf").as("n_bigrams"),
        sum(col("tf") * col("p_e4")).as("lm_score_e4"))
    graft.functions.Caching.releaseAfterAction(
      docs.select("doc_id").join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("lm_score_e4"), lit(0L)).as("lm_score_e4"),
          when(col("n_bigrams").isNull, lit(0L))
            .otherwise(round(col("lm_score_e4") / col("n_bigrams")).cast("long"))
            .as("lm_mean_e4"))
        .orderBy("doc_id"),
      tf, toks)
  }

  /** CCNet-style per-language quality bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.4): score every document with the corpus bigram
    * LM ([[lmScoreDf]]) and split EACH LANGUAGE's distribution into
    * head / middle / tail thirds — CCNet's "head" is the lowest-perplexity
    * (most fluent) third, which under this probability-flavored score is
    * the HIGHEST-scoring third. The bucket is the knob LLM-data pipelines
    * actually ship (train on head+middle, drop or down-weight tail), and
    * per-language splitting is the point: a blanket global threshold would
    * gut low-resource languages whose scores sit lower overall.
    *
    * Determinism: the within-language order is total (score desc, doc_id
    * asc), so ntile's positional assignment hash-matches the oracle.
    *
    * Scale shape: one window partitioned by lang — ~10²–10³ partitions,
    * each sorted in parallel. The known skew risk is one dominant language
    * (a web crawl is half English): CCNet's own production answer is to
    * compute the two cutoff scores per language from a sample/aggregate
    * and assign buckets by broadcast threshold comparison (no per-language
    * global sort); that swap keeps this exact output for every doc whose
    * score is not pinned to a cutoff tie. */
  def ccnetBucket(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketFrom(Tables.documents(spark, dir),
      lmScoresShared(spark, dir))

  /** Same, over any (doc_id, text, lang) DataFrame (planted tests —
    * computes its own scores instead of the shared product). */
  def ccnetBucketDf(docs: DataFrame): DataFrame =
    ccnetBucketFrom(docs, lmScoreDf(docs))

  /** The per-language bucketing core over a supplied score table.
    *
    * The tile is NOT a flat `Window.partitionBy(lang)` — for a
    * handful-of-values language key that plans ONE task ranking a
    * corpus-fraction per language at 100 TB (the defect class the pack
    * family and the capped temperature mix were rewired out of).
    * Instead: per-language rank via the keyed two-phase prefix sum
    * (partition-parallel), per-language counts as a registry-sized
    * collected aggregate, and the exact ntile identity
    * `ntile(k) = ((rank − 1) · k) div n + 1` (extras to the first
    * tiles, same as the window function) — so the oracle stays the
    * plain `ntile(3) OVER (PARTITION BY lang ...)` and the output is
    * hash-identical. */
  private def ccnetBucketFrom(docs: DataFrame, scores: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val scored = docs.select("doc_id", "lang")
      .join(scores.select("doc_id", "lm_mean_e4"), "doc_id")
      .select(col("doc_id"), col("lang"), col("lm_mean_e4"),
        (-col("lm_mean_e4")).as("neg"), lit(1L).as("one"))
    val (ranked, ckpt, _) = graft.operators.Pipeline
      .keyedExclusivePrefixSum(scored, Seq("lang"), Seq("neg", "doc_id"), "one")
    // Per-language sizes: language-registry-sized, collected BEFORE the
    // release listener registers (actions on the checkpoint are cheap
    // and byte-stable until release).
    val counts = ranked.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val nDf = counts.toDF("lang", "n_lang")
    graft.functions.Caching.releaseAfterAction(
      ranked.join(broadcast(nDf), Seq("lang"))
        .withColumn("tile", expr("((prefix * 3) div n_lang) + 1"))
        .select(col("doc_id"), col("lang"), col("lm_mean_e4"),
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id"),
      ckpt)
  }

  /** Calibrated-gate keep threshold: keep each source's top half by
    * percentile (pct_e4 ≤ 5000 with 0 = the source's best document). */
  val CalibKeepE4 = 5000L

  /** PER-SOURCE SCORE CALIBRATION (`text_quality_calibrated`) — the
    * normalization step a cross-source quality gate needs: raw fluency
    * scores are NOT comparable across crawl sources (a clean source's
    * median outranks a noisy source's best), so a single global
    * threshold silently empties noisy sources and rubber-stamps clean
    * ones. Percentile-normalizing WITHIN each source — pct_e4 =
    * round((rank − 1)·10⁴/(n_source − 1)), 0 = the source's best —
    * makes one threshold mean the same thing everywhere; the emitted
    * `keep` at [[CalibKeepE4]] is "every source's top half", the
    * equal-treatment sibling of [[ccnetBucket]]'s per-language thirds.
    *
    * Scale shape: the per-source rank is the keyed two-phase prefix sum
    * (partition-parallel — a flat source window would be one task per
    * source; the exact rewire the ccnet buckets got), per-source counts
    * are a registry-sized collected aggregate, and the score is the
    * SHARED LM-fluency product — no new corpus scan. */
  def qualityCalibrated(spark: SparkSession, dir: String): DataFrame =
    qualityCalibratedFrom(Tables.documents(spark, dir),
      lmScoresShared(spark, dir))

  /** Same, over any (doc_id, text, source) DataFrame (planted tests —
    * computes its own scores instead of the shared product). */
  def qualityCalibratedDf(docs: DataFrame): DataFrame =
    qualityCalibratedFrom(docs, lmScoreDf(docs))

  private def qualityCalibratedFrom(docs: DataFrame,
      scores: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val scored = docs.select("doc_id", "source")
      .join(scores.select("doc_id", "lm_mean_e4"), "doc_id")
      .select(col("doc_id"), col("source"), col("lm_mean_e4"),
        (-col("lm_mean_e4")).as("neg"), lit(1L).as("one"))
    val (ranked, ckpt, _) = graft.operators.Pipeline
      .keyedExclusivePrefixSum(scored, Seq("source"), Seq("neg", "doc_id"), "one")
    val counts = ranked.groupBy("source").agg(count(lit(1)).as("n_source"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val nDf = counts.toDF("source", "n_source")
    graft.functions.Caching.releaseAfterAction(
      ranked.join(broadcast(nDf), Seq("source"))
        .select(col("doc_id"), col("source"), col("lm_mean_e4"),
          (col("prefix") + 1L).as("rn"),
          // single-doc source: its one document is its own best — pct 0
          when(col("n_source") === 1L, lit(0L))
            .otherwise(round(col("prefix") * lit(10000.0) /
              (col("n_source") - 1L)).cast("long")).as("pct_e4"))
        .withColumn("keep", (col("pct_e4") <= CalibKeepE4).cast("long"))
        .orderBy("doc_id"),
      ckpt)
  }

  /** Phrase-mining constants (Mikolov et al. 2013 §4, arXiv:1310.4546):
    * the discount δ that suppresses phrases built from rare co-occurrences,
    * and the reported phrase budget. */
  val PhraseDelta = 5L
  val PhraseTopK = 50

  /** PMI-style phrase mining — word2vec's phrase-detection pass, the
    * standard way a pretraining pipeline discovers multiword units
    * ("new york", "byte pair") to merge before tokenizer training: score
    * every corpus bigram by the discounted normalized PMI
    * score = (c(ab) − δ) · N / (c(a) · c(b)) (Mikolov et al. 2013 §4) and
    * report the top-[[PhraseTopK]] by (score desc, bigram asc). The e4
    * fixed-point score is ONE pinned-order double expression over exact
    * integer counts (rule R2 — no logs), so the ranking hash-matches.
    *
    * Scale shape: two map-side-combined shuffles (unigram counts, bigram
    * counts) over the token stream; the δ filter runs BEFORE the joins, so
    * only bigrams that can score join at all; both count joins are
    * vocabulary-sized equi-joins; N is a one-row broadcast (the
    * [[lengthFilter]] pattern); the final top-k is TakeOrderedAndProject —
    * a per-partition heap, never a global sort. Skew-free: the heaviest
    * key any shuffle carries is one word's count. */
  def phrases(spark: SparkSession, dir: String): DataFrame =
    phrasesDf(Tables.documents(spark, dir))

  /** Same, over any (doc_id, text) DataFrame (planted-phrase tests). */
  def phrasesDf(docs: DataFrame): DataFrame = {
    // ONE tokenize pass feeds both count branches (r17; the unigram and
    // bigram aggregates each re-tokenized the corpus — guide §1.2 step 1).
    val toks = docTokensText(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(coalesce(sum("c"), lit(0L)).as("n_uni"))
    val bi = toks
      .select(explode(wordNgrams(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") > PhraseDelta)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    graft.functions.Caching.releaseAfterAction(
      bi.join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(broadcast(n))
        .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
          round(lit(10000.0) * (col("c_ab") - lit(PhraseDelta)) * col("n_uni") /
            (col("c_a") * col("c_b"))).cast("long").as("score_e4"))
        .orderBy(desc("score_e4"), asc("bigram"))
        .limit(PhraseTopK),
      toks)
  }

  /** Same, over any (doc_id, text) DataFrame (planted-PII tests). */
  def textCleanDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        regexp_replace(col("text"), lit(UrlRe), lit("<URL>")).as("t1"))
      .select(col("doc_id"), col("text"), col("t1"),
        regexp_replace(col("t1"), lit(EmailRe), lit("<EMAIL>")).as("t2"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("t1"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("t2"), lit(NumRe), lit(0))).cast("long").as("n_nums"),
        regexp_replace(col("t2"), lit(NumRe), lit("<NUM>")).as("clean_text"))
      .orderBy("doc_id")
}
