package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.functions.Caching.{drop, hold}
import graft.sources.Tables

/** Training-data pipeline composition: the end-to-end operators a corpus
  * actually ships through — filtering and splitting — built from the
  * per-document analytics that already exist.
  *
  * Scale notes: both operators are scan → narrow per-row transforms plus the
  * dedup survivor's single hash shuffle; no new shuffle shapes. The split is
  * a pure hash of the key, so it is stable under re-runs, repartitioning,
  * and corpus growth (a document never migrates between splits when new data
  * arrives — the property random() splits lack).
  */
object Pipeline {

  /** Quality + language gate columns appended to any (doc_id, text, lang)
    * frame — ONE definition shared by the batch clean queries and the
    * streaming clean twin (graft.streaming.TextStreams.cleanStream), so the
    * keep heuristics cannot drift between them. Narrow per-row projection;
    * works on streams. */
  private[graft] def withGateFlags(docs: DataFrame): DataFrame =
    // Tokenize once into a real column — the regex is the expensive part
    // and must not re-run per derived flag.
    gateFlagsOnToks(docs.withColumn("__toks", tokens(col("text"))))

  /** The gate flags over a frame ALREADY carrying `__toks` — the form a
    * composing query uses to share one tokenize pass across its branches
    * (corpus_clean_spans feeds the same tokenized frame here and to the
    * span scorer; guide §1.2 step 1). */
  private[graft] def gateFlagsOnToks(df: DataFrame): DataFrame = {
    val toks = col("__toks")
    val pred = TextAnalytics.langPred(
      TextAnalytics.hits(toks, TextAnalytics.EnMarkers),
      TextAnalytics.hits(toks, TextAnalytics.DeMarkers),
      TextAnalytics.hits(toks, TextAnalytics.EsMarkers),
      TextAnalytics.hits(toks, TextAnalytics.FrMarkers))
    df
      .withColumn("quality_ok",
        when(size(toks).cast("long") >= 5 &&
          TextAnalytics.hits(toks, TextAnalytics.StopWords) > 0, 1L).otherwise(0L))
      .withColumn("lang_match",
        when(pred === col("lang"), 1L).otherwise(0L))
      .drop("__toks")
  }

  /** Per-document quality + language gates as one narrow projection over a
    * single scan (the helpers are shared with the standalone quality/langId
    * queries so the gates can't drift). */
  private def qualityLangFlags(docs: DataFrame): DataFrame =
    withGateFlags(docs).select("doc_id", "quality_ok", "lang_match")

  /** Join the survivor set onto the gates and expose the conjunction. */
  private def gate(flags: DataFrame, survivors: DataFrame): DataFrame =
    flags
      .join(survivors, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("is_survivor"), lit(0L)).as("is_survivor"),
        col("quality_ok"),
        col("lang_match"))
      .withColumn("keep",
        (col("is_survivor") === 1 && col("quality_ok") === 1 && col("lang_match") === 1)
          .cast("long"))
      .orderBy("doc_id")

  /** The cleaned-corpus decision per document, with each gate exposed:
    *  - `is_survivor`: min-doc_id survivor of exact dedup (one hash shuffle);
    *  - `quality_ok`: the quality operator's flag (≥5 tokens + stopword hit);
    *  - `lang_match`: the language-ID heuristic agrees with the labeled lang;
    *  - `keep`: all three.
    * Exposing the flags (not just the kept rows) is deliberate: at 100 TB
    * you audit WHY documents fall out before you drop them. */
  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val survivors = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_survivor"))
    gate(qualityLangFlags(docs), survivors)
  }

  /** Per-SOURCE report card over the clean gates — the governance view a
    * data-quality owner reads to decide which crawl sources to keep,
    * re-weight, or drop: per source, how many docs pass each gate and the
    * conjunction. Composes the exact corpus_clean flags (one definition)
    * with a broadcast-sized group-by on the source key; integer counts
    * only (rates are derivable — rule R2 keeps floats out of hash-matched
    * results). */
  def sourceReport(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(cleanCorpus(s, d), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("is_survivor").as("n_survivor"),
        sum("quality_ok").as("n_quality"),
        sum("lang_match").as("n_lang"),
        sum("keep").as("n_keep"))
      .orderBy("source")

  /** Same decision frame, but the survivor gate is NEAR-dup aware: a document
    * survives iff it is its cluster's minimum (doc_id = cluster_id under
    * Dedup.clusterAssignments at the decision-grade Jaccard ≥ 0.8 threshold —
    * n-gram-Jaccard pairs → connected components) AND its text's exact-dedup
    * minimum. The conjunction is load-bearing, not belt-and-braces: identical
    * texts share every shingle (Jaccard 1.0), but the hot-shingle df cap
    * (Dedup.MaxShingleDf) drops pair edges among texts duplicated more than
    * `cap` times — exactly the high-duplication boilerplate case dedup exists
    * for — leaving each copy a singleton cluster that would ship. The exact
    * gate closes that hole (one hash shuffle); the cluster gate adds near-dup
    * collapse on top. This is the keep decision a real 100 TB pipeline ships
    * with — boilerplate variants and re-crawls collapse to one survivor, not
    * just byte-identical copies. */
  def cleanCorpusNearDup(s: SparkSession, d: String): DataFrame =
    cleanCorpusNearDupFrom(Tables.documents(s, d),
      Dedup.clusterAssignmentsShared(s, d, Dedup.NearDupJacE4))

  /** Same, over any (doc_id, text, lang) DataFrame (planted-dup tests —
    * computes its own assignment instead of the shared product). */
  def cleanCorpusNearDupDf(docs: DataFrame): DataFrame =
    cleanCorpusNearDupFrom(docs,
      Dedup.clusterAssignmentsDf(docs, Dedup.NearDupJacE4))

  /** The gate conjunction over a supplied cluster assignment. */
  private def cleanCorpusNearDupFrom(docs: DataFrame,
      assign: DataFrame): DataFrame = {
    val clusterMin = assign
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id")
    val exactMin = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val survivors = clusterMin.join(exactMin, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit(1L).as("is_survivor"))
    gate(qualityLangFlags(docs), survivors)
  }

  /** Clean gate with CONTAINMENT dedup (`corpus_clean_containment`) — the
    * nested-document drop rule Jaccard clustering structurally misses
    * (see [[Dedup.containmentPairsDf]]): a document ≥ 80 %-contained in
    * another is dropped — quoted articles, page-plus-boilerplate wraps,
    * truncated re-crawls — keeping the CONTAINER. Mutually-contained
    * pairs (near-identical docs) keep the min doc_id (the corpus
    * survivor rule); containment of identical texts subsumes exact dedup
    * except past the shingle df cap, so the exact-min gate still
    * intersects (the [[cleanCorpusNearDupFrom]] composition). Flags
    * exposed per document, corpus_clean-style: at 100 TB you audit WHY a
    * document falls out before you drop it.
    *
    * Scale shape: the containment pair scan (the Jaccard kit's df-capped
    * bounded-state core) + one anti join + the shared gate scan. */
  def cleanCorpusContainment(s: SparkSession, d: String): DataFrame =
    cleanCorpusContainmentFrom(Tables.documents(s, d),
      Dedup.containmentPairsShared(s, d))

  /** Same, over any (doc_id, text, lang) DataFrame (planted tests —
    * computes its own pairs instead of the shared product). */
  def cleanCorpusContainmentDf(docs: DataFrame): DataFrame =
    cleanCorpusContainmentFrom(docs, Dedup.containmentPairsRaw(docs))

  /** The gate over a supplied containment pair frame. */
  private def cleanCorpusContainmentFrom(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val thr = Dedup.ContainmentThrE4
    // For every qualifying pair (d1 < d2): only d1 contained → drop d1;
    // only d2 contained → drop d2; mutual → drop d2 (min-id survives).
    // Raw (unordered) pairs: the distinct re-shuffles by id anyway.
    val dropped = pairs
      .select(
        when(col("cont1_e4") >= thr && col("cont2_e4") < thr, col("d1"))
          .otherwise(col("d2")).as("doc_id"))
      .distinct()
    val exactMin = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val survivors = docs.select("doc_id")
      .join(dropped, Seq("doc_id"), "left_anti")
      .join(exactMin, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit(1L).as("is_survivor"))
    gate(qualityLangFlags(docs), survivors)
  }

  /** The decision frame with CCNet's perplexity gate added: alongside the
    * exact-dedup survivor, quality, and language gates, a document must not
    * sit in its language's TAIL third of the corpus-LM score distribution
    * ([[TextAnalytics.ccnetBucket]] — Wenzek et al. 2020's "discard or
    * down-weight the tail" rule, the deployment CCNet exists for). The
    * bucket rides along so the audit view shows WHICH band a dropped doc
    * sat in, corpus_clean-style.
    *
    * Scale shape: the gates are one narrow scan + one text-hash shuffle
    * (corpus_clean's); the bucket adds the LM scorer's bigram shuffle and
    * one per-language rank window — the same components priced standalone
    * by text_lm_score and text_ccnet_bucket. */
  def cleanCorpusCcnet(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val survivors = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_survivor"))
    // Corpus-level path: the bucket comes off the SHARED LM-score product
    // (see TextAnalytics.lmScoresShared) instead of retraining the bigram
    // model inside this plan.
    val buckets = TextAnalytics.ccnetBucket(s, d)
      .select(col("doc_id"), col("bucket"))
    qualityLangFlags(docs)
      .join(survivors, Seq("doc_id"), "left")
      .join(buckets, "doc_id")
      .select(
        col("doc_id"),
        coalesce(col("is_survivor"), lit(0L)).as("is_survivor"),
        col("quality_ok"),
        col("lang_match"),
        col("bucket"),
        (col("bucket") =!= "tail").cast("long").as("ccnet_ok"))
      .withColumn("keep",
        (col("is_survivor") === 1 && col("quality_ok") === 1 &&
          col("lang_match") === 1 && col("ccnet_ok") === 1).cast("long"))
      .orderBy("doc_id")
  }

  /** C4 cleaning constants (Raffel et al. 2020, arXiv:1910.10683 §2.2):
    * a line survives iff it ends in terminal punctuation (. ! ? ") AND
    * holds ≥ 3 space-delimited words AND does not mention "javascript";
    * a page ships iff its cleaned text still holds ≥ 5 sentences
    * (terminal-punctuation count) and the RAW page has no "lorem ipsum"
    * and no curly brace. The paper's badword-list rule needs its external
    * list and is out of scope here. */
  val C4MinLineWords = 3L
  val C4MinSentences = 5L

  /** C4 line + page cleaning — the per-row REWRITE sibling of the
    * doc-level gates above: lines are filtered by the paper's rules, the
    * page reassembles from survivors, and the page-level decision (with
    * every metric exposed for audit) rides alongside the cleaned text.
    *
    * Scale shape: a pure per-row map — the line filter, word counts,
    * sentence count and page flags are all higher-order array / string
    * expressions over the document's own bytes, so the operator runs at
    * scan speed with NO shuffle before the contract's presentation sort,
    * and the cleaned text feeds any downstream operator unchanged. */
  def c4Clean(s: SparkSession, d: String): DataFrame =
    c4CleanDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) DataFrame (planted line-rule tests). */
  def c4CleanDf(docs: DataFrame): DataFrame =
    withC4Flags(docs).select(col("doc_id"),
        col("c4_n_lines").as("n_lines"), col("c4_n_kept").as("n_kept"),
        col("c4_n_sentences").as("n_sentences"), col("c4_keep").as("keep"),
        col("c4_text_clean").as("text_clean"))
      .orderBy("doc_id")

  /** The rules as c4_-prefixed APPENDED columns over any frame with a
    * `text` column — ONE definition shared by the batch query above and
    * the streaming gate twin (graft.streaming.TextStreams.gateStream), so
    * the rules cannot drift. Stateless per-row projection; works on
    * streams. */
  private[graft] def withC4Flags(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    def lineOk(l: Column): Column =
      (endswith(rtrim(l), lit(".")) || endswith(rtrim(l), lit("!")) ||
        endswith(rtrim(l), lit("?")) || endswith(rtrim(l), lit("\""))) &&
      size(filter(split(l, " "), w => w =!= lit(""))) >= lit(C4MinLineWords) &&
      !lower(l).contains("javascript")
    def noTerm(c: Column): Column =
      length(replace(replace(replace(c, lit("."), lit("")), lit("!"), lit("")),
        lit("?"), lit("")))
    val keptArr = filter(split(col("text"), "\n"), lineOk _)
    docs
      .withColumn("c4_n_lines", size(split(col("text"), "\n")).cast("long"))
      .withColumn("c4_n_kept", size(keptArr).cast("long"))
      .withColumn("c4_text_clean", array_join(keptArr, "\n"))
      .withColumn("c4_n_sentences",
        (length(col("c4_text_clean")) - noTerm(col("c4_text_clean"))).cast("long"))
      .withColumn("c4_keep", when(
          col("c4_n_sentences") >= C4MinSentences &&
          !lower(col("text")).contains("lorem ipsum") &&
          !col("text").contains("{") && !col("text").contains("}"),
          lit(1L)).otherwise(lit(0L)))
  }

  /** Drop threshold for the exact-substring gate: a document whose windows
    * are ≥ half duplicated corpus-wide is boilerplate-dominated and leaves
    * the corpus whole (Lee et al. 2022 §4 remove the SPANS; at the document
    * grain the same signal is a drop decision, and the doc-level flag keeps
    * the decision auditable next to the other gates). */
  val SpanDupE4Max = 5000L

  /** [[cleanCorpus]] with the exact-substring duplication signal as a
    * FOURTH gate — the consumer of `dedup_substring`'s per-document span
    * scores. `span_ok` = 1 iff the document's dup_e4 (fraction of its
    * token windows whose 114-bit fingerprint occurs more than once
    * corpus-wide, in e4) stays below [[SpanDupE4Max]]; `keep` is the
    * conjunction of all four gates. This closes the Lee et al. pipeline:
    * scoring spans is only useful if something downstream acts on them.
    *
    * Scale shape: the span gate adds `substringDupDf`'s token-linear
    * fingerprint count (no pair enumeration) + one doc_id equi-join to the
    * exact-dedup survivor shuffle and the narrow gate projections — no new
    * shuffle shapes over corpus_clean. */
  def cleanCorpusSpans(s: SparkSession, d: String): DataFrame =
    cleanCorpusSpansDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text, lang) DataFrame (planted-span tests). */
  def cleanCorpusSpansDf(docs: DataFrame): DataFrame = {
    // ONE tokenize pass feeds BOTH the span scorer and the quality/lang
    // gates (guide §1.2 step 1; the r16 shape tokenized the corpus twice).
    // The exact-dup survivor grouping still reads the raw text — it needs
    // the full string, not tokens.
    val tokd = hold(docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("__toks")))
    val spans = Dedup.substringDupFromToks(
        tokd.select(col("doc_id"), col("__toks").as("tk")))
      .select(col("doc_id"),
        when(col("dup_e4") < SpanDupE4Max, 1L).otherwise(0L).as("span_ok"))
    val survivors = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_survivor"))
    graft.functions.Caching.releaseAfterAction(
      gateFlagsOnToks(tokd).select("doc_id", "quality_ok", "lang_match")
        .join(survivors, Seq("doc_id"), "left")
        .join(spans, Seq("doc_id"))
        .select(
          col("doc_id"),
          coalesce(col("is_survivor"), lit(0L)).as("is_survivor"),
          col("quality_ok"),
          col("lang_match"),
          col("span_ok"))
        .withColumn("keep",
          (col("is_survivor") === 1 && col("quality_ok") === 1 &&
            col("lang_match") === 1 && col("span_ok") === 1).cast("long"))
        .orderBy("doc_id"),
      tokd)
  }

  /** Per-language corpus report card — docs / tokens / chars per language,
    * the summary every shipped corpus carries. One scan, one tiny-key
    * aggregate; all-integer outputs (averages are derivable, not stored —
    * rule R2 keeps floats out of hash-matched results). */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("lang")

  /** Top-k report size for [[corpusDrift]]. */
  val DriftTopK = 30

  /** Word-distribution DRIFT between two corpus snapshots — the monitor a
    * pipeline runs before admitting a new crawl drop: the top words whose
    * relative frequency moved most between cohorts. The demonstration
    * split is even- vs odd-numbered sources (a stable partition of the
    * registry standing in for old-drop/new-drop); the Df form takes any
    * precomputed cohort flag. Score = |c_a/N_a − c_b/N_b| in 1e-6 units —
    * two exact-integer counts, two IEEE divisions and one subtraction in
    * pinned op order, so even the float tail hash-matches (the same
    * recipe as the cosine scores). Raw counts ride along so the report
    * shows direction and mass, not just magnitude.
    *
    * Scale shape: ONE tokenize pass → one word-keyed aggregate carrying
    * both cohort counts as conditional sums (map-side combined), a 2-long
    * totals collect, and a TakeOrderedAndProject top-k — drift over a
    * 100 TB pair of drops costs exactly one word count. */
  def corpusDrift(s: SparkSession, d: String, k: Int = DriftTopK): DataFrame =
    corpusDriftDf(
      Tables.documents(s, d).withColumn("cohort_a", driftCohortA), k)

  /** The demonstration cohort rule — even- vs odd-numbered sources — in
    * ONE place, shared by the batch monitor, its oracle twin, and the
    * streaming twin (a rule change cannot desynchronize them). */
  def driftCohortA: org.apache.spark.sql.Column =
    substring(col("source"), 4, 10).cast("long") % 2 === 0

  /** Per-word cohort counts over a (text, cohort_a) frame — the one
    * aggregate both [[corpusDriftDf]] and the streaming twin
    * ([[graft.streaming.TextStreams.driftCountsStream]]) run. */
  def driftCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("cohort_a"), explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(
        sum(when(col("cohort_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("cohort_a"), 1L).otherwise(0L)).as("cnt_b"))

  /** Same, over any (text, cohort_a: boolean) DataFrame (planted tests). */
  def corpusDriftDf(docs: DataFrame, k: Int = DriftTopK): DataFrame = {
    val counts = hold(driftCounts(docs))
    val tot = counts.agg(sum("cnt_a"), sum("cnt_b")).head()
    // Empty corpus or a one-cohort corpus: drift is undefined — empty
    // report, never an NPE or a divide-by-zero NaN ranking.
    if (tot.isNullAt(0) || tot.getLong(0) == 0L || tot.getLong(1) == 0L) {
      drop(counts)
      return counts.select(col("word"), col("cnt_a"), col("cnt_b"),
        lit(0L).as("diff_e6")).limit(0)
    }
    val (na, nb) = (tot.getLong(0).toDouble, tot.getLong(1).toDouble)
    graft.functions.Caching.releaseAfterAction(
      counts.select(col("word"), col("cnt_a"), col("cnt_b"),
        round(abs(col("cnt_a").cast("double") / lit(na)
            - col("cnt_b").cast("double") / lit(nb)) * lit(1000000.0))
          .cast("long").as("diff_e6"))
        .orderBy(desc("diff_e6"), asc("word"))
        .limit(k),
      counts)
  }

  // Split fractions in percent: [0, Train) train, [Train, TrainVal) val,
  // rest test. The bucket is a deterministic hash of "split:<doc_id>" — the
  // salt prefix decorrelates it from any other use of the id hash.
  val TrainPct = 80L
  val ValPct = 10L

  /** Per-source mixture sampling — the data-mixing step of a training
    * pipeline (up/down-weight sources before training). Fully deterministic:
    *  - each source's keep rate (1e-4 units, in [0.2, 1.0]) derives from a
    *    salted hash of the source name — stable as new sources appear;
    *  - each document's bucket derives from a salted hash of its id — so a
    *    document's keep decision never flips when OTHER sources grow or a
    *    different source's rate changes, and re-runs reproduce the exact
    *    sample (the property `TABLESAMPLE`/random() mixing lacks).
    * One narrow scan, no shuffle before the terminal sort; swap the derived
    * rate for a curated per-source table by joining a broadcast dim. */
  def dataMix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"), col("source"),
        (lit(2000L) + pmod(polyHash(concat(lit("rate:"), col("source"))), lit(8001L)))
          .as("rate_e4"),
        pmod(polyHash(concat(lit("mix:"), col("doc_id").cast("string"))), lit(10000L))
          .as("bucket"))
      .withColumn("keep", (col("bucket") < col("rate_e4")).cast("long"))
      .orderBy("doc_id")

  /** Per-source token budget share and epoch cap for the repetition
    * plan. The budget is sf-independent on purpose: at small SFs most
    * sources repeat to the cap; at larger SFs the fresh supply covers
    * the share — both regimes exercised by one constant. */
  val EpochBudgetTokens = 50000L
  val MaxEpochs = 4L

  /** DATA-CONSTRAINED REPETITION PLAN — how many epochs of each source a
    * token budget buys under a repetition cap (Muennighoff et al. 2023,
    * arXiv:2305.16264 "Scaling Data-Constrained Language Models": up to
    * ~4 epochs of repeated data are nearly as good as fresh; beyond that
    * returns decay). Each source receives an equal share of
    * [[EpochBudgetTokens]]; the plan reports the full epochs that share
    * buys (capped at [[MaxEpochs]]), the partial-epoch remainder, and
    * the kept token total — the planning table a data-constrained
    * training run is provisioned from. All-integer (div/mod), so the
    * plan hash-matches the oracle.
    *
    * Scale shape: one map-side-combinable aggregate to source-level rows
    * (sources are few), one 1-row count broadcast back — report-sized
    * output, no per-document state. */
  def dataMixEpochs(s: SparkSession, d: String,
      budget: Long = EpochBudgetTokens, maxEpochs: Long = MaxEpochs): DataFrame =
    dataMixEpochsDf(Tables.documents(s, d), budget, maxEpochs)

  /** Same, over any (source, text) DataFrame (planted-regime tests — a
    * tiny source must hit the cap while a large one stays fresh). */
  def dataMixEpochsDf(docs: DataFrame,
      budget: Long = EpochBudgetTokens, maxEpochs: Long = MaxEpochs): DataFrame = {
    val perSrc = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("n_toks"))
    val nSrc = perSrc.agg(count(lit(1)).as("s_cnt"))
    val share = expr(s"$budget div s_cnt")
    val full = when(col("n_toks") === 0L, lit(0L))
      .otherwise(least(expr("share div n_toks"), lit(maxEpochs)))
    perSrc.crossJoin(broadcast(nSrc))
      .withColumn("share", share)
      .withColumn("full_epochs", full)
      .withColumn("rem_tokens",
        when(col("full_epochs") >= maxEpochs || col("n_toks") === 0L, lit(0L))
          .otherwise(expr("share % n_toks")))
      .select(col("source"), col("n_toks"), col("share"), col("full_epochs"),
        col("rem_tokens"),
        (col("full_epochs") * col("n_toks") + col("rem_tokens")).as("kept_tokens"))
      .orderBy("source")
  }

  /** Deterministic train/val/test assignment per document: bucket =
    * polyHash("split:" ++ doc_id) mod 100. Hash-based (not random) so the
    * assignment is reproducible across engines, runs, and partitionings. */
  def dataSplit(s: SparkSession, d: String): DataFrame =
    splitAssign(Tables.documents(s, d)).orderBy("doc_id")

  /** Unordered split assignment — the building block shared by the
    * data_split query and the decontamination gate (one definition, so the
    * split rule cannot drift between them). */
  def splitAssign(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        pmod(polyHash(concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
          .as("bucket"))
      .select(col("doc_id"), col("bucket"),
        splitFromBucket(col("bucket")).as("split"))

  private def splitFromBucket(bucket: org.apache.spark.sql.Column) =
    when(bucket < TrainPct, lit("train"))
      .when(bucket < TrainPct + ValPct, lit("val"))
      .otherwise(lit("test"))

  /** The split rule as a pure COLUMN of doc_id — the stateless form a
    * streaming consumer applies per arriving row (same definition as
    * [[splitAssign]], so batch and stream cannot drift). */
  def splitCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    splitFromBucket(
      pmod(polyHash(concat(lit("split:"), docId.cast("string"))), lit(100L)))

  /** Benchmark decontamination: flag train/val documents sharing any distinct
    * 3-shingle with a test-split document (the n-gram-overlap rule used to
    * keep eval benchmarks out of training corpora — production uses longer
    * n-grams; the shingle kit is shared with the dedup family).
    *
    * Scale shape: the eval side of the join is the distinct shingle set of
    * the held-out split — at 100 TB the eval suite is MBs, not TBs, so it is
    * explicitly `broadcast()`: the corpus streams through a map-side hash
    * join and never shuffles on the shingle. Per-doc overlap counts then
    * aggregate on doc_id. The corpus-side shingle frame is persisted because
    * it feeds both the eval-set derivation and the overlap join. */
  def decontaminate(s: SparkSession, d: String): DataFrame =
    decontaminateDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) DataFrame (planted-contamination tests). */
  def decontaminateDf(docs: DataFrame): DataFrame = {
    val sp = splitAssign(docs).select("doc_id", "split")
    val sh = hold(Dedup.shingles(docs).join(sp, "doc_id"))
    val evalSh = sh.filter(col("split") === "test").select("sh").distinct()
    val shared = sh.filter(col("split") =!= "test")
      .join(broadcast(evalSh), "sh")
      // shingles are distinct per doc, so count(*) IS the distinct overlap
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    graft.functions.Caching.releaseAfterAction(
      sp.filter(col("split") =!= "test")
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("contaminated", (col("n_shared") > 0).cast("long"))
        .orderBy("doc_id"),
      sh)
  }

  /** Semantic decontamination — the SemDeDup/embedding analog of
    * [[decontaminate]]: flag TRAIN/VAL vectors whose cosine similarity to
    * any TEST-split vector reaches the near-dup bar. n-gram
    * decontamination catches verbatim leakage; this catches the
    * paraphrase-level leakage no shingle can see. The split reuses the ONE
    * split rule ([[splitAssign]], applied to vec_id); candidates come from
    * the same banded sign-projection LSH as Dedup.embeddingPairsLsh (only
    * band-bucket mates are exact-verified), and the deterministic
    * hyperplanes keep even this approximate operator hash-matched.
    *
    * Scale shape: band keys are one linear pass; the TEST side of the
    * candidate join is the held-out split — eval suites are MBs at any
    * corpus size, so it broadcasts and the corpus never shuffles on the
    * band key; flags aggregate on vec_id. Flagged = verified ≥ bar, so
    * there are no false positives; recall is the LSH band recall
    * (DedupSpec gates the same construction against the exact verifier). */
  def decontaminateSemantic(s: SparkSession, d: String,
      minSimE4: Long = 3500L): DataFrame =
    decontaminateSemanticDf(Tables.embeddings(s, d), minSimE4)

  /** Same, over any (vec_id, embedding: array<float>) DataFrame. */
  def decontaminateSemanticDf(embeddings: DataFrame,
      minSimE4: Long = 3500L): DataFrame = {
    val v = hold(embeddings
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v"))))
    val sp = splitAssign(v.select(col("vec_id").as("doc_id")))
      .select(col("doc_id").as("vec_id"), col("split"))
    val keys = hold(Similarity
      .bandedKeys(v.select("vec_id", "v"), Dedup.EmbBands, Dedup.EmbRowsPerBand)
      .join(sp, "vec_id"))
    val testKeys = keys.filter(col("split") === "test")
      .select(col("vec_id").as("tid"), col("band_idx"), col("band_key"))
    val cand = keys.filter(col("split") =!= "test")
      .select(col("vec_id").as("cid"), col("band_idx"), col("band_key"))
      .join(broadcast(testKeys), Seq("band_idx", "band_key"))
      .select("cid", "tid").distinct()
    val x = v.select(col("vec_id").as("cid"), col("v").as("va"), col("nrm").as("na"))
    val y = v.select(col("vec_id").as("tid"), col("v").as("vb"), col("nrm").as("nb"))
    val matches = cand.join(x, "cid").join(y, "tid")
      .select(col("cid"),
        e4(dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim_e4"))
      .filter(col("sim_e4") >= minSimE4)
      .groupBy("cid").agg(
        count(lit(1)).as("n_matches"), max("sim_e4").as("max_sim_e4"))
    graft.functions.Caching.releaseAfterAction(
      sp.filter(col("split") =!= "test")
        .join(matches.withColumnRenamed("cid", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("split"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("max_sim_e4"), lit(0L)).as("max_sim_e4"))
        .withColumn("contaminated", (col("n_matches") > 0).cast("long"))
        .orderBy("vec_id"),
      v, keys)
  }

  /** Per-source contamination report — [[decontaminate]]'s flags rolled
    * up on the crawl source key: which sources leak eval data, at what
    * rate, and how heavily (shared-shingle mass). The governance view
    * that decides "drop this source" the way [[sourceReport]] decides it
    * for quality gates — benchmark leakage is a SOURCE property (a site
    * that mirrors eval suites keeps leaking on every crawl), so the
    * per-document flags only become actionable at this rollup.
    *
    * Scale shape: the flags pipeline is decontaminate's (corpus never
    * shuffles on the shingle); this adds one tiny-key aggregate — the
    * report is sources × 4 longs however large the corpus. */
  def sourceContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("source"))
      .join(decontaminateDf(docs), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("contaminated").as("n_contaminated"),
        sum("n_shared").as("n_shared"))
      .select(col("source"), col("n_docs"), col("n_contaminated"), col("n_shared"),
        round(col("n_contaminated") * lit(10000.0) / col("n_docs")).cast("long")
          .as("rate_e4"))
      .orderBy("source")
  }

  /** Bloom filter size in bits (2^21 = 32 K longs = 256 KB broadcast). */
  val BloomBits = 1 << 21

  /** Bloom-filter decontamination — the broadcast-compact form of
    * [[decontaminate]]. The eval split's shingles fold into an m-bit Bloom
    * bitset (m = [[BloomBits]], k = 2 salted 32-bit polynomial hashes;
    * ~0.13 fill at this corpus's eval-set size ⇒ <2 % false-positive per
    * probe, tune m ∝ eval shingles · k / ln 2 at other sizes). The bitset
    * broadcasts as 32 K longs no matter how many STRINGS the eval set
    * holds; corpus shingles probe it map-side — hash arithmetic only, no
    * eval strings move — and only Bloom CANDIDATES enter the exact
    * string-verify join (unhinted: the planner broadcasts the eval
    * strings while they fit and shuffles the candidate stream against
    * them when they don't). Bloom filters have no false negatives, so the
    * final `contaminated` flag is EXACTLY the exact operator's
    * (PipelineSpec asserts the equality); `n_candidates - n_shared` is the
    * measured false-positive overhead. At 100 TB this is the shape that
    * keeps decontamination a broadcast problem regardless of corpus size:
    * the verify join sees true matches + fp·shingles, not the corpus.
    * Both engines build bit-identical filters from the same deterministic
    * hashes, so the query hash-matches — false positives included. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame =
    decontaminateBloomDf(Tables.documents(s, d))

  /** The 2-hash Bloom bitset (64-bit word index → word) over a distinct
    * shingle set — extracted so the STREAMING decontamination twin probes
    * the exact same artifact the batch operator builds
    * ([[graft.streaming.TextStreams.decontaminateStream]]). */
  def bloomBitsFrom(evalSh: DataFrame): DataFrame =
    evalSh
      .select(explode(array(
        saltedBucket("b1#", col("sh"), BloomBits),
        saltedBucket("b2#", col("sh"), BloomBits))).as("p"))
      .select(expr("p div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))

  /** Distinct eval (test-split) shingles — the decontamination reference
    * set a production pipeline persists once per eval-suite release. */
  def evalShingles(docs: DataFrame): DataFrame =
    Dedup.shingles(docs)
      .join(splitAssign(docs).select("doc_id", "split"), "doc_id")
      .filter(col("split") === "test").select("sh").distinct()

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def decontaminateBloomDf(docs: DataFrame): DataFrame = {
    val m = BloomBits
    def probe(salt: String) = saltedBucket(salt, col("sh"), m)
    val sp = splitAssign(docs).select("doc_id", "split")
    val sh = hold(Dedup.shingles(docs).join(sp, "doc_id"))
    // Distinct eval shingles feed BOTH the bit build and the verify join.
    val evalSh = hold(sh.filter(col("split") === "test").select("sh").distinct())
    val bits = bloomBitsFrom(evalSh)
    val corpus = sh.filter(col("split") =!= "test")
      .withColumn("p1", probe("b1#"))
      .withColumn("p2", probe("b2#"))
    val hit = hold(corpus
      .join(broadcast(bits.select(col("w").as("w1"), col("bits").as("bits1"))),
        expr("p1 div 64") === col("w1"), "left")
      .join(broadcast(bits.select(col("w").as("w2"), col("bits").as("bits2"))),
        expr("p2 div 64") === col("w2"), "left")
      .withColumn("is_cand",
        (col("bits1").isNotNull && col("bits2").isNotNull &&
          expr("(shiftright(bits1, CAST(p1 % 64 AS INT)) & 1) = 1") &&
          expr("(shiftright(bits2, CAST(p2 % 64 AS INT)) & 1) = 1")).cast("long"))
      .select("doc_id", "sh", "is_cand"))
    // Exact verify runs on the FILTERED candidate stream only, through an
    // UNHINTED join: the planner broadcasts the eval strings while they
    // fit and shuffles the (small) candidate stream against them when
    // they don't — at no point must the full eval STRING set broadcast,
    // which is the scale property the bitset bought. The corpus-scale
    // `hit` frame itself never joins on strings; ≤1 match per
    // (doc, shingle) because evalSh is distinct.
    val candAgg = hit.groupBy("doc_id").agg(sum("is_cand").as("n_candidates"))
    val shared = hit.filter(col("is_cand") === 1L)
      .join(evalSh, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    graft.functions.Caching.releaseAfterAction(
      sp.filter(col("split") =!= "test")
        .join(candAgg, Seq("doc_id"), "left")
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("contaminated", (col("n_shared") > 0).cast("long"))
        .orderBy("doc_id"),
      sh, evalSh, hit)
  }

  def decontaminateFp(s: SparkSession, d: String): DataFrame =
    decontaminateFpDf(Tables.documents(s, d))

  /** Measured false-positive report for the Bloom decontamination gate —
    * the number an operator checks before sizing the filter (Bloom 1970's
    * tradeoff, measured rather than assumed): per split, how many documents
    * and shingles the bitset flagged vs how many the exact verify stage
    * confirmed. Bloom probes can only over-admit, so every truly
    * contaminated doc is flagged (no false negatives by construction) and
    * `docs_fp = docs_flagged - docs_contaminated`; the e4 precisions say
    * what fraction of the exact-verify work the corpus actually needed —
    * the knob that decides whether `BloomBits` is worth growing. All
    * columns are exact integers / pinned e4 divisions, so the report
    * hash-matches the oracle.
    *
    * Scale shape: composes [[decontaminateBloomDf]] (bitset broadcast +
    * filtered verify join) with one split-count-sized aggregate — nothing
    * new shuffles at corpus scale. */
  def decontaminateFpDf(docs: DataFrame): DataFrame =
    decontaminateBloomDf(docs)
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_candidates") > 0L).cast("long")).as("docs_flagged"),
        sum("contaminated").as("docs_contaminated"),
        sum((col("n_candidates") > 0L && col("n_shared") === 0L).cast("long"))
          .as("docs_fp"),
        sum("n_candidates").as("shingles_cand"),
        sum("n_shared").as("shingles_shared"))
      .select(col("split"), col("n_docs"), col("docs_flagged"),
        col("docs_contaminated"), col("docs_fp"),
        col("shingles_cand"), col("shingles_shared"),
        when(col("docs_flagged") === 0L, 0L)
          .otherwise(round(col("docs_contaminated") * lit(10000.0) /
            col("docs_flagged")).cast("long")).as("doc_precision_e4"),
        when(col("shingles_cand") === 0L, 0L)
          .otherwise(round(col("shingles_shared") * lit(10000.0) /
            col("shingles_cand")).cast("long")).as("shingle_precision_e4"))
      .orderBy("split")

  /** Tokens per packed training sequence (the concat-and-chunk rule). */
  val SeqLen = 256L

  /** Sequence packing — the concat-and-chunk step that turns documents into
    * fixed-length training sequences: within each source shard, documents
    * are laid out in doc_id order, each starting at the running token
    * offset, and seq_id = offset / SeqLen. Deterministic, so the packing is
    * reproducible run to run.
    *
    * Scale shape: the per-source running sum goes through the KEYED
    * two-phase prefix sum ([[keyedExclusivePrefixSum]]), NOT a flat
    * `Window.partitionBy(source)` — `source` has ~20 values, so a flat
    * keyed window plans one task per source (a multi-TB single-task sort
    * at 100 TB). Here a hot source spreads across as many range
    * partitions as its row share and every stage is partition-parallel;
    * the output is identical (offset = tokens in same-source smaller
    * doc_ids), which is why the oracle can still state it as one flat
    * keyed window. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val (p, base, _) = keyedExclusivePrefixSum(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_toks")),
      Seq("source"), Seq("doc_id"), "n_toks")
    graft.functions.Caching.releaseAfterAction(
      p.withColumnRenamed("prefix", "offset")
        // offsets are non-negative, so double-divide + long cast = floor
        .withColumn("seq_id", (col("offset") / lit(SeqLen)).cast("long"))
        .select(col("doc_id"), col("source"), col("n_toks"),
          col("offset"), col("seq_id"))
        .orderBy("doc_id"),
      base)
  }

  /** Sequence packing by the TRAINED tokenizer's piece counts — what a
    * trainer's budget actually measures: [[packSequences]] counts
    * whitespace words, but sequences are packed in TOKENIZER tokens, and
    * the two diverge exactly where fertility > 1. Composes
    * [[TextAnalytics.tokenizeBpe]]'s per-document piece counts (the
    * learned-merge encode — train the vocab, encode the vocabulary table,
    * broadcast counts onto occurrences) with the identical keyed
    * two-phase prefix sum as [[packSequences]] (same scale argument: no
    * one-task-per-source window). At production scale the tokenizer
    * trains once and the n_pieces column ships with the corpus; packing
    * then costs the same partition-parallel prefix sum as the word-count
    * form. */
  def packSequencesBpe(s: SparkSession, d: String): DataFrame = {
    val (p, base, _) = keyedExclusivePrefixSum(
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(TextAnalytics.tokenizeBpe(s, d).select("doc_id", "n_pieces"),
          "doc_id"),
      Seq("source"), Seq("doc_id"), "n_pieces")
    graft.functions.Caching.releaseAfterAction(
      p.withColumnRenamed("prefix", "offset")
        .withColumn("seq_id", (col("offset") / lit(SeqLen)).cast("long"))
        .select(col("doc_id"), col("source"), col("n_pieces"),
          col("offset"), col("seq_id"))
        .orderBy("doc_id"),
      base)
  }

  /** INCREMENTAL sequence packing — the daily-append shape: a new crawl
    * batch (here the newest ~10 % of doc ids, `doc_id > 0.9·max`) is
    * packed WITHOUT re-packing the shipped corpus. The decomposition:
    * within each source the corpus's docs all sort before the batch's,
    * so a batch doc's offset = the corpus's per-source TOKEN TOTAL plus
    * the batch-local keyed prefix sum — and the result is byte-identical
    * to re-running [[packSequences]] over the union and keeping the
    * batch rows, which is exactly what the oracle states (one flat keyed
    * window over ALL documents, restricted to the batch). A source
    * appearing for the first time in the batch starts at offset 0.
    *
    * Scale shape: the prefix sum runs over the BATCH alone (a day of
    * crawl, not years of archive); the corpus contributes one
    * source-count-sized totals aggregate — which at production scale is
    * a persisted per-source token-total product maintained per append
    * (the same build-once/consume-many layer the indexes use), so
    * appending costs O(batch), never O(corpus). */
  def packSequencesIncremental(s: SparkSession, d: String): DataFrame =
    packSequencesIncrementalDf(Tables.documents(s, d))

  /** Same, over any (doc_id, source, text) DataFrame (planted tests). */
  def packSequencesIncrementalDf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    val maxId = toks.agg(max("doc_id")).head().get(0)
    if (maxId == null) // empty corpus: nothing to append
      return toks.select(col("doc_id"), col("source"), col("n_toks"),
        col("n_toks").as("offset"), col("n_toks").as("seq_id")).limit(0)
    val cut = maxId.asInstanceOf[Long] * 9L / 10L
    // Per-source corpus token totals: the persisted-product stand-in —
    // source-count-sized output, broadcast back onto the batch.
    val corpusTotals = toks.filter(col("doc_id") <= cut)
      .groupBy("source").agg(sum("n_toks").as("base_toks"))
    val (p, ckpt, _) = keyedExclusivePrefixSum(
      toks.filter(col("doc_id") > cut), Seq("source"), Seq("doc_id"), "n_toks")
    graft.functions.Caching.releaseAfterAction(
      p.join(broadcast(corpusTotals), Seq("source"), "left")
        .withColumn("offset", coalesce(col("base_toks"), lit(0L)) + col("prefix"))
        .withColumn("seq_id", (col("offset") / lit(SeqLen)).cast("long"))
        .select(col("doc_id"), col("source"), col("n_toks"),
          col("offset"), col("seq_id"))
        .orderBy("doc_id"),
      ckpt)
  }

  /** GLOBAL sequence packing — same concat-and-chunk rule as
    * [[packSequences]] but over ONE corpus-wide doc_id order, implemented
    * with the two-phase distributed prefix sum (the shape the per-shard
    * variant's docstring promises):
    *   1. range-partition by doc_id and sum tokens per partition — the
    *      per-partition totals are one row per partition, collected to the
    *      driver (bounded by partition count, never data size);
    *   2. broadcast each partition's base offset back and window WITHIN
    *      partitions only.
    * No global single-partition window anywhere: every stage is
    * partition-parallel. The persisted frame pins the range partitioning so
    * both phases see identical partition ids; the OUTPUT is partition-
    * independent (offset = tokens in all smaller doc_ids), which is why the
    * oracle can state it as one flat window sum. */
  def packSequencesGlobal(s: SparkSession, d: String): DataFrame = {
    val (p, base, _) = exclusivePrefixSum(
      Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks")),
      Seq("doc_id"), "n_toks")
    graft.functions.Caching.releaseAfterAction(
      p.withColumnRenamed("prefix", "offset")
        .withColumn("seq_id", (col("offset") / lit(SeqLen)).cast("long"))
        .select(col("doc_id"), col("n_toks"), col("offset"), col("seq_id"))
        .orderBy("doc_id"),
      base)
  }

  def packEfficiency(s: SparkSession, d: String): DataFrame =
    packEfficiencyDf(Tables.documents(s, d))

  /** Packing-efficiency report — the analysis a pipeline runs before
    * choosing its packing strategy (Ding et al. 2024, "Fewer Truncations
    * Improve Language Modeling"): per source, the cost of the two
    * deterministic layouts this engine ships. Concat-and-chunk
    * ([[packSequences]]) achieves the per-source sequence lower bound
    * (`chunk_seqs = ceil(tokens / SeqLen)`) and pads only the final
    * partial sequence (`chunk_tail_pad`), but SPLITS every document whose
    * token span crosses a SeqLen boundary (`chunk_split_docs` — the
    * truncation/attention-pollution cost the paper measures); pad-per-doc
    * (one document per sequence, truncate at SeqLen) never splits but pays
    * `pad_pad_tokens` of padding on short documents and drops
    * `pad_trunc_tokens` from long ones. Counts and token sums are exact
    * integers, ratios are the pinned e4 divisions, so the report
    * hash-matches the oracle.
    *
    * Scale shape: the same keyed two-phase prefix sum as
    * [[packSequences]] (partition-parallel, never one task per source)
    * followed by a per-source aggregate — the output is
    * source-count-sized and nothing new shuffles. */
  def packEfficiencyDf(docs: DataFrame): DataFrame = {
    val L = SeqLen
    val (p, base, _) = keyedExclusivePrefixSum(
      docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks")),
      Seq("source"), Seq("doc_id"), "n_toks")
    val report = p
      .withColumnRenamed("prefix", "offset")
      // A document is split iff its first and last token land in different
      // sequences; empty documents occupy no span and never split.
      // Non-negative offsets, so double-divide + long cast = floor (the
      // packSequences rule).
      .withColumn("is_split",
        (col("n_toks") > 0L &&
          (col("offset") / lit(L)).cast("long") =!=
            ((col("offset") + col("n_toks") - lit(1L)) / lit(L)).cast("long"))
          .cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("is_split").as("chunk_split_docs"),
        sum(least(col("n_toks"), lit(L))).as("pad_kept_tokens"),
        sum(greatest(col("n_toks") - lit(L), lit(0L))).as("pad_trunc_tokens"))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        ((col("n_tokens") + lit(L - 1)) / lit(L)).cast("long").as("chunk_seqs"),
        (((col("n_tokens") + lit(L - 1)) / lit(L)).cast("long") * L -
          col("n_tokens")).as("chunk_tail_pad"),
        col("chunk_split_docs"),
        round(col("chunk_split_docs") * lit(10000.0) / col("n_docs"))
          .cast("long").as("split_frac_e4"),
        col("n_docs").as("pad_seqs"),
        (col("n_docs") * L - col("pad_kept_tokens")).as("pad_pad_tokens"),
        col("pad_trunc_tokens"),
        round((col("n_docs") * L - col("pad_kept_tokens")) * lit(10000.0) /
          (col("n_docs") * L)).cast("long").as("pad_waste_e4"))
      .orderBy("source")
    graft.functions.Caching.releaseAfterAction(report, base)
  }

  /** The two-phase distributed EXCLUSIVE prefix sum — the ONE
    * implementation behind [[packSequencesGlobal]], [[dataShuffleDf]]
    * (value = 1 ⇒ prefix = global rank) and [[packShuffledDf]]:
    *   1. range-partition by the order columns (for hash-ordered callers
    *      this IS the shuffle) and sum `valueCol` per partition — the
    *      totals are one row per PARTITION, collected to the driver
    *      (bounded by partition count, never data size);
    *   2. broadcast each partition's base offset back and window WITHIN
    *      partitions only.
    * No global single-partition window anywhere: every stage is
    * partition-parallel, and the OUTPUT is partition-independent
    * (prefix = Σ value over all smaller order keys), which is why every
    * consumer's oracle can state it as one flat window. Returns the
    * input columns + `prefix`, the persisted base frame the caller
    * releases after its terminal action, and the GRAND TOTAL of
    * `valueCol` (the collected partition totals' sum — a free N for
    * rank-fraction consumers like [[dataCurriculum]], no extra pass). */
  private def exclusivePrefixSum(df: DataFrame, orderCols: Seq[String],
      valueCol: String): (DataFrame, DataFrame, Long) =
    keyedExclusivePrefixSum(df, Nil, orderCols, valueCol)

  /** KEYED form: prefix = Σ `valueCol` over rows with the SAME `keyCols`
    * tuple and smaller `orderCols` — what a per-source running offset
    * needs. A flat `Window.partitionBy(key)` would plan ONE task per key
    * value (for a ~20-value `source` column that is a multi-TB
    * single-task sort at 100 TB); here phase 1 range-partitions by
    * (keys, order) — so a hot key spreads across as many partitions as
    * its row share — and sums per (partition, key) GROUP. Range
    * partitioning keeps each key on a contiguous partition run, so the
    * collected totals are bounded by partitions + distinct keys, never
    * data size. Phase 2 broadcasts each group's running base back and
    * windows WITHIN (partition, key) groups only. Same partition-
    * independent-output argument as the flat form. */
  private[operators] def keyedExclusivePrefixSum(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valueCol: String): (DataFrame, DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val allCols = keyCols ++ orderCols
    // localCheckpoint, NOT persist: the broadcast base table is keyed by
    // the pids of THIS materialization. A plain persist's release
    // contract ("recompute transparently") is silently WRONG here — the
    // range exchange reseeds its boundary sampling on recompute, rows
    // can land in different pids, and the stale collected bases then
    // drop or misplace them (found by the round-12 null-group spec).
    // Truncating lineage freezes the pids for every later action; after
    // release the result is single-use. Measured Spark 4.1 semantics
    // (pinned by PipelineSpec's single-use-contract test): re-acting on
    // the SAME Dataset serves byte-identical rows from its materialized
    // AQE shuffle stages, and any FRESH execution over the released
    // checkpoint fails LOUDLY (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) —
    // there is no silent recompute path that could return wrong offsets.
    val base = df.repartitionByRange(allCols.map(col): _*)
      .sortWithinPartitions(allCols.map(col): _*)
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint(true)
    val totals = base.groupBy(("pid" +: keyCols).map(col): _*)
      .agg(sum(valueCol).as("tot")).collect()
    val grand = totals.map(_.getAs[Long]("tot")).sum
    // Per-(pid, key) exclusive base: within each key group (ONE group for
    // the un-keyed form), running-sum the per-partition totals in pid
    // order. Driver-side over the bounded totals list only.
    val baseRows: Seq[Row] = totals
      .groupBy(r => keyCols.map(k => r.getAs[Any](k)))
      .valuesIterator.flatMap { group =>
        var acc = 0L
        group.sortBy(_.getAs[Long]("pid")).map { r =>
          val b = acc; acc += r.getAs[Long]("tot")
          Row.fromSeq((r.getAs[Long]("pid") +: keyCols.map(r.getAs[Any])) :+ b)
        }
      }.toSeq
    val baseSchema = StructType(
      StructField("pid", LongType, nullable = false) +:
        keyCols.map(k => df.schema(k)) :+
        StructField("base", LongType, nullable = false))
    // Null-SAFE key equality on the join back: a NULL key is its own
    // group under Window.partitionBy (the semantics the flat form had),
    // so the base join must not silently drop those rows the way a
    // plain equi-join would.
    val baseDf = df.sparkSession.createDataFrame(baseRows.asJava, baseSchema)
      .toDF((("__pid" +: keyCols.map("__k_" + _)) :+ "base"): _*)
    val joinCond = keyCols.foldLeft(col("pid") === col("__pid")) {
      (c, k) => c && (col(k) <=> col("__k_" + k))
    }
    val w = Window.partitionBy(("pid" +: keyCols).map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (base.join(broadcast(baseDf), joinCond)
      .withColumn("prefix", col("base") + sum(valueCol).over(w) - col(valueCol))
      .drop(("pid" +: "__pid" +: "base" +: keyCols.map("__k_" + _)): _*),
     base, grand)
  }

  /** Overlapping-chunk parameters: window length and stride in tokens. */
  val ChunkLen = 32
  val ChunkStride = 24

  /** Document chunking: split each document into overlapping token windows
    * of [[ChunkLen]] tokens every [[ChunkStride]] — the context-window prep
    * step for training/RAG ingestion (overlap preserves cross-boundary
    * context). Token-less documents produce no chunks; every other doc
    * yields ceil-ish coverage: start offsets 0, stride, 2·stride … while
    * the start is inside the doc, so every token lands in ≥ 1 chunk.
    *
    * Shape: one scan → tokenize → per-row explode of ≤ n/stride chunk
    * indices → narrow slice/join of the already-materialized token array.
    * No shuffle before the terminal sort; chunk fan-out is bounded per
    * document, so the operator scales with tokens, not documents². */
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    chunkDocumentsDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) DataFrame (planted-chunking tests). */
  def chunkDocumentsDf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
    // Last chunk index = floor((n-1)/stride); exact in double for any real
    // token count. Empty docs get an empty index array (Spark's integer `/`
    // is double division and DuckDB's `//` floors negatives — the explicit
    // empty case keeps both engines identical).
    val starts = when(col("n_toks") === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0),
        floor((col("n_toks") - lit(1)) / lit(ChunkStride.toDouble)).cast("int")))
    t.select(col("doc_id"), col("toks"), explode(starts).as("i"))
      .select(
        col("doc_id"),
        col("i").cast("long").as("chunk_id"),
        slice(col("toks"), col("i") * ChunkStride + 1, lit(ChunkLen)).as("chunk"))
      .select(
        col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_toks"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-language sample cap for stratified sampling. */
  val StratCap = 50L

  /** Stratified sampling: keep at most [[StratCap]] documents per language,
    * chosen by a salted hash order (deterministic "random" — re-runs and
    * engine ports pick the identical sample; doc_id breaks hash ties). All
    * rows are emitted with their rank and a kept flag so the drop decision
    * is auditable, corpus_clean-style.
    *
    * Scale shape: the per-stratum rank is the KEYED two-phase prefix sum
    * (rn = keyed prefix count of 1s + 1 over the (h, doc_id) order) — a
    * flat `Window.partitionBy(lang)` would plan ONE task per language, a
    * multi-TB single-task sort on a hot stratum at 100 TB. The full-rank
    * output is the audit view; [[sampleStratifiedCapped]] additionally
    * shrinks each stratum's rank input to ~2·cap rows by the
    * hash-threshold pre-filter and is the form to deploy when only the
    * kept sample is wanted. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), stratHash.as("h"), lit(1L).as("one"))
    val (ranked, ckpt, _) = keyedExclusivePrefixSum(
      base, Seq("lang"), Seq("h", "doc_id"), "one")
    graft.functions.Caching.releaseAfterAction(
      ranked
        .withColumn("rn", col("prefix") + lit(1L))
        .select(col("doc_id"), col("lang"), col("rn"),
          (col("rn") <= StratCap).cast("long").as("kept"))
        .orderBy("doc_id"),
      ckpt)
  }

  /** Hash modulus for the stratified-sampling order (polyHash range). */
  val StratP = 1000000007L

  /** The stratified-sample order hash: polyHash of the salted doc_id,
    * avalanche-mixed ([[graft.functions.Fns.mix32]]) so the VALUE is
    * uniform on [0, P) — the threshold pre-filter cuts by value, and raw
    * polyHash of "strat:<id>" strings clusters in half the 32-bit space
    * (measured: [0.41P, 0.88P], rank-correlated with doc_id). One
    * definition feeds the audit view, the capped scale path, and both
    * oracles, so the sample can never drift between them. */
  private def stratHash = orderHash("strat:")

  /** A salted deterministic sample-order hash on doc_id: polyHash then the
    * mix32 avalanche, uniform on [0, P). Different salts give independent
    * orders, so each sampling operator draws its own sample. */
  private def orderHash(salt: String) =
    pmod(graft.functions.Fns.mix32(
      polyHash(concat(lit(salt), col("doc_id").cast("string")))), lit(StratP))

  /** Stratified sampling, SCALE PATH — the hash-threshold pre-filter the
    * [[sampleStratified]] docstring promises: emit ONLY the kept sample
    * (what production ships), with the rank window running over a
    * hash-threshold-admitted subset instead of whole strata. Because the
    * sample is the [[StratCap]] SMALLEST salted hashes per stratum and h is
    * uniform on [0, P), rows with h ≤ 2·cap·P/|stratum| are a consistent
    * prefix of the sample order with ≈ 2·cap expected members — the window
    * sorts O(cap) rows per stratum however hot the stratum (the planted
    * hot-stratum spec measures exactly this shrink). Strata with
    * n ≤ 2·cap admit everything (threshold ≥ P), so small strata are
    * EXACT by construction; for hot strata the over-admit factor makes
    * under-admission vanishingly rare (probability ≈ exp(−cap/3) by a
    * Chernoff bound), and the operator RUNS the per-stratum admitted-count
    * guard before returning — a pathological under-admit throws with the
    * offending strata named instead of silently truncating the sample
    * (PipelineSpec plants one via the overAdmit knob). The full-window
    * sibling stays as the all-rows AUDIT view; this is the one you run on
    * the 100 TB corpus. PipelineSpec asserts the kept set equals the audit
    * view's on the test corpus. */
  def sampleStratifiedCapped(s: SparkSession, d: String): DataFrame =
    sampleStratifiedCappedDf(Tables.documents(s, d))

  /** Same, over any (doc_id, lang) DataFrame (planted hot-stratum tests). */
  def sampleStratifiedCappedDf(docs: DataFrame,
      overAdmit: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("lang"), stratHash.as("h"))
    val counts = base.groupBy("lang").agg(count(lit(1)).as("n"))
    val thr = least(lit(StratP),
      ceil(lit(overAdmit * StratCap) * lit(StratP.toDouble) / col("n")).cast("long"))
    val admitted = hold(base.join(broadcast(counts), "lang").filter(col("h") <= thr))
    // Under-admit guard — the "one tiny aggregate" re-run check: a stratum
    // is WRONG (not just small) if it admitted fewer than min(cap, n)
    // rows, because some non-admitted row then belongs in the true
    // cap-smallest-hash sample. Probability ≈ exp(−cap/3) per hot stratum
    // at the 2× over-admit factor — but a silent truncation at 100 TB is
    // a corrupted training mix, so the pathological case must THROW, not
    // ship. The aggregate runs over the admitted frame (O(overAdmit·cap)
    // rows per stratum, persisted so the guard and the returned sample
    // share the one corpus scan); zero-admitted strata surface via the
    // left join against the stratum counts.
    val adm = admitted.groupBy("lang").agg(count(lit(1)).as("adm"))
    val short = counts.join(adm, Seq("lang"), "left")
      .filter(coalesce(col("adm"), lit(0L)) < least(lit(StratCap), col("n")))
      .select(col("lang"), col("n"), coalesce(col("adm"), lit(0L)).as("adm"))
      .collect()
    require(short.isEmpty,
      "stratified sampling under-admitted strata " +
        short.map(r => s"${r.get(0)}(n=${r.get(1)}, admitted=${r.get(2)})")
          .mkString(", ") +
        " — re-run with a higher over-admit factor")
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    graft.functions.Caching.releaseAfterAction(
      admitted
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= StratCap)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("doc_id"),
      admitted)
  }

  /** Shard count for the deterministic global training shuffle. */
  val ShuffleShards = 64L

  /** Deterministic GLOBAL SHUFFLE — the "shuffle the corpus before
    * training" step every LLM data pipeline runs between cleaning and
    * packing, so consecutive training batches are not correlated by crawl
    * order. `ORDER BY random()` is neither reproducible nor resumable;
    * this is: the training order is the salted-hash order (salt "shuf:",
    * [[orderHash]] — avalanche-mixed, uniform, independent of every other
    * sampling order in the library), each document gets its GLOBAL
    * position in that order, and shards are dealt round-robin
    * (shard = pos mod [[ShuffleShards]]) so every shard is a uniform
    * 1/S sample of the corpus with sizes balanced to ±1 — the property
    * that lets a trainer stream shards in any order, or restart from any
    * shard boundary, and still see an unbiased sample.
    *
    * Scale shape: the global position uses the two-phase distributed
    * prefix count (the [[packSequencesGlobal]] shape): range-partition by
    * (h, doc_id) — which IS the shuffle — then per-partition row counts
    * (one row per partition to the driver), broadcast base offsets back,
    * and rank within partitions only. No global window, no single-reducer
    * stage anywhere; the output is partition-independent (pos = number of
    * rows with smaller (h, doc_id)), which is why the oracle can state it
    * as one flat row_number. In production the result is written
    * partitioned by shard; a trainer reads shard files directly. */
  def dataShuffle(s: SparkSession, d: String): DataFrame =
    dataShuffleDf(Tables.documents(s, d))

  /** Same, over any frame with a doc_id column (partition-independence and
    * balance tests). */
  def dataShuffleDf(docs: DataFrame): DataFrame = {
    // Exclusive prefix sum of 1s over the hash order = the global rank.
    val (p, base, _) = exclusivePrefixSum(
      docs.select(col("doc_id"), orderHash("shuf:").as("h"), lit(1L).as("one")),
      Seq("h", "doc_id"), "one")
    graft.functions.Caching.releaseAfterAction(
      p.select(col("doc_id"), col("h").as("shuffle_h"),
          col("prefix").as("pos"),
          pmod(col("prefix"), lit(ShuffleShards)).as("shard"))
        .orderBy("doc_id"),
      base)
  }

  /** END-TO-END TRAINING MANIFEST — the whole prep DAG as ONE declarative
    * query: clean gates ([[cleanCorpus]]: exact-dedup survivor ∧ quality ∧
    * language match) ∧ train split ∧ not contaminated ([[decontaminate]]'s
    * eval-shingle broadcast probe), then the survivors SHUFFLED into
    * training order and PACKED ([[packShuffledDf]]'s two-phase prefix sum
    * over the salted-hash order). This is what a user hands to a trainer:
    * (doc_id, n_toks, offset, seq_id) for exactly the documents that
    * survive every gate, reproducible bit-for-bit — and because every
    * stage is the SAME operator the standalone queries run, the manifest
    * can never disagree with its per-stage audit views. Catalyst sees the
    * whole DAG as one plan: gate filters push into the scans, the two id
    * joins are the only pre-pack shuffles beyond each stage's own. */
  def shipManifest(s: SparkSession, d: String): DataFrame = {
    val cleanKeep = cleanCorpus(s, d).filter(col("keep") === 1).select("doc_id")
    val deconOk = decontaminate(s, d)
      .filter(col("split") === "train" && col("contaminated") === 0L)
      .select("doc_id")
    packShuffledDf(
      Tables.documents(s, d).join(cleanKeep, "doc_id").join(deconOk, "doc_id")
        .select("doc_id", "text"))
  }

  /** GLOBAL packing in the SHUFFLED training order — the step that actually
    * follows [[dataShuffle]] in a training pipeline: concat-and-chunk
    * offsets accumulate over the salted-hash order instead of crawl/doc_id
    * order, so consecutive packed sequences mix sources and epochs instead
    * of replaying the crawl. Same rule as [[packSequencesGlobal]]
    * (offset = tokens before this doc, seq_id = offset div [[SeqLen]]),
    * same two-phase distributed prefix sum — only the order key changes to
    * (shuffle hash, doc_id), and the range partitioning ON that key is
    * itself the shuffle. Output is partition-independent, which is why the
    * oracle states it as one flat window over (hh, doc_id). */
  def packShuffled(s: SparkSession, d: String): DataFrame =
    packShuffledDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) DataFrame (composition tests). */
  def packShuffledDf(docs: DataFrame): DataFrame = {
    val (p, base, _) = exclusivePrefixSum(
      docs.select(col("doc_id"), orderHash("shuf:").as("h"),
        size(tokens(col("text"))).cast("long").as("n_toks")),
      Seq("h", "doc_id"), "n_toks")
    graft.functions.Caching.releaseAfterAction(
      p.withColumnRenamed("prefix", "offset")
        .withColumn("seq_id", (col("offset") / lit(SeqLen)).cast("long"))
        .select(col("doc_id"), col("n_toks"), col("offset"), col("seq_id"))
        .orderBy("doc_id"),
      base)
  }

  /** Whole-document token budget for the trimmed ship — non-trivial at
    * every SF of the test corpus (~36 % of sf0.01's tokens, ~4 % of
    * sf0.1's); production passes its real budget. */
  val TrimBudgetTokens = 10000L

  /** TOKEN-BUDGET TRIM — ship exactly the documents that fit a fixed
    * token budget, in the deterministic shuffled training order: the
    * "give me N tokens of this corpus" request (ablation runs,
    * scaling-law points, budget-priced data orders) answered without a
    * driver-side cursor. A document is kept iff its packed span fits
    * entirely under the budget (offset + n_toks ≤ budget) in
    * [[packShuffledDf]]'s order — whole documents only, the rule a
    * sequential trimmer applies. Because the order is the salted-hash
    * shuffle, the kept set is a uniform corpus sample at every budget,
    * and growing the budget only ADDS documents — nested samples, the
    * property scaling-law suites need (PipelineSpec pins both).
    *
    * Scale shape: [[packShuffledDf]]'s two-phase distributed prefix sum
    * plus one comparison — no global window, no driver accumulation. */
  def dataBudgetTrim(s: SparkSession, d: String,
      budget: Long = TrimBudgetTokens): DataFrame =
    dataBudgetTrimDf(Tables.documents(s, d), budget)

  /** Same, over any (doc_id, text) DataFrame (nesting tests). */
  def dataBudgetTrimDf(docs: DataFrame,
      budget: Long = TrimBudgetTokens): DataFrame =
    packShuffledDf(docs)
      .select(col("doc_id"), col("n_toks"), col("offset"),
        ((col("offset") + col("n_toks")) <= budget).cast("long").as("kept"))
      .orderBy("doc_id")

  /** Curriculum stage count (position quarters). */
  val CurriculumStages = 4L

  /** CURRICULUM STAGING by language-model fluency — the data-side half of
    * curriculum learning (Bengio et al. 2009): order documents easy →
    * hard and split the order into [[CurriculumStages]] equal-width
    * POSITION stages a trainer feeds in sequence. Difficulty here is the
    * corpus bigram-LM fluency (the SHARED [[TextAnalytics.lmScoresShared]]
    * product — most fluent first, the same signal CCNet buckets on);
    * production swaps in any per-doc difficulty column unchanged. Stage
    * s = (pos · S) div N + 1 over the (lm_mean_e4 desc, doc_id) order —
    * all-integer, so the staging hash-matches the oracle's flat
    * row_number statement.
    *
    * Scale shape: the global position is the two-phase distributed
    * prefix count over the score order ([[dataShuffleDf]]'s shape — the
    * range partitioning IS the sort); no global window, no ntile over a
    * single partition, and N rides out of the prefix machinery's own
    * partition totals — no separate counting pass. */
  def dataCurriculum(s: SparkSession, d: String,
      stages: Long = CurriculumStages): DataFrame = {
    val lm = TextAnalytics.lmScoresShared(s, d)
      .select(col("doc_id"), col("lm_mean_e4"))
    // N is the prefix machinery's own grand total (Σ of the ones) — no
    // separate counting pass over the corpus.
    val (p, base, n) = exclusivePrefixSum(
      lm.select(col("doc_id"), (-col("lm_mean_e4")).as("neg"),
        lit(1L).as("one")),
      Seq("neg", "doc_id"), "one")
    graft.functions.Caching.releaseAfterAction(
      p.select(col("doc_id"), (-col("neg")).as("lm_mean_e4"),
          col("prefix").as("pos"),
          (expr(s"(prefix * $stages) div $n") + lit(1L)).as("stage"))
        .orderBy("doc_id"),
      base)
  }

  /** Temperature-scaled source mixing (α = 1/2) — the multilingual/
    * multi-source resampling rule of mT5 (Xue et al. 2021) and UniMax-style
    * pipelines: sample source s proportionally to n_s^α instead of n_s, so
    * dominant sources are down-weighted and small sources over-represented
    * relative to their raw share. Contrast [[dataMix]], which applies a
    * PER-SOURCE-CONFIGURED keep rate; here the rates are DERIVED from the
    * size distribution — the knob a pipeline turns when it wants "flatter
    * than natural" without hand-tuning every source.
    *
    * All-integer derivation so both engines agree bit for bit: weight
    * w_s = floor(sqrt(n_s)) (exact: counts are exact doubles below 2^53
    * and IEEE sqrt is correctly rounded — identical on both engines),
    * budget = floor(Σn/2), base_s = budget·w_s div Σw, and the floor-div
    * remainder is distributed LARGEST-REMAINDER (one extra doc to each of
    * the `budget − Σbase` sources ranking highest by `budget·w_s mod Σw`,
    * ties to the lexicographically smaller source) so the uncapped
    * targets sum EXACTLY to the budget; target_s caps at n_s. The kept
    * docs are the target_s smallest salted-hash ranks per source (salt
    * "tmix:" — an order independent of the stratified sample's). Emitted
    * audit-style: every doc with its source size, target, rank, and kept
    * flag.
    *
    * Scale shape: one corpus scan → per-source counts (a tiny aggregate,
    * collected: the source registry is hundreds of rows); targets
    * broadcast back; one rank window per source. A dominant source's
    * window input can be pre-filtered by hash threshold exactly as
    * [[sampleStratifiedCappedDf]] does (h ≤ 2·target_s·P/n_s admits a
    * consistent prefix), since the kept set is again the smallest-hash
    * prefix per group. */
  def dataMixTemperature(s: SparkSession, d: String): DataFrame =
    dataMixTemperatureDf(Tables.documents(s, d))

  /** Temperature mixing, SCALE PATH — the hash-threshold pre-filter
    * [[dataMixTemperatureDf]]'s docstring promises, the exact shape
    * [[sampleStratifiedCappedDf]] proved for fixed caps applied to the
    * DERIVED per-source targets: admit h ≤ overAdmit·target_s·P/n_s (a
    * consistent prefix of the sample order, so no kept row is lost while
    * the threshold over-admits), rank only the admitted ~overAdmit·target
    * rows per source, emit the kept sample. Unlike the constant-cap
    * stratified sampler, the admitted set here is corpus-FRACTION-sized
    * (targets sum to budget = n_total/2), so the post-filter rank itself
    * runs through [[keyedExclusivePrefixSum]] — partition-parallel, never
    * one task per source. The same under-admission
    * guard THROWS rather than ship a silently truncated mix. Emits only
    * kept rows — what production ships; kept set equals
    * [[dataMixTemperatureDf]]'s (PipelineSpec asserts it). */
  def dataMixTemperatureCapped(s: SparkSession, d: String,
      overAdmit: Double = 2.0): DataFrame =
    dataMixTemperatureCappedDf(Tables.documents(s, d), overAdmit)

  /** Per-source temperature targets from the collected source registry:
    * (source, n_source, target) rows plus the budget, by the exact
    * integer largest-remainder rule the docstring above states. Driver
    * arithmetic over registry-sized input — the same "tiny collected
    * aggregate" both mix variants already paid for. */
  private def temperatureTargets(
      counts: Array[(String, Long)]): (Seq[(String, Long, Long)], Long) = {
    val (rows, budget) = temperatureTargetsW(counts,
      n => math.floor(math.sqrt(n.toDouble)).toLong)
    (rows.map { case (src, n, _, target) => (src, n, target) }, budget)
  }

  /** The same largest-remainder allocation under ANY integer weight
    * function — the generalization the τ-sweep eval needs (τ = 1 →
    * weight n, τ = 0.5 → floor(sqrt(n)), τ = 0 → 1). Returns
    * (source, n_source, weight, target) plus the budget. */
  private def temperatureTargetsW(counts: Array[(String, Long)],
      weight: Long => Long): (Seq[(String, Long, Long, Long)], Long) = {
    val ntot = counts.map(_._2).sum
    val budget = ntot / 2
    val ws = counts.map { case (src, n) => (src, n, weight(n)) }
    val wsum = ws.map(_._3).sum
    // budget * sw through BigInt: under the τ=1 sweep (weight = n) the
    // product reaches ~n_total²/2, past Long at ~4.3e9 documents — a
    // silent wrap would ship negative targets. The quotient (≤ budget)
    // and remainder (< wsum ≤ n_total) both fit Long again; driver
    // arithmetic over registry-sized input, so BigInt costs nothing.
    val alloc = ws.map { case (src, n, sw) =>
      val prod = BigInt(budget) * BigInt(sw)
      (src, n, sw, (prod / wsum).toLong, (prod % wsum).toLong) }
    // leftover < |sources| by the largest-remainder identity — Int-safe
    val leftover = (budget - alloc.map(_._4).sum).toInt
    val bumped = alloc.sortBy { case (src, _, _, _, rem) => (-rem, src) }
      .take(leftover).map(_._1).toSet
    (alloc.map { case (src, n, sw, base, _) =>
      (src, n, sw, math.min(n, base + (if (bumped(src)) 1L else 0L))) }.toSeq,
      budget)
  }

  /** TEMPERATURE-SWEEP DECISION TABLE (`eval_mix_temperature`) — the
    * report read BEFORE choosing a mixing temperature: for
    * τ ∈ {1.0, 0.5, 0.0} (weight = n^τ as exact integers: n,
    * floor(sqrt(n)), 1), the largest-remainder allocation of the same
    * half-corpus budget, with per-source shares as pinned e4 integers:
    * `raw_share_e4` (the source's share of the corpus), `mix_share_e4`
    * (its share of the mixed sample — equals raw at τ = 1, uniform at
    * τ = 0), and `epochs_e4` (target/n — the effective sampling rate;
    * rates > 10000 would mean upsampling, which the min(n, ·) cap
    * forbids). Every number is the exact arithmetic
    * [[dataMixTemperatureDf]] ships under τ = 0.5 — the eval does not
    * model the operator, it RUNS the operator's allocator three times.
    *
    * Scale shape: ONE registry-sized groupBy count; everything after is
    * driver arithmetic over |sources| rows × 3 temperatures. */
  def dataMixTemperatureSweep(s: SparkSession, d: String): DataFrame =
    dataMixTemperatureSweepDf(Tables.documents(s, d))

  /** Same, over any (doc_id, source) DataFrame (planted tests). */
  def dataMixTemperatureSweepDf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ntot = counts.map(_._2).sum
    val rows = for {
      (tauE1, wf) <- Seq(
        (0L, (_: Long) => 1L),
        (5L, (n: Long) => math.floor(math.sqrt(n.toDouble)).toLong),
        (10L, (n: Long) => n))
      (targets, budget) = temperatureTargetsW(counts, wf)
      (src, n, w, target) <- targets
    } yield (tauE1, src, n, w, target,
      n * 10000L / ntot,
      if (budget == 0L) 0L else target * 10000L / budget,
      target * 10000L / n)
    rows.toDF("tau_e1", "source", "n_source", "weight", "target",
        "raw_share_e4", "mix_share_e4", "epochs_e4")
      .orderBy("tau_e1", "source")
  }

  /** Same, over any (doc_id, source) DataFrame (planted tests). */
  def dataMixTemperatureCappedDf(docs: DataFrame,
      overAdmit: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import docs.sparkSession.implicits._
    val base = docs.select(col("doc_id"), col("source"), orderHash("tmix:").as("h"))
    val counts = base.groupBy("source").agg(count(lit(1)).as("n_source"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (counts.isEmpty) // empty corpus: no sources → empty mix, not an NPE
      return base.select(col("doc_id"), col("source"), lit(0L).as("rn")).limit(0)
    val (targetRows, _) = temperatureTargets(counts)
    val targets = targetRows.toDF("source", "n_source", "target")
      .withColumn("thr", least(lit(StratP),
        ceil(lit(overAdmit) * col("target") * lit(StratP.toDouble) / col("n_source"))
          .cast("long")))
    val admitted = hold(base.join(broadcast(targets), "source")
      .filter(col("h") <= col("thr")))
    val adm = admitted.groupBy("source").agg(count(lit(1)).as("adm"))
    val short = targets.join(adm, Seq("source"), "left")
      .filter(coalesce(col("adm"), lit(0L)) < col("target"))
      .select(col("source"), col("n_source"), col("target"),
        coalesce(col("adm"), lit(0L)).as("adm"))
      .collect()
    require(short.isEmpty,
      "temperature mixing under-admitted sources " +
        short.map(r => s"${r.get(0)}(n=${r.get(1)}, target=${r.get(2)}, admitted=${r.get(3)})")
          .mkString(", ") +
        " — re-run with a higher over-admit factor")
    // Final rank through the KEYED two-phase prefix sum, NOT a flat
    // Window.partitionBy(source): the admitted set is ~overAdmit × target
    // per source and targets sum to budget = n_total / 2, so its input is
    // corpus-FRACTION-sized — a flat per-source window would sort multiple
    // TB in ONE task per source at 100 TB (the exact defect class the pack
    // family fixed). rn = keyed prefix count of 1s + 1 over the same
    // (h, doc_id) order — identical output, partition-parallel plan.
    val (ranked, ckpt, _) = keyedExclusivePrefixSum(
      admitted.withColumn("one", lit(1L)),
      Seq("source"), Seq("h", "doc_id"), "one")
    graft.functions.Caching.releaseAfterAction(
      ranked
        .withColumn("rn", col("prefix") + lit(1L))
        .filter(col("rn") <= col("target"))
        .select(col("doc_id"), col("source"), col("rn"))
        .orderBy("doc_id"),
      ckpt, admitted)
  }

  /** Same, over any (doc_id, source) DataFrame (planted tests).
    *
    * This is the declared AUDIT twin — it ranks the FULL corpus per
    * source, exposing every document's rank and keep flag for the
    * oracle. Since round 14 the full rank rides the same KEYED two-phase
    * prefix sum as the capped form (rn = keyed prefix count of 1s + 1
    * over the (h, doc_id) order — the `text_quality_calibrated` pattern,
    * identical output, partition-parallel plan), so even the audit view
    * carries no per-source flat window: a ~20-value `source` column
    * under `Window.partitionBy(source)` would be one multi-TB task per
    * source at 100 TB. [[dataMixTemperatureCappedDf]] remains the form
    * to deploy when only the kept mix is wanted — its hash-threshold
    * pre-filter shrinks each source's rank input to ~overAdmit × target
    * before ranking (PipelineSpec pins that both select the SAME kept
    * set). */
  def dataMixTemperatureDf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select(col("doc_id"), col("source"), orderHash("tmix:").as("h"))
    val counts = base.groupBy("source").agg(count(lit(1)).as("n_source"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (counts.isEmpty) // empty corpus: no sources → empty audit, not an NPE
      return base.select(col("doc_id"), col("source"), col("h").as("n_source"),
        col("h").as("target"), lit(0L).as("rn"), lit(0L).as("kept")).limit(0)
    val (targetRows, _) = temperatureTargets(counts)
    val targets = targetRows.toDF("source", "n_source", "target")
    val (ranked, ckpt, _) = keyedExclusivePrefixSum(
      base.withColumn("one", lit(1L)), Seq("source"), Seq("h", "doc_id"), "one")
    graft.functions.Caching.releaseAfterAction(
      ranked
        .withColumn("rn", col("prefix") + lit(1L))
        .join(broadcast(targets), "source")
        .select(col("doc_id"), col("source"), col("n_source"), col("target"),
          col("rn"), (col("rn") <= col("target")).cast("long").as("kept"))
        .orderBy("doc_id"),
      ckpt)
  }
}
