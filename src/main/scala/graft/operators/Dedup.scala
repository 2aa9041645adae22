package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.functions.Caching.{drop, hold}
import graft.sources.{Artifact, Tables}

/** Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash shuffle on the text (or a fingerprint of
  *    it) with min-survivor semantics — no driver state;
  *  - MinHash banding turns the O(n²) near-dup problem into an equi-join on
  *    (band, band-signature): only documents sharing a band bucket are ever
  *    paired, so the shuffle is data-size-linear and the pair blowup is
  *    bounded by bucket occupancy (band count / row count tune recall vs
  *    cost);
  *  - all hashes are explicit `(a·x+b) mod p` families with hard-coded
  *    constants (no seeded RNG) so every run and every engine agrees.
  */
object Dedup extends org.apache.spark.internal.Logging {

  // MinHash parameters: K = Bands × RowsPerBand signature values.
  val P: Long = 1000000007L
  val Bands = 8
  val RowsPerBand = 4
  val K: Int = Bands * RowsPerBand

  private def permA(i: Int): Long = (1103515245L * (i + 1) + 7L) % P
  private def permB(i: Int): Long = (12345L * (i + 1) + 678910L) % P

  /** Exact dedup with deterministic survivor = min doc_id (rule R3). */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "text")
      .orderBy("keep_id")

  /** NORMALIZED exact dedup — CCNet's pre-dedup normalization (Wenzek et
    * al. 2020 lowercase + strip punctuation + collapse whitespace) applied
    * before the exact group: re-serialized pages differing only in case,
    * punctuation or spacing collapse to one survivor, the duplicates raw
    * [[exact]] misses without paying near-dup machinery. Per-doc audit
    * shape (every doc with its normalized fingerprint, survivor, group
    * size, keep flag) rather than [[exact]]'s per-group rows, because the
    * drop decision is what downstream gates consume.
    *
    * Scale shape: the normalization is three codegen'd regex passes (zero
    * shuffle), then the one survivor shuffle keyed on the normalized
    * text — identical profile to [[exact]]; at 100 TB group on the
    * fingerprint hash instead of the string to shrink shuffle bytes,
    * exactly as [[exact]]'s scale note prescribes. */
  def exactNormalized(s: SparkSession, d: String): DataFrame =
    exactNormalizedDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def exactNormalizedDf(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val t = hold(docs.select(col("doc_id"), norm.as("norm")))
    val groups = t.groupBy("norm")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
    graft.functions.Caching.releaseAfterAction(
      t.join(groups, "norm")
        .select(col("doc_id"),
          graft.functions.Fns.polyHash(col("norm")).as("norm_fp"),
          col("keep_id"), col("n_dups"),
          (col("doc_id") === col("keep_id")).cast("long").as("keep"))
        .orderBy("doc_id"),
      t)
  }

  /** Incremental exact dedup — the daily-crawl shape: dedup an ARRIVING
    * batch against the already-shipped corpus, then within itself. The
    * decision order matters for scale: the batch is small relative to the
    * corpus (a day of crawl vs years of archive), so the batch's distinct
    * texts BROADCAST and the corpus streams through a map-side semi-join —
    * the corpus is never shuffled, never re-keyed, and its survivors never
    * recomputed. The matched-text set coming back is bounded by batch size,
    * so the final anti-join is cheap. In production the corpus side reads a
    * fingerprint table, not raw text; the join shape is identical.
    * Survivors keep min doc_id within the batch (rule R3), mirroring
    * [[exact]]. */
  def incremental(s: SparkSession, d: String, batchSource: String = "src19"): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("source") === batchSource)
    val corpus = docs.filter(col("source") =!= batchSource)
    val batchTexts = batch.select("text").distinct()
    val hits = corpus.join(broadcast(batchTexts), Seq("text"), "left_semi")
      .select("text").distinct()
    batch.join(hits, Seq("text"), "left_anti")
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "text")
      .orderBy("keep_id")
  }

  /** Distinct 3-word shingles per document, with a short-document fallback:
    * a doc with fewer than n tokens contributes one whole-text shingle
    * ("#" + text — '#' cannot occur in a real shingle, which is lowercase
    * words joined by spaces), so every document, even an empty one, has ≥ 1
    * shingle and participates in near-dup detection.
    *
    * Distinctness is per document, so it runs as `array_distinct` BEFORE
    * the explode — a narrow per-row op. The `explode().distinct()` this
    * replaces shuffled the entire shingle stream once per query (measured
    * 6.2 MB / 380 K records at sf0.1 inside decontaminate alone) for a
    * dedup the row already had locally: the ngram array is materialized
    * per row either way, so the array form costs nothing extra. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          when(size(col("toks")) >= n, wordNgrams(col("toks"), n))
            .otherwise(array(concat(lit("#"), col("text")))))).as("sh"))

  /** doc_id → MinHash signature (array of K longs) via column expressions.
    * The K per-permutation minima are computed directly in the aggregate
    * (K min() columns) — per-doc state is K longs, never a materialized
    * array of all shingle hashes, so a pathological million-shingle document
    * costs the same aggregation memory as a 10-shingle one.
    * (permA(i) < P ≈ 1e9 and h < 2^32, so a·h+b < 2^63 — no overflow.) */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val hashed = shingles(docs).select(col("doc_id"), polyHash(col("sh")).as("h"))
    val mins = (0 until K).map { i =>
      min((lit(permA(i)) * col("h") + lit(permB(i))) % lit(P)).as(s"m$i")
    }
    hashed.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until K).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: one row per (doc, band) with the band's signature slice
    * serialized as the join key. */
  def minhashBands(docs: DataFrame): DataFrame =
    minhashBandsFromSigs(minhashSignatures(docs))

  /** Banding over an already-computed signature table — callers that need
    * both the signatures and the bands (minhashPairs) persist the signatures
    * once and derive the bands from them instead of recomputing the whole
    * shingle→hash→aggregate pipeline a second time. */
  def minhashBandsFromSigs(sigs: DataFrame): DataFrame = {
    val bands = array((0 until Bands).map { b =>
      struct(
        lit(b.toLong).as("band_idx"),
        concat_ws("_", slice(col("sig"), b * RowsPerBand + 1, RowsPerBand).cast("array<string>")).as("band_key"))
    }: _*)
    sigs
      .select(col("doc_id"), explode(bands).as("bb"))
      .select(col("doc_id"), col("bb.band_idx").as("band_idx"), col("bb.band_key").as("band_key"))
  }

  /** Driver-contract query: bucket assignments (deterministic, always ≥ 1 row
    * per doc; the pair-producing path is covered by planted-dup tests). */
  def minhashBucketsQuery(s: SparkSession, d: String): DataFrame =
    minhashBands(Tables.documents(s, d)).orderBy("doc_id", "band_idx")

  /** Candidate near-dup pairs: equi-join on band buckets, then estimate
    * Jaccard as the fraction of agreeing signature positions, reported in
    * 1e-4 fixed point (rule R2: the only float op is matches·10000/K, which
    * is exact in double for K=32, so the output is engine-portable and the
    * whole pipeline — bucketing AND estimation — hash-matches the DuckDB
    * oracle). Keep pairs with estimate ≥ minEstE4. */
  def minhashPairs(docs: DataFrame, minEstE4: Long = 5000L): DataFrame = {
    // The signature table feeds the band self-join (both sides) AND the two
    // join-backs below — persist it so the shingle→hash→32-min aggregate runs
    // once, not four times; released after the caller's terminal action.
    val sigs = hold(minhashSignatures(docs))
    val bands = minhashBandsFromSigs(sigs)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // Signature agreement stays a zip_with/aggregate HOF deliberately: it
    // runs once per CANDIDATE PAIR, and banding bounds candidates to
    // bucket-mates — profiled at sf0.1 the whole query is dominated by the
    // signature aggregation and band join, with the per-pair HOF cost in the
    // noise. The codegen'd-expression rule (Fns.scala:55) applies to
    // per-row/per-token hot loops, not to a K=32 lambda over an
    // already-winnowed pair set; a native expression here would buy
    // complexity, not time.
    graft.functions.Caching.releaseAfterAction(
      cand
        .join(sigs.withColumnRenamed("doc_id", "d1").withColumnRenamed("sig", "sig1"), "d1")
        .join(sigs.withColumnRenamed("doc_id", "d2").withColumnRenamed("sig", "sig2"), "d2")
        .select(
          col("d1"), col("d2"),
          round(aggregate(zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (a, v) => a + v) * lit(10000.0) / lit(K.toDouble)).cast("long").as("est_jac_e4"))
        .filter(col("est_jac_e4") >= minEstE4)
        .orderBy("d1", "d2"),
      sigs)
  }

  /** Driver-contract query for the full MinHash pipeline (buckets → candidate
    * pairs → signature-agreement estimate). */
  def minhashPairsQuery(s: SparkSession, d: String): DataFrame =
    minhashPairs(Tables.documents(s, d))

  // SimHash parameters. The fingerprint is SimBits wide; a 32-bit polynomial
  // token hash only has 32 usable bits, so the 64-bit fingerprint draws bits
  // 0-31 from polyHash(token) and bits 32-63 from the independent salted
  // polyHash("s2#" + token) — both trivially reproducible in the oracle SQL.
  // The fingerprint is searched via SimBands contiguous (SimBits/SimBands)-bit
  // bands; wider bands ⇒ more buckets ⇒ more parallelism and smaller buckets
  // at scale (the 32-bit/8-bit-band version capped at 256 buckets per band,
  // which goes quadratic-per-bucket past ~10⁶ docs — 16-bit bands give 65,536).
  val SimBits = 64
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands

  /** SimHash per document over token hashes: bit j of the fingerprint is the
    * sign of Σ_tokens (bit j of the token hash set ? +1 : -1). Near-dups have
    * small Hamming distance. Pure column expressions, bit loop unrolled at
    * plan time. Query-contract wrapper — adds the terminal sort; internal
    * consumers (the pair search) use the unordered [[simhashFp]]. */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashDf(Tables.documents(s, d))

  /** Ordered SimHash over any (doc_id, text) DataFrame (planted-dup tests
    * inject their own corpus here). */
  def simhashDf(docs: DataFrame): DataFrame =
    simhashFp(docs).orderBy("doc_id")

  /** Unordered fingerprint computation — the reusable building block. The
    * pair search persists THIS frame, not the sorted query wrapper: a global
    * range-sort feeding a band join that re-shuffles anyway is wasted work
    * at any scale (PlanSpec pins the no-Sort shape). Backed by the native
    * SimHash expression (one tight loop per row); [[simhashFpHof]] is the
    * original higher-order formulation, kept as the semantic reference for
    * the parity test in FnsParitySpec. */
  def simhashFp(docs: DataFrame, bits: Int = SimBits): DataFrame =
    docs.select(col("doc_id"),
      org.apache.spark.sql.graft.StringExprs.simhash(tokens(col("text")), bits).as("simhash"))

  /** Higher-order-function formulation of the same fingerprint (interprets
    * three lambdas and materializes a `bits`-wide array per token — the
    * parity reference, not the hot path). */
  def simhashFpHof(docs: DataFrame, bits: Int = SimBits): DataFrame = {
    require(bits == 32 || bits == 64, "fingerprint width must be 32 or 64")
    val hashes = transform(tokens(col("text")), t =>
      if (bits == 32) struct(polyHash(t).as("ha"), lit(0L).as("hb"))
      else struct(polyHash(t).as("ha"), polyHash(concat(lit("s2#"), t)).as("hb")))
    val bitsOf: Column => Column = h =>
      array((0 until bits).map { j =>
        val word = if (j < 32) h.getField("ha") else h.getField("hb")
        when(shiftright(word, j % 32).bitwiseAND(lit(1L)) === 1, lit(1L)).otherwise(lit(-1L))
      }: _*)
    val zeros = array_repeat(lit(0L), bits)
    // 1L << 63 IS Long.MinValue; summing distinct bit values equals the
    // bitwise OR, including the sign bit (the oracle mirrors with bit_or).
    val sh = aggregate(
      hashes,
      zeros,
      (acc, h) => zip_with(acc, bitsOf(h), (a, b) => a + b),
      acc => (0 until bits).map { j =>
        when(element_at(acc, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _))
    docs.select(col("doc_id"), sh.as("simhash"))
  }

  // SimHash Hamming-ball search: split the SimBits fingerprint into SimBands
  // contiguous SimBandBits-bit bands. By pigeonhole, two fingerprints within
  // Hamming distance t < SimBands must agree EXACTLY on at least one band —
  // so the band equi-join finds every qualifying pair (recall 1.0, no
  // approximation in the candidate set), and only bucket-mates are verified.

  /** Band-slice expression shared by the batch pair join and the streaming
    * near-dup detector ([[graft.streaming.TextStreams.nearDupStream]]): one
    * struct per band carrying the band index and that band's SimBandBits-bit
    * slice of the fingerprint. One definition on purpose — batch and stream
    * MUST band identically or streaming recall silently diverges when the
    * fingerprint width or band split changes again. */
  def simhashBandStructs(fp: Column): Column =
    array((0 until SimBands).map { b =>
      struct(
        lit(b.toLong).as("band_idx"),
        shiftright(fp, b * SimBandBits)
          .bitwiseAND(lit((1L << SimBandBits) - 1)).as("band_bits"))
    }: _*)

  /** Near-dup pairs within Hamming distance `maxHamming` of each other's
    * SimHash — the search operator the fingerprint exists for. Shape:
    * band equi-join (linear shuffle, fan-out bounded by band-bucket
    * occupancy) → exact Hamming verify via bit_count(xor). All integer
    * arithmetic, so unlike most LSH operators this one is oracle
    * hash-checked end-to-end (maxHamming must stay < SimBands for the
    * pigeonhole guarantee). */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame =
    simhashPairsDf(Tables.documents(s, d), maxHamming)

  /** Same, over any (doc_id, text) DataFrame (planted-dup tests). */
  def simhashPairsDf(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val (pairs, fp) = simhashPairsRaw(docs, maxHamming)
    graft.functions.Caching.releaseAfterAction(pairs.orderBy("d1", "d2"), fp)
  }

  /** The UNORDERED pair core behind [[simhashPairsDf]] and the
    * edit-distance verify stage — returns the pairs plus the persisted
    * fingerprint frame the caller releases after its terminal action
    * (composing on the sorted wrapper would bury a wasted global sort
    * mid-plan). */
  private def simhashPairsRaw(docs: DataFrame,
      maxHamming: Int): (DataFrame, DataFrame) = {
    require(maxHamming < SimBands, "pigeonhole guarantee needs maxHamming < SimBands")
    // The fingerprint table feeds both sides of the band self-join — persist
    // so the tokenize→hash→bit-aggregate runs once (the UNORDERED frame: the
    // sorted query wrapper's global sort would be wasted work here). The
    // harness clears the cache between queries. The band rows CARRY the
    // 8-byte fingerprint, so the Hamming verify runs inside the band join
    // itself (no join-backs), and the duplicate-candidate distinct (a pair
    // can agree on several bands) runs AFTER the Hamming filter — hamming is
    // a pure function of the pair, so filtering first is equivalent and
    // shrinks the distinct.
    val fp = hold(simhashFp(docs))
    val bands = fp
      .select(col("doc_id"), col("simhash"), explode(simhashBandStructs(col("simhash"))).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band_idx").as("band_idx"), col("bb.band_bits").as("band_bits"))
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    (pairs, fp)
  }

  /** Near-dup verdicts above this edit similarity (0.8) are duplicates —
    * the conventional fuzzy-dedup operating point. */
  val EditDupSimE4 = 8000L

  /** EDIT-DISTANCE-VERIFIED NEAR-DUP — the classic two-stage fuzzy dedup:
    * the cheap fingerprint proposes ([[simhashPairsRaw]]'s band-collision
    * candidates within `maxHamming`), character-level Levenshtein
    * DISPOSES. SimHash approximates token-frequency cosine, so it can
    * pair docs that share vocabulary but read differently; the edit
    * distance is the decision-grade judgment on the raw strings. Per
    * candidate pair: the fingerprint hamming, the exact edit distance,
    * edit similarity 1 − lev/max(len) in e4, and the verdict at
    * [[EditDupSimE4]]. Both engines run textbook unit-cost Levenshtein,
    * so the whole verify stage hash-matches the oracle.
    *
    * Scale shape: Levenshtein is O(len²) per pair — affordable ONLY
    * because it runs on the band-candidate set (bounded by bucket
    * occupancy), never on all pairs; the two text join-backs are
    * id-equi-joins of that candidate set against the corpus. At 100 TB
    * add the standard guards: cap verified length (prefix the texts),
    * or use Spark's thresholded `levenshtein(l, r, max)` early-exit form
    * when only the verdict (not the distance) is consumed. */
  def editDistPairs(s: SparkSession, d: String, maxHamming: Int = 3,
      dupSimE4: Long = EditDupSimE4): DataFrame =
    editDistPairsDf(Tables.documents(s, d), maxHamming, dupSimE4)

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def editDistPairsDf(docs: DataFrame, maxHamming: Int = 3,
      dupSimE4: Long = EditDupSimE4): DataFrame = {
    val (pairs, fp) = simhashPairsRaw(docs, maxHamming)
    val t = docs.select(col("doc_id"), col("text"))
    val scored = pairs
      .join(t.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(t.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      // Explicit fan-out BEFORE the DP: the verify stage is CPU-bound
      // (O(len²) per pair) but only ~KBs per pair, so AQE's byte-based
      // partition coalescing sees a "tiny" stage and serializes it onto
      // one task — measured 55 s single-task vs ~3 s spread at sf0.1.
      // An explicit numPartitions pins the exchange against coalescing;
      // pair count per task, not bytes, is the right unit here.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("d1"), col("d2"), col("hamming"),
        levenshtein(col("t1"), col("t2")).cast("long").as("editdist"),
        // max(len, 1): two empty texts are identical (lev 0) and must
        // score 10000, not divide by zero.
        greatest(length(col("t1")), length(col("t2")), lit(1)).cast("long")
          .as("glen"))
      .select(col("d1"), col("d2"), col("hamming"), col("editdist"),
        round((lit(1.0) - col("editdist").cast("double") / col("glen")) *
          10000).cast("long").as("sim_e4"))
    graft.functions.Caching.releaseAfterAction(
      scored
        .withColumn("dup", (col("sim_e4") >= dupSimE4).cast("long"))
        .orderBy("d1", "d2"),
      fp)
  }

  /** Incremental NEAR-dup dedup — [[incremental]]'s daily-crawl broadcast
    * shape composed with the SimHash Hamming-ball kit: an arriving batch is
    * checked against the shipped corpus for near-duplicates (re-crawls with
    * boilerplate drift — the case exact incremental dedup misses), then
    * within itself. Per batch doc: corpus_dup (∃ corpus fingerprint within
    * maxHamming), batch_dup (∃ earlier batch doc within maxHamming), and
    * the keep verdict (neither).
    *
    * Scale shape — the part that matters at 100 TB: the BATCH side's band
    * keys (4 rows per batch doc, fingerprint carried) BROADCAST; the corpus
    * streams through its fingerprint scan once, never shuffles, never
    * re-keys, and the Hamming verify runs inside the map-side band join.
    * Only matched batch ids come back (bounded by batch size) for the
    * distinct. In production the corpus side reads the saved fingerprint
    * table — the same narrow scan. The within-batch pass is the standard
    * band self-join on the batch only. Pigeonhole recall is exact for
    * maxHamming < SimBands, so the oracle's direct quadratic check agrees. */
  def incrementalNearDup(s: SparkSession, d: String,
      batchSource: String = "src19", maxHamming: Int = 3): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalNearDupDf(
      docs.filter(col("source") === batchSource),
      docs.filter(col("source") =!= batchSource), maxHamming)
  }

  /** Same, over explicit batch/corpus (doc_id, text) frames (planted tests). */
  def incrementalNearDupDf(batch: DataFrame, corpus: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimBands, "pigeonhole guarantee needs maxHamming < SimBands")
    def bandsOf(fp: DataFrame): DataFrame = fp
      .select(col("doc_id"), col("simhash"),
        explode(simhashBandStructs(col("simhash"))).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band_idx").as("band_idx"), col("bb.band_bits").as("band_bits"))
    val bfp = hold(simhashFp(batch))
    val bBands = bandsOf(bfp).select(col("doc_id").as("bid"),
      col("simhash").as("bfp"), col("band_idx"), col("band_bits"))
    val corpusHits = bandsOf(simhashFp(corpus))
      .join(broadcast(bBands), Seq("band_idx", "band_bits"))
      .filter(bit_count(col("simhash").bitwiseXOR(col("bfp"))) <= maxHamming)
      .select(col("bid").as("doc_id")).distinct()
      .withColumn("c_hit", lit(1L))
    val bb = bandsOf(bfp)
    val batchHits = bb.as("a")
      .join(bb.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("b.doc_id").as("doc_id")).distinct()
      .withColumn("b_hit", lit(1L))
    graft.functions.Caching.releaseAfterAction(
      bfp.select("doc_id")
        .join(corpusHits, Seq("doc_id"), "left")
        .join(batchHits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("c_hit"), lit(0L)).as("corpus_dup"),
          coalesce(col("b_hit"), lit(0L)).as("batch_dup"),
          when(col("c_hit").isNull && col("b_hit").isNull, lit(1L))
            .otherwise(lit(0L)).as("keep"))
        .orderBy("doc_id"),
      bfp)
  }

  /** Token-window width for exact-substring dedup. Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) use 50-token spans on web corpora; 5 keeps the
    * signal non-trivial on the short synthetic docs — the shape is
    * width-independent. */
  val SubstrWindow = 5

  /** Exact-substring duplication scoring — the SPAN-level member of the
    * dedup family (arXiv:2107.06499): where Jaccard/MinHash score whole-
    * document similarity, this finds exact repeated token runs (licence
    * boilerplate, templated headers, quoted chunks) that survive inside
    * otherwise-unique documents. Every [[SubstrWindow]]-token window is
    * hashed; a window occurring more than once in the CORPUS (any doc,
    * any position — same-doc repeats included) is duplicated, and each
    * document reports its window count, duplicated-window count, and
    * duplicated fraction in e4 — the "remove repeated spans before
    * training" decision signal. Docs shorter than the window score 0.
    *
    * Scale shape — the point vs the pairwise operators: NO pair is ever
    * enumerated, so there is no O(df²) blowup to cap. Windows reduce to
    * fixed-width fingerprints immediately (the strings never shuffle):
    * one map-side-combined count on the fingerprint, one linear join
    * back, one per-doc rollup — token-linear end to end, boilerplate-hot
    * windows cost one hot COUNTER, not a join fan-out.
    *
    * The fingerprint is a PAIR of 57-bit polynomial hashes with coprime
    * bases (31, 37) — 114 bits, engine-portable (the oracle folds the
    * identical checked-BIGINT recurrences). A single 32-bit hash is not
    * enough here: at 100 TB (~10^13 windows) birthday collisions are
    * certain, and a fingerprint collision COUNTS as a duplicate window —
    * silent dup_e4 inflation. Distinct bases, not salts, provide the
    * independence: a fixed-base polynomial hash is affine for
    * equal-length strings, so any salted variant of one base collides
    * exactly when the unsalted does (DedupSpec plants a real 32-bit
    * collision pair and asserts the pair key separates it). At 114 bits
    * the expected collision count at 10^13 windows is ~10^-8. */
  def substringDup(s: SparkSession, d: String,
      window: Int = SubstrWindow): DataFrame =
    substringDupDf(Tables.documents(s, d), window)

  /** Same, over any (doc_id, text) DataFrame (planted-span tests). */
  def substringDupDf(docs: DataFrame, window: Int = SubstrWindow): DataFrame =
    substringDupFromToks(
      docs.select(col("doc_id"), tokens(col("text")).as("tk")), window)

  /** [[substringDupDf]] over a PRE-TOKENIZED (doc_id, tk: array<string>)
    * frame — the form a composing query uses to share ONE tokenize pass
    * across branches (corpus_clean_spans feeds the same tokenized frame
    * here and to its quality/lang gates; guide §1.2 step 1). Identical
    * rows: tokenizing is per-document, so scoring the supplied arrays
    * equals scoring tokens(text). */
  private[graft] def substringDupFromToks(tokd: DataFrame,
      window: Int = SubstrWindow): DataFrame = {
    val wins = hold(tokd
      .select(col("doc_id"), explode(wordNgrams(col("tk"), window)).as("win"))
      .select(col("doc_id"),
        polyHash57(col("win"), 31).as("h1"),
        polyHash57(col("win"), 37).as("h2")))
    val counts = wins.groupBy("h1", "h2").agg(count(lit(1)).as("occ"))
    val perDoc = wins.join(counts, Seq("h1", "h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") > 1L, 1L).otherwise(0L)).as("n_dup_windows"))
    graft.functions.Caching.releaseAfterAction(
      tokd.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          when(col("n_windows").isNull, lit(0L))
            .otherwise(round(col("n_dup_windows") * lit(10000.0) / col("n_windows")).cast("long"))
            .as("dup_e4"))
        .orderBy("doc_id"),
      wins)
  }

  /** Exact-substring SPAN REMOVAL — the rewrite that ends Lee et al.'s
    * pipeline (arXiv:2107.06499 §3.1, "ExactSubstr"): where
    * [[substringDupDf]] SCORES duplicated windows and corpus_clean_spans
    * gates whole documents on that score, this operator produces the
    * CLEANED TEXT itself. One occurrence of every duplicated token run
    * survives — the globally FIRST by (doc_id, window position), so the
    * rule is deterministic and engine-portable — and every token covered
    * only by later occurrences is dropped; per-doc output is the
    * reassembled token stream (the pipeline's normalized lowercase-token
    * form, the same normalization every downstream operator tokenizes to)
    * plus kept/dropped counts. Docs shorter than the window pass through
    * untouched; overlapping redundant windows union their coverage, so a
    * long boilerplate run is removed once, not once per window.
    *
    * Scale shape — same token-linear discipline as the scorer, still no
    * pair enumeration anywhere: windows reduce to the 114-bit coprime
    * fingerprint pair immediately (strings never shuffle); ONE map-side-
    * combinable aggregate per fingerprint (count is not even needed — a
    * window is redundant iff its (doc_id, pos) differs from the
    * fingerprint's min, and a singleton IS its own min); one linear join
    * back; covered positions explode to ≤ window × redundant-windows rows
    * and dedup on (doc_id, pos); the rebuild's collect_list is bounded by
    * the document's own token count — the same bound as holding the
    * document text in one row. Boilerplate-hot fingerprints cost a hot
    * MIN/COUNT cell, not a join fan-out. */
  def substringRewrite(s: SparkSession, d: String,
      window: Int = SubstrWindow): DataFrame =
    substringRewriteDf(Tables.documents(s, d), window)

  /** Same, over any (doc_id, text) DataFrame (planted-span tests). */
  def substringRewriteDf(docs: DataFrame, window: Int = SubstrWindow): DataFrame = {
    // ONE tokenize pass feeds all three branches — the token stream, the
    // fingerprinted windows, and the per-doc token count (guide §1.2
    // step 1; the r16 shape ran the tokenize regex three times: toks,
    // wins, and the final n_tokens projection each re-tokenized).
    val tokd = hold(docs
      .select(col("doc_id"), tokens(col("text")).as("tk")))
    val toks = tokd
      .select(col("doc_id"), posexplode(col("tk")))
      .withColumnRenamed("col", "tok")
    val wins = hold(tokd
      .select(col("doc_id"), posexplode(wordNgrams(col("tk"), window)))
      .select(col("doc_id"), col("pos"),
        polyHash57(col("col"), 31).as("h1"),
        polyHash57(col("col"), 37).as("h2")))
    val firsts = wins.groupBy("h1", "h2")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    // Redundant occurrence = not the fingerprint's lexicographic-first.
    // Its covered token positions [pos, pos+window) join the drop set.
    val drops = wins.join(firsts, Seq("h1", "h2"))
      .filter(col("doc_id") =!= col("first.doc_id") ||
        col("pos") =!= col("first.pos"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(window - 1))).as("pos"))
      .distinct()
    val rebuilt = toks.join(drops, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("text_clean"))
    graft.functions.Caching.releaseAfterAction(
      tokd.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("text_clean"), lit("")).as("text_clean"))
        .orderBy("doc_id"),
      tokd, wins)
  }

  /** Corpus-wide exact LINE deduplication with text rewrite — the
    * line-granular form of C4's span dedup (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2 discards all but one occurrence of any
    * three-sentence span; production web pipelines most often apply the
    * rule at line granularity, where boilerplate lives). Every non-empty
    * line keeps only its corpus-FIRST occurrence — the lexicographic
    * (doc_id, line index) winner, so the rule is deterministic and
    * engine-portable — and later occurrences are removed; each document
    * is reassembled from its surviving lines. Empty lines are document
    * structure, not content: never dedup targets, always kept.
    *
    * Scale shape: lines reduce to the 114-bit coprime fingerprint pair
    * before any shuffle (16 bytes per key, never the line text); the
    * winner per fingerprint is ONE map-side-combinable min aggregate, so
    * a boilerplate line occurring 1e9 times costs a hot min cell, not
    * driver state; the occurrence→winner join is equi on the fingerprint
    * and 1:N (winners are distinct per key) — a hot key is a skewed
    * partition for AQE's skew split to cut, not a fan-out; the rebuild's
    * collect_list is bounded by the document's own line count, the same
    * bound as holding the document in one row. */
  def lineDedup(s: SparkSession, d: String): DataFrame =
    lineDedupDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text) DataFrame (planted-boilerplate tests). */
  def lineDedupDf(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .withColumnRenamed("col", "line")
    val fp = hold(lines.filter(col("line") =!= "")
      .select(col("doc_id"), col("pos"),
        polyHash57(col("line"), 31).as("h1"),
        polyHash57(col("line"), 37).as("h2")))
    val firsts = fp.groupBy("h1", "h2")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val drops = fp.join(firsts, Seq("h1", "h2"))
      .filter(col("doc_id") =!= col("first.doc_id") ||
        col("pos") =!= col("first.pos"))
      .select("doc_id", "pos")
    val rebuilt = lines.join(drops, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_clean"))
    graft.functions.Caching.releaseAfterAction(
      docs.select(col("doc_id"),
          size(split(col("text"), "\n")).cast("long").as("n_lines"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("text_clean"), lit("")).as("text_clean"))
        .orderBy("doc_id"),
      fp)
  }

  /** Hot-shingle document-frequency cap for the exact Jaccard join: a shingle
    * occurring in f documents contributes O(f²) join rows, so boilerplate
    * shingles ("terms of service apply") make the join quadratic on skew.
    * Shingles with df > cap are excluded from the PAIRING join (the standard
    * production-dedup mitigation); per-doc shingle counts — the Jaccard
    * denominator — still use the full set, so the score is a lower bound.
    * 50 is a no-op on the test corpus (max df at sf0.1 is 25) and a hard
    * skew ceiling at 100 TB. */
  val MaxShingleDf = 50L

  /** Winnowing window width: a fingerprint is selected from every run of
    * [[WinnowW]] consecutive 3-gram hashes, so any shared token run of
    * length ≥ 3 + [[WinnowW]] − 1 is GUARANTEED to share a fingerprint —
    * the winnowing coverage theorem's t = w + k − 1. */
  val WinnowW = 4

  /** Minimum shared fingerprints for a reported pair (1 fingerprint can be
    * a single boilerplate phrase; 2+ is sustained overlap). */
  val WinnowMinShared = 2L

  /** Winnowing document fingerprints → copy-detection pairs (Schleimer,
    * Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting" — the MOSS algorithm). Each document's ORDERED 3-gram
    * hash sequence (duplicates kept — position matters, unlike the
    * Jaccard family's distinct-shingle SET) slides a [[WinnowW]]-wide
    * window; the window's MINIMUM hash is selected. The distinct selected
    * values are the document's fingerprint set — a (2/(w+1))-density local
    * sample with the GUARANTEE that any match of t = w+k−1 tokens shares
    * a fingerprint (contrast MinHash, whose misses are probabilistic).
    * Pairs then form exactly like the Jaccard kit: bounded-state collect
    * per fingerprint (df cap = hot boilerplate fingerprints dropped, the
    * same [[MaxShingleDf]] rationale), LongPairs, shared-count filter.
    * Selection is by VALUE min (ties keep one value — both engines
    * identical); the paper's rightmost-position tie rule only affects
    * density, not the coverage guarantee.
    *
    * Scale shape: fingerprinting is a narrow per-row pass (token-linear,
    * array ops inside codegen); the density bound means only ~2/(w+1) of
    * gram hashes ever leave the row. The one shuffle groups (fp → doc
    * ids) with per-key state capped at maxDf+1 longs. Docs under k+w−1
    * tokens contribute their single min-hash fingerprint; docs under k
    * tokens have none (exact dedup covers them). */
  def winnowingPairs(s: SparkSession, d: String): DataFrame =
    winnowingPairsDf(Tables.documents(s, d))

  /** The distinct winnowing fingerprint set per document — ONE definition
    * shared by the batch pair query and the streaming probe twin, so the
    * two can never select differently. Narrow per-row work (no shuffle):
    * the native [[org.apache.spark.sql.graft.StringExprs.winnowFps]]
    * expression hashes each 3-gram without materializing the string and
    * slides the window minimum with a monotonic deque — O(tokens) per row
    * where the equivalent HOF chain (transform → slice → array_min) is
    * O(tokens·w) with a per-window allocation (FnsParitySpec pins the
    * value parity). */
  def winnowingFingerprints(docs: DataFrame): DataFrame =
    TextAnalytics.docTokensText(docs)
      .select(col("doc_id"), explode(org.apache.spark.sql.graft.StringExprs
        .winnowFps(col("toks"), 3, WinnowW)).as("fp"))

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def winnowingPairsDf(docs: DataFrame, minShared: Long = WinnowMinShared,
      maxDf: Long = MaxShingleDf): DataFrame = {
    val fps = winnowingFingerprints(docs)
    val capped = org.apache.spark.sql.graft.AggExprs
      .boundedCollectLong(col("doc_id"), (maxDf + 1).toInt)
    val grouped = fps.groupBy("fp").agg(capped.as("ids"))
      .filter(size(col("ids")) <= maxDf)
    grouped.select(explode(
        org.apache.spark.sql.graft.AggExprs.longPairs(col("ids"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("d1", "d2")
  }

  /** n-gram Jaccard near-dup pairs, exact (not sketched): join documents on
    * shared distinct 3-shingles, count common, Jaccard = common/(na+nb-common)
    * in 1e-4 fixed point. Equi-join on the shingle — no cross product — with
    * the MaxShingleDf cap bounding per-key join fan-out. The MinHash banding
    * above is the sketched alternative; this exact variant doubles as its
    * verifier. */
  def ngramJaccardPairs(s: SparkSession, d: String, minJacE4: Long = 100L,
      maxDf: Long = MaxShingleDf): DataFrame =
    if (minJacE4 >= JacPairsBaseE4)
      jaccardPairsShared(s, d, maxDf)
        .filter(col("jac_e4") >= minJacE4).orderBy("d1", "d2")
    else ngramJaccardPairsDf(Tables.documents(s, d), minJacE4, maxDf)

  /** Algorithm version of the Jaccard pair product — cache-key component;
    * bump whenever the shingle/pair/score construction changes. */
  private val JacPairsVersion = 1

  /** The shared product's pair threshold: the LOWEST bar any consumer
    * uses (the pair QUERY's exploratory 0.01), so every consumer's pair
    * set — the decision-grade cluster builds (0.8), the evaluation
    * truths (0.5/0.8) — is a monotone filter of the stored table. */
  val JacPairsBaseE4 = 100L

  /** The exact n-gram Jaccard pair table built ONCE per (corpus, df cap)
    * and SHARED through the content-addressed
    * [[graft.sources.ArtifactCache]]. Five consumers previously rebuilt
    * or would rebuild this product inside their own plans: the pair
    * query itself, the cluster-assignment build
    * ([[clusterAssignmentsShared]]'s CC runs on these edges), both
    * sketch-quality evaluations' ground-truth sides ([[sketchPr]],
    * [[simhashPr]]), and the hybrid retrieval query's lexical tower
    * ([[Similarity.hybridRrf]]). First consumer per key builds
    * and publishes (shingles → bounded-state pair collect → score);
    * later consumers scan (d1, d2, jac_e4) and filter at their own
    * threshold — identical rows by construction (the score filter is
    * monotone above [[JacPairsBaseE4]]), so every consumer's oracle is
    * unchanged. Planted-test Df variants keep computing self-contained. */
  def jaccardPairsShared(s: SparkSession, d: String,
      maxDf: Long = MaxShingleDf): DataFrame =
    jacPairsArtifact(d, maxDf).getOrBuild(s)(
      pairProductBuild(s, d, maxDf, wantJac = true))

  private[graft] def jacPairsArtifact(d: String,
      maxDf: Long = MaxShingleDf): Artifact =
    Artifact("jacpairs", s"$d/documents.parquet",
      Seq(JacPairsBaseE4, maxDf, JacPairsVersion))

  /** The BUILDER both pair products share (guide §5: shared build
    * intermediates): jacpairs and contpairs run the IDENTICAL df-capped
    * shingle-overlap core ([[pairOverlapFromShingles]] — the family's
    * dominant cost) and differ only in the final score projection. When
    * the requested product's SIBLING is also absent, the core computes
    * once (persisted), the sibling is derived from it and published
    * through its own [[graft.sources.Artifact.getOrBuildDir]] (its
    * own key — consumers and eviction see exactly the product its own
    * builder would have written; identical rows: the score tails are
    * pure projections of the same overlap frame), and the
    * requested frame is returned for getOrBuild's normal publish. A cold
    * pipeline thus pays ONE overlap scan for both pair tables. When the
    * sibling already exists, this is the plain single-product build. */
  private def pairProductBuild(s: SparkSession, d: String, maxDf: Long,
      wantJac: Boolean): DataFrame = {
    val sibling =
      if (wantJac) contPairsArtifact(d, maxDf) else jacPairsArtifact(d, maxDf)
    val (ov0, sh) = pairOverlapFromShingles(
      shingles(Tables.documents(s, d)), maxDf)
    def scored(ov: DataFrame, jac: Boolean) =
      if (jac) jacScored(ov, JacPairsBaseE4) else contScored(ov, ContainmentThrE4)
    if (sibling.exists)
      graft.functions.Caching.releaseAfterAction(scored(ov0, wantJac), sh)
    else {
      val ov = hold(ov0)
      // The sibling's products entry prices its marginal write; the
      // shared core is inside the requester's getOrBuild timing.
      sibling.getOrBuildDir(s)(tmp =>
        scored(ov, !wantJac).write.mode("overwrite").parquet(tmp)): Unit
      // The returned frame reads the shared core, so getOrBuild's own
      // parquet write of it releases the core.
      graft.functions.Caching.releaseAfterAction(scored(ov, wantJac), ov, sh)
    }
  }

  /** Same, over any (doc_id, text) DataFrame. Query-contract wrapper — adds
    * the terminal sort; internal consumers ([[components]] via [[clusters]])
    * use the unordered [[ngramJaccardPairsRaw]]. */
  def ngramJaccardPairsDf(docs: DataFrame, minJacE4: Long = 100L,
      maxDf: Long = MaxShingleDf): DataFrame =
    ngramJaccardPairsRaw(docs, minJacE4, maxDf).orderBy("d1", "d2")

  /** Unordered pair computation — the reusable building block (a global
    * range-sort feeding the CC edge list, which re-shuffles by key anyway,
    * is wasted work at any scale; PlanSpec pins the no-Sort shape). */
  def ngramJaccardPairsRaw(docs: DataFrame, minJacE4: Long = 100L,
      maxDf: Long = MaxShingleDf): DataFrame =
    jaccardPairsFromShingles(shingles(docs), minJacE4, maxDf)

  /** Jaccard pair search over ANY per-document shingle set — the machinery
    * behind the word-n-gram pairs above, shared with the byte-shingle
    * near-dup on binary media payloads (Media.mediaNearDup): one
    * definition, so the df-cap/pair/score pipeline cannot drift between
    * modalities. Input: a (doc_id, sh) frame, distinct per doc. */
  def jaccardPairsFromShingles(shinglesDf: DataFrame, minJacE4: Long,
      maxDf: Long = MaxShingleDf): DataFrame = {
    val (ov, sh) = pairOverlapFromShingles(shinglesDf, maxDf)
    graft.functions.Caching.releaseAfterAction(jacScored(ov, minJacE4), sh)
  }

  /** The Jaccard score tail over an overlap frame — ONE definition shared
    * by the self-contained builders and the twin product build, so the
    * two can never drift. */
  private def jacScored(ov: DataFrame, minJacE4: Long): DataFrame =
    ov.select(
        col("d1"), col("d2"),
        round(col("common") * lit(10000.0) / (col("na") + col("nb") - col("common"))).cast("long").as("jac_e4"))
      .filter(col("jac_e4") >= minJacE4)

  /** The containment score tail — same sharing rule as [[jacScored]]. */
  private def contScored(ov: DataFrame, minContE4: Long): DataFrame =
    ov.select(
        col("d1"), col("d2"),
        round(col("common") * lit(10000.0) / col("na")).cast("long").as("cont1_e4"),
        round(col("common") * lit(10000.0) / col("nb")).cast("long").as("cont2_e4"))
      .filter(greatest(col("cont1_e4"), col("cont2_e4")) >= minContE4)

  /** Pair overlap counts over any (doc_id, sh) frame — the core the
    * Jaccard and CONTAINMENT scorers share: (d1, d2, common, na, nb)
    * with d1 < d2, `common` counted over df-capped shingles, na/nb the
    * raw per-doc distinct-shingle counts. Returns the overlap frame plus
    * the persisted shingle cache the caller releases. */
  private def pairOverlapFromShingles(shinglesDf: DataFrame,
      maxDf: Long): (DataFrame, DataFrame) = {
    // `sh` feeds two consumers (per-doc counts, the pair groups); persist it
    // so the upstream scan→shingle pipeline runs once instead of twice;
    // released after the caller's terminal action.
    val sh = hold(shinglesDf)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Pair generation WITHOUT a self-join AND without a separate df-count
    // pass: ONE groupBy collects each shingle's doc ids through the
    // bounded-state aggregate (state caps at maxDf+1 longs per key even for
    // crawl-scale boilerplate windows — the OOM-safety the old shape bought
    // with a df-count aggregation plus an eligibility join, i.e. one extra
    // shuffle of the full shingle table). Cap-length arrays mean df > maxDf:
    // dropped, exactly the old `df_ <= maxDf` rule. Sub-cap arrays are
    // complete and sorted, so LongPairs emits every (d1 < d2) pair in a
    // single tight loop — ≤ maxDf·(maxDf-1)/2 per group, same bound as the
    // nested-transform explode it replaces at a fraction of the lambda
    // overhead.
    val capped = org.apache.spark.sql.graft.AggExprs
      .boundedCollectLong(col("doc_id"), (maxDf + 1).toInt)
    val grouped = sh.groupBy("sh").agg(capped.as("ids"))
      .filter(size(col("ids")) <= maxDf)
    val pairs = grouped.select(explode(
        org.apache.spark.sql.graft.AggExprs.longPairs(col("ids"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    val common = pairs.groupBy("d1", "d2").agg(count(lit(1)).as("common"))
    (common
      .join(counts.select(col("doc_id").as("d1"), col("n").as("na")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n").as("nb")), "d2"),
     sh)
  }

  /** Decision-grade containment threshold: 80 % of the smaller side's
    * shingles shared — the "one document quotes/contains the other" bar. */
  val ContainmentThrE4 = 8000L

  /** ASYMMETRIC CONTAINMENT pairs (`dedup_containment`) — the dedup form
    * symmetric Jaccard structurally misses: when a short document is
    * embedded in a much longer one (a quoted article, a page plus
    * boilerplate, a truncated re-crawl), |A∩B|/|A| is high while
    * |A∩B|/|A∪B| shrinks with the length ratio (jac ≈ na/nb at full
    * containment), so a Jaccard gate tuned for near-identical pairs
    * never fires (Broder 1997 distinguishes exactly these two
    * resemblance measures). Emits both directions — cont1_e4 = common/na
    * (how much of d1 lives inside d2), cont2_e4 = common/nb — for pairs
    * where EITHER side clears [[ContainmentThrE4]]; the consumer drops
    * whichever side is contained.
    *
    * Scale shape: identical to the Jaccard kit (one definition of the
    * overlap core, [[pairOverlapFromShingles]]): df-capped bounded-state
    * pair generation, never a corpus self-join; the score tail is two
    * pinned divisions over exact integers, so it hash-matches. */
  /** Algorithm version of the containment pair product — cache-key
    * component; bump whenever the overlap/score construction changes. */
  private val ContPairsVersion = 1

  /** The containment pair table as a BUILD-ONCE PRODUCT — two consumers
    * compute the identical df-capped shingle-overlap scan (the family's
    * dominant cost, ~1.2 M pair records at sf0.1): the pair query itself
    * and [[graft.operators.Pipeline.cleanCorpusContainment]]'s drop set.
    * First consumer builds and publishes (keyed on the documents file +
    * threshold + df cap + version, the jacpairs pattern); the rest scan
    * (d1, d2, cont1_e4, cont2_e4). It cannot share the jacpairs product:
    * containment keeps pairs below that product's 0.01-Jaccard floor
    * (a short doc fully inside a long one has jac ≈ na/nb → 0). */
  def containmentPairsShared(s: SparkSession, d: String,
      maxDf: Long = MaxShingleDf): DataFrame =
    contPairsArtifact(d, maxDf).getOrBuild(s)(
      pairProductBuild(s, d, maxDf, wantJac = false))

  private[graft] def contPairsArtifact(d: String,
      maxDf: Long = MaxShingleDf): Artifact =
    Artifact("contpairs", s"$d/documents.parquet",
      Seq(ContainmentThrE4, maxDf, ContPairsVersion))

  def containmentPairs(s: SparkSession, d: String,
      minContE4: Long = ContainmentThrE4,
      maxDf: Long = MaxShingleDf): DataFrame =
    if (minContE4 >= ContainmentThrE4)
      containmentPairsShared(s, d, maxDf)
        .filter(greatest(col("cont1_e4"), col("cont2_e4")) >= minContE4)
        .orderBy("d1", "d2")
    else containmentPairsDf(Tables.documents(s, d), minContE4, maxDf)

  /** Same, over any (doc_id, text) DataFrame (planted tests). Query-
    * contract wrapper — adds the terminal sort; internal consumers
    * ([[graft.operators.Pipeline.cleanCorpusContainmentDf]]'s drop set)
    * use the unordered Raw form, the [[ngramJaccardPairsRaw]] rule. */
  def containmentPairsDf(docs: DataFrame,
      minContE4: Long = ContainmentThrE4,
      maxDf: Long = MaxShingleDf): DataFrame =
    containmentPairsRaw(docs, minContE4, maxDf).orderBy("d1", "d2")

  /** Unordered containment pairs — the reusable building block (a global
    * range-sort feeding a consumer that re-shuffles by key anyway is
    * wasted work at any scale, the Jaccard kit's Raw/Df rule). */
  def containmentPairsRaw(docs: DataFrame,
      minContE4: Long = ContainmentThrE4,
      maxDf: Long = MaxShingleDf): DataFrame = {
    val (ov, sh) = pairOverlapFromShingles(shingles(docs), maxDf)
    graft.functions.Caching.releaseAfterAction(contScored(ov, minContE4), sh)
  }

  /** Connected components over an undirected near-dup pair graph via
    * min-label propagation PLUS pointer jumping: each round every node takes
    * the min label over its neighbors, then follows its label's label
    * (path halving). Jumping makes convergence logarithmic in component
    * diameter instead of linear — the property the large-star/small-star
    * MapReduce CC algorithms buy, with the same two join shapes. The
    * fixpoint is the smallest doc_id reachable from each node, which IS the
    * deterministic cluster id (and the cluster's survivor under the min-id
    * rule). Each round is two distributed joins; the driver only checks the
    * converged flag — the iterate-until-fixpoint driver loop is how Spark's
    * own graph libraries run CC. `localCheckpoint` truncates lineage per
    * round so plans stay O(1) instead of O(rounds); on a real cluster swap
    * it for `checkpoint` with a reliable dir to keep fault tolerance. */
  /** The CC engine's cached edge frame — PRE-PARTITIONED on the
    * propagation join key (guide §2.4); private[graft] so PlanSpec can
    * pin that every round's join actually REUSES this partitioning. */
  private[graft] def ccEdgeCache(pairs: DataFrame): DataFrame =
    hold(pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionAll(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .repartition(col("b")))

  /** One propagation round over the cached edges: min-label from the
    * neighbors, then one pointer jump. Returns the next label frame
    * (pre-checkpoint) plus the round's internal persist the caller
    * unpersists once the round is materialized. Extracted from the loop
    * so the per-round JOIN PLAN is a test surface (PlanSpec: with
    * broadcasting off the edge side must plan NO exchange — the cached
    * hash(b) partitioning is reused, the node-sized label table moves). */
  private[graft] def ccRound(edges: DataFrame,
      labels: DataFrame): (DataFrame, DataFrame) = {
    val neighborMin = edges
      .join(labels.select(col("id").as("b"), col("label").as("blabel")), "b")
      .groupBy("a").agg(min("blabel").as("nmin"))
    // The pre-round label rides along as `old` so convergence is a plain
    // filter+count over the checkpointed round output — the join-back
    // against the previous labels it replaces cost one extra distributed
    // join per round on the single most expensive query.
    // persist (not an eager checkpoint): the jump self-join reads this
    // frame twice within ONE job, so a lazy cache computes it once while
    // skipping the standalone materialization job per round — lineage
    // stays shallow (labels is checkpointed by the loop).
    val propagated = hold(labels
      .join(neighborMin.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"), col("label").as("old"),
        least(col("label"), coalesce(col("nmin"), col("label"))).as("label")))
    // Pointer jump: label ← label's label. A label is always a node id in
    // the same component with a ≤ label, so the left join hits unless the
    // label is already a root; least() keeps monotone descent.
    val jumped = propagated
      .join(propagated.select(col("id").as("label"), col("label").as("ll")),
        Seq("label"), "left")
      .select(col("id"), col("old"),
        least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
    (jumped, propagated)
  }

  def components(pairs: DataFrame): DataFrame = {
    // Persist the edge list PRE-PARTITIONED on the propagation join key:
    // every round's edges⋈labels equi-join then reuses the cached
    // partitioning and shuffles only the node-sized label table — the
    // edge list (the side that scales with corpus size) crosses the
    // network once at cache fill instead of once per round (guide §2.4;
    // pinned by PlanSpec through [[ccEdgeCache]]/[[ccRound]]).
    val edges = ccEdgeCache(pairs)
    // Round 0 fused into initialization: label = min(self, neighbors) —
    // one aggregate instead of a distinct + a full propagation round.
    var labels = edges
      .groupBy("a").agg(min("b").as("nmin"))
      .select(col("a").as("id"), least(col("nmin"), col("a")).as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val (roundDf, propagated) = ccRound(edges, labels)
      val jumped = roundDf.localCheckpoint(true)
      drop(propagated)
      changed = jumped.filter(col("label") =!= col("old")).count()
      // The superseded round's checkpoint blocks are invisible to
      // Dataset.unpersist — release them at the RDD level.
      org.apache.spark.sql.graft.Checkpoints.release(labels)
      labels = jumped.select("id", "label")
      rounds += 1
    }
    logInfo(s"components converged in $rounds rounds")
    drop(edges)
    labels
  }

  /** Near-dup cluster assignment for every document: cluster_id = smallest
    * doc_id transitively reachable through the n-gram-Jaccard pair graph
    * (singletons are their own cluster). The dedup DECISION operator — keep
    * rows where doc_id = cluster_id, drop the rest. */
  def clusters(s: SparkSession, d: String): DataFrame =
    clusterAssignments(s, d).orderBy("doc_id")

  /** Unordered cluster assignment — the building block the shipping pipeline
    * consumes (Pipeline.cleanCorpusNearDup): its survivor gate only needs
    * doc_id = cluster_id, never a sorted frame. */
  def clusterAssignments(s: SparkSession, d: String): DataFrame =
    clusterAssignmentsShared(s, d)

  /** Algorithm version of the cluster-assignment product — part of the
    * cache key, like the graph family's CoSupplyVersion: bump whenever
    * the shingle/pair/CC construction changes, so a code change can never
    * serve a stale assignment from a previous build. */
  private val ClustersVersion = 2

  /** The cluster assignment built ONCE per (corpus, threshold) and SHARED
    * across its consumers through the content-addressed
    * [[graft.sources.ArtifactCache]] — the most expensive product in the
    * text-dedup family (shingles → capped pairs → the CC fixpoint), which
    * `dedup_clusters` (exploratory threshold), `dedup_clusters_best` and
    * `corpus_clean_neardup` (decision threshold) each rebuilt inside
    * their own plans. First consumer per key builds and publishes; every
    * later consumer scans the stored (doc_id, cluster_id) table —
    * identical rows by construction (the assignment is deterministic), so
    * consumers' oracles are unchanged. A changed corpus, threshold, df
    * cap, or algorithm version rebuilds. */
  def clusterAssignmentsShared(s: SparkSession, d: String,
      minJacE4: Long = 100L): DataFrame =
    dedupCcArtifact(d, minJacE4).getOrBuild(s)(
      // The build itself consumes the SHARED pair product (filtered at
      // this assignment's threshold — monotone above the base, so rows
      // are identical to the self-contained Df path), so the two cached
      // products stack: one shingle→pair pass per corpus, one CC
      // fixpoint per threshold. A sub-base threshold (never used by the
      // contract) computes self-contained.
      if (minJacE4 >= JacPairsBaseE4)
        assignmentsFromPairs(Tables.documents(s, d),
          jaccardPairsShared(s, d).filter(col("jac_e4") >= minJacE4))
      else clusterAssignmentsDf(Tables.documents(s, d), minJacE4))

  private[graft] def dedupCcArtifact(d: String, minJacE4: Long = 100L): Artifact =
    Artifact("dedupcc", s"$d/documents.parquet",
      Seq(minJacE4, ClustersVersion, jacPairsArtifact(d)))

  /** Decision-grade near-dup threshold (Jaccard ≥ 0.8). The pair QUERY's
    * default (0.01) is exploratory — low enough to surface weak overlaps for
    * audit — but as a transitive KEEP decision it chains the whole corpus
    * into one cluster. Deduplication-for-shipping uses the conventional
    * high-similarity bar so only true near-duplicates collapse. */
  val NearDupJacE4 = 8000L

  /** Same, over any (doc_id, text) DataFrame (planted-dup tests), with the
    * pair threshold exposed — the shipping pipeline passes [[NearDupJacE4]]. */
  def clusterAssignmentsDf(docs: DataFrame, minJacE4: Long = 100L): DataFrame =
    assignmentsFromPairs(docs, ngramJaccardPairsRaw(docs, minJacE4))

  /** The CC-and-label-back core over a supplied (d1, d2) pair frame —
    * shared by the self-contained Df path and the stacked-product build. */
  private def assignmentsFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = components(pairs.select("d1", "d2"))
    // comp is the converged round's localCheckpoint — schedule its blocks
    // for release once the caller's terminal action has consumed it.
    graft.functions.Caching.releaseAfterAction(
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id")),
      comp)
  }

  /** Cluster survivor by QUALITY policy instead of min-id: within each
    * decision-grade near-dup cluster ([[NearDupJacE4]]), the kept copy is
    * the LONGEST one (token count desc, doc_id asc ties) — the keep-best
    * rule real pipelines prefer when re-crawls truncate pages, where the
    * min-id rule keeps whichever copy happened to arrive first. The
    * cluster id stays the deterministic min-reachable-id fixpoint; only
    * the SURVIVOR CHOICE within the cluster changes, which is exactly the
    * knob this operator exposes (swap the window's ORDER BY for any other
    * quality ranking).
    *
    * Scale shape: the CC machinery of [[clusters]] plus one token-count
    * projection and one window partitioned by cluster_id — cluster sizes
    * are bounded by near-dup group sizes, so the window never sees a
    * corpus-scale partition. */
  def clustersBest(s: SparkSession, d: String): DataFrame =
    clustersBestFrom(Tables.documents(s, d),
      clusterAssignmentsShared(s, d, NearDupJacE4))

  /** Same, over any (doc_id, text) DataFrame (planted tests — computes
    * its own assignment instead of the shared product). */
  def clustersBestDf(docs: DataFrame): DataFrame =
    clustersBestFrom(docs, clusterAssignmentsDf(docs, NearDupJacE4))

  /** The survivor-choice core over a supplied assignment. */
  private def clustersBestFrom(docs: DataFrame, assign: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      size(graft.functions.Fns.tokens(col("text"))).cast("long").as("n_toks"))
    val w = Window.partitionBy("cluster_id").orderBy(desc("n_toks"), asc("doc_id"))
    assign.join(toks, "doc_id")
      .withColumn("is_best", (row_number().over(w) === 1).cast("long"))
      .select("doc_id", "cluster_id", "n_toks", "is_best")
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup pairs, exact: the O(n²) self-join with the
    * codegen'd dot product and norms precomputed once per vector. This is the
    * test-scale verifier for embeddingPairsLsh below — correct at any n but
    * quadratic; the LSH variant is the shape that survives 100 TB. */
  def embeddingPairs(s: SparkSession, d: String, minSimE4: Long = 3500L): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val a = v.select(col("vec_id").as("v1"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("v2"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        e4(dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim_e4"))
      .filter(col("sim_e4") >= minSimE4)
      .orderBy("v1", "v2")
  }

  // Banded sign-projection parameters for the LSH embedding dedup: 6 bands ×
  // 6 bits. Recall for a pair at cosine θ is 1-(1-p^6)^6 with p = 1-θ/π —
  // ≈0.95 at sim 0.9. At 100 TB, rows-per-band is the bucket-count /
  // fan-out knob (more bits → smaller buckets, lower recall per band → add
  // bands to compensate).
  val EmbBands = 6
  val EmbRowsPerBand = 6

  /** Decision bar for SEMANTIC cluster dedup — chosen against the synthetic
    * embedding distribution (max pairwise cosine ≈ 0.51 at sf0.01; real
    * SemDeDup deployments sit at 0.9+ on true near-dup embeddings): high
    * enough that clusters are sparse, low enough to be non-vacuous. */
  val SemanticClusterSimE4 = 4500L

  /** SemDeDup-shaped semantic dedup DECISION (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space's near-dup pair graph
    * (banded-LSH candidates, exact-cosine verified at
    * [[SemanticClusterSimE4]]) with the same connected-components fixpoint
    * the text family uses, and keep one representative per semantic
    * cluster (min vec_id — swap the survivor policy exactly as
    * [[clustersBest]] does for text). This is the dedup that catches
    * PARAPHRASES: same meaning, different tokens, invisible to every
    * shingle/fingerprint member of the family.
    *
    * Scale shape: the pair graph is the LSH path (bucketed equi-join,
    * never O(n²)); CC is the checkpointed pointer-jumping loop; the keep
    * projection is one broadcast-sized join back. SemDeDup proper clusters
    * with k-means first and dedups within cells — [[Similarity]]'s trained
    * IVF shows exactly that cell structure if the pair graph outgrows
    * banding. */
  def semanticClusters(s: SparkSession, d: String): DataFrame = {
    // Consume the SHARED pair product at the decision bar (monotone
    // filter — same pairs the self-contained path verifies).
    val pairs = embeddingPairsShared(s, d)
      .filter(col("sim_e4") >= SemanticClusterSimE4)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val comp = components(pairs)
    graft.functions.Caching.releaseAfterAction(
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster_id"))
        .withColumn("keep", (col("vec_id") === col("cluster_id")).cast("long"))
        .orderBy("vec_id"),
      comp)
  }

  /** Embedding-cosine near-dup pairs via banded sign-projection LSH — the
    * scale path: vectors are bucketed per band (equi-join, shuffle linear in
    * data size), only bucket-mates are exact-verified with the codegen'd dot
    * product. Deterministic integer-derived hyperplanes (Similarity.plane)
    * make the bucketing reproducible in the DuckDB oracle, so even this
    * approximate operator is hash-checked. Candidate recall vs the exact
    * embeddingPairs is asserted in DedupSpec. */
  def embeddingPairsLsh(s: SparkSession, d: String, minSimE4: Long = 3500L): DataFrame =
    if (minSimE4 >= EmbPairsBaseE4)
      embeddingPairsShared(s, d)
        .filter(col("sim_e4") >= minSimE4).orderBy("v1", "v2")
    else embeddingPairsLshRaw(s, d, minSimE4).orderBy("v1", "v2")

  /** Algorithm version of the embedding pair product — cache-key
    * component; bump whenever the banding/verify construction changes. */
  private val EmbPairsVersion = 1

  /** The shared product's similarity floor: the LOWEST bar any consumer
    * uses (the pair QUERY's default), so the semantic-cluster decision
    * bar ([[SemanticClusterSimE4]]) is a monotone filter of the table. */
  val EmbPairsBaseE4 = 3500L

  /** The LSH-candidate, exact-verified embedding pair table built ONCE
    * per corpus and SHARED through the content-addressed
    * [[graft.sources.ArtifactCache]] — the banded self-join plus two
    * exact-verify join-backs that `dedup_embedding_lsh` and
    * `dedup_semantic_clusters` each rebuilt inside their own plans.
    * Consumers scan (v1, v2, sim_e4) and filter at their own threshold;
    * rows are identical by construction (deterministic integer-derived
    * hyperplanes, monotone score filter above [[EmbPairsBaseE4]]). */
  def embeddingPairsShared(s: SparkSession, d: String): DataFrame =
    embPairsArtifact(d).getOrBuild(s)(embeddingPairsLshRaw(s, d, EmbPairsBaseE4))

  private[graft] def embPairsArtifact(d: String): Artifact =
    Artifact("embpairs", s"$d/embeddings.parquet",
      Seq(EmbPairsBaseE4, EmbBands, EmbRowsPerBand, EmbPairsVersion))

  /** The unordered pair computation — the build side of the product. */
  private def embeddingPairsLshRaw(s: SparkSession, d: String,
      minSimE4: Long): DataFrame = {
    // The normed corpus is read by the band-key computation and both exact-
    // verify join-backs; the banded keys (36 codegen'd 64-dim dot products
    // per vector) sit on both sides of the candidate self-join. Persist both
    // so that work runs once — previously it ran 3-4×.
    val v = hold(Tables.embeddings(s, d)
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v"))))
    val keys = hold(Similarity.bandedKeys(v.select("vec_id", "v"), EmbBands, EmbRowsPerBand))
    val cand = keys.as("a")
      .join(keys.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    val x = v.select(col("vec_id").as("v1"), col("v").as("va"), col("nrm").as("na"))
    val y = v.select(col("vec_id").as("v2"), col("v").as("vb"), col("nrm").as("nb"))
    graft.functions.Caching.releaseAfterAction(
      cand.join(x, "v1").join(y, "v2")
        .select(col("v1"), col("v2"),
          e4(dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim_e4"))
        .filter(col("sim_e4") >= minSimE4),
      v, keys)
  }

  /** SKETCH-QUALITY EVALUATION as a first-class query — precision and
    * recall of the MinHash-LSH pair sketch against the exact n-gram
    * Jaccard ground truth at the decision threshold: the number a
    * production pipeline watches when tuning bands/rows or admitting a
    * new corpus whose duplicate structure might defeat the sketch (the
    * dedup-family sibling of [[Similarity.retrievalRecall]] — the
    * evaluation tier covers both sketch families). Both operands are the
    * existing operators unchanged, so the evaluation measures exactly
    * what ships: predicted = banded-candidate pairs with signature
    * estimate ≥ thr, truth = exact pairs with Jaccard ≥ thr (same df
    * cap on both sides). One full-outer join on the pair key and a
    * single 5-column aggregate — report-sized output, two pinned e4
    * divisions (0 when a denominator is empty).
    *
    * Scale shape: both pair sets are the bounded band/df-capped joins
    * their own docstrings price; the join key (d1, d2) equi-joins them
    * and the final aggregate is 1 row. */
  def sketchPr(s: SparkSession, d: String, thrE4: Long = 5000L): DataFrame =
    if (thrE4 >= JacPairsBaseE4)
      pairsPrCore(exactTruthShared(s, d, thrE4),
        minhashPairs(Tables.documents(s, d), thrE4))
    else sketchPrDf(Tables.documents(s, d), thrE4)

  /** Band geometries the MinHash sweep prices: (bands, rowsPerBand), each
    * covering the same K = 32 signature. */
  val BandSweep: Seq[(Int, Int)] = Seq((2, 16), (4, 8), (8, 4), (16, 2))

  /** BAND-GEOMETRY DECISION TABLE — precision/recall of the MinHash
    * CANDIDATE stage at every (bands × rows) split of the K = 32
    * signature, against the decision-grade exact-Jaccard ground truth
    * ([[NearDupJacE4]]). This is THE MinHash tuning knob (the S-curve
    * P(candidate) = 1 − (1 − j^r)^b, Leskovec/Rajaraman/Ullman, "Mining
    * of Massive Datasets" ch. 3): more bands of fewer rows slide the
    * curve left (recall up, precision down), and the right geometry is a
    * measured trade on THIS corpus, not a formula guess. One row per
    * geometry — n_pred is the BUCKETING's candidate volume (the stage the
    * geometry controls; the downstream estimate filter is geometry-
    * independent), so the table reads as candidates-paid vs truth-found.
    * Cost shape: signatures compute ONCE (persisted), each geometry adds
    * one band-explode over them, and all four band joins run as a single
    * equi-join keyed (bands, band_idx, band_key). At 100 TB the wide
    * geometries' buckets grow like the corpus' duplicate clusters — the
    * sweep runs sampled offline, like every PR evaluation in this family. */
  def minhashBandsPr(s: SparkSession, d: String,
      thrE4: Long = NearDupJacE4): DataFrame = {
    require(thrE4 >= JacPairsBaseE4,
      s"shared-product ground truth starts at $JacPairsBaseE4")
    minhashBandsPrCore(exactTruthShared(s, d, thrE4),
      Tables.documents(s, d))
  }

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def minhashBandsPrDf(docs: DataFrame,
      thrE4: Long = NearDupJacE4): DataFrame =
    minhashBandsPrCore(ngramJaccardPairsRaw(docs, thrE4), docs)

  private def minhashBandsPrCore(exactPairs: DataFrame,
      docs: DataFrame): DataFrame = {
    val sigs = hold(minhashSignatures(docs))
    // One band frame per geometry, tagged and unioned — the join below
    // runs once over all four, keyed by (bands, band_idx, band_key).
    val bandsAll = BandSweep.map { case (b, r) =>
      val arr = array((0 until b).map { i =>
        struct(lit(i.toLong).as("band_idx"),
          concat_ws("_", slice(col("sig"), i * r + 1, r).cast("array<string>"))
            .as("band_key"))
      }: _*)
      sigs.select(col("doc_id"), explode(arr).as("bb"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("doc_id"), col("bb.band_idx").as("band_idx"),
          col("bb.band_key").as("band_key"))
    }.reduce(_ unionAll _)
    val cand = bandsAll.as("a").join(bandsAll.as("b"),
        col("a.bands") === col("b.bands") &&
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.bands").as("bands"),
        col("a.rows_per_band").as("rows_per_band"),
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .withColumn("pr", lit(1L))
    val cfg = docs.sparkSession.range(1)
      .select(explode(typedlit(BandSweep.map { case (b, r) =>
        (b.toLong, r.toLong) })).as("c"))
      .select(col("c._1").as("bands"), col("c._2").as("rows_per_band"))
    val exact = exactPairs.select(col("d1"), col("d2"), lit(1L).as("ex"))
      .crossJoin(broadcast(cfg))
    val agg = exact
      .join(cand, Seq("bands", "rows_per_band", "d1", "d2"), "full_outer")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("ex"), lit(0L)).as("ex"),
        coalesce(col("pr"), lit(0L)).as("pr"))
      .groupBy("bands", "rows_per_band")
      .agg(sum("ex").as("n_exact"), sum("pr").as("n_pred"),
        sum(col("ex") * col("pr")).as("n_hit"))
    graft.functions.Caching.releaseAfterAction(
      broadcast(cfg).join(agg, Seq("bands", "rows_per_band"), "left")
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(coalesce(col("n_pred"), lit(0L)) === 0L, lit(0L))
            .otherwise(round(col("n_hit") * lit(10000.0) / col("n_pred"))
              .cast("long")).as("precision_e4"),
          when(coalesce(col("n_exact"), lit(0L)) === 0L, lit(0L))
            .otherwise(round(col("n_hit") * lit(10000.0) / col("n_exact"))
              .cast("long")).as("recall_e4"))
        .orderBy("bands"),
      sigs)
  }

  /** The evaluation ground truth from the SHARED pair product: exact
    * pairs at `thrE4`, a monotone filter of the stored table — the same
    * rows [[ngramJaccardPairsRaw]] computes self-contained. */
  private def exactTruthShared(s: SparkSession, d: String, thrE4: Long): DataFrame =
    jaccardPairsShared(s, d).filter(col("jac_e4") >= thrE4)

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def sketchPrDf(docs: DataFrame, thrE4: Long = 5000L): DataFrame =
    pairsPrDf(minhashPairs(docs, thrE4), docs, thrE4)

  /** [[sketchPr]] for the OTHER sketch family: SimHash Hamming-ball pairs
    * (the shipped `maxHamming` = 3 search) scored against the
    * decision-grade exact Jaccard truth ([[NearDupJacE4]]). SimHash
    * approximates token-frequency cosine, not Jaccard, so this measures
    * the operational question: how well the cheap fingerprint STANDS IN
    * for the decision-grade near-dup judgment. */
  def simhashPr(s: SparkSession, d: String, maxHamming: Int = 3,
      thrE4: Long = NearDupJacE4): DataFrame =
    if (thrE4 >= JacPairsBaseE4)
      pairsPrCore(exactTruthShared(s, d, thrE4),
        simhashPairsDf(Tables.documents(s, d), maxHamming))
    else simhashPrDf(Tables.documents(s, d), maxHamming, thrE4)

  /** Same, over any (doc_id, text) DataFrame (planted tests). */
  def simhashPrDf(docs: DataFrame, maxHamming: Int = 3,
      thrE4: Long = NearDupJacE4): DataFrame =
    pairsPrDf(simhashPairsDf(docs, maxHamming), docs, thrE4)

  /** The shared evaluation core: precision/recall of ANY predicted
    * (d1, d2) pair set against the exact n-gram Jaccard ground truth at
    * `thrE4`. One full-outer join on the pair key, one 1-row aggregate,
    * two pinned e4 divisions (0 on empty denominators). */
  def pairsPrDf(pred: DataFrame, docs: DataFrame, thrE4: Long): DataFrame =
    pairsPrCore(ngramJaccardPairsRaw(docs, thrE4), pred)

  /** The PR aggregate over supplied exact-truth and predicted pair
    * frames — shared by the self-contained Df path and the
    * shared-product query path. */
  private def pairsPrCore(exactPairs: DataFrame, pred: DataFrame): DataFrame = {
    val exact = exactPairs.select(col("d1"), col("d2"), lit(1L).as("ex"))
    val p = pred.select(col("d1"), col("d2"), lit(1L).as("pr"))
    exact.join(p, Seq("d1", "d2"), "full_outer")
      .select(coalesce(col("ex"), lit(0L)).as("ex"),
        coalesce(col("pr"), lit(0L)).as("pr"))
      .agg(
        coalesce(sum("ex"), lit(0L)).as("n_exact"),
        coalesce(sum("pr"), lit(0L)).as("n_pred"),
        coalesce(sum(col("ex") * col("pr")), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_pred"), col("n_hit"),
        when(col("n_pred") === 0L, lit(0L))
          .otherwise(round(col("n_hit") * lit(10000.0) / col("n_pred")).cast("long"))
          .as("precision_e4"),
        when(col("n_exact") === 0L, lit(0L))
          .otherwise(round(col("n_hit") * lit(10000.0) / col("n_exact")).cast("long"))
          .as("recall_e4"))
  }
}
