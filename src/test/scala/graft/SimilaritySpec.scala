package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Recall gate for the LSH-bucketed top-k against the exact brute-force
  * baseline — the check the round-1/2 code only claimed to have. */
class SimilaritySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val brute = Similarity.bruteTopK(spark, TestSpark.sf)
    .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
  private lazy val lsh = Similarity.lshTopK(spark, TestSpark.sf)
    .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
  private lazy val ivf = Similarity.ivfTopK(spark, TestSpark.sf)
    .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()

  test("brute top-k returns exactly nQueries × k ranked rows") {
    assert(brute.length === 10 * 5)
    assert(brute.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (1L to 5L)
    })
  }

  test("every query's rank-1 result is itself (cosine 1.0) in both variants") {
    val bruteTop = brute.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    val lshTop = lsh.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for (q <- 0L until 10L) {
      assert(bruteTop(q) === q, s"brute rank-1 for query $q is not itself")
      assert(lshTop(q) === q, s"lsh rank-1 for query $q is not itself")
    }
  }

  test("ivf: rank-1 self-match, full query coverage, recall gated") {
    // The query's own cell is always its first probe (assignment and probe
    // share the same ranking), so self-match is structural, not statistical.
    val ivfTop = ivf.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for (q <- 0L until 10L)
      assert(ivfTop(q) === q, s"ivf rank-1 for query $q is not itself")
    assert(ivf.map(_._1).distinct.length === 10)
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val ivfSet = ivf.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(ivfSet.contains).toDouble / bruteSet.size
    // Deterministic quantizer → fixed recall per corpus; floor is margin
    // against corpus regeneration, not flakiness.
    assert(recall >= 0.5, s"ivfTopK recall vs brute dropped to $recall")
  }

  test("nprobe sweep: monotone recall and scan cost, consistent with ivfTopK") {
    val rows = Similarity.ivfNprobeEval(spark, TestSpark.sf)
      .select("nprobe", "hits", "recall_e4", "cand_rows", "scan_e4")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    // Probing more cells can only ADD candidates: hits and scan cost are
    // both non-decreasing in nprobe (recall curve shape is structural).
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._4 <= b._4 && a._5 <= b._5 },
      s"non-monotone sweep: ${rows.mkString(", ")}")
    // The nprobe=4 row IS ivfTopK's configuration: its hits must equal
    // the recall the ivf gate measures on the same (qid, cid) sets.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val ivfSet = ivf.map(t => (t._1, t._2)).toSet
    val hitsAt4 = rows.find(_._1 == 4L).get._2
    assert(hitsAt4 === bruteSet.count(ivfSet.contains).toLong,
      "sweep row nprobe=4 disagrees with ivfTopK's measured hits")
    // Scan fraction stays a fraction, and probing 1 cell of 16 scans
    // strictly less than probing 8.
    assert(rows.forall(r => r._5 >= 0 && r._5 <= 10000))
    assert(rows.head._4 < rows.last._4)
  }

  test("graph beam search: deterministic walk, results reachable, recall reported") {
    val out = Similarity.graphTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    // Full query coverage with ranked rows (the entry vector guarantees
    // every beam is non-empty from round 0).
    assert(out.map(_._1).distinct.length === 10)
    assert(out.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (1L to rows.length.toLong) })
    // Every result lies within GraphRounds hops of the entry point along
    // the NAVIGABLE graph's kept edges (round 14: the walk consumes the
    // navgraph product, not the raw kNN edges) — the walk cannot teleport.
    val edges = Similarity.navGraphShared(spark, TestSpark.sf)
      .select("src", "dst").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var reach = Set(Similarity.GraphEntry)
    for (_ <- 1 to Similarity.GraphRounds)
      reach = reach ++ reach.flatMap(n => edges.getOrElse(n, Set.empty))
    assert(out.forall(r => reach.contains(r._2)),
      "a beam result is not reachable within the round budget")
    // Determinism: a rerun is bit-identical (fixed entry, rounds, ties).
    val again = Similarity.graphTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(again.toSeq === out.toSeq)
    // Recall vs brute: the navigable build's up/down/highway links are
    // exactly what buys this floor (0.70 on the raw kNN graph at sf0.01,
    // 0.88 navigable — the round-13 verdict's acceptance bar was 0.85).
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val gSet = out.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(gSet.contains).toDouble / bruteSet.size
    info(s"graph beam recall@5 vs brute = $recall")
    assert(recall >= 0.7, s"graph beam recall collapsed to $recall")
    // The recall-monitor query reports the same overlap, per query.
    val monitored = Similarity.graphRecall(spark, TestSpark.sf)
      .select("qid", "hits").as[(Long, Long)].collect().toMap
    val byQ = brute.map(t => (t._1, t._2)).groupBy(_._1).view
      .mapValues(_.count(p => gSet.contains(p)).toLong).toMap
    assert(monitored === byQ,
      "eval_graph_recall disagrees with the spec-level overlap")
  }

  test("layered graph search: coarse entry buys recall at equal rounds") {
    val layered = Similarity.graphLayeredTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(layered.map(_._1).distinct.length === 10)
    // determinism
    val again = Similarity.graphLayeredTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(again.toSeq === layered.toSeq)
    // The hierarchy pitch, closed in round 14 and re-measured for the
    // round-15 BANDED build: the layered walk at LayeredRounds = 4 <
    // GraphRounds = 6 reaches the fixed-entry walk's recall to within
    // ONE brute hit (10 queries × k = 5 → one hit = 0.02) — the entry
    // quality converts into a 1/3-shorter walk at effectively equal
    // recall. Sharp ≥ held on the r14 EXACT build; on the banded build
    // the two deterministic walks differ by walk-path luck of a couple
    // hits in either direction (measured across all three corpora), so
    // the pin is the claim with one hit of tolerance plus an absolute
    // floor, not sharp dominance.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val fixedSet = Similarity.graphTopK(spark, TestSpark.sf)
      .select("qid", "cid").as[(Long, Long)].collect()
      .map(t => (t._1, t._2)).toSet
    val layeredSet = layered.map(t => (t._1, t._2)).toSet
    val rFixed = bruteSet.count(fixedSet.contains).toDouble / bruteSet.size
    val rLayered = bruteSet.count(layeredSet.contains).toDouble / bruteSet.size
    info(s"recall@5: fixed-entry($rFixed, ${Similarity.GraphRounds} rounds) " +
      s"vs layered($rLayered, ${Similarity.LayeredRounds} rounds)")
    assert(rLayered >= rFixed - 0.02 - 1e-9,
      s"layered entry lost recall: $rLayered < $rFixed - one hit, " +
        "at fewer rounds")
    assert(rLayered >= 0.85, s"layered recall collapsed to $rLayered")
  }

  test("hierarchical search: L2 descent matches at the contract corpus, degenerate L2 planted") {
    val hier = Similarity.graphHierTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    // Determinism and full ranked coverage.
    val again = Similarity.graphHierTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(again.toSeq === hier.toSeq)
    assert(hier.map(_._1).distinct.length === 10)
    assert(hier.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._3).sorted.toSeq == (1L to rs.length.toLong) })
    // Planted degenerate: at this corpus L2 is exactly {0} (the fixed
    // entry is on every layer), so the descent starts where graphTopK
    // does and the third layer costs ONE dot per query.
    val l2 = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") % Similarity.L2Mod === 0)
      .select("vec_id").as[Long].collect()
    assert(l2.toSeq === Seq(0L), "contract corpus L2 is not {0}")
    // Recall gate vs brute (measured 0.92/0.90/0.92 across the three
    // SFs with the 3-round descent; the honest 64 K negative — 0.40,
    // no cross-cluster gradient for greedy descent — is recorded in
    // the docstring and bench/scaling_r16.json, not gated here).
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val hierSet = hier.map(t => (t._1, t._2)).toSet
    val r = bruteSet.count(hierSet.contains).toDouble / bruteSet.size
    info(s"hier recall@5 = $r")
    assert(r >= 0.85, s"hier recall collapsed to $r")
  }

  test("navigable graph: out-degree bounds hold per class, edges are a clean set") {
    val edges = Similarity.navGraphShared(spark, TestSpark.sf)
      .select("src", "dst").as[(Long, Long)].collect()
    // A set: no self-loops, no duplicate (src, dst).
    assert(edges.forall { case (s, d) => s != d }, "self-loop in the nav graph")
    assert(edges.length === edges.distinct.length, "duplicate nav edge")
    // The constant out-degree bounds the build promises — the property
    // that keeps a beam expansion step corpus-size-independent: regular
    // nodes ≤ KnnK + NavMirrorCap + 1 (up-link), coarse nodes add the
    // down-links and the highway.
    val regularCap = Similarity.KnnK + Similarity.NavMirrorCap + 1
    val coarseCap = regularCap + Similarity.NavDownCap + Similarity.NavHighwayK
    val outDeg = edges.groupBy(_._1).view.mapValues(_.length).toMap
    for ((node, deg) <- outDeg) {
      val cap = if (node % Similarity.CoarseMod == 0) coarseCap else regularCap
      assert(deg <= cap, s"node $node out-degree $deg exceeds class cap $cap")
    }
    // The raw kNN edges are a subset (the nav build only ADDS links).
    val knn = Similarity.knnGraph(spark, TestSpark.sf)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(knn.subsetOf(edges.toSet), "a kNN edge is missing from the nav graph")
  }

  test("banded-entry layered search: corpus-size-independent entry, recall holds") {
    val banded = Similarity.graphLayeredBandedTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    // Determinism and full ranked coverage.
    val again = Similarity.graphLayeredBandedTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(again.toSeq === banded.toSeq)
    assert(banded.map(_._1).distinct.length === 10)
    assert(banded.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._3).sorted.toSeq == (1L to rs.length.toLong) })
    // Recall vs brute: the banded entry trades the per-query n/32 exact
    // coarse scan for bucket-bounded candidates; measured 0.90 / 0.96 /
    // 0.80 at sf0.001/0.01/0.1 — gate with margin below the measured
    // floor at the test corpus.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val bandedSet = banded.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(bandedSet.contains).toDouble / bruteSet.size
    info(s"banded-entry layered recall@5 = $recall")
    assert(recall >= 0.8, s"banded-entry layered recall collapsed to $recall")
  }

  test("entry-strategy table: three rows at their production budgets, floors hold") {
    val rows = Similarity.evalGraphEntry(spark, TestSpark.sf)
      .select("strategy", "rounds", "hits", "n_brute", "recall_e4")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq ===
      Seq("fixed", "layered_banded", "layered_exact"))
    assert(rows.map(_._2).toSeq === Seq(Similarity.GraphRounds.toLong,
      Similarity.LayeredRounds.toLong, Similarity.LayeredRounds.toLong))
    // Each strategy's row must agree with running that strategy's OWN
    // query — the table is the same walks read at prefixes, not a
    // separate implementation drifting out of sync.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Long = {
      val s0 = df.select("qid", "cid").as[(Long, Long)].collect().toSet
      math.round(bruteSet.count(s0.contains).toDouble / bruteSet.size * 10000)
    }
    assert(rows.find(_._1 == "fixed").get._5 ===
      recallOf(Similarity.graphTopK(spark, TestSpark.sf)))
    assert(rows.find(_._1 == "layered_exact").get._5 ===
      recallOf(Similarity.graphLayeredTopK(spark, TestSpark.sf)))
    assert(rows.find(_._1 == "layered_banded").get._5 ===
      recallOf(Similarity.graphLayeredBandedTopK(spark, TestSpark.sf)))
    assert(rows.forall(_._5 >= 7000L),
      s"an entry strategy collapsed: ${rows.mkString(", ")}")
  }

  test("nav insert: arrivals attach searchable AND reachable, every delta class capped") {
    val delta = Similarity.navInsert(spark, TestSpark.sf)
      .select("src", "dst", "edge_class")
      .as[(Long, Long, String)].collect()
    val maxId = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0)
    val cut = maxId - Similarity.NavInsertBatch + 1
    val arrivals = (cut to maxId).toSet
    // Determinism.
    val again = Similarity.navInsert(spark, TestSpark.sf)
      .select("src", "dst", "edge_class")
      .as[(Long, Long, String)].collect()
    assert(again.toSeq === delta.toSeq)
    // Every arrival searches (>= 1 knn out-edge) and routes (exactly 1
    // up-link), and every delta class honors its cap.
    val byClass = delta.groupBy(_._3)
    val knnDeg = byClass("knn").groupBy(_._1).view.mapValues(_.length)
    assert(arrivals.forall(a => knnDeg.getOrElse(a, 0) >= 1),
      "an arrival has no knn out-edge")
    assert(knnDeg.forall(_._2 <= Similarity.KnnK))
    val upDeg = byClass("up").groupBy(_._1).view.mapValues(_.length).toMap
    assert(arrivals.filter(_ != Similarity.GraphEntry)
        .forall(a => upDeg.getOrElse(a, 0) == 1),
      "an arrival is missing its single up-link")
    assert(byClass("mirror").groupBy(_._1).forall(_._2.length <=
      Similarity.NavMirrorCap))
    assert(byClass("down").groupBy(_._1).forall(_._2.length <=
      Similarity.NavDownCap))
    assert(byClass.get("hw").forall(_.groupBy(_._1).forall(_._2.length <=
      Similarity.NavHighwayK)))
    // REACHABILITY — the bidirectional-connect claim: from the fixed
    // entry, over the base graph (the stored edges among pre-cut nodes)
    // plus the delta, every arrival is reachable. BFS driver-side: the
    // test corpus is 500 nodes.
    val base = Similarity.navGraphShared(spark, TestSpark.sf)
      .select("src", "dst").as[(Long, Long)].collect()
      .filter { case (s, d) => s < cut && d < cut }
    val adj = (base ++ delta.map(t => (t._1, t._2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var reach = Set(Similarity.GraphEntry)
    var frontier = reach
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
        .diff(reach)
      reach ++= next
      frontier = next
    }
    val unreached = arrivals.diff(reach)
    assert(unreached.isEmpty,
      s"arrivals unreachable after insert: ${unreached.toSeq.sorted.take(5)}")
  }

  test("nav insert eval: the delta recovers the recall the missing arrivals cost") {
    val rows = Similarity.evalNavInsert(spark, TestSpark.sf)
      .select("graph_state", "recall_e4", "n_edges")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("base", "post_insert"))
    val Array(base, post) = rows
    // The insert can only ADD edges and candidates — recall must not
    // drop, and on this corpus strictly improves (arrivals appear in
    // the brute top-k and are invisible to the base graph).
    assert(post._3 > base._3, "the delta added no edges")
    assert(post._2 >= base._2,
      s"post-insert recall ${post._2} fell below base ${base._2}")
    info(s"recall_e4 base=${base._2} post_insert=${post._2}")
  }

  test("keyed insert walks: each graph state's hits equal a walk over its edges alone") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, max}
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val stored = Similarity.navGraphShared(spark, TestSpark.sf).select("src", "dst")
    def below(cut: Long): DataFrame =
      stored.filter(col("src") < cut && col("dst") < cut)
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    // One unkeyed walk over a driver-local copy of the edge set.
    def hitsAlone(edges: DataFrame): Long = {
      val local = edges.distinct().as[(Long, Long)].collect().toSeq.toDF("src", "dst")
      val walk = Similarity.graphWalk(spark, TestSpark.sf, 10,
          lit(Similarity.GraphBeam), Similarity.GraphRounds,
          step = Some(_.join(local, "src"))) { (q, _) =>
        q.select(col("qid")).withColumn("cid", lit(Similarity.GraphEntry))
      }
      graft.functions.Caching.releaseAfterAction(
          walk.topK(walk.states.last, 5).select("qid", "cid"),
          (walk.caches ++ walk.states): _*)
        .as[(Long, Long)].collect().count(bruteSet.contains).toLong
    }
    val one = Similarity.evalNavInsert(spark, TestSpark.sf)
      .select("graph_state", "hits").as[(String, Long)].collect().toMap
    val cut = maxId - Similarity.NavInsertBatch + 1
    assert(one("base") === hitsAlone(below(cut)))
    assert(one("post_insert") === hitsAlone(below(cut)
      .unionAll(Similarity.navInsert(spark, TestSpark.sf).select("src", "dst"))))
    // Sequential batches: state b adds the delta of each prefix batch.
    val size = Similarity.NavInsertBatch
    val batches = Similarity.NavSeqBatches
    val seq = Similarity.evalNavInsertSeq(spark, TestSpark.sf)
      .select("batch", "hits").as[(Long, Long)].collect().toMap
    val cut0 = maxId - batches * size + 1
    val deltas = (1 to batches).map { b =>
      Similarity.navInsertDf(emb.filter(col("vec_id") < cut0 + b * size), size)
        .select("src", "dst")
    }
    assert(seq(0L) === hitsAlone(below(cut0)))
    assert(seq(batches.toLong) ===
      hitsAlone((below(cut0) +: deltas).reduce(_ unionAll _)))
  }

  test("nav insert: a planted near-duplicate arrival attaches to its twin both ways") {
    import org.apache.spark.sql.functions.{col, when}
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("vec_id", "embedding")
    val maxId = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
      .head().getLong(0)
    val twinOf = 7L
    // Overwrite the newest arrival's embedding with vector 7's — an
    // exact duplicate arriving at ingest.
    val twinVec = emb.filter(col("vec_id") === twinOf)
      .head().getSeq[Float](1)
    val planted = emb.withColumn("embedding",
      when(col("vec_id") === maxId,
        org.apache.spark.sql.functions.typedlit(twinVec))
        .otherwise(col("embedding")))
    val delta = Similarity.navInsertDf(planted)
      .select("src", "dst", "edge_class")
      .as[(Long, Long, String)].collect()
    // The twin is the arrival's rank-1 knn edge (cosine 1.0, minimal
    // dst tie) and the mirror step points back — both directions, the
    // insert's whole point.
    assert(delta.contains((maxId, twinOf, "knn")),
      "arrival did not link to its planted twin")
    assert(delta.contains((twinOf, maxId, "mirror")),
      "planted twin did not mirror back to the arrival")
  }

  test("connectivity audit: reachable set grows monotonically and covers the corpus") {
    val rows = Similarity.graphConnectivityEval(spark, TestSpark.sf)
      .select("hops", "n_reachable", "frac_e4")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to Similarity.GraphRounds.toLong))
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 <= b._2 },
      s"reachable set shrank: ${rows.mkString(", ")}")
    // The navigability the build buys: full coverage within the walk's
    // round budget (this is exactly why beam recall jumped in round 14 —
    // at sf0.01 the raw kNN graph reached far less).
    assert(rows.last._3 === 10000L,
      s"entry cannot reach the whole corpus in ${Similarity.GraphRounds} hops: ${rows.last}")
    // Fractions are consistent with the counts against the corpus size.
    val n = graft.sources.Tables.embeddings(spark, TestSpark.sf).count()
    for ((_, cnt, frac) <- rows)
      assert(frac === math.round(cnt * 10000.0 / n))
  }

  test("graph beam sweep: prefix rows monotone, max budget equals the search") {
    val rows = Similarity.graphBeamEval(spark, TestSpark.sf)
      .select("rounds", "hits", "recall_e4", "scored_rows")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Similarity.BeamSweep.map(_.toLong))
    // Longer budgets are prefixes of one walk: the scored set only grows.
    assert(rows.sliding(2).forall { case Array(a, b) => a._4 <= b._4 },
      s"scored candidates shrank between budgets: ${rows.mkString(", ")}")
    // The max-budget row IS graphTopK's configuration.
    val g = Similarity.graphTopK(spark, TestSpark.sf)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    assert(rows.last._2 === bruteSet.count(g.contains).toLong,
      "max-budget row disagrees with sim_graph_topk's measured hits")
    assert(rows.forall(r => r._3 >= 0 && r._3 <= 10000))
  }

  test("lsh planes sweep: geometry trade is monotone, production point consistent") {
    val rows = Similarity.lshPlanesEval(spark, TestSpark.sf)
      .select("bands", "bits_per_band", "hits", "recall_e4", "cand_rows", "scan_e4")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(r => (r._1, r._2)).toSeq ===
      Similarity.LshPlaneSweep.map { case (b, r) => (b.toLong, r.toLong) })
    // More bands of fewer bits: agreement on an 8-bit band implies
    // agreement on both its 4-bit halves, so candidates (and hence the
    // per-geometry hit ceiling) are monotone in band count.
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._5 <= b._5 && a._3 <= b._3 },
      s"non-monotone geometry sweep: ${rows.mkString(", ")}")
    // The (8, 4) row IS lshTopK's configuration: same hits as the gate's.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val lshSet = lsh.map(t => (t._1, t._2)).toSet
    assert(rows.find(r => r._1 == 8L).get._3 ===
      bruteSet.count(lshSet.contains).toLong,
      "sweep row (8,4) disagrees with lshTopK's measured hits")
    assert(rows.forall(r => r._6 >= 0 && r._6 <= 10000))
  }

  test("bandedKeysSweep: packed shift/mask keys equal bandedKeys per geometry") {
    // The sweep helper derives every geometry's band keys from ONE packed
    // sign word; each geometry's rows must be byte-identical to the
    // per-geometry bandedKeys frame it replaced (the lsh_planes oracle
    // rests on this parity).
    val emb = spark.read.parquet(TestSpark.sf + "/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val swept = Similarity.bandedKeysSweep(emb, Similarity.LshPlaneSweep)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val perGeo = Similarity.LshPlaneSweep.flatMap { case (b, r) =>
      Similarity.bandedKeys(emb, b, r)
        .select(org.apache.spark.sql.functions.lit(b.toLong),
          org.apache.spark.sql.functions.lit(r.toLong),
          org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("band_idx"),
          org.apache.spark.sql.functions.col("band_key"))
        .as[(Long, Long, Long, Long, Long)].collect()
    }.toSet
    assert(swept === perGeo, "packed sweep keys diverge from bandedKeys")
  }

  test("embedding health: every field matches an independent exact recompute") {
    val row = Similarity.embeddingHealth(spark, TestSpark.sf).collect().head
    // Independent recompute in plain Scala, mirroring the pinned op order:
    // e6 integer component sums, integer sum vector as the mean direction,
    // e4 norms/cosines, one division per reported mean.
    val vecs = spark.read.parquet(TestSpark.sf + "/embeddings.parquet")
      .selectExpr("cast(embedding as array<double>) as v")
      .as[Seq[Double]].collect().map(_.toArray)
    def r(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val dim = vecs.head.length
    val sx = Array.tabulate(dim)(d => vecs.map(v => r(v(d) * 1e6)).sum)
    val dead = (0 until dim).count { d =>
      val c6 = vecs.map(v => r(v(d) * 1e6)); c6.min == c6.max
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val m = sx.map(_.toDouble)
    val mn = math.sqrt(dot(m, m))
    val nrmE4 = vecs.map(v => r(math.sqrt(dot(v, v)) * 10000))
    val cosE4 = vecs.map(v => r(dot(v, m) / (math.sqrt(dot(v, v)) * mn) * 10000))
    assert(row.getAs[Long]("n_vectors") === vecs.length.toLong)
    assert(row.getAs[Long]("dim") === dim.toLong)
    assert(row.getAs[Long]("norm_min_e4") === nrmE4.min)
    assert(row.getAs[Long]("norm_max_e4") === nrmE4.max)
    assert(row.getAs[Long]("norm_mean_e4") === r(nrmE4.sum * 1.0 / vecs.length))
    assert(row.getAs[Long]("aniso_e4") === r(cosE4.sum * 1.0 / vecs.length))
    assert(row.getAs[Long]("center_ratio_e4") === r(mn * 100.0 / nrmE4.sum))
    assert(row.getAs[Long]("dead_dims") === dead.toLong)
    // Sanity on the semantics: a random-ish corpus is not collapsed.
    assert(row.getAs[Long]("dead_dims") === 0L)
    assert(row.getAs[Long]("center_ratio_e4") <= 10000L)
  }

  test("ivfpq: full coverage, self-match, recall within the probed-cell ceiling") {
    val out = Similarity.ivfPqTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(out.map(_._1).distinct.length === 10)
    // exact re-rank restores the self-match whenever the query survives
    // its own ADC shortlist — structural for the stub codebook
    val top = out.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for (q <- 0L until 10L)
      assert(top(q) === q, s"ivfpq rank-1 for query $q is not itself")
    // candidates are IVF's; ADC+rerank can only lose recall vs exact
    // scoring of the same candidates — gate against the IVF ceiling
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val ivfSet = ivf.map(t => (t._1, t._2)).toSet
    val outSet = out.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(outSet.contains).toDouble / bruteSet.size
    val ceiling = bruteSet.count(ivfSet.contains).toDouble / bruteSet.size
    assert(recall >= 0.4, s"ivfpq recall vs brute dropped to $recall")
    assert(recall <= ceiling + 1e-9,
      s"ivfpq recall $recall exceeds its IVF candidate ceiling $ceiling")
  }

  test("ivf trained: rank-1 self-match, full coverage, recall gated vs brute") {
    val trained = Similarity.ivfTrainedTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    // Self-match stays structural after training: a query's assigned cell is
    // its first probe under the shared ranking.
    val top = trained.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for (q <- 0L until 10L)
      assert(top(q) === q, s"trained ivf rank-1 for query $q is not itself")
    assert(trained.map(_._1).distinct.length === 10)
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val trainedSet = trained.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(trainedSet.contains).toDouble / bruteSet.size
    // Deterministic training → fixed recall per corpus; floor is margin
    // against corpus regeneration. The stub-quantizer gate is 0.5; training
    // must not do worse than that same floor.
    assert(recall >= 0.5, s"ivfTrainedTopK recall vs brute dropped to $recall")
  }

  test("pq: full coverage, deterministic codes, recall gated vs brute") {
    val pq = Similarity.pqTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(pq.length === 10 * 5)
    assert(pq.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (1L to 5L) })
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val pqSet = pq.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(pqSet.contains).toDouble / bruteSet.size
    // Deterministic codebook → fixed recall per corpus; floor is margin
    info(s"pq recall@5 vs brute = $recall")
    assert(recall >= 0.3, s"pqTopK recall vs brute dropped to $recall")
  }

  test("opq allocation: snake balances front-loaded variance; natural cannot") {
    // Variance concentrated in dims 0-3: the natural contiguous layout
    // piles all of it into subspace 0 (imbalance → ~10000 e4), while the
    // snake deal spreads the four hot dims one per subspace. The planted
    // check that the permutation actually balances what it claims to.
    val vecs = (0L until 8L).map { i =>
      (i, (0 until 16).map(d =>
        if (d < 4) (i + 1.0) * (d + 1) else 1.0).toArray)
    }
    val df = vecs.toDF("vec_id", "v")
    val got = Similarity.opqAllocationEvalDf(df, m = 4, kCents = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._1) === Seq("natural", "opq_snake"))
    val (nat, snake) = (got(0), got(1))
    assert(snake._2 < nat._2,
      s"snake imbalance ${snake._2} not below natural ${nat._2}")
    assert(nat._3 >= 0L && snake._3 >= 0L)
    // deterministic: a second evaluation reproduces both rows exactly
    spark.catalog.clearCache()
    val again = Similarity.opqAllocationEvalDf(df, m = 4, kCents = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(again === got)
    // dim % m != 0 would encode DIFFERENT dimension subsets under the two
    // layouts (natural's contiguous slices drop the tail dims) — the
    // comparison must refuse, not mislead
    val ragged = (0L until 4L).map(i => (i, (0 until 10).map(_.toDouble).toArray))
      .toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.opqAllocationEvalDf(ragged, m = 4, kCents = 2)
    }
    assert(e.getMessage.contains("dim % m"))
  }

  test("pq trained+rerank: full coverage, beats the plain-ADC stub's recall") {
    val pq = Similarity.pqTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    val trained = Similarity.pqTrainedTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(trained.length === 10 * 5)
    assert(trained.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (1L to 5L) })
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val stubRecall = bruteSet.count(pq.map(t => (t._1, t._2)).toSet.contains).toDouble / bruteSet.size
    val trainedRecall = bruteSet.count(trained.map(t => (t._1, t._2)).toSet.contains).toDouble / bruteSet.size
    info(s"pq recall@5: stub plain-ADC = $stubRecall, trained+rerank = $trainedRecall")
    // The two-stage trained retriever (ADC shortlist → exact re-rank) must
    // beat plain ADC — measured 0.66 vs 0.42 on this corpus; floor + margin.
    assert(trainedRecall >= stubRecall,
      s"trained+rerank PQ recall $trainedRecall fell below stub's $stubRecall")
    assert(trainedRecall >= 0.5, s"trained+rerank PQ recall dropped to $trainedRecall")
    // The anisotropic (η=2) codebook must stand on its own: raw trained
    // ADC — no re-rank — may not fall below the stub codebook's plain ADC
    // (MSE training measured 0.34 < 0.42 here; the score-aware loss is
    // what closes that gap, not the re-rank stage).
    val adcTrained = Similarity.pqTrainedAdcTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    val adcRecall = bruteSet.count(adcTrained.map(t => (t._1, t._2)).toSet.contains).toDouble / bruteSet.size
    info(s"pq recall@5: raw trained ADC = $adcRecall")
    assert(adcRecall >= stubRecall,
      s"raw trained-ADC recall $adcRecall fell below stub's $stubRecall — " +
        "anisotropic training regressed")
  }

  test("ivfpq trained: full coverage, self-match, recall >= stub composition") {
    val stub = Similarity.ivfPqTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    val trained = Similarity.ivfPqTrainedTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(trained.map(_._1).distinct.length === 10)
    val top = trained.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for (q <- 0L until 10L)
      assert(top(q) === q, s"trained ivfpq rank-1 for query $q is not itself")
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val stubRecall =
      bruteSet.count(stub.map(t => (t._1, t._2)).toSet.contains).toDouble / bruteSet.size
    val trainedRecall =
      bruteSet.count(trained.map(t => (t._1, t._2)).toSet.contains).toDouble / bruteSet.size
    info(s"ivfpq recall@5: stub composition = $stubRecall, trained = $trainedRecall")
    // Training both stages (coarse cells + residual codebook) must not
    // lose recall vs the stub composition — measured 0.88 = 0.88 here and
    // 0.92 vs 0.74 at sf0.01, where the denser corpus rewards training.
    assert(trainedRecall >= stubRecall,
      s"trained ivfpq recall $trainedRecall fell below stub composition's $stubRecall")
    assert(trainedRecall >= 0.5, s"trained ivfpq recall dropped to $trainedRecall")
  }

  test("ivfpq served-from-index: identical to in-query retraining, reusable") {
    // The production split: ivfPqWriteIndex persists the trained index
    // once (crash-safe publish), ivfPqServedTopK answers from the stored
    // assignment + codes without touching either k-means loop. The stored
    // encode is the same deterministic arithmetic, so results must be
    // BIT-identical to the self-contained trained query — and a second
    // serve from the same index must agree (no hidden retrain state).
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec")
      .resolve("idx").toString
    graft.operators.Similarity.ivfPqWriteIndex(spark, TestSpark.sf, dir)
    assert(new java.io.File(dir, "index").exists(), "index not published")
    assert(!new java.io.File(dir + ".tmp").exists(), "tmp dir left behind")
    val served = Similarity.ivfPqServedTopK(spark, TestSpark.sf,
        indexDir = Some(dir))
      .as[(Long, Long, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    val trained = Similarity.ivfPqTrainedTopK(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(served === trained, "served retrieval diverged from retraining")
    val again = Similarity.ivfPqServedTopK(spark, TestSpark.sf,
        indexDir = Some(dir))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(again === trained, "second serve from the same index diverged")
    // The index QUERY's served form: the stored `index/` table scanned
    // back must be row-identical to the self-contained retraining frame —
    // the guarantee that lets sim_ivfpq_index ship the persisted artifact.
    val servedCodes = Similarity.ivfPqServedCodes(spark, TestSpark.sf,
        indexDir = Some(dir)).collect().map(_.toSeq).toSeq
    val retrainedCodes = Similarity.ivfPqTrainedCodes(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(servedCodes === retrainedCodes,
      "served index content diverged from in-query retraining")
  }

  test("ensureIvfPqIndex refuses a stale or mismatched explicit index (manifest)") {
    // The content-addressed default cannot go stale; the explicit-dir
    // production mode could — so a dir built at one (corpus, knobs) must
    // FAIL LOUDLY when served at another, never silently return neighbors
    // from the wrong index.
    val dir = java.nio.file.Files.createTempDirectory("graft-man-spec")
      .resolve("idx").toString
    Similarity.ivfPqWriteIndex(spark, TestSpark.sf, dir) // default knobs
    // different training knob → refuse
    val e = intercept[java.io.IOException] {
      Similarity.ivfPqServedTopK(spark, TestSpark.sf,
        pqIters = Similarity.PqKmeansIters + 1, indexDir = Some(dir)).count()
    }
    assert(e.getMessage.contains("does not match"))
    // different corpus → refuse
    intercept[java.io.IOException] {
      Similarity.ivfPqServedTopK(spark, "/root/testdata/sf0.01",
        indexDir = Some(dir)).count()
    }
    // the matching request still serves
    assert(Similarity.ivfPqServedTopK(spark, TestSpark.sf,
      indexDir = Some(dir)).count() === 50L)
  }

  test("ivfPqSwapIndex: in-flight readers finish on the old version, new resolve the new") {
    val base = java.nio.file.Files.createTempDirectory("graft-swap-spec")
      .resolve("idx").toString
    val v1 = Similarity.ivfPqSwapIndex(spark, TestSpark.sf, base)
    assert(Similarity.ivfPqResolveDir(base) === v1, "CURRENT not flipped to v1")
    // a reader resolves v1 and is mid-flight when the rebuild lands
    val inFlight = spark.read.parquet(v1 + "/index")
    val v2 = Similarity.ivfPqSwapIndex(spark, TestSpark.sf, base)
    assert(v2 !== v1, "swap must build a FRESH version, not rebuild in place")
    assert(Similarity.ivfPqResolveDir(base) === v2, "CURRENT not flipped to v2")
    // v1 is retained for the in-flight reader, which completes on it
    assert(new java.io.File(v1, "index").exists(), "previous version retired too early")
    assert(inFlight.count() > 0L, "in-flight reader lost its version")
    // new queries through the base dir resolve v2 and serve correctly
    val served = Similarity.ivfPqServedTopK(spark, TestSpark.sf,
        indexDir = Some(base))
      .as[(Long, Long, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    val trained = Similarity.ivfPqTrainedTopK(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(served === trained, "post-swap serving diverged from retraining")
    // a racing swap's just-published version (fresh mtime, not pointed
    // at) must survive the retire loop — its caller still holds the path
    val racer = new java.io.File(base, "v-racer-just-published")
    assert(racer.mkdirs())
    // a third swap retires v1 (older than the new previous, v2) — but
    // only once v1 is past the retire grace; age it out explicitly
    assert(new java.io.File(v1).setLastModified(
      System.currentTimeMillis() - 2L * 3600000L))
    val v3 = Similarity.ivfPqSwapIndex(spark, TestSpark.sf, base)
    assert(!new java.io.File(v1).exists(), "v1 outlived one rebuild cycle")
    assert(new java.io.File(v2, "index").exists(), "v2 must be the retained previous")
    assert(racer.exists(), "a within-grace sibling version was retired " +
      "(the overlapping-swap deletion race)")
    assert(Similarity.ivfPqResolveDir(base) === v3)
  }

  test("ivfPqSwapIfStale: no-op while fresh, rebuild + flip on corpus change") {
    // The refresh-cron shape: a scheduler may call this every hour; the
    // manifest is the staleness detector, so training is paid only when
    // the corpus file actually changed.
    val scratch = java.nio.file.Files.createTempDirectory("graft-stale-spec")
    val corpus = scratch.resolve("corpus")
    java.nio.file.Files.createDirectories(corpus)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf, "embeddings.parquet"),
      corpus.resolve("embeddings.parquet"))
    val base = scratch.resolve("idx").toString
    val v1 = Similarity.ivfPqSwapIfStale(spark, corpus.toString, base)
    assert(v1.isDefined, "first call must build (no live version yet)")
    assert(Similarity.ivfPqSwapIfStale(spark, corpus.toString, base).isEmpty,
      "second call must be a no-op while the corpus is unchanged")
    assert(Similarity.ivfPqResolveDir(base) === v1.get)
    // the corpus file changes (new drop) → stale → rebuild + flip
    val f = corpus.resolve("embeddings.parquet")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 1000L)): Unit
    val v2 = Similarity.ivfPqSwapIfStale(spark, corpus.toString, base)
    assert(v2.isDefined, "corpus change must trigger a rebuild")
    assert(v2.get !== v1.get)
    assert(Similarity.ivfPqResolveDir(base) === v2.get)
  }

  test("ivfPqSwapIfStale: a valid in-place index is fresh; conversion cleans the old layout") {
    // Pre-swap deployments built straight at baseDir (ivfPqWriteIndex, no
    // CURRENT pointer). The cron must treat a key-matching in-place index
    // as FRESH — not pay a retrain for a layout difference — and, when a
    // real corpus change does trigger the first swap, the in-place
    // artifacts must convert away (the retire loop only sees v-* dirs;
    // without cleanup they orphan forever).
    val scratch = java.nio.file.Files.createTempDirectory("graft-inplace-spec")
    val corpus = scratch.resolve("corpus")
    java.nio.file.Files.createDirectories(corpus)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf, "embeddings.parquet"),
      corpus.resolve("embeddings.parquet"))
    val base = scratch.resolve("idx").toString
    Similarity.ivfPqWriteIndex(spark, corpus.toString, base)
    assert(Similarity.ivfPqSwapIfStale(spark, corpus.toString, base).isEmpty,
      "a key-matching in-place index retrained on the first cron call")
    // corpus drop → stale → rebuild converts the dir to swap management
    val f = corpus.resolve("embeddings.parquet")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 1000L)): Unit
    val v = Similarity.ivfPqSwapIfStale(spark, corpus.toString, base)
    assert(v.isDefined, "corpus change must trigger the converting rebuild")
    assert(Similarity.ivfPqResolveDir(base) === v.get)
    assert(new java.io.File(v.get, "index").exists())
    for (orphan <- Seq("index", "centroids", "codebook", "_GRAFT_MANIFEST"))
      assert(!new java.io.File(base, orphan).exists(),
        s"in-place '$orphan' orphaned under swap management")
    // …and the converted deployment stays a no-op while fresh
    assert(Similarity.ivfPqSwapIfStale(spark, corpus.toString, base).isEmpty)
  }

  test("ivfPqSwapIfStale: a conversion crashed after the CURRENT flip still cleans up") {
    // The crash window: ivfPqSwapIndex flipped CURRENT, then the process
    // died before the in-place cleanup. The fresh v-* version resolves
    // and matches, so every later cron call returns None — without an
    // idempotent cleanup the in-place index/centroids/codebook would
    // orphan FOREVER. Reproduce the window by swapping directly (which
    // never touches in-place artifacts), then assert the next IfStale
    // call finishes the cleanup even though it is a freshness no-op.
    val scratch = java.nio.file.Files.createTempDirectory("graft-crashconv-spec")
    val corpus = scratch.resolve("corpus")
    java.nio.file.Files.createDirectories(corpus)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf, "embeddings.parquet"),
      corpus.resolve("embeddings.parquet"))
    val base = scratch.resolve("idx").toString
    Similarity.ivfPqWriteIndex(spark, corpus.toString, base) // pre-swap layout
    val v = Similarity.ivfPqSwapIndex(spark, corpus.toString, base) // flip, "crash"
    assert(new java.io.File(base, "index").exists(),
      "precondition: the crash window must leave the in-place artifacts")
    // within the retire grace the sweep must NOT collect — a reader that
    // resolved baseDir just before the flip may still be mid-scan
    assert(Similarity.ivfPqSwapIfStale(spark, corpus.toString, base).isEmpty,
      "the fresh swapped version must stay a freshness no-op")
    assert(new java.io.File(base, "index").exists(),
      "in-place artifacts collected INSIDE the retire grace (mid-scan reader hazard)")
    // age the artifacts past the grace → the next cron call finishes the
    // crashed conversion's cleanup, still as a freshness no-op
    for (orphan <- Seq("index", "centroids", "codebook"))
      assert(new java.io.File(base, orphan).setLastModified(
        System.currentTimeMillis() - 2L * 3600000L))
    assert(Similarity.ivfPqSwapIfStale(spark, corpus.toString, base).isEmpty,
      "the fresh swapped version must stay a freshness no-op")
    for (orphan <- Seq("index", "centroids", "codebook", "_GRAFT_MANIFEST"))
      assert(!new java.io.File(base, orphan).exists(),
        s"in-place '$orphan' orphaned by the crashed conversion")
    assert(Similarity.ivfPqResolveDir(base) === v, "cleanup disturbed CURRENT")
    assert(spark.read.parquet(v + "/index").count() > 0L,
      "cleanup disturbed the live version")
  }

  test("hybrid served: semantic-tower ranks come from the persisted index") {
    // The tower swap made code: every non-zero r_sem in the fused output
    // must equal the doc's self-excluded rank in the SERVED index's
    // retrieval at the hybrid's depth — the proof the fusion consumes the
    // persisted artifact, not the exact-cosine tower.
    val fused = Similarity.hybridRrfServed(spark, TestSpark.sf)
      .select("qid", "cid", "r_sem").as[(Long, Long, Long)].collect()
    assert(fused.nonEmpty)
    val served = Similarity.ivfPqServedTopK(spark, TestSpark.sf,
        nQueries = Similarity.HybridNq, k = Similarity.HybridDepth + 1)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    val expect = served.filter(t => t._1 != t._2).groupBy(_._1).toSeq
      .flatMap { case (q, rows) =>
        rows.sortBy(_._3).take(Similarity.HybridDepth).zipWithIndex
          .map { case ((_, cid, _), i) => ((q, cid), (i + 1).toLong) }
      }.toMap
    for ((q, c, rSem) <- fused if rSem > 0L)
      assert(expect((q, c)) === rSem,
        s"r_sem for ($q,$c) is not the served-index rank")
  }

  test("trained retrieval tier holds its recall at the bench scale (sf0.1)") {
    // The eta sweep and the gates above run on the small fixtures; this
    // pins codebook quality where the bench runs, so a training change
    // that only breaks at scale cannot slip through. Measured at sf0.1:
    // stub composition 0.68, trained composition 0.68, trained PQ+rerank
    // 0.64. Deterministic training → fixed numbers per corpus; floors are
    // margin against corpus regeneration, not flakiness.
    val sf = "/root/testdata/sf0.1"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").as[(Long, Long)].collect().toSet
    val bruteSet = pairs(Similarity.bruteTopK(spark, sf))
    val stubSet = pairs(Similarity.ivfPqTopK(spark, sf))
    val trainedSet = pairs(Similarity.ivfPqTrainedTopK(spark, sf))
    val pqSet = pairs(Similarity.pqTrainedTopK(spark, sf))
    def recall(s: Set[(Long, Long)]) =
      bruteSet.count(s.contains).toDouble / bruteSet.size
    info(s"sf0.1 recall@5: stub-composed = ${recall(stubSet)}, " +
      s"trained-composed = ${recall(trainedSet)}, pq-trained = ${recall(pqSet)}")
    assert(recall(trainedSet) >= recall(stubSet),
      s"trained composition ${recall(trainedSet)} fell below stub's ${recall(stubSet)} at sf0.1")
    assert(recall(trainedSet) >= 0.55,
      s"trained composition recall dropped to ${recall(trainedSet)} at sf0.1")
    assert(recall(pqSet) >= 0.5,
      s"trained PQ+rerank recall dropped to ${recall(pqSet)} at sf0.1")
  }

  test("embedding centroids: exact fixed-point means per label") {
    import spark.implicits._
    val rows = Seq(
      (0, Array(1.0f, 0.0f, 0.5f, -0.5f)),
      (0, Array(0.0f, 1.0f, 0.5f, -0.5f)),
      (1, Array(0.1f, 0.2f, 0.3f, 0.4f))
    ).toDF("label", "embedding")
    val got = graft.operators.Similarity.embeddingCentroidsDf(rows)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 5000L, 5000L, 5000L, -5000L),
      (1L, 1L, 1000L, 2000L, 3000L, 4000L)))
  }

  test("lsh recall vs brute-force is gated") {
    // Measured on the banded (8×4-bit) construction: 0.76 at sf0.001, 0.70
    // at sf0.01. Deterministic hyperplanes → this is a fixed number per
    // corpus, so the 0.6 floor is margin against corpus regeneration, not
    // flakiness. Rank-1 self-recall (test above) is the hard guarantee.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val lshSet = lsh.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(lshSet.contains).toDouble / bruteSet.size
    assert(recall >= 0.6, s"lshTopK recall vs brute dropped to $recall")
    // every query returns a full ranked list here (banding recalls enough
    // candidates); at minimum the self-pair guarantees non-emptiness
    assert(lsh.map(_._1).distinct.length === 10)
  }

  test("retrieval recall query equals the spec-level recall computation") {
    val got = Similarity.retrievalRecall(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect() // (qid, hits, recall_e4)
    assert(got.length === 10)
    for ((qid, hits, re4) <- got) {
      val b = brute.filter(_._1 == qid).map(_._2).toSet
      val l = lsh.filter(_._1 == qid).map(_._2).toSet
      assert(hits === b.count(l.contains).toLong,
        s"query $qid hit count disagrees with the gated computation")
      assert(re4 === math.round(hits * 10000.0 / 5))
    }
    // the monitoring aggregate this query exists for: mean recall at the
    // spec gate's floor
    assert(got.map(_._2).sum.toDouble / (10 * 5) >= 0.6)
  }

  test("served recall query equals the spec-level recall of the served index") {
    val got = Similarity.servedRecall(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect() // (qid, hits, recall_e4)
    assert(got.length === 10)
    val served = Similarity.ivfPqServedTopK(spark, TestSpark.sf)
      .select("qid", "cid").as[(Long, Long)].collect()
    for ((qid, hits, re4) <- got) {
      val b = brute.filter(_._1 == qid).map(_._2).toSet
      val s = served.filter(_._1 == qid).map(_._2).toSet
      assert(hits === b.count(s.contains).toLong,
        s"query $qid hit count disagrees with the served index overlap")
      assert(re4 === math.round(hits * 10000.0 / 5))
    }
    // rebuild-gate floor: the trained tier's gated recall, as the monitor
    // would alert on it
    assert(got.map(_._2).sum.toDouble / (10 * 5) >= 0.5)
  }

  test("sq8: full coverage, self-match, near-exact recall vs brute") {
    val sq = Similarity.sqTopK(spark, TestSpark.sf)
      .select("qid", "cid", "rn").as[(Long, Long, Long)].collect()
    assert(sq.map(_._1).distinct.length === 10)
    val top = sq.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    for (q <- 0L until 10L)
      assert(top(q) === q, s"sq rank-1 for query $q is not itself")
    // SQ8's pitch is recall ≈ 1 at 4× memory — measured 1.0 on this corpus
    // (deterministic model, so this is a fixed number per corpus); 0.9 is
    // margin against corpus regeneration.
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val sqSet = sq.map(t => (t._1, t._2)).toSet
    val recall = bruteSet.count(sqSet.contains).toDouble / bruteSet.size
    assert(recall >= 0.9, s"sqTopK recall vs brute dropped to $recall")
  }

  test("sq recall query equals the spec-level overlap; planted grid decodes exactly") {
    val got = Similarity.sqRecall(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect() // (qid, hits, recall_e4)
    assert(got.length === 10)
    val sq = Similarity.sqTopK(spark, TestSpark.sf)
      .select("qid", "cid").as[(Long, Long)].collect()
    for ((qid, hits, re4) <- got) {
      val b = brute.filter(_._1 == qid).map(_._2).toSet
      val s = sq.filter(_._1 == qid).map(_._2).toSet
      assert(hits === b.count(s.contains).toLong,
        s"query $qid hit count disagrees with the quantized overlap")
      assert(re4 === math.round(hits * 10000.0 / 5))
    }
    // Planted grid corpus: dim 1 is CONSTANT (step 0 — decode = min, no
    // NaN), dims 2-4 take only the grid endpoints {0, 1} (codes 0/255
    // decode exactly), so the quantized ranking is bit-exact cosine:
    // query 0 = (2,1,0,0); twin 1 ties at 10000 (cid asc), 2 and 3 score
    // 4/5 = 0.8 exactly and tie-break by cid.
    val emb = Seq(
      (0L, Seq(2.0, 1.0, 0.0, 0.0)),
      (1L, Seq(2.0, 1.0, 0.0, 0.0)),
      (2L, Seq(2.0, 0.0, 1.0, 0.0)),
      (3L, Seq(2.0, 0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.sqTopKDf(emb, nQueries = 1, k = 4)
      .select("qid", "cid", "sim_e4", "rn")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 0L, 10000L, 1L), (0L, 1L, 10000L, 2L),
      (0L, 2L, 8000L, 3L), (0L, 3L, 8000L, 4L)))
  }

  test("range search: thresholded, self-pairs present, consistent with the lsh ranking") {
    val rs = Similarity.rangeSearch(spark, TestSpark.sf)
      .as[(Long, Long, Long)].collect() // (qid, cid, sim_e4)
    assert(rs.forall(_._3 >= Similarity.RangeThrE4),
      "a row below the radius escaped the threshold")
    val rsSet = rs.toSet
    for (q <- 0L until 10L)
      assert(rsSet.contains((q, q, 10000L)), s"self pair missing for query $q")
    // Same candidate chain as lshTopK by construction: every top-5 row at
    // or above the radius must appear in the range result.
    val lshRows = Similarity.lshTopK(spark, TestSpark.sf)
      .select("qid", "cid", "sim_e4").as[(Long, Long, Long)].collect()
    for (r <- lshRows if r._3 >= Similarity.RangeThrE4)
      assert(rsSet.contains(r), s"lsh row $r missing from the range result")
    // presentation order: qid asc, then similarity desc, cid asc
    assert(rs.sortBy(t => (t._1, -t._3, t._2)).toSeq === rs.toSeq)
  }

  test("mmr re-rank: greedy argmax reproduced independently on the corpus") {
    val out = Similarity.mmrTopK(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long)].collect() // (qid,cid,sim,mmr2x,pick)
    assert(out.length === Similarity.MmrNq * Similarity.MmrK)
    // Independent reimplementation over the collected corpus: exact-cosine
    // candidates (self excluded, e4, cid tiebreak), then the greedy loop.
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .selectExpr("vec_id", "cast(embedding as array<double>)")
      .as[(Long, Seq[Double])].collect().toMap
    def simE4(a: Seq[Double], b: Seq[Double]): Long = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.iterator.zip(y.iterator).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
      math.round(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 10000)
    }
    for (q <- 0L until Similarity.MmrNq.toLong) {
      val cands = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, simE4(vecs(c), vecs(q))))
        .sortBy { case (c, s) => (-s, c) }.take(Similarity.MmrDepth)
      var selected = Vector.empty[(Long, Long, Long)] // (cid, sim, mmr2x)
      for (_ <- 1 to Similarity.MmrK) {
        val rem = cands.filterNot(c => selected.exists(_._1 == c._1))
        val scored = rem.map { case (c, s) =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(p => simE4(vecs(c), vecs(p._1))).max
          (c, s, s - pen)
        }
        val best = scored.minBy { case (c, _, m) => (-m, c) }
        selected :+= best
      }
      val got = out.filter(_._1 == q).sortBy(_._5)
        .map(t => (t._2, t._3, t._4)).toVector
      assert(got === selected, s"greedy chain diverged for query $q")
    }
  }

  test("mmr re-rank: a near-duplicate of the first pick is demoted below a diverse doc") {
    // q = (1,0,0); 1 and 2 are identical (sim(q,·) = 9806, mutual 10000);
    // 3 mirrors across q (same relevance 9806, mutual 9231). Pure
    // relevance would return (1, 2) first; MMR must pick the duplicate
    // LAST: 1 (tie → smaller cid), then 3 (575 = 9806 − 9231), then 2
    // (−194 = 9806 − 10000).
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.2, 0.0)),
      (2L, Seq(1.0, 0.2, 0.0)),
      (3L, Seq(1.0, -0.2, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrTopKDf(emb, nQueries = 1, depth = 3, k = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 1L, 9806L, 9806L, 1L),
      (0L, 3L, 9806L, 575L, 2L),
      (0L, 2L, 9806L, -194L, 3L)))
  }

  test("mmr diversity eval: planted trade exact; relevance never improves under MMR") {
    // The demotion fixture at k = 2 < depth: plain top-2 = the twin pair
    // (ILS 10000), MMR swaps the duplicate for the mirror (ILS 9231) at
    // equal mean relevance — the diversity purchase is exactly 769.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.2, 0.0)),
      (2L, Seq(1.0, 0.2, 0.0)),
      (3L, Seq(1.0, -0.2, 0.0))
    ).toDF("vec_id", "embedding")
    val planted = Similarity.mmrDiversityEvalDf(emb, nQueries = 1, depth = 3, k = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(planted === Seq((0L, 9806L, 9806L, 10000L, 9231L, 769L)))
    // corpus: full coverage, and the trade's two invariants — MMR can
    // never beat plain top-k on mean relevance, and the drop column is
    // exactly the ILS difference
    val got = Similarity.mmrDiversityEval(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length === Similarity.MmrNq)
    for ((_, relSim, mmrSim, relIls, mmrIls, drop) <- got) {
      assert(relSim >= mmrSim, "MMR improved mean relevance — impossible")
      assert(drop === relIls - mmrIls)
    }
  }

  test("kmeans clusters: full coverage, sizes consistent, non-degenerate") {
    val out = Similarity.kmeansClusters(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect() // (vec_id, cluster_id, sim_e4, cluster_size)
    val n = graft.sources.Tables.embeddings(spark, TestSpark.sf).count()
    assert(out.length.toLong === n, "every vector must receive a cluster")
    assert(out.map(_._1).distinct.length === out.length)
    val byCluster = out.groupBy(_._2)
    assert(byCluster.size > 1, "training collapsed to one cluster")
    for ((_, members) <- byCluster)
      assert(members.forall(_._4 === members.length.toLong), "cluster_size drifted")
    // the first nCells seed vectors exist, so some vector sits at cosine
    // ≈ 1 to its own trained centroid only if training didn't move it —
    // don't assert that; assert affinities are valid cosines instead
    assert(out.forall(r => r._3 >= -10000L && r._3 <= 10001L))
  }

  test("cluster-balanced sample: caps bite per cluster, consistent with kmeans") {
    val sample = Similarity.clusterBalancedSample(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect() // (vec_id, cluster_id, rn, kept)
    val clusters = Similarity.kmeansClusters(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(sample.length === clusters.size)
    assert(sample.forall(r => clusters(r._1) === r._2),
      "sampler and kmeans product disagree on a cluster assignment")
    for ((_, members) <- sample.groupBy(_._2)) {
      val kept = members.count(_._4 === 1L)
      assert(kept === math.min(Similarity.ClusterCap, members.length.toLong),
        "kept count is not min(cap, cluster size)")
      assert(members.map(_._3).sorted.toSeq === (1L to members.length))
    }
    // the cap must actually bite somewhere for the test to mean anything
    assert(sample.exists(_._4 === 0L), "no cluster exceeded the cap — vacuous")
  }

  test("knn graph: no self-edges, ranked per src, consistent with the query-side LSH") {
    val g = Similarity.knnGraph(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long)].collect() // (src, dst, sim_e4, rn)
    assert(g.nonEmpty)
    assert(g.forall(r => r._1 != r._2), "self-edge in the knn graph")
    for ((_, rows) <- g.groupBy(_._1)) {
      assert(rows.length <= Similarity.KnnK)
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length))
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "similarity not descending in rank")
    }
    // cross-check vs lshTopK: for each of its 10 query vectors, the knn
    // graph's neighbor list is the same candidate pool ranked the same way
    // once lsh's self-row is dropped — so lsh's best non-self neighbor must
    // be knn rank 1.
    val lshBest = lsh.filter(t => t._3 <= 2 && t._1 != t._2)
      .groupBy(_._1).view.mapValues(_.minBy(_._3)._2).toMap
    val knnBest = g.filter(_._4 == 1L).map(r => r._1 -> r._2).toMap
    for ((q, best) <- lshBest)
      assert(knnBest(q) === best,
        s"knn rank-1 for $q disagrees with lsh's best non-self neighbor")
  }

  test("knn graph: celebrity-bucket cap bounds fan-out, recall holds on the un-skewed mass") {
    // Planted corpus: a 30-vector dense MODE (one direction, tiny
    // perturbations — every member lands in the same (band, key) bucket in
    // all 8 bands) plus three genuine near-dup pairs in distinct
    // directions. With bucketCap below the mode size, every bucket touched
    // by the mode is dropped from the pairing join, so the mode emits ZERO
    // candidate pairs (the bounded-fan-out claim); the un-skewed pairs
    // still find each other through their own small buckets.
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
        .map(x => ((x >>> 11).toDouble / (1L << 53).toDouble) - 0.5).drop(1)
    val base = lcg(42).take(64).toArray
    val hot = (100L until 130L).map { i =>
      val v = base.clone(); v(0) += (i - 100L) * 1e-9; (i, v.toSeq)
    }
    // Pair directions: distinct seeds; partner = same direction + tiny noise.
    val pairSeeds = Seq(7L, 19L, 101L)
    val pairs = pairSeeds.zipWithIndex.flatMap { case (seed, idx) =>
      val dir = lcg(seed).take(64).toArray
      val a = (idx * 2L, dir.toSeq)
      val bVec = dir.clone(); bVec(1) += 1e-9
      val b = (idx * 2L + 1L, bVec.toSeq)
      Seq(a, b)
    }
    val df = (hot ++ pairs).toDF("vec_id", "embedding")
    val capped = Similarity.knnGraphDf(df, k = 4, bucketCap = 10L)
      .as[(Long, Long, Long, Long)].collect()
    assert(!capped.exists(r => r._1 >= 100L || r._2 >= 100L),
      "a mode vector survived into the capped pairing join")
    val best = capped.filter(_._4 == 1L).map(r => r._1 -> r._2).toMap
    for (i <- 0 until 3) {
      assert(best.get(i * 2L) === Some(i * 2L + 1L),
        s"pair $i lost its partner under the cap")
      assert(best.get(i * 2L + 1L) === Some(i * 2L),
        s"pair $i (mirror) lost its partner under the cap")
    }
    // Control: at the default (inert) cap the mode pairs freely — the cap,
    // not the corpus, is what bounded the fan-out above.
    val open = Similarity.knnGraphDf(df, k = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(open.count(r => r._1 >= 100L) === 30 * 4,
      "uncapped mode vectors should each emit k edges")
  }

  test("hybrid RRF: fused scores recompute from the rank columns, towers agree") {
    val out = Similarity.hybridRrf(spark, TestSpark.sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // (qid, cid, r_lex, r_sem, rrf_e4, rn)
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length === Similarity.HybridNq)
    // every emitted row carries at least one tower, ranks bounded by depth
    assert(out.forall(r => r._3 > 0L || r._4 > 0L))
    assert(out.forall(r => r._3 <= Similarity.HybridDepth &&
      r._4 <= Similarity.HybridDepth))
    // the fused score is EXACTLY the integer-rounded RRF of its ranks —
    // the property that makes the ranking oracle-reproducible
    for (r <- out) {
      val e = (if (r._3 > 0) math.round(10000.0 / (Similarity.RrfK + r._3)) else 0L) +
        (if (r._4 > 0) math.round(10000.0 / (Similarity.RrfK + r._4)) else 0L)
      assert(r._5 === e, s"rrf_e4 drifted for (${r._1}, ${r._2})")
    }
    // per-query order: rn dense from 1, rrf non-increasing, cid-asc ties
    for ((_, rows0) <- out.groupBy(_._1)) {
      val rows = rows0.sortBy(_._6)
      assert(rows.map(_._6) === (1L to rows.length.toLong))
      assert(rows.sliding(2).forall {
        case Array(a, b) => a._5 > b._5 || (a._5 == b._5 && a._2 < b._2)
        case _ => true
      }, "fused ranking is not (rrf desc, cid asc)")
    }
    // the semantic tower matches bruteTopK's ranking with self removed
    val brute = Similarity.bruteTopK(spark, TestSpark.sf,
        nQueries = Similarity.HybridNq, k = Similarity.HybridDepth + 1)
      .as[(Long, Long, Long, Long)].collect()
    for ((qid, rows) <- brute.groupBy(_._1)) {
      val expect = rows.sortBy(_._4).filter(_._2 != qid)
        .take(Similarity.HybridDepth).map(_._2).zipWithIndex
        .map { case (cid, i) => cid -> (i + 1L) }.toMap
      val gotSem = out.filter(r => r._1 == qid && r._4 > 0L)
        .map(r => r._2 -> r._4).toMap
      for ((cid, rSem) <- gotSem)
        assert(expect.get(cid).contains(rSem),
          s"semantic rank of ($qid, $cid) disagrees with bruteTopK")
    }
    // the lexical tower matches an INDEPENDENT Jaccard ranking — the
    // self-contained Df path, not the shared product the tower reads —
    // re-oriented around the query docs exactly as the operator promises
    val jac = graft.operators.Dedup.ngramJaccardPairsDf(
        graft.sources.Tables.documents(spark, TestSpark.sf))
      .as[(Long, Long, Long)].collect()
    val oriented = jac.flatMap { case (d1, d2, j) =>
      Seq((d1, d2, j), (d2, d1, j)) }
      .filter(_._1 < Similarity.HybridNq)
    for ((qid, rows) <- oriented.groupBy(_._1)) {
      val expect = rows.sortBy(r => (-r._3, r._2))
        .take(Similarity.HybridDepth).map(_._2).zipWithIndex
        .map { case (cid, i) => cid -> (i + 1L) }.toMap
      val gotLex = out.filter(r => r._1 == qid && r._3 > 0L)
        .map(r => r._2 -> r._3).toMap
      for ((cid, rLex) <- gotLex)
        assert(expect.get(cid).contains(rLex),
          s"lexical rank of ($qid, $cid) disagrees with the Df-path Jaccard ranking")
    }
    // at least one query doc must actually exercise the lexical tower
    // (the corpus plants near-dups among the low ids)
    assert(out.exists(_._3 > 0L), "lexical tower never fired")
  }
}
