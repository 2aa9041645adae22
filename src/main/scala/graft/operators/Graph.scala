package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Artifact, InputFile}
import graft.sources.Tables._
import graft.functions.Caching.{drop, hold}

/** Graph analytics beyond the connected components the dedup family runs
  * ([[Dedup.components]]): link-style importance scoring, the measure crawl
  * pipelines attach to pages before quality gating. The reference corpus has
  * no link column, so the demonstration graph is the TPC-H-ish TRADE
  * NETWORK: customers and suppliers are nodes, and every lineitem of an
  * order adds weight to the (customer ↔ supplier) edge pair. The same code
  * runs any weighted edge list.
  */
object Graph {

  /** Fixed PageRank iteration count — unrolled in the oracle CTE chain, so
    * it stays small the same way [[TextAnalytics.BpeMerges]] does;
    * production runs iterate to convergence with the identical loop body. */
  val PrIters = 3

  /** Rank fixed-point scale (1e12: big enough that the div-per-edge mass
    * loss stays far below rank gaps; products r·w ≤ 1e12·1e5 ≪ 2^63). */
  val PrScale = 1000000000000L

  /** Damping numerator/denominator (the classic 0.85, kept integral). */
  val PrDampNum = 85L
  val PrDampDen = 100L

  /** Weighted PageRank over the customer–supplier transaction graph,
    * EXACT-INTEGER fixed point so the trained ranks hash-match the oracle:
    *
    *  - nodes: customers (node_id = 2·custkey, kind 'c') and suppliers
    *    (node_id = 2·suppkey + 1, kind 's') — the even/odd embedding keeps
    *    the two key spaces disjoint without strings;
    *  - edges: orders ⋈ lineitem yields (custkey, suppkey, cnt) — cnt
    *    lineitems bought by that customer from that supplier — emitted in
    *    BOTH directions, so every node has out-degree ≥ 1 (no dangling
    *    mass) and the walk is the undirected trade random walk;
    *  - iteration (k = [[PrIters]] rounds): contribution along an edge is
    *    r(u)·w div W_u (W_u = u's total out-weight; integer div — the
    *    deterministic mass loss both engines compute identically), and
    *    r'(v) = (15·(SCALE div N)) div 100 + (85·Σ contrib) div 100.
    *
    * Scale shape: the edge list (with pre-aggregated out-weight totals)
    * persists once and every round shuffles only the node-sized rank
    * table — join ranks to edges on src, aggregate on dst: the Pregel
    * message-passing shape. Rounds are FIXED (no driver round-trip, no
    * convergence action): the full k-round dataflow is one declarative
    * plan, so Catalyst sees every stage and the edge partitioning is
    * reused across rounds. At crawl scale — or whenever rank must run to
    * a fixed point — [[pagerankConvergedDf]] runs the identical round
    * body inside the checkpointed round loop instead.
    * Output: (node_id, kind, key, rank_e12) per node. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    // PERSISTED: the engine's edge-cache fill reads its input edge list
    // on BOTH sides of the `edges ⋈ outW` join, and the two-direction
    // union doubles each read — unpersisted, this orders⋈lineitem
    // aggregate (the query's dominant scan) evaluated FOUR times inside
    // the one cache-fill action (guide §5; r17 job profile). Cached, it
    // runs once and the union/outW branches scan the cache.
    val edgesRaw = hold(orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("cnt"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"), col("cnt")))
    val edges = edgesRaw
      .select(col("cnode").as("src"), col("snode").as("dst"), col("cnt"))
      .unionAll(edgesRaw.select(col("snode").as("src"),
        col("cnode").as("dst"), col("cnt")))
    graft.functions.Caching.releaseAfterAction(
      pagerankDf(edges)
        .select(col("node_id"),
          when(pmod(col("node_id"), lit(2L)) === 0L, lit("c")).otherwise(lit("s"))
            .as("kind"),
          (col("node_id") / lit(2L)).cast("long").as("key"),
          col("rank_e12"))
        .orderBy("node_id"),
      edgesRaw)
  }

  /** Iterate-to-EPSILON PageRank — the production convergence loop the
    * fixed-round [[pagerankDf]] docstring promises, in the
    * [[Dedup.components]] checkpointed-round shape: the SAME exact-integer
    * round body, but rounds run until max|r' − r| ≤ epsE12 (a 1-row
    * max-delta aggregate is the driver's only per-round state), and
    * `localCheckpoint` truncates lineage each round so the per-round plan
    * is O(1) — at 30+ rounds the unrolled declarative plan would hit the
    * same analyzer blow-up the BPE trainer documents, which is exactly
    * what this loop exists to avoid. The pre-round rank rides along as
    * `old`, so convergence is a filter-free aggregate over the round's own
    * checkpoint — no extra join. On a real cluster swap `localCheckpoint`
    * for `checkpoint` with a reliable dir to keep fault tolerance.
    * Returns (node_id, rank_e12) at the fixed point.
    *
    * The result is checkpoint-backed and SINGLE-USE (its blocks release
    * after the caller's first terminal action — the library-wide
    * contract); a caller that needs several actions runs
    * `localCheckpoint(true)` on it and owns the copy. */
  def pagerankConvergedDf(edges: DataFrame, epsE12: Long = 1000000L,
      maxRounds: Int = 100): DataFrame =
    pagerankConvergedRaw(edges, epsE12, maxRounds)._1

  /** Same, also returning the round count (spec surface). */
  private[graft] def pagerankConvergedRaw(edges: DataFrame, epsE12: Long,
      maxRounds: Int): (DataFrame, Int) = {
    val outW = edges.groupBy("src").agg(sum("cnt").as("wout"))
    // Persist PRE-PARTITIONED on src: every round's contribution join is
    // keyed on src, so the edge list (the corpus-sized side) shuffles once
    // at cache fill, and each round moves only the node-sized rank table
    // (guide §2.4).
    val e = hold(edges.join(outW, "src")
      .select(col("src"), col("dst"), col("cnt"), col("wout"))
      .repartition(col("src")))
    val nodes = hold(e.select(col("src").as("node_id")).distinct())
    val n = nodes.count()
    if (n == 0) {
      drop(e, nodes)
      return (nodes.select(col("node_id"), lit(0L).as("rank_e12")).limit(0), 0)
    }
    val teleport = lit((PrDampDen - PrDampNum) * (PrScale / n) / PrDampDen)
    var ranks = nodes.select(col("node_id"), lit(PrScale / n).as("rank_e12"))
      .localCheckpoint(true)
    var delta = Long.MaxValue
    var rounds = 0
    while (delta > epsE12 && rounds < maxRounds) {
      val contrib = e.join(ranks.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst"), expr("(rank_e12 * cnt) div wout").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      val next = ranks.select(col("node_id"), col("rank_e12").as("old"))
        .join(contrib.withColumnRenamed("dst", "node_id"), Seq("node_id"), "left")
        .select(col("node_id"), col("old"),
          (teleport + expr(s"($PrDampNum * coalesce(inflow, 0)) div $PrDampDen"))
            .as("rank_e12"))
        .localCheckpoint(true)
      delta = next.agg(max(abs(col("rank_e12") - col("old")))).head().getLong(0)
      org.apache.spark.sql.graft.Checkpoints.release(ranks)
      ranks = next.select("node_id", "rank_e12")
      rounds += 1
    }
    // The ranks do not read the edge caches, so those go at once; the
    // converged checkpoint goes after the caller's terminal action.
    (graft.functions.Caching.releaseAfterAction(ranks, ranks, e, nodes), rounds)
  }

  /** Edge budget per node for the co-supply graph: the construction keeps
    * at most [[TriEdgesPerNode]]·n edges by raising the shared-order
    * threshold — co-occurrence graphs DENSIFY as a corpus grows (at
    * sf0.1 every supplier pair shares ≥ 1 order and the raw graph is 69 %
    * complete: 344 K edges, 76 M wedges), so a FIXED threshold is wrong
    * at every scale but one. Budgeting by average degree is the standard
    * production sparsification (keep the strongest edges), keeps wedge
    * work near-scale-invariant, and stays deterministic: the threshold
    * is a pure function of the shared-count histogram. */
  val TriEdgesPerNode = 25L

  /** TRIANGLE COUNTING over the co-supply graph — the local-clustering
    * signal community detection and spam/fraud pipelines compute first.
    * Nodes are suppliers; an undirected edge joins two suppliers filling
    * lines of at least [[TriMinShared]] common orders (the thresholded
    * co-occurrence graph). Output: (s_suppkey, n_tri) for every supplier in
    * at least one triangle.
    *
    * Scale shape (Suri & Vassilvitskii, WWW 2011 — the MapReduce triangle
    * algorithm): edge generation enumerates supplier pairs WITHIN an order
    * (fan-out bounded by lineitems-per-order, a schema constant — never a
    * corpus-sized self-join), and the wedge join runs on the DEGREE-ORDERED
    * orientation: each edge points from its lower-(degree, key) endpoint,
    * so every out-degree is O(√m) and the Σ d_out² wedge count is O(m^1.5)
    * even with celebrity nodes — the "curse of the last reducer" the naive
    * undirected wedge join hits. Wedges shuffle on the closing pair and
    * hash-join the canonical edge set; per-node counts are one explode +
    * aggregate over triangle rows. */
  def triangles(s: SparkSession, d: String): DataFrame =
    trianglesDf(coSupplyEdgesShared(s, d)).withColumnRenamed("node", "s_suppkey")
      .orderBy("s_suppkey")

  /** The co-supply edge product, built once per corpus and SHARED across
    * the graph family (the round-9 verdict's amortization item: triangles
    * and components each rebuilt the pair aggregate — the family's
    * dominant cost — inside their own plans). First consumer builds via
    * [[coSupplyEdges]] and publishes through the content-addressed
    * [[graft.sources.ArtifactCache]] (keyed on the lineitem file's
    * identity + the edge budget, so a changed corpus or knob rebuilds);
    * every later consumer scans the stored (a, b) list. Identical rows to
    * [[coSupplyEdges]] by construction, so consumers' oracles are
    * unchanged. */
  def coSupplyEdgesShared(s: SparkSession, d: String): DataFrame =
    coSupplyArtifact(d).getOrBuild(s)(coSupplyEdges(s, d))

  private[graft] def coSupplyArtifact(d: String): Artifact =
    Artifact("cosupply", s"$d/lineitem.parquet", Seq(TriEdgesPerNode, CoSupplyVersion))

  /** Algorithm version of the co-supply edge product — part of the cache
    * key (like the IVF-PQ index's IvfPqIndexVersion): bump whenever
    * [[coSupplyEdges]]' construction changes, so a code change can never
    * silently serve a stale edge product from a previous build. */
  private val CoSupplyVersion = 1

  /** The BUDGET-thresholded co-supply edge list (a, b) with a < b:
    * suppliers filling lines of common orders, kept only while the edge
    * count stays within [[TriEdgesPerNode]]·n. Pair enumeration runs
    * WITHIN an order (fan-out bounded by lineitems-per-order, a schema
    * constant — never a corpus-sized self-join); the threshold comes
    * from the shared-count histogram (distinct count values — a
    * driver-bounded collect, like every trained operator's model):
    * t = the smallest shared count whose ≥-cumulative edge total fits
    * the budget, so the kept graph is always the STRONGEST edges and the
    * average degree is a constant at any corpus size. Consumed through
    * the build-once [[coSupplyEdgesShared]] by [[triangles]] and
    * [[componentsQuery]]. */
  def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    val os = hold(lineitem(s, d).select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
      .distinct())
    val e0 = hold(os.as("x")
      .join(os.as("y"), col("x.o") === col("y.o") && col("x.sk") < col("y.sk"))
      .groupBy(col("x.sk").as("a"), col("y.sk").as("b"))
      .agg(count(lit(1)).as("cnt")))
    // The two driver actions — the node-count for the budget and the
    // shared-count histogram — are independent; overlap them (guide
    // §2.6). The histogram side fills the e0 persist (distinct +
    // in-order pair join + pair aggregate, the build's dominant job)
    // while the budget count runs over the already-persisted os.
    val histJoin = graft.functions.Par.async(
      e0.groupBy("cnt").agg(count(lit(1)).as("m"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1))
    val budget = TriEdgesPerNode * os.select("sk").distinct().count()
    val hist = histJoin()
    var acc = 0L
    var thr = Long.MaxValue
    var over = false // STOP at the first over-budget class (the SQL twin's
    // ≥-cumulative includes it for every smaller count, so skipping and
    // continuing would diverge from `min cnt WHERE ge <= budget`)
    for ((c, m) <- hist if !over) {
      if (acc + m <= budget) { acc += m; thr = c } else over = true
    }
    graft.functions.Caching.releaseAfterAction(
      e0.filter(col("cnt") >= thr).select("a", "b"), e0, os)
  }

  /** Algorithm version of the component-label product — bump whenever the
    * CC engine or the supplier labeling rule changes, so a code change can
    * never silently serve stale labels from a previous build. */
  private val CcLabelsVersion = 1

  /** COMPONENT LABELS as a BUILD-ONCE PRODUCT — the round-13 verdict's
    * amortization item: the CC fixpoint (the graph family's iterative
    * engine) used to re-run inside BOTH [[componentsQuery]] and
    * [[modularityEval]]. The supplier-dim-complete (s_suppkey,
    * component_id) labeling now publishes once per corpus through the
    * content-addressed cache (keyed on the cosupply product's address +
    * its own algorithm version) and every consumer scans the stored
    * labels. Identical rows to the inline
    * computation by construction, so consumers' oracles are unchanged.
    * The build reads TWO sources — lineitem (edges) and the supplier dim
    * (the left-join completion) — so the supplier file is an
    * [[graft.sources.InputFile]] param: a supplier change that leaves
    * lineitem untouched must rebuild, not serve stale labels. */
  def componentLabelsShared(s: SparkSession, d: String): DataFrame =
    ccLabelsArtifact(d).getOrBuild(s) {
      val comp = graft.operators.Dedup.components(
        coSupplyEdgesShared(s, d).select(col("a").as("d1"), col("b").as("d2")))
      graft.functions.Caching.releaseAfterAction(
        supplier(s, d).select(col("s_suppkey"))
          .join(comp.withColumnRenamed("id", "s_suppkey"), Seq("s_suppkey"), "left")
          .select(col("s_suppkey"),
            coalesce(col("label"), col("s_suppkey")).as("component_id")),
        comp)
    }

  private[graft] def ccLabelsArtifact(d: String): Artifact =
    Artifact("cclabels", s"$d/lineitem.parquet", Seq(coSupplyArtifact(d),
      CcLabelsVersion, InputFile(s"$d/supplier.parquet")))

  /** CONNECTED COMPONENTS of the co-supply graph — trading communities:
    * every supplier labeled with the smallest supplier key reachable
    * through the thresholded co-supply relation, plus the community size.
    * Isolated suppliers are their own singleton component (the LEFT join
    * against the full supplier dim, inside the product build). The
    * fixpoint engine is the dedup family's [[Dedup.components]] — min-label
    * propagation with pointer jumping, checkpointed rounds, logarithmic in
    * component diameter — applied to a second domain: one CC
    * implementation, every consumer. Since round 14 the labeling is served
    * from the [[componentLabelsShared]] product; this query adds only the
    * label-sized size aggregate. Hash-matched against a recursive-CTE
    * transitive closure. */
  def componentsQuery(s: SparkSession, d: String): DataFrame = {
    val labeled = componentLabelsShared(s, d)
    val sizes = labeled.groupBy("component_id")
      .agg(count(lit(1)).as("component_size"))
    labeled.join(sizes, "component_id")
      .select(col("s_suppkey"), col("component_id"), col("component_size"))
      .orderBy("s_suppkey")
  }

  /** k-core threshold: on the budget-thresholded co-supply graph (average
    * degree pinned at [[TriEdgesPerNode]] by construction), k at the
    * average degree is the interesting cut — the dense trading core
    * survives, the periphery peels (at sf0.1: 824 of 1000 suppliers,
    * nine peeling rounds). */
  val KCoreK = 25L

  /** Peeling-round hard cap — peeling converges in at most "graph
    * degeneracy" rounds in practice (single digits on co-occurrence
    * graphs); a graph that hasn't stabilized by here indicates a
    * construction bug, so fail loudly rather than ship a non-fixpoint. */
  val KCoreMaxRounds = 64

  /** K-CORE DECOMPOSITION at k = [[KCoreK]] — the density filter
    * community/fraud pipelines run after CC: the k-core is the maximal
    * subgraph where every node keeps ≥ k neighbors INSIDE the subgraph,
    * computed by iterative peeling (drop degree-< k nodes, recompute,
    * repeat to fixpoint). Unlike a plain degree filter, peeling CASCADES:
    * a node can start above k and still fall out when its periphery
    * peels away — exactly the "dense ring vs hangers-on" distinction a
    * spam/collusion audit needs. Output per supplier in the graph: raw
    * degree, the in-core verdict, and the core-internal degree
    * (0 outside).
    *
    * Scale shape: each round is one self-equi-join of the undirected
    * edge list against the shrinking survivor set plus a map-side-
    * combined degree count — never a window, never a driver
    * materialization beyond the per-round convergence SCALAR (the
    * [[pagerankConvergedDf]] loop shape); survivor sets are eager
    * localCheckpoints so round plans stay O(1) (the repo-wide iterative-
    * lineage rule). The survivor set shrinks monotonically, so equal
    * counts across a round proves the fixpoint. Oracle: the peeling
    * rounds unrolled as degree/filter CTE pairs (fixed unroll ≥ the
    * fixpoint round count; extra rounds are no-ops on a fixpoint, so
    * the converged engine result hash-matches the fixed-depth SQL). */
  def kcoreQuery(s: SparkSession, d: String): DataFrame =
    kcoreDf(coSupplyEdgesShared(s, d), KCoreK)
      .withColumnRenamed("node", "s_suppkey").orderBy("s_suppkey")

  /** Same, over any canonical undirected edge list (a, b), a < b
    * (planted tests). */
  /** The peeling engine's cached undirected edge frame — PRE-PARTITIONED
    * on u, the key of every round's first join (guide §2.4);
    * private[graft] for PlanSpec's partitioning-reuse pin. */
  private[graft] def kcoreEdgeCache(edges: DataFrame): DataFrame =
    hold(edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u")))

  /** One peeling round's degree count over the survivors — the u-side
    * join must reuse the cached hash(u) partitioning (no edge-side
    * exchange); the second join's v-side shuffle is the message pass.
    * private[graft]: PlanSpec pins the plan with broadcasting off. */
  private[graft] def kcoreDegree(und: DataFrame, alive: DataFrame): DataFrame =
    und.join(alive.select(col("u")), "u")
      .join(alive.select(col("u").as("v")), "v")
      .groupBy("u").agg(count(lit(1)).as("dg"))

  def kcoreDf(edges: DataFrame, k: Long = KCoreK): DataFrame = {
    // Pre-partitioned on u, the key of every peeling round's first join:
    // the undirected edge list shuffles once at cache fill, not per round
    // (guide §2.4; pinned by PlanSpec through kcoreEdgeCache/kcoreDegree).
    val und = kcoreEdgeCache(edges)
    val d0 = hold(und.groupBy("u").agg(count(lit(1)).as("degree")))
    def degreeOver(alive: DataFrame): DataFrame = kcoreDegree(und, alive)
    var alive = d0.filter(col("degree") >= k).select("u").localCheckpoint(true)
    var aliveCount = alive.count()
    var converged = false
    var rounds = 0
    val states = scala.collection.mutable.ArrayBuffer(alive)
    while (!converged && rounds < KCoreMaxRounds) {
      val next = degreeOver(alive).filter(col("dg") >= k).select("u")
        .localCheckpoint(true)
      val nextCount = next.count()
      // survivor sets shrink monotonically, so equal counts = same set
      converged = nextCount == aliveCount
      alive = next; aliveCount = nextCount; rounds += 1
      states += alive
    }
    require(converged, s"k-core peeling did not stabilize within " +
      s"$KCoreMaxRounds rounds — inspect the edge construction")
    val coreDeg = degreeOver(alive)
    graft.functions.Caching.releaseAfterAction(
      d0.join(coreDeg.withColumnRenamed("dg", "core_deg"), Seq("u"), "left")
        .select(col("u").as("node"), col("degree"),
          col("core_deg").isNotNull.cast("long").as("in_core"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg")),
      (Seq(und, d0) ++ states): _*)
  }

  /** Fixed label-propagation round count — SYNCHRONOUS updates, so unlike
    * the k-core peeling (monotone, fixpoint-stable) extra rounds are NOT
    * no-ops: engine and oracle must run exactly this many. */
  val LpaRounds = 4

  /** COMMUNITY DETECTION via synchronous label propagation (Raghavan,
    * Albert & Kumara 2007, "Near linear time algorithm to detect community
    * structures in large-scale networks", Phys. Rev. E) over the shared
    * co-supply edges — the graph family's fourth engine: components says
    * WHO is reachable, k-core says who is densely embedded, LPA says who
    * clusters together. Made deterministic the repo's way: every node
    * starts as its own label, and each round RE-labels every node with the
    * SMALLEST label among its neighbors' most frequent ones (argmax by
    * (count desc, label asc) — no RNG, no asynchronous order dependence).
    * Rounds are fixed at [[LpaRounds]] on both engines (synchronous LPA
    * can oscillate, so "run to convergence" is not portable).
    * Output: (s_suppkey, community, csize). */
  def lpaQuery(s: SparkSession, d: String): DataFrame = {
    val labels = lpaLabelsShared(s, d)
    val sizes = labels.groupBy("community").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "community")
      .select(col("node").as("s_suppkey"), col("community"), col("csize"))
      .orderBy("s_suppkey")
  }

  /** Algorithm version of the LPA-label product — bump whenever the
    * propagation rule or round count semantics change. */
  private val LpaLabelsVersion = 1

  /** LPA LABELS as a BUILD-ONCE PRODUCT — same amortization as
    * [[componentLabelsShared]]: the fixed-round synchronous propagation
    * used to re-run inside both [[lpaQuery]] and [[modularityEval]]. The
    * (node, community) table publishes once per corpus (keyed on the
    * cosupply product's address + round count + version); community
    * sizes are a label-sized aggregate each consumer derives. */
  def lpaLabelsShared(s: SparkSession, d: String): DataFrame =
    lpaLabelsArtifact(d).getOrBuild(s)(
      lpaDf(coSupplyEdgesShared(s, d)).select("node", "community"))

  private[graft] def lpaLabelsArtifact(d: String): Artifact =
    Artifact("lpalabels", s"$d/lineitem.parquet",
      Seq(coSupplyArtifact(d), LpaRounds, LpaLabelsVersion))

  /** Same, over any canonical undirected edge list (a, b), a < b
    * (planted tests). Scale shape per round: one edge⋈label join keyed on
    * the neighbor, one (node, label) count aggregate, one per-node argmax
    * as a min-struct aggregate (no window), with the label table
    * checkpointed per round so the plan stays O(1) like
    * the other iterative engines. Per-round shuffle is edge-sized — the
    * standard LPA bound. */
  /** The LPA engine's cached undirected edge frame — PRE-PARTITIONED on
    * v, the key of every propagation round's join (guide §2.4);
    * private[graft] for PlanSpec's partitioning-reuse pin. */
  private[graft] def lpaEdgeCache(edges: DataFrame): DataFrame =
    hold(edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("v")))

  /** One synchronous propagation round (pre-checkpoint): edge⋈label join
    * keyed on the neighbor — the edge side must reuse the cached hash(v)
    * partitioning — then the (node, label) count and per-node argmax.
    * private[graft]: PlanSpec pins the plan with broadcasting off. */
  private[graft] def lpaRound(und: DataFrame, labels: DataFrame): DataFrame =
    und.join(labels.select(col("u").as("v"), col("lbl")), "v")
      .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy("u")
      .agg(min(struct(negate(col("c")).as("nc"), col("lbl").as("lbl"))).as("m"))
      .select(col("u"), col("m.lbl").as("lbl"))

  def lpaDf(edges: DataFrame, rounds: Int = LpaRounds): DataFrame = {
    // Pre-partitioned on v, the key of every propagation round's join:
    // the edge list shuffles once at cache fill, each round moves only
    // the node-sized label table (guide §2.4; pinned by PlanSpec
    // through lpaEdgeCache/lpaRound).
    val und = lpaEdgeCache(edges)
    var labels = und.select("u").distinct()
      .select(col("u"), col("u").as("lbl")).localCheckpoint(true)
    val states = scala.collection.mutable.ArrayBuffer(labels)
    for (_ <- 1 to rounds) {
      val next = lpaRound(und, labels).localCheckpoint(true)
      states += next
      labels = next
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("csize"))
    graft.functions.Caching.releaseAfterAction(
      labels.join(sizes, "lbl")
        .select(col("u").as("node"), col("lbl").as("community"), col("csize")),
      (und +: states.toSeq): _*)
  }

  /** COMMUNITY-QUALITY DECISION TABLE — Newman–Girvan modularity
    * (Newman & Girvan 2004, "Finding and evaluating community structure
    * in networks", Phys. Rev. E) of BOTH partitionings the engine
    * produces on the shared co-supply graph: connected components (the
    * coarsest — every reachable pair together) and LPA communities. One
    * row per method with Q in EXACT integer arithmetic: Q = (4m·intra −
    * Σ_c d_c²) / (4m²), one pinned e4 division at the end — so the
    * quality number that decides between partitionings hash-matches.
    * LPA communities refine components, so their intra-edge count can
    * only drop; modularity tells whether the split was worth it (the
    * degree-balance term). Scale shape per method: one deg join + one
    * community aggregate + one edge⋈label⋈label count — all edge-sized.
    * Since round 14 both labelings are SERVED from their build-once
    * products ([[componentLabelsShared]], [[lpaLabelsShared]]) instead of
    * re-running the two iterative engines inline — the eval prices the
    * quality comparison, not the label computation it shares with
    * [[componentsQuery]]/[[lpaQuery]]. The component labeling keeps the
    * defensive LEFT-join-coalesce(u) form over the dim-complete product:
    * under TPC-H referential integrity every edge endpoint is in the
    * supplier dim so it costs nothing, but on a dirty corpus an
    * unlabeled endpoint self-labels instead of silently dropping out of
    * the modularity score. */
  def modularityEval(s: SparkSession, d: String): DataFrame = {
    // Ensure the shared edge product FIRST (both label builds consume it),
    // then build the two INDEPENDENT label products concurrently: this
    // query is their first consumer in bench order, and a cold run paid
    // the CC fixpoint and the LPA rounds back to back — two driver loops
    // whose jobs overlap cleanly (guide §2.6). Warm runs hit both products
    // on disk and the join point returns immediately.
    val edges = hold(coSupplyEdgesShared(s, d))
    val lpaJoin = graft.functions.Par.async(lpaLabelsShared(s, d))
    val compProduct = componentLabelsShared(s, d)
    val lpaProduct = lpaJoin()
    val deg = hold(edges.select(col("a").as("u"))
      .unionAll(edges.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg")))
    val compLabels = deg.select(col("u"))
      .join(compProduct
          .select(col("s_suppkey").as("u"), col("component_id").as("lbl")),
        Seq("u"), "left")
      .select(col("u"), coalesce(col("lbl"), col("u")).as("lbl"))
    val lpaLabels = lpaProduct
      .select(col("node").as("u"), col("community").as("lbl"))
    def score(labels: DataFrame, method: String): DataFrame = {
      val dc = deg.join(labels, "u").groupBy("lbl").agg(sum("deg").as("d_c"))
      val sums = dc.agg(count(lit(1)).as("n_communities"),
        sum(col("d_c") * col("d_c")).as("sum_d2"))
      val intra = edges
        .join(labels.select(col("u").as("a"), col("lbl").as("la")), "a")
        .join(labels.select(col("u").as("b"), col("lbl").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .agg(count(lit(1)).as("intra_edges"))
      val m = edges.agg(count(lit(1)).as("m"))
      labels.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(sums).crossJoin(intra).crossJoin(m)
        .select(lit(method).as("method"), col("n_nodes"),
          col("n_communities"), col("intra_edges"),
          when(col("m") === 0L, lit(0L))
            .otherwise(round(
              (lit(4L) * col("m") * col("intra_edges") - col("sum_d2")) *
                lit(10000.0) / (lit(4L) * col("m") * col("m")))
              .cast("long")).as("modularity_e4"))
    }
    graft.functions.Caching.releaseAfterAction(
      score(compLabels, "components").unionAll(score(lpaLabels, "lpa"))
        .orderBy("method"),
      edges, deg)
  }

  /** Triangle core over any canonical undirected edge list (a, b) with
    * a < b, no duplicates. Returns (node, n_tri) for nodes in ≥ 1
    * triangle, unordered. */
  def trianglesDf(edges: DataFrame): DataFrame = {
    val e = hold(edges)
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    // Orientation: u→w from the lower (degree, key) endpoint. a < b always,
    // so the tie (da = db) keeps u = a — one rule on both engines.
    // Persisted: the wedge self-join below reads it twice and the plan
    // gets no ReusedExchange (both sides broadcast) — unpersisted, the
    // degree joins ran twice (r16 plan audit, guide §5).
    val oriented = hold(e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("w")))
    // Wedges at u over out-neighbors (v < x by key → the closing edge is
    // exactly the canonical (v, x) row); one hash join closes them.
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("u"), col("e1.w").as("v"), col("e2.w").as("x"))
      .join(e, col("v") === col("a") && col("x") === col("b"))
      .select("u", "v", "x")
    graft.functions.Caching.releaseAfterAction(
      tri.select(explode(array(col("u"), col("v"), col("x"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri")),
      e, oriented)
  }

  /** PageRank core over any weighted directed edge list (src, dst, cnt);
    * every node must appear as a src (emit both directions for undirected
    * graphs). Returns (node_id, rank_e12) after [[PrIters]] rounds. */
  def pagerankDf(edges: DataFrame): DataFrame = {
    val outW = edges.groupBy("src").agg(sum("cnt").as("wout"))
    // Persist PRE-PARTITIONED on src: every round's contribution join is
    // keyed on src, so the edge list (the corpus-sized side) shuffles once
    // at cache fill, and each round moves only the node-sized rank table
    // (guide §2.4).
    val e = hold(edges.join(outW, "src")
      .select(col("src"), col("dst"), col("cnt"), col("wout"))
      .repartition(col("src")))
    val nodes = hold(e.select(col("src").as("node_id")).distinct())
    val n = nodes.count()
    if (n == 0) { // degenerate input: no nodes → empty ranks, not a div-by-0
      drop(e, nodes)
      return nodes.select(col("node_id"), lit(0L).as("rank_e12")).limit(0)
    }
    val base = lit(PrScale / n)
    val teleport = lit((PrDampDen - PrDampNum) * (PrScale / n) / PrDampDen)
    var ranks = nodes.select(col("node_id"), base.as("rank_e12"))
    for (_ <- 1 to PrIters) {
      val contrib = e.join(ranks.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst"),
          expr("(rank_e12 * cnt) div wout").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node_id"), Seq("node_id"), "left")
        .select(col("node_id"),
          (teleport + expr(s"($PrDampNum * coalesce(inflow, 0)) div $PrDampDen"))
            .as("rank_e12"))
    }
    graft.functions.Caching.releaseAfterAction(ranks, e, nodes)
  }
}
