package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation over relational frames: PageRank (Page,
  * Brin, Motwani & Winograd, "The PageRank citation ranking", 1999) on the
  * bipartite customer–supplier graph induced by orders⋈lineitem. Together
  * with [[Dedup.connectedComponents]] (min-label + pointer jumping) this
  * covers the two classic iterative-dataflow shapes: reachability and
  * fixed-point value propagation.
  *
  * Scale shape per round: ONE hash-partitioned join (edges ⋈ ranks on src)
  * + ONE hash aggregate (incoming mass per dst) — the standard
  * edge-partitioned PageRank; no driver-side state, no collect. The edge
  * list is checkpointed once and reused every round; the rank frame is
  * `Iterate.pin`ned per round to cut iterative-lineage growth (same
  * discipline as connectedComponents and ivfKmeans). At 100 TB the edge
  * join and the mass aggregate share the same src/dst hash partitioning,
  * and AQE handles the power-law skew of hub nodes (or pre-split hubs with
  * [[Skew.saltedJoin]] mechanics).
  *
  * Cross-engine determinism: per-edge contribution `rank/deg` is one IEEE
  * division (deterministic per row); the incoming-mass SUM — the only
  * order-sensitive step — goes through the exact-decimal detour
  * ([[graft.functions.Exact.xsum]], scale 12: rank mass ≤ 1, so the
  * rescaled integer is far under 2^53); the damping update is two more
  * single IEEE ops. Constants are written `CAST(.. AS DOUBLE)` in the
  * oracle so DuckDB never routes them through DECIMAL arithmetic.
  */
object Graph {

  /** Supplier node ids are offset into their own range so the bipartite
    * node set lives in one BIGINT id space. 10^12, NOT a "big enough"
    * million: TPC-H custkeys reach 150 000·SF (1.5·10^10 at the 100 TB
    * scale point) and a too-small offset silently MERGES a customer with
    * a supplier node — wrong degrees and ranks that no shared-constant
    * oracle can catch. 10^12 keeps both ranges disjoint past SF 10^6
    * while dst = supp + SuppBase stays far under 2^63.
    */
  val SuppBase = 1000000000000L
  val Damping = 0.85
  val PrIters = 2
  val PrTopK = 20

  /** Undirected bipartite edges: customer ↔ supplier iff some order of the
    * customer has a line item from the supplier. Distinct — edge weight is
    * structural, not multiplicity.
    */
  def custSuppEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()

  /** Per-(session, `orders`, `lineitem`) memo of the PINNED distinct edge
    * set — the orders⋈lineitem DISTINCT is the expensive part of every
    * graph query, and the edge list is an interesting product on its own
    * (`graph_edges` is oracled independently), so compute it once and let
    * pagerank pay only the rounds.
    */
  def custSuppEdgesCached(orders: DataFrame, lineitem: DataFrame): DataFrame =
    graft.Memo.pinned(orders.sparkSession, "graph.edges", orders, lineitem)(
      custSuppEdges(orders, lineitem))

  /** Connected components of the cust–supp graph, summarized per
    * component: size, customer count, supplier count, keyed by the
    * component's minimum node id. Reuses [[Dedup.connectedComponents]]
    * (min-label propagation + pointer jumping, with the large-star/
    * small-star fallback for adversarial diameters) — reachability is ONE
    * algorithm in this library regardless of which frame the edges came
    * from. The supplier offset ([[SuppBase]]) keeps the bipartite node
    * set in one id space, and the summary recovers the per-side counts
    * from the id ranges.
    *
    * Scale shape: the iteration is the CC algorithm's (per round: one
    * hash join + one thin min-agg, lineage pinned); the summary is a
    * |components|-group aggregate over the |V|-row label frame. Output is
    * |components| rows — at 100 TB this is the audit that tells you
    * whether the transaction graph is one giant component (it usually
    * is) BEFORE you pay for per-component processing. `labels` is the
    * (doc_id, component) frame of [[componentLabelsCached]].
    */
  def components(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(when(col("doc_id") < SuppBase, 1L).otherwise(0L)).cast("long")
          .as("n_cust"),
        sum(when(col("doc_id") >= SuppBase, 1L).otherwise(0L)).cast("long")
          .as("n_supp"))
      .orderBy(col("n_nodes").desc, col("component"))

  /** Pinned per-(session, `orders`, `lineitem`) memo of the converged
    * per-node label frame — the reusable artifact of reachability (the
    * cust-supp twin of [[Dedup.componentsCached]]): any
    * per-component consumer reads labels, it never re-runs the iteration.
    */
  def componentLabelsCached(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val edges = custSuppEdgesCached(orders, lineitem)
    graft.Memo.pinned(orders.sparkSession, "graph.cclab", orders, lineitem)(
      Dedup.connectedComponents(edges.select(col("cust").as("doc_a"),
        (col("supp") + SuppBase).as("doc_b"))))
  }

  def sqlComponents: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o_custkey AS doc_a, l_suppkey + $SuppBase AS doc_b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |${Dedup.sqlComponentsCtes}
       |SELECT component,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(CASE WHEN doc_id < $SuppBase THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_cust,
       |  CAST(SUM(CASE WHEN doc_id >= $SuppBase THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_supp
       |FROM comp GROUP BY component
       |ORDER BY n_nodes DESC, component""".stripMargin

  /** Both directions of the bipartite edge set in the offset id space. */
  private def directedEdges(e0: DataFrame): DataFrame = e0
    .select(col("cust").as("src"), (col("supp") + SuppBase).as("dst"))
    .unionByName(e0.select((col("supp") + SuppBase).as("src"),
      col("cust").as("dst")))

  /** Directed-edge-row cap per shuffle partition of the iterative edge
    * memo. 2M rows ≈ 32 MB of (long, long) pairs plus join-side
    * amplification — comfortably in-memory per task, far from the
    * 2 GB shuffle-block wall. */
  val EdgeRowsPerPartition = 2000000L

  /** Shuffle width for the |E|-row edge memo, derived from the measured
    * edge count the way `nswTierMods` derives the tier ladder from |V|:
    * never narrower than the session's width (fixture plans stay
    * byte-identical — at the audit SFs the derived width IS the session
    * width), widened so no partition holds more than
    * [[EdgeRowsPerPartition]] directed rows. This is the round-10 answer
    * to the measured 100× pagerank point: at a fixed width=32 the
    * per-round probe shuffle turns disk-resident around two decades of
    * growth, which is a partition-POLICY artifact, not a plan defect —
    * every iterative consumer inherits the memo's width through the
    * join, so deriving it here re-plans all of them at once. */
  private def edgePartitions(spark: org.apache.spark.sql.SparkSession,
      edgeRows: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(session,
      ((edgeRows + EdgeRowsPerPartition - 1) / EdgeRowsPerPartition).toInt)
  }

  /** The ONE builder of the `prede` memo — the src-partitioned directed
    * edge frame every iterative consumer (pagerank, PPR, katz, ANF,
    * louvain, refine) probes per round. Hash-partitioned ON src at the
    * |E|-derived width BEFORE the eager persist (the cached
    * InMemoryRelation keeps this partitioning in the planner; a
    * checkpointed scan would not — Round8Spec), so the per-round
    * memo-side exchange disappears: one |E| shuffle per session instead
    * of rounds×consumers. The e0 count that feeds the width is a count
    * of the PINNED pair memo — one cheap job per (session, e0),
    * amortized inside this memo's own build. */
  private def directedEdgeMemo(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val e0 = custSuppEdgesCached(orders, lineitem)
    val spark = e0.sparkSession
    graft.Memo.persisted(spark, "graph.prede", e0)(
      directedEdges(e0).repartition(
        edgePartitions(spark, 2L * e0.count()), col("src")))
  }

  /** (id, deg, n) — per-node degree with |V| riding along as a column
    * (broadcast 1-row aggregate): the plan stays fully declarative, no
    * driver-side scalar round trip.
    */
  private def degWithN(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    deg.crossJoin(broadcast(deg.agg(count(lit(1)).as("n"))))
  }

  /** PageRank over the undirected bipartite graph (every node has deg ≥ 1, so
    * there is no dangling mass). Returns the top-`PrTopK` nodes by final
    * rank: (rk, node_id, rank). The directed edge frame AND the degree/|V|
    * table are pinned in memos keyed on the edge memo they read: the rank
    * rounds re-read both frames (edges once per round, deg at round 0 and for
    * the final top-k), and without the pin each reference re-runs the union +
    * degree shuffle — measured ~4.2 s → the pin drops the per-query cost to
    * the rounds themselves. Same memo lifecycle as the edge set.
    */
  def pagerankCached(orders: DataFrame, lineitem: DataFrame,
      iters: Int = PrIters): DataFrame = {
    val spark = orders.sparkSession
    val edges = directedEdgeMemo(orders, lineitem)
    val degN = graft.Memo.pinned(spark, "graph.prdeg", edges)(degWithN(edges))
    pagerankRounds(edges, degN, iters)
  }

  private def pagerankRounds(edges: DataFrame, degN: DataFrame,
      iters: Int): DataFrame = {
    import graft.functions.Exact
    var ranks = degN
      .select(col("id"), (lit(1.0) / col("n")).as("rank"),
        col("deg"), col("n"))
    for (i <- 1 to iters) {
      val incoming = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("dst"))
        .agg(Exact.xsum(col("c"), 12).as("s"))
      ranks = ranks.join(incoming, ranks("id") === incoming("dst"), "left")
        .select(col("id"),
          (lit(1.0 - Damping) / col("n")
            + lit(Damping) * coalesce(col("s"), lit(0.0))).as("rank"),
          col("deg"), col("n"))
      // cut lineage every third round, not every round: each eager pin is
      // a full materialization job, and three rounds of join lineage is
      // well inside planner limits — the deep-iteration protection stays,
      // shallow runs (the default iters=2) skip the per-round jobs
      if (i % 3 == 0 && i < iters) ranks = Iterate.pin(ranks)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("rank").desc, col("id"))
    // global top-k: WindowGroupLimit prunes per partition before the
    // single-partition final ranking sees only candidates
    ranks
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PrTopK)
      .select(col("rk"), col("id").as("node_id"), col("rank"))
      .orderBy(col("rk"))
  }

  // ----------------------------------------------- part co-occurrence graph
  /** Max parts considered per order when building co-occurrence edges (the
    * lowest `CoPartCap` distinct partkeys, deterministic). TPC-H orders top
    * out at 7 line items so the cap is inert on the fixtures — it exists
    * for the 100 TB contract: per-order pair expansion is quadratic in the
    * basket size, and one pathological million-item basket must cost
    * O(CoPartCap²), not O(10¹²). The same first-K-by-key convention as
    * [[graft.SparkEntry]]'s events co-occurrence cap, mirrored in the
    * oracle so the gate tests the capped semantics.
    */
  val CoPartCap = 8

  /** Undirected distinct part–part edges (pa < pb) — two parts are
    * adjacent iff they co-occur in some order's capped basket. One
    * aggregation keyed by orderkey (bounded `collect_set`, never a
    * lineitem self-join that would recompute the scan per side), then the
    * LAZY [[graft.functions.PairExpand]] generator — O(basket) peak memory
    * per row, not an O(basket²) materialized pair array.
    */
  def coPartEdges(lineitem: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(lineitem.sparkSession)
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, CoPartCap)
        .as("ps"))
      .filter(size(col("ps")) > 1)
      .select(graft.functions.VectorExprs.pairExpand(col("ps"))
        .as(Seq("pa", "pb")))
      .distinct()
  }

  /** Pinned per-(session, `lineitem`) memo of the co-occurrence edge set —
    * shared by `graph_triangles` and `graph_degrees` exactly as
    * [[custSuppEdgesCached]] is shared by `graph_edges`/`graph_pagerank`.
    */
  def coPartEdgesCached(lineitem: DataFrame): DataFrame =
    graft.Memo.pinned(lineitem.sparkSession, "graph.copart", lineitem)(
      coPartEdges(lineitem))

  /** Pinned degree table of the cached co-occurrence edge set — five
    * queries (triangles, degree histogram, assortativity, BFS, peel round
    * 0) each open with the SAME |V|-row degree aggregate over the memoized
    * edges; pinning it beside the edge memo pays the shuffle once per
    * (session, `lineitem`) instead of once per query.
    */
  def coPartDegreesCached(lineitem: DataFrame): DataFrame =
    graft.Memo.pinned(lineitem.sparkSession, "graph.copartdeg", lineitem)(
      degrees(coPartEdgesCached(lineitem)))

  /** Node degrees of the undirected (pa < pb) edge frame. */
  private[graft] def degrees(edges: DataFrame): DataFrame =
    edges.select(col("pa").as("id"))
      .unionByName(edges.select(col("pb").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** Global triangle census: node/edge counts, undirected wedge count
    * Σ deg·(deg−1)/2, triangle count, and the global clustering
    * coefficient 3·T / W — integer arithmetic end-to-end except the single
    * final IEEE division (bit-stable cross-engine).
    *
    * The census is a 1-row aggregate over the per-edge common-neighbor
    * pass (`common`, [[coPartCommonCached]] — common_neighbors /
    * link_jaccard / local_cc / truss / richclub read the same frame):
    * each undirected edge's n_common counts the triangles through that
    * edge, so Σ n_common = 3T exactly. That pass never materializes
    * wedges (see [[edgeCommonCounts]]), so the census adds no heavy
    * subtree of its own. The oracle counts the same triangles by
    * degree-ordered orientation (Schank & Wagner, WEA 2005): every
    * triangle once, at its minimum-(deg, id) corner.
    */
  def triangleStats(edges: DataFrame, deg: DataFrame,
      common: DataFrame): DataFrame = {
    // integer `div`, not IEEE `/`: 3T stays a BIGINT end-to-end (an
    // empty sum coalesces to 0)
    val tri = common.agg(coalesce(sum(col("n_common")), lit(0L)).as("s3"))
      .select(expr("s3 div 3").cast("long").as("n_triangles"))
    // deg·(deg−1) is even, so the halving is the exact integer shift —
    // never a double division whose sum could round past 2^53
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(shiftright(col("deg") * (col("deg") - 1), 1)).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        ((col("n_triangles") * 3).cast("double") /
          col("n_wedges").cast("double")).as("global_clustering"))
  }

  /** Power-of-two degree histogram of the co-occurrence graph: bin =
    * ⌊log₂ deg⌋ computed by INTEGER base conversion (binary digit count),
    * never a floating log that could straddle a bin edge at exact powers.
    * Output cardinality is O(log |V|) regardless of corpus size — the
    * bounded-output discipline every 100 TB profiling query follows.
    */
  def degreeHistogram(deg: DataFrame): DataFrame =
    deg
      .select((length(conv(col("deg").cast("string"), 10, 2)) - 1)
        .cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("bin"),
        expr("shiftleft(cast(1 as bigint), cast(bin as int))").as("lo"),
        col("n_nodes"))
      .orderBy(col("bin"))

  /** BFS seed set (parts with id < BfsSeeds) and level cap. Like
    * [[PeelRounds]], the FIXED level count keeps the profile
    * deterministic and oracle-unrollable; production BFS iterates the
    * same per-level plan until the frontier empties.
    */
  val BfsSeeds = 5
  val BfsLevels = 3

  /** Frontier BFS level profile (the level-synchronous BFS of Beamer's
    * direction-optimizing formulation, top-down half): per level, the
    * newly-reached node count — reachability with distance, the third
    * iterative-dataflow shape beside [[pagerankCached]] (value propagation)
    * and [[Dedup.connectedComponents]] (label convergence).
    *
    * Scale shape per level: frontier ⋈ edges on the frontier key (the
    * frontier is the SMALL side — broadcast when it fits, hash join
    * otherwise), then one anti join against the visited set; frames are
    * bounded by |V| and the visited set only grows. Both sets are
    * [[Iterate.pin]]ned per level. On the dense fixture graph the
    * frontier saturates in 2 levels — exactly what the profile shows.
    */
  /** The LABELED seeded-BFS distance frame (seed, id, level): for each
    * of the [[BfsSeeds]] seed vertices, the nodes first reached at
    * distance 0..[[BfsLevels]] — the graph family's bounded distance
    * oracle, and the artifact BOTH declared BFS readouts derive from.
    * [[closeness]] counts rows per (seed, level); [[bfsLevels]]' level
    * census is the count per MIN-over-seeds level (a BFS from a seed
    * SET reaches each node at its minimum single-seed distance).
    * Memoized via [[seededLevelsCached]] so the level-synchronous join
    * chain — previously run once by graph_bfs AND once by
    * graph_closeness per pass — runs once per (session, `edges`, `deg`).
    */
  def seededLevels(edges: DataFrame,
      deg: DataFrame): DataFrame = {
    val und = edges.select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(edges.select(col("pb").as("u"), col("pa").as("v")))
    val seeds = deg
      .select(col("id")).filter(col("id") < BfsSeeds)
      .select(col("id").as("seed"))
    var frontier = seeds.select(col("seed"), col("seed").as("id"))
    var visited = frontier
    var out = frontier.select(col("seed"), col("id"), lit(0L).as("level"))
    for (l <- 1 to BfsLevels) {
      // frontier and visited are thin BIGINT frames — broadcast BOTH
      // sides so each level scans the (memoized) edge frame map-side:
      // the only shuffle per level is the frontier-adjacent DISTINCT.
      // (Graphs whose node set outgrows a broadcast flip these two hints
      // to hash joins — the level plan is otherwise unchanged.)
      val next = und.join(
          broadcast(frontier.select(col("seed"), col("id").as("u"))),
          Seq("u"))
        .select(col("seed"), col("v").as("id")).distinct()
        .join(broadcast(visited), Seq("seed", "id"), "left_anti")
      // every level's frontier feeds the expansion join, the anti probe
      // AND the output union — pin each
      frontier = Iterate.pin(next)
      visited = visited.unionByName(frontier)
      out = out.unionByName(
        frontier.select(col("seed"), col("id"), lit(l.toLong).as("level")))
    }
    out
  }

  /** [[seededLevels]] memoized per (session, `edges`, `deg`) — the
    * composition point graph_bfs and graph_closeness share. */
  def seededLevelsCached(edges: DataFrame, deg: DataFrame): DataFrame =
    graft.Memo.pinned(edges.sparkSession, "graph.seededlevels", edges, deg)(
      seededLevels(edges, deg))

  def bfsLevels(levels: DataFrame): DataFrame = {
    // multi-source BFS distance = min over seeds of the labeled
    // distance (the seed-set frontier reaches a node when its CLOSEST
    // seed does); the level census is the count per that minimum, with
    // unreached levels zero-filled exactly like the loop form's empty
    // frontier count
    val minl = levels.groupBy(col("id")).agg(min(col("level")).as("ml"))
    val counts = minl.groupBy(col("ml"))
      .agg(count(lit(1)).as("cnt"))
    levels.sparkSession.range(0, BfsLevels + 1L)
      .select(col("id").as("level"))
      .join(broadcast(counts), col("level") === col("ml"), "left")
      .select(col("level"), coalesce(col("cnt"), lit(0L)).as("n_reached"))
      .orderBy(col("level"))
  }

  def sqlBfsLevels: String = {
    val rounds = (1 to BfsLevels).map { l =>
      s"""f$l AS (
         |  SELECT DISTINCT e.v AS id
         |  FROM und e JOIN f${l - 1} f ON e.u = f.id
         |  WHERE e.v NOT IN (SELECT id FROM vis${l - 1})
         |), vis$l AS (
         |  SELECT id FROM vis${l - 1} UNION SELECT id FROM f$l
         |)""".stripMargin
    }.mkString(",\n")
    val levelRows = (0 to BfsLevels).map { l =>
      s"SELECT CAST($l AS BIGINT) AS level, CAST(COUNT(*) AS BIGINT) AS n_reached FROM f$l"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $sqlCoPartCtes, und AS (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs
       |), f0 AS (
       |  SELECT id FROM deg WHERE id < $BfsSeeds
       |), vis0 AS (SELECT id FROM f0),
       |$rounds
       |SELECT level, n_reached FROM (
       |  $levelRows
       |) ORDER BY level""".stripMargin
  }

  /** Seeded harmonic closeness centrality (Eppstein-Wang, "Fast
    * approximation of centrality", SODA 2001: exact closeness needs
    * all-pairs BFS, so estimate from a bounded pivot sample; harmonic
    * form per Boldi-Vigna, "Axioms for centrality", 2014 — Σ 1/d handles
    * unreachable nodes without a convention). For each of the
    * [[BfsSeeds]] fixed seed vertices, a LABELED level-synchronous BFS
    * (the (seed, node) product of [[bfsLevels]]' frontier) counts
    * newly-reached nodes per distance 1..[[BfsLevels]]; harmonic
    * centrality is then the closed form n1 + n2/2 + n3/3 over those
    * INTEGER counts — the only doubles are three final IEEE ops,
    * mirrored token-for-token in the oracle.
    *
    * Scale shape per level: the frontier is ≤ |seeds|·|V| rows of two
    * BIGINTs (broadcast both sides, same flip-to-hash note as
    * [[bfsLevels]]); the edge frame is the memoized co-part pair memo,
    * scanned map-side per level; the only shuffles are the per-level
    * DISTINCT and the |seeds|-row count aggregates. Sampling more seeds
    * to tighten the Eppstein-Wang bound widens ONLY the frontier frame —
    * the level count, not the seed count, sets the job chain length.
    */
  def closeness(levels: DataFrame): DataFrame = {
    var out = levels.filter(col("level") === 0).select(col("seed"))
    for (l <- 1 to BfsLevels) {
      out = out.join(
        broadcast(levels.filter(col("level") === l)
          .groupBy(col("seed")).agg(count(lit(1)).as(s"n$l"))),
        Seq("seed"), "left")
    }
    val ns = (1 to BfsLevels).map(l =>
      coalesce(col(s"n$l"), lit(0L)).as(s"n$l"))
    out.select((col("seed") +: ns): _*)
      .withColumn("harmonic",
        (1 to BfsLevels).map(l =>
          col(s"n$l").cast("double") / lit(l.toDouble)).reduce(_ + _))
      .orderBy(col("seed"))
  }

  def sqlCloseness: String = {
    val rounds = (1 to BfsLevels).map { l =>
      s"""f$l AS (
         |  SELECT DISTINCT f.seed, e.v AS id
         |  FROM und e JOIN f${l - 1} f ON e.u = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${l - 1} w
         |                    WHERE w.seed = f.seed AND w.id = e.v)
         |), vis$l AS (
         |  SELECT seed, id FROM vis${l - 1}
         |  UNION SELECT seed, id FROM f$l
         |), c$l AS (
         |  SELECT seed, CAST(COUNT(*) AS BIGINT) AS n$l
         |  FROM f$l GROUP BY seed
         |)""".stripMargin
    }.mkString(",\n")
    val njoins = (1 to BfsLevels)
      .map(l => s"LEFT JOIN c$l ON s.seed = c$l.seed").mkString("\n")
    val ncols = (1 to BfsLevels)
      .map(l => s"COALESCE(c$l.n$l, 0) AS n$l").mkString(",\n  ")
    val harm = (1 to BfsLevels)
      .map(l => s"CAST(COALESCE(c$l.n$l, 0) AS DOUBLE) / CAST($l AS DOUBLE)")
      .mkString("\n    + ")
    s"""WITH $sqlCoPartCtes, und AS (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs
       |), s AS (
       |  SELECT id AS seed FROM deg WHERE id < $BfsSeeds
       |), f0 AS (
       |  SELECT seed, seed AS id FROM s
       |), vis0 AS (SELECT seed, id FROM f0),
       |$rounds
       |SELECT s.seed,
       |  $ncols,
       |  $harm AS harmonic
       |FROM s
       |$njoins
       |ORDER BY s.seed""".stripMargin
  }

  /** Degree assortativity (Newman, "Assortative mixing in networks",
    * PRL 2002): the Pearson correlation of (deg u, deg v) over the
    * DIRECTED edge list (each undirected edge contributes both
    * directions) — positive means hubs attach to hubs, the structural
    * fact that decides whether hub-targeted peeling ([[peelProfile]]) or
    * degree-ordered orientation ([[triangleStats]]) pays off.
    *
    * Determinism: every moment (m, Σx, Σy, Σxy, Σx², Σy²) is an EXACT
    * 64-bit integer sum (degrees and their products are small); the
    * final r combines them in a fixed handful of IEEE double ops —
    * the cross-moment factors are cast to double BEFORE the
    * denominator's product (their exact-long product would overflow
    * past ~10⁹ edges), identically on both engines. One aggregate over
    * the edge frame + one broadcast-degree join: no shuffle beyond the
    * degree aggregation.
    */
  def assortativity(edges: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("id").as("pa"), col("deg").as("da"))
    val db = deg.select(col("id").as("pb"), col("deg").as("db"))
    val both = edges.join(broadcast(da), Seq("pa"))
      .join(broadcast(db), Seq("pb"))
      .select(col("da").as("x"), col("db").as("y"))
      .unionByName(edges.join(broadcast(da), Seq("pa"))
        .join(broadcast(db), Seq("pb"))
        .select(col("db").as("x"), col("da").as("y")))
    both.agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      // a degree-regular graph has zero variance: r is 0/0 — surface NaN
      // explicitly (ANSI division would throw; DuckDB would emit NaN)
      .withColumn("denom",
        sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
          * (col("m") * col("syy") - col("sy") * col("sy")).cast("double")))
      .select(col("m").as("n_directed_edges"),
        when(col("denom") =!= 0.0,
          (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
            / col("denom"))
          .otherwise(lit(Double.NaN)).as("assortativity"))
  }

  def sqlAssortativity: String =
    s"""WITH $sqlCoPartCtes, bd AS (
       |  SELECT da.deg AS x, db.deg AS y
       |  FROM pairs p JOIN deg da ON p.pa = da.id JOIN deg db ON p.pb = db.id
       |  UNION ALL
       |  SELECT db.deg, da.deg
       |  FROM pairs p JOIN deg da ON p.pa = da.id JOIN deg db ON p.pb = db.id
       |), s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM bd
       |)
       |SELECT m AS n_directed_edges,
       |  CASE WHEN sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
       |                 * CAST(m * syy - sy * sy AS DOUBLE)) <> 0
       |       THEN CAST(m * sxy - sx * sy AS DOUBLE) /
       |            sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
       |               * CAST(m * syy - sy * sy AS DOUBLE))
       |       ELSE CAST('NaN' AS DOUBLE) END AS assortativity
       |FROM s""".stripMargin

  /** k-core peel threshold and round count. 100 sits at the fixture
    * degree median (87–112 across SFs), so every round removes real mass;
    * the FIXED round count makes the profile a deterministic, oracle-able
    * snapshot of the peeling trajectory rather than a fixpoint claim
    * (production k-core iterates to convergence with the same per-round
    * plan; rounds-to-converge is logged, never assumed).
    */
  val PeelK = 100
  val PeelRounds = 3

  /** Iterative k-core peeling profile (the degeneracy-ordering primitive
    * of Matula & Beck 1983; Batagelj–Zaveršnik's iterated-removal form):
    * each round drops every node of current degree < [[PeelK]] and the
    * edges touching it, reporting (round, n_nodes, n_edges) — round 0 is
    * the intact graph. Spam/boilerplate clusters and hub cores in
    * web-scale dedup graphs are exactly the high-k cores that survive.
    *
    * Scale shape per round: one degree aggregate + TWO semi joins (edge
    * endpoints against the surviving-node set) — the frames only ever
    * SHRINK, and each round's edge frame is [[Iterate.pin]]ned so the
    * iterative lineage never deepens. The per-round stats are 1-row
    * aggregates unioned at the end; nothing collects to the driver.
    */
  def peelProfile(edges: DataFrame, deg: DataFrame, k: Int = PeelK,
      rounds: Int = PeelRounds): DataFrame = {
    // round 0's stats and round 1's keep-set both read the INTACT graph's
    // degree table `deg` — the one the shared co-part memo already
    // pinned; later rounds recompute on the shrunken frames (inherent to
    // peeling)
    def degOf(e: DataFrame, r: Int): DataFrame =
      if (r == 0) deg else degrees(e)
    def stats(e: DataFrame, r: Int): DataFrame =
      degOf(e, r).agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
    var e = edges
    var out = stats(e, 0)
    for (r <- 1 to rounds) {
      val keep = degOf(e, r - 1).filter(col("deg") >= k).select(col("id"))
      val next = e
        .join(keep.select(col("id").as("pa")), Seq("pa"), "left_semi")
        .join(keep.select(col("id").as("pb")), Seq("pb"), "left_semi")
      // the LAST round's edge frame feeds only its own two stat
      // aggregates — its semi-joins re-run once more at the final action
      // instead of paying an eager materialization job per call (the
      // bfsLevels last-frontier rule); earlier rounds stay pinned (they
      // seed the next round's degree pass AND their stats)
      e = if (r < rounds) Iterate.pin(next) else next
      out = out.unionByName(stats(e, r))
    }
    out.orderBy(col("round"))
  }

  def sqlPeelProfile(k: Int = PeelK, rounds: Int = PeelRounds): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""keep$r AS (
         |  SELECT id FROM (
         |    SELECT id, COUNT(*) AS deg FROM (
         |      SELECT pa AS id FROM e${r - 1}
         |      UNION ALL SELECT pb FROM e${r - 1}
         |    ) GROUP BY id
         |  ) WHERE deg >= $k
         |), e$r AS (
         |  SELECT pa, pb FROM e${r - 1}
         |  WHERE pa IN (SELECT id FROM keep$r)
         |    AND pb IN (SELECT id FROM keep$r)
         |)""".stripMargin
    }.mkString(",\n")
    val statRows = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |    (SELECT COUNT(*) FROM (
         |       SELECT DISTINCT id FROM (
         |         SELECT pa AS id FROM e$r UNION ALL SELECT pb FROM e$r
         |       ))) AS n_nodes,
         |    (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $sqlCoPartCtes, e0 AS (
       |  SELECT pa, pb FROM pairs
       |),
       |$roundCtes
       |SELECT round, n_nodes, n_edges FROM (
       |  $statRows
       |) ORDER BY round""".stripMargin
  }

  /** The capped-basket distinct pair CTE shared by both oracles. */
  private def sqlCoPartCtes: String =
    s"""op AS (
       |  SELECT ps FROM (
       |    SELECT list_sort(list_distinct(list(l_partkey)))[1:$CoPartCap]
       |      AS ps
       |    FROM lineitem GROUP BY l_orderkey
       |  ) WHERE len(ps) > 1
       |), pairs AS (
       |  -- ps is sorted-distinct, so value order pa < pb IS index order
       |  SELECT DISTINCT pa, pb FROM (
       |    SELECT pa, unnest(ps) AS pb FROM (
       |      SELECT ps, unnest(ps) AS pa FROM op
       |    )
       |  ) WHERE pa < pb
       |), deg AS (
       |  SELECT id, COUNT(*) AS deg FROM (
       |    SELECT pa AS id FROM pairs UNION ALL SELECT pb FROM pairs
       |  ) GROUP BY id
       |)""".stripMargin

  def sqlTriangleStats: String =
    s"""WITH $sqlCoPartCtes, oe AS (
       |  SELECT
       |    CASE WHEN (da.deg, p.pa) < (db.deg, p.pb)
       |         THEN p.pa ELSE p.pb END AS src,
       |    CASE WHEN (da.deg, p.pa) < (db.deg, p.pb)
       |         THEN p.pb ELSE p.pa END AS dst,
       |    CASE WHEN (da.deg, p.pa) < (db.deg, p.pb)
       |         THEN db.deg ELSE da.deg END AS dd
       |  FROM pairs p
       |  JOIN deg da ON p.pa = da.id
       |  JOIN deg db ON p.pb = db.id
       |), tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM oe e1
       |  JOIN oe e2 ON e1.src = e2.src
       |    AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
       |  JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst
       |), ns AS (
       |  SELECT COUNT(*) AS n_nodes,
       |    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg
       |), es AS (SELECT COUNT(*) AS n_edges FROM pairs)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CAST(n_triangles * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE)
       |    AS global_clustering
       |FROM ns, es, tri""".stripMargin

  /** Global top-k cut for [[commonNeighbors]]. */
  val CnTopK = 20

  /** Sorted FULL adjacency (u, ns) of the undirected co-occurrence graph
    * — |V| rows of bounded arrays, the reusable neighborhood artifact.
    */
  private[graft] def fullAdjacency(edges: DataFrame): DataFrame =
    edges.select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(edges.select(col("pb").as("u"), col("pa").as("v")))
      .groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("ns"))

  /** Per-(session, `lineitem`) pin of [[fullAdjacency]] over the co-part edge
    * memo — shares the edge cache's lifecycle and invalidation.
    */
  def coPartAdjCached(lineitem: DataFrame): DataFrame =
    graft.Memo.pinned(lineitem.sparkSession, "graph.cpadj", lineitem)(
      fullAdjacency(coPartEdgesCached(lineitem)))

  /** k for the truss peel: an edge survives a round iff its triangle
    * support |N(u)∩N(v)| ≥ k−2 (it sits in ≥ k−2 triangles).
    */
  val TrussK = 4
  // ONE peel round: unlike k-core rounds (a degree count each), every
  // truss round is a full adjacency-rebuild + intersection pass over the
  // surviving edges — at this graph's density a second round costs
  // another ~1.5 s for a near-identical stats row. Production iterates
  // the same per-round plan to convergence.
  val TrussRounds = 1

  /** Iterative k-truss peeling profile (Cohen, "Trusses: cohesive
    * subgraphs for social network analysis", NSA technical report 2008):
    * the edge-support analog of [[peelProfile]]'s k-core — each round
    * drops every edge whose triangle support is below k−2, reporting
    * per-round edge counts and support stats. Trusses are the tighter
    * community core (every k-truss is in a (k−1)-core, not vice versa);
    * in dedup graphs they separate genuine template families from
    * chains of borderline pairs.
    *
    * Scale shape per round: support IS the per-edge intersection frame —
    * round 0 reads the SAME pinned [[coPartCommonCached]] memo as the
    * link rankings (no new work); later rounds rebuild adjacency over
    * the SHRUNKEN edge set (inherent to peeling, the peelProfile
    * discipline) with each round's frame [[Iterate.pin]]ned. Stats are
    * 1-row aggregates unioned at the end; the FIXED round count keeps
    * the trajectory oracle-able (production iterates the same plan to
    * convergence).
    */
  def trussProfile(scored: DataFrame, k: Int = TrussK,
      rounds: Int = TrussRounds): DataFrame = {
    def support(counts: DataFrame): DataFrame =
      counts.select(col("pa"), col("pb"), col("n_common").as("sup"))
    def stats(sup: DataFrame, r: Int): DataFrame =
      sup.agg(count(lit(1)).as("n_edges"),
        coalesce(sum(when(col("sup") < k - 2, 1L).otherwise(0L)), lit(0L))
          .as("n_below"),
        coalesce(sum(col("sup")), lit(0L)).as("support_sum"),
        coalesce(max(col("sup")), lit(0L)).as("support_max"))
        .select(lit(r.toLong).as("round"), col("n_edges"), col("n_below"),
          col("support_sum"), col("support_max"))
    var sup = support(scored)
    var out = stats(sup, 0)
    for (r <- 1 to rounds) {
      val e = Iterate.pin(sup.filter(col("sup") >= k - 2)
        .select(col("pa"), col("pb")))
      sup = support(edgeCommonCounts(e, fullAdjacency(e)))
      out = out.unionByName(stats(sup, r))
    }
    out.orderBy(col("round"))
  }

  def sqlTrussProfile(k: Int = TrussK, rounds: Int = TrussRounds): String = {
    def supCtes(r: Int): String =
      s"""und$r AS (
         |  SELECT pa AS u, pb AS v FROM e$r
         |  UNION ALL SELECT pb, pa FROM e$r
         |), adj$r AS (
         |  SELECT u, list_sort(list(v)) AS ns FROM und$r GROUP BY u
         |), sup$r AS (
         |  SELECT p.pa, p.pb,
         |    CAST(len(list_intersect(a.ns, b.ns)) AS BIGINT) AS sup
         |  FROM e$r p
         |  JOIN adj$r a ON p.pa = a.u
         |  JOIN adj$r b ON p.pb = b.u
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""e$r AS (
         |  SELECT pa, pb FROM sup${r - 1} WHERE sup >= ${k - 2}
         |),
         |${supCtes(r)}""".stripMargin
    }.mkString(",\n")
    val statRows = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |    CAST(COUNT(*) AS BIGINT) AS n_edges,
         |    CAST(COALESCE(SUM(CASE WHEN sup < ${k - 2} THEN 1 ELSE 0
         |      END), 0) AS BIGINT) AS n_below,
         |    CAST(COALESCE(SUM(sup), 0) AS BIGINT) AS support_sum,
         |    CAST(COALESCE(MAX(sup), 0) AS BIGINT) AS support_max
         |  FROM sup$r""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $sqlCoPartCtes, e0 AS (
       |  SELECT pa, pb FROM pairs
       |),
       |${supCtes(0)},
       |$roundCtes
       |SELECT round, n_edges, n_below, support_sum, support_max FROM (
       |  $statRows
       |) ORDER BY round""".stripMargin
  }

  /** Gini coefficient of the degree distribution — hub concentration as
    * ONE number beside [[degreeHistogram]]'s curve and [[richClub]]'s
    * elite-density readout (0 = regular graph, →1 = a few hubs hold all
    * the edges). The input that decides whether skew handling (salting,
    * hub-split) is worth wiring into the downstream joins.
    *
    * Scale shape: degrees are INTEGERS, so the sort the Gini rank needs
    * collapses to a value-grouped frame (|distinct degrees| rows — tiny)
    * plus ONE running-count window over it; the tie-averaged rank-sum
    * Σ deg·(c·cbefore + c(c+1)/2) stays in exact BIGINTs end to end
    * (the events_gini double-bucket machinery is unnecessary here), and
    * the two closing divisions are the only doubles.
    */
  def degreeGini(deg: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = deg.groupBy(col("deg")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("deg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cbefore",
      coalesce(sum(col("c")).over(w), lit(0L)))
    ranked.agg(
      sum(col("c")).as("n_nodes"),
      sum(col("deg") * col("c")).as("sum_deg"),
      sum(col("deg") * (col("c") * col("cbefore") +
        expr("(c * (c + 1)) div 2"))).as("srx"))
      .select(col("n_nodes"), col("sum_deg"),
        (lit(2.0) * col("srx").cast("double")
          / (col("n_nodes").cast("double") * col("sum_deg").cast("double"))
          - (col("n_nodes") + lit(1)).cast("double")
            / col("n_nodes").cast("double")).as("gini"))
  }

  def sqlDegreeGini: String =
    s"""WITH $sqlCoPartCtes, g AS (
       |  SELECT deg, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY deg
       |), ranked AS (
       |  SELECT deg, c,
       |    COALESCE(CAST(SUM(c) OVER (ORDER BY deg
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cbefore
       |  FROM g
       |), m AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg * c) AS BIGINT) AS sum_deg,
       |    CAST(SUM(deg * (c * cbefore + (c * (c + 1)) // 2)) AS BIGINT)
       |      AS srx
       |  FROM ranked
       |)
       |SELECT n_nodes, sum_deg,
       |  2.0 * CAST(srx AS DOUBLE)
       |    / (CAST(n_nodes AS DOUBLE) * CAST(sum_deg AS DOUBLE))
       |  - CAST(n_nodes + 1 AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS gini
       |FROM m""".stripMargin

  /** Degree cutoffs for the rich-club curve. */
  val RcThresholds: Seq[Long] = Seq(4L, 8L, 16L, 32L)

  /** Rich-club coefficient curve (Zhou & Mondragón, "The rich-club
    * phenomenon in the Internet topology", IEEE Comm. Letters 2004):
    * for each degree cutoff k, the edge density φ(k) among the nodes of
    * degree > k — whether the hubs of the co-occurrence graph
    * preferentially wire to each other (φ→1: an elite core; φ≈ overall
    * density: no club). Read next to [[assortativity]]'s single mixing
    * number, this is the curve form.
    *
    * Scale shape: the endpoint degrees already ride on the pinned
    * per-edge intersection frame ([[coPartCommonCached]]'s da/db), so
    * the edge side needs NO degree join — one |E|×|cutoffs| conditional
    * aggregate; the node side is one |V|×|cutoffs| pass over the degree
    * memo. Both group on the 4-row cutoff dimension; φ is one division
    * of exact integers.
    */
  def richClub(scored: DataFrame, deg: DataFrame): DataFrame = {
    val kdf = deg.sparkSession.range(1)
      .select(explode(array(RcThresholds.map(lit(_)): _*)).as("kd"))
    val nRich = deg.crossJoin(broadcast(kdf))
      .filter(col("deg") > col("kd"))
      .groupBy(col("kd")).agg(count(lit(1)).as("n_rich"))
    val eRich = scored.crossJoin(broadcast(kdf))
      .filter(col("da") > col("kd") && col("db") > col("kd"))
      .groupBy(col("kd")).agg(count(lit(1)).as("e_rich"))
    nRich.join(eRich, Seq("kd"), "left")
      .select(col("kd").as("deg_threshold"), col("n_rich"),
        coalesce(col("e_rich"), lit(0L)).as("e_rich"),
        when(col("n_rich") >= 2,
          (coalesce(col("e_rich"), lit(0L)) * 2).cast("double") /
            (col("n_rich") * (col("n_rich") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("phi"))
      .orderBy(col("deg_threshold"))
  }

  def sqlRichClub: String = {
    val kRows = RcThresholds.map(k => s"($k)").mkString(", ")
    s"""WITH $sqlCoPartCtes, ks AS (
       |  SELECT CAST(kd AS BIGINT) AS kd FROM (VALUES $kRows) t(kd)
       |), nr AS (
       |  SELECT kd, CAST(COUNT(*) AS BIGINT) AS n_rich
       |  FROM deg, ks WHERE deg > kd GROUP BY kd
       |), er AS (
       |  SELECT kd, CAST(COUNT(*) AS BIGINT) AS e_rich
       |  FROM pairs p
       |  JOIN deg da ON p.pa = da.id
       |  JOIN deg db ON p.pb = db.id, ks
       |  WHERE da.deg > kd AND db.deg > kd
       |  GROUP BY kd
       |)
       |SELECT nr.kd AS deg_threshold, nr.n_rich,
       |  COALESCE(er.e_rich, 0) AS e_rich,
       |  CASE WHEN nr.n_rich >= 2
       |    THEN CAST(COALESCE(er.e_rich, 0) * 2 AS DOUBLE)
       |      / CAST(nr.n_rich * (nr.n_rich - 1) AS DOUBLE)
       |    ELSE CAST(0 AS DOUBLE) END AS phi
       |FROM nr LEFT JOIN er ON nr.kd = er.kd
       |ORDER BY deg_threshold""".stripMargin
  }

  /** The adjacency side of a per-edge probe join. An adjacency table is
    * |V| rows of bounded arrays, so it broadcasts by default and the
    * |E|-row edge frame is probed map-side. Past the broadcast threshold
    * set `spark.graft.triangles.broadcastAdj=false`: the SAME plan then
    * runs hash-partitioned joins on each endpoint — two |E|-row
    * exchanges instead of two broadcasts (SCALE.md "Known trade-offs").
    * Both modes are PlanShapeSpec-pinned.
    */
  private def adjSide(adj: DataFrame): DataFrame =
    if (adj.sparkSession.conf.getOption("spark.graft.triangles.broadcastAdj")
        .forall(_.toBoolean)) broadcast(adj)
    else adj

  /** Per-edge common-neighbor counts + endpoint degrees — the expensive
    * adjacency-probe + `array_intersect` pass the triangle census, both
    * link-score rankings, local clustering, the truss peel and the rich
    * club derive from. The sorted FULL adjacency rides to both endpoint
    * lookups through [[adjSide]]; the intersection is the codegen'd
    * sorted merge inside `array_intersect`, so nothing materializes
    * wedges.
    */
  private[graft] def edgeCommonCounts(edges: DataFrame,
      adj: DataFrame): DataFrame =
    edges
      .join(adjSide(adj.select(col("u").as("pa"), col("ns").as("na"))),
        Seq("pa"))
      .join(adjSide(adj.select(col("u").as("pb"), col("ns").as("nb"))),
        Seq("pb"))
      .select(col("pa"), col("pb"),
        size(array_intersect(col("na"), col("nb"))).cast("long")
          .as("n_common"),
        size(col("na")).cast("long").as("da"),
        size(col("nb")).cast("long").as("db"))

  /** Pinned per-(session, `lineitem`) edge score frame over the co-part
    * memos — `graph_common_neighbors` and `graph_link_jaccard` both rank from
    * this ONE intersection pass (|E| rows × 5 longs; the intersections,
    * not the rankings, are the cost).
    */
  def coPartCommonCached(lineitem: DataFrame): DataFrame = {
    // resolve the edge/adjacency memos BEFORE the pin lambda — a nested
    // computeIfAbsent on the shared cache map is a recursive update
    // (the pagerankCached discipline)
    val edges = coPartEdgesCached(lineitem)
    val adj = coPartAdjCached(lineitem)
    graft.Memo.pinned(lineitem.sparkSession, "graph.cpcommon", lineitem)(
      edgeCommonCounts(edges, adj))
  }

  /** Top edges by common-neighbor count |N(u) ∩ N(v)| — the classic
    * link-prediction / edge-strength score (per-edge triangle support
    * over FULL neighborhoods). "Parts that co-occur with many of the same
    * parts" is the recommendation primitive a basket analysis ships.
    * Ranks the [[edgeCommonCounts]] frame; the global top-k is
    * WindowGroupLimit-pruned per partition before the single-partition
    * final ranking.
    */
  def commonNeighbors(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n_common").desc, col("pa"), col("pb"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CnTopK)
      .select(col("rk").cast("long").as("rk"), col("pa"), col("pb"),
        col("n_common"))
      .orderBy(col("rk"))
  }

  def sqlCommonNeighbors: String =
    s"""WITH $sqlCoPartCtes, und AS (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs
       |), adj AS (
       |  SELECT u, list_sort(list(v)) AS ns FROM und GROUP BY u
       |), scored AS (
       |  SELECT p.pa, p.pb,
       |    CAST(len(list_intersect(a.ns, b.ns)) AS BIGINT) AS n_common
       |  FROM pairs p
       |  JOIN adj a ON p.pa = a.u
       |  JOIN adj b ON p.pb = b.u
       |), ranked AS (
       |  SELECT pa, pb, n_common,
       |    ROW_NUMBER() OVER (ORDER BY n_common DESC, pa, pb) AS rk
       |  FROM scored
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, pa, pb, n_common
       |FROM ranked WHERE rk <= $CnTopK ORDER BY rk""".stripMargin

  /** Top edges by Jaccard link score |N(u)∩N(v)| / |N(u)∪N(v)|, with the
    * preferential-attachment product deg(u)·deg(v) alongside — the two
    * classic normalized link-prediction baselines (Liben-Nowell &
    * Kleinberg, "The link prediction problem for social networks",
    * CIKM 2003 §3) next to [[commonNeighbors]]' raw count. Jaccard
    * penalizes hub edges whose overlap is large only because both
    * neighborhoods are; preferential attachment is the null model the
    * other scores are judged against.
    *
    * Scale shape: identical to [[commonNeighbors]] — it ranks the same
    * [[edgeCommonCounts]] frame, whose degrees are FREE (`size(ns)` of
    * the adjacency arrays, so no extra degree join). Numeric
    * determinism: numerator and denominator are exact small integers;
    * the single IEEE division is bit-identical cross-engine, so the
    * rank order (including ties) matches the oracle exactly.
    */
  def linkJaccard(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("jaccard").desc, col("pa"), col("pb"))
    scored
      // denominator ≥ 2: each endpoint is in the other's neighborhood,
      // and an edge's endpoints are never in the intersection
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("da") + col("db") - col("n_common")).cast("double"))
      .withColumn("pref_attach", col("da") * col("db"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CnTopK)
      .select(col("rk").cast("long").as("rk"), col("pa"), col("pb"),
        col("n_common"), col("jaccard"), col("pref_attach"))
      .orderBy(col("rk"))
  }

  /** Top edges by Adamic-Adar score Σ_{z∈N(u)∩N(v)} 1/ln(deg z) (Adamic
    * & Adar, "Friends and neighbors on the web", Social Networks 2003),
    * with the Resource-Allocation index Σ 1/deg(z) (Zhou, Lü & Zhang,
    * "Predicting missing links via local information", EPJ B 2009)
    * alongside — the degree-weighted link-prediction pair that
    * discounts hub-mediated overlap where [[commonNeighbors]]' raw
    * count cannot.
    *
    * Scale shape: the SAME two adjacency-endpoint joins as
    * [[commonNeighbors]], over a degree-CARRYING adjacency (neighbors
    * packed v·2³¹+deg, built with one join on the undirected edge
    * frame) —
    * the scores then fold INSIDE the per-edge intersection array, so
    * the wedge rows are never materialized and no degree re-join or
    * re-aggregation follows (the dense-graph discipline). Cross-engine
    * determinism: every term 1/ln(deg z) (deg ≥ 2 for any common
    * neighbor, so ln > 0) is two IEEE ops on an exact integer, and
    * both engines fold the terms in ascending-v order over the SAME
    * sorted intersection — a fixed IEEE op sequence, bit-identical
    * with no decimal detour.
    */
  /** Packing base for the degree-carrying adjacency of [[adamicAdar]]. */
  val PackBase = 2147483648L

  /** The Adamic-Adar / Resource-Allocation scoring pass alone: (pa, pb,
    * n_common, aa_score, ra_score) per edge. Adjacency sides go through
    * [[adjSide]], as in [[edgeCommonCounts]].
    */
  private[graft] def aaScores(edges: DataFrame, deg: DataFrame): DataFrame = {
    // degree-carrying sorted adjacency (u, ns: array<long>) with each
    // neighbor packed as v·2³¹ + deg(v) — deg is a FUNCTION of v, so
    // intersecting packed keys ≡ intersecting neighbor ids, and the
    // degree rides along for free (node ids must fit 2³², degrees 2³¹ —
    // re-widen the packing for key spaces beyond that). ONE broadcast
    // deg join on the |2E|-row undirected frame; never exploded again.
    val und = edges.select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(edges.select(col("pb").as("u"), col("pa").as("v")))
    val adjD = und
      .join(adjSide(deg.select(col("id").as("v"), col("deg").as("dv"))),
        Seq("v"))
      .groupBy(col("u"))
      .agg(sort_array(collect_list(
        col("v") * lit(PackBase) + col("dv"))).as("ns"))
    // per-edge: sorted packed intersection, then in-array folds — the
    // wedge rows are never materialized (the dense-graph discipline) and
    // the ascending fold order makes the IEEE sums bit-identical to
    // the oracle's list_reduce without any decimal detour
    val inter = array_sort(array_intersect(col("na"), col("nb")))
    edges
      .join(adjSide(adjD.select(col("u").as("pa"), col("ns").as("na"))),
        Seq("pa"))
      .join(adjSide(adjD.select(col("u").as("pb"), col("ns").as("nb"))),
        Seq("pb"))
      .select(col("pa"), col("pb"),
        size(inter).cast("long").as("n_common"),
        aggregate(inter, lit(0.0), (acc, z) =>
          acc + lit(1.0) / log((z % lit(PackBase)).cast("double")))
          .as("aa_score"),
        aggregate(inter, lit(0.0), (acc, z) =>
          acc + lit(1.0) / (z % lit(PackBase)).cast("double"))
          .as("ra_score"))
  }

  /** Pinned per-(session, `lineitem`) Adamic-Adar score frame over the co-part
    * memos — the same share-the-pass discipline as
    * [[coPartCommonCached]].
    */
  def coPartAaCached(lineitem: DataFrame): DataFrame = {
    val edges = coPartEdgesCached(lineitem)
    val deg = coPartDegreesCached(lineitem)
    graft.Memo.pinned(lineitem.sparkSession, "graph.cpaa", lineitem)(
      aaScores(edges, deg))
  }

  def adamicAdar(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("aa_score").desc, col("pa"), col("pb"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CnTopK)
      .select(col("rk").cast("long").as("rk"), col("pa"), col("pb"),
        col("n_common"), col("aa_score"), col("ra_score"))
      .orderBy(col("rk"))
  }

  def sqlAdamicAdar: String =
    s"""WITH $sqlCoPartCtes, und AS (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs
       |), adjd AS (
       |  SELECT u, list_sort(list(und.v * $PackBase + deg.deg)) AS ns
       |  FROM und JOIN deg ON und.v = deg.id GROUP BY u
       |), scored AS (
       |  SELECT pa, pb,
       |    CAST(len(inter) AS BIGINT) AS n_common,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(inter,
       |        z -> CAST(1 AS DOUBLE) / ln(CAST(z % $PackBase AS DOUBLE)))),
       |      (x, y) -> x + y) AS aa_score,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(inter,
       |        z -> CAST(1 AS DOUBLE) / CAST(z % $PackBase AS DOUBLE))),
       |      (x, y) -> x + y) AS ra_score
       |  FROM (
       |    SELECT p.pa, p.pb,
       |      list_sort(list_intersect(a.ns, b.ns)) AS inter
       |    FROM pairs p
       |    JOIN adjd a ON p.pa = a.u
       |    JOIN adjd b ON p.pb = b.u
       |  )
       |), ranked AS (
       |  SELECT pa, pb, n_common, aa_score, ra_score,
       |    ROW_NUMBER() OVER (ORDER BY aa_score DESC, pa, pb) AS rk
       |  FROM scored
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, pa, pb, n_common, aa_score,
       |  ra_score
       |FROM ranked WHERE rk <= $CnTopK ORDER BY rk""".stripMargin

  /** Degree cutoffs for [[conductance]]. */
  val CondThresholds: Seq[Int] = Seq(2, 4, 8)

  /** Conductance of the degree-threshold cuts φ(S) = cut(S) /
    * min(vol S, vol V∖S) for S = {v : deg v ≥ t} (Kannan, Vempala &
    * Vetta, "On clusterings: good, bad and spectral", JACM 2004) — how
    * separable the hub core is from the periphery, the cut-quality
    * companion to [[richClub]]'s density curve.
    *
    * Scale shape: one pass over the edge frame with both endpoint
    * degrees attached (the same two joins every link ranking does),
    * fanned ×|thresholds| by a literal-array explode — never by data;
    * volumes are a |V|-frame aggregate. Integer counters + one IEEE
    * division per threshold row.
    */
  def conductance(edges: DataFrame, deg: DataFrame): DataFrame = {
    val tArr = array(CondThresholds.map(t => lit(t.toLong)): _*)
    val e = edges
      .join(deg.select(col("id").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("id").as("pb"), col("deg").as("db")), Seq("pb"))
    val cuts = e.select(explode(tArr).as("t"), col("da"), col("db"))
      .groupBy(col("t"))
      .agg(sum(when((col("da") >= col("t")) =!= (col("db") >= col("t")),
        1L).otherwise(0L)).as("cut_edges"))
    val vols = deg.select(explode(tArr).as("t"), col("deg"))
      .groupBy(col("t"))
      .agg(sum(when(col("deg") >= col("t"), col("deg")).otherwise(0L))
        .cast("long").as("vol_s"),
        sum(col("deg")).cast("long").as("vol_total"),
        sum(when(col("deg") >= col("t"), 1L).otherwise(0L)).cast("long")
          .as("n_s"))
    cuts.join(vols, Seq("t"))
      .select(col("t").as("deg_threshold"), col("n_s"), col("vol_s"),
        col("cut_edges"),
        // NULL when one side of the cut is empty (φ undefined) — at the
        // lowest threshold every co-part node can clear the bar
        when(least(col("vol_s"), col("vol_total") - col("vol_s")) > 0L,
          col("cut_edges").cast("double") /
            least(col("vol_s"), col("vol_total") - col("vol_s"))
              .cast("double")).as("conductance"))
      .orderBy(col("deg_threshold"))
  }

  def sqlConductance: String = {
    val ts = CondThresholds.mkString(", ")
    s"""WITH $sqlCoPartCtes, e AS (
       |  SELECT p.pa, p.pb, da.deg AS da, db.deg AS db
       |  FROM pairs p
       |  JOIN deg da ON p.pa = da.id
       |  JOIN deg db ON p.pb = db.id
       |), cuts AS (
       |  SELECT t, CAST(SUM(CASE WHEN (da >= t) <> (db >= t)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS cut_edges
       |  FROM e, unnest([$ts]) u(t) GROUP BY t
       |), vols AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN deg >= t THEN deg ELSE 0 END) AS BIGINT)
       |      AS vol_s,
       |    CAST(SUM(deg) AS BIGINT) AS vol_total,
       |    CAST(SUM(CASE WHEN deg >= t THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_s
       |  FROM deg, unnest([$ts]) u(t) GROUP BY t
       |)
       |SELECT CAST(t AS BIGINT) AS deg_threshold, n_s, vol_s, cut_edges,
       |  CASE WHEN least(vol_s, vol_total - vol_s) > 0
       |    THEN CAST(cut_edges AS DOUBLE)
       |      / CAST(least(vol_s, vol_total - vol_s) AS DOUBLE)
       |    ELSE NULL END AS conductance
       |FROM cuts JOIN vols USING (t)
       |ORDER BY deg_threshold""".stripMargin
  }

  /** Minimum degree for the local-clustering ranking — nodes below it
    * have too few possible wedges for the coefficient to mean much.
    */
  val LccMinDeg = 5L

  /** Top nodes by LOCAL clustering coefficient (Watts & Strogatz,
    * "Collective dynamics of small-world networks", Nature 1998):
    * cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)). Every triangle at v is seen
    * twice across v's incident edges' common-neighbor counts, so
    * T(v) = Σ_{e∋v} |N(a)∩N(b)| / 2 — the per-node census is a plain
    * re-aggregation of the SAME pinned per-edge intersection frame the
    * link rankings read ([[coPartCommonCached]]); no new adjacency
    * probe, no wedge materialization. One |E|→|V| hash aggregation +
    * a degree join + global top-k (TakeOrderedAndProject). All score
    * inputs are exact integers; one IEEE division per node.
    */
  def localClustering(scored: DataFrame, deg: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perNode = scored.select(col("pa").as("id"), col("n_common"))
      .unionByName(scored.select(col("pb").as("id"), col("n_common")))
      .groupBy(col("id")).agg(sum(col("n_common")).as("cn2"))
    val w = Window.orderBy(col("local_cc").desc, col("id"))
    perNode.join(deg, Seq("id"))
      .filter(col("deg") >= LccMinDeg)
      .withColumn("n_triangles", expr("cn2 div 2"))
      .withColumn("local_cc", col("cn2").cast("double") /
        (col("deg") * (col("deg") - 1)).cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CnTopK)
      .select(col("rk").cast("long").as("rk"), col("id").as("node_id"),
        col("deg"), col("n_triangles"), col("local_cc"))
      .orderBy(col("rk"))
  }

  def sqlLocalClustering: String =
    s"""WITH $sqlCoPartCtes, und AS (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs
       |), adj AS (
       |  SELECT u, list_sort(list(v)) AS ns FROM und GROUP BY u
       |), scored AS (
       |  SELECT p.pa, p.pb,
       |    CAST(len(list_intersect(a.ns, b.ns)) AS BIGINT) AS n_common
       |  FROM pairs p
       |  JOIN adj a ON p.pa = a.u
       |  JOIN adj b ON p.pb = b.u
       |), pn AS (
       |  SELECT id, CAST(SUM(n_common) AS BIGINT) AS cn2 FROM (
       |    SELECT pa AS id, n_common FROM scored
       |    UNION ALL SELECT pb, n_common FROM scored
       |  ) GROUP BY id
       |), j AS (
       |  SELECT pn.id, d.deg, cn2 // 2 AS n_triangles,
       |    CAST(cn2 AS DOUBLE)
       |      / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS local_cc
       |  FROM pn JOIN deg d ON pn.id = d.id
       |  WHERE d.deg >= $LccMinDeg
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY local_cc DESC, id) AS rk
       |  FROM j
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, id AS node_id, deg,
       |  n_triangles, local_cc
       |FROM ranked WHERE rk <= $CnTopK ORDER BY rk""".stripMargin

  def sqlLinkJaccard: String =
    s"""WITH $sqlCoPartCtes, und AS (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs
       |), adj AS (
       |  SELECT u, list_sort(list(v)) AS ns FROM und GROUP BY u
       |), scored AS (
       |  SELECT p.pa, p.pb,
       |    CAST(len(list_intersect(a.ns, b.ns)) AS BIGINT) AS n_common,
       |    CAST(len(a.ns) AS BIGINT) AS da,
       |    CAST(len(b.ns) AS BIGINT) AS db
       |  FROM pairs p
       |  JOIN adj a ON p.pa = a.u
       |  JOIN adj b ON p.pb = b.u
       |), jac AS (
       |  SELECT pa, pb, n_common,
       |    CAST(n_common AS DOUBLE)
       |      / CAST(da + db - n_common AS DOUBLE) AS jaccard,
       |    da * db AS pref_attach
       |  FROM scored
       |), ranked AS (
       |  SELECT pa, pb, n_common, jaccard, pref_attach,
       |    ROW_NUMBER() OVER (ORDER BY jaccard DESC, pa, pb) AS rk
       |  FROM jac
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, pa, pb, n_common, jaccard,
       |  pref_attach
       |FROM ranked WHERE rk <= $CnTopK ORDER BY rk""".stripMargin

  def sqlDegreeHistogram: String =
    s"""WITH $sqlCoPartCtes, binned AS (
       |  SELECT CAST(length(format('{:b}', deg)) - 1 AS BIGINT) AS bin
       |  FROM deg
       |)
       |SELECT bin, (CAST(1 AS BIGINT) << CAST(bin AS INTEGER)) AS lo,
       |  COUNT(*) AS n_nodes
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  /** DuckDB oracle: rounds unrolled as (s_k, r_k) CTE pairs. */
  def sqlPagerank(iters: Int = PrIters): String = {
    import graft.functions.Exact
    val oneMinusD = s"CAST(${1.0 - Damping} AS DOUBLE)"
    val dD = s"CAST($Damping AS DOUBLE)"
    val rounds = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT e.dst, ${Exact.sqlSum("r.rank / r.deg", 12)} AS s
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.id GROUP BY e.dst
         |), r$k AS (
         |  SELECT r.id, $oneMinusD / r.n
         |      + $dD * COALESCE(s$k.s, CAST(0 AS DOUBLE)) AS rank,
         |    r.deg, r.n
         |  FROM r${k - 1} r LEFT JOIN s$k ON r.id = s$k.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $SuppBase AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $SuppBase, cust FROM e0
       |), deg AS (
       |  SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src
       |), nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (
       |  SELECT id, CAST(1 AS DOUBLE) / n AS rank, deg, n FROM deg, nn
       |),
       |$rounds
       |SELECT rk, id AS node_id, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rank DESC, id) AS rk
       |  FROM r$iters
       |) WHERE rk <= $PrTopK ORDER BY rk""".stripMargin
  }

  // ------------------------------------------------- Katz centrality
  /** Katz attenuation factor. The score is DEFINED as the series
    * truncated at [[PrIters]] rounds (both engines unroll the identical
    * rounds, so cross-engine determinism never depends on convergence);
    * on dense graphs where α ≥ 1/λ_max the infinite series would
    * diverge, and the truncated form is simply an attenuated
    * walk-count of bounded length. */
  val KatzAlpha = 0.05

  /** Katz centrality (Katz, "A new status index derived from sociometric
    * analysis", Psychometrika 1953), truncated power series: x_{k+1}(v) =
    * 1 + α·Σ_{u→v} x_k(u) from x_0 = 1 — the path-counting centrality
    * that, unlike PageRank, does NOT normalize by out-degree, so a node
    * is important for having many walks of any length ending at it.
    * Complements `graph_pagerank` (stationary mass) and `graph_hits`
    * (mutual reinforcement) with the attenuated-walk-count axis.
    *
    * Scale shape: identical to [[pagerankCached]] — composes over the
    * SAME pinned directed-edge and degree memos (`prede`/`prdeg`, zero
    * extra suite cost), each round is one hash join on src + one
    * exact-decimal aggregation on dst; the update is a literal-α
    * multiply-add. Top-k exits through the WindowGroupLimit shape. The
    * oracle unrolls the identical rounds as CTEs.
    */
  def katzCached(orders: DataFrame, lineitem: DataFrame,
      iters: Int = PrIters): DataFrame = {
    val spark = orders.sparkSession
    val edges = directedEdgeMemo(orders, lineitem)
    val degN = graft.Memo.pinned(spark, "graph.prdeg", edges)(degWithN(edges))
    katzRounds(edges, degN, iters)
  }

  private def katzRounds(edges: DataFrame, degN: DataFrame,
      iters: Int): DataFrame = {
    import graft.functions.Exact
    var x = degN.select(col("id"), lit(1.0).as("x"))
    for (i <- 1 to iters) {
      val incoming = edges.join(x, edges("src") === x("id"))
        .select(col("dst"), col("x").as("c"))
        .groupBy(col("dst"))
        .agg(Exact.xsum(col("c"), 12).as("s"))
      x = x.join(incoming, x("id") === incoming("dst"), "left")
        .select(col("id"),
          (lit(1.0) + lit(KatzAlpha) * coalesce(col("s"), lit(0.0)))
            .as("x"))
      if (i % 3 == 0 && i < iters) x = Iterate.pin(x)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("x").desc, col("id"))
    x.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PrTopK)
      .select(col("rk"), col("id").as("node_id"), col("x").as("katz"))
      .orderBy(col("rk"))
  }

  def sqlKatz(iters: Int = PrIters): String = {
    import graft.functions.Exact
    val a = s"CAST($KatzAlpha AS DOUBLE)"
    val rounds = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT e.dst, ${Exact.sqlSum("r.x", 12)} AS s
         |  FROM edges e JOIN x${k - 1} r ON e.src = r.id GROUP BY e.dst
         |), x$k AS (
         |  SELECT r.id,
         |    CAST(1 AS DOUBLE) + $a * COALESCE(s$k.s, CAST(0 AS DOUBLE))
         |      AS x
         |  FROM x${k - 1} r LEFT JOIN s$k ON r.id = s$k.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $SuppBase AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $SuppBase, cust FROM e0
       |), deg AS (
       |  SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src
       |),
       |x0 AS (
       |  SELECT id, CAST(1 AS DOUBLE) AS x FROM deg
       |),
       |$rounds
       |SELECT rk, id AS node_id, x AS katz FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY x DESC, id) AS rk
       |  FROM x$iters
       |) WHERE rk <= $PrTopK ORDER BY rk""".stripMargin
  }

  // --------------------------------------- approximate neighborhood fn
  /** KMV sketch size for [[anfCached]] — k=8 keeps the per-node state at
    * 8 rows while the (k−1)/u_k estimator stays within ~40 % rel. error,
    * the standard ANF operating point for diameter-shape questions. */
  val AnfK = 8
  val AnfRounds = 2

  /** Approximate neighborhood function (Palmer-Gibbons-Faloutsos, "ANF: a
    * fast and scalable tool for data mining in massive graphs", KDD 2002;
    * HyperANF, Boldi-Rosa-Vigna WWW 2011 swaps in HLL): N(h) = Σ_v
    * |ball(v,h)| estimated by propagating a fixed-size distinct-value
    * sketch along edges for h rounds — THE way to ask "how far is
    * everything from everything" on a graph where all-pairs BFS is
    * impossible. Here the sketch is KMV (k smallest md5-uniforms of
    * reachable node ids): state between rounds is ≤k (node, hash) rows,
    * and a round is one src-keyed join + ONE mergeable k-bounded
    * aggregation ([[graft.functions.KmvSketch]] — dedup inside the
    * buffer, map-side partial combine, ≤k longs per (partition, node) on
    * the wire). Because KMV union is a deterministic set function
    * (unlike HLL register layouts), the DuckDB oracle reproduces every
    * kept hash through its relational sorted-distinct-limit-k twin and
    * the estimator is hash-exact cross-engine — the same
    * aggregate-vs-relational equivalence sketch_kmv pins.
    *
    * Scale shape: state is |V|·k rows forever (never |ball|); each round
    * shuffles k-bounded partial sketches partitioned by dst — the exact
    * Pregel/HyperANF layout. The estimator per (node, h) is exact-int
    * arithmetic: est = cnt if cnt<k else (k−1)·2^52/kth_hash; the
    * per-round reduce is an exact-decimal sum.
    */
  def anfCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = AnfRounds): DataFrame = {
    import graft.functions.Exact
    import graft.functions.VectorExprs
    VectorExprs.register(orders.sparkSession)
    val spark = orders.sparkSession
    val edges = directedEdgeMemo(orders, lineitem)
    val degN = graft.Memo.pinned(spark, "graph.prdeg", edges)(degWithN(edges))
    val h0 = conv(substring(md5(concat(lit("anf:"),
      col("id").cast("string"))), 1, 13), 16, 10).cast("long")
    var s = degN.select(col("id").as("node"), h0.as("h"))
    val perRound = (1 to rounds).map { r =>
      // the round's |E|·k candidate stream collapses through the
      // k-bounded mergeable KMV aggregate (KmvSketch): dedup happens
      // inside the buffer, partial combine is map-side, the exchange
      // moves ≤ k longs per (partition, node) — vs the relational
      // distinct+rank form this removed the suite's then-slowest query's
      // corpus-sized distinct shuffle (4.4 s → the agg rounds alone)
      val cand = s.unionByName(
        edges.join(s, edges("src") === s("node"))
          .select(col("dst").as("node"), col("h")))
      // the LAST round's sketch feeds only its own estimate aggregate
      // (s is never rebuilt from it) — skipping that pin saves one eager
      // materialization job per call and lets the final estimate fuse
      // with the round's aggregation (the bfsLevels last-frontier rule)
      val agg = cand.groupBy(col("node"))
        .agg(VectorExprs.kmvMinHashes(col("h"), AnfK).as("hs"))
      val sk = if (r < rounds) Iterate.pin(agg) else agg
      if (r < rounds) s = sk.select(col("node"), explode(col("hs")).as("h"))
      val est = sk.select(
        when(size(col("hs")) < AnfK, size(col("hs")).cast("double"))
          .otherwise(lit((AnfK - 1) * 4503599627370496.0) /
            element_at(col("hs"), -1).cast("double")).as("est"))
      est.agg(count(lit(1)).as("n_nodes"),
        Exact.xsum(col("est"), 6).as("sum_est"))
        .select(lit(r.toLong).as("h"), col("n_nodes"), col("sum_est"),
          (col("sum_est") / col("n_nodes").cast("double")).as("avg_ball"))
    }
    perRound.reduce(_ unionByName _).orderBy(col("h"))
  }

  def sqlAnf(rounds: Int = AnfRounds): String = {
    import graft.functions.Exact
    val kth = s"(${AnfK - 1} * 4503599627370496.0)"
    val roundCtes = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT node, h FROM s${r - 1}
         |  UNION
         |  SELECT e.dst AS node, s.h
         |  FROM edges e JOIN s${r - 1} s ON e.src = s.node
         |), s$r AS (
         |  SELECT node, h FROM (
         |    SELECT node, h,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY h) AS rk
         |    FROM c$r
         |  ) WHERE rk <= $AnfK
         |), est$r AS (
         |  SELECT CASE WHEN COUNT(*) < $AnfK
         |      THEN CAST(COUNT(*) AS DOUBLE)
         |      ELSE $kth / CAST(MAX(h) AS DOUBLE) END AS est
         |  FROM s$r GROUP BY node
         |), agg$r AS (
         |  SELECT CAST($r AS BIGINT) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    ${Exact.sqlSum("est", 6)} AS sum_est
         |  FROM est$r
         |)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to rounds).map { r =>
      s"SELECT h, n_nodes, sum_est FROM agg$r"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $SuppBase AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $SuppBase, cust FROM e0
       |), s0 AS (
       |  SELECT DISTINCT src AS node,
       |    CAST(('0x' || substr(md5('anf:' || CAST(src AS VARCHAR)),
       |      1, 13)) AS BIGINT) AS h
       |  FROM edges
       |),
       |$roundCtes
       |SELECT h, n_nodes, sum_est,
       |  sum_est / CAST(n_nodes AS DOUBLE) AS avg_ball
       |FROM (
       |  $sel
       |) ORDER BY h""".stripMargin
  }

  // ------------------------------------------------- Louvain (one level)
  val LouvainRounds = 2

  /** Synchronized Louvain local-moving rounds (Blondel-Guillaume-Lambiotte-
    * Lefebvre, "Fast unfolding of communities in large networks", J. Stat.
    * Mech. 2008, §2; the synchronized variant is the distributed form —
    * every node evaluates its move against the PREVIOUS round's
    * assignment, then all moves apply at once): starting from singleton
    * communities, each round moves node i to the neighbor community C
    * maximizing ΔQ(i: D→C) = (e_iC − e_iD)/m − k_i·(Σtot_C − (Σtot_D −
    * k_i))/(2m²), staying put unless ΔQ > 0. Two rounds of the LOCAL
    * phase (no graph coarsening — one Louvain level), which is where the
    * method's work happens; `dedup_communities` is the label-propagation
    * alternative and `dedup_modularity` scores any assignment.
    *
    * Scale shape (round-8 fused form): the assignment frame carries each
    * node's static degree, so Σtot is ONE |V|-row aggregate (no comm⋈deg
    * join) and the candidate frame never joins the degree table. A round
    * is: one src-keyed probe of the pre-partitioned edge memo (edges side
    * exchange-free), ONE |E| repartition by node that the (node, c)
    * aggregate, the node-context join, AND both windows all reuse
    * (hashpartitioning(node) satisfies every downstream clustering), two
    * |C|-row Σtot lookups (broadcast under AQE when |C| is small), and
    * e_iD recovered by an unordered window sum over the node partition
    * instead of a separate own-community left-join frame — two big
    * exchanges per round total, nothing all-pairs.
    * Determinism: ΔQ is a difference of two IEEE divisions —
    * 2·(e_iC−e_iD)/2m (exact BIGINT over exact BIGINT) and
    * 2·k_i·(Σtot_C−Σtot_D+k_i) / (double(2m)·double(2m)); the square is
    * taken AFTER the double cast so m2 up to 2^53 (|E| ≈ 4.5e15, far past
    * 100 TB) never wraps Int64, and both engines evaluate the identical
    * cast-then-multiply sequence — so the argmax rank (ΔQ desc,
    * community asc) orders bit-identical cross-engine.
    */
  /** The local-moving assignment (node, c, deg) after `rounds` synchronized
    * rounds, pinned per (session, `orders`, `lineitem`, rounds): both the
    * flat summary ([[louvainCached]]) and the phase-2 contraction
    * ([[louvainCoarseCached]]) read this ONE memo, so the iterative cost is
    * paid once per session no matter how many readouts consume it.
    */
  def louvainAssignCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvc:$rounds", orders, lineitem)(
      louvainAssign(orders, lineitem, rounds))
  }

  private def louvainAssign(orders: DataFrame, lineitem: DataFrame,
      rounds: Int): DataFrame = {
    val spark = orders.sparkSession
    val edges = directedEdgeMemo(orders, lineitem)
    val degN = graft.Memo.pinned(spark, "graph.prdeg", edges)(degWithN(edges))
    val deg = degN.select(col("id"), col("deg"))
    val m2 = degN.agg(sum(col("deg")).as("m2")) // = 2m (directed count)
    // deg rides the assignment frame: Σtot becomes one aggregate and the
    // candidate frame never re-joins the degree table
    var comm = deg.select(col("id").as("node"), col("id").as("c"),
      col("deg"))
    val wNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node"))
    val wBest = wNode.orderBy(col("dq").desc, col("c"))
    for (r <- 1 to rounds) {
      // neighbor communities under the PREVIOUS assignment (synchronized
      // round). The undirected list is symmetric, so probing the
      // assignment BY src and gathering by dst counts the same multiset
      // as the dst-probe form — and rides the memo's src partitioning.
      val a = comm.select(col("node").as("src"), col("c"))
      val eic = edges.join(a, Seq("src"))
        .repartition(col("dst"))
        .groupBy(col("dst").as("node"), col("c"))
        .agg(count(lit(1)).as("e_ic"))
      val stot = comm.groupBy(col("c")).agg(sum(col("deg")).as("stot"))
      val x = eic
        .join(comm.select(col("node"), col("c").as("d_c"), col("deg")),
          Seq("node"))
        .join(stot.select(col("c").as("d_c"), col("stot").as("stot_d")),
          Seq("d_c"))
        .join(stot, Seq("c"))
        .crossJoin(broadcast(m2))
        // e_iD (edges into the node's own community) via an unordered
        // window over the node partition — the c = d_c row, if the node
        // has any intra-community edge, or 0
        .withColumn("e_id", sum(when(col("c") === col("d_c"),
          col("e_ic")).otherwise(lit(0L))).over(wNode))
      val cand = x.filter(col("c") =!= col("d_c"))
        .withColumn("dq",
          (lit(2L) * (col("e_ic") - col("e_id"))).cast("double") /
            col("m2").cast("double") -
          (lit(2L) * col("deg") *
            (col("stot") - col("stot_d") + col("deg"))).cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")))
      val best = cand.withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1 && col("dq") > 0)
        .select(col("node"), col("c").as("new_c"))
      // pin EVERY round here (not the Katz every-3rd discipline): the
      // next round reads comm four times (probe frame, Σtot aggregate,
      // node context, update join) — unpinned, only the exchanges dedup
      // via ReuseExchange while the window sort/compute above them runs
      // once per reference (measured 5.6 s vs 3.1 s at sf0.1). The LAST
      // round is left unpinned: the memo wrapper's pin is the final cut.
      val next = comm.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_c"), col("c")).as("c"),
          col("deg"))
      comm = if (r < rounds) Iterate.pin(next) else next
    }
    comm
  }

  def louvainCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val comm = louvainAssignCached(orders, lineitem, rounds)
    // canonical community labels: min member id (stable across engines)
    val label = comm.groupBy(col("c")).agg(min(col("node")).as("label"))
    comm.join(label, Seq("c"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("size"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("size").desc, col("label"))
      .limit(PrTopK)
  }

  /** Louvain phase 2 (Blondel et al. 2008 §2, second half): contract the
    * converged local-moving assignment to a WEIGHTED super-graph — one
    * node per community, edge weight w(C, D) = number of directed fine
    * edges between members of C and D, weighted degree k_C = Σ member
    * degrees — then run ONE synchronized weighted local-moving round on
    * the coarse graph (each super-node starts as its own singleton, so
    * the move gain reduces to ΔQ = 2·w_CD/2m − 2·k_C·Σtot_D/(2m)²) and
    * report the resulting coarse communities. This is the full Louvain
    * loop's first contraction step and the suite's first weighted-graph
    * operator.
    *
    * Synchronized-round artifact, stated for the record: a symmetric
    * pair of super-nodes that each pick the other swaps labels instead
    * of merging (both engines compute the identical swap, so the
    * canonical min-member labels make the readout stable anyway) — the
    * same known artifact as synchronized LPA, accepted in exchange for
    * determinism.
    *
    * Scale shape: contraction is one double probe of the pinned edge
    * memo (src then dst, both |E|-keyed) + one (cs, cd) hash agg; the
    * weighted round runs on the |C|-node coarse graph — strictly smaller
    * than one fine round. Reads the SAME pinned assignment memo as
    * `graph_louvain`, so the iterative prefix is shared, not re-run.
    */
  /** The coarse assignment (node, c, cc, deg) after contraction + one
    * synchronized weighted round, pinned per (session, `orders`, `lineitem`,
    * rounds) — the summary ([[louvainCoarseCached]]) and the modularity-gain
    * audit ([[louvainGainCached]]) both read this one memo.
    */
  /** The contraction's weighted super-graph edge list (cs, cd, w) —
    * w(C, D) = number of directed fine edges between members — pinned
    * per (session, `orders`, `lineitem`, rounds): the coarse round, the
    * modularity gain, and the weighted PageRank all read this ONE frame.
    */
  def louvainWeightsCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvw:$rounds", orders, lineitem) {
      val comm = louvainAssignCached(orders, lineitem, rounds)
      val edges = directedEdgeMemo(orders, lineitem)
      edges
        .join(comm.select(col("node").as("src"), col("c").as("cs")),
          Seq("src"))
        .join(comm.select(col("node").as("dst"), col("c").as("cd")),
          Seq("dst"))
        .groupBy(col("cs"), col("cd")).agg(count(lit(1)).as("w"))
    }
  }

  def louvainCoarseAssignCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvcc:$rounds", orders, lineitem) {
      val comm = louvainAssignCached(orders, lineitem, rounds)
      val m2 = comm.agg(sum(col("deg")).as("m2"))
      // contraction: weighted coarse edges + weighted super-node degrees
      val w = louvainWeightsCached(orders, lineitem, rounds)
      val kc = comm.groupBy(col("c")).agg(sum(col("deg")).as("k"))
      val cand = w.filter(col("cs") =!= col("cd"))
        .join(kc.select(col("c").as("cs"), col("k").as("ks")), Seq("cs"))
        .join(kc.select(col("c").as("cd"), col("k").as("kd")), Seq("cd"))
        .crossJoin(broadcast(m2))
        .withColumn("dq",
          (lit(2L) * col("w")).cast("double") / col("m2").cast("double") -
          (lit(2L) * col("ks")).cast("double") * col("kd").cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cs")).orderBy(col("dq").desc, col("cd"))
      val best = cand.withColumn("rk", row_number().over(wB))
        .filter(col("rk") === 1 && col("dq") > 0)
        .select(col("cs").as("c"), col("cd").as("cc"))
      comm.join(best, Seq("c"), "left")
        .select(col("node"), col("c"),
          coalesce(col("cc"), col("c")).as("cc"), col("deg"))
    }
  }

  def louvainCoarseCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val coarse = louvainCoarseAssignCached(orders, lineitem, rounds)
    val label = coarse.groupBy(col("cc")).agg(min(col("node")).as("label"))
    coarse.join(label, Seq("cc"))
      .groupBy(col("label"))
      .agg(countDistinct(col("c")).as("n_comms"),
        count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("n_nodes").desc, col("label"))
      .limit(PrTopK)
  }

  /** Did contraction actually help? Newman modularity of the fine
    * (local-moving) and coarse (post-contraction) assignments over the
    * SAME edge set, plus the gain — the convergence audit a Louvain
    * deployment reads to decide whether another level is worth running
    * (Blondel et al. 2008 report exactly this per-level Q sequence).
    * Q = Σ_c [e_c/2m − (Σtot_c/2m)²], computed per assignment as
    * within/m2 − Σstot²/m2² with each ratio formed from double-cast
    * BIGINTs (no BIGINT cross-products — the profile_mi overflow
    * discipline; every aggregate itself is exact).
    *
    * Scale shape: ONE pass tags each directed edge with both ends' fine
    * and coarse labels (two |E|-keyed joins against the pinned coarse
    * memo, which carries both labels), one 2-counter aggregate, and two
    * |C|-row Σtot² aggregates off the same memo (deg rides it — no
    * degree join). Nothing new is iterated.
    *
    * What the audit showed on the fixtures: on the BIPARTITE cust–supp
    * graph the synchronized rounds settle into side-pure communities
    * (zero within edges at sf0.001) and Q is negative — the documented
    * lockstep-update artifact, surfaced as a number instead of buried.
    * A deployment reading gain ≤ 0 here stops contracting; that
    * decision rule is the point of the query.
    */
  def louvainGainCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val coarse = louvainCoarseAssignCached(orders, lineitem, rounds)
    val edges = directedEdgeMemo(orders, lineitem)
    val m2 = coarse.agg(sum(col("deg")).as("m2"))
    val x = edges
      .join(coarse.select(col("node").as("src"), col("c").as("c_s"),
        col("cc").as("cc_s")), Seq("src"))
      .join(coarse.select(col("node").as("dst"), col("c").as("c_d"),
        col("cc").as("cc_d")), Seq("dst"))
      .agg(sum(when(col("c_s") === col("c_d"), 1L).otherwise(0L))
          .as("within_fine"),
        sum(when(col("cc_s") === col("cc_d"), 1L).otherwise(0L))
          .as("within_coarse"))
    val ssF = coarse.groupBy(col("c")).agg(sum(col("deg")).as("s"))
      .agg(sum(col("s") * col("s")).as("ss_f"))
    val ssC = coarse.groupBy(col("cc")).agg(sum(col("deg")).as("s"))
      .agg(sum(col("s") * col("s")).as("ss_c"))
    val m2d = col("m2").cast("double")
    def q(within: org.apache.spark.sql.Column,
        ss: org.apache.spark.sql.Column) =
      within.cast("double") / m2d - ss.cast("double") / (m2d * m2d)
    x.crossJoin(broadcast(m2)).crossJoin(broadcast(ssF))
      .crossJoin(broadcast(ssC))
      .select(col("m2").as("n_dir_edges"),
        col("within_fine"), col("within_coarse"),
        q(col("within_fine"), col("ss_f")).as("q_fine"),
        q(col("within_coarse"), col("ss_c")).as("q_coarse"),
        (q(col("within_coarse"), col("ss_c")) -
          q(col("within_fine"), col("ss_f"))).as("gain"))
  }

  /** What IS each Louvain community, in business terms — the label
    * readout a real pipeline runs after community detection (the
    * cross-family companion of `sim_cluster_topics`, which labels
    * embedding cells with tf-idf terms): for the `TopComms` largest
    * communities of the local-moving assignment, the top-`TopSegs`
    * customer market segments by member count. Rides the SAME pinned
    * assignment memo as `graph_louvain`/`graph_louvain_coarse` — zero
    * new heavy subtrees; the only new work is one |V|-keyed join against
    * customer and two small ranked aggregates.
    *
    * Scale shape: the segment join is key-partitioned on custkey
    * (suppliers fall out of the inner join), the community ranking's
    * unpartitioned window sits above the |communities|-row aggregate
    * (cardinality-bounded, the registry-wide window rule), and the
    * segment ranking is partitioned by community.
    */
  val LouvTopComms = 5
  val LouvTopSegs = 3

  def louvainSegmentsCached(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val comm = louvainAssignCached(orders, lineitem, rounds)
    val lab = comm.groupBy(col("c"))
      .agg(min(col("node")).as("label"), count(lit(1)).as("n_nodes"))
    val wC = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_nodes").desc, col("label"))
    val topc = lab.withColumn("crk", row_number().over(wC))
      .filter(col("crk") <= LouvTopComms)
      .select(col("c"), col("label"))
    val seg = comm.join(topc, Seq("c"))
      .join(customer.select(col("c_custkey").as("node"),
        col("c_mktsegment").as("segment")), Seq("node"))
      .groupBy(col("label"), col("segment"))
      .agg(count(lit(1)).as("n_cust"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("n_cust").desc, col("segment"))
    seg.withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= LouvTopSegs)
      .select(col("label"), col("segment"), col("n_cust"), col("rk"))
      .orderBy(col("label"), col("rk"))
  }

  def sqlLouvainSegments(rounds: Int = LouvainRounds): String =
    s"""${sqlLouvainCtes(rounds)},
       |lab AS (
       |  SELECT c, CAST(MIN(node) AS BIGINT) AS label,
       |    CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM c$rounds GROUP BY c
       |), topc AS (
       |  SELECT c, label FROM (
       |    SELECT c, label,
       |      ROW_NUMBER() OVER (ORDER BY n_nodes DESC, label) AS crk
       |    FROM lab
       |  ) WHERE crk <= $LouvTopComms
       |), seg AS (
       |  SELECT t.label, cu.c_mktsegment AS segment,
       |    CAST(COUNT(*) AS BIGINT) AS n_cust
       |  FROM c$rounds a
       |  JOIN topc t ON a.c = t.c
       |  JOIN customer cu ON a.node = cu.c_custkey
       |  GROUP BY t.label, cu.c_mktsegment
       |)
       |SELECT label, segment, n_cust, rk FROM (
       |  SELECT label, segment, n_cust,
       |    ROW_NUMBER() OVER (PARTITION BY label
       |                       ORDER BY n_cust DESC, segment) AS rk
       |  FROM seg
       |) WHERE rk <= $LouvTopSegs
       |ORDER BY label, rk""".stripMargin

  /** Shared CTE prefix (edge set, degrees, 2m, the `rounds` unrolled
    * synchronized local-moving rounds ending at `c$rounds`) for
    * [[sqlLouvain]] and [[sqlLouvainCoarse]].
    */
  private def sqlLouvainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"c${r - 1}"
      s"""eic$r AS MATERIALIZED (
         |  SELECT e.src AS node, a.c, CAST(COUNT(*) AS BIGINT) AS e_ic
         |  FROM edges e JOIN $prev a ON e.dst = a.node
         |  GROUP BY e.src, a.c
         |), stot$r AS MATERIALIZED (
         |  SELECT a.c, CAST(SUM(d.deg) AS BIGINT) AS stot
         |  FROM $prev a JOIN deg d ON a.node = d.id
         |  GROUP BY a.c
         |), own$r AS (
         |  SELECT a.node, a.c AS d_c,
         |    CAST(COALESCE(e.e_ic, 0) AS BIGINT) AS e_id, s.stot AS stot_d
         |  FROM $prev a
         |  LEFT JOIN eic$r e ON a.node = e.node AND a.c = e.c
         |  JOIN stot$r s ON a.c = s.c
         |), cand$r AS (
         |  SELECT e.node, e.c,
         |    CAST(2 * (e.e_ic - o.e_id) AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
         |      - CAST(2 * d.deg * (s.stot - o.stot_d + d.deg) AS DOUBLE)
         |        / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS dq
         |  FROM eic$r e
         |  JOIN own$r o ON e.node = o.node AND e.c <> o.d_c
         |  JOIN stot$r s ON e.c = s.c
         |  JOIN deg d ON e.node = d.id
         |  CROSS JOIN m2
         |), best$r AS (
         |  SELECT node, c AS new_c FROM (
         |    SELECT node, c, dq,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |                         ORDER BY dq DESC, c) AS rk
         |    FROM cand$r
         |  ) WHERE rk = 1 AND dq > 0
         |), c$r AS MATERIALIZED (
         |  SELECT a.node, COALESCE(b.new_c, a.c) AS c
         |  FROM $prev a LEFT JOIN best$r b ON a.node = b.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS MATERIALIZED (
       |  SELECT cust AS src, supp + $SuppBase AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $SuppBase, cust FROM e0
       |), deg AS MATERIALIZED (
       |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY src
       |), m2 AS MATERIALIZED (SELECT CAST(SUM(deg) AS BIGINT) AS m2 FROM deg),
       |c0 AS MATERIALIZED (SELECT id AS node, id AS c FROM deg),
       |$roundCtes""".stripMargin
  }

  def sqlLouvain(rounds: Int = LouvainRounds): String =
    s"""${sqlLouvainCtes(rounds)},
       |lab AS (
       |  SELECT c, CAST(MIN(node) AS BIGINT) AS label
       |  FROM c$rounds GROUP BY c
       |)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS size,
       |  CAST(MIN(node) AS BIGINT) AS min_node,
       |  CAST(MAX(node) AS BIGINT) AS max_node
       |FROM c$rounds JOIN lab USING (c)
       |GROUP BY label
       |ORDER BY size DESC, label LIMIT $PrTopK""".stripMargin

  /** PageRank over the WEIGHTED Louvain super-graph — which communities
    * hold the transaction graph's stationary mass (the standard coarse
    * readout: rank the contracted graph instead of paying |V| rank
    * state). Same update as [[pagerankRounds]] with weighted mass
    * splitting: r' (C) = (1−d)/|C*| + d·Σ_D w(D,C)/k_D · r(D), where
    * k_D = Σ_C w(D,C) (= summed member degrees, self-loops included —
    * intra-community mass recirculates, the natural contraction
    * semantics). Per-round double contributions ride the
    * [[graft.functions.Exact]] decimal detour like the fine PageRank.
    *
    * Scale shape: the rank state is |C| rows (communities, not nodes) and
    * each round is one |wgt|-keyed join + one exact aggregate over the
    * pinned weighted-edge memo shared with `graph_louvain_coarse` /
    * `graph_louvain_gain` — the contraction is what makes iterating to
    * convergence affordable at 100 TB.
    */
  def louvainWPagerankCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds,
      iters: Int = PrIters): DataFrame = {
    import graft.functions.Exact
    val comm = louvainAssignCached(orders, lineitem, rounds)
    val wgt = louvainWeightsCached(orders, lineitem, rounds)
    val kc = comm.groupBy(col("c")).agg(sum(col("deg")).as("k"))
    var ranks = kc
      .crossJoin(broadcast(kc.agg(count(lit(1)).as("n"))))
      .select(col("c").as("id"), (lit(1.0) / col("n")).as("rank"),
        col("k"), col("n"))
    for (_ <- 1 to iters) {
      val incoming = wgt.join(ranks, wgt("cs") === ranks("id"))
        .select(col("cd"),
          (col("w") * col("rank") / col("k")).as("contrib"))
        .groupBy(col("cd")).agg(Exact.xsum(col("contrib"), 12).as("s"))
      ranks = ranks.join(incoming, ranks("id") === incoming("cd"), "left")
        .select(col("id"),
          (lit(1.0 - Damping) / col("n")
            + lit(Damping) * coalesce(col("s"), lit(0.0))).as("rank"),
          col("k"), col("n"))
    }
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank").desc, col("id"))
    ranks.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= PrTopK)
      .select(col("rk"), col("id").as("community"), col("rank"),
        col("k").as("w_degree"))
      .orderBy(col("rk"))
  }

  def sqlLouvainWPagerank(rounds: Int = LouvainRounds,
      iters: Int = PrIters): String = {
    import graft.functions.Exact
    val oneMinusD = s"CAST(${1.0 - Damping} AS DOUBLE)"
    val dD = s"CAST($Damping AS DOUBLE)"
    val iterCtes = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT e.cd, ${Exact.sqlSum("e.w * r.rank / r.k", 12)} AS s
         |  FROM wgt e JOIN r${k - 1} r ON e.cs = r.id GROUP BY e.cd
         |), r$k AS (
         |  SELECT r.id, $oneMinusD / r.n
         |      + $dD * COALESCE(s$k.s, CAST(0 AS DOUBLE)) AS rank,
         |    r.k, r.n
         |  FROM r${k - 1} r LEFT JOIN s$k ON r.id = s$k.cd
         |)""".stripMargin
    }.mkString(",\n")
    s"""${sqlLouvainCtes(rounds)},
       |${sqlWgtKcCtes(rounds)}, ncomm AS (SELECT COUNT(*) AS n FROM kc),
       |r0 AS (
       |  SELECT c AS id, CAST(1 AS DOUBLE) / n AS rank, k, n
       |  FROM kc, ncomm
       |),
       |$iterCtes
       |SELECT rk, id AS community, rank, k AS w_degree FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rank DESC, id) AS rk
       |  FROM r$iters
       |) WHERE rk <= $PrTopK ORDER BY rk""".stripMargin
  }

  /** The contraction's weighted super-graph edge + degree CTEs over the
    * `c$rounds` assignment — ONE source of truth for the text that
    * [[sqlLouvainWKatz]], [[sqlLouvainCoarseCtes]] and
    * [[sqlLouvainLevels]] previously each emitted verbatim (a drift in
    * any copy would silently fork the oracles' shared prefix).
    * `labAs` renames the degree table's community column (the level
    * chain wants `lab`). */
  private def sqlWgtKcCtes(rounds: Int, wgtName: String = "wgt",
      kcName: String = "kc", labAs: String = ""): String =
    s"""$wgtName AS MATERIALIZED (
       |  SELECT a.c AS cs, b.c AS cd, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM edges e
       |  JOIN c$rounds a ON e.src = a.node
       |  JOIN c$rounds b ON e.dst = b.node
       |  GROUP BY a.c, b.c
       |), $kcName AS MATERIALIZED (
       |  SELECT a.c${if (labAs.isEmpty) "" else s" AS $labAs"}, CAST(SUM(d.deg) AS BIGINT) AS k
       |  FROM c$rounds a JOIN deg d ON a.node = d.id
       |  GROUP BY a.c
       |)""".stripMargin

  /** Katz centrality over the WEIGHTED Louvain super-graph — attenuated
    * weighted-walk counts between communities, the walk-count axis next
    * to `graph_wpagerank`'s stationary-mass axis on the SAME contracted
    * graph (Katz 1953, truncated power series; the weighted form sums
    * α^len over walks counted with edge multiplicities):
    * x_{k+1}(C) = 1 + α·Σ_D w(D,C)·x_k(D), x_0 = 1.
    *
    * Scale shape: the second consumer of the pinned weighted-edge memo —
    * rank state is |communities| rows, each round one |wgt|-keyed join +
    * one exact aggregate; zero new heavy subtrees (assignment, weights,
    * degrees all shared with the coarse/gain/wpagerank family). The
    * truncated series needs no spectral-radius guard (finite rounds);
    * per-round contributions w·x ride the exact-decimal detour at
    * scale 2 — |Σ w·x| stays under ~10^13 at the audit SFs, far inside
    * the 2^53/10² exactness bound, and a 100 TB deployment would bump
    * the scale down (or α) rather than lose the order-independence.
    */
  def louvainWKatzCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds,
      iters: Int = PrIters): DataFrame = {
    import graft.functions.Exact
    val comm = louvainAssignCached(orders, lineitem, rounds)
    val wgt = louvainWeightsCached(orders, lineitem, rounds)
    val kc = comm.groupBy(col("c")).agg(sum(col("deg")).as("k"))
    var x = kc.select(col("c").as("id"), lit(1.0).as("x"), col("k"))
    for (_ <- 1 to iters) {
      val incoming = wgt.join(x, wgt("cs") === x("id"))
        .select(col("cd"),
          (col("w").cast("double") * col("x")).as("contrib"))
        .groupBy(col("cd")).agg(Exact.xsum(col("contrib"), 2).as("s"))
      x = x.join(incoming, x("id") === incoming("cd"), "left")
        .select(col("id"),
          (lit(1.0) + lit(KatzAlpha) * coalesce(col("s"), lit(0.0)))
            .as("x"),
          col("k"))
    }
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("x").desc, col("id"))
    x.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= PrTopK)
      .select(col("rk"), col("id").as("community"), col("x").as("wkatz"),
        col("k").as("w_degree"))
      .orderBy(col("rk"))
  }

  def sqlLouvainWKatz(rounds: Int = LouvainRounds,
      iters: Int = PrIters): String = {
    import graft.functions.Exact
    val a = s"CAST($KatzAlpha AS DOUBLE)"
    val iterCtes = (1 to iters).map { k =>
      s"""ws$k AS (
         |  SELECT e.cd,
         |    ${Exact.sqlSum("CAST(e.w AS DOUBLE) * r.x", 2)} AS s
         |  FROM wgt e JOIN wr${k - 1} r ON e.cs = r.id GROUP BY e.cd
         |), wr$k AS (
         |  SELECT r.id,
         |    CAST(1 AS DOUBLE) + $a * COALESCE(ws$k.s, CAST(0 AS DOUBLE))
         |      AS x,
         |    r.k
         |  FROM wr${k - 1} r LEFT JOIN ws$k ON r.id = ws$k.cd
         |)""".stripMargin
    }.mkString(",\n")
    s"""${sqlLouvainCtes(rounds)},
       |${sqlWgtKcCtes(rounds)},
       |wr0 AS (
       |  SELECT c AS id, CAST(1 AS DOUBLE) AS x, k FROM kc
       |),
       |$iterCtes
       |SELECT rk, id AS community, x AS wkatz, k AS w_degree FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY x DESC, id) AS rk
       |  FROM wr$iters
       |) WHERE rk <= $PrTopK ORDER BY rk""".stripMargin
  }

  /** Shared CTE chain through the contraction + one weighted round,
    * ending at `coarse` (node, c, cc) — the prefix of
    * [[sqlLouvainCoarse]] and [[sqlLouvainGain]].
    */
  private def sqlLouvainCoarseCtes(rounds: Int): String =
    s"""${sqlLouvainCtes(rounds)},
       |${sqlWgtKcCtes(rounds)}, candc AS (
       |  SELECT w.cs, w.cd,
       |    CAST(2 * w.w AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
       |      - CAST(2 * ks.k AS DOUBLE) * CAST(kd.k AS DOUBLE)
       |        / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS dq
       |  FROM wgt w
       |  JOIN kc ks ON w.cs = ks.c
       |  JOIN kc kd ON w.cd = kd.c
       |  CROSS JOIN m2
       |  WHERE w.cs <> w.cd
       |), bestc AS (
       |  SELECT cs, cd FROM (
       |    SELECT cs, cd, dq,
       |      ROW_NUMBER() OVER (PARTITION BY cs
       |                         ORDER BY dq DESC, cd) AS rk
       |    FROM candc
       |  ) WHERE rk = 1 AND dq > 0
       |), coarse AS MATERIALIZED (
       |  SELECT a.node, a.c, COALESCE(b.cd, a.c) AS cc
       |  FROM c$rounds a LEFT JOIN bestc b ON a.c = b.cs
       |)""".stripMargin

  /** Oracle for [[louvainCoarseCached]]: the shared local-moving prefix,
    * then contraction to the weighted super-graph and one synchronized
    * weighted round, unrolled in plain SQL.
    */
  def sqlLouvainCoarse(rounds: Int = LouvainRounds): String =
    s"""${sqlLouvainCoarseCtes(rounds)},
       |labc AS (
       |  SELECT cc, CAST(MIN(node) AS BIGINT) AS label
       |  FROM coarse GROUP BY cc
       |)
       |SELECT label, CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comms,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(MIN(node) AS BIGINT) AS min_node,
       |  CAST(MAX(node) AS BIGINT) AS max_node
       |FROM coarse JOIN labc USING (cc)
       |GROUP BY label
       |ORDER BY n_nodes DESC, label LIMIT $PrTopK""".stripMargin

  /** Oracle for [[louvainGainCached]]: both assignments' modularities
    * off one double-labeled edge pass; every ratio is double-cast
    * BIGINT over double-cast BIGINT (no BIGINT cross-products).
    */
  def sqlLouvainGain(rounds: Int = LouvainRounds): String =
    s"""${sqlLouvainCoarseCtes(rounds)},
       |x AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT)
       |      AS within_fine,
       |    CAST(SUM(CASE WHEN a.cc = b.cc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS within_coarse
       |  FROM edges e
       |  JOIN coarse a ON e.src = a.node
       |  JOIN coarse b ON e.dst = b.node
       |), sf AS (
       |  SELECT CAST(SUM(s * s) AS BIGINT) AS ss_f FROM (
       |    SELECT CAST(SUM(d.deg) AS BIGINT) AS s
       |    FROM coarse a JOIN deg d ON a.node = d.id GROUP BY a.c)
       |), sc AS (
       |  SELECT CAST(SUM(s * s) AS BIGINT) AS ss_c FROM (
       |    SELECT CAST(SUM(d.deg) AS BIGINT) AS s
       |    FROM coarse a JOIN deg d ON a.node = d.id GROUP BY a.cc)
       |)
       |SELECT m2.m2 AS n_dir_edges, x.within_fine, x.within_coarse,
       |  CAST(x.within_fine AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
       |    - CAST(sf.ss_f AS DOUBLE)
       |      / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS q_fine,
       |  CAST(x.within_coarse AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
       |    - CAST(sc.ss_c AS DOUBLE)
       |      / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS q_coarse,
       |  (CAST(x.within_coarse AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
       |    - CAST(sc.ss_c AS DOUBLE)
       |      / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)))
       |  - (CAST(x.within_fine AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
       |    - CAST(sf.ss_f AS DOUBLE)
       |      / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)))
       |  AS gain
       |FROM x, sf, sc, m2""".stripMargin

  // ------------------------------------- Louvain multi-level loop (r9)
  /** The FULL Louvain level loop (Blondel et al. 2008 §2 — "the passes
    * are iterated ... until there are no more changes and a maximum of
    * modularity is attained"): two guarded contraction levels above the
    * local-moving assignment, with two deliberate deltas from the r8
    * `graph_louvain_coarse` round, both of which exist to make the LOOP
    * converge rather than oscillate:
    *
    *  1. SYMMETRY-BROKEN moves: a community may only move to a target
    *     with a SMALLER label (cd < cs). The synchronized singleton
    *     round's move gain is symmetric in (C, D), so a mutual-best
    *     pair always swaps labels instead of merging — a 320k-graph
    *     search found ZERO bipartite fixtures where the symmetric round
    *     increases Q, because the only merges it can produce attach
    *     third parties to the WRONG half of a swapped pair. Restricting
    *     to descending labels turns the 2-cycle into an actual merge
    *     (the smaller-labeled side stays put) — the standard
    *     oscillation fix for synchronized label updates, applied to
    *     Louvain's move step. `graph_louvain_coarse` intentionally
    *     keeps the symmetric round (its swap artifact is documented and
    *     spec-pinned); this operator is the loop that must make
    *     progress.
    *  2. GUARDED accept: each level's contraction is applied only when
    *     its measured modularity gain is > 0 — computed purely from the
    *     level's OWN weighted artifacts (within = Σ diag(w), Σtot² from
    *     the contracted degree table; contracting preserves Q, so the
    *     coarse numbers ARE the fine numbers). The per-level Q sequence
    *     is therefore monotone non-decreasing BY CONSTRUCTION, and a
    *     rejected level is idempotent: the next level re-derives the
    *     same candidates and rejects again — Blondel's stopping rule.
    *
    * On the audit fixtures the loop does REAL work: sf0.001 runs
    * Q = −0.461 (side-pure local moving) → −0.0036 (level 1 merges a
    * crossed pair) → 0.0 (level 2 completes the merge; a graph with no
    * community structure tops out at the single-community Q = 0).
    *
    * Scale shape (the geometric-shrink property the paper's multi-level
    * loop is FOR): after the shared assignment/weight memos, EVERYTHING
    * here is |wgt|-keyed joins and |C_k|-row aggregates — no fine-edge
    * or fine-node pass at any level; each level's frame is the previous
    * level's community count, so the loop's total cost is a geometric
    * series dominated by its first contraction. The accept guards are
    * broadcast 1-row scalars riding crossJoins.
    */
  /** One symmetry-broken, gain-guarded contraction level: given the
    * current level's weighted community graph `w (cs, cd, w)` and
    * degrees `k (lab, k)`, returns the ACCEPTED label map
    * (lab, nxt) — `nxt` = the merged-into label when the level's total
    * gain is > 0, else `lab` (identity). All frames are |w|/|labels|
    * sized; `m2` rides as a broadcast scalar.
    */
  // private[graft]: Round9Spec drives the step over seeded random
  // weighted graphs to verify the guard's monotone-Q invariant against
  // a driver-side recompute
  private[graft] def louvainLevelStep(w: DataFrame, k: DataFrame,
      m2: DataFrame): DataFrame = {
    val m2d = col("m2").cast("double")
    val cand = w.filter(col("cd") < col("cs"))
      .join(k.select(col("lab").as("cs"), col("k").as("ks")), Seq("cs"))
      .join(k.select(col("lab").as("cd"), col("k").as("kd")), Seq("cd"))
      .crossJoin(broadcast(m2))
      .withColumn("dq",
        (lit(2L) * col("w")).cast("double") / m2d -
        (lit(2L) * col("ks")).cast("double") * col("kd").cast("double") /
          (m2d * m2d))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cs")).orderBy(col("dq").desc, col("cd"))
    val best = cand.withColumn("rk", row_number().over(wB))
      .filter(col("rk") === 1 && col("dq") > 0)
      .select(col("cs").as("lab"), col("cd").as("mv"))
    val a = k.join(best, Seq("lab"), "left")
      .select(col("lab"), coalesce(col("mv"), col("lab")).as("mv"),
        col("k"))
    // level gain from the level's own artifacts: within rises by the
    // newly-internal weight, Σtot² moves to the merged groups — every
    // operand a double-cast exact BIGINT (the gain-audit discipline)
    val w1 = w.filter(col("cs") === col("cd")).agg(sum(col("w")).as("x"))
      .select(coalesce(col("x"), lit(0L)).as("w1"))
    val w2 = w
      .join(a.select(col("lab").as("cs"), col("mv").as("ls")), Seq("cs"))
      .join(a.select(col("lab").as("cd"), col("mv").as("ld")), Seq("cd"))
      .filter(col("ls") === col("ld")).agg(sum(col("w")).as("x"))
      .select(coalesce(col("x"), lit(0L)).as("w2"))
    val s1 = k.agg(sum(col("k") * col("k")).as("s1"))
    val s2 = a.groupBy(col("mv")).agg(sum(col("k")).as("s"))
      .agg(sum(col("s") * col("s")).as("s2"))
    val g = w2.crossJoin(broadcast(w1)).crossJoin(broadcast(s1))
      .crossJoin(broadcast(s2)).crossJoin(broadcast(m2))
      .select(((col("w2").cast("double") - col("w1").cast("double")) /
          m2d -
        (col("s2").cast("double") - col("s1").cast("double")) /
          (m2d * m2d)).as("g"))
    a.crossJoin(broadcast(g))
      .select(col("lab"),
        when(col("g") > 0, col("mv")).otherwise(col("lab")).as("nxt"))
  }

  /** How many guarded contraction levels the loop unrolls above the
    * local-moving assignment. Blondel's loop runs "until no gain";
    * the guarded accept makes a converged level IDEMPOTENT (identity
    * map, zero new heavy subtrees), so a fixed unroll ≥ the data's
    * natural depth IS the full loop — both audit fixtures converge by
    * level 2 and spend level 3 in the stall path, which the spec pins.
    */
  val LouvainLevelCount = 3

  /** The level map (c, l1, …, l[[LouvainLevelCount]]) — fine community →
    * accepted per-level labels — pinned per (session, `orders`, `lineitem`,
    * rounds). A |C₀|-row frame: node-level readouts join it against the
    * shared assignment memo; the levels audit never needs to. */
  def louvainLevelMapsCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvlv:$rounds", orders, lineitem) {
      val comm = louvainAssignCached(orders, lineitem, rounds)
      val wgt = louvainWeightsCached(orders, lineitem, rounds)
      val m2 = comm.agg(sum(col("deg")).as("m2"))
      levelMapsFrom(wgt,
        comm.groupBy(col("c")).agg(sum(col("deg")).as("k"))
          .select(col("c").as("lab"), col("k")), m2)
    }
  }

  /** The guarded level loop over an arbitrary base partition's weighted
    * community graph `w0 (cs, cd, w)` and degree table `k0 (lab, k)` —
    * the shared core of [[louvainLevelMapsCached]] (base = the raw
    * local-moving partition) and [[louvainRefineLevelMapsCached]]
    * (base = the connectivity-refined partition). Returns the
    * accumulated map (c, l1..l[[LouvainLevelCount]]) with `c` = base
    * label. */
  private[graft] def levelMapsFrom(w0: DataFrame, k0: DataFrame,
      m2: DataFrame): DataFrame = {
      // per-level state: the CURRENT level's weighted community graph
      // and degree table (both |C_i|-bounded, shrinking per accepted
      // level), plus the accumulated (c, l1..li) map
      var w = w0
      var k = k0
      var maps: DataFrame = null
      for (i <- 1 to LouvainLevelCount) {
        // pin the step's map: it is referenced by the accumulated maps
        // frame AND (twice each) by the next level's weight/degree
        // contractions, and the unpinned tree grows exponentially with
        // the level count — level 3 spent minutes in the ANALYZER
        // before this pin. The frame is |C_{i-1}| rows; the pin is
        // cheap and also caps the lineage the level loop accumulates.
        val st = Iterate.pin(louvainLevelStep(w, k, m2))
        maps =
          if (i == 1) st.select(col("lab").as("c"), col("nxt").as("l1"))
          else maps.join(
            st.select(col("lab").as(s"l${i - 1}"), col("nxt").as(s"l$i")),
            Seq(s"l${i - 1}"))
        if (i < LouvainLevelCount) {
          // contract the level's graph THROUGH the accepted map — the
          // next step never touches anything finer than |C_i|
          val m = st.select(col("lab"), col("nxt"))
          w = w
            .join(m.select(col("lab").as("cs"), col("nxt").as("ls")),
              Seq("cs"))
            .join(m.select(col("lab").as("cd"), col("nxt").as("ld")),
              Seq("cd"))
            .groupBy(col("ls").as("cs"), col("ld").as("cd"))
            .agg(sum(col("w")).as("w"))
          k = k.join(m, Seq("lab"))
            .groupBy(col("nxt").as("lab")).agg(sum(col("k")).as("k"))
        }
      }
      maps.select(col("c") +:
        (1 to LouvainLevelCount).map(i => col(s"l$i")): _*)
  }

  /** Per-level audit readout: one row per level (0 = local moving,
    * 1 = first guarded contraction, 2 = second) with its community
    * count, within-community directed fine-edge count, Newman Q, and
    * gain vs the previous level. Monotone non-decreasing Q is the
    * full-loop convergence audit (Blondel et al. report exactly this
    * per-pass Q series); `Round9Spec` pins the monotonicity AND the
    * genuine-merge path at both audit SFs plus a hand-run toy.
    *
    * Scale shape: every aggregate below reads the |wgt| memo or the
    * |C₀|-row level map — within_l = Σ w over same-label weight rows,
    * Σtot_l² off the contracted degree table — broadcast into a 3-row
    * readout. NOTHING here touches fine edges or nodes.
    */
  def louvainLevelsCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame =
    levelsReadoutFrom(
      louvainAssignCached(orders, lineitem, rounds),
      louvainWeightsCached(orders, lineitem, rounds),
      louvainLevelMapsCached(orders, lineitem, rounds))

  /** The per-level Q readout over an arbitrary base partition `comm`
    * (node, c, deg), its contracted weighted graph `wgt` (cs, cd, w),
    * and the accumulated level map `maps` (c, l1..lN) — the shared core
    * of [[louvainLevelsCached]] and the refined-level rows of
    * [[louvainRefineCached]]. */
  private[graft] def levelsReadoutFrom(comm: DataFrame, wgt: DataFrame,
      maps: DataFrame): DataFrame = {
    val kc = comm.groupBy(col("c")).agg(sum(col("deg")).as("k"))
    val m2 = comm.agg(sum(col("deg")).as("m2"))
    val m2d = col("m2").cast("double")
    val N = LouvainLevelCount
    // level-l label column name inside the map frame (level 0 = c)
    def lc(l: Int): String = if (l == 0) "c" else s"l$l"
    // one |wgt| pass tags both ends with every level's labels
    val tagged = wgt
      .join(maps.select(col("c").as("cs") +:
        (1 to N).map(i => col(s"l$i").as(s"l${i}s")): _*), Seq("cs"))
      .join(maps.select(col("c").as("cd") +:
        (1 to N).map(i => col(s"l$i").as(s"l${i}d")): _*), Seq("cd"))
    def sideCol(l: Int, side: String): org.apache.spark.sql.Column =
      if (l == 0) col("c" + side) else col(s"l$l$side")
    val x = tagged.agg(
      sum(when(sideCol(0, "s") === sideCol(0, "d"), col("w"))
        .otherwise(0L)).as("w0"),
      (1 to N).map(l =>
        sum(when(sideCol(l, "s") === sideCol(l, "d"), col("w"))
          .otherwise(0L)).as(s"w$l")): _*)
    val kl = kc.join(maps, Seq("c"))
    def ssOf(l: Int): DataFrame =
      kl.groupBy(col(lc(l))).agg(sum(col("k")).as("s"))
        .agg(sum(col("s") * col("s")).as(s"ss$l"))
    val nc = maps.agg(countDistinct(col(lc(0))).as("n0"),
      (1 to N).map(l => countDistinct(col(lc(l))).as(s"n$l")): _*)
    def q(l: Int) =
      col(s"w$l").cast("double") / m2d -
        col(s"ss$l").cast("double") / (m2d * m2d)
    val wide = (0 to N).foldLeft(x)((f, l) =>
        f.crossJoin(broadcast(ssOf(l))))
      .crossJoin(broadcast(nc)).crossJoin(broadcast(m2))
    val rows = (0 to N).map { l =>
      struct(lit(l).as("level"), col(s"n$l").as("n_comms"),
        col(s"w$l").as("within"), q(l).as("q"),
        (if (l == 0) lit(0.0) else q(l) - q(l - 1)).as("gain"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.level").as("level"), col("r.n_comms").as("n_comms"),
        col("r.within").as("within"), col("r.q").as("q"),
        col("r.gain").as("gain"))
      .orderBy(col("level"))
  }

  // ------------------------------------- Leiden-style refinement level
  /** Split every community of `comm` (node, c, deg) into its connected
    * components over the within-community restriction of `edges`
    * (src, dst) — the Leiden remedy (Traag, Waltman & van Eck, "From
    * Louvain to Leiden: guaranteeing well-connected communities",
    * Sci. Rep. 2019) for local moving's known defect: a round can move
    * a community's cut vertex OUT, leaving the members it bridged in
    * one label with no path between them. Returns (node, c, rc, deg)
    * where `rc` is the refined label = the node's within-community
    * component id (min member, via [[Dedup.connectedComponents]] — the
    * library's ONE reachability algorithm); nodes with no
    * within-community edge are their own singleton component.
    *
    * Q never decreases under this split: within-weight is untouched
    * (by definition there are no edges between two components of the
    * same community) while Σtot² strictly shrinks whenever a community
    * actually splits (Σ(aᵢ)² > Σaᵢ² for a split into nonempty parts) —
    * the monotone-Q leg `Round10Spec` pins on random graphs.
    *
    * Scale shape: the within-edge restriction is two probes of the
    * src-partitioned edge memo + an equality filter (|E|-bounded); the
    * component iteration is [[Dedup.connectedComponents]]'s (per round
    * one hash join + thin min-agg on the ≤|E| within-subset, pointer
    * jumping ⇒ ~log₂(diameter) rounds, per-round lineage pinned).
    */
  private[graft] def refineAssign(comm: DataFrame,
      edges: DataFrame): DataFrame = {
    val within = edges
      .join(comm.select(col("node").as("src"), col("c").as("cs")),
        Seq("src"))
      .join(comm.select(col("node").as("dst"), col("c").as("cd")),
        Seq("dst"))
      .filter(col("cs") === col("cd"))
      // ONE orientation only: the edge memo carries both directions and
      // connectedComponents re-symmetrizes internally — passing both
      // would double every row of each pointer-jumping round's join
      .filter(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val cc = Dedup.connectedComponents(within)
    comm
      .join(cc.select(col("doc_id").as("node"), col("component")),
        Seq("node"), "left")
      .select(col("node"), col("c"),
        coalesce(col("component"), col("node")).as("rc"), col("deg"))
  }

  /** The connectivity-refined assignment (node, c, rc, deg), pinned per
    * (session, `orders`, `lineitem`, rounds) — the refined weights, the
    * refined level maps, and the [[louvainRefineCached]] readout all read
    * this one memo (the component iteration runs once per session). */
  def louvainRefineAssignCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvrf:$rounds", orders, lineitem) {
      val comm = louvainAssignCached(orders, lineitem, rounds)
      val edges = directedEdgeMemo(orders, lineitem)
      refineAssign(comm, edges)
    }
  }

  /** The refined partition's contracted weighted graph (cs, cd, w) —
    * the `rc`-keyed twin of [[louvainWeightsCached]], pinned per
    * (session, `orders`, `lineitem`, rounds). */
  def louvainRefinedWeightsCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvrw:$rounds", orders, lineitem) {
      val refc = louvainRefineAssignCached(orders, lineitem, rounds)
      val edges = directedEdgeMemo(orders, lineitem)
      edges
        .join(refc.select(col("node").as("src"), col("rc").as("cs")),
          Seq("src"))
        .join(refc.select(col("node").as("dst"), col("rc").as("cd")),
          Seq("dst"))
        .groupBy(col("cs"), col("cd")).agg(count(lit(1)).as("w"))
    }
  }

  /** The guarded level loop run from the REFINED base partition —
    * [[levelMapsFrom]] over the refined weights/degrees, pinned per (session,
    * `orders`, `lineitem`, rounds). Connectivity is preserved through every
    * subsequent level BY CONSTRUCTION: each accepted level-step merge group
    * is a star around its center `cd` in which every merged `cs` has an
    * actual weighted edge to the center (candidates come from the `w` frame,
    * so w(cs, cd) ≥ 1), and a union of connected communities pairwise linked
    * by real fine edges is connected — so the one refinement pass per
    * accepted level that Leiden prescribes is IDENTITY at every level above
    * the base here, and the loop runs it implicitly for free. The defect
    * lives entirely in the local-moving base partition, which
    * [[refineAssign]] repairs. */
  def louvainRefineLevelMapsCached(orders: DataFrame,
      lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val spark = orders.sparkSession
    graft.Memo.pinned(spark, s"graph.louvrlv:$rounds", orders, lineitem) {
      val refc = louvainRefineAssignCached(orders, lineitem, rounds)
      val rwgt = louvainRefinedWeightsCached(orders, lineitem, rounds)
      val m2 = refc.agg(sum(col("deg")).as("m2"))
      levelMapsFrom(rwgt,
        refc.groupBy(col("rc")).agg(sum(col("deg")).as("k"))
          .select(col("rc").as("lab"), col("k")), m2)
    }
  }

  /** The refinement audit readout — one row per stage:
    *
    *   - `moved` — the raw local-moving partition: community count,
    *     `n_split` = how many of its communities are internally
    *     DISCONNECTED (>1 within-community component — the measured
    *     Leiden defect), within-weight, Q;
    *   - `refined` — after the connectivity split: `n_split` = 0 by
    *     construction (the refined labels ARE the component ids),
    *     `gain` = Q_refined − Q_moved ≥ 0 (the monotone refine leg);
    *   - `level1..N` — the guarded contraction levels run from the
    *     REFINED base, gains chained level-over-level (the monotone
    *     contract legs). `n_split` is NULL on level rows: connectivity
    *     there is proved, not re-measured (see
    *     [[louvainRefineLevelMapsCached]] — star merges over real
    *     edges preserve connectedness).
    *
    * Scale shape: the one new iterative cost vs `graph_louvain_levels`
    * is the within-community component pass (|E|-bounded rounds, see
    * [[refineAssign]]); everything else reads |wgt|-bounded memos and
    * the |C₀|-row level map exactly like the unrefined readout, and the
    * per-level cost is |C_i|-bounded (same as the level step).
    */
  def louvainRefineCached(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = LouvainRounds): DataFrame = {
    val comm = louvainAssignCached(orders, lineitem, rounds)
    val wgt = louvainWeightsCached(orders, lineitem, rounds)
    val refc = louvainRefineAssignCached(orders, lineitem, rounds)
    val rwgt = louvainRefinedWeightsCached(orders, lineitem, rounds)
    val rmaps = louvainRefineLevelMapsCached(orders, lineitem, rounds)
    val m2d = col("m2").cast("double")
    // moved-partition scalars (all 1-row aggregates off shared memos)
    val m2 = comm.agg(sum(col("deg")).as("m2"))
    val wMv = wgt.filter(col("cs") === col("cd"))
      .agg(sum(col("w")).as("x"))
      .select(coalesce(col("x"), lit(0L)).as("w_mv"))
    val ssMv = comm.groupBy(col("c")).agg(sum(col("deg")).as("k"))
      .agg(sum(col("k") * col("k")).as("ss_mv"))
    val nMv = comm.agg(countDistinct(col("c")).as("n_mv"))
    // the measured defect: communities whose members span >1 refined
    // component label
    val split = refc.groupBy(col("c"))
      .agg(countDistinct(col("rc")).as("ncc"))
      .agg(sum(when(col("ncc") > 1, 1L).otherwise(0L)).as("x"))
      .select(coalesce(col("x"), lit(0L)).as("n_split"))
    val qMv = col("w_mv").cast("double") / m2d -
      col("ss_mv").cast("double") / (m2d * m2d)
    val movedWide = wMv.crossJoin(broadcast(ssMv))
      .crossJoin(broadcast(nMv)).crossJoin(broadcast(split))
      .crossJoin(broadcast(m2))
    val movedRow = movedWide.select(lit(0L).as("stage_id"),
      lit("moved").as("stage"), col("n_mv").as("n_comms"),
      col("n_split"), col("w_mv").as("within"), qMv.as("q"),
      lit(0.0).as("gain"))
    val qMvScalar = movedWide.select(qMv.as("q_mv"))
    val refLevels = levelsReadoutFrom(
      refc.select(col("node"), col("rc").as("c"), col("deg")),
      rwgt, rmaps)
    val refinedRow = refLevels.filter(col("level") === 0)
      .crossJoin(broadcast(qMvScalar))
      .select(lit(1L).as("stage_id"), lit("refined").as("stage"),
        col("n_comms"), lit(0L).as("n_split"), col("within"),
        col("q"), (col("q") - col("q_mv")).as("gain"))
    val levelRows = refLevels.filter(col("level") >= 1)
      .select((col("level") + 1).cast("long").as("stage_id"),
        concat(lit("level"), col("level").cast("string")).as("stage"),
        col("n_comms"), lit(null).cast("long").as("n_split"),
        col("within"), col("q"), col("gain"))
    movedRow.unionByName(refinedRow).unionByName(levelRows)
      .orderBy(col("stage_id"))
  }

  /** One symmetry-broken, gain-guarded level step in SQL — the oracle
    * twin of [[louvainLevelStep]], emitted with suffix `$sfx` over the
    * weight CTE `$wName (cs, cd, w)` and degree CTE `$kName (lab, k)`;
    * ends at `st$sfx (lab, nxt)`. */
  private def sqlLevelStepCtes(sfx: String, wName: String,
      kName: String): String = {
    val m2d = "CAST(m2.m2 AS DOUBLE)"
    s"""cand$sfx AS (
       |  SELECT w.cs, w.cd,
       |    CAST(2 * w.w AS DOUBLE) / $m2d
       |      - CAST(2 * ks.k AS DOUBLE) * CAST(kd.k AS DOUBLE)
       |        / ($m2d * $m2d) AS dq
       |  FROM $wName w
       |  JOIN $kName ks ON w.cs = ks.lab
       |  JOIN $kName kd ON w.cd = kd.lab
       |  CROSS JOIN m2
       |  WHERE w.cd < w.cs
       |), best$sfx AS (
       |  SELECT lab, mv FROM (
       |    SELECT cs AS lab, cd AS mv, dq,
       |      ROW_NUMBER() OVER (PARTITION BY cs
       |                         ORDER BY dq DESC, cd) AS rk
       |    FROM cand$sfx
       |  ) WHERE rk = 1 AND dq > 0
       |), a$sfx AS MATERIALIZED (
       |  SELECT k.lab, COALESCE(b.mv, k.lab) AS mv, k.k
       |  FROM $kName k LEFT JOIN best$sfx b ON k.lab = b.lab
       |), w1$sfx AS (
       |  SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS w1
       |  FROM $wName WHERE cs = cd
       |), w2$sfx AS (
       |  SELECT CAST(COALESCE(SUM(w.w), 0) AS BIGINT) AS w2
       |  FROM $wName w
       |  JOIN a$sfx s ON w.cs = s.lab
       |  JOIN a$sfx t ON w.cd = t.lab
       |  WHERE s.mv = t.mv
       |), s1$sfx AS (
       |  SELECT CAST(SUM(k * k) AS BIGINT) AS s1 FROM $kName
       |), s2$sfx AS (
       |  SELECT CAST(SUM(s * s) AS BIGINT) AS s2 FROM (
       |    SELECT CAST(SUM(k) AS BIGINT) AS s FROM a$sfx GROUP BY mv)
       |), g$sfx AS (
       |  SELECT (CAST(w2$sfx.w2 AS DOUBLE) - CAST(w1$sfx.w1 AS DOUBLE))
       |      / $m2d
       |    - (CAST(s2$sfx.s2 AS DOUBLE) - CAST(s1$sfx.s1 AS DOUBLE))
       |      / ($m2d * $m2d) AS g
       |  FROM w1$sfx, w2$sfx, s1$sfx, s2$sfx, m2
       |), st$sfx AS MATERIALIZED (
       |  SELECT a.lab, CASE WHEN g.g > 0 THEN a.mv ELSE a.lab END AS nxt
       |  FROM a$sfx a, g$sfx g
       |)""".stripMargin
  }

  /** The guarded level chain in SQL: [[LouvainLevelCount]] suffixed
    * level steps plus accumulated maps and per-level contractions, over
    * the base frames `${wp}0 (cs, cd, w)` / `${kp}0 (lab, k)`. Names
    * are prefix-parameterized so [[sqlLouvainLevels]] (`wgt`/`kc`/
    * `map`/`lv`) and [[sqlLouvainRefine]] (`rwgt`/`rkc`/`rmap`/`rlv`)
    * emit disjoint CTE sets from ONE generator. */
  private def sqlLevelChainCtes(wp: String, kp: String, mp: String,
      sp: String): String = {
    val N = LouvainLevelCount
    (1 to N).map { i =>
      val mapSel =
        if (i == 1) s"SELECT lab AS c, nxt AS l1 FROM st${sp}1"
        else s"""SELECT m.c${(1 until i).map(l => s", m.l$l").mkString},
                |    s.nxt AS l$i
                |  FROM $mp${i - 1} m JOIN st$sp$i s ON m.l${i - 1} = s.lab"""
          .stripMargin
      // contract through the per-label STEP map st$sp$i (lab, nxt) —
      // one row per level-(i-1) label — mirroring the DataFrame side's
      // `st`. The accumulated map has one row per FINE community, so
      // joining it on l${i-1} would multiply each weight/degree row by
      // the community's fine-member count once level i-1 accepts merges
      // (non-uniform group-size inflation of SUM(w)/SUM(k)).
      val contraction =
        if (i == N) ""
        else s""",
           |$wp$i AS MATERIALIZED (
           |  SELECT a.nxt AS cs, b.nxt AS cd, CAST(SUM(w.w) AS BIGINT) AS w
           |  FROM $wp${i - 1} w
           |  JOIN st$sp$i a ON w.cs = a.lab
           |  JOIN st$sp$i b ON w.cd = b.lab
           |  GROUP BY a.nxt, b.nxt
           |), $kp$i AS MATERIALIZED (
           |  SELECT s.nxt AS lab, CAST(SUM(k.k) AS BIGINT) AS k
           |  FROM $kp${i - 1} k
           |  JOIN st$sp$i s ON k.lab = s.lab
           |  GROUP BY s.nxt
           |)""".stripMargin
      s"""${sqlLevelStepCtes(s"$sp$i", s"$wp${i - 1}", s"$kp${i - 1}")},
         |$mp$i AS MATERIALIZED (
         |  $mapSel
         |)$contraction""".stripMargin
    }.mkString(",\n")
  }

  /** Exact cross-engine Q text: both operands are exact BIGINTs, the
    * divisions and the subtraction run in the one IEEE order both
    * engines share. */
  private def sqlQExpr(w: String, ss: String): String = {
    val m2d = "CAST(m2.m2 AS DOUBLE)"
    s"CAST($w AS DOUBLE) / $m2d - CAST($ss AS DOUBLE) / ($m2d * $m2d)"
  }

  /** The per-level readout CTEs over a finished chain: per-level
    * within-weights (`${p}lx`), Σtot² (`${p}ssl\$l`), community counts
    * (`${p}ncc`), and the q/n/w value row (`${p}qv`). Same prefixing
    * contract as [[sqlLevelChainCtes]]. */
  private def sqlLevelsReadoutCtes(wp: String, kp: String, mp: String,
      p: String): String = {
    val N = LouvainLevelCount
    val lxCols = (s"""CAST(SUM(CASE WHEN w.cs = w.cd THEN w.w ELSE 0 END)
       |      AS BIGINT) AS w0""".stripMargin) +:
      (1 to N).map(l =>
        s"""CAST(SUM(CASE WHEN a.l$l = b.l$l THEN w.w ELSE 0 END)
           |      AS BIGINT) AS w$l""".stripMargin)
    val sslCtes = (s"""${p}ssl0 AS (
       |  SELECT CAST(SUM(k * k) AS BIGINT) AS ss0 FROM ${kp}0
       |)""".stripMargin) +:
      (1 to N).map(l =>
        s"""${p}ssl$l AS (
           |  SELECT CAST(SUM(s * s) AS BIGINT) AS ss$l FROM (
           |    SELECT CAST(SUM(k) AS BIGINT) AS s FROM ${p}kl GROUP BY l$l)
           |)""".stripMargin)
    val ncCols = s"CAST(COUNT(DISTINCT c) AS BIGINT) AS n0" +:
      (1 to N).map(l => s"CAST(COUNT(DISTINCT l$l) AS BIGINT) AS n$l")
    val qvCols = (0 to N).flatMap(l =>
      Seq(s"${p}lx.w$l", s"${p}ncc.n$l",
        s"${sqlQExpr(s"${p}lx.w$l", s"${p}ssl$l.ss$l")} AS q$l"))
    s"""${p}lx AS (
       |  SELECT
       |    ${lxCols.mkString(",\n    ")}
       |  FROM ${wp}0 w
       |  JOIN $mp$N a ON w.cs = a.c
       |  JOIN $mp$N b ON w.cd = b.c
       |), ${p}kl AS (
       |  SELECT k.lab, k.k${(1 to N).map(l => s", m.l$l").mkString}
       |  FROM ${kp}0 k JOIN $mp$N m ON k.lab = m.c
       |), ${sslCtes.mkString(", ")}, ${p}ncc AS (
       |  SELECT ${ncCols.mkString(",\n    ")}
       |  FROM $mp$N
       |), ${p}qv AS (
       |  SELECT ${qvCols.mkString(",\n    ")}
       |  FROM ${p}lx, ${(0 to N).map(l => s"${p}ssl$l").mkString(", ")}, ${p}ncc, m2
       |)""".stripMargin
  }

  /** Oracle for [[louvainLevelsCached]]: the local-moving prefix, the
    * fine-community weight/degree contraction, [[LouvainLevelCount]]
    * suffixed level steps through the guarded maps, then the
    * |wgt|-bounded per-level Q readout — LouvainLevelCount+1 rows. */
  def sqlLouvainLevels(rounds: Int = LouvainRounds): String = {
    val N = LouvainLevelCount
    val arms = (0 to N).map { l =>
      val gain = if (l == 0) "CAST(0 AS DOUBLE)" else s"q$l - q${l - 1}"
      if (l == 0)
        s"SELECT 0 AS level, n0 AS n_comms, w0 AS within, q0 AS q,\n  $gain AS gain FROM qv"
      else s"SELECT $l, n$l, w$l, q$l, $gain FROM qv"
    }.mkString("\nUNION ALL\n")
    s"""${sqlLouvainCtes(rounds)},
       |${sqlWgtKcCtes(rounds, "wgt0", "kc0", "lab")},
       |${sqlLevelChainCtes("wgt", "kc", "map", "lv")},
       |${sqlLevelsReadoutCtes("wgt", "kc", "map", "")}
       |$arms
       |ORDER BY level""".stripMargin
  }

  /** Oracle for [[louvainRefineCached]]: the local-moving prefix, the
    * within-community transitive closure (the same recursive-CTE
    * reachability as [[Dedup.sqlComponentsCtes]], restricted to edges
    * whose ends share a community), the refined contraction, the level
    * chain + readout over the REFINED base (prefix-disjoint from
    * [[sqlLouvainLevels]]'s via [[sqlLevelChainCtes]]), and the
    * moved-partition scalars for the stage-0 row and the refine gain. */
  def sqlLouvainRefine(rounds: Int = LouvainRounds): String = {
    val N = LouvainLevelCount
    val arms = ((0 to N).map { l =>
      if (l == 0)
        s"""SELECT CAST(1 AS BIGINT) AS stage_id, 'refined' AS stage,
           |  n0 AS n_comms, CAST(0 AS BIGINT) AS n_split, w0 AS within,
           |  q0 AS q, q0 - qm.q_mv AS gain FROM rqv, qm""".stripMargin
      else
        s"SELECT CAST(${l + 1} AS BIGINT), 'level$l', n$l, " +
          s"CAST(NULL AS BIGINT), w$l, q$l, q$l - q${l - 1} FROM rqv"
    }).mkString("\nUNION ALL\n")
    s"""${sqlLouvainCtes(rounds).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |${sqlWgtKcCtes(rounds, "wgtm", "kcm", "lab")},
       |wpairs AS (
       |  SELECT e.src AS doc_a, e.dst AS doc_b
       |  FROM edges e
       |  JOIN c$rounds a ON e.src = a.node
       |  JOIN c$rounds b ON e.dst = b.node
       |  WHERE a.c = b.c
       |), wedges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM wpairs
       |  UNION
       |  SELECT doc_b, doc_a FROM wpairs
       |), wreach(src, dst) AS (
       |  SELECT src, dst FROM wedges
       |  UNION
       |  SELECT r.src, e.dst FROM wreach r JOIN wedges e ON r.dst = e.src
       |), wcomp AS (
       |  SELECT src AS node, least(src, MIN(dst)) AS rc
       |  FROM wreach GROUP BY src
       |), refc AS MATERIALIZED (
       |  SELECT a.node, a.c, COALESCE(w.rc, a.node) AS rc, d.deg
       |  FROM c$rounds a
       |  JOIN deg d ON a.node = d.id
       |  LEFT JOIN wcomp w ON a.node = w.node
       |), rwgt0 AS MATERIALIZED (
       |  SELECT a.rc AS cs, b.rc AS cd, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM edges e
       |  JOIN refc a ON e.src = a.node
       |  JOIN refc b ON e.dst = b.node
       |  GROUP BY a.rc, b.rc
       |), rkc0 AS MATERIALIZED (
       |  SELECT rc AS lab, CAST(SUM(deg) AS BIGINT) AS k
       |  FROM refc GROUP BY rc
       |),
       |${sqlLevelChainCtes("rwgt", "rkc", "rmap", "rlv")},
       |${sqlLevelsReadoutCtes("rwgt", "rkc", "rmap", "r")},
       |wm AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN cs = cd THEN w ELSE 0 END),
       |    0) AS BIGINT) AS w_mv FROM wgtm
       |), ssm AS (
       |  SELECT CAST(SUM(k * k) AS BIGINT) AS ss_mv FROM kcm
       |), nm AS (
       |  SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) AS n_mv FROM kcm
       |), spl AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN ncc > 1 THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS n_split
       |  FROM (SELECT c, COUNT(DISTINCT rc) AS ncc FROM refc GROUP BY c)
       |), qm AS (
       |  SELECT ${sqlQExpr("wm.w_mv", "ssm.ss_mv")} AS q_mv
       |  FROM wm, ssm, m2
       |)
       |SELECT CAST(0 AS BIGINT) AS stage_id, 'moved' AS stage,
       |  nm.n_mv AS n_comms, spl.n_split, wm.w_mv AS within,
       |  qm.q_mv AS q, CAST(0 AS DOUBLE) AS gain
       |FROM nm, spl, wm, qm
       |UNION ALL
       |$arms
       |ORDER BY stage_id""".stripMargin
  }

  // --------------------------------------------- personalized PageRank
  /** Seed-node count for [[pprCached]]: customers with id < PprSeeds. */
  val PprSeeds = 10L

  /** Personalized PageRank (Page, Brin, Motwani & Winograd, "The
    * PageRank citation ranking", 1999 §6 "personalized" teleport; the
    * random surfer restarts at a SEED set instead of uniformly): rank
    * mass teleports only to the [[PprSeeds]] lowest-id customers, so the
    * stationary scores measure proximity to those accounts — "which
    * suppliers matter to THESE customers", the recommendation/expansion
    * twin of the global [[pagerankCached]] importance score.
    *
    * Scale shape: identical to [[pagerankCached]] — it composes over the
    * SAME pinned directed-edge and degree memos (`prede`/`prdeg` keys,
    * zero extra suite cost when both queries run), each round is one
    * hash-join + exact-decimal aggregation, and the seed cardinality
    * rides as a broadcast 1-row aggregate exactly like |V| does. The
    * only delta from the global rounds is the teleport term's
    * seed-indicator CASE. Dangling mass: every node of this graph has
    * out-edges, so no correction term is needed (same argument as
    * [[pagerankCached]]).
    */
  def pprCached(orders: DataFrame, lineitem: DataFrame,
      iters: Int = PrIters): DataFrame = {
    val spark = orders.sparkSession
    val edges = directedEdgeMemo(orders, lineitem)
    val degN = graft.Memo.pinned(spark, "graph.prdeg", edges)(degWithN(edges))
    pprRounds(edges, degN, iters)
  }

  private def pprRounds(edges: DataFrame, degN: DataFrame,
      iters: Int): DataFrame = {
    import graft.functions.Exact
    val seeded = degN.select(col("id"), col("deg"),
      (col("id") < PprSeeds).as("is_seed"))
    val ns = seeded.filter(col("is_seed")).agg(count(lit(1)).as("ns"))
    var ranks = seeded.crossJoin(broadcast(ns))
      .select(col("id"),
        when(col("is_seed"), lit(1.0) / col("ns"))
          .otherwise(lit(0.0)).as("rank"),
        col("deg"), col("is_seed"), col("ns"))
    for (i <- 1 to iters) {
      val incoming = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("dst"))
        .agg(Exact.xsum(col("c"), 12).as("s"))
      ranks = ranks.join(incoming, ranks("id") === incoming("dst"), "left")
        .select(col("id"),
          (when(col("is_seed"), lit(1.0 - Damping) / col("ns"))
            .otherwise(lit(0.0))
            + lit(Damping) * coalesce(col("s"), lit(0.0))).as("rank"),
          col("deg"), col("is_seed"), col("ns"))
      if (i % 3 == 0 && i < iters) ranks = Iterate.pin(ranks)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("rank").desc, col("id"))
    ranks
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PrTopK)
      .select(col("rk"), col("id").as("node_id"), col("rank"),
        col("is_seed"))
      .orderBy(col("rk"))
  }

  // --------------------------------------------------------------- HITS
  /** Kleinberg's HITS (J. Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) on the bipartite cust→supp
    * graph: hubs are customers (they point at suppliers), authorities
    * are suppliers. Scores come from UNNORMALIZED integer power
    * iterations — a⁽¹⁾ = 1ᵀA (the supplier degree), h⁽¹⁾ = A·a⁽¹⁾,
    * a⁽²⁾ = AᵀA·a⁽¹⁾, h⁽²⁾ = A·a⁽²⁾ — so every intermediate is an exact
    * BIGINT and the per-round L2 normalization (a cross-engine-fragile
    * sqrt-of-sum-of-squares divide) is DEFERRED entirely: normalizing
    * only rescales, never reorders, so the top-k by raw integer score IS
    * the top-k by normalized score, and the reported `share` (score over
    * the side's total) is one exact-int division at the end. Growth per
    * full iteration is ~mean_deg·max_deg; with two iterations the
    * largest score is ≤ |E|·max_deg² — under 2^53 through SF 100 on this
    * schema (and the 1000× scale guard is a rescale-by-2^k shift every
    * few rounds, not a redesign).
    *
    * Scale shape: each half-round is one hash join of the pinned edge
    * frame with a |side|-row score frame plus a map-side-combining sum;
    * the multi-consumer score frames (a⁽²⁾ feeds the next half-round AND
    * its own top-k AND its total) are pinned so no subtree re-runs. The
    * final ranking is per-side WindowGroupLimit top-k, never a global
    * sort of the node set.
    */
  val HitsTopK = PrTopK

  def hitsCached(orders: DataFrame, lineitem: DataFrame): DataFrame =
    hitsFrom(custSuppEdgesCached(orders, lineitem))

  def hitsFrom(e0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a1 = e0.groupBy(col("supp")).agg(count(lit(1)).as("a"))
    val h1 = e0.join(a1, "supp").groupBy(col("cust"))
      .agg(sum(col("a")).as("h"))
    val a2 = Iterate.pin(e0.join(h1, "cust").groupBy(col("supp"))
      .agg(sum(col("h")).as("a")))
    val h2 = Iterate.pin(e0.join(a2, "supp").groupBy(col("cust"))
      .agg(sum(col("a")).as("h")))
    def side(df: DataFrame, idCol: String, sCol: String,
        label: String): DataFrame = {
      val tot = df.agg(sum(col(sCol)).as("t"))
      val w = Window.orderBy(col(sCol).desc, col(idCol))
      df.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= HitsTopK)
        .crossJoin(broadcast(tot))
        .select(lit(label).as("side"), col("rk"),
          col(idCol).cast("long").as("node_id"),
          col(sCol).as("score"),
          (col(sCol).cast("double") / col("t").cast("double")).as("share"))
    }
    side(h2, "cust", "h", "hub")
      .unionByName(side(a2, "supp", "a", "auth"))
      .orderBy(col("side"), col("rk"))
  }

  /** DuckDB oracle: the same two unrolled integer half-round pairs. */
  def sqlHits: String =
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), a1 AS (
       |  SELECT supp, CAST(COUNT(*) AS BIGINT) AS a FROM e0 GROUP BY supp
       |), h1 AS (
       |  SELECT cust, CAST(SUM(a) AS BIGINT) AS h
       |  FROM e0 JOIN a1 USING (supp) GROUP BY cust
       |), a2 AS MATERIALIZED (
       |  SELECT supp, CAST(SUM(h) AS BIGINT) AS a
       |  FROM e0 JOIN h1 USING (cust) GROUP BY supp
       |), h2 AS (
       |  SELECT cust, CAST(SUM(a) AS BIGINT) AS h
       |  FROM e0 JOIN a2 USING (supp) GROUP BY cust
       |), at AS (SELECT CAST(SUM(a) AS BIGINT) AS t FROM a2),
       |ht AS (SELECT CAST(SUM(h) AS BIGINT) AS t FROM h2),
       |toph AS (
       |  SELECT 'hub' AS side,
       |    CAST(ROW_NUMBER() OVER (ORDER BY h DESC, cust) AS BIGINT) AS rk,
       |    CAST(cust AS BIGINT) AS node_id, h AS score,
       |    CAST(h AS DOUBLE) / CAST(t AS DOUBLE) AS share
       |  FROM h2, ht
       |), topa AS (
       |  SELECT 'auth' AS side,
       |    CAST(ROW_NUMBER() OVER (ORDER BY a DESC, supp) AS BIGINT) AS rk,
       |    CAST(supp AS BIGINT) AS node_id, a AS score,
       |    CAST(a AS DOUBLE) / CAST(t AS DOUBLE) AS share
       |  FROM a2, at
       |)
       |SELECT * FROM (
       |  SELECT * FROM toph WHERE rk <= $HitsTopK
       |  UNION ALL
       |  SELECT * FROM topa WHERE rk <= $HitsTopK
       |) ORDER BY side, rk""".stripMargin

  /** DuckDB oracle: the [[sqlPagerank]] unroll with the seeded teleport. */
  def sqlPpr(iters: Int = PrIters): String = {
    import graft.functions.Exact
    val oneMinusD = s"CAST(${1.0 - Damping} AS DOUBLE)"
    val dD = s"CAST($Damping AS DOUBLE)"
    val rounds = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT e.dst, ${Exact.sqlSum("r.rank / r.deg", 12)} AS s
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.id GROUP BY e.dst
         |), r$k AS (
         |  SELECT r.id,
         |    CASE WHEN r.is_seed THEN $oneMinusD / r.ns
         |         ELSE CAST(0 AS DOUBLE) END
         |      + $dD * COALESCE(s$k.s, CAST(0 AS DOUBLE)) AS rank,
         |    r.deg, r.is_seed, r.ns
         |  FROM r${k - 1} r LEFT JOIN s$k ON r.id = s$k.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT cust AS src, supp + $SuppBase AS dst FROM e0
       |  UNION ALL
       |  SELECT supp + $SuppBase, cust FROM e0
       |), deg AS (
       |  SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src
       |), sd AS (
       |  SELECT id, deg, id < $PprSeeds AS is_seed FROM deg
       |), ns AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sd WHERE is_seed
       |),
       |r0 AS (
       |  SELECT id,
       |    CASE WHEN is_seed THEN CAST(1 AS DOUBLE) / ns
       |         ELSE CAST(0 AS DOUBLE) END AS rank,
       |    deg, is_seed, ns
       |  FROM sd, ns
       |),
       |$rounds
       |SELECT rk, id AS node_id, rank, is_seed FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rank DESC, id) AS rk
       |  FROM r$iters
       |) WHERE rk <= $PrTopK ORDER BY rk""".stripMargin
  }
}
