package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** The `graph_*` queries: graph analytics over the customer–supplier and
  * part co-occurrence graphs. */
object GraphQueries extends QueryFamily("graph") {

  val specs: Seq[QuerySpec] = Seq(
    // the distinct customer–supplier pair set is the expensive subtree of
    // every graph query AND a useful product on its own — both entries
    // read the shared pinned edge memo, so a suite run builds it once
    QuerySpec("graph_edges", (s, d) =>
      Graph.custSuppEdgesCached(Tables.orders(s, d), Tables.lineitem(s, d))
        .orderBy(col("cust"), col("supp")),
      """SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY cust, supp""".stripMargin),
    QuerySpec("graph_pagerank", (s, d) =>
      Graph.pagerankCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlPagerank()),
    QuerySpec("graph_ppr", (s, d) => Graph.pprCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlPpr()),
    QuerySpec("graph_katz", (s, d) =>
      Graph.katzCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlKatz()),
    QuerySpec("graph_anf", (s, d) => Graph.anfCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlAnf()),
    QuerySpec("graph_louvain", (s, d) =>
      Graph.louvainCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvain()),
    QuerySpec("graph_louvain_coarse", (s, d) =>
      Graph.louvainCoarseCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvainCoarse()),
    QuerySpec("graph_louvain_gain", (s, d) =>
      Graph.louvainGainCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvainGain()),
    QuerySpec("graph_wpagerank", (s, d) =>
      Graph.louvainWPagerankCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvainWPagerank()),
    QuerySpec("graph_louvain_levels", (s, d) =>
      Graph.louvainLevelsCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvainLevels()),
    QuerySpec("graph_wkatz", (s, d) =>
      Graph.louvainWKatzCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvainWKatz()),
    QuerySpec("graph_louvain_refine", (s, d) =>
      Graph.louvainRefineCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlLouvainRefine()),
    QuerySpec("graph_louvain_segments", (s, d) =>
      Graph.louvainSegmentsCached(
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.customer(s, d)),
      Graph.sqlLouvainSegments()),
    QuerySpec("graph_hits", (s, d) =>
      Graph.hitsCached(Tables.orders(s, d), Tables.lineitem(s, d)),
      Graph.sqlHits),
    QuerySpec("graph_components", (s, d) =>
      Graph.components(Graph.componentLabelsCached(
        Tables.orders(s, d), Tables.lineitem(s, d))),
      Graph.sqlComponents),
    // part co-occurrence graph: triangles / degree histogram /
    // assortativity / BFS share one pinned edge memo (the expensive
    // basket→pair expansion runs once) AND one pinned degree table
    QuerySpec("graph_triangles", (s, d) =>
      Graph.triangleStats(
        Graph.coPartEdgesCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d)),
        Graph.coPartCommonCached(Tables.lineitem(s, d))),
      Graph.sqlTriangleStats),
    QuerySpec("graph_degrees", (s, d) =>
      Graph.degreeHistogram(Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlDegreeHistogram),
    // both link-score rankings read the ONE pinned intersection pass
    QuerySpec("graph_common_neighbors", (s, d) =>
      Graph.commonNeighbors(Graph.coPartCommonCached(Tables.lineitem(s, d))),
      Graph.sqlCommonNeighbors),
    QuerySpec("graph_link_jaccard", (s, d) =>
      Graph.linkJaccard(Graph.coPartCommonCached(Tables.lineitem(s, d))),
      Graph.sqlLinkJaccard),
    QuerySpec("graph_local_cc", (s, d) =>
      Graph.localClustering(
        Graph.coPartCommonCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlLocalClustering),
    QuerySpec("graph_peel", (s, d) =>
      Graph.peelProfile(
        Graph.coPartEdgesCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlPeelProfile()),
    QuerySpec("graph_assortativity", (s, d) =>
      Graph.assortativity(
        Graph.coPartEdgesCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlAssortativity),
    QuerySpec("graph_truss", (s, d) =>
      Graph.trussProfile(Graph.coPartCommonCached(Tables.lineitem(s, d))),
      Graph.sqlTrussProfile()),
    QuerySpec("graph_richclub", (s, d) =>
      Graph.richClub(
        Graph.coPartCommonCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlRichClub),
    QuerySpec("graph_conductance", (s, d) =>
      Graph.conductance(
        Graph.coPartEdgesCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlConductance),
    // degree-weighted link prediction reads the SAME edge/degree memos
    // as the other link rankings
    QuerySpec("graph_adamic_adar", (s, d) =>
      Graph.adamicAdar(Graph.coPartAaCached(Tables.lineitem(s, d))),
      Graph.sqlAdamicAdar),
    // both BFS readouts derive from the SHARED seeded distance-frame
    // memo (Graph.seededLevelsCached) — the level-synchronous join
    // chain runs once per (session, edge memo), not once per query
    QuerySpec("graph_bfs", (s, d) =>
      Graph.bfsLevels(Graph.seededLevelsCached(
        Graph.coPartEdgesCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d)))),
      Graph.sqlBfsLevels),
    QuerySpec("graph_closeness", (s, d) =>
      Graph.closeness(Graph.seededLevelsCached(
        Graph.coPartEdgesCached(Tables.lineitem(s, d)),
        Graph.coPartDegreesCached(Tables.lineitem(s, d)))),
      Graph.sqlCloseness),
    QuerySpec("graph_degree_gini", (s, d) =>
      Graph.degreeGini(Graph.coPartDegreesCached(Tables.lineitem(s, d))),
      Graph.sqlDegreeGini),
  )
}
