package graft
package queries

import graft.operators.Layout

/** The `layout_*` queries: data-layout and file-skipping audits. */
object LayoutQueries extends QueryFamily("layout") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("layout_zorder", (s, d) => Layout.zorderAudit(Tables.lineitem(s, d)),
      Layout.sqlZorderAudit),
    QuerySpec("layout_pruning", (s, d) => Layout.pruningAudit(Tables.lineitem(s, d)),
      Layout.sqlPruningAudit),
    QuerySpec("layout_hilbert", (s, d) => Layout.hilbertAudit(Tables.lineitem(s, d)),
      Layout.sqlHilbertAudit),
    QuerySpec("layout_bloom_skip", (s, d) => Layout.bloomSkipAudit(Tables.lineitem(s, d)),
      Layout.sqlBloomSkipAudit),
    QuerySpec("layout_compaction", (s, d) => Layout.compactionPlan(Tables.lineitem(s, d)),
      Layout.sqlCompactionPlan),
  )
}
