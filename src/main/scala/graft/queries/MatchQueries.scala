package graft
package queries

import graft.operators.Match

/** The `match_*` queries: Jaro-Winkler record matching, blocking and
  * clustering. */
object MatchQueries extends QueryFamily("match") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("match_jw_pairs", (s, d) => Match.jwPairs(Tables.part(s, d)), Match.sqlJwPairs),
    QuerySpec("match_best", (s, d) => Match.bestMatch(Tables.part(s, d)), Match.sqlBestMatch),
    QuerySpec("match_blocking", (s, d) => Match.blockingAudit(Tables.part(s, d)),
      Match.sqlBlockingAudit),
    QuerySpec("match_clusters", (s, d) => Match.matchClusters(Tables.part(s, d)),
      Match.sqlMatchClusters),
  )
}
