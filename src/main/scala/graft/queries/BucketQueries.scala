package graft
package queries

import graft.operators.Bucketing

/** The `bucket_*` queries: bucketed joins. */
object BucketQueries extends QueryFamily("bucket") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("bucket_join", (s, d) => Bucketing.bucketJoin(s, d), Bucketing.sqlBucketJoin),
  )
}
