package graft
package queries

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** Fixture inputs read by more than one query family. */
object Shared {

  private[queries] def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private[queries] def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)
  /** Shared near-dup clustering artifacts for the fixture corpus — the
    * cluster-policy queries all derive from this one memoized pass (see
    * [[Dedup.clusterArtifactsCached]]).
    */
  private[queries] def arts(s: SparkSession, dir: String): Dedup.ClusterArtifacts =
    Dedup.clusterArtifactsCached(docs(s, dir))
}
