package graft
package queries

import org.apache.spark.sql.SparkSession

/** Fixture inputs read by more than one query family. */
object Shared {

  private[queries] def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private[queries] def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)
}
