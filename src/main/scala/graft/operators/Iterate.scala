package graft.operators

import org.apache.spark.sql.Dataset

/** Lineage-cutting for iterative / multi-consumer dataframes, with a
  * pluggable durability level.
  *
  * Iterative plans (label propagation, PageRank, Lloyd's rounds, BPE merge
  * rounds) grow their join lineage exponentially per round — cutting it is
  * mandatory. HOW it is cut decides fault tolerance at cluster scale:
  *
  *  - `localCheckpoint(eager = true)` stores the materialized blocks on
  *    EXECUTORS only and truncates lineage. Fast (no DFS round-trip), but
  *    after truncation the blocks are the only copy — lose one executor
  *    mid-iteration on a real cluster and the job dies unrecoverably.
  *    Acceptable for local runs and short-lived frames; not for a 100 TB
  *    job that has been iterating for an hour.
  *  - reliable `checkpoint(eager = true)` writes the rows to the session's
  *    checkpoint directory (HDFS/S3 at cluster scale) and re-reads from
  *    there; executor loss just re-fetches from durable storage.
  *
  * [[pin]] selects automatically: reliable when the session has a
  * checkpoint dir configured (`spark.sparkContext.setCheckpointDir(...)` —
  * the deployment's opt-in that durable storage exists), executor-local
  * otherwise. Every iterative operator in the library routes its per-round
  * cut through here, so a deployment flips ALL of them to fault-tolerant
  * with one line of driver code and zero library changes.
  */
object Iterate {
  /** Cut `df`'s lineage eagerly — reliably if the session has a checkpoint
    * dir, executor-locally otherwise.
    */
  def pin[T](df: Dataset[T]): Dataset[T] =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
