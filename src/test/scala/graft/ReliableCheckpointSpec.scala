package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Similarity, TextOps}

/** The whole iterative family under the RELIABLE checkpoint path.
  *
  * `Iterate.pin` flips every iterative operator from executor-local
  * lineage cuts to durable `checkpoint()` files the moment the session
  * has a checkpoint dir configured (`Iterate.scala`) — the one-line
  * deployment opt-in for executor-loss safety on long 100 TB jobs.
  * `ScaleOpsSpec` exercises that switch once (connected components);
  * this spec runs ONE representative of each iterative operator family
  * — PageRank (graph mass iteration), label propagation (graph argmax
  * iteration), Lloyd's k-means (centroid refinement), BPE (vocabulary
  * growth), NSW walk (beam search rounds) — under a set checkpoint dir
  * and asserts bit-identical results to the executor-local path, plus
  * that durable files actually landed.
  */
class ReliableCheckpointSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  // the registry's memo routes; each pass runs in a new session, so the
  // checkpointed pass rebuilds every memo under the checkpoint dir
  // instead of reading the baseline pass's pinned frames
  private val family: Seq[(String, SparkSession => DataFrame)] = Seq(
    "pagerank" -> (s =>
      Graph.pagerankCached(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "label_propagation" -> { s =>
      val docs = Tables.documents(s, dir)
      Dedup.labelPropagation(Dedup.minhashPairs(docs), docs)
    },
    "lloyds_kmeans" -> { s =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfKmeans(emb, Similarity.ivfCentsCached(emb))
    },
    "bpe_merges" -> (s => TextOps.bpeMerges(Tables.documents(s, dir))),
    "nsw_walk" -> (s => Similarity.nswWalkCached(Tables.embeddings(s, dir))),
    "katz_4rounds" -> (s =>
      Graph.katzCached(Tables.orders(s, dir), Tables.lineitem(s, dir),
        iters = 4)), // 4 rounds so the every-3rd-round pin actually fires
    "anf_kmv" -> (s =>
      Graph.anfCached(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // the round-8 fused local-moving rounds + weighted contraction: the
    // per-round assignment pins and the coarse memo must flip to the
    // durable path like every other iteration
    "louvain_coarse" -> (s =>
      Graph.louvainCoarseCached(Tables.orders(s, dir),
        Tables.lineitem(s, dir))))

  private def snapshot(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col)
    df.select(cols.toIndexedSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  test("iterative family: reliable checkpoints, identical results") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite session has no checkpoint dir")
    val local = spark.newSession()
    val baseline = try family.map { case (name, build) =>
      name -> snapshot(build(local))
    } finally Tables.invalidate(local)
    val ckDir = tempDir("graft_ck_family").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    val durableSession = spark.newSession()
    try {
      for ((name, build) <- family) {
        val durable = snapshot(build(durableSession))
        val base = baseline.toMap.apply(name)
        assert(durable == base,
          s"$name diverged under the reliable checkpoint path")
      }
      val files = Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => p.toFile.isFile).count()
      assert(files > 0, s"no reliable checkpoint files landed under $ckDir")
    } finally {
      Tables.invalidate(durableSession)
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
