package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
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

  private def docs: DataFrame = Tables.documents(spark, dir)
  private def emb: DataFrame = Tables.embeddings(spark, dir)

  // the registry's memo routes with a fresh cache key per call: the
  // per-(session, key) memos would otherwise hand the second run the
  // FIRST run's pinned frames and the comparison would be vacuous
  private val family: Seq[(String, () => DataFrame)] = Seq(
    "pagerank" -> (() =>
      Graph.pagerankCached(Tables.orders(spark, dir),
        Tables.lineitem(spark, dir), "ck-pr-" + System.nanoTime)),
    "label_propagation" -> (() =>
      Dedup.labelPropagation(Dedup.minhashPairs(docs), docs)),
    "lloyds_kmeans" -> (() => Similarity.ivfKmeans(emb,
      Similarity.ivfCentsCached(emb, "ck-kmeans-" + System.nanoTime))),
    "bpe_merges" -> (() => TextOps.bpeMerges(docs, "ck-bpe-" + System.nanoTime)),
    "nsw_walk" -> (() =>
      Similarity.nswWalkCached(emb, "ck-nsw-" + System.nanoTime)),
    "katz_4rounds" -> (() =>
      Graph.katzCached(Tables.orders(spark, dir),
        Tables.lineitem(spark, dir), "ck-katz-" + System.nanoTime,
        iters = 4)), // 4 rounds so the every-3rd-round pin actually fires
    "anf_kmv" -> (() =>
      Graph.anfCached(Tables.orders(spark, dir),
        Tables.lineitem(spark, dir), "ck-anf-" + System.nanoTime)),
    // the round-8 fused local-moving rounds + weighted contraction: the
    // per-round assignment pins and the coarse memo must flip to the
    // durable path like every other iteration
    "louvain_coarse" -> (() =>
      Graph.louvainCoarseCached(Tables.orders(spark, dir),
        Tables.lineitem(spark, dir), "ck-louv-" + System.nanoTime)))

  private def snapshot(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col)
    df.select(cols.toIndexedSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  test("iterative family: reliable checkpoints, identical results") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite session has no checkpoint dir")
    val baseline = family.map { case (name, build) =>
      name -> snapshot(build())
    }
    val ckDir = Files.createTempDirectory("graft_ck_family").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      for ((name, build) <- family) {
        val durable = snapshot(build())
        val base = baseline.toMap.apply(name)
        assert(durable == base,
          s"$name diverged under the reliable checkpoint path")
      }
      val files = Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => p.toFile.isFile).count()
      assert(files > 0, s"no reliable checkpoint files landed under $ckDir")
    } finally spark.sparkContext.setCheckpointDir(null)
  }
}
