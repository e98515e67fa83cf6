package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import Shared.{docs, emb}

/** The `sim_*` queries: vector search and its recall over `embeddings`. */
object SimQueries extends QueryFamily("sim") {

  /** Residual IVFADC top-k under the training-free seed codebook. */
  private def ivfadcSeeded(s: SparkSession, dir: String): DataFrame = {
    val residuals = Similarity.residualSubvectorsCached(emb(s, dir))
    Similarity.ivfPqResidualTopK(emb(s, dir), residuals,
      Similarity.seedCodebook(residuals._2))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_pq_code_usage", (s, d) =>
      Similarity.pqCodeUsage(emb(s, d), Similarity.pqCodebookCached(emb(s, d))),
      Similarity.sqlPqCodeUsage()),
    QuerySpec("sim_centroids", (s, d) => Similarity.centroids(emb(s, d)), Similarity.sqlCentroids),
    QuerySpec("sim_brute_topk", (s, d) => Similarity.bruteTopK(emb(s, d)), Similarity.sqlBruteTopK),
    QuerySpec("sim_ann_lsh", (s, d) => Similarity.annTopK(emb(s, d)), Similarity.sqlAnnTopK),
    QuerySpec("sim_ivf_topk", (s, d) => Similarity.ivfTopK(emb(s, d)), Similarity.sqlIvfTopK),
    // exact side truncated to the SAME k as the ANN side — recall@k over
    // mismatched depths is structurally capped at k_approx/k_exact and
    // can never reach its target
    QuerySpec("sim_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)),
      Similarity.ivfTopK(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlIvfTopK)),
    QuerySpec("sim_mips_topk", (s, d) => Similarity.mipsTopK(emb(s, d)), Similarity.sqlMipsTopK),
    QuerySpec("sim_mips_lsh", (s, d) => Similarity.mipsLsh(emb(s, d)), Similarity.sqlMipsLsh),
    // recall of augmented-LSH MIPS vs exact inner-product ranking —
    // prices the Bachrach-transform bucketing the way sim_recall prices
    // the IVF route
    QuerySpec("sim_mips_recall", (s, d) => Similarity.recallAtK(
      Similarity.mipsTopK(emb(s, d))
        .filter(col("rk") <= Similarity.MipsTopK),
      Similarity.mipsLsh(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlMipsTopK}\n) " +
          s"WHERE rk <= ${Similarity.MipsTopK}",
        Similarity.sqlMipsLsh)),
    // recall of the IVFADC composite vs exact search: quantifies the
    // quantization + pruning loss the 100 TB recipe trades for its scan
    // shape (compare with sim_recall = IVF-only loss at the same depth)
    QuerySpec("sim_ivfpq_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)),
      Similarity.ivfPqTopK(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlIvfPqTopK)),
    QuerySpec("sim_ivf_probe2", (s, d) => Similarity.ivfTopKProbe(emb(s, d), 2),
      Similarity.sqlIvfTopKProbe(2)),
    // recall-vs-nprobe tuning curve: the table an operator reads to pick
    // the probe count; exact side computed once and pinned across probes
    QuerySpec("sim_recall_sweep", (s, d) => {
      val exact = Similarity.bruteTruthCached(emb(s, d))
      (1 to 3).map(p =>
        Similarity.recallAtK(exact, Similarity.ivfTopKProbe(emb(s, d), p))
          .withColumn("nprobe", lit(p)))
        .reduce(_.unionByName(_))
        .select(col("nprobe"), col("query_id"), col("recall"))
        .orderBy(col("nprobe"), col("query_id"))
    },
      ((1 to 3).map { p =>
        s"SELECT $p AS nprobe, query_id, recall FROM (\n" +
          Similarity.sqlRecall(
            s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
              s"WHERE rk <= ${Similarity.AnnTopK}",
            Similarity.sqlIvfTopKProbe(p)) + "\n)"
      }.mkString("\nUNION ALL\n") + "\nORDER BY nprobe, query_id")),
    // the four Lloyd's queries read trained artifacts from the shared
    // per-(session, embeddings) memos — train once, consume everywhere
    QuerySpec("sim_ivf_kmeans", (s, d) =>
      Similarity.ivfKmeans(emb(s, d), Similarity.ivfCentsCached(emb(s, d))),
      Similarity.sqlIvfKmeans()),
    QuerySpec("sim_pq_kmeans", (s, d) =>
      Similarity.pqKmeans(emb(s, d), Similarity.pqCodebookCached(emb(s, d))),
      Similarity.sqlPqKmeans()),
    QuerySpec("sim_ivf_balance_trained", (s, d) =>
      Similarity.ivfBalanceTrained(emb(s, d), Similarity.ivfCentsCached(emb(s, d))),
      Similarity.sqlIvfBalanceTrained()),
    QuerySpec("sim_pq_distortion_trained", (s, d) =>
      Similarity.pqDistortionTrained(emb(s, d), Similarity.pqCodebookCached(emb(s, d))),
      Similarity.sqlPqDistortionTrained()),
    QuerySpec("sim_ivf_radius_trained", (s, d) =>
      Similarity.ivfRadiusTrained(emb(s, d), Similarity.ivfCentsCached(emb(s, d))),
      Similarity.sqlIvfRadiusTrained()),
    QuerySpec("sim_sq_topk", (s, d) => Similarity.sqTopK(emb(s, d)), Similarity.sqlSqTopK()),
    QuerySpec("sim_sq_rerank", (s, d) => Similarity.sqRerank(emb(s, d)), Similarity.sqlSqRerank),
    QuerySpec("sim_filtered_topk", (s, d) => Similarity.filteredTopK(emb(s, d)),
      Similarity.sqlFilteredTopK),
    QuerySpec("sim_sq_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)),
      Similarity.sqTopK(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlSqTopK())),
    QuerySpec("sim_pq_topk", (s, d) => Similarity.pqTopK(emb(s, d)), Similarity.sqlPqTopK()),
    QuerySpec("sim_pq_rerank", (s, d) => Similarity.pqRerank(emb(s, d)), Similarity.sqlPqRerank),
    QuerySpec("sim_pq_rerank_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)),
      Similarity.pqRerank(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlPqRerank)),
    QuerySpec("sim_ivfpq_topk", (s, d) => Similarity.ivfPqTopK(emb(s, d)), Similarity.sqlIvfPqTopK),
    // the three residual-IVFADC queries share one pinned
    // assignment + residual-explode memo (residualSubvectorsCached)
    QuerySpec("sim_ivfadc_topk", (s, d) => ivfadcSeeded(s, d),
      Similarity.sqlIvfPqResidualTopK()),
    // the Lloyd's-trained residual codebook route (Jégou §IV as published:
    // k-means over residual subvectors) — same query surface, trained book
    QuerySpec("sim_ivfadc_trained", (s, d) =>
      Similarity.ivfPqResidualTopK(emb(s, d),
        Similarity.residualSubvectorsCached(emb(s, d)),
        Similarity.residualBookCached(emb(s, d))),
      Similarity.sqlIvfPqResidualTopK(trained = true)),
    QuerySpec("sim_ivfadc_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)), ivfadcSeeded(s, d)),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlIvfPqResidualTopK())),
    QuerySpec("sim_dim_sweep", (s, d) => Similarity.dimSweepRecall(emb(s, d)),
      Similarity.sqlDimSweep),
    QuerySpec("sim_ndcg", (s, d) => Similarity.ndcgAtK(emb(s, d)), Similarity.sqlNdcg),
    QuerySpec("sim_cluster_topics", (s, d) =>
      Similarity.clusterTopics(emb(s, d), docs(s, d), Similarity.ivfCentsCached(emb(s, d))),
      Similarity.sqlClusterTopics()),
    // sim_knn_graph and sim_nsw_walk read the same memoized kNN edge list
    QuerySpec("sim_knn_graph", (s, d) =>
      Similarity.knnGraph(Similarity.knnEdgesCached(Tables.embeddings(s, d))),
      Similarity.sqlKnnGraph),
    QuerySpec("sim_nsw_walk", (s, d) => Similarity.nswWalkCached(Tables.embeddings(s, d)),
      Similarity.sqlNswWalk),
    QuerySpec("sim_nsw_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(Tables.embeddings(s, d)),
      Similarity.nswWalkCached(Tables.embeddings(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlNswWalk)),
    // both maxmin queries read the ONE memoized Gonzalez centers frame
    QuerySpec("sim_maxmin_init", (s, d) =>
      Similarity.maxminInitCached(emb(s, d)).orderBy(col("round")),
      Similarity.sqlMaxminInit),
    QuerySpec("sim_maxmin_cells", (s, d) =>
      Similarity.maxminCells(emb(s, d), Similarity.maxminInitCached(emb(s, d))),
      Similarity.sqlMaxminCells),
    QuerySpec("sim_lsh_multiprobe", (s, d) => Similarity.multiprobeTopK(emb(s, d)),
      Similarity.sqlMultiprobeTopK),
    QuerySpec("sim_multiprobe_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)),
      Similarity.multiprobeTopK(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlMultiprobeTopK)),
    QuerySpec("sim_nsw_sweep", (s, d) => Similarity.nswBeamSweepCached(Tables.embeddings(s, d)),
      Similarity.sqlNswBeamSweep),
    QuerySpec("sim_sdc_topk", (s, d) => Similarity.sdcTopK(emb(s, d)), Similarity.sqlSdcTopK),
    QuerySpec("sim_sdc_recall", (s, d) => Similarity.recallAtK(
      Similarity.bruteTruthCached(emb(s, d)),
      Similarity.sdcTopK(emb(s, d))),
      Similarity.sqlRecall(
        s"SELECT * FROM (\n${Similarity.sqlBruteTopK}\n) " +
          s"WHERE rk <= ${Similarity.AnnTopK}",
        Similarity.sqlSdcTopK)),
    QuerySpec("sim_hard_negatives", (s, d) => Similarity.hardNegatives(Tables.embeddings(s, d)),
      Similarity.sqlHardNegatives),
    QuerySpec("sim_rrf", (s, d) => Similarity.rrf(Tables.embeddings(s, d)), Similarity.sqlRrf),
    QuerySpec("sim_mmr", (s, d) => Similarity.mmrTopK(emb(s, d)), Similarity.sqlMmr),
    QuerySpec("sim_probe_cost", (s, d) => Similarity.ivfProbeCost(emb(s, d)),
      Similarity.sqlIvfProbeCost),
    QuerySpec("sim_silhouette", (s, d) => Similarity.silhouette(emb(s, d)),
      Similarity.sqlSilhouette),
    QuerySpec("sim_db_index", (s, d) => Similarity.dbIndex(emb(s, d)), Similarity.sqlDbIndex),
    QuerySpec("sim_cell_balance", (s, d) => Similarity.cellBalance(emb(s, d)),
      Similarity.sqlCellBalance),
    QuerySpec("sim_pq_distortion", (s, d) => Similarity.pqDistortion(emb(s, d)),
      Similarity.sqlPqDistortion),
    QuerySpec("sim_mrr", (s, d) => Similarity.mrr(emb(s, d)), Similarity.sqlMrr),
    QuerySpec("sim_triplet_audit", (s, d) => Similarity.tripletAudit(emb(s, d)),
      Similarity.sqlTripletAudit),
  )
}
