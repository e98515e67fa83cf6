package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.streaming.Streams
import Shared.{docs, emb}

/** The `dedup_*` queries: exact and near-duplicate detection over
  * `documents`. */
object DedupQueries extends QueryFamily("dedup") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, d) => Dedup.exact(docs(s, d)), Dedup.sqlExact),
    // the cluster-policy family reads the per-(session, corpus) memos
    // bands → pairs → components: each entry stays independently
    // oracled, but each artifact computes once, on first read
    QuerySpec("dedup_minhash", (s, d) =>
      Dedup.minhashPairsCached(docs(s, d)).orderBy(col("doc_a"), col("doc_b")),
      Dedup.sqlMinhashPairs()),
    QuerySpec("dedup_components", (s, d) => Dedup.componentsCached(docs(s, d)),
      Dedup.sqlConnectedComponents(Dedup.sqlMinhashPairs())),
    QuerySpec("dedup_cluster_stats", (s, d) =>
      Dedup.clusterStatsFrom(Dedup.componentsCached(docs(s, d))),
      Dedup.sqlClusterStats),
    QuerySpec("dedup_simhash", (s, d) => Dedup.simhash(docs(s, d)).orderBy(col("doc_id")),
      Dedup.sqlSimhash),
    QuerySpec("dedup_simhash_pairs", (s, d) => Dedup.simhashPairs(docs(s, d)),
      Dedup.sqlSimhashPairs),
    QuerySpec("dedup_jaccard", (s, d) =>
      Dedup.ngramJaccard(docs(s, d), Dedup.shingleSetsCached(docs(s, d))),
      Dedup.sqlNgramJaccard),
    QuerySpec("dedup_embed", (s, d) => Similarity.embedNearDup(emb(s, d)),
      Similarity.sqlEmbedNearDup),
    QuerySpec("dedup_canonical", (s, d) =>
      Dedup.canonicalFrom(docs(s, d), Dedup.componentsCached(docs(s, d))),
      Dedup.sqlCanonical),
    QuerySpec("dedup_communities", (s, d) =>
      Dedup.labelPropagation(Dedup.minhashPairsCached(docs(s, d)), docs(s, d)),
      Dedup.sqlLabelPropagation(Dedup.sqlMinhashPairs())),
    QuerySpec("dedup_calibration", (s, d) =>
      Dedup.bandCalibration(Dedup.minhashPairsCached(docs(s, d)),
        Dedup.shingleSetsCached(docs(s, d))),
      Dedup.sqlBandCalibration(Dedup.sqlMinhashPairs())),
    QuerySpec("dedup_minhash_error", (s, d) =>
      Dedup.minhashError(Dedup.minhashPairsCached(docs(s, d)), docs(s, d)),
      Dedup.sqlMinhashError),
    QuerySpec("dedup_modularity", (s, d) =>
      Dedup.modularityFrom(Dedup.minhashPairsCached(docs(s, d)),
        Dedup.labelPropagation(Dedup.minhashPairsCached(docs(s, d)), docs(s, d))),
      Dedup.sqlModularity(Dedup.sqlMinhashPairs(),
        Dedup.sqlLabelPropagation(Dedup.sqlMinhashPairs()))),
    QuerySpec("dedup_lpa_agreement", (s, d) =>
      Dedup.lpaAgreement(Dedup.componentsCached(docs(s, d)),
        Dedup.labelPropagation(Dedup.minhashPairsCached(docs(s, d)), docs(s, d))),
      Dedup.sqlLpaAgreement(Dedup.sqlMinhashPairs())),
    QuerySpec("dedup_substring", (s, d) => Dedup.substringDup(docs(s, d)), Dedup.sqlSubstringDup),
    QuerySpec("dedup_edit", (s, d) =>
      Dedup.editPairs(docs(s, d), Dedup.minhashPairsCached(docs(s, d))),
      Dedup.sqlEditPairs),
    QuerySpec("dedup_semantic", (s, d) => Similarity.semanticDedup(emb(s, d)),
      Similarity.sqlSemanticDedup),
    QuerySpec("dedup_containment", (s, d) => Dedup.containmentPairs(docs(s, d)),
      Dedup.sqlContainmentPairs),
    QuerySpec("dedup_weights", (s, d) =>
      Dedup.softWeightsFrom(docs(s, d), Dedup.componentsCached(docs(s, d))),
      Dedup.sqlSoftWeights),
    QuerySpec("dedup_spans", (s, d) => Dedup.spanClean(docs(s, d)), Dedup.sqlSpanClean),
    QuerySpec("dedup_threshold_sweep", (s, d) =>
      Dedup.thresholdSweep(Dedup.minhashPairsCached(docs(s, d)),
        Dedup.shingleSetsCached(docs(s, d))),
      Dedup.sqlThresholdSweep),
    QuerySpec("dedup_scurve", (s, d) =>
      Dedup.scurve(Dedup.minhashPairsCached(docs(s, d)),
        Dedup.shingleSetsCached(docs(s, d))),
      Dedup.sqlScurve),
    QuerySpec("dedup_band_profile", (s, d) =>
      Dedup.bandProfile(Dedup.minhashBandsCached(docs(s, d))),
      Dedup.sqlBandProfile()),
    QuerySpec("dedup_source_jaccard", (s, d) => Dedup.sourceJaccard(docs(s, d)),
      Dedup.sqlSourceJaccard),
    QuerySpec("dedup_cluster_purity", (s, d) =>
      Dedup.clusterPurity(Dedup.componentsCached(docs(s, d)), docs(s, d)),
      Dedup.sqlClusterPurity(Dedup.sqlMinhashPairs())),
    QuerySpec("dedup_savings", (s, d) =>
      Dedup.dedupSavings(docs(s, d), Dedup.componentsCached(docs(s, d))),
      Dedup.sqlDedupSavings),
    // batch form of the incremental admission gate: every third doc is the
    // "new crawl", the rest the existing corpus; one dedupBatch round. The
    // corpus band state filters from the band memo — bands are per-doc,
    // so the subset's bands are a doc_id filter away
    QuerySpec("dedup_admit", (s, d) => {
      val all = docs(s, d)
      val (admitted, _) = Streams.dedupBatch(
        all.filter(col("doc_id") % 3 === 0),
        Dedup.minhashBandsCached(all).filter(col("doc_id") % 3 =!= 0))
      admitted.select(col("doc_id")).orderBy(col("doc_id"))
    },
      Dedup.sqlAdmitBatch(id => s"$id % 3 = 0")),
  )
}
