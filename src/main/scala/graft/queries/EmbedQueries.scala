package graft
package queries

import graft.operators.Similarity
import Shared.emb

/** The `embed_*` queries: embedding outliers, quantization, PCA and
  * drift. */
object EmbedQueries extends QueryFamily("embed") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("embed_outliers", (s, d) => Similarity.embedOutliers(emb(s, d)),
      Similarity.sqlEmbedOutliers),
    QuerySpec("embed_quantize", (s, d) => Similarity.quantize(emb(s, d)), Similarity.sqlQuantize),
    // the two spectral queries share one pinned covariance + power pass
    QuerySpec("embed_pca_power", (s, d) =>
      Similarity.pcaPower(Similarity.pcaPartsCached(emb(s, d))),
      Similarity.sqlPcaPower),
    QuerySpec("embed_pca_project", (s, d) =>
      Similarity.pcaProject(emb(s, d), Similarity.pcaPartsCached(emb(s, d))),
      Similarity.sqlPcaProject),
    QuerySpec("embed_pca_deflate", (s, d) =>
      Similarity.pcaDeflate(Similarity.pcaArtsCached(emb(s, d))),
      Similarity.sqlPcaDeflate),
    QuerySpec("embed_drift", (s, d) => Similarity.embedDrift(emb(s, d)), Similarity.sqlEmbedDrift),
  )
}
