package graft
package queries

import graft.streaming.StreamOracles

/** The `stream_*` queries: streaming operators driven to their final state,
  * each checked against a batch oracle. */
object StreamQueries extends QueryFamily("stream") {

  val specs: Seq[QuerySpec] = Seq(
    // streaming twins driven to their FINAL state over real micro-batches
    // (file source, AvailableNow) — the returned frame is the durable
    // state, hash-checked against a batch oracle
    QuerySpec("stream_scd_state", StreamOracles.scdState _, StreamOracles.sqlScdState),
    QuerySpec("stream_dedup_state", (s, d) => StreamOracles.dedupState(s, d),
      StreamOracles.sqlDedupState),
    QuerySpec("stream_decon_state", (s, d) => StreamOracles.deconState(s, d),
      StreamOracles.sqlDeconState),
    QuerySpec("stream_corpus_state", (s, d) => StreamOracles.corpusState(s, d),
      StreamOracles.sqlCorpusState),
    QuerySpec("stream_kmv_state", StreamOracles.kmvState _, StreamOracles.sqlKmvState),
    QuerySpec("stream_cms_state", StreamOracles.cmsState _, StreamOracles.sqlCmsState),
    QuerySpec("stream_session_state", (s, d) => StreamOracles.sessionState(s, d),
      StreamOracles.sqlSessionState),
    QuerySpec("stream_join_state", StreamOracles.joinState _, StreamOracles.sqlJoinState),
    QuerySpec("stream_window_state", StreamOracles.windowState _, StreamOracles.sqlWindowState),
    // the streamed MG sketch is exact at this capacity, so its final
    // state must match the SAME exact SQL the batch sketch matches
    QuerySpec("stream_mg_state", StreamOracles.mgState _, SketchQueries.sqlHeavyHitters),
    QuerySpec("stream_asof_state", StreamOracles.asOfState _, StreamOracles.sqlAsOfState),
    QuerySpec("stream_drop_state", StreamOracles.dropState _, StreamOracles.sqlDropState),
  )
}
