package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextOps.{predictedLang, qualityScore, sqlWords, words}

/** The composed training-corpus cleaning pipeline — the end-to-end shape a
  * 100 TB pretraining-data job runs, built entirely from this engine's
  * operators:
  *
  *   1. per-doc metrics (language ID + quality score) — map-side, scan speed
  *   2. quality gate — filter, pushed as far down as the metrics allow
  *   3. exact dedup — keep min doc_id per content hash (48-byte shuffle key)
  *   4. near-dup removal — MinHash/LSH candidate pairs; the higher doc_id of
  *      each pair is dropped (deterministic victim policy)
  *
  * Stages 1-2 are one narrow pass; 3 is one hash aggregation; 4 reuses
  * the corpus's [[Dedup.minhashBands]] LSH band frame (memoized and
  * shared with the dedup cluster family via [[Dedup.minhashBandsCached]])
  * restricted to survivors, then [[Dedup.bandCollisionPairs]]. Nothing in
  * the plan is quadratic in corpus size.
  */
object CorpusClean {

  val QualityThreshold = 0.1

  /** The pinned stage frames of one cleaning run: quality survivors,
    * exact-dedup survivors, and the near-dup-free final corpus. Every
    * consumer (the cleaned corpus itself, the attrition funnel, the
    * export composition) derives from these three frames, so a suite (or
    * a production pipeline) computes the chain once and fans out.
    */
  final case class CleanArtifacts(kept: DataFrame, survivors: DataFrame,
      cleaned: DataFrame)

  /** Build [[CleanArtifacts]], deriving the near-dup victim set from a
    * precomputed (doc_id, band_idx, band_key) LSH band frame. Band rows
    * are per-doc independent, so restricting a FULL-corpus band frame to
    * survivor ids is exactly the band frame of the survivor subset, so
    * clean shares the dedup family's signature pass
    * ([[Dedup.minhashBandsCached]]) instead of re-hashing the corpus.
    */
  def cleanArtifacts(docs: DataFrame, bands: DataFrame): CleanArtifacts = {
    val metrics = docs
      .select(col("doc_id"), col("lang"), col("text"), words(col("text")).as("w"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("w")).as("n_tokens"),
        qualityScore(col("w")).as("quality_score"),
        predictedLang(col("w")).as("predicted_lang"))
    val kept = Iterate.pin(
      metrics.filter(col("quality_score") >= QualityThreshold))
    val exactKeep = kept
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"))
    val survivors = Iterate.pin(
      kept.join(exactKeep, col("doc_id") === col("keep_id"), "left_semi"))
    // near-dup pairs over the SURVIVORS, per the documented stage order —
    // pairing the raw corpus would let a quality-REJECTED doc victimize
    // its kept near-duplicate (both copies of the content vanish). The
    // semi join trims the band frame BEFORE the bucket groupBy, so bucket
    // expansion only ever pairs survivors.
    val survivorBands = bands
      .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val nearDupVictims = Dedup.bandCollisionPairs(survivorBands)
      .select(col("doc_b").as("victim")).distinct()
    val cleaned = Iterate.pin(
      survivors.join(nearDupVictims, col("doc_id") === col("victim"), "left_anti"))
    CleanArtifacts(kept, survivors, cleaned)
  }

  /** Per-(session, `docs`) memo of [[cleanArtifacts]], over the dedup
    * family's band memo: `corpus_clean`, `corpus_clean_funnel`, and
    * `corpus_export` are independently oracled entry points, but a run
    * that evaluates all three pays the metrics → quality → dedup chain
    * once.
    */
  def cleanArtifactsCached(docs: DataFrame): CleanArtifacts =
    graft.Memo(docs.sparkSession, "corpus.clean", docs)(
      cleanArtifacts(docs, Dedup.minhashBandsCached(docs)))

  private def cleanSelect(a: CleanArtifacts): DataFrame =
    a.cleaned
      .select(col("doc_id"), col("lang"), col("predicted_lang"),
        col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** The cleaned corpus (doc_id, lang, predicted_lang, n_tokens,
    * quality_score), read from the per-(session, `docs`) artifact memo. */
  def cleanCached(docs: DataFrame): DataFrame =
    cleanSelect(cleanArtifactsCached(docs))

  /** The WITH-body through the `kept`/`survivors`/`victims` CTEs — shared
    * by [[sqlClean]] and [[sqlFunnel]] so the stage report can never
    * disagree with the pipeline it describes.
    */
  def sqlCleanCtes: String = {
    val w = sqlWords("text")
    val set = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    val langScores = TextOps.LangProfiles.map { case (lang, markers) =>
      val ms = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(w, x -> x IN ($ms))) AS s_$lang"
    }.mkString(",\n    ")
    val mx = s"greatest(${TextOps.LangProfiles.map("s_" + _._1).mkString(", ")})"
    val langCase = TextOps.LangProfiles.map { case (lang, _) =>
      s"WHEN s_$lang = mx AND mx > 0 THEN '$lang'"
    }.mkString(" ")
    s"""base AS (
       |  SELECT doc_id, lang, text, $w AS w FROM documents
       |), m0 AS (
       |  SELECT doc_id, lang, text, len(w) AS n_tokens,
       |    CAST(len(w) AS DOUBLE) AS nwords,
       |    CAST(len(list_filter(w, x -> x IN ($set))) AS DOUBLE) AS nstop,
       |    CAST(len(list_distinct(w)) AS DOUBLE) AS ndistinct,
       |    $langScores
       |  FROM base
       |), m1 AS (
       |  SELECT *, $mx AS mx,
       |    (nwords / (nwords + 100.0)) * (ndistinct / nwords)
       |      * (1.0 - nstop / nwords) AS quality_score
       |  FROM m0
       |), kept AS (
       |  SELECT doc_id, lang, text, n_tokens, quality_score,
       |    CASE $langCase ELSE 'und' END AS predicted_lang
       |  FROM m1 WHERE quality_score >= $QualityThreshold
       |), exact_keep AS (
       |  SELECT MIN(doc_id) AS keep_id FROM kept GROUP BY md5(text)
       |), survivors AS (
       |  SELECT * FROM kept
       |  WHERE doc_id IN (SELECT keep_id FROM exact_keep)
       |), victims AS (
       |  SELECT DISTINCT doc_b AS victim FROM (
       |    ${Dedup.sqlMinhashPairs("survivors").linesIterator.mkString("\n    ")}
       |  )
       |)""".stripMargin
  }

  def sqlClean: String =
    s"""WITH $sqlCleanCtes
       |SELECT doc_id, lang, predicted_lang, n_tokens, quality_score
       |FROM survivors
       |WHERE doc_id NOT IN (SELECT victim FROM victims)
       |ORDER BY doc_id""".stripMargin

  /** Stage-attrition funnel of the cleaning pipeline: documents counted
    * at each gate (raw → quality pass → exact-dup survivor → near-dup
    * survivor) — the "where did my corpus go" report every cleaning run
    * publishes. Counts the SAME pinned stage frames [[cleanCached]] reads,
    * so the report can never disagree with the pipeline it describes.
    */
  def funnelFrom(docs: DataFrame, a: CleanArtifacts): DataFrame =
    Seq("1_raw" -> docs, "2_quality" -> a.kept, "3_exact_dedup" -> a.survivors,
      "4_near_dedup" -> a.cleaned)
      .map { case (stage, df) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(stage).as("stage"), col("n_docs"))
      }
      .reduce(_.unionByName(_))
      .orderBy(col("stage"))

  /** [[funnelFrom]] through the per-(session, `docs`) artifact memo. */
  def funnelCached(docs: DataFrame): DataFrame =
    funnelFrom(docs, cleanArtifactsCached(docs))

  def sqlFunnel: String =
    s"""WITH $sqlCleanCtes
       |SELECT stage, n_docs FROM (
       |  SELECT '1_raw' AS stage,
       |    CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
       |  UNION ALL
       |  SELECT '2_quality', CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
       |  UNION ALL
       |  SELECT '3_exact_dedup',
       |    CAST((SELECT COUNT(*) FROM survivors) AS BIGINT)
       |  UNION ALL
       |  SELECT '4_near_dedup',
       |    CAST((SELECT COUNT(*) FROM survivors
       |          WHERE doc_id NOT IN (SELECT victim FROM victims))
       |      AS BIGINT)
       |) ORDER BY stage""".stripMargin
}
