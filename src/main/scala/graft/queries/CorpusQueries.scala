package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusClean, Dedup, TextOps, TrainingData}
import Shared.docs

/** The `corpus_*` queries: training-corpus curation over `documents`. */
object CorpusQueries extends QueryFamily("corpus") {

  // ------------------------------------------------- corpus_sample
  // Deterministic stratified sampling — every training-data pipeline ends
  // with "take N per stratum". Rank within each language by a hash of the
  // doc id (a reproducible uniform shuffle — rand() would differ across
  // task retries) and keep the top N. Runs as WindowGroupLimit: bounded
  // per-partition state, no full sort.
  private val SamplePerStratum = 20

  private def qCorpusSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rnd = TextOps.tokenHash(concat(col("doc_id").cast("string"),
      lit(":sample-salt")))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("rnd"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), rnd.as("rnd"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SamplePerStratum)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  private val sqlCorpusSample: String =
    s"""SELECT lang, rk, doc_id FROM (
       |  SELECT lang, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
       |      ${TextOps.sqlTokenHash("CAST(doc_id AS VARCHAR) || ':sample-salt'")},
       |      doc_id) AS rk
       |  FROM documents
       |) WHERE rk <= $SamplePerStratum
       |ORDER BY lang, rk""".stripMargin

  // ------------------------------------------------- corpus_stratified
  // Per-source stratified sample: up to StratN docs per source, selected
  // by the deterministic md5(doc_id # seed) order — reproducible uniform
  // sampling per stratum, the "per-domain cap" a crawl-mixture pipeline
  // applies before global mixing. One keyed rank window per source
  // (WindowGroupLimit-bounded); the hash makes the draw seed-stable on
  // both engines.
  private val StratPerSource = 25
  private def qStratified(s: SparkSession, dir: String): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit("#s42"))).as("h"))
      .withColumn("rk", row_number().over(bySource))
      .filter(col("rk") <= StratPerSource)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  private val sqlStratified: String =
    s"""SELECT source, rk, doc_id FROM (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#s42'), doc_id) AS rk
       |  FROM documents
       |)
       |WHERE rk <= $StratPerSource
       |ORDER BY source, rk""".stripMargin

  // ------------------------------------------------- corpus_curriculum
  // Curriculum staging: bucket the corpus into quality quartiles for
  // staged training (ascending-quality curricula train low→high). Scale
  // shape: the cut points are ONE tiny percentile aggregate broadcast
  // back (never a global ntile window over the corpus — at 100 TB a
  // |docs|-sized global sort is the wrong plan); stage assignment is then
  // map-side, and the report is one 4-group hash agg. The interpolated
  // percentile doubles are emitted by the identical expression in both
  // engines (the sketch_percentile discipline), so the <= comparisons
  // agree bit-for-bit.
  private def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.quality(Tables.documents(s, dir))
      .select(col("doc_id"), col("quality_score"))
    val cuts = scored.agg(
      expr("percentile(quality_score, array(0.25, 0.5, 0.75))").as("cuts"))
    scored
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .crossJoin(broadcast(cuts))
      .withColumn("stage",
        when(col("quality_score") <= col("cuts")(0), 0)
          .when(col("quality_score") <= col("cuts")(1), 1)
          .when(col("quality_score") <= col("cuts")(2), 2)
          .otherwise(3))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("quality_score")).as("min_score"),
        max(col("quality_score")).as("max_score"))
      .orderBy(col("stage"))
  }

  private val sqlCurriculum: String =
    s"""WITH ws AS (
       |  ${TextOps.sqlWordStats().linesIterator.mkString("\n  ")}
       |), q AS (
       |  SELECT doc_id, ${TextOps.SqlScoreExpr} AS quality_score FROM ws
       |), c AS (
       |  SELECT quantile_cont(quality_score, 0.25) AS q1,
       |    quantile_cont(quality_score, 0.5) AS q2,
       |    quantile_cont(quality_score, 0.75) AS q3
       |  FROM q
       |), staged AS (
       |  SELECT d.n_chars, q.quality_score,
       |    CASE WHEN quality_score <= q1 THEN 0
       |         WHEN quality_score <= q2 THEN 1
       |         WHEN quality_score <= q3 THEN 2
       |         ELSE 3 END AS stage
       |  FROM q JOIN documents d USING (doc_id), c
       |)
       |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(quality_score) AS min_score, MAX(quality_score) AS max_score
       |FROM staged GROUP BY stage ORDER BY stage""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("corpus_sample", qCorpusSample _, sqlCorpusSample),
    QuerySpec("corpus_clean", (s, d) => CorpusClean.cleanCached(docs(s, d)),
      CorpusClean.sqlClean),
    QuerySpec("corpus_clean_funnel", (s, d) => CorpusClean.funnelCached(docs(s, d)),
      CorpusClean.sqlFunnel),
    QuerySpec("corpus_split", (s, d) => TrainingData.splitStats(docs(s, d)),
      TrainingData.sqlSplitStats),
    QuerySpec("corpus_split_leakage", (s, d) =>
      TrainingData.splitLeakage(Dedup.minhashPairsCached(docs(s, d)), docs(s, d)),
      TrainingData.sqlSplitLeakage(Dedup.sqlMinhashPairs())),
    QuerySpec("corpus_pack", (s, d) => TrainingData.pack(docs(s, d)), TrainingData.sqlPack),
    // the production bucketing variant (quantile-sampled range buckets for
    // sparse/skewed id spaces) — same contract, same oracle: any monotone
    // bucket cut set yields identical offsets
    QuerySpec("corpus_pack_sampled", (s, d) => TrainingData.packSampledBuckets(docs(s, d)),
      TrainingData.sqlPack),
    QuerySpec("corpus_mix", (s, d) => TrainingData.mixture(docs(s, d)), TrainingData.sqlMixture),
    QuerySpec("corpus_mix_temp", (s, d) => TrainingData.mixtureTemperature(docs(s, d)),
      TrainingData.sqlMixtureTemperature),
    QuerySpec("corpus_epochs", (s, d) => TrainingData.epochs(docs(s, d)), TrainingData.sqlEpochs),
    QuerySpec("corpus_chunk", (s, d) => TrainingData.chunk(docs(s, d)), TrainingData.sqlChunk),
    QuerySpec("corpus_wsample", (s, d) => TrainingData.weightedSample(docs(s, d)),
      TrainingData.sqlWeightedSample),
    QuerySpec("corpus_dsir", (s, d) => TrainingData.dsir(docs(s, d)), TrainingData.sqlDsir),
    QuerySpec("corpus_budget", (s, d) => TrainingData.budgetSelect(docs(s, d)),
      TrainingData.sqlBudgetSelect),
    QuerySpec("corpus_kfold", (s, d) => TrainingData.kfoldStats(docs(s, d)),
      TrainingData.sqlKfoldStats),
    QuerySpec("corpus_length_hist", (s, d) => TrainingData.lengthHistogram(docs(s, d)),
      TrainingData.sqlLengthHistogram),
    QuerySpec("corpus_shard", (s, d) => TrainingData.shard(docs(s, d)), TrainingData.sqlShard),
    // end-to-end export: clean → token-budget select → shard, every stage
    // the already-oracled library operator, composed into ONE plan
    QuerySpec("corpus_export", (s, d) =>
      TrainingData.corpusExport(CorpusClean.cleanCached(docs(s, d))),
      TrainingData.sqlCorpusExport),
    // the export with near-dup dedup IN the pipeline: cleaned survivors
    // restricted to each cluster's canonical doc (keep-longest policy
    // from the SHARED clustering memo), then the same budget/shard
    // stages — the full LLM-data path clean → dedup → budget → shard
    // as ONE composed plan
    QuerySpec("corpus_export_dedup", (s, d) => TrainingData.corpusExport(
      CorpusClean.cleanCached(docs(s, d))
        .join(Dedup.canonicalFrom(docs(s, d), Dedup.componentsCached(docs(s, d)))
          .filter(col("kept")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")),
      TrainingData.sqlCorpusExportFrom(
        s"""SELECT cc.* FROM (
           |  ${CorpusClean.sqlClean.linesIterator
                 .mkString("\n  ")}
           |) cc
           |WHERE cc.doc_id IN (SELECT doc_id FROM (
           |  ${Dedup.sqlCanonical.linesIterator.mkString("\n  ")}
           |) WHERE kept)""".stripMargin)),
    QuerySpec("corpus_interleave", (s, d) => TrainingData.interleave(docs(s, d)),
      TrainingData.sqlInterleave),
    // round-10 capstone: clean -> canonical dedup -> decon vs eval split
    // -> pack -> mixture, every stage riding its family's shared memo
    QuerySpec("corpus_e2e", (s, d) => TrainingData.corpusE2e(
      docs(s, d),
      CorpusClean.cleanCached(docs(s, d)),
      Dedup.canonicalFrom(docs(s, d), Dedup.componentsCached(docs(s, d))),
      Dedup.minhashDecon(docs(s, d))),
      TrainingData.sqlCorpusE2e()),
    QuerySpec("corpus_pad_audit", (s, d) => TrainingData.padAudit(docs(s, d)),
      TrainingData.sqlPadAudit),
    QuerySpec("corpus_pack_audit", (s, d) => TrainingData.packAudit(docs(s, d)),
      TrainingData.sqlPackAudit),
    QuerySpec("corpus_curriculum", qCurriculum _, sqlCurriculum),
    QuerySpec("corpus_stratified", qStratified _, sqlStratified),
  )
}
