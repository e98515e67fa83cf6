package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.operators.{Similarity, TextOps, TrainingData}
import Shared.{docs, emb}

/** The `text_*` queries: tokenization, language models and overlap over
  * `documents`. */
object TextQueries extends QueryFamily("text") {

  // ------------------------------------------------- text_bigrams
  // Corpus-level n-gram statistics: top word bigrams with counts — the
  // exact companion to the Misra-Gries sketch (sketch_heavy_hitters covers
  // the bounded-state path; this is the full groupBy truth). Bigrams form
  // map-side via zip_with over the shifted words array; one hash agg.
  private val BigramTopK = 20

  private def qBigrams(s: SparkSession, dir: String): DataFrame = {
    val w = TextOps.words(col("text"))
    val bigrams = slice(
      zip_with(w, slice(w, lit(2), size(w)), (a, b) => concat(a, lit(" "), b)),
      lit(1), greatest(size(w) - 1, lit(0)))
    // explode_outer + null-drop on the OUTPUT attribute, not plain explode:
    // explode makes Catalyst infer `size(bigrams) > 0` below the Generate
    // and pushdown re-inlines the whole zip_with chain (non-codegen HOF, no
    // subexpression elimination) into that Filter — re-evaluating it per
    // row. The isNotNull filter on the generated column is equivalent
    // (empty-array rows yield NULL) and costs one attribute check.
    Tables.documents(s, dir)
      .select(explode_outer(bigrams).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(BigramTopK)
  }

  private val sqlBigrams: String = {
    val words = TextOps.sqlWords("text")
    s"""SELECT bigram, COUNT(*) AS n FROM (
       |  SELECT unnest(list_transform(
       |    range(1, greatest(len(w) - 1, 0) + 1),
       |    i -> w[i] || ' ' || w[i+1])) AS bigram
       |  FROM (SELECT $words AS w FROM documents)
       |)
       |GROUP BY bigram
       |ORDER BY n DESC, bigram LIMIT $BigramTopK""".stripMargin
  }

  // ------------------------------------------------- text_ngram_lm
  // Bigram language-model table (the KenLM-counts shape): conditional
  // continuation probabilities P(next|prefix) = c(prefix,next)/c(prefix,·),
  // top-LmTopPerPrefix continuations per prefix, prefixes bounded to those
  // seen ≥ LmMinPrefix times (the table stays vocabulary-sized, never
  // corpus-sized). Shape: one explode + ONE pair hash agg; prefix totals
  // derive from the pair counts (a vocabulary-sized frame — the corpus is
  // never rescanned), and the per-prefix top-k is a WindowGroupLimit rank.
  // Probabilities are single divisions of exact BIGINTs.
  private val LmTopPerPrefix = 3
  private val LmMinPrefix = 50

  private def qNgramLm(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramLm(docs(s, dir), LmMinPrefix, LmTopPerPrefix)
      .orderBy(col("prefix"), col("rk"))

  /** Shared WITH-body ending in the ranked `lm` CTE (pre-top-k filter) —
    * the SQL twin of [[lmTable]]. */
  private val sqlLmCtes: String = {
    val words = TextOps.sqlWords("text")
    s"""bg AS (
       |  SELECT doc_id, split_part(bigram, ' ', 1) AS prefix,
       |    split_part(bigram, ' ', 2) AS next_word
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, greatest(len(w) - 1, 0) + 1),
       |      i -> w[i] || ' ' || w[i+1])) AS bigram
       |    FROM (SELECT doc_id, $words AS w FROM documents)
       |  )
       |), pc AS (
       |  SELECT prefix, next_word, CAST(COUNT(*) AS BIGINT) AS n_pair
       |  FROM bg GROUP BY 1, 2
       |), t AS (
       |  SELECT prefix, CAST(SUM(n_pair) AS BIGINT) AS n_prefix
       |  FROM pc GROUP BY prefix
       |), lm AS (
       |  SELECT pc.prefix, pc.next_word, pc.n_pair, t.n_prefix,
       |    ROW_NUMBER() OVER (PARTITION BY pc.prefix
       |                       ORDER BY pc.n_pair DESC, pc.next_word) AS rk
       |  FROM pc JOIN t USING (prefix)
       |  WHERE t.n_prefix >= $LmMinPrefix
       |)""".stripMargin
  }

  private val sqlNgramLm: String =
    s"""WITH $sqlLmCtes
       |SELECT prefix, rk, next_word, n_pair, n_prefix,
       |  CAST(n_pair AS DOUBLE) / n_prefix AS prob
       |FROM lm
       |WHERE rk <= $LmTopPerPrefix
       |ORDER BY prefix, rk""".stripMargin

  // ------------------------------------------------- text_lm_score
  // See TextOps.lmScore — CCNet-style LM document scoring in rational
  // arithmetic (mean inverse probability, exact-decimal sum).
  private val LmInvBackoff = 1000.0 // miss penalty: p_backoff = 1e-3
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(docs(s, dir), LmMinPrefix, LmTopPerPrefix, LmInvBackoff)
      .orderBy(col("doc_id"))

  private val sqlLmScore: String =
    s"""WITH $sqlLmCtes,
       |lmk AS (
       |  SELECT prefix, next_word, CAST(n_pair AS DOUBLE) / n_prefix AS prob
       |  FROM lm WHERE rk <= $LmTopPerPrefix
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN prob IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  ${sqlSum(s"CASE WHEN prob IS NULL THEN CAST($LmInvBackoff AS DOUBLE) " +
         "ELSE CAST(1 AS DOUBLE) / prob END", 6)} / COUNT(*) AS mean_inv_p
       |FROM bg LEFT JOIN lmk USING (prefix, next_word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- text_lm_sweep
  // Perplexity-filter calibration: corpus survival (docs + bigram mass)
  // at each candidate mean-inverse-probability cutoff — the knob-tuning
  // table a CCNet-style quality filter publishes before anyone picks
  // the threshold. One pass over the (already-oracled) LM score frame,
  // fanned by a literal cutoff array; conditional integer sums only.
  private val LmSweepCuts = Seq(700.0, 800.0, 850.0, 900.0, 950.0)
  private def qLmSweep(s: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.lmScore(docs(s, dir), LmMinPrefix, LmTopPerPrefix,
      LmInvBackoff)
    scored
      .select(explode(array(LmSweepCuts.map(lit): _*)).as("cutoff"),
        col("mean_inv_p"), col("n_bigrams"))
      .groupBy(col("cutoff"))
      .agg(
        sum(when(col("mean_inv_p") <= col("cutoff"), 1L).otherwise(0L))
          .as("n_docs_kept"),
        sum(when(col("mean_inv_p") <= col("cutoff"), col("n_bigrams"))
          .otherwise(0L)).cast("long").as("n_bigrams_kept"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("cutoff"))
  }

  private val sqlLmSweep: String = {
    val cutList = LmSweepCuts.map(c => s"CAST($c AS DOUBLE)").mkString(", ")
    s"""SELECT cutoff,
       |  CAST(SUM(CASE WHEN mean_inv_p <= cutoff THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_docs_kept,
       |  CAST(SUM(CASE WHEN mean_inv_p <= cutoff THEN n_bigrams ELSE 0
       |    END) AS BIGINT) AS n_bigrams_kept,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM (
       |  ${sqlLmScore.linesIterator.mkString("\n  ")}
       |) scored, unnest([$cutList]) u(cutoff)
       |GROUP BY cutoff ORDER BY cutoff""".stripMargin
  }

  // --------------------------------------- text_kn_lm / text_kn_score
  // Interpolated Kneser–Ney smoothing over the SAME pair-count CTEs as
  // text_ngram_lm (see TextOps.knLm/knScore scaladoc): absolute discount
  // D frees per-prefix mass λ(u) = D·N1+(u,·)/c(u,·), redistributed by
  // continuation fan-in P_cont(w) = N1+(·,w)/N1+(·,·). All inputs are
  // exact BIGINT counts; both engines evaluate the identical IEEE
  // multiply/divide/add tree, so probabilities hash-match bit for bit.
  private val KnDiscount = 0.75

  private def qKnLm(s: SparkSession, dir: String): DataFrame =
    TextOps.knLm(docs(s, dir), LmMinPrefix, LmTopPerPrefix, KnDiscount)
      .orderBy(col("prefix"), col("rk"))

  /** KN stat CTEs layered on [[sqlLmCtes]] (which ends at the ranked,
    * min-prefix-filtered `lm`): per-prefix type fan-out, per-word type
    * fan-in, total bigram-type count.
    */
  private val sqlKnCtes: String =
    s"""pstat AS (
       |  SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_types
       |  FROM pc GROUP BY prefix
       |), wstat AS (
       |  SELECT next_word, CAST(COUNT(*) AS BIGINT) AS n_prec
       |  FROM pc GROUP BY next_word
       |), tstat AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM pc
       |)""".stripMargin

  /** The P_KN expression tree — spelled identically in Spark (TextOps.knLm)
    * and here so every IEEE step rounds the same way.
    */
  private val sqlKnD = s"CAST($KnDiscount AS DOUBLE)"
  private val sqlKnBackoffW: String =
    s"($sqlKnD * CAST(n_types AS DOUBLE)) / CAST(n_prefix AS DOUBLE)"
  private val sqlKnPCont: String =
    "CAST(n_prec AS DOUBLE) / CAST(t_types AS DOUBLE)"
  private val sqlKnP: String =
    s"""greatest(CAST(n_pair AS DOUBLE) - $sqlKnD, CAST(0.0 AS DOUBLE))
       |    / CAST(n_prefix AS DOUBLE)
       |    + ($sqlKnBackoffW) * ($sqlKnPCont)""".stripMargin

  private val sqlKnLm: String =
    s"""WITH $sqlLmCtes,
       |$sqlKnCtes
       |SELECT lm.prefix, lm.rk, lm.next_word, lm.n_pair, lm.n_prefix,
       |  pstat.n_types, wstat.n_prec, tstat.t_types,
       |  $sqlKnBackoffW AS backoff_w,
       |  $sqlKnPCont AS p_cont,
       |  $sqlKnP AS p_kn
       |FROM lm JOIN pstat USING (prefix) JOIN wstat USING (next_word)
       |  CROSS JOIN tstat
       |WHERE rk <= $LmTopPerPrefix
       |ORDER BY prefix, rk""".stripMargin

  private def qKnScore(s: SparkSession, dir: String): DataFrame =
    TextOps.knScore(docs(s, dir), LmMinPrefix, LmTopPerPrefix, KnDiscount)
      .orderBy(col("doc_id"))

  private val sqlKnScore: String = {
    val pExpr =
      s"""CASE WHEN p_kn IS NOT NULL THEN p_kn
         |    WHEN backoff_w IS NOT NULL AND n_prec IS NOT NULL
         |      THEN backoff_w * (CAST(n_prec AS DOUBLE)
         |        / CAST(t_types AS DOUBLE))
         |    ELSE CAST(1 AS DOUBLE) / CAST(t_types AS DOUBLE) END"""
        .stripMargin.linesIterator.mkString(" ")
    s"""WITH $sqlLmCtes,
       |$sqlKnCtes,
       |knt AS (
       |  SELECT lm.prefix, lm.next_word, $sqlKnP AS p_kn
       |  FROM lm JOIN pstat USING (prefix) JOIN wstat USING (next_word)
       |    CROSS JOIN tstat
       |  WHERE rk <= $LmTopPerPrefix
       |), lamt AS (
       |  SELECT prefix, $sqlKnBackoffW AS backoff_w
       |  FROM t JOIN pstat USING (prefix)
       |  WHERE n_prefix >= $LmMinPrefix
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN p_kn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  CAST(SUM(CASE WHEN p_kn IS NULL AND backoff_w IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
       |  ${graft.functions.Exact.sqlSum(pExpr, 9)} / COUNT(*) AS mean_p
       |FROM bg
       |  LEFT JOIN knt USING (prefix, next_word)
       |  LEFT JOIN lamt USING (prefix)
       |  LEFT JOIN wstat USING (next_word)
       |  CROSS JOIN tstat
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- text_hybrid_rrf
  // Hybrid lexical+vector retrieval: the BM25 ranking and the exact
  // cosine ranking (query vector 0, the documents' embedding twin —
  // fixture id spaces coincide) fused by reciprocal-rank fusion
  // (Cormack, Clarke & Buettcher, SIGIR 2009), score = Σ 1/(60+rank)
  // with absent ranks contributing 0. This is the production RAG
  // retrieval shape: two independent k-bounded rankings, one
  // full-outer join on the doc key, integer ranks → exact IEEE terms.
  private val HybridTopK = 10
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = TextOps.bm25TopK(docs(s, dir))
      .select(col("doc_id"), col("rk").as("rk_text"))
    val ann = Similarity.bruteTopK(emb(s, dir))
      .filter(col("query_id") === 0L)
      .select(col("cand_id").as("doc_id"), col("rk").cast("long").as("rk_vec"))
    val w = Window.orderBy(col("rrf").desc, col("doc_id"))
    bm.join(ann, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("rk_text").cast("double")),
          lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("rk_vec").cast("double")),
          lit(0.0)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= HybridTopK)
      .select(col("rk").cast("long").as("rk"), col("doc_id"),
        col("rk_text"), col("rk_vec"), col("rrf"))
      .orderBy(col("rk"))
  }

  private val sqlHybridRrf: String =
    s"""WITH bt AS (
       |  SELECT doc_id, rk AS rk_text FROM (
       |    ${TextOps.sqlBm25.linesIterator.mkString("\n    ")}
       |  )
       |), av AS (
       |  SELECT cand_id AS doc_id, CAST(rk AS BIGINT) AS rk_vec FROM (
       |    ${Similarity.sqlBruteTopK.linesIterator.mkString("\n    ")}
       |  ) WHERE query_id = 0
       |), fused AS (
       |  SELECT doc_id, rk_text, rk_vec,
       |    COALESCE(CAST(1 AS DOUBLE)
       |      / (CAST(60 AS DOUBLE) + CAST(rk_text AS DOUBLE)), 0)
       |    + COALESCE(CAST(1 AS DOUBLE)
       |      / (CAST(60 AS DOUBLE) + CAST(rk_vec AS DOUBLE)), 0) AS rrf
       |  FROM bt FULL OUTER JOIN av USING (doc_id)
       |), ranked AS (
       |  SELECT doc_id, rk_text, rk_vec, rrf,
       |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, doc_id, rk_text, rk_vec, rrf
       |FROM ranked WHERE rk <= $HybridTopK ORDER BY rk""".stripMargin

  // ------------------------------------------------- text_novelty
  // Bigram-level novelty: the share of a document's bigram occurrences
  // whose corpus-wide document frequency is 1 (they appear in NO other
  // document) — a phrase-level originality signal complementing
  // word-level rarity (text_rarity) and fingerprint overlap. Shape: one
  // bigram-df aggregate (doc-level distinct first, so a phrase repeated
  // inside one doc stays df=1), one keyed join back to the bigram
  // stream, one doc-keyed agg; the division is exact-integer over
  // exact-integer.
  private def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val bg = TextOps.bigrams(docs(s, dir))
    val dfq = bg.select(col("prefix"), col("next_word"), col("doc_id"))
      .distinct()
      .groupBy(col("prefix"), col("next_word"))
      .agg(count(lit(1)).as("df"))
    bg.join(dfq, Seq("prefix", "next_word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_bigrams").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val sqlNovelty: String =
    s"""WITH $sqlLmCtes,
       |dfq AS (
       |  SELECT prefix, next_word,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM bg GROUP BY prefix, next_word
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM bg JOIN dfq USING (prefix, next_word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_bigrams", qBigrams _, sqlBigrams),
    QuerySpec("text_tfidf", (s, d) => TextOps.tfIdf(docs(s, d)), TextOps.sqlTfIdf),
    QuerySpec("text_tokens", (s, d) => TextOps.tokenCounts(docs(s, d)).orderBy(col("doc_id")),
      TextOps.sqlTokenCounts),
    QuerySpec("text_quality", (s, d) => TextOps.quality(docs(s, d)).orderBy(col("doc_id")),
      TextOps.sqlQuality),
    QuerySpec("text_langid", (s, d) => TextOps.langId(docs(s, d)).orderBy(col("doc_id")),
      TextOps.sqlLangId),
    QuerySpec("text_fingerprint", (s, d) => TextOps.fingerprint(docs(s, d)).orderBy(col("doc_id")),
      TextOps.sqlFingerprint),
    QuerySpec("text_langid_ngram", (s, d) => TextOps.langIdNgram(docs(s, d)).orderBy(col("doc_id")),
      TextOps.sqlLangIdNgram),
    // the winnow fingerprint frame is memoized: three queries read it
    QuerySpec("text_winnow", (s, d) =>
      TextOps.winnowCached(docs(s, d)).orderBy(col("doc_id"), col("fingerprint")),
      TextOps.sqlWinnow),
    QuerySpec("text_winnow_pairs", (s, d) =>
      TextOps.winnowPairs(TextOps.winnowCached(docs(s, d))),
      TextOps.sqlWinnowPairs),
    QuerySpec("text_source_overlap", (s, d) =>
      TextOps.sourceOverlap(docs(s, d), TextOps.winnowCached(docs(s, d))),
      TextOps.sqlSourceOverlap),
    QuerySpec("text_source_tvd", (s, d) => TextOps.sourceTvd(docs(s, d)), TextOps.sqlSourceTvd),
    QuerySpec("text_lexical_profile", (s, d) => TextOps.lexicalProfile(docs(s, d)),
      TextOps.sqlLexicalProfile),
    QuerySpec("text_repetition", (s, d) => TrainingData.repetition(docs(s, d)),
      TrainingData.sqlRepetition),
    QuerySpec("text_bpe_merges", (s, d) => TextOps.bpeMerges(docs(s, d)),
      TextOps.sqlBpeMerges()),
    QuerySpec("text_pii", (s, d) => TextOps.piiScan(docs(s, d)), TextOps.sqlPiiScan),
    QuerySpec("text_pii_stats", (s, d) => TextOps.piiStats(docs(s, d)), TextOps.sqlPiiStats),
    QuerySpec("text_gopher", (s, d) => TextOps.gopher(docs(s, d)), TextOps.sqlGopher),
    QuerySpec("text_simpson", (s, d) => TextOps.simpson(docs(s, d)), TextOps.sqlSimpson),
    QuerySpec("text_postings", (s, d) => TextOps.postings(docs(s, d)), TextOps.sqlPostings),
    QuerySpec("text_bpe_encode", (s, d) => TextOps.bpeEncode(docs(s, d)),
      TextOps.sqlBpeEncode()),
    QuerySpec("text_quality_rank", (s, d) => TextOps.qualityRank(docs(s, d)),
      TextOps.sqlQualityRank),
    QuerySpec("text_boilerplate", (s, d) => TextOps.boilerplate(docs(s, d)),
      TextOps.sqlBoilerplate),
    QuerySpec("text_vocab_coverage", (s, d) => TextOps.vocabCoverage(docs(s, d)),
      TextOps.sqlVocabCoverage),
    QuerySpec("text_bm25", (s, d) => TextOps.bm25TopK(docs(s, d)), TextOps.sqlBm25),
    QuerySpec("text_hybrid_rrf", qHybridRrf _, sqlHybridRrf),
    QuerySpec("text_js_divergence", (s, d) => TextOps.jsDivergence(docs(s, d)),
      TextOps.sqlJsDivergence),
    QuerySpec("text_classifier", (s, d) => TextOps.classifierScore(docs(s, d)),
      TextOps.sqlClassifierScore),
    QuerySpec("text_lang_confusion", (s, d) => TextOps.langConfusion(docs(s, d)),
      TextOps.sqlLangConfusion),
    QuerySpec("text_zipf", (s, d) => TextOps.zipf(docs(s, d)), TextOps.sqlZipf),
    QuerySpec("text_collocations", (s, d) => TextOps.collocations(docs(s, d)),
      TextOps.sqlCollocations),
    QuerySpec("text_vocab_growth", (s, d) => TextOps.vocabGrowth(docs(s, d)),
      TextOps.sqlVocabGrowth),
    QuerySpec("text_burstiness_words", (s, d) => TextOps.wordBurstiness(docs(s, d)),
      TextOps.sqlWordBurstiness),
    QuerySpec("text_textrank", (s, d) => TextOps.textRank(docs(s, d)), TextOps.sqlTextRank()),
    QuerySpec("text_classifier_auc", (s, d) => TextOps.classifierAuc(docs(s, d)),
      TextOps.sqlClassifierAuc),
    QuerySpec("text_ngram_lm", qNgramLm _, sqlNgramLm),
    QuerySpec("text_lm_score", qLmScore _, sqlLmScore),
    QuerySpec("text_lm_sweep", qLmSweep _, sqlLmSweep),
    QuerySpec("text_kn_lm", qKnLm _, sqlKnLm),
    QuerySpec("text_kn_score", qKnScore _, sqlKnScore),
    QuerySpec("text_novelty", qNovelty _, sqlNovelty),
    QuerySpec("text_rarity", (s, d) => TextOps.rarity(docs(s, d)), TextOps.sqlRarity),
    QuerySpec("text_fertility", (s, d) => TextOps.fertility(docs(s, d)), TextOps.sqlFertility),
  )
}
