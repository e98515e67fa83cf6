package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * All per-document metrics are pure `Column` expressions (whole-stage
  * codegen, no UDFs, no shuffle) — at 100 TB these run map-side at scan
  * speed. Every op has a DuckDB-SQL mirror (`sql*`) built from the same
  * constants so the oracle is definitionally in sync.
  *
  * Cross-engine determinism rules: word splitting is single-space `split`
  * (identical in Spark and DuckDB), hashes are md5-derived (identical hex in
  * both), folds are left-to-right with an explicit init (Spark `aggregate`
  * ↔ DuckDB `list_reduce(list_prepend(init, …))`), and scores use only
  * rational arithmetic (no transcendentals — libm implementations differ in
  * the last ulp across engines).
  */
object TextOps {

  /** 32-bit token hash: first 8 hex chars of md5, as a long. */
  def tokenHash(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long")
  def sqlTokenHash(w: String): String =
    s"CAST(('0x' || substr(md5($w), 1, 8)) AS BIGINT)"

  def words(text: Column): Column = split(text, " ")
  def sqlWords(text: String): String = s"string_split($text, ' ')"

  // ------------------------------------------------------------ token count
  /** Whitespace tokens + a BPE-ish regex segmentation (letter runs, digit
    * runs, single other chars) — both countable at scan speed.
    */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      length(col("text")).as("n_chars_computed"),
      size(words(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as("bpe_tokens"))

  def sqlTokenCounts: String =
    s"""SELECT doc_id, length(text) AS n_chars_computed,
       |  len(${sqlWords("text")}) AS ws_tokens,
       |  len(regexp_extract_all(text, '$BpePattern')) AS bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ Zipf audit
  /** Zipf rank–frequency audit (Zipf 1949): the top-[[ZipfTopK]] words
    * with rank × frequency — near-constant on natural text, and the
    * complement of [[vocabGrowth]]'s Heaps curve (a corpus whose
    * rank·freq product climbs with rank is template/boilerplate-heavy).
    * One explode + one word hash agg; the global top-k rank is
    * WindowGroupLimit-pruned (k rows per partition cross the wire, not
    * |vocab|); rank × n is an exact integer product.
    */
  val ZipfTopK = 50

  def zipf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n").desc, col("w"))
    docs.select(explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ZipfTopK)
      .select(col("rk").cast("long").as("rk"), col("w").as("word"),
        col("n"), (col("rk") * col("n")).as("rank_times_n"))
      .orderBy(col("rk"))
  }

  def sqlZipf: String =
    s"""WITH counts AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(${sqlWords("text")}) AS w FROM documents
       |  ) WHERE w <> '' GROUP BY w
       |), ranked AS (
       |  SELECT w, n,
       |    ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk
       |  FROM counts
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, w AS word, n,
       |  rk * n AS rank_times_n
       |FROM ranked WHERE rk <= $ZipfTopK ORDER BY rk""".stripMargin

  // ------------------------------------------------- classifier agreement
  /** Agreement/confusion matrix between the two language-ID classifiers
    * (stopword-evidence [[langId]] vs character-trigram [[langIdNgram]])
    * — the calibration table that decides which classifier gates which
    * language at filtering time, and the standard way to find systematic
    * disagreement pockets without any labeled data beyond the corpus
    * itself. Pure composition: both classifiers are map-side scoring
    * passes over one scan each; the matrix is a ≤|langs|² aggregate.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    // both classifiers are row-local over the SAME scan — one pass, no
    // join, each prediction a single codegen'd byte scan ([[TextExprs]])
    graft.functions.TextExprs.register(docs.sparkSession)
    docs.select(
        graft.functions.TextExprs.predictWord(col("text")).as("pred_stopword"),
        graft.functions.TextExprs.predictTrigram(col("text")).as("pred_ngram"))
      .groupBy(col("pred_stopword"), col("pred_ngram"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("pred_stopword"), col("pred_ngram"))
  }

  def sqlLangConfusion: String =
    s"""WITH a AS (
       |  ${sqlLangId.linesIterator.mkString("\n  ")}
       |), b AS (
       |  ${sqlLangIdNgram.linesIterator.mkString("\n  ")}
       |)
       |SELECT a.predicted_lang AS pred_stopword,
       |  b.predicted_lang AS pred_ngram,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM a JOIN b ON a.doc_id = b.doc_id
       |GROUP BY 1, 2 ORDER BY pred_stopword, pred_ngram""".stripMargin

  // --------------------------------------------------------- vocab growth
  /** Corpus-prefix cut denominators for [[vocabGrowth]] (1/8, 1/4, 1/2,
    * all of the corpus in doc_id order).
    */
  val GrowthCuts: Seq[Int] = Seq(8, 4, 2, 1)

  /** Vocabulary-growth (Heaps' law, Heaps 1978) audit: distinct-word and
    * token counts at nested corpus prefixes — the curve that sizes
    * tokenizer vocabularies and detects boilerplate floods (vocabulary
    * flattening while tokens grow = duplication).
    *
    * Scale shape: the corpus is exploded ONCE; per word, only the thin
    * `min(doc_id)` first-occurrence row survives the (word) hash agg —
    * every checkpoint then reads the |vocab|-row frame against a
    * broadcast 4-row cut table (never re-scanning the corpus per cut).
    * Token totals are a map-side count per doc against the same
    * broadcast. Integer cuts (`m div d`), integer counts — no floating
    * boundary can straddle an engine.
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val cuts = docs.agg((max(col("doc_id")) + 1).as("m"))
      .select(explode(array(GrowthCuts.map(d =>
        expr(s"m div $d")): _*)).as("cut_docs"))
    val firstDoc = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
    val vocab = firstDoc.crossJoin(broadcast(cuts))
      .filter(col("fd") < col("cut_docs"))
      .groupBy(col("cut_docs")).agg(count(lit(1)).as("vocab_size"))
    val toks = docs
      .select(col("doc_id"), size(words(col("text"))).as("nt"))
      .crossJoin(broadcast(cuts))
      .filter(col("doc_id") < col("cut_docs"))
      .groupBy(col("cut_docs")).agg(sum(col("nt")).cast("long")
        .as("n_tokens"))
    vocab.join(toks, Seq("cut_docs")).orderBy(col("cut_docs"))
  }

  def sqlVocabGrowth: String = {
    val cutRows = GrowthCuts.map(d => s"SELECT m // $d AS cut_docs FROM b")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
       |cuts AS (
       |  $cutRows
       |), fd AS (
       |  SELECT w, MIN(doc_id) AS fd FROM (
       |    SELECT doc_id, unnest(${sqlWords("text")}) AS w FROM documents
       |  ) GROUP BY w
       |), v AS (
       |  SELECT cut_docs, CAST(COUNT(*) AS BIGINT) AS vocab_size
       |  FROM fd, cuts WHERE fd < cut_docs GROUP BY cut_docs
       |), t AS (
       |  SELECT cut_docs,
       |    CAST(SUM(len(${sqlWords("text")})) AS BIGINT) AS n_tokens
       |  FROM documents, cuts WHERE doc_id < cut_docs GROUP BY cut_docs
       |)
       |SELECT cut_docs, vocab_size, n_tokens FROM v JOIN t USING (cut_docs)
       |ORDER BY cut_docs""".stripMargin
  }

  // --------------------------------------------------------- quality score
  /** Length / stopword / vocabulary-diversity ratios combined into a
    * rational quality score (no logs — cross-engine exactness).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Rational quality blend over a words column: long docs with diverse
    * non-stopword text win. Pure arithmetic — no transcendentals.
    */
  def qualityScore(w: Column): Column = {
    val nWords = size(w).cast("double")
    val nStop = size(filter(w, x => x.isInCollection(Stopwords))).cast("double")
    val nDistinct = size(array_distinct(w)).cast("double")
    (nWords / (nWords + lit(100.0))) * (nDistinct / nWords) *
      (lit(1.0) - nStop / nWords)
  }

  def quality(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val nStop = size(filter(w, x => x.isInCollection(Stopwords))).cast("double")
    val nDistinct = size(array_distinct(w)).cast("double")
    docs.select(col("doc_id"),
      (nStop / nWords).as("stopword_ratio"),
      (nDistinct / nWords).as("distinct_ratio"),
      (length(col("text")).cast("double") / nWords).as("avg_token_len"),
      qualityScore(w).as("quality_score"))
  }

  /** Shared oracle fragments for everything scoring documents by
    * [[qualityScore]] — ONE definition so [[sqlQuality]],
    * [[sqlQualityRank]] and [[TrainingData.sqlBudgetSelect]] can never
    * drift from each other (or from the Scala blend).
    * [[sqlWordStats]] emits per-doc nwl/nwords/nstop/ndistinct plus any
    * passthrough columns; [[SqlScoreExpr]] is the blend over them.
    */
  val SqlScoreExpr: String =
    "(nwords / (nwords + 100.0)) * (ndistinct / nwords) * (1.0 - nstop / nwords)"

  def sqlWordStats(extraCols: String = ""): String = {
    val set = Stopwords.map(s => s"'$s'").mkString(", ")
    val w = sqlWords("text")
    s"""SELECT doc_id$extraCols, len($w) AS nwl,
       |    CAST(len($w) AS DOUBLE) AS nwords,
       |    CAST(len(list_filter($w, x -> x IN ($set))) AS DOUBLE) AS nstop,
       |    CAST(len(list_distinct($w)) AS DOUBLE) AS ndistinct
       |  FROM documents""".stripMargin
  }

  def sqlQuality: String =
    s"""SELECT doc_id,
       |  nstop / nwords AS stopword_ratio,
       |  ndistinct / nwords AS distinct_ratio,
       |  CAST(length(text) AS DOUBLE) / nwords AS avg_token_len,
       |  $SqlScoreExpr AS quality_score
       |FROM (
       |  ${sqlWordStats(", text")}
       |) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- per-language quality rank
  /** Exact per-language quality rank and percentile — the CCNet-style
    * "keep the top quality fraction per language" gate (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", 2020, does this with perplexity terciles; the operator is the
    * same once a score exists). Rank 1 = best; pct_rank = (rank−1)/(n−1)
    * is rational, so both engines emit the identical double.
    *
    * Scale shape — the naive formulation is ONE window partitioned by
    * lang, which funnels the entire corpus-dominant language ("en" is
    * most of a web corpus) through a single partition's sort. Instead the
    * same distributed-prefix-sum construction as
    * [[TrainingData.pack]]: map-side score BUCKETS (floor(score·64) —
    * score is the identical double in both engines, so the bucket is
    * too), a (lang, bucket) count table that is tiny (|langs| × 65) and
    * broadcast back with higher-bucket prefix offsets, and a row_number
    * window partitioned by (lang, bucket) — parallelism |langs|·|buckets|
    * instead of |langs|. global rank = offset + within-bucket rank, with
    * ties broken by doc_id for a total order.
    */
  def qualityRank(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs
      .select(col("doc_id"), col("lang"), words(col("text")).as("w"))
      .select(col("doc_id"), col("lang"),
        qualityScore(col("w")).as("score"))
      .withColumn("bucket", floor(col("score") * lit(64.0)).cast("long"))
    val offsets = scored.groupBy(col("lang"), col("bucket")).count()
      .withColumn("offset", coalesce(
        sum(col("count")).over(Window.partitionBy(col("lang"))
          .orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lang_total",
        sum(col("count")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("bucket"), col("offset"), col("lang_total"))
    scored.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("rank", col("offset") +
        row_number().over(Window.partitionBy(col("lang"), col("bucket"))
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("score"), col("rank"),
        when(col("lang_total") === 1, lit(0.0)).otherwise(
          (col("rank") - 1).cast("double") /
            (col("lang_total") - 1).cast("double")).as("pct_rank"))
      .orderBy(col("lang"), col("rank"))
  }

  def sqlQualityRank: String =
    s"""SELECT doc_id, lang, score, rank,
       |  CASE WHEN lang_total = 1 THEN 0.0
       |       ELSE CAST(rank - 1 AS DOUBLE) / CAST(lang_total - 1 AS DOUBLE)
       |  END AS pct_rank
       |FROM (
       |  SELECT doc_id, lang, score,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |                       ORDER BY score DESC, doc_id) AS rank,
       |    COUNT(*) OVER (PARTITION BY lang) AS lang_total
       |  FROM (
       |    SELECT doc_id, lang, $SqlScoreExpr AS score
       |    FROM (
       |      ${sqlWordStats(", lang")}
       |    )
       |  )
       |) ORDER BY lang, rank""".stripMargin

  // ------------------------------------------------------------ language ID
  /** Marker-word voting heuristic: count hits per language profile, argmax
    * with a fixed tie-break order. (The fixture vocabulary is synthetic, so
    * profiles are synthetic too — the operator shape is what matters: N
    * conditional counts per row, zero shuffles.)
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("table", "row", "column"),
    "es" -> Seq("data", "query", "scan"),
    "fr" -> Seq("filter", "sort", "merge"),
    "zh" -> Seq("vector", "hash", "stream"))

  /** Marker-vote argmax with fixed tie order, over a words column. */
  def predictedLang(w: Column): Column = {
    val scores = LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(w, x => x.isInCollection(markers)))
    }
    val mx = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === mx && mx > 0, lit(lang)).otherwise(acc)
    }
  }

  def langScores(w: Column): Seq[(String, Column)] =
    LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(w, x => x.isInCollection(markers)))
    }

  def langId(docs: DataFrame): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    docs.select(col("doc_id"), col("lang"),
        graft.functions.TextExprs.predictWord(col("text"))
          .as("predicted_lang"))
      .select(col("doc_id"), col("lang"), col("predicted_lang"),
        (col("predicted_lang") === col("lang")).as("lang_match"))
  }

  def sqlLangId: String = {
    val w = sqlWords("text")
    val scoreDefs = LangProfiles.map { case (lang, markers) =>
      val set = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter($w, x -> x IN ($set))) AS s_$lang"
    }.mkString(",\n    ")
    val mx = s"greatest(${LangProfiles.map("s_" + _._1).mkString(", ")})"
    // foldRight in langId means earlier profiles win ties → first-match CASE
    val cases = LangProfiles.map { case (lang, _) =>
      s"WHEN s_$lang = mx AND mx > 0 THEN '$lang'"
    }.mkString("\n    ")
    s"""SELECT doc_id, lang,
       |  CASE $cases ELSE 'und' END AS predicted_lang,
       |  (CASE $cases ELSE 'und' END = lang) AS lang_match
       |FROM (
       |  SELECT *, $mx AS mx
       |  FROM (SELECT doc_id, lang,
       |    $scoreDefs
       |  FROM documents)
       |) ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- char-n-gram language ID
  /** Character-trigram profile scoring — the classical n-gram language-ID
    * heuristic (Cavnar & Trenkle 1994 family): score(language) = number of
    * the document's char trigrams found in that language's profile set;
    * argmax with the same fixed tie order as the word-marker variant.
    * Profiles are synthetic (fixture text is synthetic) but the operator
    * shape is real: per-doc trigram explosion + K set-membership counts,
    * all map-side.
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", " th", "ing"),
    "de" -> Seq("tab", "row", "col", "umn"),
    "es" -> Seq("dat", "que", "sca", "ery"),
    "fr" -> Seq("fil", "sor", "mer", "ter"),
    "zh" -> Seq("vec", "has", "str", "eam"))

  /** The trigram prediction as a reusable scalar expression (evaluated
    * over a materialized trigram-array column by [[langIdNgram]];
    * [[langConfusion]] composes it with the stopword prediction in ONE
    * pass).
    */
  def predictedLangNgram(tg: Column): Column = {
    val scores = TrigramProfiles.map { case (lang, profile) =>
      lang -> size(filter(tg, t => t.isInCollection(profile)))
    }
    val mx = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === mx && mx > 0, lit(lang)).otherwise(acc)
    }
  }

  def trigrams(text: Column): Column =
    transform(sequence(lit(1), greatest(length(text) - 2,
      lit(1))), i => text.substr(i, lit(3)))

  def langIdNgram(docs: DataFrame): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    docs.select(col("doc_id"), col("lang"),
      graft.functions.TextExprs.predictTrigram(col("text"))
        .as("predicted_lang"))
  }

  def sqlLangIdNgram: String = {
    val scoreDefs = TrigramProfiles.map { case (lang, profile) =>
      val set = profile.map(p => s"'$p'").mkString(", ")
      s"len(list_filter(tg, t -> t IN ($set))) AS s_$lang"
    }.mkString(",\n    ")
    val mx = s"greatest(${TrigramProfiles.map("s_" + _._1).mkString(", ")})"
    val cases = TrigramProfiles.map { case (lang, _) =>
      s"WHEN s_$lang = mx AND mx > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, lang, CASE $cases ELSE 'und' END AS predicted_lang
       |FROM (
       |  SELECT *, $mx AS mx FROM (
       |    SELECT doc_id, lang,
       |      $scoreDefs
       |    FROM (SELECT doc_id, lang,
       |      list_transform(range(1, greatest(length(text) - 2, 1) + 1),
       |                     i -> substr(text, i, 3)) AS tg
       |      FROM documents)
       |  )
       |) ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- fingerprinting
  /** Rolling polynomial fingerprint over token hashes, mod a large prime —
    * an order-sensitive document signature (unlike minhash, word order
    * matters). Left-to-right fold with explicit 0 init on both engines.
    */
  val FpMod = 1000000007L
  val FpBase = 31L

  def fingerprint(docs: DataFrame): DataFrame = {
    val hashes = transform(words(col("text")), w => tokenHash(w))
    val fp = aggregate(hashes, lit(0L),
      (acc, h) => (acc * lit(FpBase) + h) % lit(FpMod))
    docs.select(col("doc_id"), fp.as("fingerprint"))
  }

  def sqlFingerprint: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(${sqlWords("text")},
       |                     w -> ${sqlTokenHash("w")})),
       |    (acc, h) -> (acc * $FpBase + h) % $FpMod) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ tf-idf
  /** TF-IDF top terms per document. The idf is the RATIONAL variant
    * (N+1)/(df+1) — same ranking monotonicity as log-idf, but no
    * transcendentals, so both engines produce bit-identical scores
    * (ln() differs in the last ulp across libm implementations).
    *
    * Plan shape at scale: explode → one hash aggregation per (doc, term)
    * for tf; term document frequencies are a second aggregation over the
    * DISTINCT (doc, term) pairs already in hand; N is a broadcast scalar.
    * Everything shuffles on term or (doc, term) — no all-pairs anywhere.
    */
  val TfIdfTopK = 3

  def tfIdf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      // _outer: words() never yields an empty/null array — identical rows,
      // minus the inferred size>0 pre-Generate filter that would compute
      // the split twice.
      .select(col("doc_id"), explode_outer(words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * (col("n_docs") + 1)).cast("double") / (col("df") + 1))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfIdfTopK)
      // raw quotient, no round(): tf·(N+1)/(df+1) is a small-denominator
      // rational, exactly the shape where fixed-scale rounding of a double
      // hits cross-engine decimal ties (see Similarity.centroids)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  def sqlTfIdf: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(${sqlWords("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
       |), df AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
       |), n AS (SELECT COUNT(*) AS n_docs FROM documents
       |), scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1) AS score
       |  FROM tf JOIN df USING (term), n
       |), ranked AS (
       |  SELECT doc_id, term, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, term) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, rk, term, score
       |FROM ranked WHERE rk <= $TfIdfTopK
       |ORDER BY doc_id, rk""".stripMargin

  // -------------------------------------------------------------- winnowing
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * local algorithms for document fingerprinting", SIGMOD 2003): hash every
    * word k-gram, slide a window of `WinnowWindow` hashes, keep each
    * window's minimum — the selected set is position-robust (shared text
    * regions select shared fingerprints regardless of offset) and its size
    * is ~2/(w+1) of the k-gram count. Output: one row per distinct selected
    * fingerprint per doc. Everything is per-row array math — no shuffle
    * before the final explode.
    */
  val WinnowWindow = 4

  /** Sliding-window minima as chained `zip_with` over shifted slices —
    * NEVER as a lambda that indexes the hash array: a lambda-internal array
    * reference is re-evaluated per element (and CollapseProject inlines a
    * single-use alias straight into the lambda), turning the whole md5
    * chain O(n²) per document. Here the array appears only as function
    * ARGUMENTS (evaluated once per row), and its multiple references also
    * stop CollapseProject from inlining the upstream stage.
    */
  val WinnowMod = Dedup.MinhashP
  val WinnowBase = 31L

  /** Relational formulation — the one that actually fits Spark's execution
    * model. Array/HOF versions of winnowing fight the engine twice over:
    * lambda-internal array references re-evaluate per element, and
    * CollapseProject inlines the hash stage into every downstream reference
    * (measured 50×+ slowdowns both ways). Exploding to one row per token
    * and using window functions (lead for the k-gram polynomial, a bounded
    * frame min for the winnow) keeps everything inside whole-stage codegen
    * with exactly ONE hash evaluation per token and one shuffle by doc_id.
    */
  def winnow(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val ahead = byDoc.rowsBetween(Window.currentRow, WinnowWindow - 1)
    val kh = ((col("h") * WinnowBase + lead(col("h"), 1).over(byDoc))
      % WinnowMod * WinnowBase + lead(col("h"), 2).over(byDoc)) % WinnowMod
    // partition-sizing knob IN the plan (SCALE.md trade-off closed): hash
    // the DOCUMENT rows by doc_id before the explode — that partitioning
    // already satisfies the window's ClusteredDistribution, so the ~10×
    // exploded token stream never crosses the wire (the old shape shuffled
    // post-explode tokens), and exploded partition size is bounded by
    // doc-partition bytes × expansion with the width set here —
    // spark.graft.winnow.parts when sized for the deployment, the session
    // shuffle width otherwise — not by an external scan-split setting.
    val parts = docs.sparkSession.conf
      .getOption("spark.graft.winnow.parts").map(_.toInt)
    val pre = parts.map(p => docs.repartition(p, col("doc_id")))
      .getOrElse(docs.repartition(col("doc_id")))
    pre
      .select(col("doc_id"),
        // _outer: words() never empty/null — same rows, no inferred
        // size>0 filter re-evaluating the split below the Generate.
        posexplode_outer(words(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"),
        (tokenHash(col("word")) % WinnowMod).as("h"))
      .withColumn("kh", kh)
      .withColumn("wm", min(col("kh")).over(ahead))
      .withColumn("n_in_window", count(col("kh")).over(ahead))
      .filter(col("n_in_window") === WinnowWindow) // full windows only
      .select(col("doc_id"), col("wm").as("fingerprint"))
      .distinct()
      .orderBy(col("doc_id"), col("fingerprint"))
  }

  /** Winnow-fingerprint document pairs — the detection half of the
    * winnowing scheme (Schleimer et al. §5: documents sharing selected
    * fingerprints share text regions). Pairs come from fingerprint
    * buckets via the lazy pair generator; fingerprints shared by more
    * than [[WinnowMaxBucket]] docs are boilerplate, not evidence, and are
    * skipped (same non-discriminative-bucket rule as SimHash chunks);
    * pairs must share ≥ [[WinnowSharedMin]] fingerprints. `fps` is the
    * (doc_id, fingerprint) frame of [[winnow]].
    */
  val WinnowMaxBucket = 50
  val WinnowSharedMin = 2

  /** Per-(session, `docs`) memo of the PINNED [[winnow]] fingerprint frame.
    * THREE registry queries run the full per-token winnow window per
    * call otherwise (`text_winnow`, `text_winnow_pairs`,
    * `text_source_overlap` — measured 0.85/1.73/1.12 s at sf0.1, all
    * dominated by the same corpus-scale explode + window), and the
    * (doc_id, fingerprint) frame is the operator family's durable
    * artifact exactly like the minhash band frame.
    */
  def winnowCached(docs: DataFrame): DataFrame =
    graft.Memo.pinned(docs.sparkSession, "text.winnow", docs)(winnow(docs))

  def winnowPairs(fps: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(fps.sparkSession)
    fps
      .groupBy(col("fingerprint"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= WinnowMaxBucket)
      .select(graft.functions.VectorExprs.pairExpand(col("ids"))
        .as(Seq("doc_a", "doc_b")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowSharedMin)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cross-source content overlap: for each source pair, the number of
    * distinct winnow fingerprints present in BOTH sources — the
    * provenance-leakage measure a corpus audit wants before mixing
    * crawls ("how much of source B is already in source A?"), per the
    * fingerprint-sharing rationale of Schleimer et al. §5.
    *
    * Scale shape: [[winnow]]'s per-token window is the only corpus-scale
    * stage; fingerprints then collapse to DISTINCT (source, fingerprint)
    * — bounded by |fingerprint vocabulary| × |sources| — and the
    * per-fingerprint source lists expand through the lazy pair generator
    * with at most C(|sources|, 2) pairs per fingerprint. |sources| is
    * domains/crawls (hundreds), never documents, so no bucket cap is
    * needed: the blow-up factor is a constant of the catalog, not of
    * corpus size. `fps` is the (doc_id, fingerprint) frame of [[winnow]].
    */
  def sourceOverlap(docs: DataFrame, fps: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    fps
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      // collect_set, not distinct-then-collect_list: the set dedups
      // (source, fingerprint) INSIDE the partial aggregate, so one hash
      // exchange on fingerprint does the work of two (a distinct would
      // shuffle on both columns first); sort_array restores determinism
      .groupBy(col("fingerprint"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(graft.functions.VectorExprs.pairExpand(col("ss"))
        .as(Seq("src_a", "src_b")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  def sqlSourceOverlap: String =
    s"""WITH w AS (
       |  ${sqlWinnow.linesIterator.mkString("\n  ")}
       |), sf AS (
       |  SELECT DISTINCT d.source, w.fingerprint
       |  FROM w JOIN documents d ON w.doc_id = d.doc_id
       |), p AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM sf a JOIN sf b
       |    ON a.fingerprint = b.fingerprint AND a.source < b.source
       |)
       |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
       |FROM p GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin

  /** Per-source token-distribution drift from the corpus mixture, as
    * total-variation distance — the standard "did this crawl's word
    * distribution shift away from the blend?" audit run before adjusting
    * mixture weights. TVD(p_s, p) = ½ Σ_w |c_s(w)/N_s − c(w)/N| is
    * emitted as the EXACT integer fraction
    * `tvd_num / tvd_den = Σ_w |c_s(w)·N − c(w)·N_s| / (2·N_s·N)` — no
    * division, no doubles, hash-safe against the oracle.
    *
    * Scale shape: the only corpus-scale stage is one hash exchange on
    * (source, word) with map-side partial counts; everything after runs
    * on the |sources|×|vocab|-bounded count frame. The Σ over words
    * ABSENT from a source never materializes: it telescopes to
    * N·N_s − Σ_{w∈V_s} c(w)·N_s, so only present-(source, word) rows are
    * joined. `n` is a broadcast 1-row scalar. At trillion-token scale the
    * c·N products exceed 2^63 — swap the two sum columns to
    * decimal(38,0); the plan shape is unchanged.
    */
  def sourceTvd(docs: DataFrame): DataFrame = {
    // four consumers derive from the (source, word) counts (cw/ns/n and
    // the present-pair join); without a pin each subtree re-scans and
    // re-explodes the corpus (no exchange reuse — their partitionings
    // differ), so materialize the vocab-bounded count frame ONCE
    val sw = Iterate.pin(docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw")))
    val cw = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ns = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val n  = cw.agg(sum(col("c_w")).as("n"))
    sw.join(cw, Seq("w"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(n))
      .groupBy(col("source"), col("n_s"), col("n"))
      .agg(
        sum(abs(col("c_sw") * col("n") - col("c_w") * col("n_s")))
          .as("num_present"),
        sum(col("c_w") * col("n_s")).as("mass_present"))
      .select(
        col("source"),
        (col("num_present") + (col("n") * col("n_s") - col("mass_present")))
          .cast("long").as("tvd_num"),
        (lit(2) * col("n_s") * col("n")).cast("long").as("tvd_den"))
      .orderBy(col("source"))
  }

  /** Per-source lexical profile: token count, type (distinct-word) count,
    * hapax legomena (words occurring exactly once in the source), and the
    * modal word frequency. The type/token and hapax/type ratios a corpus
    * card reports fall straight out of these integers; emitting the raw
    * counts keeps the result exact (no division → hash-safe) and lets the
    * reader pick the ratio convention.
    *
    * Scale shape: one corpus-scale hash exchange on (source, word) with
    * map-side partial counts, then a second exchange on the
    * |sources|×|vocab|-bounded frame — the same two-level aggregation
    * Heaps-law auditing uses; no joins, no windows.
    */
  def lexicalProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_hapax"),
        max(col("c")).cast("long").as("max_freq"))
      .orderBy(col("source"))

  def sqlLexicalProfile: String =
    s"""WITH sw AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT source, unnest(${sqlWords("text")}) AS w FROM documents
       |  ) WHERE w <> '' GROUP BY source, w
       |)
       |SELECT source,
       |  CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_types,
       |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  CAST(MAX(c) AS BIGINT) AS max_freq
       |FROM sw GROUP BY source ORDER BY source""".stripMargin

  def sqlSourceTvd: String =
    s"""WITH sw AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw FROM (
       |    SELECT source, unnest(${sqlWords("text")}) AS w FROM documents
       |  ) GROUP BY source, w
       |), cw AS (
       |  SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w
       |), ns AS (
       |  SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
       |  FROM sw GROUP BY source
       |), tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw),
       |pres AS (
       |  SELECT sw.source, ns.n_s, tot.n,
       |    SUM(ABS(sw.c_sw * tot.n - cw.c_w * ns.n_s)) AS num_present,
       |    SUM(cw.c_w * ns.n_s) AS mass_present
       |  FROM sw
       |  JOIN cw ON sw.w = cw.w
       |  JOIN ns ON sw.source = ns.source
       |  CROSS JOIN tot
       |  GROUP BY sw.source, ns.n_s, tot.n
       |)
       |SELECT source,
       |  CAST(num_present + (n * n_s - mass_present) AS BIGINT) AS tvd_num,
       |  CAST(2 * n_s * n AS BIGINT) AS tvd_den
       |FROM pres ORDER BY source""".stripMargin

  /** ln(2) as ONE shared literal — Spark and the oracle must read the
    * identical double, never each compute `log(2)` through their own
    * constant-folding path.
    */
  private val Ln2 = "0.6931471805599453"

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions (Lin, "Divergence measures based on the Shannon
    * entropy", IEEE Trans. IT 1991) — the symmetric, bounded [0, ln 2]
    * companion to [[sourceTvd]]'s L1 distance, the standard corpus-mix
    * drift score.
    *
    * Out-of-vocabulary mass needs no per-word rows: every word present
    * in P but absent from Q contributes exactly p·ln 2 to the P-side
    * sum, so JSD = ½·Σ_{w∈P∩Q}[p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
    * + ½·ln 2·[(1−mP) + (1−mQ)] where mP, mQ are each side's SHARED
    * vocabulary mass — exact integer count ratios.
    *
    * Scale shape: one (source, word) count exchange (the [[sourceTvd]]
    * frame), one vocab-bounded self-join per source pair (|pairs| is
    * |sources|², a handful), one hash aggregate. Determinism: p and q
    * are single IEEE divisions of exact integers, each term is a fixed
    * IEEE op sequence, the shared-term sum goes through the
    * exact-decimal detour, and the closing combine is four IEEE ops on
    * deterministic doubles.
    */
  def jsDivergence(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.xsum
    val sw = docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val ns = sw.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val withTot = sw.join(ns, Seq("source"))
    val a = withTot.select(col("source").as("source_a"), col("w"),
      col("c").as("ca"), col("n_s").as("na"))
    val b = withTot.select(col("source").as("source_b"), col("w"),
      col("c").as("cb"), col("n_s").as("nb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val term = pa * log(lit(2.0) * pa / (pa + pb)) +
      pb * log(lit(2.0) * pb / (pa + pb))
    a.join(b, Seq("w")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("na"), col("nb"))
      .agg(
        xsum(term, 12).as("shared_term"),
        sum(col("ca")).as("ma"),
        sum(col("cb")).as("mb"),
        count(lit(1)).as("n_shared_words"))
      .select(col("source_a"), col("source_b"), col("n_shared_words"),
        (lit(0.5) * col("shared_term") + lit(0.5) * lit(Ln2.toDouble) *
          ((lit(1.0) - col("ma").cast("double") / col("na").cast("double")) +
           (lit(1.0) - col("mb").cast("double") / col("nb").cast("double"))))
          .as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def sqlJsDivergence: String =
    s"""WITH sw AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT source, unnest(${sqlWords("text")}) AS w FROM documents
       |  ) WHERE w <> '' GROUP BY source, w
       |), ns AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM sw
       |  GROUP BY source
       |), wt AS (
       |  SELECT sw.source, w, c, n_s FROM sw JOIN ns ON sw.source = ns.source
       |), j AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    a.n_s AS na, b.n_s AS nb, a.c AS ca, b.c AS cb,
       |    CAST(a.c AS DOUBLE) / CAST(a.n_s AS DOUBLE) AS p,
       |    CAST(b.c AS DOUBLE) / CAST(b.n_s AS DOUBLE) AS q
       |  FROM wt a JOIN wt b ON a.w = b.w AND a.source < b.source
       |), g AS (
       |  SELECT source_a, source_b, na, nb,
       |    ${graft.functions.Exact.sqlSum(
      "p * ln(CAST(2 AS DOUBLE) * p / (p + q)) + " +
        "q * ln(CAST(2 AS DOUBLE) * q / (p + q))", 12)} AS shared_term,
       |    CAST(SUM(ca) AS BIGINT) AS ma, CAST(SUM(cb) AS BIGINT) AS mb,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared_words
       |  FROM j GROUP BY source_a, source_b, na, nb
       |)
       |SELECT source_a, source_b, n_shared_words,
       |  CAST(0.5 AS DOUBLE) * shared_term + CAST(0.5 AS DOUBLE)
       |    * CAST($Ln2 AS DOUBLE)
       |    * ((CAST(1 AS DOUBLE) - CAST(ma AS DOUBLE) / CAST(na AS DOUBLE))
       |     + (CAST(1 AS DOUBLE) - CAST(mb AS DOUBLE) / CAST(nb AS DOUBLE)))
       |    AS jsd
       |FROM g ORDER BY source_a, source_b""".stripMargin

  /** Rank cuts for [[vocabCoverage]]. */
  val CoverageCuts: Seq[Int] = Seq(100, 1000, 10000)

  /** Vocabulary coverage curve: the fraction of all corpus tokens
    * covered by the top-k most frequent words, at k = 100 / 1 000 /
    * 10 000 — the audit that sizes a tokenizer's vocabulary budget
    * (diminishing-returns knee) and flags OOV-heavy corpora. The
    * ranking window runs over the VOCAB frame (Heaps-bounded, not
    * corpus-sized — the same justification as the Zipf audit); the
    * cuts are conditional integer sums in ONE aggregate, and each
    * coverage ratio is a single IEEE division of exact counts.
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("w"))
    val ranked = counts.withColumn("rk", row_number().over(w))
    val cutCols = CoverageCuts.flatMap { k =>
      Seq(sum(when(col("rk") <= k, col("c")).otherwise(lit(0L)))
        .cast("long").as(s"tok_top$k"))
    }
    val aggCols = sum(col("c")).cast("long").as("n_tokens") +: cutCols
    ranked
      .agg(count(lit(1)).as("n_vocab"), aggCols: _*)
      .select(col("n_vocab") +: col("n_tokens") +:
        CoverageCuts.flatMap(k => Seq(col(s"tok_top$k"),
          (col(s"tok_top$k").cast("double") /
            col("n_tokens").cast("double")).as(s"coverage_$k"))): _*)
  }

  def sqlVocabCoverage: String = {
    val cutSums = CoverageCuts.map(k =>
      s"""CAST(SUM(CASE WHEN rk <= $k THEN c ELSE 0 END) AS BIGINT)
         |    AS tok_top$k""".stripMargin).mkString(",\n  ")
    val outCols = CoverageCuts.map(k =>
      s"""tok_top$k,
         |  CAST(tok_top$k AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    AS coverage_$k""".stripMargin).mkString(",\n  ")
    s"""WITH vc AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(${sqlWords("text")}) AS w FROM documents
       |  ) WHERE w <> '' GROUP BY w
       |), ranked AS (
       |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM vc
       |), agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
       |    CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  $cutSums
       |  FROM ranked
       |)
       |SELECT n_vocab, n_tokens,
       |  $outCols
       |FROM agg""".stripMargin
  }

  /** Query terms, BM25 parameters and cut for [[bm25TopK]]. k1/b are the
    * Robertson defaults; 0.25 is written as ITS OWN literal (never
    * 1 − 0.75 — a decimal-vs-binary subtraction hazard).
    */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "merge")
  val Bm25TopK = 15

  /** BM25 ranked retrieval (Robertson & Walker, SIGIR 1994; the Okapi
    * weighting): top documents for a fixed query over the corpus —
    * score(d) = Σ_t idf(t) · f·(k1+1) / (f + k1·(1−b+b·|d|/avgdl)) with
    * idf(t) = ln((N−df+0.5)/(df+0.5)+1). The full-text ranking
    * primitive that upgrades the postings/TF-IDF tier into an actual
    * search engine, and the lexical half of hybrid (BM25 + ANN)
    * retrieval next to `sim_rrf`.
    *
    * Scale shape: the term filter prunes the exploded stream to query
    * terms BEFORE any aggregation (at 100 TB this is an index lookup on
    * the postings table the suite already builds); doc lengths are one
    * thin aggregate; df and the N/avgdl scalars broadcast. Per-term
    * scores are fixed IEEE sequences over exact integers; the per-doc
    * sum rides the exact-decimal detour; top-k ties break by doc_id.
    */
  def bm25TopK(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.xsum
    val dl = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("dlen"))
    val stats = dl.agg(sum(col("dlen")).cast("long").as("total_len"),
      count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("f"))
    val dfr = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double") +
      lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val term = idf * (col("f").cast("double") * lit(2.2)) /
      (col("f").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dlen").cast("double") / avgdl))
    val w = Window.orderBy(col("bm25").desc, col("doc_id"))
    tf.join(broadcast(dfr), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"), col("dlen"))
      .agg(xsum(term, 12).as("bm25"), count(lit(1)).as("n_terms_hit"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25TopK)
      .select(col("rk").cast("long").as("rk"), col("doc_id"),
        col("dlen"), col("n_terms_hit"), col("bm25"))
      .orderBy(col("rk"))
  }

  def sqlBm25: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, CAST(len(${sqlWords("text")}) AS BIGINT) AS dlen
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(SUM(dlen) AS BIGINT) AS total_len,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM dl
       |), tf AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT doc_id, unnest(${sqlWords("text")}) AS w FROM documents
       |  ) WHERE w IN ($termList) GROUP BY doc_id, w
       |), dfr AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w
       |), scored AS (
       |  SELECT tf.doc_id, dl.dlen,
       |    ${graft.functions.Exact.sqlSum(
      """ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      + CAST(1 AS DOUBLE))
        |     * (CAST(f AS DOUBLE) * CAST(2.2 AS DOUBLE))
        |     / (CAST(f AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |       * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |         * CAST(dlen AS DOUBLE)
        |         / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
        .stripMargin, 12)} AS bm25,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
       |  FROM tf
       |  JOIN dfr ON tf.w = dfr.w
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats
       |  GROUP BY tf.doc_id, dl.dlen
       |), ranked AS (
       |  SELECT doc_id, dlen, n_terms_hit, bm25,
       |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
       |  FROM scored
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, doc_id, dlen, n_terms_hit, bm25
       |FROM ranked WHERE rk <= $Bm25TopK ORDER BY rk""".stripMargin
  }

  /** Window length and cut for the boilerplate leaderboard. */
  val BoilerN = 8
  val BoilerTopK = 20

  /** Cross-document repeated-span leaderboard: the top sliding
    * word-8-grams by distinct-document reach — the boilerplate /
    * template detector (headers, footers, license blurbs) an LLM data
    * pipeline runs before training, since repeated spans concentrate
    * gradient mass (Lee et al., "Deduplicating training data makes
    * language models better", ACL 2022 motivates span-level dedup).
    *
    * Scale shape: the gram explosion is linear in corpus tokens (each
    * token starts ≤ 1 window) and aggregates with map-side partial
    * counts on the gram key; the n_docs > 1 filter drops the unique-
    * span tail BEFORE ranking and the leaderboard is one
    * WindowGroupLimit top-k, never a global sort of the gram space.
    */
  def boilerplate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), words(col("text")).as("toks"))
      .filter(size(col("toks")) >= BoilerN)
    val grams = base.select(col("doc_id"),
      explode(transform(
        sequence(lit(1), size(col("toks")) - (BoilerN - 1)),
        i => concat_ws(" ", slice(col("toks"), i, lit(BoilerN))))).as("gram"))
    val w = Window.orderBy(col("n_docs").desc, col("n_occurrences").desc,
      col("gram"))
    grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BoilerTopK)
      .select(col("rk").cast("long").as("rk"), col("gram"), col("n_docs"),
        col("n_occurrences"))
      .orderBy(col("rk"))
  }

  def sqlBoilerplate: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${sqlWords("text")} AS toks FROM documents
       |  WHERE len(${sqlWords("text")}) >= $BoilerN
       |), grams AS (
       |  SELECT doc_id, array_to_string(toks[i:i + ${BoilerN - 1}], ' ')
       |    AS gram
       |  FROM t, range(1, 101) r(i)
       |  WHERE i <= len(toks) - ${BoilerN - 1}
       |), g AS (
       |  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM grams GROUP BY gram
       |), ranked AS (
       |  SELECT gram, n_docs, n_occurrences,
       |    ROW_NUMBER() OVER (ORDER BY n_docs DESC, n_occurrences DESC,
       |      gram) AS rk
       |  FROM g WHERE n_docs > 1
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, gram, n_docs, n_occurrences
       |FROM ranked WHERE rk <= $BoilerTopK ORDER BY rk""".stripMargin

  def sqlWinnowPairs: String =
    s"""WITH w AS (
       |  ${sqlWinnow.linesIterator.mkString("\n  ")}
       |), sized AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY fingerprint) AS bsz FROM w
       |), p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sized a JOIN sized b
       |    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
       |  WHERE a.bsz BETWEEN 2 AND $WinnowMaxBucket
       |)
       |SELECT doc_a, doc_b, COUNT(*) AS n_shared
       |FROM p GROUP BY doc_a, doc_b
       |HAVING COUNT(*) >= $WinnowSharedMin
       |ORDER BY doc_a, doc_b""".stripMargin

  def sqlWinnow: String = {
    val k = Dedup.ShingleK
    s"""WITH wh AS (
       |  SELECT doc_id,
       |    list_transform(${sqlWords("text")},
       |                   w -> ${sqlTokenHash("w")} % $WinnowMod) AS wh
       |  FROM documents
       |), hashed AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(len(wh) - ${k - 1}, 1) + 1),
       |      i -> ((wh[i] * $WinnowBase + wh[i+1]) % $WinnowMod
       |            * $WinnowBase + wh[i+2]) % $WinnowMod) AS hs
       |  FROM wh
       |), selected AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(
       |      list_transform(range(1, greatest(len(hs) - ${WinnowWindow - 1}, 0) + 1),
       |        i -> list_min(hs[i:i+${WinnowWindow - 1}])))) AS fps
       |  FROM hashed
       |)
       |SELECT doc_id, unnest(fps) AS fingerprint FROM selected
       |ORDER BY doc_id, fingerprint""".stripMargin
  }

  // ----------------------------------------------------- BPE merge induction
  /** Byte-pair-encoding tokenizer induction (Sennrich, Haddow & Birch,
    * "Neural Machine Translation of Rare Words with Subword Units", ACL
    * 2016): start from characters, repeatedly count adjacent symbol pairs
    * over the word-frequency table and merge the most frequent pair —
    * the merge list IS the tokenizer. [[BpeRounds]] rounds, each one:
    *   1. pair counts: explode adjacent (sym[i], sym[i+1]) weighted by word
    *      frequency — ONE hash aggregate;
    *   2. winner: top-1 by (count desc, pair asc) — TakeOrdered, broadcast
    *      back (never collected to the driver);
    *   3. rewrite: greedy LEFT-TO-RIGHT non-overlapping replacement inside
    *      each symbol array. Non-overlap is a parity rule, not a loop: in a
    *      maximal run of consecutive matches, positions at odd distance
    *      from the run head merge. All HOF arithmetic on ≤ word-length
    *      arrays — identical in both engines (strings + integers, nothing
    *      floating).
    *
    * Scale shape: rounds iterate over the DISTINCT-WORD frequency table,
    * which is vocabulary-sized (Heaps' law: sublinear in the corpus), not
    * corpus-sized — the corpus is touched exactly once to build it. Each
    * round is one map-side explode + one hash agg + a broadcast join of a
    * 1-row frame; `Iterate.pin` per round cuts the iterative lineage
    * like every other iterated operator here.
    */
  val BpeRounds = 4

  /** Words longer than this are excluded from the vocabulary (identically
    * on both engines): an unbroken multi-kB token (URL, base64, minified
    * code) is not subword signal, and the per-word start-flag construction
    * is O(len²) — the cap bounds it, as production BPE trainers do.
    */
  val BpeMaxWordLen = 64

  /** Match array: 1 where (sym[i], sym[i+1]) = (pa, pb). Built from two
    * shifted slices (empty-safe at n = 1).
    */
  private def bpeMatch(sym: Column, pa: Column, pb: Column): Column = {
    val n = size(sym)
    zip_with(
      slice(sym, lit(1), greatest(n - 1, lit(0))),
      slice(sym, lit(2), greatest(n - 1, lit(0))),
      (x, y) => when(x === pa && y === pb, 1).otherwise(0))
  }

  /** start-flag array over the match array `m` (1 where pair matches at i):
    * start(i) ⇔ m(i)=1 ∧ (i − lastZeroBefore(i)) is odd.
    *
    * `m` MUST be a materialized attribute, not an inline expression: the
    * per-i reads inside the lambdas would otherwise re-evaluate the
    * producing chain per element (the derived-array hazard in
    * [[Dedup.shingleHashes]]'s scaladoc) — [[bpeMerges]] stages it with
    * its own select for exactly this reason.
    */
  private def bpeStarts(m: Column): Column = {
    val nm = size(m)
    val z = (i: Column) => when(i === 1, lit(0)).otherwise(
      array_max(transform(sequence(lit(1), i - 1), j =>
        when(element_at(m, j) === 0, j).otherwise(lit(0)))))
    // sequence(1, 0) counts DOWN in Spark — guard the empty case explicitly
    when(nm === 0, array().cast("array<boolean>")).otherwise(
      transform(sequence(lit(1), nm), i =>
        element_at(m, i) === 1 && (i - z(i)) % 2 === 1))
  }

  /** One greedy non-overlapping L2R replacement of (pa, pb) → pa||pb,
    * reading a materialized start-flag attribute `st` (see [[bpeStarts]]).
    */
  private def bpeApply(sym: Column, pa: Column, pb: Column,
      st: Column): Column = {
    // try_element_at: i runs to n but st has n-1 entries — the ANSI-safe
    // read past the end is the "no pair can start at the last symbol" case
    val startAt = (i: Column) => coalesce(try_element_at(st, i), lit(false))
    filter(
      transform(sequence(lit(1), size(sym)), i =>
        when(startAt(i), concat(pa, pb))
          .when(i > 1 && startAt(i - 1), lit(null).cast("string"))
          .otherwise(element_at(sym, i))),
      x => x.isNotNull)
  }

  /** Shared BPE iteration: the per-round winning merges AND the final
    * rewritten vocabulary (word, freq, sym after every merge applied).
    * [[bpeMerges]] keeps the merge list; [[bpeEncode]] keeps the encoded
    * vocabulary. The `word` column rides through the checkpoints so the
    * encoder can join the corpus back — vocabulary-sized, negligible.
    */
  private def bpeIterate(docs: DataFrame, rounds: Int)
      : (Seq[DataFrame], DataFrame) = {
    val vocab = docs
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0 &&
        length(col("word")) <= BpeMaxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var syms = vocab.select(col("word"), col("freq"),
      regexp_extract_all(col("word"), lit("."), lit(0)).as("sym"))
      .transform(Iterate.pin)
    val merges = (1 to rounds).map { r =>
      val pairs = syms
        .select(col("freq"), explode(zip_with(
          slice(col("sym"), lit(1), greatest(size(col("sym")) - 1, lit(0))),
          slice(col("sym"), lit(2), greatest(size(col("sym")) - 1, lit(0))),
          (a, b) => struct(a.as("sym_a"), b.as("sym_b")))).as("p"))
        .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
        .agg(sum(col("freq")).as("pair_count"))
      val top = pairs
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(1)
        .select(lit(r).as("merge_rank"), col("sym_a"), col("sym_b"),
          col("pair_count"))
        .transform(Iterate.pin) // 1 row; pins the winner for the rewrite
      // m and st are STAGED through their own selects so each is a plain
      // attribute where the next stage's lambdas read it element-wise —
      // inlined, element_at(derived, i) re-evaluates the producing chain
      // per element (O(len²)→O(len³) per word). Multiple references to a
      // non-cheap expression also stop CollapseProject from re-inlining.
      // left join on TRUE, not crossJoin: when a round's pair table is
      // EMPTY (vocabulary fully merged before `rounds`), a cross join
      // would wipe syms to zero rows and silently discard every learned
      // merge; with the left join the null pa/pb make bpeMatch all-zero
      // and the round becomes a no-op. The oracle mirrors with
      // LEFT JOIN ... ON TRUE.
      syms = syms.join(broadcast(
          top.select(col("sym_a").as("pa"), col("sym_b").as("pb"))),
          lit(true), "left")
        .select(col("word"), col("freq"), col("sym"), col("pa"), col("pb"),
          bpeMatch(col("sym"), col("pa"), col("pb")).as("m"))
        .select(col("word"), col("freq"), col("sym"), col("pa"), col("pb"),
          bpeStarts(col("m")).as("st"))
        .select(col("word"), col("freq"),
          bpeApply(col("sym"), col("pa"), col("pb"), col("st")).as("sym"))
        .transform(Iterate.pin) // cut per-round lineage growth
      top
    }
    (merges, syms)
  }

  /** Memoized [[bpeIterate]]: `text_bpe_merges` and `text_bpe_encode`
    * both learn the SAME tokenizer (4 rounds of winner-pick + vocabulary
    * rewrite, each round two eager pins), so the trained merge list and
    * the rewritten vocabulary are the family's shared artifact — one
    * training run per (session, `docs`, rounds) instead of one per query
    * per bench pass.
    */
  private def bpeIterateCached(docs: DataFrame,
      rounds: Int): (Seq[DataFrame], DataFrame) =
    graft.Memo(docs.sparkSession, s"text.bpe:$rounds", docs)(
      bpeIterate(docs, rounds))

  def bpeMerges(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val (merges, _) = bpeIterateCached(docs, rounds)
    merges.reduce((a, b) => a.unionByName(b)).orderBy(col("merge_rank"))
  }

  /** Encode the corpus with the tokenizer [[bpeIterate]] just learned:
    * per-document whitespace-token and BPE-token counts — the number a
    * training pipeline actually budgets by (sequence packing, mixture
    * weights, and cost models all run on post-tokenizer counts, not word
    * counts). Words the trainer excluded ([[BpeMaxWordLen]]) fall back to
    * their character count (fully unmerged), mirroring a byte-level
    * tokenizer's behavior on junk tokens.
    *
    * Scale shape: the corpus is touched twice, both embarrassingly
    * parallel — once to build the word-frequency table (one hash agg,
    * vocabulary-sized output by Heaps' law), once to explode and join
    * tokens against the encoded vocabulary (hash join keyed by word; the
    * build side is the vocabulary, not the corpus) followed by ONE
    * doc-keyed count/sum aggregation that partial-aggregates map-side.
    * The iterative merge learning itself never touches the corpus again.
    * Caveat: `rounds` must stay below the corpus's productive merge count
    * (a fully-merged vocabulary would leave later rounds with an empty
    * pair table) — real corpora support thousands of rounds; the constant
    * here is [[BpeRounds]].
    */
  def bpeEncode(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val (_, syms) = bpeIterateCached(docs, rounds)
    val enc = syms.select(col("word"), size(col("sym")).as("n_sym"))
    // explode_outer: words() output is derived and the inferred
    // size(...) > 0 filter is pure overhead (see line ~482)
    docs.select(col("doc_id"), explode_outer(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(enc, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ws_tokens"),
        sum(coalesce(col("n_sym"), length(col("word"))).cast("long"))
          .as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  // scalar range() + zipped unnest — the TABLE range() function rejects
  // lateral column bounds like len(sym)
  private def sqlBpePairCte(k: Int) =
    s"""p$k AS (
       |  SELECT sym_a, sym_b, CAST(SUM(freq) AS BIGINT) AS pair_count
       |  FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(1, len(sym)), i -> sym[i]))
       |        AS sym_a,
       |      unnest(list_transform(range(1, len(sym)), i -> sym[i+1]))
       |        AS sym_b
       |    FROM s${k - 1}
       |  ) GROUP BY 1, 2
       |), t$k AS (
       |  SELECT $k AS merge_rank, sym_a, sym_b, pair_count FROM p$k
       |  ORDER BY pair_count DESC, sym_a, sym_b LIMIT 1
       |)""".stripMargin

  // m[i]=1 where the pair matches; start ⇔ m[i]=1 and the distance to the
  // last zero before i is odd; merged-away positions filter to NULL
  private def sqlBpeRewriteCte(k: Int) =
    s"""s$k AS (
       |  SELECT word, freq, list_filter(
       |    list_transform(range(1, len(sym) + 1), i ->
       |      CASE WHEN m[i] = 1
       |             AND (i - coalesce(list_max(list_transform(
       |               range(1, i), j ->
       |               CASE WHEN m[j] = 0 THEN j ELSE 0 END)), 0)) % 2 = 1
       |           THEN pa || pb
       |           WHEN i > 1 AND m[i-1] = 1
       |             AND ((i-1) - coalesce(list_max(list_transform(
       |               range(1, i - 1), j ->
       |               CASE WHEN m[j] = 0 THEN j ELSE 0 END)), 0)) % 2 = 1
       |           THEN NULL
       |           ELSE sym[i] END),
       |    x -> x IS NOT NULL) AS sym
       |  FROM (
       |    SELECT word, freq, sym, t.sym_a AS pa, t.sym_b AS pb,
       |      list_transform(range(1, len(sym)), i ->
       |        CASE WHEN sym[i] = t.sym_a AND sym[i+1] = t.sym_b
       |             THEN 1 ELSE 0 END) AS m
       |    FROM s${k - 1} LEFT JOIN t$k t ON TRUE
       |  )
       |)""".stripMargin

  private def sqlBpeVocabCtes: String =
    s"""vocab AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${sqlWords("text")}) AS word FROM documents
       |  ) WHERE length(word) > 0 AND length(word) <= $BpeMaxWordLen
       |  GROUP BY word
       |), s0 AS (
       |  SELECT word, freq, regexp_extract_all(word, '.') AS sym FROM vocab
       |)""".stripMargin

  /** DuckDB oracle: the rounds unrolled as (s_k → p_k → t_k) CTE chains —
    * the same construction as [[graft.operators.Similarity.sqlIvfKmeans]].
    */
  def sqlBpeMerges(rounds: Int = BpeRounds): String = {
    val chain = (1 to rounds).map { k =>
      if (k == rounds) sqlBpePairCte(k)
      else sqlBpePairCte(k) + ",\n" + sqlBpeRewriteCte(k)
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(k => s"SELECT * FROM t$k").mkString("\n  UNION ALL\n  ")
    s"""WITH $sqlBpeVocabCtes,
       |$chain
       |SELECT merge_rank, sym_a, sym_b, pair_count FROM (
       |  $union
       |) ORDER BY merge_rank""".stripMargin
  }

  /** Same chain, but every round keeps its rewrite and the tail reads the
    * final vocabulary s_rounds instead of the merge list.
    */
  def sqlBpeEncode(rounds: Int = BpeRounds): String = {
    val chain = (1 to rounds)
      .map(k => sqlBpePairCte(k) + ",\n" + sqlBpeRewriteCte(k))
      .mkString(",\n")
    s"""WITH $sqlBpeVocabCtes,
       |$chain,
       |enc AS (
       |  SELECT word, len(sym) AS n_sym FROM s$rounds
       |), tok AS (
       |  SELECT doc_id, unnest(${sqlWords("text")}) AS word FROM documents
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(coalesce(n_sym, length(word))) AS BIGINT) AS bpe_tokens
       |FROM (
       |  SELECT t.doc_id, t.word, e.n_sym FROM tok t
       |  LEFT JOIN enc e USING (word)
       |  WHERE length(t.word) > 0
       |) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------- Gopher-style quality rules
  /** Composite rule-based document filter in the style of the Gopher data
    * pipeline (Rae et al., "Scaling Language Models: Methods, Analysis &
    * Insights from Training Gopher", 2021, §A.1.1): a document is kept only
    * if it passes EVERY threshold rule. Thresholds are adapted to the
    * synthetic fixture's distributions (the published ones key on natural
    * prose); the operator shape is the real one — a handful of per-document
    * ratio tests, all pure `Column` arithmetic, evaluated map-side at scan
    * speed with zero shuffles. At 100 TB this is the cheapest possible
    * corpus pass: each rule is a codegen'd expression over the text column,
    * and the scan's column pruning keeps everything else on disk.
    *
    * Rules (flag TRUE = rule passed):
    *  - r_word_count:  GopherMinWords ≤ n_words ≤ GopherMaxWords
    *  - r_mean_len:    mean word length in [GopherMinMeanLen, GopherMaxMeanLen]
    *  - r_stopwords:   ≥ GopherMinStop stopword OCCURRENCES (not distinct)
    *  - r_distinct:    distinct-word ratio ≥ GopherMinDistinct
    *  - r_top_freq:    most frequent word ≤ GopherMaxTopFreq of all words
    *    (the "repetition" family of Gopher rules collapsed to its
    *    single-token form; line-level variants need line structure the
    *    single-line fixture lacks)
    */
  val GopherMinWords = 20L
  val GopherMaxWords = 100000L
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMinStop = 2L
  val GopherMinDistinct = 0.3
  val GopherMaxTopFreq = 0.2

  /** Shared staging for token-distribution metrics ([[gopher]],
    * [[simpson]]): words array, distinct tokens, and per-distinct-token
    * occurrence counts — each staged through its OWN projection so HOF
    * lambda bodies read attributes, not re-evaluated split/distinct
    * subtrees (the derived-array O(n²) hazard). Unused columns prune away
    * per consumer.
    */
  private def stagedTokenCounts(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("n_chars"), words(col("text")).as("w"))
    .select(col("doc_id"), col("n_chars"), col("w"),
      array_distinct(col("w")).as("dw"))
    .select(col("doc_id"), col("n_chars"), col("w"), col("dw"),
      transform(col("dw"), t => size(filter(col("w"), x => x === t)))
        .as("cnts"))

  def gopher(docs: DataFrame): DataFrame = {
    val staged = stagedTokenCounts(docs)
    val nw = size(col("w")).cast("double")
    val nwL = size(col("w")).cast("long")
    // chars-per-word over the text body excluding separators: a doc with
    // k words has k-1 single-space separators
    val meanLen = (col("n_chars").cast("double") - nw + lit(1.0)) / nw
    val nStop = size(filter(col("w"), x => x.isInCollection(Stopwords)))
      .cast("long")
    val distinctRatio = size(col("dw")).cast("double") / nw
    val topFreq = array_max(col("cnts")).cast("double") / nw
    val flags = Seq(
      (nwL >= GopherMinWords && nwL <= GopherMaxWords).as("r_word_count"),
      (meanLen >= GopherMinMeanLen && meanLen <= GopherMaxMeanLen)
        .as("r_mean_len"),
      (nStop >= GopherMinStop).as("r_stopwords"),
      (distinctRatio >= GopherMinDistinct).as("r_distinct"),
      (topFreq <= GopherMaxTopFreq).as("r_top_freq"))
    staged.select(col("doc_id") +: flags: _*)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_stopwords") &&
          col("r_distinct") && col("r_top_freq"))
      .orderBy(col("doc_id"))
  }

  def sqlGopher: String = {
    val set = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, r_word_count, r_mean_len, r_stopwords, r_distinct,
       |  r_top_freq,
       |  (r_word_count AND r_mean_len AND r_stopwords AND r_distinct
       |    AND r_top_freq) AS keep
       |FROM (
       |  SELECT doc_id,
       |    (nwl >= $GopherMinWords AND nwl <= $GopherMaxWords)
       |      AS r_word_count,
       |    (mean_len >= $GopherMinMeanLen AND mean_len <= $GopherMaxMeanLen)
       |      AS r_mean_len,
       |    (nstop >= $GopherMinStop) AS r_stopwords,
       |    (ndw / nw >= $GopherMinDistinct) AS r_distinct,
       |    (topcnt / nw <= $GopherMaxTopFreq) AS r_top_freq
       |  FROM (
       |    SELECT doc_id, len(w) AS nwl, CAST(len(w) AS DOUBLE) AS nw,
       |      (CAST(n_chars AS DOUBLE) - CAST(len(w) AS DOUBLE) + 1.0)
       |        / CAST(len(w) AS DOUBLE) AS mean_len,
       |      len(list_filter(w, x -> x IN ($set))) AS nstop,
       |      CAST(len(dw) AS DOUBLE) AS ndw,
       |      CAST(list_max(list_transform(dw,
       |        t -> len(list_filter(w, x -> x = t)))) AS DOUBLE) AS topcnt
       |    FROM (
       |      SELECT doc_id, n_chars, ${sqlWords("text")} AS w,
       |        list_distinct(${sqlWords("text")}) AS dw
       |      FROM documents
       |    )
       |  )
       |) ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ Simpson token diversity
  /** Per-document lexical diversity as the Simpson/Gini index
    * 1 − Σ_t (c_t / n)² over the token frequency distribution — a RATIONAL
    * diversity measure (Shannon entropy needs log, which is not
    * cross-engine-exact; Simpson's index carries the same signal for
    * quality filtering: ≈0 for a document that repeats one token, →1 for
    * all-distinct tokens). The numerator Σ c_t² is computed in integer
    * arithmetic and divided once, so both engines emit the identical IEEE
    * double. Pure map-side: per-doc HOF over the (bounded-length) token
    * array, zero shuffles at any corpus size.
    */
  def simpson(docs: DataFrame): DataFrame = {
    val staged = stagedTokenCounts(docs)
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        size(col("dw")).as("n_distinct"), col("cnts"))
    val n = col("n_tokens").cast("double")
    staged
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (lit(1.0) -
          aggregate(col("cnts"), lit(0L), (a, c) => a + c.cast("long") * c)
            .cast("double") / (n * n)).as("simpson"))
      .orderBy(col("doc_id"))
  }

  def sqlSimpson: String =
    s"""SELECT doc_id, n_tokens, n_distinct,
       |  1.0 - CAST(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(cnts, c -> CAST(c AS BIGINT) * c)),
       |      (a, c) -> a + c) AS DOUBLE)
       |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
       |    AS simpson
       |FROM (
       |  SELECT doc_id, len(w) AS n_tokens, len(dw) AS n_distinct,
       |    list_transform(dw, t -> len(list_filter(w, x -> x = t))) AS cnts
       |  FROM (
       |    SELECT doc_id, ${sqlWords("text")} AS w,
       |      list_distinct(${sqlWords("text")}) AS dw
       |    FROM documents
       |  )
       |) ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- inverted index
  /** Term → postings inverted index over the corpus: document frequency,
    * corpus frequency, and the sorted posting list — the retrieval-side
    * data structure a dedup/search pipeline materializes next to the
    * corpus. Posting lists are emitted only for terms with
    * df ≤ PostingsCap; hotter terms (stopword-class) keep their exact
    * df/cf but a NULL postings array — at 100 TB a stopword's posting list
    * IS the corpus and no consumer wants it materialized per term.
    *
    * Scale shape: df/cf aggregate FIRST (counts partial-aggregate
    * map-side to fixed-width rows), and only terms already under the cap
    * join back to the pair stream for list collection — a hot term's
    * doc_ids never enter a collect_set buffer, map-side or reduce-side
    * (the same aggregate-then-admit discipline as
    * [[Dedup.ContainMaxPosting]]'s dfOk). Every collected list is bounded
    * by the cap; the extra term-keyed join is pair-stream-sized but
    * fixed-width. The aggregations shuffle (term, doc_id) pairs only —
    * never text.
    */
  val PostingsCap = 20

  def postings(docs: DataFrame): DataFrame = {
    // explode_outer: words() is derived and provably non-empty — plain
    // explode makes InferFiltersFromGenerate re-run the split per row as
    // a filter (see the Generate discipline in SCALE.md)
    val pairs = docs
      .select(col("doc_id"), explode_outer(words(col("text"))).as("term"))
    val stats = pairs.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
    val small = stats.filter(col("df") <= PostingsCap).select(col("term"))
    val posts = pairs.join(small, "term")
      .groupBy(col("term"))
      .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
    stats.join(posts, Seq("term"), "left")
      .select(col("term"), col("df"), col("cf"), col("postings"))
      .orderBy(col("term"))
  }

  def sqlPostings: String =
    s"""SELECT term, df, cf,
       |  CASE WHEN df <= $PostingsCap THEN postings_raw END AS postings
       |FROM (
       |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |    CAST(COUNT(*) AS BIGINT) AS cf,
       |    list_sort(list(DISTINCT doc_id)) AS postings_raw
       |  FROM (
       |    SELECT doc_id, unnest(${sqlWords("text")}) AS term
       |    FROM documents
       |  ) GROUP BY term
       |) ORDER BY term""".stripMargin

  // --------------------------------------------- linear classifier scoring
  /** Fasttext-style linear text classifier scoring at corpus scale: a
    * bag-of-words model — the [[ClsVocab]] most frequent corpus words, each
    * with a fixed weight — scored over every document as the mean weight of
    * its in-vocabulary tokens (Joulin et al. 2016's inference step; the
    * harness derives deterministic integer milliweights from a salted hash
    * so the oracle can check the exact arithmetic — a trained model plugs in
    * as the same (word, weight) table).
    *
    * Scale shape: the model is a broadcast table (vocabulary is fixed-size
    * by construction); scoring is one map-side broadcast join over the
    * exploded tokens plus ONE doc-keyed hash aggregation. Weights are
    * integer millis summed as BIGINT — exact under Spark's
    * nondeterministic partial-aggregation order — with the single
    * double division applied once at the end (cross-engine bit-identical).
    * The raw logit is emitted, never a sigmoid: monotone thresholding
    * downstream doesn't need the transcendental, and the oracle stays
    * exact.
    */
  val ClsVocab = 256
  val ClsSalt = "clsw"

  def classifierScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(ClsVocab)
      .select(col("word"),
        (tokenHash(concat(lit(ClsSalt), lit(":"), col("word"))) % 2001
          - 1000).as("w_milli"))
    toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("w_milli")), lit(0L)).as("logit_milli"),
        sum(when(col("w_milli").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("logit",
        col("logit_milli").cast("double") /
          (col("n_tokens") * 1000L).cast("double"))
      .select(col("doc_id"), col("n_tokens"), col("n_hits"),
        col("logit_milli"), col("logit"))
      .orderBy(col("doc_id"))
  }

  def sqlClassifierScore: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${sqlWords("text")}) AS word FROM documents
       |), vocab AS (
       |  SELECT word,
       |    ${sqlTokenHash(s"'$ClsSalt:' || word")} % 2001 - 1000 AS w_milli
       |  FROM (
       |    SELECT word, COUNT(*) AS cnt FROM toks
       |    GROUP BY word ORDER BY cnt DESC, word LIMIT $ClsVocab
       |  )
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN w_milli IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  CAST(COALESCE(SUM(w_milli), 0) AS BIGINT) AS logit_milli,
       |  CAST(COALESCE(SUM(w_milli), 0) AS DOUBLE)
       |    / CAST(COUNT(*) * 1000 AS DOUBLE) AS logit
       |FROM toks t LEFT JOIN vocab v USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- classifier AUC
  /** Exact AUC of the classifier logit against a binary label
    * (lang = 'en'), in the HISTOGRAM-BUCKETED form (Mann-Whitney U over
    * fixed score buckets, within-bucket ties scored ½ — the standard
    * trapezoidal ROC estimate): the scale-correct AUC. A rank-based AUC
    * needs a corpus-wide global sort; bucketing the score into
    * [[AucBuckets]] fixed-width cells reduces it to ONE bounded
    * histogram aggregate + a window over the ≤2·[[AucBuckets]]+1-row
    * bucket frame — the same never-a-corpus-window discipline as the
    * RFM quantiles. All AUC inputs are exact BIGINTs (the ½ tie credit
    * is carried as a ×2 numerator); the one division lands at the end.
    * The fixture's label is arbitrary (the hash-weight classifier knows
    * nothing of language) so AUC ≈ 0.5 — the harness checks the
    * MEASUREMENT, a trained model plugs into the same frame.
    */
  val AucBuckets = 40

  def classifierAuc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = classifierScore(docs)
      .select(col("doc_id"), col("logit"))
    val lab = docs.select(col("doc_id"),
      (col("lang") === lit("en")).as("pos"))
    val hist = scored.join(lab, Seq("doc_id"))
      .select(expr(s"CAST(floor(logit * $AucBuckets) AS BIGINT)")
        .as("bucket"), col("pos"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("cneg_below", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        count(lit(1)).as("n_buckets"),
        sum(col("np") * (lit(2L) * col("cneg_below") + col("nn")))
          .as("num2"))
      .select(col("n_pos"), col("n_neg"), col("n_buckets"),
        (col("num2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"))).as("auc"))
  }

  def sqlClassifierAuc: String =
    s"""WITH scored AS (
       |  ${sqlClassifierScore.linesIterator.mkString("\n  ")}
       |), lab AS (
       |  SELECT doc_id, lang = 'en' AS pos FROM documents
       |), hist AS (
       |  SELECT CAST(floor(s.logit * $AucBuckets) AS BIGINT) AS bucket,
       |    CAST(SUM(CASE WHEN l.pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(SUM(CASE WHEN l.pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM scored s JOIN lab l USING (doc_id)
       |  GROUP BY 1
       |), c AS (
       |  SELECT np, nn,
       |    COALESCE(SUM(nn) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cneg_below
       |  FROM hist
       |)
       |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       |  CAST(SUM(nn) AS BIGINT) AS n_neg,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(np * (2 * cneg_below + nn)) AS DOUBLE)
       |    / (2 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE))
       |    AS auc
       |FROM c""".stripMargin

  // --------------------------------------------------- rare-token scoring
  /** Corpus-frequency rarity score — the transcendental-free stand-in for
    * n-gram LM surprisal (the CCNet/KenLM quality signal): per document,
    * the mean INVERSE corpus frequency of its tokens. A doc of common
    * words scores near 0; a doc of corpus-unique words scores near 1.
    * Inverse frequencies are integer-quantized ([[InvScale]] div cf — both
    * engines floor), so the per-doc sum is an exact BIGINT under any
    * aggregation order, and the single double division lands once per doc.
    *
    * Scale shape: the corpus-frequency table is vocabulary-sized (Heaps'
    * law — sublinear in corpus) and broadcasts; scoring is the map-side
    * join over exploded tokens + ONE doc-keyed aggregate, the
    * [[classifierScore]] plan with a corpus-derived (not fixed-size) model
    * table. At true 100 TB vocabulary the broadcast degrades to a
    * hash-partitioned join on the token — same plan Catalyst picks when
    * the stats outgrow the broadcast threshold.
    */
  val InvScale = 1000000000L

  def rarity(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    val cf = toks.groupBy(col("word")).agg(count(lit(1)).as("cf"))
    toks.join(broadcast(cf), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr(s"$InvScale div cf")).as("inv_sum"))
      .withColumn("rarity", col("inv_sum").cast("double") /
        (col("n_tokens") * InvScale).cast("double"))
      .select(col("doc_id"), col("n_tokens"), col("inv_sum"), col("rarity"))
      .orderBy(col("doc_id"))
  }

  def sqlRarity: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${sqlWords("text")}) AS word FROM documents
       |), cf AS (
       |  SELECT word, COUNT(*) AS cf FROM toks GROUP BY word
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM($InvScale // cf) AS BIGINT) AS inv_sum,
       |  CAST(SUM($InvScale // cf) AS DOUBLE)
       |    / CAST(COUNT(*) * $InvScale AS DOUBLE) AS rarity
       |FROM toks JOIN cf USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- tokenizer fertility
  /** Tokenizer fertility per language: subword (BPE-ish regex) tokens per
    * whitespace word — THE tokenizer-efficiency metric when budgeting a
    * multilingual training mix (a language at fertility 2× consumes twice
    * the context window per word; cf. the fertility tables in the XLM-R /
    * mBERT analyses). Pure map-side counting + one tiny hash aggregate over
    * |languages| groups; the ratio is a single double division of exact
    * BIGINT sums.
    */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(words(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .withColumn("fertility",
        col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
      .orderBy(col("lang"))

  def sqlFertility: String =
    s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(${sqlWords("text")})) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(text, '$BpePattern')))
       |    AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(len(regexp_extract_all(text, '$BpePattern'))) AS DOUBLE)
       |    / CAST(SUM(len(${sqlWords("text")})) AS DOUBLE) AS fertility
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------- bigram LM + scoring
  /** Per-doc (prefix, next_word) bigram stream — the shared corpus
    * explode behind [[bigramLm]] (which drops doc_id and counts) and
    * [[lmScore]] (which joins the induced LM back per doc). */
  def bigrams(docs: DataFrame): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        explode_outer(graft.functions.TextExprs.bigramPairs(col("text")))
          .as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p.prefix").as("prefix"),
        col("p.next_word").as("next_word"))
  }

  /** Bigram language-model table (the KenLM-counts shape): conditional
    * continuation probabilities P(next|prefix) = c(prefix,next)/c(prefix,·),
    * top-`topK` continuations per prefix, prefixes bounded to those seen
    * ≥ `minPrefix` times — the table stays vocabulary-sized, never
    * corpus-sized. Shape: one explode + ONE pair hash agg; prefix totals
    * derive from the pair counts (a vocabulary-sized frame — the corpus is
    * never rescanned), and the per-prefix top-k is a WindowGroupLimit
    * rank. Probabilities are single divisions of exact BIGINTs.
    */
  def bigramLm(docs: DataFrame, minPrefix: Long, topK: Int): DataFrame = {
    val pc = bigrams(docs)
      .groupBy(col("prefix"), col("next_word"))
      .agg(count(lit(1)).as("n_pair"))
    val totals = pc.groupBy(col("prefix")).agg(sum(col("n_pair")).as("n_prefix"))
    val byPrefix = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix")).orderBy(col("n_pair").desc, col("next_word"))
    pc.join(totals, Seq("prefix"))
      .filter(col("n_prefix") >= minPrefix)
      .withColumn("rk", row_number().over(byPrefix))
      .filter(col("rk") <= topK)
      .select(col("prefix"), col("rk"), col("next_word"), col("n_pair"),
        col("n_prefix"),
        (col("n_pair").cast("double") / col("n_prefix").cast("double"))
          .as("prob"))
  }

  /** LM-based document scoring (the CCNet/Wenzek 2020 shape: rank
    * documents by how well a corpus LM predicts them). Each doc's bigrams
    * probe the induced top-k conditional table; a miss pays the fixed
    * `invBackoff` inverse-probability penalty. The emitted score is the
    * MEAN INVERSE PROBABILITY — the arithmetic-mean bound on perplexity
    * (AM ≥ GM) chosen because it stays in rational arithmetic: exp/ln are
    * libm calls whose last-ulp behavior differs across engines, while
    * n_pair/n_prefix divisions and the exact-decimal sum
    * ([[graft.functions.Exact.xsum]]) are bit-identical. Scale shape: the
    * LM table is vocabulary-sized → BROADCAST join against the corpus
    * bigram stream; one doc-keyed hash agg. The corpus shuffles once, the
    * LM never shuffles, and docs with <2 words simply emit no bigrams.
    */
  def lmScore(docs: DataFrame, minPrefix: Long, topK: Int,
      invBackoff: Double): DataFrame = {
    val lm = bigramLm(docs, minPrefix, topK)
      .select(col("prefix"), col("next_word"), col("prob"))
    bigrams(docs)
      .join(broadcast(lm), Seq("prefix", "next_word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("prob").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("n_hits"),
        (graft.functions.Exact.xsum(
          when(col("prob").isNull, lit(invBackoff))
            .otherwise(lit(1.0) / col("prob")), 6) / count(lit(1)))
          .as("mean_inv_p"))
  }

  // --------------------------------------------- Kneser–Ney LM + scoring
  /** Interpolated Kneser–Ney bigram table (Kneser & Ney, ICASSP 1995;
    * Chen & Goodman, CSL 1999 — the smoothing KenLM ships as its default
    * and CCNet-style quality filters score with). Upgrades [[bigramLm]]'s
    * raw conditional counts with absolute discounting plus a continuation
    * back-off:
    *
    *   P_KN(w|u) = max(c(u,w) − D, 0)/c(u,·) + λ(u) · P_cont(w)
    *   λ(u)      = D · N1+(u,·)/c(u,·)        (mass freed by discounting)
    *   P_cont(w) = N1+(·,w)/N1+(·,·)          (type fan-in, not frequency)
    *
    * Every input is an exact BIGINT count off ONE pair aggregation; the
    * emitted probabilities are fixed trees of IEEE multiply/divide/add over
    * those counts — the SQL twin spells the identical tree, so both engines
    * round identically at every step (no libm anywhere).
    *
    * Scale shape: one corpus explode → pair hash agg (map-side partial);
    * the prefix stats (c(u,·), N1+(u,·)), word fan-in (N1+(·,w)) and total
    * type count all derive from the vocab²-bounded pair frame — the corpus
    * is never rescanned, and the identical pair-agg subtrees collapse into
    * one exchange via Spark's ReuseExchange (the [[bigramLm]] discipline).
    * Top-k per prefix is a WindowGroupLimit rank; the type-total attaches
    * as a broadcast 1-row aggregate.
    */
  def knLm(docs: DataFrame, minPrefix: Long, topK: Int,
      discount: Double): DataFrame = {
    val pc = bigrams(docs)
      .groupBy(col("prefix"), col("next_word"))
      .agg(count(lit(1)).as("n_pair"))
    val pre = pc.groupBy(col("prefix"))
      .agg(sum(col("n_pair")).as("n_prefix"),
        count(lit(1)).as("n_types"))
    val wrd = pc.groupBy(col("next_word")).agg(count(lit(1)).as("n_prec"))
    val tot = pc.agg(count(lit(1)).as("t_types"))
    val byPrefix = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix")).orderBy(col("n_pair").desc, col("next_word"))
    val d = lit(discount)
    val backoffW = (d * col("n_types").cast("double")) /
      col("n_prefix").cast("double")
    val pCont = col("n_prec").cast("double") / col("t_types").cast("double")
    pc.join(pre, Seq("prefix"))
      .filter(col("n_prefix") >= minPrefix)
      .withColumn("rk", row_number().over(byPrefix))
      .filter(col("rk") <= topK)
      .join(wrd, Seq("next_word"))
      .crossJoin(broadcast(tot))
      .select(col("prefix"), col("rk"), col("next_word"), col("n_pair"),
        col("n_prefix"), col("n_types"), col("n_prec"), col("t_types"),
        backoffW.as("backoff_w"), pCont.as("p_cont"),
        (greatest(col("n_pair").cast("double") - d, lit(0.0)) /
          col("n_prefix").cast("double") + backoffW * pCont).as("p_kn"))
  }

  /** Document scoring under the interpolated KN model — the [[lmScore]]
    * shape with a principled back-off chain instead of a flat miss
    * penalty: a bigram in the top-k table scores its interpolated P_KN; a
    * miss under a FREQUENT prefix (≥ minPrefix, so the model has a λ for
    * it) scores λ(u)·P_cont(w); a rare prefix falls to the flat 1/N1+(·,·)
    * continuation floor. Emits the MEAN PREDICTED PROBABILITY (higher =
    * more predictable text) rather than mean inverse: every addend is in
    * (0, 1], so the exact-decimal sum needs no magnitude guard and the
    * score is bounded regardless of how tiny a back-off product gets.
    *
    * Scale shape: the KN table, prefix-λ frame and word-fan-in frame are
    * all vocabulary-sized → BROADCAST joins against the corpus bigram
    * stream; the type total rides as a broadcast 1-row aggregate; one
    * doc-keyed hash agg ends the plan. The corpus shuffles once.
    */
  def knScore(docs: DataFrame, minPrefix: Long, topK: Int,
      discount: Double): DataFrame = {
    val d = lit(discount)
    val pc = bigrams(docs)
      .groupBy(col("prefix"), col("next_word"))
      .agg(count(lit(1)).as("n_pair"))
    val kn = knLm(docs, minPrefix, topK, discount)
      .select(col("prefix"), col("next_word"), col("p_kn"))
    val lam = pc.groupBy(col("prefix"))
      .agg(sum(col("n_pair")).as("n_prefix"), count(lit(1)).as("n_types"))
      .filter(col("n_prefix") >= minPrefix)
      .select(col("prefix"),
        ((d * col("n_types").cast("double")) / col("n_prefix").cast("double"))
          .as("backoff_w"))
    val wrd = pc.groupBy(col("next_word")).agg(count(lit(1)).as("n_prec"))
    val tot = pc.agg(count(lit(1)).as("t_types"))
    val p = when(col("p_kn").isNotNull, col("p_kn"))
      .when(col("backoff_w").isNotNull && col("n_prec").isNotNull,
        col("backoff_w") *
          (col("n_prec").cast("double") / col("t_types").cast("double")))
      .otherwise(lit(1.0) / col("t_types").cast("double"))
    bigrams(docs)
      .join(broadcast(kn), Seq("prefix", "next_word"), "left")
      .join(broadcast(lam), Seq("prefix"), "left")
      .join(broadcast(wrd), Seq("next_word"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("p_kn").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("n_hits"),
        sum(when(col("p_kn").isNull && col("backoff_w").isNotNull, lit(1L))
          .otherwise(lit(0L))).as("n_backoff"),
        (graft.functions.Exact.xsum(p, 9) / count(lit(1))).as("mean_p"))
  }

  // ------------------------------------------------------- collocations
  /** Collocation extraction by LIFT — the rational form of PMI
    * (Church & Hanks, "Word association norms, mutual information, and
    * lexicography", CL 1990; lift = P(ab)/(P(a)P(b)) is monotone in PMI
    * with no logarithm, so both engines score bit-identically):
    * adjacent-pair counts against the unigram independence baseline,
    * floored at [[CollocMinCount]] occurrences to suppress
    * one-off pairings. The phrase-mining primitive a tokenizer-training
    * or glossary-induction pipeline runs first.
    *
    * Scale shape: one explode → hash-agg pass for unigrams and one for
    * adjacent pairs (both map-side partial); the bigram count frame is
    * vocab²-BOUNDED, pinned once, and read twice (total + filtered);
    * the two unigram joins key on the word; N and M ride as broadcast
    * 1-row aggregates. Top-k is the global TakeOrderedAndProject
    * collapse. Determinism: lift's numerator and denominator are exact
    * BIGINT products (n_ab·N² needs the DECIMAL detour past ~10⁹-token
    * corpora — DuckDB would raise on the overflow, not wrap), one IEEE
    * division per surviving pair.
    */
  val CollocTopK = 20
  val CollocMinCount = 5L

  def collocations(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = words(col("text"))
    val pairExpr = slice(
      zip_with(w, slice(w, lit(2), size(w)),
        (a, b) => struct(a.as("wa"), b.as("wb"))),
      lit(1), greatest(size(w) - 1, lit(0)))
    val toks = docs.select(explode_outer(words(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nTot = toks.agg(count(lit(1)).as("n_tokens"))
    val biAll = Iterate.pin(docs
      .select(explode_outer(pairExpr).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .agg(count(lit(1)).as("n_ab")))
    val mTot = biAll.agg(sum(col("n_ab")).as("m_bigrams"))
    val rk = Window.orderBy(col("lift").desc, col("wa"), col("wb"))
    biAll.filter(col("n_ab") >= CollocMinCount)
      .join(uni.select(col("tok").as("wa"), col("c").as("c_a")), Seq("wa"))
      .join(uni.select(col("tok").as("wb"), col("c").as("c_b")), Seq("wb"))
      .crossJoin(broadcast(nTot))
      .crossJoin(broadcast(mTot))
      .withColumn("lift",
        (col("n_ab") * col("n_tokens") * col("n_tokens")).cast("double") /
          (col("m_bigrams") * col("c_a") * col("c_b")).cast("double"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= CollocTopK)
      .select(col("rk").cast("long").as("rk"),
        concat(col("wa"), lit(" "), col("wb")).as("bigram"),
        col("n_ab"), col("lift"))
      .orderBy(col("rk"))
  }

  def sqlCollocations: String =
    s"""WITH toks AS (
       |  SELECT unnest(${sqlWords("text")}) AS tok FROM documents
       |), uni AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
       |), nt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks
       |), bi AS (
       |  SELECT unnest(list_transform(
       |    range(1, greatest(len(w) - 1, 0) + 1),
       |    i -> struct_pack(wa := w[i], wb := w[i + 1]))) AS p
       |  FROM (SELECT ${sqlWords("text")} AS w FROM documents)
       |), bc AS (
       |  SELECT p.wa AS wa, p.wb AS wb, CAST(COUNT(*) AS BIGINT) AS n_ab
       |  FROM bi GROUP BY 1, 2
       |), mt AS (
       |  SELECT CAST(SUM(n_ab) AS BIGINT) AS m_bigrams FROM bc
       |), scored AS (
       |  SELECT bc.wa, bc.wb, bc.n_ab,
       |    CAST(bc.n_ab * nt.n_tokens * nt.n_tokens AS DOUBLE)
       |      / CAST(mt.m_bigrams * a.c * b.c AS DOUBLE) AS lift
       |  FROM bc
       |  JOIN uni a ON bc.wa = a.tok
       |  JOIN uni b ON bc.wb = b.tok, nt, mt
       |  WHERE bc.n_ab >= $CollocMinCount
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, wa, wb) AS rk
       |  FROM scored
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, wa || ' ' || wb AS bigram,
       |  n_ab, lift
       |FROM ranked WHERE rk <= $CollocTopK ORDER BY rk""".stripMargin

  // ------------------------------------------------------------- TextRank
  /** TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
    * Order into Text", EMNLP 2004): PageRank over the word-adjacency
    * graph — vertices are corpus words, an undirected edge weighted by
    * how often the two words appear adjacent, and the stationary score
    * ranks keywords by how centrally the corpus wires them.
    *
    * Composition, not reimplementation: the adjacency stream reuses the
    * codegen'd [[graft.functions.BigramPairs]] single-pass splitter (the
    * text tier's bigram discipline) and the rounds mirror
    * [[Graph.pagerankRounds]] exactly — per round ONE hash join + ONE
    * exact-decimal aggregation, the weighted-walk contribution
    * rank/wdeg·weight in fixed IEEE order, damping 0.85. The graph is
    * VOCABULARY-sized (≪ corpus — the fixture has 31 words; real corpora
    * plateau by Heaps' law), so after the one corpus-wide adjacency
    * count every round runs on a frame the optimizer can broadcast.
    * Determinism: weights and degrees are exact BIGINTs, incoming mass
    * goes through the Exact.xsum decimal detour at scale 12, and the
    * final ordering tie-breaks on the word.
    */
  val TrDamping = 0.85
  val TrIters = 2
  val TrTopK = 10

  def textRank(docs: DataFrame, iters: Int = TrIters): DataFrame = {
    import graft.functions.Exact
    graft.functions.TextExprs.register(docs.sparkSession)
    val pairs = docs.filter(col("text").isNotNull)
      .select(explode(graft.functions.TextExprs.bigramPairs(col("text")))
        .as("p"))
      .select(col("p.prefix").as("a"), col("p.next_word").as("b"))
      .filter(col("a") =!= col("b") && col("a") =!= lit("")
        && col("b") =!= lit(""))
    val edges = graft.operators.Iterate.pin(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("weight")))
    val deg = edges.groupBy(col("src")).agg(sum(col("weight")).as("wdeg"))
      .select(col("src").as("id"), col("wdeg"))
    val nn = deg.agg(count(lit(1)).as("n"))
    var ranks = deg.crossJoin(broadcast(nn))
      .select(col("id"), (lit(1.0) / col("n")).as("rank"),
        col("wdeg"), col("n"))
    for (_ <- 1 to iters) {
      val incoming = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"),
          (col("rank") / col("wdeg") * col("weight")).as("c"))
        .groupBy(col("dst"))
        .agg(Exact.xsum(col("c"), 12).as("s"))
      ranks = ranks.join(incoming, ranks("id") === incoming("dst"), "left")
        .select(col("id"),
          (lit(1.0 - TrDamping) / col("n")
            + lit(TrDamping) * coalesce(col("s"), lit(0.0))).as("rank"),
          col("wdeg"), col("n"))
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("rank").desc, col("id"))
    ranks.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TrTopK)
      .select(col("rk"), col("id").as("word"), col("rank"))
      .orderBy(col("rk"))
  }

  def sqlTextRank(iters: Int = TrIters): String = {
    import graft.functions.Exact
    val oneMinusD = s"CAST(${1.0 - TrDamping} AS DOUBLE)"
    val dD = s"CAST($TrDamping AS DOUBLE)"
    val rounds = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT e.dst, ${Exact.sqlSum("r.rank / r.wdeg * e.weight", 12)}
         |    AS s
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.id GROUP BY e.dst
         |), r$k AS (
         |  SELECT r.id, $oneMinusD / r.n
         |      + $dD * COALESCE(s$k.s, CAST(0 AS DOUBLE)) AS rank,
         |    r.wdeg, r.n
         |  FROM r${k - 1} r LEFT JOIN s$k ON r.id = s$k.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT string_split(text, ' ') AS w FROM documents
       |  WHERE text IS NOT NULL
       |), sidx AS (
       |  SELECT w, unnest(range(1, len(w))) AS i FROM toks
       |), pairs AS (
       |  SELECT w[i] AS a, w[i + 1] AS b FROM sidx
       |  WHERE w[i] <> w[i + 1] AND w[i] <> '' AND w[i + 1] <> ''
       |), und AS (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL
       |  SELECT b, a FROM pairs
       |), edges AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS weight
       |  FROM und GROUP BY 1, 2
       |), deg AS (
       |  SELECT src AS id, CAST(SUM(weight) AS BIGINT) AS wdeg
       |  FROM edges GROUP BY 1
       |), nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (
       |  SELECT id, CAST(1 AS DOUBLE) / n AS rank, wdeg, n FROM deg, nn
       |),
       |$rounds
       |SELECT rk, id AS word, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rank DESC, id) AS rk
       |  FROM r$iters
       |) WHERE rk <= $TrTopK ORDER BY rk""".stripMargin
  }

  // -------------------------------------------------------- word burstiness
  /** Word burstiness (Church-Gale, "Poisson mixtures", Natural Language
    * Engineering 1995): burstiness = total occurrences / document
    * frequency — the mean repeat rate inside documents that contain the
    * word at all. Under an independence (Poisson) model every word's
    * rate would sit near the corpus mean; content words repeat within
    * their documents (bursty), function words spread evenly — the
    * classic keyword/topicality signal, and for a TRAINING corpus the
    * cheap detector of template/boilerplate tokens (extreme burstiness
    * at low df). Df floor [[BurstDfMin]] guards the rate's denominator.
    *
    * Scale shape: one token explode → one (word, doc) distinct-counting
    * hash aggregate (tf via count, df via count-distinct in the SAME
    * aggregate); the leaderboard is a rank-limited top-[[BurstTopK]].
    * The rate is ONE IEEE division of exact BIGINTs, ties by word.
    */
  val BurstDfMin = 5
  val BurstTopK = 20

  def wordBurstiness(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("burstiness").desc, col("word"))
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BurstDfMin)
      .withColumn("burstiness",
        col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BurstTopK)
      .select(col("rk"), col("word"), col("tf"), col("df"),
        col("burstiness"))
      .orderBy(col("rk"))
  }

  def sqlWordBurstiness: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${sqlWords("text")}) AS word
       |  FROM documents
       |), stats AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS tf,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM toks WHERE word <> '' GROUP BY word
       |)
       |SELECT rk, word, tf, df, burstiness FROM (
       |  SELECT word, tf, df,
       |    CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness,
       |    ROW_NUMBER() OVER (ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)
       |      DESC, word) AS rk
       |  FROM stats WHERE df >= $BurstDfMin
       |) WHERE rk <= $BurstTopK
       |ORDER BY rk""".stripMargin

  // --------------------------------------------------- PII scan + redact
  /** PII detection and redaction over document text — the pre-release
    * scrub every training-data export runs (emails, phone numbers,
    * internal-range IPs), as regex scans that stay inside whole-stage
    * codegen. The fixture corpus is synthetic word-soup with no PII, so
    * the query first plants deterministic entities (doc_id-derived, the
    * suite's injection idiom — the SAME expression on both engines) and
    * the scan must then find EXACTLY the planted set: the oracle asserts
    * detector precision and recall at once, not just plumbing.
    *
    * Patterns are RE2-safe (plain classes + bounded repeats — no
    * backrefs/lookaround), so Java regex and DuckDB RE2 agree. Redaction
    * replaces in a fixed email→phone→ip order; the redacted text ships as
    * an md5 (the suite's digest discipline) so the oracle proves the
    * rewrite byte-identical without hauling full text through the gate.
    *
    * Scale shape: per-row expressions only — no shuffle at all until the
    * harness's total ORDER BY; at 100 TB this is a pure map stage that
    * pipelines into the export write.
    */
  val PiiEmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  val PiiPhoneRe = "555-[0-9]{4}"
  val PiiIpRe = "10\\.0\\.[0-9]+\\.[0-9]+"

  /** doc_id-derived planted entities; `%3/%5/%7` overlap so some docs
    * carry several kinds and some none (both sides of the detector). */
  private def piiAugmented(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit(""))).as("aug"))

  def piiScan(docs: DataFrame): DataFrame =
    piiAugmented(docs)
      .select(col("doc_id"), col("source"),
        regexp_count(col("aug"), lit(PiiEmailRe)).cast("long").as("n_email"),
        regexp_count(col("aug"), lit(PiiPhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("aug"), lit(PiiIpRe)).cast("long").as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("aug"),
          PiiEmailRe, "<EMAIL>"), PiiPhoneRe, "<PHONE>"),
          PiiIpRe, "<IP>")).as("redacted_md5"))
      .withColumn("n_pii", col("n_email") + col("n_phone") + col("n_ip"))
      .orderBy(col("doc_id"))

  private def sqlPiiAug: String =
    s"""text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
       |         || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |       ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.'
       |         || CAST(doc_id % 256 AS VARCHAR) || '.'
       |         || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"""
      .stripMargin.linesIterator.mkString(" ")

  def sqlPiiScan: String =
    s"""WITH aug AS (
       |  SELECT doc_id, source, $sqlPiiAug AS aug FROM documents
       |)
       |SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(aug, '$PiiEmailRe')) AS BIGINT)
       |    AS n_email,
       |  CAST(len(regexp_extract_all(aug, '$PiiPhoneRe')) AS BIGINT)
       |    AS n_phone,
       |  CAST(len(regexp_extract_all(aug, '$PiiIpRe')) AS BIGINT) AS n_ip,
       |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$PiiEmailRe', '<EMAIL>', 'g'), '$PiiPhoneRe', '<PHONE>', 'g'),
       |    '$PiiIpRe', '<IP>', 'g')) AS redacted_md5,
       |  CAST(len(regexp_extract_all(aug, '$PiiEmailRe'))
       |    + len(regexp_extract_all(aug, '$PiiPhoneRe'))
       |    + len(regexp_extract_all(aug, '$PiiIpRe')) AS BIGINT) AS n_pii
       |FROM aug ORDER BY doc_id""".stripMargin

  /** Per-source PII exposure rollup — the dataset-card number ("x % of
    * docs in source S carried PII before scrubbing"). Same augmented
    * frame; one hash agg on the 20-key source column. */
  def piiStats(docs: DataFrame): DataFrame =
    piiScan(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_pii") > 0).cast("long")).as("docs_with_pii"),
        sum(col("n_email")).as("emails"),
        sum(col("n_phone")).as("phones"),
        sum(col("n_ip")).as("ips"))
      .orderBy(col("source"))

  def sqlPiiStats: String =
    s"""WITH scan AS (
       |  ${sqlPiiScan.linesIterator.mkString("\n  ")}
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_pii,
       |  CAST(SUM(n_email) AS BIGINT) AS emails,
       |  CAST(SUM(n_phone) AS BIGINT) AS phones,
       |  CAST(SUM(n_ip) AS BIGINT) AS ips
       |FROM scan GROUP BY source ORDER BY source""".stripMargin
}
