package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps.{sqlTokenHash, sqlWords, tokenHash, words}

/** Training-data pipeline operators beyond per-document analysis: corpus
  * splitting, sequence packing, repetition-based quality (Gopher-style),
  * source-mixture weighting, PII-style redaction, and benchmark
  * decontamination.
  *
  * Like the rest of the corpus suite these are deterministic (hash-derived
  * randomness, no RNG), expressed as declarative DataFrame plans (codegen'd
  * map-side work + hash-partitioned shuffles only where semantics require),
  * and each has a DuckDB-SQL mirror built from the same constants.
  *
  * Oracle pairing contract (same as every `queries` entry): output column
  * names/aliases match the SQL mirror exactly, integer aggregates that
  * DuckDB would widen to HUGEINT are CAST back to BIGINT in the mirror,
  * fractions are raw IEEE quotients (never rounded after a division), and
  * every result carries a total order.
  */
object TrainingData {

  // ------------------------------------------------------------ hash split
  /** Deterministic train/val/test assignment: md5-derived bucket of the
    * salted document id. Properties that matter at 100 TB:
    *   - stable under re-runs, re-partitioning, and corpus growth (a doc's
    *     split never depends on other rows — pure map-side, no shuffle);
    *   - salt swaps give independent re-splits without touching data;
    *   - downstream filters (`split = 'train'`) are ordinary predicates,
    *     so Catalyst pushes them into scans of a split-partitioned copy.
    */
  val SplitSalt = "graft"
  val TrainPct = 80
  val ValPct   = 10 // test gets the remainder

  def withSplit(docs: DataFrame): DataFrame = {
    val bucket = tokenHash(
      concat(lit(SplitSalt), lit(":"), col("doc_id").cast("string"))) % 100
    docs
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < TrainPct, lit("train"))
          .when(col("bucket") < TrainPct + ValPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Per-split corpus accounting (doc/char/token totals) — the numbers a
    * training run's data card reports.
    */
  def splitStats(docs: DataFrame): DataFrame =
    withSplit(docs)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(words(col("text"))).cast("long")).as("sum_tokens"))
      .orderBy(col("split"))

  def sqlSplitStats: String = {
    val bucket =
      s"${sqlTokenHash(s"'$SplitSalt:' || CAST(doc_id AS VARCHAR)")} % 100"
    s"""SELECT CASE WHEN $bucket < $TrainPct THEN 'train'
       |            WHEN $bucket < ${TrainPct + ValPct} THEN 'val'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(len(${sqlWords("text")})) AS BIGINT) AS sum_tokens
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
  }

  // ----------------------------------------------------------- k-fold
  /** Folds and salt for [[kfoldStats]] — a different salt than the
    * train/val/test split so the two assignments are independent.
    */
  val KFolds = 5
  val KfoldSalt = "graft-kfold"

  /** Deterministic k-fold cross-validation assignment audit: the salted
    * md5 fold id (same map-side, growth-stable properties as
    * [[withSplit]]) with per-fold accounting — doc/token mass balance
    * and source coverage, plus the largest single-source count so a
    * fold dominated by one source is visible. All-integer output, two
    * thin hash aggregates (fold×source, then fold); at 100 TB the fold
    * id is a pure scan-level expression any downstream filter pushes
    * down.
    */
  def kfoldStats(docs: DataFrame): DataFrame = {
    val fold = tokenHash(
      concat(lit(KfoldSalt), lit(":"), col("doc_id").cast("string"))) %
      KFolds
    docs
      .withColumn("fold", fold)
      .groupBy(col("fold"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(size(words(col("text"))).cast("long")).as("tok"))
      .groupBy(col("fold"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        sum(col("tok")).cast("long").as("sum_tokens"),
        count(lit(1)).as("n_sources"),
        max(col("n")).cast("long").as("max_source_docs"))
      .orderBy(col("fold"))
  }

  def sqlKfoldStats: String = {
    val fold =
      s"${sqlTokenHash(s"'$KfoldSalt:' || CAST(doc_id AS VARCHAR)")} % $KFolds"
    s"""SELECT fold, CAST(SUM(n) AS BIGINT) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_sources,
       |  CAST(MAX(n) AS BIGINT) AS max_source_docs
       |FROM (
       |  SELECT $fold AS fold, source, COUNT(*) AS n,
       |    SUM(len(${sqlWords("text")})) AS tok
       |  FROM documents GROUP BY 1, 2)
       |GROUP BY fold ORDER BY fold""".stripMargin
  }

  /** Per-source document-length histogram (10-token buckets) — the
    * length-distribution panel of a corpus card: truncation cliffs,
    * boilerplate spikes, and empty-doc mass show up here before any
    * model does. One map-side tokenize + one hash aggregate on
    * (source, bucket); integer-only output.
    */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(words(col("text"))).cast("long").as("len_toks"))
      .select(col("source"), expr("len_toks div 10").as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("bucket"))

  def sqlLengthHistogram: String =
    s"""SELECT source, len(${sqlWords("text")}) // 10 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM documents GROUP BY source, bucket
       |ORDER BY source, bucket""".stripMargin

  /** Train/eval near-duplicate leakage audit: how many LSH candidate
    * pairs straddle a split boundary. A near-dup of a training document
    * sitting in val/test silently inflates eval scores, so this is the
    * check a pipeline runs BEFORE training — on the SAME candidate pairs
    * the dedup pass already produced (the pair memo
    * [[Dedup.minhashPairsCached]]; no new pair expansion).
    * Output: unordered split-pair → candidate-pair count; the within-split
    * rows (train,train)… come along for free as the denominator context.
    *
    * Scale shape: the pair frame is LSH-bounded; the split label is a
    * map-side hash of doc_id (no shuffle to compute); then two doc-keyed
    * hash joins and a ≤6-group aggregate. At 100 TB the joins co-shuffle
    * pairs with the thin (doc_id, split) projection — the corpus text
    * never moves.
    */
  def splitLeakage(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val splits = withSplit(docs).select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  def sqlSplitLeakage(pairsSql: String): String = {
    val bucket =
      s"${sqlTokenHash(s"'$SplitSalt:' || CAST(doc_id AS VARCHAR)")} % 100"
    s"""WITH pairs AS (
       |  ${pairsSql.linesIterator.mkString("\n  ")}
       |), sp AS (
       |  SELECT doc_id,
       |    CASE WHEN $bucket < $TrainPct THEN 'train'
       |         WHEN $bucket < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents
       |), j AS (
       |  SELECT least(sa.split, sb.split) AS split_lo,
       |    greatest(sa.split, sb.split) AS split_hi
       |  FROM pairs
       |  JOIN sp sa ON pairs.doc_a = sa.doc_id
       |  JOIN sp sb ON pairs.doc_b = sb.doc_id
       |)
       |SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM j GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin
  }

  // ------------------------------------------------------ sequence packing
  /** Concat-and-chop sequence packing: lay every document's tokens end to
    * end in doc_id order and chop the stream into fixed `CtxLen` windows;
    * emit each document's global token offset and the pack range it lands
    * in. This is the standard LLM pretraining batch layout (documents
    * concatenated, split into context-length rows).
    *
    * The global running offset is a distributed PREFIX SUM, not a global
    * window: a single `Window.orderBy(doc_id)` would funnel the whole
    * corpus through ONE partition. Instead:
    *   1. bucket docs by `doc_id div BucketW` (range-contiguous buckets);
    *   2. per-bucket local cumulative sums (hash-partitioned window);
    *   3. one tiny aggregate of per-bucket totals → running bucket offsets
    *     (a window over n/BucketW rows — at 100 TB pick BucketW so this
    *     stays millions of rows, itself recursable if ever needed);
    *   4. broadcast the bucket offsets back; offset = bucket base + local.
    */
  val CtxLen  = 256
  val BucketW = 64
  /** Bucket count for [[packSampledBuckets]] — at 100 TB pick it so each
    * bucket's cumsum window stays executor-sized (millions of rows).
    */
  val BucketCount = 64

  def pack(docs: DataFrame): DataFrame =
    packFrom(tokenCounts(docs)
      .withColumn("bkt", expr(s"doc_id div $BucketW")))

  /** [[pack]] with RANGE-SAMPLED buckets — the production variant for
    * sparse or skewed doc_id spaces, where fixed-width `id div BucketW`
    * buckets degenerate (a dense id cluster lands millions of docs in one
    * bucket while most buckets are empty, so the "local" cumsum window IS
    * a global window again). Cut points are the interior quantiles of the
    * ACTUAL id distribution from one Greenwald-Khanna `approxQuantile`
    * pass (the driver receives only `nBuckets − 1` longs); each doc's
    * bucket is the count of cut points below its id — a broadcast-literal
    * scan, monotone in doc_id, so buckets stay range-contiguous and the
    * bucket-offset prefix sum is unchanged. Any monotone cut set yields
    * CORRECT offsets (property-tested equal to [[pack]] on dense ids);
    * the quantile error budget only moves balance, never results.
    */
  def packSampledBuckets(docs: DataFrame, nBuckets: Int = BucketCount): DataFrame = {
    val toks = tokenCounts(docs)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val cuts = toks.stat.approxQuantile("doc_id", probs, 0.001)
      .map(_.toLong).distinct.sorted
    val cutsArr = array(cuts.map(c => lit(c)): _*)
    packFrom(toks.withColumn("bkt",
      aggregate(cutsArr, lit(0),
        (acc, c) => acc + when(col("doc_id") > c, 1).otherwise(0))))
  }

  private def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_tokens"))

  /** The shared distributed-prefix-sum suffix of both bucketing variants:
    * expects (doc_id, n_tokens, bkt) where bkt is monotone non-decreasing
    * in doc_id (range-contiguous buckets).
    */
  private def packFrom(base: DataFrame): DataFrame = {
    val local = base.withColumn("cum_in_bkt",
      sum(col("n_tokens")).over(Window.partitionBy("bkt").orderBy("doc_id")))
    val bucketOffsets = base.groupBy(col("bkt"))
      .agg(sum(col("n_tokens")).as("bkt_tot"))
      .withColumn("bkt_off",
        coalesce(sum(col("bkt_tot")).over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bkt"), col("bkt_off"))
    local.join(broadcast(bucketOffsets), "bkt")
      .withColumn("tok_offset",
        col("bkt_off") + col("cum_in_bkt") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $CtxLen").as("pack_first"),
        expr(s"(tok_offset + n_tokens - 1) div $CtxLen").as("pack_last"))
      .withColumn("n_packs", col("pack_last") - col("pack_first") + 1)
      .orderBy(col("doc_id"))
  }

  def sqlPack: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(len(${sqlWords("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), cum AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens AS BIGINT) AS tok_offset
       |  FROM toks)
       |SELECT doc_id, n_tokens, tok_offset,
       |  tok_offset // $CtxLen AS pack_first,
       |  (tok_offset + n_tokens - 1) // $CtxLen AS pack_last,
       |  (tok_offset + n_tokens - 1) // $CtxLen
       |    - tok_offset // $CtxLen + 1 AS n_packs
       |FROM cum ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ packing audit
  /** Per-context-window packing audit over [[pack]]'s layout: how many
    * documents each `CtxLen` window spans (= cross-document attention
    * boundaries the training masking must handle) and its token fill
    * (every window is full except the stream's last — padding waste
    * shows up here the moment packing regresses). Shape: the pack frame
    * explodes each doc into the ≤(n_packs) windows it touches — fan-out
    * is (doc tokens)/CtxLen + 1, bounded and data-proportional — then
    * ONE hash aggregate per window; the overlap arithmetic is pure
    * integer min/max.
    */
  def packAudit(docs: DataFrame): DataFrame = {
    pack(docs)
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        explode(expr("sequence(pack_first, pack_last)")).as("pack_id"))
      .select(col("doc_id"), col("pack_id"),
        (least(col("tok_offset") + col("n_tokens"),
          (col("pack_id") + 1) * CtxLen)
          - greatest(col("tok_offset"), col("pack_id") * CtxLen))
          .as("toks_in_pack"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        sum(col("toks_in_pack")).as("n_tokens"))
      .orderBy(col("pack_id"))
  }

  def sqlPackAudit: String =
    s"""WITH packed AS (
       |  ${sqlPack.linesIterator.mkString("\n  ")}
       |), spans AS (
       |  SELECT doc_id,
       |    CAST(unnest(generate_series(pack_first, pack_last)) AS BIGINT)
       |      AS pack_id,
       |    n_tokens, tok_offset
       |  FROM packed
       |)
       |SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS first_doc,
       |  CAST(SUM(least(tok_offset + n_tokens, (pack_id + 1) * $CtxLen)
       |         - greatest(tok_offset, pack_id * $CtxLen)) AS BIGINT)
       |    AS n_tokens
       |FROM spans GROUP BY pack_id ORDER BY pack_id""".stripMargin

  // -------------------------------------------------- repetition (quality)
  /** Gopher-style repetition metrics (Rae et al. 2021, "Scaling Language
    * Models" §A1.1 — the duplicate-fraction family): fraction of tokens in
    * the most-common word, fraction of tokens belonging to words that
    * occur 2+ times, and the top bigram's share. High values flag
    * boilerplate/spam documents for filtering.
    *
    * Relational formulation on purpose: explode → two hash aggregations,
    * all count arithmetic map-side partial-agged. Array/HOF per-document
    * counting re-evaluates the producing array per element (see
    * [[Dedup.shingleHashes]] scaladoc) — measured 50×+ slower on this
    * corpus shape. Fractions are raw IEEE quotients (never rounded — see
    * the round-after-division hazard in [[graft.functions.Exact]]).
    */
  def repetition(docs: DataFrame): DataFrame = {
    // _outer: words() never yields an empty/null array — identical rows,
    // without the inferred size>0 filter re-evaluating the split.
    val tok = docs.select(col("doc_id"),
      posexplode_outer(words(col("text"))).as(Seq("pos", "word")))
    val wc = tok.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val perDocWords = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_words"),
      max(col("c")).as("top_c"),
      sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup_c"))
    val bigrams = tok
      .withColumn("nxt",
        lead(col("word"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("word"), col("nxt")).as("gram"))
    val perDocBigrams = bigrams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2_c"))
    perDocWords.join(perDocBigrams, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        (col("top_c").cast("double") / col("n_words").cast("double"))
          .as("top_word_frac"),
        (col("dup_c").cast("double") / col("n_words").cast("double"))
          .as("dup_word_frac"),
        (col("top2_c").cast("double") / (col("n_words") - 1).cast("double"))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  def sqlRepetition: String =
    s"""WITH ws AS (
       |  SELECT doc_id, ${sqlWords("text")} AS w FROM documents
       |), wcount AS (
       |  SELECT doc_id, word, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(w) AS word FROM ws) GROUP BY 1, 2
       |), perw AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    MAX(c) AS top_c,
       |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_c
       |  FROM wcount GROUP BY 1
       |), bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
       |      AS gram
       |  FROM ws
       |), perb AS (
       |  SELECT doc_id, MAX(c) AS top2_c
       |  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
       |  GROUP BY 1
       |)
       |SELECT perw.doc_id, n_words,
       |  CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
       |  CAST(dup_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
       |  CAST(top2_c AS DOUBLE) / CAST(n_words - 1 AS DOUBLE)
       |    AS top_bigram_frac
       |FROM perw JOIN perb ON perw.doc_id = perb.doc_id
       |ORDER BY perw.doc_id""".stripMargin

  // ------------------------------------------------------- mixture weights
  /** Source-mixture accounting: each source's token share and the weight
    * that would rebalance sampling to a uniform mixture (weight > 1 ⇒
    * upsample). One hash aggregation; the share/weight normalization is a
    * window over |sources| rows (tiny by construction — sources are
    * domains/crawls, not documents).
    */
  def mixture(docs: DataFrame): DataFrame = {
    val all = Window.partitionBy() // single frame over |sources| rows
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(words(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("tot", sum(col("n_tokens")).over(all))
      .withColumn("n_sources", count(lit(1)).over(all))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot").cast("double"))
          .as("token_share"),
        (col("tot").cast("double") /
          (col("n_sources") * col("n_tokens")).cast("double"))
          .as("uniform_weight"))
      .orderBy(col("source"))
  }

  def sqlMixture: String =
    s"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len(${sqlWords("text")})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
       |    AS token_share,
       |  CAST(SUM(n_tokens) OVER () AS DOUBLE)
       |    / CAST(COUNT(*) OVER () * n_tokens AS DOUBLE) AS uniform_weight
       |FROM per ORDER BY source""".stripMargin

  /** Temperature-scaled source mixture at alpha = 1/2: multilingual /
    * multi-source LM training samples source i proportionally to
    * share_i^alpha (Conneau & Lample 2019 §3.1 introduced the scheme;
    * mT5 and XLM-R tune alpha in [0.2, 0.7]), flattening the mixture so
    * dominant sources shrink and tail sources surface. alpha = 1/2 is the
    * one exponent with a cross-engine-exact implementation: IEEE 754
    * requires sqrt correctly rounded (Spark's Math.sqrt and DuckDB's
    * libm agree bit-for-bit), while a pow(share, 0.3) is transcendental
    * and diverges in the last ulp — the same reason TF-IDF emits a
    * rational idf. The boost column (temp_share / token_share, the
    * upsampling factor relative to proportional sampling) is emitted
    * UNNORMALIZED: the normalizing constant is a float sum whose addend
    * order the engines would not agree on, and it cancels anyway when
    * sources are compared.
    *
    * Scale shape: identical to [[mixture]] — one hash aggregation over
    * the corpus; everything after runs on |sources| rows.
    */
  def mixtureTemperature(docs: DataFrame): DataFrame = {
    val all = Window.partitionBy() // |sources| rows, not the corpus
    docs.groupBy(col("source"))
      .agg(sum(size(words(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("tot", sum(col("n_tokens")).over(all)) // exact: integer
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("temp_share", sqrt(col("token_share")))
      .select(col("source"), col("n_tokens"), col("token_share"),
        col("temp_share"),
        (col("temp_share") / col("token_share")).as("boost"))
      .orderBy(col("source"))
  }

  def sqlMixtureTemperature: String =
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(SUM(len(${sqlWords("text")})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), t AS (
       |  SELECT source, n_tokens,
       |    CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
       |      AS token_share
       |  FROM per
       |)
       |SELECT source, n_tokens, token_share,
       |  sqrt(token_share) AS temp_share,
       |  sqrt(token_share) / token_share AS boost
       |FROM t ORDER BY source""".stripMargin

  // ------------------------------------------- epoch / repeat accounting
  /** Data-constrained scaling repeat accounting (Muennighoff et al.,
    * "Scaling Data-Constrained Language Models", NeurIPS 2023: repeating
    * data up to ~4 epochs is near-free, beyond that returns decay): given
    * a token budget of [[EpochsBudgetMult]]× the corpus and
    * temperature-τ=2 mixing weights (w_s ∝ √tokens_s, the same upweighting
    * as `corpus_mix_temp`), compute per source how many EPOCHS its data
    * must repeat to fill its allocation, cap at [[EpochsCap]], and report
    * the effective (post-cap) token supply — the planning table that says
    * which sources run out of unique data first.
    *
    * Scale shape: one map-side token-count agg to |sources| rows;
    * Σ√tokens rides a broadcast one-row exact-decimal aggregate; all
    * downstream arithmetic is per-row IEEE on bit-identical inputs
    * (sqrt is IEEE-exact in every engine, unlike ln).
    */
  val EpochsBudgetMult = 2.0
  val EpochsCap = 4.0

  def epochs(docs: DataFrame): DataFrame = {
    import graft.functions.Exact
    // pinned: the corpus-wide token count feeds both the totals row and
    // the final projection — one scan, not two
    val per = Iterate.pin(docs.groupBy(col("source"))
      .agg(sum(size(words(col("text"))).cast("long")).as("n_tokens")))
    val tots = per.agg(sum(col("n_tokens")).as("tot"),
      Exact.xsum(sqrt(col("n_tokens").cast("double")), 6).as("sum_sqrt"))
    per.crossJoin(broadcast(tots))
      .withColumn("weight",
        sqrt(col("n_tokens").cast("double")) / col("sum_sqrt"))
      .withColumn("target_tokens",
        lit(EpochsBudgetMult) * col("tot").cast("double") * col("weight"))
      .withColumn("epochs", col("target_tokens") /
        col("n_tokens").cast("double"))
      .withColumn("epochs_capped", least(col("epochs"), lit(EpochsCap)))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("target_tokens"), col("epochs"), col("epochs_capped"),
        (col("n_tokens").cast("double") * col("epochs_capped"))
          .as("effective_tokens"),
        (col("epochs") > lit(EpochsCap)).as("data_constrained"))
      .orderBy(col("source"))
  }

  def sqlEpochs: String = {
    import graft.functions.Exact
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(SUM(len(${sqlWords("text")})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), tots AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
       |    ${Exact.sqlSum("sqrt(CAST(n_tokens AS DOUBLE))", 6)} AS sum_sqrt
       |  FROM per
       |), w AS (
       |  SELECT source, n_tokens,
       |    sqrt(CAST(n_tokens AS DOUBLE)) / sum_sqrt AS weight,
       |    $EpochsBudgetMult * CAST(tot AS DOUBLE)
       |      * (sqrt(CAST(n_tokens AS DOUBLE)) / sum_sqrt) AS target_tokens
       |  FROM per CROSS JOIN tots
       |), e AS (
       |  SELECT source, n_tokens, weight, target_tokens,
       |    target_tokens / CAST(n_tokens AS DOUBLE) AS epochs
       |  FROM w
       |)
       |SELECT source, n_tokens, weight, target_tokens, epochs,
       |  least(epochs, $EpochsCap) AS epochs_capped,
       |  CAST(n_tokens AS DOUBLE) * least(epochs, $EpochsCap)
       |    AS effective_tokens,
       |  epochs > $EpochsCap AS data_constrained
       |FROM e ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- redaction
  /** PII-style scrubbing: replace every digit run in the payload with a
    * mask and count the replacements. Pure map-side regex (codegen'd, no
    * shuffle) — the pattern set extends to emails/phones/keys without
    * changing the plan shape. Run over `events.props` (the fixture's only
    * column with sensitive-shaped content).
    */
  val RedactPattern = "[0-9]+"
  val RedactMask    = "#"

  def redact(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("props"),
      size(regexp_extract_all(col("props"), lit(RedactPattern), lit(0)))
        .as("n_redacted"),
      regexp_replace(col("props"), RedactPattern, RedactMask).as("redacted"))
      .orderBy(col("event_id"))

  def sqlRedact: String =
    s"""SELECT event_id, props,
       |  len(regexp_extract_all(props, '$RedactPattern')) AS n_redacted,
       |  regexp_replace(props, '$RedactPattern', '$RedactMask', 'g')
       |    AS redacted
       |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------- decontamination scan
  /** Benchmark decontamination: find training documents sharing word
    * k-grams with a held-out evaluation set (the n-gram-collision test used
    * for pretraining-set decontamination; k-gram machinery shared with
    * [[Dedup]]). The fixture's "benchmark" is the deterministic doc_id
    * mod-[[EvalMod]] slice.
    *
    * Scale shape: the eval side is SMALL by nature (benchmarks, not
    * corpora) — its exploded k-gram hash set is broadcast, so the 100 TB
    * training side never shuffles: hash, probe, partial-count map-side,
    * then aggregate only the (rare) colliding pairs. Output containment =
    * |overlap| / |eval k-grams| is the decision metric (containment ≥
    * threshold ⇒ drop the training doc).
    */
  val DeconK     = 5
  val EvalMod    = 5
  val MinOverlap = 2

  /** Distinct k-gram hash set per document (≥ DeconK words — shorter docs
    * have no complete k-gram on either engine).
    */
  private def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= DeconK)
      .select(col("doc_id"), Dedup.wordHashes(col("w")).as("wh"))
      .select(col("doc_id"),
        array_distinct(Dedup.shingleHashes(col("wh"), DeconK)).as("hs"))

  /** Per-(session, `docs`) memo of the PINNED [[shingleSets]] frame. The
    * md5 word-hash + k-gram chains are the decon family's CPU; the frame
    * is read THREE times by [[bloomDecon]] (eval grams, train probes,
    * exact verify) and twice by [[decontaminate]], and both queries share
    * the same corpus — without the pin each consumer re-evaluates the
    * whole chain per document (higher-order map/transform expressions
    * don't codegen, so no subexpression elimination applies and there is
    * no exchange below them for ReuseExchange to collapse).
    */
  private def shingleSetsCached(docs: DataFrame): DataFrame =
    graft.Memo.pinned(docs.sparkSession, "training.shingles", docs)(
      shingleSets(docs))

  def decontaminate(docs: DataFrame): DataFrame = {
    val sh = shingleSetsCached(docs)
    // explode_outer, NOT explode: for plain explode Catalyst infers a
    // `size(hs) > 0 AND isnotnull(hs)` filter below the Generate, and
    // predicate pushdown re-inlines the whole shingle chain into that
    // Filter — higher-order functions don't codegen, so no subexpression
    // elimination applies and the chain re-evaluates ~10× per document
    // (measured 3× query slowdown). The ≥ DeconK word filter already
    // guarantees non-empty arrays, so outer ≡ inner here.
    val train = sh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), explode_outer(col("hs")).as("h"))
    val eval = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), size(col("hs")).as("eval_n"),
        explode_outer(col("hs")).as("h"))
    train.join(broadcast(eval), "h")
      .groupBy(col("train_id"), col("eval_id"), col("eval_n"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= MinOverlap)
      .select(col("train_id"), col("eval_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("eval_n").cast("double"))
          .as("containment"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** Reusable eval-set k-gram index: one row per (eval_id, eval_n, h).
    * Built ONCE from the benchmark corpus, persisted, and broadcast into
    * every admission check — the static side of a stream-static join.
    */
  def evalIndex(evalDocs: DataFrame): DataFrame =
    shingleSets(evalDocs)
      .select(col("doc_id").as("eval_id"), size(col("hs")).as("eval_n"),
        explode_outer(col("hs")).as("h"))

  /** Admission filter: drop candidate documents whose k-gram containment
    * against any eval doc reaches `maxContainment`. Works identically on a
    * batch frame or inside `foreachBatch` (the eval index is static —
    * Structured Streaming's stream-static broadcast join shape).
    */
  val MaxContainment = 0.5

  def admit(candidates: DataFrame, index: DataFrame): DataFrame = {
    val candEx = shingleSets(candidates)
      .select(col("doc_id").as("cand_id"), explode_outer(col("hs")).as("h"))
    val contaminated = candEx.join(broadcast(index), "h")
      .groupBy(col("cand_id"), col("eval_id"), col("eval_n"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap").cast("double") / col("eval_n").cast("double")
        >= MaxContainment)
      .select(col("cand_id").as("doc_id")).distinct()
    candidates.join(contaminated, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------- Bloom-filter decon
  /** Bloom-filter pre-screen for decontamination (Bloom, "Space/time
    * trade-offs in hash coding with allowable errors", CACM 1970 — the
    * same structure CCNet/Dolma-class pipelines use to screen test-set
    * n-grams out of web corpora): the EVAL side compresses to an m-bit
    * filter (here m = 2^16 bits packed into 32-bit words → a table of at
    * most [[BloomWords]] (word, bits) rows, ~8 KB); the 100 TB TRAIN side
    * probes it map-side after a broadcast — no shuffle of the corpus, no
    * eval k-gram index join. Docs the filter clears are definitively
    * clean; flagged docs go to the exact [[decontaminate]] join, which
    * then runs over a tiny candidate slice. The output pairs the bloom
    * verdict with the exact overlap count, so the query itself audits the
    * false-positive rate.
    *
    * Everything is integer arithmetic on BIGINTs: positions come from the
    * same universal hash family as MinHash (h·A + B mod P, then mod m);
    * bits pack 32 per word (bit 63 is never set, and a word's bit pattern
    * is assembled as a SUM of DISTINCT single-bit masks — exactly OR, and
    * exact in DuckDB's 128-bit SUM too). Bit-identical across engines.
    */
  /** Filter width. SIZING RULE: m ≈ 16 bits per DISTINCT eval k-gram keeps
    * the false-positive rate ~0.5% at k=3; an undersized filter saturates
    * (every probe hits) and the "definitively clean" fast path never
    * fires. 2^16 fits this fixture's ~4 k eval k-grams. In production the
    * eval side is a BENCHMARK SUITE — bounded by construction, not a
    * corpus fraction (the doc_id%5 split here is the fixture's stand-in)
    * — so m is a per-deployment constant: 10^7 eval k-grams → 2^28 bits
    * = 32 MB of (word, bits) rows, still a broadcast.
    */
  val BloomBits = 65536       // m = 2^16
  val BloomHashes = 3         // k
  val BloomWordBits = 32
  val BloomWords: Int = BloomBits / BloomWordBits

  private def bloomA(j: Int): Long = 1000003L * (j + 101) + 12345L
  private def bloomB(j: Int): Long = 7919L * (j + 101) + 104729L

  /** Bit position j of k-gram hash `h` (a Column in [0, P)). */
  private def bloomPos(h: Column, j: Int): Column =
    (h * lit(bloomA(j)) + lit(bloomB(j))) % lit(Dedup.MinhashP) % lit(BloomBits.toLong)
  private def sqlBloomPos(h: String, j: Int): String =
    s"(($h * ${bloomA(j)} + ${bloomB(j)}) % ${Dedup.MinhashP} % $BloomBits)"

  def bloomDecon(docs: DataFrame): DataFrame = {
    val sh = shingleSetsCached(docs)
    val evalGrams = sh.filter(col("doc_id") % EvalMod === 0)
      .select(explode_outer(col("hs")).as("h")).distinct()
    // filter build: distinct positions → distinct single-bit masks per
    // word → SUM == OR (each mask appears once; bits < 2^32 so no sign
    // games and DuckDB's HUGEINT sum casts back exactly)
    val bits = evalGrams
      .select(explode(array((0 until BloomHashes).map(j =>
        bloomPos(col("h"), j)): _*)).as("pos")).distinct()
      .groupBy(expr(s"pos div $BloomWordBits").as("word"))
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))"))
        .as("bits"))
    // train probe: a k-gram is flagged iff ALL k probed bits are set; the
    // bits table joins broadcast (≤ BloomWords rows)
    val probes = sh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), size(col("hs")).as("n_kgrams"),
        explode_outer(col("hs")).as("h"))
      .select(col("train_id"), col("n_kgrams"), col("h"),
        explode(array((0 until BloomHashes).map(j =>
          bloomPos(col("h"), j)): _*)).as("pos"))
      .join(broadcast(bits), expr(s"pos div $BloomWordBits") === col("word"),
        "left")
      .select(col("train_id"), col("n_kgrams"), col("h"),
        (coalesce(col("bits"), lit(0L))
          .bitwiseAND(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))"))
          =!= 0L).cast("long").as("hit"))
      .groupBy(col("train_id"), col("n_kgrams"), col("h"))
      .agg((sum(col("hit")) === BloomHashes).as("maybe"))
    // exact verification side-by-side: bloom positives vs true overlap.
    // The exact join runs ONLY over the flagged slice — that confinement
    // IS the operator's point (the pre-screen exists so the 100 TB train
    // side never meets the exact join). Bloom has no false negatives, so
    // restricting to flagged docs loses nothing. `flagged` is tiny and
    // used twice (semi-join + final join) → pinned with Iterate.pin
    // like every reused subtree here.
    val flagged = probes.groupBy(col("train_id"), col("n_kgrams"))
      .agg(sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"))
      .filter(col("n_maybe") > 0)
      .transform(Iterate.pin)
    val exact = sh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), col("hs"))
      .join(flagged.select(col("train_id")), Seq("train_id"), "left_semi")
      .select(col("train_id"), explode_outer(col("hs")).as("h"))
      .join(evalGrams, Seq("h"), "left_semi")
      .groupBy(col("train_id")).agg(count(lit(1)).as("n_exact"))
    flagged.join(exact, Seq("train_id"), "left")
      .select(col("train_id"), col("n_kgrams"), col("n_maybe"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .orderBy(col("train_id"))
  }

  def sqlBloomDecon: String = {
    val posRows = (0 until BloomHashes)
      .map(j => s"SELECT ${sqlBloomPos("h", j)} AS pos FROM evalgrams")
      .mkString("\n  UNION\n  ")
    val probeRows = (0 until BloomHashes)
      .map(j => s"""SELECT train_id, n_kgrams, h, ${sqlBloomPos("h", j)} AS pos
                   |  FROM trgrams""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH wordhashed AS (
       |  SELECT doc_id, ${Dedup.sqlWordHashes("text")} AS wh FROM documents
       |  WHERE len(${sqlWords("text")}) >= $DeconK
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(${Dedup.sqlShingleHashes("wh", DeconK)}) AS hs
       |  FROM wordhashed
       |), evalgrams AS (
       |  SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % $EvalMod = 0
       |), positions AS (
       |  $posRows
       |), bits AS (
       |  SELECT pos // $BloomWordBits AS word,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(pos % $BloomWordBits AS INTEGER))
       |      AS BIGINT) AS bits
       |  FROM positions GROUP BY 1
       |), trgrams AS (
       |  SELECT doc_id AS train_id, len(hs) AS n_kgrams, unnest(hs) AS h
       |  FROM sh WHERE doc_id % $EvalMod <> 0
       |), probes AS (
       |  $probeRows
       |), grams AS (
       |  SELECT train_id, n_kgrams, h,
       |    SUM(CASE WHEN (COALESCE(b.bits, 0)
       |      & (CAST(1 AS BIGINT) << CAST(pos % $BloomWordBits AS INTEGER)))
       |      <> 0 THEN 1 ELSE 0 END) = $BloomHashes AS maybe
       |  FROM probes LEFT JOIN bits b ON pos // $BloomWordBits = b.word
       |  GROUP BY train_id, n_kgrams, h
       |), flagged AS (
       |  SELECT train_id, n_kgrams,
       |    CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
       |  FROM grams GROUP BY 1, 2 HAVING n_maybe > 0
       |), exact AS (
       |  SELECT train_id, COUNT(*) AS n_exact FROM trgrams
       |  WHERE h IN (SELECT h FROM evalgrams)
       |    AND train_id IN (SELECT train_id FROM flagged)
       |  GROUP BY 1
       |)
       |SELECT f.train_id, f.n_kgrams, f.n_maybe,
       |  COALESCE(e.n_exact, 0) AS n_exact
       |FROM flagged f LEFT JOIN exact e USING (train_id)
       |ORDER BY train_id""".stripMargin
  }

  def sqlDecontaminate: String =
    s"""WITH wordhashed AS (
       |  SELECT doc_id, ${Dedup.sqlWordHashes("text")} AS wh FROM documents
       |  WHERE len(${sqlWords("text")}) >= $DeconK
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(${Dedup.sqlShingleHashes("wh", DeconK)}) AS hs
       |  FROM wordhashed
       |), ex AS (
       |  SELECT doc_id, len(hs) AS nsh, unnest(hs) AS h FROM sh
       |), tr AS (SELECT * FROM ex WHERE doc_id % $EvalMod <> 0),
       |   ev AS (SELECT * FROM ex WHERE doc_id % $EvalMod = 0)
       |SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
       |  COUNT(*) AS n_overlap,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(ev.nsh AS DOUBLE) AS containment
       |FROM tr JOIN ev USING (h)
       |GROUP BY 1, 2, ev.nsh
       |HAVING COUNT(*) >= $MinOverlap
       |ORDER BY train_id, eval_id""".stripMargin

  // ------------------------------------------------------- overlap chunking
  /** Fixed-length token chunks with overlap — the RAG / context-window
    * preparation step: windows of [[ChunkLen]] tokens at stride
    * `ChunkLen - ChunkOverlap`, the final chunk keeping whatever remains.
    * Chunk count per doc is `max(ceil((n - overlap) / stride), 1)` so every
    * token lands in ≥ 1 chunk and every doc emits ≥ 1 chunk.
    *
    * Scale shape: pure map-side — one `sequence` + `explode` per document,
    * no shuffle anywhere (the ORDER BY is the harness's total-order dump,
    * not part of the operator). Chunk text is a `slice` of the already-split
    * token array; nothing re-tokenizes per chunk.
    */
  val ChunkLen     = 32
  val ChunkOverlap = 8

  def chunk(docs: DataFrame): DataFrame = {
    val stride = ChunkLen - ChunkOverlap
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_chunks", greatest(
        expr(s"(n_tokens - $ChunkOverlap + ${stride - 1}) div $stride"),
        lit(1L)))
      .select(col("doc_id"), col("n_tokens"), col("w"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("tok_start", col("chunk_idx") * stride)
      .withColumn("chunk_tokens",
        least(lit(ChunkLen.toLong), col("n_tokens") - col("tok_start")))
      .withColumn("chunk_text",
        array_join(slice(col("w"), (col("tok_start") + 1).cast("int"),
          lit(ChunkLen)), " "))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        col("chunk_tokens"), col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  def sqlChunk: String = {
    val stride = ChunkLen - ChunkOverlap
    s"""WITH t AS (
       |  SELECT doc_id, ${sqlWords("text")} AS w,
       |    CAST(len(${sqlWords("text")}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, w, n_tokens,
       |    unnest(range(0, greatest(
       |      (n_tokens - $ChunkOverlap + ${stride - 1}) // $stride, 1)))
       |      AS chunk_idx
       |  FROM t
       |)
       |SELECT doc_id, chunk_idx, chunk_idx * $stride AS tok_start,
       |  least($ChunkLen, n_tokens - chunk_idx * $stride) AS chunk_tokens,
       |  array_to_string(list_slice(w, chunk_idx * $stride + 1,
       |    chunk_idx * $stride + $ChunkLen), ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ------------------------------------------------ weighted priority sample
  /** Weighted sample without replacement via priority sampling (Duffield,
    * Lund & Thorup, "Priority sampling for estimation of arbitrary subset
    * sums", JACM 2007): each doc gets priority w / u with u uniform from
    * its salted hash, and the top-[[WSampleK]] by priority form the
    * sample — inclusion probability ∝ weight (here n_chars: longer docs
    * proportionally likelier, the usual token-budget sampling).
    *
    * Determinism: u = (hash + 1) ∈ [1, 2^32] exactly; priority =
    * double(w · 2^32) / double(h + 1) — the integer product is exact
    * (< 2^53), each cast is exact, the single division is one
    * correctly-rounded IEEE op, so priorities (and the ranking) are
    * bit-identical across engines. No RNG state anywhere — re-runs,
    * retries, and re-partitions agree; swap the salt for an independent
    * redraw.
    *
    * Scale shape: priorities are map-side; global top-k plans as
    * TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
    * never a full sort shuffle.
    */
  val WSampleSalt = "wsample"
  val WSampleK    = 50

  def weightedSample(docs: DataFrame): DataFrame = {
    val u = tokenHash(
      concat(lit(WSampleSalt), lit(":"), col("doc_id").cast("string"))) + 1L
    docs
      .select(col("doc_id"), col("n_chars"),
        ((col("n_chars") * lit(4294967296L)).cast("double") /
          u.cast("double")).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(WSampleK)
  }

  def sqlWeightedSample: String = {
    val h = sqlTokenHash(s"'$WSampleSalt:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, n_chars,
       |  CAST(n_chars * 4294967296 AS DOUBLE)
       |    / CAST(($h) + 1 AS DOUBLE) AS priority
       |FROM documents
       |ORDER BY priority DESC, doc_id LIMIT $WSampleK""".stripMargin
  }

  // ------------------------------------------- token-budget data selection
  /** Data selection under a token budget: walk documents in quality order
    * (best first, doc_id tiebreak) and mark everything whose cumulative
    * token count still fits [[TokenBudget]] — the "given a budget of N
    * tokens, which documents train?" operator (quality-threshold selection
    * as practiced since at least Brown et al. 2020's quality-filtered
    * CommonCrawl, but with the budget explicit instead of a score cutoff).
    *
    * Scale shape: a global running sum in score order is the classic
    * single-partition window trap; this is the SAME distributed prefix sum
    * as [[pack]] and [[TextOps.qualityRank]] — map-side score buckets, a
    * tiny per-bucket token-sum table whose higher-bucket prefix offsets
    * broadcast back, and a within-(bucket) running-sum window. Selection
    * is then a map-side comparison; no corpus-wide sort happens until the
    * harness's total ORDER BY (production writes the `selected` filter,
    * not an ordered dump).
    */
  val TokenBudget = 10000L

  def budgetSelect(docs: DataFrame): DataFrame = {
    val scored = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), TextOps.qualityScore(col("w")).as("score"),
        size(col("w")).cast("long").as("n_tok"))
      .withColumn("bucket", floor(col("score") * lit(64.0)).cast("long"))
    val offsets = scored.groupBy(col("bucket")).agg(sum(col("n_tok")).as("btok"))
      .withColumn("offset", coalesce(
        sum(col("btok")).over(Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    scored.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_tokens", col("offset") +
        sum(col("n_tok")).over(Window.partitionBy(col("bucket"))
          .orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("doc_id"), col("score"), col("n_tok"), col("cum_tokens"),
        (col("cum_tokens") <= TokenBudget).as("selected"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  // ---------------------------------------- DSIR importance resampling
  /** Data Selection with Importance Resampling (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023) reduced to its unigram form: score every document by the
    * log-likelihood ratio between a TARGET-domain unigram LM and the
    * corpus-wide background LM (both add-1 smoothed over the shared
    * vocabulary), then keep the top corpus fraction (1/[[DsirKeepDenom]])
    * by that weight — the classifier-free recipe for steering a 100 TB
    * crawl toward a curated domain.
    *
    * Cross-engine determinism: both LMs are exact BIGINT count frames;
    * the per-token term is ln over ratios of exact ints (the suite's ln
    * parity), summed per doc through [[graft.functions.Exact.xsum]]; the
    * selection rank orders by that bit-identical double with a doc_id
    * tiebreak.
    *
    * Scale shape: ONE token explode feeds BOTH LMs (the target counter is
    * a conditional agg on the same map-side hash agg, not a second scan);
    * scoring is tokens ⋈ word-stats on the word key — the bounded-fanout
    * tfidf shape; scalars (N_t, N_b, |V|) ride one broadcast row. The
    * selection rank window is unpartitioned but sits above the per-doc
    * Aggregate (the registry sweep's discipline); production writes the
    * `selected` filter, not an ordered dump.
    */
  val DsirTarget = "src0"
  val DsirKeepDenom = 10L

  def dsir(docs: DataFrame): DataFrame = {
    import graft.functions.Exact
    val tok = docs.select(col("doc_id"), col("source"),
      explode(words(col("text"))).as("w"))
    // pin the vocabulary-sized LM frame: it feeds the scalar totals, the
    // broadcast to the scoring join, and (transitively) the selection
    // threshold — unpinned, Catalyst re-runs the corpus explode+agg for
    // each consumer (4 Generates observed in the physical plan)
    val bg = Iterate.pin(tok.groupBy(col("w")).agg(count(lit(1)).as("c_b"),
      count(when(col("source") === DsirTarget, 1)).as("c_t")))
    val scal = bg.agg(sum(col("c_b")).as("n_b"), sum(col("c_t")).as("n_t"),
      count(lit(1)).as("v"))
    val term = log((col("c_t") + lit(1L)).cast("double") /
        (col("n_t") + col("v")).cast("double")) -
      log((col("c_b") + lit(1L)).cast("double") /
        (col("n_b") + col("v")).cast("double"))
    // pinned: read once for the selection threshold, once for the ranked
    // output — the second corpus pass (scoring) runs exactly once
    val perDoc = Iterate.pin(tok.join(bg, Seq("w"))
      .crossJoin(broadcast(scal))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"), Exact.xsum(term, 9).as("log_ratio")))
    val nsel = perDoc.agg(ceil(count(lit(1)).cast("double") /
      lit(DsirKeepDenom.toDouble)).cast("long").as("n_sel"))
    perDoc.crossJoin(broadcast(nsel))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("log_ratio").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("log_ratio"),
        col("rk"), (col("rk") <= col("n_sel")).as("selected"))
      .orderBy(col("rk"))
  }

  def sqlDsir: String = {
    import graft.functions.Exact.sqlSum
    val term =
      """ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
        |    - ln(CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE))"""
        .stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(${sqlWords("text")}) AS w
       |  FROM documents
       |), bg AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_b,
       |    CAST(SUM(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS c_t
       |  FROM tok GROUP BY w
       |), scal AS (
       |  SELECT CAST(SUM(c_b) AS BIGINT) AS n_b,
       |    CAST(SUM(c_t) AS BIGINT) AS n_t,
       |    CAST(COUNT(*) AS BIGINT) AS v
       |  FROM bg
       |), perdoc AS (
       |  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |    ${sqlSum(term.linesIterator.mkString(" "), 9)} AS log_ratio
       |  FROM tok JOIN bg USING (w) CROSS JOIN scal
       |  GROUP BY doc_id, source
       |), nsel AS (
       |  SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE)
       |    / CAST($DsirKeepDenom AS DOUBLE)) AS BIGINT) AS n_sel
       |  FROM perdoc
       |), ranked AS (
       |  SELECT doc_id, source, n_tok, log_ratio,
       |    CAST(ROW_NUMBER() OVER (ORDER BY log_ratio DESC, doc_id)
       |         AS BIGINT) AS rk
       |  FROM perdoc
       |)
       |SELECT doc_id, source, n_tok, log_ratio, rk,
       |  rk <= n_sel AS selected
       |FROM ranked CROSS JOIN nsel
       |ORDER BY rk""".stripMargin
  }

  def sqlBudgetSelect: String =
    s"""SELECT doc_id, score, n_tok, cum_tokens,
       |  cum_tokens <= $TokenBudget AS selected
       |FROM (
       |  SELECT doc_id, score, n_tok,
       |    CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM (
       |    SELECT doc_id, ${TextOps.SqlScoreExpr} AS score,
       |      CAST(nwl AS BIGINT) AS n_tok
       |    FROM (
       |      ${TextOps.sqlWordStats()}
       |    )
       |  )
       |) ORDER BY score DESC, doc_id""".stripMargin

  // ------------------------------------------------- global shuffle → shards
  /** Deterministic global shuffle of the corpus into [[NShards]] training
    * shards: every doc gets a shard and an exact position within it, ordered
    * by a salted md5 — the "shuffle the corpus once before training" step,
    * reproducible across retries (pure hash, no rand()).
    *
    * Scale shape: positions come from the [[pack]] distributed-prefix-sum
    * discipline, NOT a per-shard global window — rank windows partition by
    * (shard, sub-bucket) (NShards × [[ShardBuckets]] concurrent partitions),
    * and each bucket's start offset is a broadcast of the tiny
    * (shard, bucket) → count cumsum. A per-shard ROW_NUMBER window would
    * funnel corpus/NShards rows through one partition each at 100 TB; this
    * form never materializes a partition larger than corpus/(NShards ×
    * ShardBuckets). The oracle's per-shard ROW_NUMBER over (bucket, h) is
    * provably the same total order.
    */
  val NShards = 8
  val ShardBuckets = 32
  val ShardSalt = "shard1"

  def shard(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
        md5(concat(lit(ShardSalt), lit(":"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % NShards)
          .cast("int"))
      .withColumn("bkt",
        conv(substring(col("h"), 9, 8), 16, 10).cast("long") % ShardBuckets)
    val local = base.withColumn("rk", row_number().over(
      Window.partitionBy(col("shard"), col("bkt"))
        .orderBy(col("h"), col("doc_id"))))
    val offsets = base.groupBy(col("shard"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum(col("n")).over(Window.partitionBy(col("shard"))
          .orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("shard"), col("bkt"), col("off"))
    local.join(broadcast(offsets), Seq("shard", "bkt"))
      .select(col("doc_id"), col("shard"),
        (col("off") + col("rk") - 1).as("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  def sqlShard: String =
    s"""WITH b AS (
       |  SELECT doc_id, h,
       |    CAST(CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % $NShards AS INT)
       |      AS shard,
       |    CAST(('0x' || substr(h, 9, 8)) AS BIGINT) % $ShardBuckets AS bkt
       |  FROM (
       |    SELECT doc_id,
       |      md5('$ShardSalt:' || CAST(doc_id AS VARCHAR)) AS h
       |    FROM documents
       |  )
       |)
       |SELECT doc_id, shard,
       |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY bkt, h, doc_id) - 1
       |    AS pos
       |FROM b ORDER BY shard, pos""".stripMargin

  // ----------------------------------------- source-balanced interleave
  /** Source-balanced training order: round-robin the sources so any
    * contiguous read of the corpus sees every source at its global rate —
    * the "interleave datasets" step training readers rely on (a plain
    * shuffle only balances IN EXPECTATION; interleaving balances every
    * window). interleave_key = (per-source rank − 1) · |sources| +
    * source_idx: unique, and sorting by it yields the round-robin order.
    * Uneven sources leave gaps at the tail — readers sort by the key, so
    * gaps are harmless, and closing them would take a corpus-wide global
    * rank (exactly the single-partition funnel the suite bans).
    *
    * Shape: per-source md5-order rank (one keyed window), the source
    * index + count as a broadcast |sources|-row frame. The corpus
    * shuffles once, on `source`.
    */
  def interleave(docs: DataFrame): DataFrame = {
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("source_idx",
        row_number().over(Window.orderBy(col("source"))) - 1)
    val nSrc = srcIdx.agg(count(lit(1)).as("n_sources"))
    val bySource = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        md5(concat(lit("il:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(bySource))
      .join(broadcast(srcIdx), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"),
        ((col("rk") - 1).cast("long") * col("n_sources")
          + col("source_idx")).as("interleave_key"))
      .orderBy(col("interleave_key"))
  }

  def sqlInterleave: String =
    """WITH si AS (
      |  SELECT source,
      |    ROW_NUMBER() OVER (ORDER BY source) - 1 AS source_idx
      |  FROM (SELECT DISTINCT source FROM documents)
      |), ns AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM si
      |), r AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('il:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents
      |)
      |SELECT doc_id, source,
      |  CAST((rk - 1) * n_sources + source_idx AS BIGINT) AS interleave_key
      |FROM r JOIN si USING (source), ns
      |ORDER BY interleave_key""".stripMargin

  // ------------------------------------------------ padding-waste audit
  /** Padding efficiency of batch assembly under a sequence cap: every
    * batch pads its members to the batch max, so `padded_cells =
    * Σ_batches k·max − Σ len` is compute burned on pad tokens. The audit
    * prices two policies — arrival-order batching (id blocks) vs
    * length-sorted batching — the number that justifies the
    * sorted-bucketing data loader every training stack ships
    * (fewer pad cells = same tokens in fewer FLOPs).
    *
    * Scale shape: lengths are map-side (`least(|words|, cap)`); the
    * sorted policy's GLOBAL rank uses the two-level trick — per-length
    * counts (≤ cap rows, broadcast with running-sum offsets) + a
    * length-keyed row_number — so no corpus-wide window anywhere; both
    * policies then reduce per batch and to one row each. Exact integers
    * throughout; one division per policy row.
    */
  val PadCap = 64L
  val PadBatch = 8L

  def padAudit(docs: DataFrame): DataFrame = {
    val lens = Iterate.pin(docs.select(col("doc_id"),
      least(size(TextOps.words(col("text"))).cast("long"), lit(PadCap))
        .as("len")))
    val arrival = lens.withColumn("batch", expr(s"doc_id div $PadBatch"))
    val offs = lens.groupBy(col("len")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum(col("n")).over(Window.orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("len"), col("off"))
    val sorted = lens.join(broadcast(offs), Seq("len"))
      .withColumn("r", col("off") + row_number().over(
        Window.partitionBy(col("len")).orderBy(col("doc_id"))))
      .withColumn("batch", expr(s"(r - 1) div $PadBatch"))
    def stats(df: DataFrame, name: String): DataFrame =
      df.groupBy(col("batch"))
        .agg(max(col("len")).as("mx"), sum(col("len")).as("tot"),
          count(lit(1)).as("k"))
        .agg(sum(col("k")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("k") * col("mx")).as("token_cells"),
          sum(col("k") * col("mx") - col("tot")).as("padded_cells"))
        .select(lit(name).as("policy"), col("n_docs"), col("n_batches"),
          col("token_cells"), col("padded_cells"),
          (col("padded_cells").cast("double") /
            col("token_cells").cast("double")).as("pad_ratio"))
    stats(arrival, "arrival").unionByName(stats(sorted, "sorted"))
      .orderBy(col("policy"))
  }

  def sqlPadAudit: String = {
    def statsSql(src: String, name: String) =
      s"""SELECT '$name' AS policy,
         |    CAST(SUM(k) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_batches,
         |    CAST(SUM(k * mx) AS BIGINT) AS token_cells,
         |    CAST(SUM(k * mx - tot) AS BIGINT) AS padded_cells,
         |    CAST(SUM(k * mx - tot) AS DOUBLE)
         |      / CAST(SUM(k * mx) AS DOUBLE) AS pad_ratio
         |  FROM (
         |    SELECT batch, MAX(len) AS mx, SUM(len) AS tot,
         |      COUNT(*) AS k
         |    FROM $src GROUP BY batch
         |  )""".stripMargin
    s"""WITH lens AS (
       |  SELECT doc_id,
       |    least(CAST(len(${TextOps.sqlWords("text")}) AS BIGINT), $PadCap)
       |      AS len
       |  FROM documents
       |), arrival AS (
       |  SELECT len, doc_id // $PadBatch AS batch FROM lens
       |), offs AS (
       |  SELECT len, COALESCE(SUM(n) OVER (ORDER BY len
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM (SELECT len, COUNT(*) AS n FROM lens GROUP BY len)
       |), srt AS (
       |  SELECT l.len,
       |    (o.off + ROW_NUMBER() OVER (PARTITION BY l.len
       |       ORDER BY l.doc_id) - 1) // $PadBatch AS batch
       |  FROM lens l JOIN offs o ON l.len = o.len
       |)
       |${statsSql("arrival", "arrival")}
       |UNION ALL
       |${statsSql("srt", "sorted")}
       |ORDER BY policy""".stripMargin
  }

  // ------------------------------------------- end-to-end corpus export
  /** The whole training-data export as ONE composed plan: cleaned
    * survivors ([[CorpusClean.cleanCached]]: quality gate + exact dedup +
    * near-dup victim removal) → token-budget selection (best-quality
    * prefix under [[PipelineBudget]], the [[budgetSelect]] distributed
    * prefix-sum discipline) → deterministic shard/position assignment
    * ([[shard]]'s salted-hash shuffle). This is the query a user actually
    * runs end-of-pipeline; every stage is the already-oracled library
    * operator, composed — no stage re-implements anything.
    *
    * Scale shape: the stage boundaries add NO extra passes over the
    * corpus — clean's survivor frame flows straight into the bucketed
    * running sum (map-side buckets + broadcast offsets, never a
    * single-partition global window), and only the budget-selected subset
    * (bounded by budget/avg_doc_tokens rows, NOT corpus-sized) enters the
    * shard windows. `Iterate.pin` shares the selected frame between the
    * position computation and the payload join.
    */
  val PipelineBudget = 20000L

  def corpusExport(cleaned: DataFrame,
      budget: Long = PipelineBudget): DataFrame = {
    val scored = cleaned.select(col("doc_id"),
        col("quality_score").as("score"),
        col("n_tokens").cast("long").as("n_tok"))
      .withColumn("bucket", floor(col("score") * lit(64.0)).cast("long"))
    val offsets = scored.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("offset", coalesce(
        sum(col("btok")).over(Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val selected = Iterate.pin(scored
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_tokens", col("offset") +
        sum(col("n_tok")).over(Window.partitionBy(col("bucket"))
          .orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("score"), col("n_tok"), col("cum_tokens")))
    shard(selected).join(selected, Seq("doc_id"))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tok"),
        col("score"), col("cum_tokens"))
      .orderBy(col("shard"), col("pos"))
  }

  def sqlCorpusExport: String = sqlCorpusExportFrom(CorpusClean.sqlClean)

  /** [[sqlCorpusExport]] parameterized by the cleaned-source SQL — the
    * composition point `corpus_export_dedup` uses to export only
    * canonical (near-dup-deduplicated) survivors through the SAME
    * budget/shard stages.
    */
  def sqlCorpusExportFrom(cleanedSql: String): String =
    s"""WITH cleaned AS (
       |  ${cleanedSql.linesIterator.mkString("\n  ")}
       |), sel AS (
       |  SELECT doc_id, quality_score AS score,
       |    CAST(n_tokens AS BIGINT) AS n_tok,
       |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM cleaned
       |), picked AS (
       |  SELECT * FROM sel WHERE cum_tokens <= $PipelineBudget
       |), hb AS (
       |  SELECT doc_id, score, n_tok, cum_tokens, h,
       |    CAST(CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % $NShards AS INT)
       |      AS shard,
       |    CAST(('0x' || substr(h, 9, 8)) AS BIGINT) % $ShardBuckets AS bkt
       |  FROM (
       |    SELECT *, md5('$ShardSalt:' || CAST(doc_id AS VARCHAR)) AS h
       |    FROM picked
       |  )
       |)
       |SELECT doc_id, shard,
       |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY bkt, h, doc_id) - 1
       |    AS pos,
       |  n_tok, score, cum_tokens
       |FROM hb ORDER BY shard, pos""".stripMargin

  // ------------------------------------- end-to-end capstone (round 10)
  /** The full training-data path as ONE composed plan, each stage the
    * already-oracled family operator riding its shared memo:
    *
    *   1. '''clean''' — membership in the [[CorpusClean]] survivor
    *      frame (quality gate + exact dedup + near-dup victim removal);
    *   2. '''canonical dedup''' — keep only each near-dup cluster's
    *      keep-longest representative ([[Dedup.canonicalFrom]] over the
    *      shared component memo);
    *   3. '''decontamination vs the eval split''' — drop eval docs
    *      (`doc_id % evalMod = 0`) and every train doc the minhash
    *      screen flags against them ([[Dedup.minhashDecon]] over the
    *      shared pair memo);
    *   4. '''pack''' — the [[pack]] layout over the surviving corpus in
    *      doc_id order (per-doc context-window span count);
    *   5. '''mixture''' — [[mixture]]'s per-source token shares and
    *      uniform-rebalance weights over the same survivors.
    *
    * Output: one row per surviving source — (source, n_docs, n_tokens,
    * token_share, uniform_weight, pack_spans). Each family is green in
    * isolation; this capstone is the net for INTER-family interface
    * drift (id/schema/ordering contracts), the role `q15` plays for the
    * reference-parity pipeline.
    *
    * Scale shape: the three membership stages are semi/anti joins of
    * thin id frames against memoized family artifacts (no text moves);
    * the survivor corpus is pinned ONCE and feeds both the pack prefix
    * sum (bucketed, never a global single-partition window) and the
    * mixture aggregate; everything after the two hash aggregates runs
    * on |sources| rows.
    */
  /** The capstone's survivor-id frame (stages 1–3) before the corpus
    * pin — exposed so `Round10Spec` can pin its plan (each family memo
    * scanned exactly once; no heavy family expression recomputed). */
  private[graft] def corpusE2eKeep(cleaned: DataFrame,
      canonical: DataFrame, decon: DataFrame,
      evalMod: Int = EvalMod): DataFrame =
    cleaned.select(col("doc_id"))
      .join(canonical.filter(col("kept")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % evalMod =!= 0)
      .join(decon.select(col("train_id").as("doc_id")),
        Seq("doc_id"), "left_anti")

  def corpusE2e(docs: DataFrame, cleaned: DataFrame, canonical: DataFrame,
      decon: DataFrame, evalMod: Int = EvalMod): DataFrame = {
    val keep = corpusE2eKeep(cleaned, canonical, decon, evalMod)
    val corpus = Iterate.pin(docs.join(keep, Seq("doc_id"), "left_semi"))
    val spans = pack(corpus)
      .join(corpus.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source")).agg(sum(col("n_packs")).as("pack_spans"))
    mixture(corpus)
      .join(spans, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"), col("uniform_weight"), col("pack_spans"))
      .orderBy(col("source"))
  }

  def sqlCorpusE2e(evalMod: Int = EvalMod): String = {
    def sub(sql: String) = sql.linesIterator.mkString("\n    ")
    s"""WITH keep AS (
       |  SELECT c.doc_id FROM (
       |    ${sub(CorpusClean.sqlClean)}
       |  ) c
       |  WHERE c.doc_id IN (SELECT doc_id FROM (
       |    ${sub(Dedup.sqlCanonical)}
       |  ) WHERE kept)
       |  AND c.doc_id % $evalMod <> 0
       |  AND c.doc_id NOT IN (SELECT train_id FROM (
       |    ${sub(Dedup.sqlMinhashDecon(evalMod))}
       |  ))
       |), corpus AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(${sqlWords("d.text")}) AS BIGINT) AS n_tokens
       |  FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM keep)
       |), cum AS (
       |  SELECT source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens AS BIGINT) AS tok_offset
       |  FROM corpus
       |), pk AS (
       |  SELECT source, n_tokens,
       |    (tok_offset + n_tokens - 1) // $CtxLen
       |      - tok_offset // $CtxLen + 1 AS n_packs
       |  FROM cum
       |), per AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_packs) AS BIGINT) AS pack_spans
       |  FROM pk GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
       |    AS token_share,
       |  CAST(SUM(n_tokens) OVER () AS DOUBLE)
       |    / CAST(COUNT(*) OVER () * n_tokens AS DOUBLE) AS uniform_weight,
       |  pack_spans
       |FROM per ORDER BY source""".stripMargin
  }
}
