package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps.{sqlTokenHash, sqlWords, tokenHash, words}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash (signatures + pigeonhole pair detection), n-gram Jaccard, and
  * duplicate-cluster assembly via connected components. Embedding-cosine
  * near-dup lives in [[Similarity]]; the incremental/streaming admission
  * path in [[graft.streaming.Streams]].
  *
  * Scale design (100 TB): every variant reduces to hash-partitioned
  * groupBy/join on a SMALL derived key (md5 of content, band signature,
  * blocking bucket) — never a pairwise all-to-all. Candidate generation is
  * per-bucket; only candidates pay the verification cost. Signatures are
  * pure `Column` expressions computed map-side at scan speed.
  */
object Dedup {

  // -------------------------------------------------------------- exact
  /** Exact dedup by content hash: one hash-aggregate, shuffle key is the
    * 32-hex md5, not the document body (at 100 TB the shuffle moves ~48
    * bytes/doc, not the text).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  def sqlExact: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin

  // ------------------------------------------------------------- shingles
  /** Hashed word k-shingles: each WORD is hashed once (32-bit md5 reduced
    * mod P), then the k-gram hash is the base-31 polynomial combination of
    * the k word hashes — the same formulation [[TextOps.winnow]] uses. No
    * per-shingle string is ever materialized: vs md5-per-shingle-string this
    * cuts the hash count k-fold and eliminates all concat garbage, which is
    * the dominant cost of shingling at corpus scale.
    *
    * Built as an index transform over a MATERIALIZED word-hash column (see
    * [[shingleHashes]] for the formulation and the one hazard that shape
    * carries: `element_at` over a DERIVED array expression — not a plain
    * attribute — re-evaluates the producing expression per element,
    * O(words²) per document; callers therefore materialize `wh` with its
    * own select first).
    *
    * All values stay < P = 2^31-1, so intermediates (< 2^36) never overflow
    * a 64-bit long and both engines agree exactly.
    */
  val ShingleBase = 31L

  /** Per-word 32-bit hashes mod P; input to [[shingleHashes]]. */
  def wordHashes(w: Column): Column =
    transform(w, x => tokenHash(x) % lit(MinhashP))
  def sqlWordHashes(text: String): String =
    s"list_transform(${sqlWords(text)}, w -> ${sqlTokenHash("w")} % $MinhashP)"

  /** `wh` must be a materialized word-hash column (see [[wordHashes]]).
    * Callers filter `size(w) >= k` first — shorter docs would produce NULL
    * shingle hashes (element_at past the end).
    *
    * Index-transform formulation, NOT a zip_with/slice chain: one output
    * array built by k element_at reads + (k-1) fused mul-adds per window.
    * The chain form materializes k-1 intermediate arrays per document per
    * evaluation — harmless at k=3, but at k=12 ([[SubstrK]]) it allocated
    * 11 arrays per doc and measured ~10× slower on the substring-window
    * scan. This is also exactly the shape of the SQL mirror
    * ([[sqlShingleHashes]]), so both engines stay definitionally in sync.
    *
    * The one constraint the index form carries: `wh` MUST be a plain
    * attribute. `element_at` over a DERIVED array (a HOF chain inlined
    * here) re-evaluates the producing expression per element — O(n²) per
    * document, the hazard [[TrainingData.repetition]]'s scaladoc cites.
    */
  def shingleHashes(wh: Column, k: Int): Column =
    // try_element_at, not element_at: under Spark 4's default ANSI mode a
    // past-the-end read THROWS — try_ keeps the documented contract that
    // a doc shorter than k words yields NULL hashes instead of failing
    // the whole query for callers that skip the size filter
    transform(sequence(lit(1), greatest(size(wh) - (k - 1), lit(1))), i =>
      (1 until k).foldLeft(try_element_at(wh, i)) { (acc, o) =>
        (acc * lit(ShingleBase) + try_element_at(wh, i + lit(o))) %
          lit(MinhashP)
      })

  def sqlShingleHashes(wh: String, k: Int): String = {
    val poly = (1 until k).foldLeft(s"$wh[i]") { (acc, o) =>
      s"($acc * $ShingleBase + $wh[i+$o]) % $MinhashP"
    }
    s"list_transform(range(1, greatest(len($wh) - ${k - 1}, 1) + 1), i -> $poly)"
  }

  // --------------------------------------------------------- MinHash + LSH
  /** MinHash (Broder, "On the resemblance and containment of documents",
    * 1997) via a universal hash family over ONE base hash per shingle:
    * base = 32-bit md5-derived hash, reduced mod P; signature component j is
    * min over shingles of (base·A_j + B_j) mod P. One md5 per shingle total
    * (not one per shingle per hash function) — the k-way fan-out is two
    * integer ops. All operands < 2^31 so the 64-bit products never overflow
    * and both engines agree exactly.
    */
  val MinhashP = 2147483647L // 2^31 - 1, prime
  private def hashA(j: Int): Long = 1000003L * (j + 1) + 12345L
  private def hashB(j: Int): Long = 7919L * (j + 1) + 104729L

  /** `hs` must be a materialized column of base hashes (mod P). */
  def minhashSig(hs: Column, j: Int): Column =
    array_min(transform(hs, h =>
      (h * lit(hashA(j)) + lit(hashB(j))) % lit(MinhashP)))
  def sqlMinhashSig(hs: String, j: Int): String =
    s"list_min(list_transform($hs, h -> (h * ${hashA(j)} + ${hashB(j)}) % $MinhashP))"

  val MinhashK = 8      // signature length
  val BandSize = 2      // rows per band → 4 bands
  val ShingleK = 3      // words per shingle

  /** LSH candidate pairs: docs sharing any band of their MinHash signature.
    * Plan shape: map-side signature → explode to (band_idx, band_key) →
    * hash-partitioned self-join on the band key → distinct pairs. Join input
    * is |docs|·bands tiny rows; candidates only where signatures collide.
    */
  /** LSH band frame: (doc_id, band_idx, band_key) — the persistable
    * signature state of a corpus (the streaming dedup keeps exactly this
    * as its durable table).
    */
  /** The EXPENSIVE shared stage of every signature derivation — one md5
    * per token ([[wordHashes]]) plus the k-gram polynomial
    * ([[shingleHashes]]) — as a (doc_id, hs) frame over docs with at
    * least [[ShingleK]] words. [[minhashBands]] and [[shingleSets]] are
    * cheap array projections of this frame; the streaming paths pin it
    * ONCE per micro-batch so the md5 chain never runs twice over the
    * same batch (the dedup admission needs bands, the decon verify needs
    * sets — previously each re-hashed the text).
    *
    * Docs shorter than ShingleK words have no complete shingle: their
    * signature components would be NULL, and Spark's concat_ws would fold
    * every such doc into one hot "" band bucket (all-pairs candidates)
    * while the oracle's NULL key never joins. Exclude them up front —
    * identically on both engines.
    */
  def shingleHashFrame(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), words(col("text")).as("w"))
    .filter(size(col("w")) >= ShingleK)
    .select(col("doc_id"), wordHashes(col("w")).as("wh"))
    .select(col("doc_id"), shingleHashes(col("wh"), ShingleK).as("hs"))

  /** (doc_id, band_idx, band_key) from a [[shingleHashFrame]] — the
    * minhash signatures and band fold are a handful of integer array
    * ops per doc, cheap enough to re-derive from a pinned hash frame. */
  def bandsFromHashes(hashed: DataFrame): DataFrame = {
    // materialize words → shingles → base hashes → signatures stage by
    // stage: each is evaluated once per row (see shingles() scaladoc)
    val sigCols = (0 until MinhashK).map(j =>
      minhashSig(col("hs"), j).as(s"sig$j"))
    val sigs = hashed.select(col("doc_id") +: sigCols: _*)
    val bands = (0 until MinhashK / BandSize).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("|", (b * BandSize until (b + 1) * BandSize)
          .map(j => col(s"sig$j").cast("string")): _*).as("band_key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
  }

  def minhashBands(docs: DataFrame): DataFrame =
    bandsFromHashes(shingleHashFrame(docs))

  /** (doc_id, sh) sorted distinct shingle sets from a
    * [[shingleHashFrame]] — the exact-verify side of the decon screens. */
  def setsFromHashes(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"),
      array_sort(array_distinct(col("hs"))).as("sh"))

  def minhashPairs(docs: DataFrame): DataFrame = {
    // Bucketize then pair-expand WITHIN buckets: signatures are computed
    // once (a self-join would recompute the whole signature subtree per
    // side — no exchange reuse), and the shuffle moves only
    // (band_key, doc_id) pairs. Bucket pair expansion is quadratic per
    // bucket — exactly the LSH contract — and runs through the LAZY
    // [[graft.functions.PairExpand]] generator, so a hot bucket costs
    // O(n) memory, never an O(n²) materialized pair array.
    bandCollisionPairs(minhashBands(docs))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Expand a precomputed (doc_id, band_idx, band_key) frame into the
    * (doc_a < doc_b) pairs colliding in at least one band — the shared
    * bands→pairs step of [[minhashPairs]] and the streaming
    * [[graft.streaming.Streams.dedupBatch]] (which reuses its own bands
    * frame across the state probe and this expansion). One definition so
    * the batch and streaming victim policies can never diverge. Output is
    * NOT deduplicated: callers that need unique pairs apply `.distinct()`.
    */
  def bandCollisionPairs(bands: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(bands.sparkSession)
    bands
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(graft.functions.VectorExprs.pairExpand(col("ids"))
        .as(Seq("doc_a", "doc_b")))
  }

  /** The WITH-body producing the (doc_id, band_idx, band_key) `bands` CTE —
    * the SQL twin of [[minhashBands]], shared by [[sqlMinhashPairs]] and
    * [[sqlBandProfile]] so the two oracles can never disagree on the
    * signature pipeline.
    */
  /** The wordhash → shingle → minhash-sig → band-row CTE chain over
    * `$table (doc_id, text)`; `p` prefixes every CTE name so two chains
    * (e.g. a train side and an eval side) can coexist in one WITH. */
  def sqlBandsCtes(table: String = "documents", p: String = ""): String = {
    val sigDefs = (0 until MinhashK).map(j =>
      s"${sqlMinhashSig("hs", j)} AS sig$j").mkString(",\n    ")
    val bandRows = (0 until MinhashK / BandSize).map { b =>
      val key = (b * BandSize until (b + 1) * BandSize)
        .map(j => s"CAST(sig$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM ${p}sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""${p}wordhashed AS (
       |  SELECT doc_id, ${sqlWordHashes("text")} AS wh FROM $table
       |  WHERE len(${sqlWords("text")}) >= $ShingleK
       |), ${p}hashed AS (
       |  SELECT doc_id, ${sqlShingleHashes("wh", ShingleK)} AS hs
       |  FROM ${p}wordhashed
       |), ${p}sigs AS (
       |  SELECT doc_id,
       |    $sigDefs
       |  FROM ${p}hashed
       |), ${p}bands AS (
       |  $bandRows
       |)""".stripMargin
  }

  /** @param table the (doc_id, text) relation to pair — a CTE name works
    *               (the oracle composers pass their survivors CTE)
    */
  def sqlMinhashPairs(table: String = "documents"): String =
    s"""WITH ${sqlBandsCtes(table)}
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       | AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------- LSH band profile
  /** LSH tuning observability: the per-band bucket-size profile that fixes
    * candidate volume BEFORE anyone pays for the pair expansion. For each
    * band index: bucket count, docs, colliding buckets, the hottest bucket,
    * and the exact candidate-pair count sum n·(n-1)/2 — the numbers an
    * operator reads to retune bands/rows (the Broder 1997 s-curve knobs)
    * when a 100 TB corpus turns out hotter than expected. Scale shape: one
    * hash agg onto (band_idx, band_key) — partial map-side combine — then a
    * |bands|-row (here 4-row) final agg; the corpus text never moves, only
    * band keys do, and nothing pair-expands.
    */
  def bandProfile(bands: DataFrame): DataFrame =
    bands
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("band_idx"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_docs"),
        sum(when(col("n") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_colliding_buckets"),
        max(col("n")).as("max_bucket"),
        sum(expr("(n * (n - 1)) DIV 2")).as("candidate_pairs"))
      .orderBy(col("band_idx"))

  def sqlBandProfile(table: String = "documents"): String =
    s"""WITH ${sqlBandsCtes(table)},
       |bs AS (
       |  SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM bands GROUP BY band_idx, band_key
       |)
       |SELECT band_idx,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(n) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_colliding_buckets,
       |  CAST(MAX(n) AS BIGINT) AS max_bucket,
       |  CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS candidate_pairs
       |FROM bs GROUP BY band_idx ORDER BY band_idx""".stripMargin

  // ---------------------------------------------- cluster language purity
  /** Language purity of near-dup clusters: the histogram of
    * languages-per-cluster. A cluster spanning languages is usually a
    * template/boilerplate family rather than a translation set — this is
    * the audit that decides whether dedup should run language-scoped
    * (CCNet-style, per-language shards) or corpus-wide, BEFORE committing
    * to a sharding scheme at 100 TB. Consumes the SAME pinned component
    * labels as every other cluster-policy operator.
    *
    * Scale shape: one doc-keyed hash join of the label frame against the
    * thin (doc_id, lang) projection, a two-level aggregate onto
    * (component, lang) then component, and a ≤|langs|-row histogram.
    */
  def clusterPurity(comp: DataFrame, docs: DataFrame): DataFrame =
    comp.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("component"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_langs"), sum(col("n")).cast("long").as("nd"))
      .groupBy(col("n_langs"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("nd")).cast("long").as("n_docs"))
      .orderBy(col("n_langs"))

  def sqlClusterPurity(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (
       |  ${pairsSql.linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes,
       |pc AS (
       |  SELECT component, d.lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM comp JOIN documents d ON comp.doc_id = d.doc_id
       |  GROUP BY component, d.lang
       |), cl AS (
       |  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_langs,
       |    CAST(SUM(n) AS BIGINT) AS nd
       |  FROM pc GROUP BY component
       |)
       |SELECT n_langs, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(nd) AS BIGINT) AS n_docs
       |FROM cl GROUP BY n_langs ORDER BY n_langs""".stripMargin

  // ------------------------------------------- source-level Jaccard audit
  /** Source-pair word-set resemblance, exact AND MinHash-estimated in one
    * result — the "is our MinHash family trustworthy on THIS corpus"
    * audit, run at source granularity where the exact answer is still
    * affordable. For every source pair with any overlap: the exact
    * intersection / union of their word sets, plus `mh_agree` = how many
    * of the [[MinhashK]] signature components coincide (E[mh_agree/K] =
    * Jaccard, Broder 1997 §2 — same universal hash family as the doc-level
    * [[minhashBands]]).
    *
    * Scale shape: the only corpus-scale stage is one (source, word) hash
    * exchange; after that everything is |sources|×|vocab| bounded or
    * smaller. Both pair expansions go through the lazy [[graft.functions
    * .VectorExprs.pairExpand]] on per-word / per-signature-value source
    * lists — buckets are |sources|-sized (a catalog of crawls, hundreds),
    * never document-sized, so no cap is needed; nothing is all-pairs over
    * docs. Signature minima fold map-side (K integer ops per word). Pairs
    * sharing neither a word nor a signature value (exact AND estimated
    * Jaccard both 0) are absent from the result by construction.
    */
  def sourceJaccard(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val pe = graft.functions.VectorExprs
    // three consumers (type counts, exact intersections, signatures)
    // derive from the distinct (source, word) frame — pin it once, same
    // rationale as TextOps.sourceTvd
    val sw = Iterate.pin(docs
      .select(col("source"), explode(TextOps.words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
    val types = sw.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    val inter = sw
      .groupBy(col("w")).agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(pe.pairExpand(col("ss")).as(Seq("src_a", "src_b")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter_words"))
    val sigCols = (0 until MinhashK).map(j =>
      min((col("h") * lit(hashA(j)) + lit(hashB(j))) % lit(MinhashP))
        .as(s"sig$j"))
    val sigs = sw
      .select(col("source"), (TextOps.tokenHash(col("w")) % lit(MinhashP)).as("h"))
      .groupBy(col("source")).agg(sigCols.head, sigCols.tail: _*)
    val agree = sigs
      .select(col("source"), explode(array((0 until MinhashK).map(j =>
        struct(lit(j).as("j"), col(s"sig$j").as("v"))): _*)).as("s"))
      .select(col("source"), col("s.j").as("j"), col("s.v").as("v"))
      .groupBy(col("j"), col("v"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(pe.pairExpand(col("ss")).as(Seq("src_a", "src_b")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("mh_agree"))
    inter.join(agree, Seq("src_a", "src_b"), "full_outer")
      .join(types.select(col("source").as("src_a"),
        col("n_types").as("ta")), Seq("src_a"))
      .join(types.select(col("source").as("src_b"),
        col("n_types").as("tb")), Seq("src_b"))
      .select(
        col("src_a"), col("src_b"),
        coalesce(col("inter_words"), lit(0L)).as("inter_words"),
        (col("ta") + col("tb") - coalesce(col("inter_words"), lit(0L)))
          .as("union_words"),
        coalesce(col("mh_agree"), lit(0L)).as("mh_agree"))
      .orderBy(col("src_a"), col("src_b"))
  }

  def sqlSourceJaccard: String =
    s"""WITH sw AS (
       |  SELECT DISTINCT source, w FROM (
       |    SELECT source, unnest(${TextOps.sqlWords("text")}) AS w
       |    FROM documents
       |  ) WHERE w <> ''
       |), ty AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
       |  FROM sw GROUP BY source
       |), iw AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter_words
       |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2
       |), sig AS (
       |  SELECT source, j,
       |    MIN((h * (1000003 * (j + 1) + 12345)
       |         + (7919 * (j + 1) + 104729)) % $MinhashP) AS v
       |  FROM (
       |    SELECT source, ${TextOps.sqlTokenHash("w")} % $MinhashP AS h
       |    FROM sw
       |  ), (SELECT unnest(range($MinhashK)) AS j)
       |  GROUP BY source, j
       |), ag AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS mh_agree
       |  FROM sig a JOIN sig b
       |    ON a.j = b.j AND a.v = b.v AND a.source < b.source
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT COALESCE(iw.src_a, ag.src_a) AS src_a,
       |    COALESCE(iw.src_b, ag.src_b) AS src_b,
       |    COALESCE(iw.inter_words, 0) AS inter_words,
       |    COALESCE(ag.mh_agree, 0) AS mh_agree
       |  FROM iw FULL JOIN ag
       |    ON iw.src_a = ag.src_a AND iw.src_b = ag.src_b
       |)
       |SELECT src_a, src_b, inter_words,
       |  CAST(ta.n_types + tb.n_types - inter_words AS BIGINT)
       |    AS union_words,
       |  mh_agree
       |FROM pairs
       |JOIN ty ta ON ta.source = src_a
       |JOIN ty tb ON tb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------- LSH calibration
  /** Empirical LSH calibration: the EXACT shingle-Jaccard distribution of
    * the candidate pairs the bands produced, bucketed by tenths — the
    * measured side of the Broder s-curve ([[bandProfile]] prices the
    * candidate VOLUME; this reports their QUALITY). A mass of
    * low-similarity candidates ⇒ too few rows per band (precision knob);
    * production reads this before retuning bands/rows on the real corpus.
    *
    * Scale shape: the pair frame is already LSH-bounded; each side joins
    * the per-doc sorted shingle sets (`sets`, the [[shingleSets]] frame)
    * once (doc-keyed hash joins), the intersection is the codegen'd
    * linear merge walk, and the histogram is one ≤10-group aggregate.
    * Nothing is all-pairs.
    */
  def bandCalibration(pairs: DataFrame, sets: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(pairs.sparkSession)
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        Seq("doc_b"))
      .select(
        graft.functions.VectorExprs
          .intersectCountSorted(col("sha"), col("shb")).cast("double")
          .as("i"),
        (size(col("sha")) + size(col("shb"))).cast("double").as("ab"))
      .select((col("i") / (col("ab") - col("i"))).as("jaccard"))
      .select(
        least(expr("CAST(floor(jaccard * 10) AS BIGINT)"), lit(9L))
          .as("bucket"),
        col("jaccard"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("j_min"), max(col("jaccard")).as("j_max"))
      .orderBy(col("bucket"))
  }

  def sqlBandCalibration(pairsSql: String): String =
    s"""WITH wordhashed AS (
       |  SELECT doc_id, ${sqlWordHashes("text")} AS wh FROM documents
       |  WHERE len(${sqlWords("text")}) >= $ShingleK
       |), sets AS (
       |  SELECT doc_id,
       |    list_distinct(${sqlShingleHashes("wh", ShingleK)}) AS sh
       |  FROM wordhashed
       |), prs AS (
       |  ${pairsSql.linesIterator.mkString("\n  ")}
       |), jr AS (
       |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
       |    CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS ab
       |  FROM prs JOIN sets a ON prs.doc_a = a.doc_id
       |           JOIN sets b ON prs.doc_b = b.doc_id
       |), jb AS (
       |  SELECT least(CAST(floor((i / (ab - i)) * 10) AS BIGINT),
       |               CAST(9 AS BIGINT)) AS bucket,
       |    i / (ab - i) AS jaccard
       |  FROM jr
       |)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MIN(jaccard) AS j_min, MAX(jaccard) AS j_max
       |FROM jb GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------- dedup threshold sweep
  /** Dedup-rate-vs-threshold curve: for each candidate Jaccard cutoff,
    * how many LSH candidate pairs would be declared duplicates — the
    * sensitivity table an operator reads BEFORE fixing the near-dup
    * threshold (one step tighter than [[bandCalibration]]'s histogram:
    * this is the cumulative view the decision actually uses, with the
    * corpus-wide dedup share it implies). Thresholds are a fixed 5-row
    * broadcast dimension; the exact-Jaccard pair frame is computed once
    * (LSH-bounded) and one conditional aggregate produces the whole
    * curve. The share divides exact BIGINTs.
    */
  val SweepThresholds: Seq[Int] = Seq(50, 60, 70, 80, 90) // percent

  def thresholdSweep(pairs: DataFrame, sets: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(pairs.sparkSession)
    val jr = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        Seq("doc_b"))
      .select(
        graft.functions.VectorExprs
          .intersectCountSorted(col("sha"), col("shb")).cast("double")
          .as("i"),
        (size(col("sha")) + size(col("shb"))).cast("double").as("ab"))
      .select((col("i") / (col("ab") - col("i"))).as("j"))
    val ts = pairs.sparkSession.range(1)
      .select(explode(array(SweepThresholds.map(t => lit(t.toLong)): _*))
        .as("t_pct"))
    val total = jr.agg(count(lit(1)).as("n_candidates"))
    jr.crossJoin(broadcast(ts))
      .groupBy(col("t_pct"))
      .agg(sum(when(col("j") * 100.0 >= col("t_pct").cast("double"), 1L)
        .otherwise(0L)).as("n_pairs_ge"))
      .crossJoin(broadcast(total))
      .select(col("t_pct"), col("n_pairs_ge"), col("n_candidates"),
        (col("n_pairs_ge").cast("double") /
          col("n_candidates").cast("double")).as("share"))
      .orderBy(col("t_pct"))
  }

  def sqlThresholdSweep: String = {
    val tRows = SweepThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH ${sqlBandsCtes()},
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(hs) AS sh FROM hashed
       |), jr AS (
       |  SELECT CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)
       |    / (CAST(len(xa.sh) + len(xb.sh) AS DOUBLE)
       |       - CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)) AS j
       |  FROM prs p
       |  JOIN sets xa ON p.doc_a = xa.doc_id
       |  JOIN sets xb ON p.doc_b = xb.doc_id
       |), ts AS (
       |  SELECT CAST(t_pct AS BIGINT) AS t_pct FROM (VALUES $tRows) v(t_pct)
       |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM jr)
       |SELECT t_pct,
       |  CAST(SUM(CASE WHEN j * 100 >= CAST(t_pct AS DOUBLE) THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_pairs_ge,
       |  tot.n_candidates,
       |  CAST(SUM(CASE WHEN j * 100 >= CAST(t_pct AS DOUBLE) THEN 1
       |    ELSE 0 END) AS DOUBLE) / CAST(tot.n_candidates AS DOUBLE)
       |    AS share
       |FROM jr, ts, tot
       |GROUP BY t_pct, tot.n_candidates
       |ORDER BY t_pct""".stripMargin
  }

  // --------------------------------------------- LSH s-curve planning
  /** Analytic s-curve re-scoring of alternative (bands × rows) splits of
    * the SAME [[MinhashK]]-component signature budget (Broder 1997 /
    * Leskovec-Rajaraman-Ullman ch. 3): for every candidate pair with
    * measured exact Jaccard j, the detection probability
    * P = 1 − (1 − jʳ)ᵇ under each split, summed into the expected
    * true-dup recall per configuration — the table that says whether
    * re-banding (no new signatures, just a re-bucketing pass) would
    * catch more of the near-dups the corpus actually contains.
    * Measured over the CURRENT config's candidate population (the only
    * pairs with known exact j without going all-pairs) — a relative
    * re-scoring, stated as such.
    *
    * Determinism: jʳ and (1−x)ᵇ are EXPLICIT repeated multiplications
    * (never `pow` — engines' pow need not be correctly rounded), so both
    * engines run the identical IEEE sequence; the per-config sums go
    * through the exact-decimal detour.
    */
  val ScurveConfigs: Seq[(Int, Int)] = Seq((8, 1), (4, 2), (2, 4), (1, 8))
  val ScurveTrueJ = 0.8

  private def powExplicit(x: Column, n: Int): Column =
    Seq.fill(n)(x).reduce(_ * _)
  private def sqlPowExplicit(x: String, n: Int): String =
    Seq.fill(n)(s"($x)").mkString(" * ")

  def scurve(pairs: DataFrame, sets: DataFrame): DataFrame = {
    import graft.functions.Exact
    graft.functions.VectorExprs.register(pairs.sparkSession)
    val jr = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        Seq("doc_b"))
      .select(
        graft.functions.VectorExprs
          .intersectCountSorted(col("sha"), col("shb")).cast("double")
          .as("i"),
        (size(col("sha")) + size(col("shb"))).cast("double").as("ab"))
      .select((col("i") / (col("ab") - col("i"))).as("j"))
      .filter(col("j") >= lit(ScurveTrueJ))
    val aggCols = count(lit(1)).as("n_true") +:
      ScurveConfigs.map { case (b, r) =>
        Exact.xsum(lit(1.0) - powExplicit(
          lit(1.0) - powExplicit(col("j"), r), b), 6).as(s"s_${b}_$r")
      }
    val sums = jr.agg(aggCols.head, aggCols.tail: _*)
    val rows = ScurveConfigs.map { case (b, r) =>
      struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        col(s"s_${b}_$r").as("exp_detected"))
    }
    sums.select(col("n_true"), explode(array(rows: _*)).as("cfg"))
      .select(col("cfg.bands").as("bands"),
        col("cfg.rows_per_band").as("rows_per_band"), col("n_true"),
        col("cfg.exp_detected").as("exp_detected"),
        (col("cfg.exp_detected") / col("n_true").cast("double"))
          .as("exp_recall"))
      .orderBy(col("bands"))
  }

  def sqlScurve: String = {
    val cfgSums = ScurveConfigs.map { case (b, r) =>
      val jr = sqlPowExplicit("j", r)
      val inner = s"(CAST(1 AS DOUBLE) - ($jr))"
      graft.functions.Exact.sqlSum(
        s"CAST(1 AS DOUBLE) - (${sqlPowExplicit(inner, b)})", 6) +
        s" AS s_${b}_$r"
    }.mkString(",\n    ")
    val rows = ScurveConfigs.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |    CAST($r AS BIGINT) AS rows_per_band, n_true,
         |    s_${b}_$r AS exp_detected,
         |    s_${b}_$r / CAST(n_true AS DOUBLE) AS exp_recall
         |  FROM sums""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${sqlBandsCtes()},
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(hs) AS sh FROM hashed
       |), jr AS (
       |  SELECT j FROM (
       |    SELECT CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)
       |      / (CAST(len(xa.sh) + len(xb.sh) AS DOUBLE)
       |         - CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)) AS j
       |    FROM prs p
       |    JOIN sets xa ON p.doc_a = xa.doc_id
       |    JOIN sets xb ON p.doc_b = xb.doc_id
       |  ) WHERE j >= $ScurveTrueJ
       |), sums AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       |    $cfgSums
       |  FROM jr
       |)
       |SELECT bands, rows_per_band, n_true, exp_detected, exp_recall
       |FROM (
       |  $rows
       |) ORDER BY bands""".stripMargin
  }

  // --------------------------------------------- MinHash estimator error
  /** MinHash estimator calibration: for every LSH candidate pair, the
    * SIGNATURE-based similarity estimate (agreeing components / k — the
    * unbiased Jaccard estimator of Broder 1997 §3) next to the EXACT
    * shingle Jaccard, and their gap. [[bandCalibration]] histograms what
    * the bands caught; this prices the estimator itself — how far a
    * k=[[MinhashK]] signature's estimate strays pair by pair, the number
    * that justifies (or indicts) using sig-agreement as the dedup
    * verdict without touching the shingle sets. Var ≈ J(1−J)/k, so at
    * k=8 a ±0.17 σ-band is expected — measured here, not assumed.
    *
    * Scale shape: the pair frame is LSH-bounded; each side hash-joins
    * the per-doc (sorted shingle set, signature tuple) ONCE — signatures
    * and sets come out of the same scan, the intersection is the
    * codegen'd sorted merge, and the agreement count is a fixed 8-term
    * integer expression. Nothing is all-pairs, nothing re-reads text.
    */
  def minhashError(pairs: DataFrame, docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val enriched = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= ShingleK)
      .select(col("doc_id"), wordHashes(col("w")).as("wh"))
      .select(col("doc_id"), shingleHashes(col("wh"), ShingleK).as("hs"))
      .select(col("doc_id") +:
        array_sort(array_distinct(col("hs"))).as("sh") +:
        (0 until MinhashK).map(j => minhashSig(col("hs"), j).as(s"s$j")): _*)
    def side(suffix: String): DataFrame =
      enriched.select(col("doc_id").as(s"doc_$suffix") +:
        col("sh").as(s"sh$suffix") +:
        (0 until MinhashK).map(j =>
          col(s"s$j").as(s"s${suffix}$j")): _*)
    val agree = (0 until MinhashK)
      .map(j => (col(s"sa$j") === col(s"sb$j")).cast("long"))
      .reduce(_ + _)
    pairs
      .join(side("a"), Seq("doc_a"))
      .join(side("b"), Seq("doc_b"))
      .withColumn("n_agree", agree)
      .withColumn("i", graft.functions.VectorExprs
        .intersectCountSorted(col("sha"), col("shb")).cast("double"))
      .withColumn("ab", (size(col("sha")) + size(col("shb")))
        .cast("double"))
      .withColumn("est",
        col("n_agree").cast("double") / lit(MinhashK.toDouble))
      .withColumn("jaccard", col("i") / (col("ab") - col("i")))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est"),
        col("jaccard"), (col("est") - col("jaccard")).as("err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def sqlMinhashError: String = {
    val agree = (0 until MinhashK)
      .map(j => s"CASE WHEN sa.sig$j = sb.sig$j THEN 1 ELSE 0 END")
      .mkString("\n      + ")
    s"""WITH ${sqlBandsCtes()},
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(hs) AS sh FROM hashed
       |), scored AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST($agree AS BIGINT) AS n_agree,
       |    CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE) AS i,
       |    CAST(len(xa.sh) + len(xb.sh) AS DOUBLE) AS ab
       |  FROM prs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id
       |  JOIN sets xa ON p.doc_a = xa.doc_id
       |  JOIN sets xb ON p.doc_b = xb.doc_id
       |)
       |SELECT doc_a, doc_b, n_agree,
       |  CAST(n_agree AS DOUBLE) / CAST($MinhashK AS DOUBLE) AS est,
       |  i / (ab - i) AS jaccard,
       |  CAST(n_agree AS DOUBLE) / CAST($MinhashK AS DOUBLE)
       |    - i / (ab - i) AS err
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------- label propagation
  /** k-round synchronous label propagation (Raghavan, Albert & Kumara,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks", Phys. Rev. E 2007) over the near-dup pair
    * graph: each round every node adopts its neighbors' most frequent
    * label (ties → smallest label); isolated docs keep their own. Where
    * [[connectedComponents]] computes the transitive closure, LPA finds
    * the DENSER sub-communities inside it — every community is a subset
    * of one component (property-tested), so the pair (components,
    * communities) separates "reachable at all" from "tightly clustered".
    *
    * FIXED k rounds by design, not run-to-convergence: synchronous LPA
    * can oscillate on bipartite-ish structures, and a fixed unroll is
    * exactly mirrorable in the oracle's CTE chain. Per round: ONE
    * edges⋈labels hash join + ONE (dst, label) count aggregate + ONE
    * per-dst argmax — the [[Graph.pagerankCached]] round shape with an argmax
    * in place of the mass sum; the same `Iterate.pin` every-third-round
    * lineage discipline applies for deep k.
    */
  val LpIters = 2

  def labelPropagation(pairs: DataFrame, docs: DataFrame,
      iters: Int = LpIters): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(Iterate.pin)
    var labels = docs.select(col("doc_id").as("id"))
      .withColumn("label", col("id"))
    for (i <- 1 to iters) {
      val counts = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, label asc): max over (cnt, -label) structs —
      // lexicographic struct comparison is identical in both engines
      val best = counts.groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (lit(0L) - col("label")).as("nl")))
          .as("b"))
        .select(col("dst"), (lit(0L) - col("b.nl")).as("new_label"))
      labels = labels.join(best, labels("id") === best("dst"), "left")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
      if (i % 3 == 0 && i < iters) labels = Iterate.pin(labels)
    }
    labels.select(col("id").as("doc_id"), col("label").as("community"))
      .orderBy(col("doc_id"))
  }

  /** The unrolled LPA rounds, parameterized on the edge CTE name so the
    * agreement oracle (which also carries the components CTEs, whose
    * `edges` uses UNION dedup rather than LPA's UNION ALL) can reuse
    * them verbatim. */
  private def lpaRoundCtes(iters: Int, edges: String = "edges"): String =
    (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM $edges e JOIN l${k - 1} l ON e.src = l.id
         |  GROUP BY e.dst, l.label
         |), b$k AS (
         |  SELECT dst,
         |    -((max(struct_pack(c := cnt, nl := -label))).nl) AS new_label
         |  FROM c$k GROUP BY dst
         |), l$k AS (
         |  SELECT l.id, COALESCE(b.new_label, l.label) AS label
         |  FROM l${k - 1} l LEFT JOIN b$k b ON l.id = b.dst
         |)""".stripMargin
    }.mkString(",\n")

  def sqlLabelPropagation(pairsSql: String, iters: Int = LpIters): String = {
    val rounds = lpaRoundCtes(iters)
    s"""WITH pairs AS (
       |  ${pairsSql.linesIterator.mkString("\n  ")}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |), l0 AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |),
       |$rounds
       |SELECT id AS doc_id, label AS community FROM l$iters
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- modularity
  /** Newman–Girvan modularity of a community assignment over the
    * near-dup pair graph: Q = Σ_c [e_c/m − (a_c/2m)²] — the score that
    * says whether [[labelPropagation]]'s communities are denser than
    * chance, i.e. whether cluster-level dedup policies (canonical pick,
    * soft weights) act on real structure. Computed as the single exact
    * fraction [4m·Σe_c − Σa_c²] / (4m²): the numerator is an INTEGER
    * (sums of edge counts and squared endpoint counts), so the only
    * floating op is the final division — a Σ of per-community double
    * terms would be partition-order-dependent. (Long-safe to ~10⁹ edges;
    * past that the numerator moments ride DECIMAL.) An edgeless pair
    * graph (m = 0) has no modularity: NULL, as the oracle's 0.0 / 0.0
    * in DuckDB. Shape: one pair scan labeled by two broadcast-able
    * community lookups, three tiny aggregates.
    */
  def modularityFrom(pairs: DataFrame, communities: DataFrame): DataFrame = {
    val la = communities.select(col("doc_id").as("doc_a"),
      col("community").as("ca"))
    val lb = communities.select(col("doc_id").as("doc_b"),
      col("community").as("cb"))
    val lab = Iterate.pin(
      pairs.join(la, Seq("doc_a")).join(lb, Seq("doc_b")))
    val m = lab.agg(count(lit(1)).as("m"))
    val within = lab.filter(col("ca") === col("cb"))
      .groupBy(col("ca")).agg(count(lit(1)).as("ec"))
      .agg(coalesce(sum(col("ec")), lit(0L)).as("se"))
    val ends = lab.select(col("ca").as("c"))
      .unionByName(lab.select(col("cb").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("ac"))
      .agg(coalesce(sum(col("ac") * col("ac")), lit(0L)).as("sa2"))
    val nComm = communities.select(col("community")).distinct()
      .agg(count(lit(1)).as("n_communities"))
    m.crossJoin(broadcast(within)).crossJoin(broadcast(ends))
      .crossJoin(broadcast(nComm))
      .select(col("n_communities"), col("m").as("n_edges"),
        try_divide((lit(4L) * col("m") * col("se") - col("sa2")).cast("double"),
          (lit(4L) * col("m") * col("m")).cast("double"))
          .as("modularity"))
  }

  def sqlModularity(pairsSql: String, communitiesSql: String): String =
    s"""WITH comm AS (
       |  SELECT * FROM (
       |    ${communitiesSql.linesIterator.mkString("\n    ")}
       |  )
       |), p AS (
       |  SELECT * FROM (
       |    ${pairsSql.linesIterator.mkString("\n    ")}
       |  )
       |), lab AS (
       |  SELECT p.doc_a, p.doc_b, a.community AS ca, b.community AS cb
       |  FROM p JOIN comm a ON p.doc_a = a.doc_id
       |         JOIN comm b ON p.doc_b = b.doc_id
       |), mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
       |w AS (
       |  SELECT CAST(COALESCE(SUM(ec), 0) AS BIGINT) AS se FROM (
       |    SELECT ca, COUNT(*) AS ec FROM lab WHERE ca = cb GROUP BY ca
       |  )
       |), en AS (
       |  SELECT CAST(COALESCE(SUM(ac * ac), 0) AS BIGINT) AS sa2 FROM (
       |    SELECT c, CAST(COUNT(*) AS BIGINT) AS ac FROM (
       |      SELECT ca AS c FROM lab UNION ALL SELECT cb FROM lab
       |    ) GROUP BY c
       |  )
       |), nc AS (
       |  SELECT CAST(COUNT(DISTINCT community) AS BIGINT) AS n_communities
       |  FROM comm
       |)
       |SELECT nc.n_communities, mm.m AS n_edges,
       |  CAST(4 * mm.m * w.se - en.sa2 AS DOUBLE)
       |    / CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
       |FROM mm, w, en, nc""".stripMargin

  // --------------------------------------------- partition agreement
  /** Rand and Jaccard agreement between TWO clusterings of the same
    * near-dup graph — exact connected components vs label-propagation
    * communities (Rand, "Objective criteria for the evaluation of
    * clustering methods", JASA 1971): the audit a pipeline runs before
    * swapping the expensive exact clustering for the cheaper iterative
    * one. Over the clustered-doc set (docs that appear in some pair;
    * both partitions are restricted to it), all pair counts come from
    * ONE contingency table: with S2 = Σ n_ij², Sr = Σ n_i·², Sc = Σ n_·j²
    * and N docs, a = (S2−N)/2 pairs agree-in-both, r = (Sr−N)/2 same-
    * component, c = (Sc−N)/2 same-community, and
    * Rand = (tot + 2a − r − c)/tot, Jaccard = a/(r + c − a). Every
    * quantity is an exact BIGINT; the only floating ops are the two
    * final single divisions (bit-identical cross-engine). Long-safe to
    * ~10⁹ clustered docs (squared counts) — past that the moments ride
    * DECIMAL, the [[modularityFrom]] caveat.
    *
    * Scale shape: one |clustered docs| join + one (component, community)
    * hash agg; everything after is a |cells| frame. No corpus pass —
    * both inputs are the memoized artifacts.
    */
  def lpaAgreement(components: DataFrame,
      communities: DataFrame): DataFrame = {
    val joined = components.join(communities, Seq("doc_id"))
    val cells = Iterate.pin(joined
      .groupBy(col("component"), col("community"))
      .agg(count(lit(1)).as("n")))
    val m = cells.agg(sum(col("n")).as("n_docs"),
      sum(col("n") * col("n")).as("s_both2"),
      countDistinct(col("component")).as("n_components"),
      countDistinct(col("community")).as("n_communities"))
    val mc = cells.groupBy(col("component"))
      .agg(sum(col("n")).as("ni"))
      .agg(sum(col("ni") * col("ni")).as("s_comp2"))
    val ml = cells.groupBy(col("community"))
      .agg(sum(col("n")).as("nj"))
      .agg(sum(col("nj") * col("nj")).as("s_lpa2"))
    m.crossJoin(broadcast(mc)).crossJoin(broadcast(ml))
      .select(col("n_docs"), col("n_components"), col("n_communities"),
        expr("(s_both2 - n_docs) div 2").as("pairs_both"),
        expr("(s_comp2 - n_docs) div 2").as("pairs_comp"),
        expr("(s_lpa2 - n_docs) div 2").as("pairs_lpa"),
        (expr("n_docs * (n_docs - 1) div 2 + (s_both2 - n_docs)" +
            " - (s_comp2 - n_docs) div 2 - (s_lpa2 - n_docs) div 2")
            .cast("double") /
          expr("n_docs * (n_docs - 1) div 2").cast("double"))
          .as("rand_index"),
        (expr("(s_both2 - n_docs) div 2").cast("double") /
          expr("(s_comp2 - n_docs) div 2 + (s_lpa2 - n_docs) div 2" +
            " - (s_both2 - n_docs) div 2").cast("double"))
          .as("jaccard_index"))
  }

  /** Oracle: the components CTEs (UNION-deduped edges, recursive
    * closure) and the LPA rounds (UNION ALL edges) side by side over ONE
    * pairs CTE, then the contingency moments in closed form.
    */
  def sqlLpaAgreement(pairsSql: String, iters: Int = LpIters): String =
    s"""WITH RECURSIVE pairs AS (
       |  ${pairsSql.linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes,
       |ledges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |), l0 AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |),
       |${lpaRoundCtes(iters, "ledges")},
       |joined AS (
       |  SELECT c.doc_id, c.component, l.label AS community
       |  FROM comp c JOIN l$iters l ON c.doc_id = l.id
       |), cells AS (
       |  SELECT component, community, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM joined GROUP BY component, community
       |), m AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       |    CAST(SUM(n * n) AS BIGINT) AS s_both2,
       |    CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
       |    CAST(COUNT(DISTINCT community) AS BIGINT) AS n_communities
       |  FROM cells
       |), mc AS (
       |  SELECT CAST(SUM(ni * ni) AS BIGINT) AS s_comp2 FROM (
       |    SELECT CAST(SUM(n) AS BIGINT) AS ni FROM cells
       |    GROUP BY component)
       |), ml AS (
       |  SELECT CAST(SUM(nj * nj) AS BIGINT) AS s_lpa2 FROM (
       |    SELECT CAST(SUM(n) AS BIGINT) AS nj FROM cells
       |    GROUP BY community)
       |)
       |SELECT n_docs, n_components, n_communities,
       |  (s_both2 - n_docs) // 2 AS pairs_both,
       |  (s_comp2 - n_docs) // 2 AS pairs_comp,
       |  (s_lpa2 - n_docs) // 2 AS pairs_lpa,
       |  CAST(n_docs * (n_docs - 1) // 2 + (s_both2 - n_docs)
       |      - (s_comp2 - n_docs) // 2 - (s_lpa2 - n_docs) // 2 AS DOUBLE)
       |    / CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE) AS rand_index,
       |  CAST((s_both2 - n_docs) // 2 AS DOUBLE)
       |    / CAST((s_comp2 - n_docs) // 2 + (s_lpa2 - n_docs) // 2
       |        - (s_both2 - n_docs) // 2 AS DOUBLE) AS jaccard_index
       |FROM m, mc, ml""".stripMargin

  // ------------------------------------------------- connected components
  /** Duplicate-cluster assembly: near-dup PAIRS are not clusters — picking
    * a representative needs the transitive closure (A~B, B~C ⇒ {A,B,C}
    * keep one). Min-label propagation: every node starts labeled with its
    * own id; each round, a node adopts the minimum label among itself and
    * its neighbors; converged labels = component id (the component's
    * minimum doc id — a deterministic representative "keep" choice).
    *
    * Scale shape: each round is one hash-partitioned join + aggregate on
    * the edge list; rounds needed = graph diameter (near-dup clusters are
    * shallow — a handful). `Iterate.pin` after every round cuts the
    * exponentially-growing join lineage, which is what actually kills
    * iterative dataframe algorithms at scale. (The big-graph refinement —
    * large-star/small-star of Kiveris et al., "Connected Components in
    * MapReduce", SoCC 2014 — drops in without changing the contract.)
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(Iterate.pin) // pairs plan is reused every round — pin it
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var round = 0
    var converged = false
    while (round < maxIter && !converged) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val l1 = least(col("label"), coalesce(col("nlabel"), col("label")))
      val m = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), l1.as("l1"), col("label").as("l0"))
      // pointer jump (label := label(label)): labels decrease monotonically
      // and every label IS a node id, so following one hop of the label map
      // compounds the propagation — rounds needed drop from the component
      // diameter to ~log2(diameter)
      val jump = m.select(col("id").as("jid"), col("l1").as("jl"))
      val newLabel = least(col("l1"), coalesce(col("jl"), col("l1")))
      // the changed flag rides INSIDE the checkpointed frame: convergence
      // detection is then a scan of the materialized partitions, not a
      // second join job per round
      val updated = m
        .join(jump, m("l1") === jump("jid"), "left")
        .select(col("id"), newLabel.as("new_label"),
          (newLabel =!= col("l0")).as("chg"))
        .transform(Iterate.pin) // cut per-round lineage growth
      converged = updated.filter(col("chg")).isEmpty
      labels = updated.select(col("id"), col("new_label").as("label"))
      round += 1
    }
    // Never return silently-unconverged labels: a graph whose diameter
    // exceeds what maxIter pointer-jumping rounds can cover (≈2^maxIter
    // hops) would otherwise yield WRONG component ids that look valid.
    // The check reads the already-checkpointed flag column — no extra
    // join job, one scan of materialized partitions. Instead of asking
    // the caller to raise maxIter, fall back to the large-star/small-star
    // rounds ([[starComponents]]), whose convergence bound depends on
    // component SIZE, not diameter — the adversarial long-path case.
    if (!converged) starComponents(pairs)
    else labels.select(col("id").as("doc_id"), col("label").as("component"))
      .orderBy(col("doc_id"))
  }

  /** Large-star/small-star connected components (Kiveris, Lattanzi,
    * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in MapReduce
    * and Beyond", SoCC 2014, Alg. 3 "Two-Phase") — the deep-graph fallback
    * behind [[connectedComponents]]. Each round:
    *
    *  - '''large-star''': every node attaches its strictly-LARGER
    *    neighbors to the minimum of its closed neighborhood;
    *  - '''small-star''': every node re-points itself and its smaller
    *    neighbors at the minimum of them.
    *
    * The edge set monotonically contracts toward one star per component,
    * rooted at the component's minimum id — the same (doc_id, component =
    * min reachable id) contract as min-label propagation. Convergence is
    * O(log² n) rounds in component size n regardless of diameter, where
    * pointer jumping needs log₂(diameter) rounds — a 10⁶-node path
    * converges here in tens of rounds vs maxIter-busting for propagation.
    * Per-round cost is one aggregate + one join per phase over the
    * (shrinking) edge list, every frame [[Iterate.pin]]ned.
    */
  def starComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val nodes = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id"))).distinct()
      .transform(Iterate.pin)
    // directed child→parent edges, child > parent (self-loops dropped)
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(Iterate.pin)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // large-star over the UNDIRECTED neighborhood: m(u) = min(Γ(u)∪{u});
      // emit (v, m(u)) for every neighbor v > u
      val nbrs = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = nbrs.join(mLarge, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .transform(Iterate.pin)
      // small-star over the child→parent edges: m(u) = min of u's parents;
      // re-point u and each of its other parents at m(u)
      val mSmall = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(mSmall, "u")
        .select(explode(array(
          struct(col("u").as("c"), col("m").as("p")),
          struct(col("v").as("c"), col("m").as("p")))).as("e"))
        .select(col("e.c").as("u"), col("e.p").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .transform(Iterate.pin)
      // fixpoint: the canonical directed edge set stopped changing (equal
      // cardinality + one-sided difference empty ⇒ set equality)
      converged = small.count() == edges.count() &&
        small.exceptAll(edges).isEmpty
      edges = small
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starComponents: not converged after $maxRounds rounds — " +
          "monotone contraction should converge in O(log^2 n); " +
          "this indicates a bug, not an adversarial input.")
    // converged edges are stars (child → component-min root); roots and
    // isolated-in-pairs nodes label themselves
    nodes.join(edges.select(col("u").as("id"), col("v").as("root")),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("id")).as("component"))
      .orderBy(col("doc_id"))
  }

  /** Shared transitive-closure CTE fragment: expects a `pairs` CTE with
    * (doc_a, doc_b) in scope, defines `edges`/`reach`/`comp` where comp =
    * (doc_id, component), component = min(id, min reachable id) — exactly
    * the converged min-label. ONE definition for every components oracle
    * ([[sqlConnectedComponents]], [[sqlCanonical]],
    * [[graft.operators.Similarity.sqlSemanticDedup]]) so a closure change
    * can never drift between them.
    */
  def sqlComponentsCtes: String =
    s"""edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comp AS (
       |  SELECT src AS doc_id, least(src, MIN(dst)) AS component
       |  FROM reach GROUP BY src
       |)""".stripMargin

  /** DuckDB oracle: transitive closure as a recursive CTE. */
  def sqlConnectedComponents(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (
       |  ${pairsSql.linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes
       |SELECT doc_id, component FROM comp
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- shared cluster artifacts
  // The reusable products of near-dup clustering, each its own memo and
  // built on first read: bands → pairs → components. Every cluster-policy
  // operator (representative selection, soft weights, size profile,
  // incremental admission) derives from one of them, so a run computes
  // each once and fans out; a query that reads only pairs never runs the
  // component iteration.

  /** Per-(session, `docs`) memo of the pinned LSH band frame — the
    * durable signature state of a corpus.
    */
  def minhashBandsCached(docs: DataFrame): DataFrame =
    graft.Memo.pinned(docs.sparkSession, "dedup.bands", docs)(
      minhashBands(docs))

  /** Per-(session, `docs`) memo of the pinned distinct band-collision pair
    * frame. Unordered (stable input to clustering); order at the
    * consumption edge.
    */
  def minhashPairsCached(docs: DataFrame): DataFrame = {
    // band memo resolved outside this build: its build time is not the
    // pairs memo's
    val bands = minhashBandsCached(docs)
    graft.Memo.pinned(docs.sparkSession, "dedup.pairs", docs)(
      bandCollisionPairs(bands).distinct())
  }

  /** Per-(session, `docs`) memo of the (doc_id, component) frame of
    * [[connectedComponents]] over the pair memo. The iteration pins its
    * own per-round state; the returned frame reads from pinned blocks.
    */
  def componentsCached(docs: DataFrame): DataFrame = {
    val pairs = minhashPairsCached(docs)
    graft.Memo(docs.sparkSession, "dedup.components", docs)(
      connectedComponents(pairs))
  }

  /** Per-(session, `docs`) memo of the PINNED [[shingleSets]] frame — the
    * sorted-distinct ShingleK-gram sets every exact near-dup verify
    * reads. `decon_minhash` and the `corpus_e2e` capstone both resolve
    * it (the capstone's decon stage IS minhashDecon), and the md5
    * word-hash + k-gram chain is the verify's CPU, so an un-memoized
    * pin re-ran the whole corpus-sized chain once per query invocation
    * (measured ~0.55 s of every decon_minhash call at sf0.1).
    */
  def shingleSetsCached(docs: DataFrame): DataFrame =
    graft.Memo.pinned(docs.sparkSession, "dedup.sets", docs)(
      shingleSets(docs))

  /** Duplicate-cluster size profile: for each cluster size, how many
    * near-duplicate clusters of that size the corpus carries — the
    * one-page answer to "is duplication a few giant boilerplate clusters
    * or a long tail of pairs?", which decides whether canonical selection
    * ([[canonicalFrom]]) or plain victim-dropping is the right keep policy.
    * `comp` is the (doc_id, component) frame of [[connectedComponents]]
    * over [[minhashPairs]] ([[componentsCached]]);
    * only docs that appear in some pair are clustered (singletons are not
    * "clusters of 1" here, matching the components contract).
    *
    * Scale shape: the component frame is |clustered docs| rows — tiny
    * versus the corpus — and both follow-up aggregations are integer-only
    * hash aggs over it (no float, no window, no new corpus pass).
    */
  def clusterStatsFrom(comp: DataFrame): DataFrame =
    comp
      .groupBy(col("component")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("csize"))

  def sqlClusterStats: String =
    s"""WITH RECURSIVE pairs AS (
       |  ${sqlMinhashPairs().linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes,
       |sizes AS (
       |  SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
       |  FROM comp GROUP BY component
       |)
       |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM sizes GROUP BY csize
       |ORDER BY csize""".stripMargin

  // ------------------------------------------------- canonical selection
  /** End-of-pipeline canonical-document selection: near-dup pairs →
    * connected components → ONE representative per cluster, longest doc
    * wins (ties by doc_id) — the "keep" policy production dedup applies
    * after clustering (e.g. Gopher/MassiveText keep-one-per-cluster, Rae
    * et al. 2021 §A.2). Docs in no pair keep themselves.
    *
    * Scale shape: the component frame is |clustered docs| rows (tiny vs
    * corpus); the left join back to the corpus is hash-partitioned on
    * doc_id, and the per-component argmax is one window over the
    * component key — no second shuffle of the corpus (component ⊂ doc_id
    * co-partitioning is not assumed; the window repartitions only the
    * clustered slice... the full frame windows on `component`, which
    * after the coalesce is corpus-wide — one exchange, same as any
    * groupBy(component)). `comp` is the (doc_id, component) frame of
    * [[connectedComponents]] ([[componentsCached]]).
    */
  def canonicalFrom(docs: DataFrame, comp: DataFrame): DataFrame = {
    val withComp = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val byLen = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val whole = Window.partitionBy(col("component"))
    withComp
      .withColumn("keep_id", first(col("doc_id")).over(byLen))
      .withColumn("n_docs", count(lit(1)).over(whole))
      .select(col("doc_id"), col("component"), col("keep_id"),
        col("n_docs"), (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  def sqlCanonical: String =
    s"""WITH RECURSIVE pairs AS (
       |  ${sqlMinhashPairs().linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes,
       |withcomp AS (
       |  SELECT d.doc_id, d.n_chars,
       |    COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c USING (doc_id)
       |)
       |SELECT doc_id, component,
       |  FIRST_VALUE(doc_id) OVER (PARTITION BY component
       |    ORDER BY n_chars DESC, doc_id) AS keep_id,
       |  COUNT(*) OVER (PARTITION BY component) AS n_docs,
       |  doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY component
       |    ORDER BY n_chars DESC, doc_id) AS kept
       |FROM withcomp ORDER BY doc_id""".stripMargin

  /** Per-source storage savings of canonical dedup — the number a corpus
    * owner reads to decide which crawls are worth re-ingesting: for each
    * source, how many docs the keep-longest policy drops and how many
    * characters that reclaims. Composes the SAME canonical decision as
    * [[canonicalFrom]] over the shared component labels, then one
    * source-keyed aggregate; nothing recomputes clustering.
    */
  def dedupSavings(docs: DataFrame, comp: DataFrame): DataFrame =
    canonicalFrom(docs, comp)
      .select(col("doc_id"), col("kept"))
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).cast("long")
          .as("n_dropped"),
        sum(col("n_chars")).cast("long").as("chars_total"),
        sum(when(!col("kept"), col("n_chars")).otherwise(0L)).cast("long")
          .as("chars_saved"))
      .orderBy(col("source"))

  def sqlDedupSavings: String =
    s"""WITH RECURSIVE pairs AS (
       |  ${sqlMinhashPairs().linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes,
       |withcomp AS (
       |  SELECT d.doc_id, d.n_chars,
       |    COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c USING (doc_id)
       |), k AS (
       |  SELECT doc_id,
       |    doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY component
       |      ORDER BY n_chars DESC, doc_id) AS kept
       |  FROM withcomp
       |)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN k.kept THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
       |  CAST(SUM(CASE WHEN k.kept THEN 0 ELSE d.n_chars END) AS BIGINT)
       |    AS chars_saved
       |FROM documents d JOIN k ON d.doc_id = k.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ------------------------------------------------- soft dedup weighting
  /** Soft dedup: instead of DROPPING near-duplicates, down-weight them —
    * every document in a duplicate cluster of size n gets sampling weight
    * 1/n, so the cluster contributes one document's worth of training
    * mass while keeping its (possibly differently-noised) variants
    * available. This is the keep-policy alternative to [[canonicalFrom]] for
    * corpora where duplicates carry complementary signal; the weight
    * column feeds [[graft.operators.TrainingData.weightedSample]]
    * directly. Docs in no pair form their own cluster (weight 1.0).
    *
    * Scale shape: identical to [[canonicalFrom]] — the component frame is
    * |clustered docs| rows, the corpus joins it hash-partitioned on
    * doc_id, and the cluster-size count is one window exchange keyed by
    * component. Weight is 1/n in exact double arithmetic (integer
    * operands — both engines emit the identical quotient). `comp` is the
    * (doc_id, component) frame of [[connectedComponents]]
    * ([[componentsCached]]).
    */
  def softWeightsFrom(docs: DataFrame, comp: DataFrame): DataFrame = {
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component"), col("n_dups"),
        (lit(1.0) / col("n_dups").cast("double")).as("weight"))
      .orderBy(col("doc_id"))
  }

  def sqlSoftWeights: String =
    s"""WITH RECURSIVE pairs AS (
       |  ${sqlMinhashPairs().linesIterator.mkString("\n  ")}
       |),
       |$sqlComponentsCtes,
       |withcomp AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c USING (doc_id)
       |)
       |SELECT doc_id, component, n_dups,
       |  CAST(1 AS DOUBLE) / CAST(n_dups AS DOUBLE) AS weight
       |FROM (
       |  SELECT doc_id, component,
       |    COUNT(*) OVER (PARTITION BY component) AS n_dups
       |  FROM withcomp
       |) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- SimHash
  /** 16-bit SimHash (Charikar, "Similarity estimation techniques from
    * rounding algorithms", STOC 2002): per bit j, sign of Σ over tokens of ±1 by bit j of the
    * token hash. One pass over the token array per document, no shuffle.
    */
  val SimhashBits = 16

  def simhash(docs: DataFrame): DataFrame = {
    val bitSums = (0 until SimhashBits).map { j =>
      aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L))
    }
    val sim = bitSums.zipWithIndex.map { case (s, j) =>
      when(s >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), transform(col("w"), w => tokenHash(w)).as("hs"))
      .select(col("doc_id"), sim.as("simhash"))
  }

  def sqlSimhash: String = {
    val hs = s"list_transform(${sqlWords("text")}, w -> ${sqlTokenHash("w")})"
    val bitSums = (0 until SimhashBits).map { j =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(hs, h -> CASE WHEN (h // ${1L << j}) % 2 = 1
         |        THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
         |      (a, b) -> a + b) AS bs$j""".stripMargin
    }.mkString(",\n    ")
    val sim = (0 until SimhashBits)
      .map(j => s"(CASE WHEN bs$j >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id, $sim AS simhash
       |FROM (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM (SELECT doc_id, $hs AS hs FROM documents)
       |) ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- SimHash near-dup pairs
  /** SimHash pair detection via the pigeonhole principle (Manku, Jain &
    * Das Sarma, "Detecting near-duplicates for web crawling", WWW 2007):
    * two 60-bit signatures within Hamming distance ≤ `SimhashHammingMax`(3)
    * must agree EXACTLY on at least one of 4 disjoint 15-bit chunks — so
    * candidates come from a hash-partitioned self-bucket on (chunk index,
    * chunk value) and only candidates pay the popcount verification.
    *
    * 60 bits, not 64: the sign bit would make the signature sum overflow a
    * DuckDB BIGINT (1<<63 has no positive BIGINT form), and 15-bit chunks
    * (32768 values) keep buckets sparse at corpus scale.
    */
  val SimhashPairBits = 60
  val SimhashChunks = 4
  val SimhashChunkBits: Int = SimhashPairBits / SimhashChunks // 15
  val SimhashHammingMax = 3

  /** Buckets bigger than this are skipped: a chunk value shared by a large
    * fraction of the corpus carries no near-dup signal (templated text
    * makes simhash chunks collide corpus-wide — the known simhash failure
    * mode), and pair-expanding it is quadratic. Production simhash
    * dedup (Manku et al. §3) bounds candidate lists the same way.
    */
  val SimhashMaxBucket = 100

  def simhashPairs(docs: DataFrame): DataFrame = {
    // RELATIONAL bit sums, not 60 aggregate() folds over the token array:
    // an array fold per bit re-evaluates (and CollapseProject re-inlines)
    // the token-hash transform per fold — measured 15x slower. Exploding
    // to one row per token costs one md5 per token and ONE codegen'd hash
    // aggregate with 60 conditional sums; the groupBy(doc_id) shuffle is
    // already satisfied by the doc-spread partitioning.
    val bitSums = (0 until SimhashPairBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"bs$j")
    }
    val sim = (0 until SimhashPairBits).map { j =>
      when(col(s"bs$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sigs = docs
      // _outer: words() never empty/null — explode minus the inferred
      // size>0 filter (which would re-run the split below the Generate).
      .select(col("doc_id"), explode_outer(words(col("text"))).as("word"))
      .select(col("doc_id"), tokenHash(col("word")).as("h"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("sim"))
    val chunks = (0 until SimhashChunks).map { c =>
      struct(lit(c).as("chunk_idx"),
        shiftright(col("sim"), c * SimhashChunkBits)
          .bitwiseAND(lit((1L << SimhashChunkBits) - 1)).as("chunk_val"))
    }
    graft.functions.VectorExprs.register(docs.sparkSession)
    val hamming = bit_count(col("pa.sim").bitwiseXOR(col("pb.sim")))
    sigs
      .select(col("doc_id"), col("sim"),
        explode(array(chunks: _*)).as("chunk"))
      .groupBy(col("chunk.chunk_idx"), col("chunk.chunk_val"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sim"))))
        .as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= SimhashMaxBucket)
      .select(graft.functions.VectorExprs.pairExpand(col("ds"))
        .as(Seq("pa", "pb"))) // lazy generator — no O(n²) pair buffer
      .filter(hamming <= SimhashHammingMax)
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def sqlSimhashPairs: String = {
    val hs = s"list_transform(${sqlWords("text")}, w -> ${sqlTokenHash("w")})"
    val bitSums = (0 until SimhashPairBits).map { j =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(hs, h -> CASE WHEN (h // ${1L << j}) % 2 = 1
         |        THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
         |      (a, b) -> a + b) AS bs$j""".stripMargin
    }.mkString(",\n    ")
    val sim = (0 until SimhashPairBits)
      .map(j => s"(CASE WHEN bs$j >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val chunkRows = (0 until SimhashChunks).map { c =>
      s"""SELECT doc_id, sim, $c AS chunk_idx,
         |    (sim >> ${c * SimhashChunkBits}) & ${(1L << SimhashChunkBits) - 1}
         |      AS chunk_val FROM sigs""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sigs AS (
       |  SELECT doc_id, $sim AS sim FROM (
       |    SELECT doc_id,
       |    $bitSums
       |    FROM (SELECT doc_id, $hs AS hs FROM documents)
       |  )
       |), chunks0 AS (
       |  $chunkRows
       |), chunks AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY chunk_idx, chunk_val) AS bsz
       |    FROM chunks0
       |  ) WHERE bsz <= $SimhashMaxBucket
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.sim, b.sim)) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
       | AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= $SimhashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------------- n-gram Jaccard
  /** Blocked n-gram Jaccard: candidates share (lang, length bucket); the
    * distinct-shingle sets are intersected only inside blocks. Blocking key
    * is the partition key — no all-pairs shuffle. Shingles are hashed to
    * 32-bit longs before the pairwise intersect: set ops on fixed-width
    * longs, not ~20-byte strings (same definition on both engines, so the
    * oracle agrees bit-for-bit).
    */
  val JaccardBlockChars = 25
  val JaccardThreshold = 0.05

  /** Blocks above this size are SUB-SPLIT, not pair-expanded whole: a
    * popular (lang, length-bucket) block grows O(corpus) — at 100 TB an
    * (en, bucket≈40) block holds millions of docs and quadratic expansion
    * inside it is the last all-pairs blow-up. Oversized blocks get a
    * MinHash band appended to the blocking key (same signature family as
    * [[minhashPairs]], bands 0–1), which keeps high-Jaccard pairs together
    * — near-identical shingle sets collide on the band with the usual LSH
    * probability — while slicing the block population by signature.
    * Sub-blocks STILL above the cap are dropped, the same fail-safe as
    * [[SimhashMaxBucket]]: text so templated that one band value dominates
    * a corpus carries no pair signal worth a quadratic expansion.
    */
  val JaccardMaxBlock = 100

  /** @param sets the (doc_id, sh) sorted-distinct shingle sets of
    *             [[shingleSets]]; the blocking keys (lang, n_chars)
    *             re-attach via one doc_id-keyed inner join against the
    *             raw scan, which also drops the sub-ShingleK docs the sets
    *             exclude. doc_id must be non-null (the fixture schema's
    *             primary key): the inner join drops a NULL-doc_id row.
    */
  def ngramJaccard(docs: DataFrame, sets: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    // `div` (integer division) — Spark's double `/`+cast truncates while
    // DuckDB's CAST(double AS BIGINT) rounds; `div` ↔ `//` agree exactly.
    // Shingle-hash sets are sorted ONCE per row so the per-pair intersection
    // is a codegen'd linear merge walk (IntersectCountSorted) — no hash set
    // or result-array allocation inside the pair loop.
    val withSets = docs
      .select(col("doc_id"), col("lang"),
        expr(s"n_chars div $JaccardBlockChars").as("bucket"))
      .join(sets, Seq("doc_id"))
    // Oversized-block sub-split (see JaccardMaxBlock): block sizes come
    // from ONE window count over the same (lang, bucket) key the groupBy
    // shuffles on; rows in oversized blocks swap in a minhash band as the
    // sub-key. The band is derived from `sh`, which is already the mod-P
    // hash domain minhashSig expects — computed map-side, no extra pass.
    val band = concat_ws("|",
      minhashSig(col("sh"), 0).cast("string"),
      minhashSig(col("sh"), 1).cast("string"))
    val blockW = Window.partitionBy(col("lang"), col("bucket"))
    // Block-then-pair-expand (like minhashPairs): shingle sets are computed
    // and shuffled once; pairs materialize only inside each block. The
    // intersection is computed INSIDE the pair-expansion lambda so only
    // (doc_a, doc_b, inter, sizes) ever escapes into materialized rows —
    // exploding struct pairs first would copy both signature arrays into
    // every generated row.
    withSets
      .withColumn("bsz", count(lit(1)).over(blockW))
      .withColumn("sub",
        when(col("bsz") > JaccardMaxBlock, band).otherwise(lit("")))
      .groupBy(col("lang"), col("bucket"), col("sub"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sh"))))
        .as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= JaccardMaxBlock)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
          struct(x("doc_id").as("doc_a"), y("doc_id").as("doc_b"),
            graft.functions.VectorExprs
              .intersectCountSorted(x("sh"), y("sh")).cast("double")
              .as("inter"),
            (size(x("sh")) + size(y("sh"))).cast("double").as("sz")
          ))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        (col("p.inter") / (col("p.sz") - col("p.inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def sqlNgramJaccard: String = {
    s"""WITH wordhashed AS (
       |  SELECT doc_id, lang, n_chars, ${sqlWordHashes("text")} AS wh
       |  FROM documents
       |  WHERE len(${sqlWords("text")}) >= $ShingleK
       |), s AS (
       |  SELECT doc_id, lang,
       |    n_chars // $JaccardBlockChars AS bucket,
       |    list_distinct(${sqlShingleHashes("wh", ShingleK)}) AS sh
       |  FROM wordhashed
       |), sized AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY lang, bucket) AS bsz,
       |    CAST(${sqlMinhashSig("sh", 0)} AS VARCHAR) || '|' ||
       |      CAST(${sqlMinhashSig("sh", 1)} AS VARCHAR) AS band
       |  FROM s
       |), sub AS (
       |  SELECT doc_id, lang, bucket, sh,
       |    CASE WHEN bsz > $JaccardMaxBlock THEN band ELSE '' END AS sub
       |  FROM sized
       |), capped AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY lang, bucket, sub) AS sbsz
       |    FROM sub
       |  ) WHERE sbsz <= $JaccardMaxBlock
       |), p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
       |    CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS ab
       |  FROM capped a JOIN capped b
       |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.sub = b.sub
       |    AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, i / (ab - i) AS jaccard
       |FROM p WHERE i / (ab - i) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------- minhash decontamination
  /** Train/eval NEAR-DUP decontamination via the LSH band pre-screen —
    * the minhash route to what `decon_overlap` does with an exact k-gram
    * index (GPT-3's appendix-C contamination analysis is this shape):
    * candidate (train, eval) pairs are the band-colliding pairs of the
    * pair memo ([[minhashPairsCached]]) restricted to cross-split pairs,
    * and the exact sorted-merge Jaccard verify runs ONLY over those
    * candidates — the `decon_bloom` confinement discipline with LSH
    * instead of Bloom as the screen, which is the cheaper candidate
    * generator once the EVAL side is too big to broadcast as an index.
    * Reports, per contaminated train doc, how many verified eval
    * near-dups it collides with and its worst (highest-Jaccard) eval
    * neighbor.
    *
    * Determinism: the verify is exact-int intersections over sorted
    * distinct shingle-hash sets; Jaccard is one exact-int division; the
    * argmax neighbor ties by eval id through the lexicographic
    * max-struct idiom.
    */
  /** Sorted distinct shingle-hash set per doc, (doc_id, sh) — the exact
    * side of every near-dup verify join. Staged projections, NOT one
    * nested expression: shingleHashes references its argument k+1
    * times, so inlining wordHashes(words(text)) directly would
    * duplicate (and re-evaluate) the whole tokenize+hash subtree per
    * reference — measured 46 s vs 2 s at sf0.1 (higher-order functions
    * don't codegen, so no subexpression elimination rescues the inlined
    * form). Shared by [[minhashDecon]] and the streaming decon batch.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    setsFromHashes(shingleHashFrame(docs))

  def minhashDecon(docs: DataFrame,
      evalMod: Int = TrainingData.EvalMod): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val pairs = minhashPairsCached(docs)
    val cands = pairs
      .filter((col("doc_a") % evalMod === 0) =!=
        (col("doc_b") % evalMod === 0))
      .select(
        when(col("doc_a") % evalMod =!= 0, col("doc_a"))
          .otherwise(col("doc_b")).as("train_id"),
        when(col("doc_a") % evalMod === 0, col("doc_a"))
          .otherwise(col("doc_b")).as("eval_id"))
    // memoized pin: the sorted shingle sets feed BOTH sides of the
    // verify join, and the frame is shared with the corpus_e2e capstone
    val sets = shingleSetsCached(docs)
    cands
      .join(sets.select(col("doc_id").as("train_id"),
        col("sh").as("sh_t")), Seq("train_id"))
      .join(sets.select(col("doc_id").as("eval_id"),
        col("sh").as("sh_e")), Seq("eval_id"))
      .select(col("train_id"), col("eval_id"),
        graft.functions.VectorExprs
          .intersectCountSorted(col("sh_t"), col("sh_e")).as("i"),
        size(col("sh_t")).cast("long").as("nt"),
        size(col("sh_e")).cast("long").as("ne"))
      .filter(col("i") > 0)
      .withColumn("jac", col("i").cast("double") /
        (col("nt") + col("ne") - col("i")).cast("double"))
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("jac").as("j"),
          (lit(0L) - col("eval_id")).as("ni"))).as("b"))
      .select(col("train_id"), col("n_eval_hits"),
        (lit(0L) - col("b.ni")).as("best_eval"),
        col("b.j").as("best_jaccard"))
      .orderBy(col("train_id"))
  }

  def sqlMinhashDecon(evalMod: Int = TrainingData.EvalMod): String =
    s"""WITH pairs AS (
       |  ${sqlMinhashPairs().linesIterator.mkString("\n  ")}
       |), sets AS (
       |  SELECT doc_id,
       |    list_distinct(${sqlShingleHashes("wh", ShingleK)}) AS sh
       |  FROM (SELECT doc_id, ${sqlWordHashes("text")} AS wh
       |        FROM documents
       |        WHERE len(${sqlWords("text")}) >= $ShingleK)
       |), cands AS (
       |  SELECT
       |    CASE WHEN doc_a % $evalMod <> 0 THEN doc_a ELSE doc_b END
       |      AS train_id,
       |    CASE WHEN doc_a % $evalMod = 0 THEN doc_a ELSE doc_b END
       |      AS eval_id
       |  FROM pairs
       |  WHERE (doc_a % $evalMod = 0) <> (doc_b % $evalMod = 0)
       |), v AS (
       |  SELECT c.train_id, c.eval_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
       |    CAST(len(a.sh) AS BIGINT) AS nt,
       |    CAST(len(b.sh) AS BIGINT) AS ne
       |  FROM cands c
       |  JOIN sets a ON c.train_id = a.doc_id
       |  JOIN sets b ON c.eval_id = b.doc_id
       |), j AS (
       |  SELECT train_id, eval_id,
       |    CAST(i AS DOUBLE) / CAST(nt + ne - i AS DOUBLE) AS jac
       |  FROM v WHERE i > 0
       |)
       |SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
       |  -((max(struct_pack(j := jac, ni := -eval_id))).ni) AS best_eval,
       |  (max(struct_pack(j := jac, ni := -eval_id))).j AS best_jaccard
       |FROM j GROUP BY train_id ORDER BY train_id""".stripMargin

  // --------------------------------------------- prefix-filtered containment
  /** Containment (sub-document) near-dup pairs via a PREFIX-FILTERED
    * overlap self-join — the set-similarity-join family (Chaudhuri et al.,
    * "A Primitive Operator for Similarity Joins", ICDE 2006; Xiao et al.,
    * "Efficient Similarity Joins for Near Duplicate Detection", WWW 2008).
    * Containment C(A→B) = |A∩B| / |A| with |A| ≤ |B| catches a short
    * document embedded in a long one — exactly the pair class BOTH
    * length-bucketed Jaccard blocking (cross-bucket pairs never meet) and
    * MinHash (Jaccard of a strict subset is small) systematically miss.
    *
    * Prefix-filter lemma: if |A∩B| ≥ ⌈t·|A|⌉, the first
    * |A| − ⌈t·|A|⌉ + 1 elements of A (any fixed total order — we use
    * ascending shingle hash) must contain a common element: were all
    * common elements outside that prefix, they would have to fit in the
    * remaining ⌈t·|A|⌉ − 1 slots. The threshold bounds only the SMALLER
    * side, so only the probe side takes a prefix cut; the larger side is
    * indexed in full (the classical asymmetric containment index).
    *
    * Scale shape: index explosion is O(corpus tokens) fixed-width rows —
    * the same order as tokenizing the corpus; candidates come from ONE
    * hash-partitioned equi join on the shingle hash. Shingles with
    * document frequency > [[ContainMaxPosting]] are dropped from candidate
    * generation on BOTH sides (boilerplate shingles carry no containment
    * signal and expand quadratically — the same hot-key discipline as
    * [[SimhashMaxBucket]]); the pair itself still qualifies through any of
    * its non-hot shared shingles. Verification touches only distinct
    * candidate pairs: two doc_id-keyed joins pull the pre-sorted shingle
    * arrays and [[graft.functions.VectorExprs.intersectCountSorted]] walks
    * them codegen'd, allocation-free.
    */
  val ContainThreshold = 0.6
  val ContainMaxPosting = 100

  def containmentPairs(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    // sets feeds FIVE subtrees (idx→dfOk, idxc, probe, verify a, verify
    // b) that ReuseExchange cannot dedup — materialize so the md5-heavy
    // shingle pipeline runs once, not five times. The sorted-distinct
    // set frame IS [[shingleSets]] plus a size column, so the memoized
    // [[shingleSetsCached]] frame (shared with decon_minhash /
    // corpus_e2e) supplies it; the `sz` projection over the pinned rows
    // is a cheap map-side size().
    val sets = shingleSetsCached(docs)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))
    // explode_outer, not explode: `sh` is a derived HOF chain and provably
    // non-empty (size(w) >= ShingleK above) — plain explode makes the
    // optimizer infer `size(sh) > 0` and push it below the staging
    // projections, inlining the whole shingle pipeline into a per-row
    // Filter whose element_at re-evaluates the derived word-hash array per
    // element: O(words²) md5 calls per document (measured 38 s → 4 s at
    // sf0.1 for this one Generate). Same discipline as [[substrWindows]].
    val idx = sets.select(col("doc_id"), col("sz"),
      explode_outer(col("sh")).as("h"))
    // hot-shingle cap: global df over the FULL index explosion
    val dfOk = idx.groupBy(col("h")).count()
      .filter(col("count") <= ContainMaxPosting).select(col("h"))
    val idxc = idx.join(dfOk, "h")
    // ⌈0.6·sz⌉ in exact integer arithmetic: (3·sz + 4) div 5
    val probe = sets
      .select(col("doc_id"), col("sz"),
        explode_outer(slice(col("sh"), lit(1),
          expr("sz - ((3*sz + 4) div 5) + 1"))).as("h"))
      .join(dfOk, "h")
    val cand = probe.alias("p")
      .join(idxc.alias("i"),
        col("p.h") === col("i.h") &&
          (col("p.sz") < col("i.sz") ||
            (col("p.sz") === col("i.sz") &&
              col("p.doc_id") < col("i.doc_id"))))
      .select(col("p.doc_id").as("doc_small"), col("i.doc_id").as("doc_large"))
      .distinct()
    val a = sets.select(col("doc_id").as("doc_small"), col("sh").as("sh_a"),
      col("sz").as("sz_a"))
    val b = sets.select(col("doc_id").as("doc_large"), col("sh").as("sh_b"))
    cand.join(a, "doc_small").join(b, "doc_large")
      .select(col("doc_small"), col("doc_large"),
        (graft.functions.VectorExprs
          .intersectCountSorted(col("sh_a"), col("sh_b")).cast("double") /
          col("sz_a").cast("double")).as("containment"))
      .filter(col("containment") >= ContainThreshold)
      .orderBy(col("doc_small"), col("doc_large"))
  }

  def sqlContainmentPairs: String =
    s"""WITH wordhashed AS (
       |  SELECT doc_id, ${sqlWordHashes("text")} AS wh
       |  FROM documents
       |  WHERE len(${sqlWords("text")}) >= $ShingleK
       |), sets AS (
       |  SELECT doc_id, sh, len(sh) AS sz FROM (
       |    SELECT doc_id,
       |      list_sort(list_distinct(${sqlShingleHashes("wh", ShingleK)}))
       |        AS sh
       |    FROM wordhashed
       |  )
       |), idx AS (
       |  SELECT doc_id, sz, unnest(sh) AS h FROM sets
       |), dfok AS (
       |  SELECT h FROM idx GROUP BY h
       |  HAVING COUNT(*) <= $ContainMaxPosting
       |), idxc AS (
       |  SELECT idx.* FROM idx JOIN dfok USING (h)
       |), probe AS (
       |  SELECT p.* FROM (
       |    SELECT doc_id, sz,
       |      unnest(list_slice(sh, 1, sz - (3*sz + 4)//5 + 1)) AS h
       |    FROM sets
       |  ) p JOIN dfok USING (h)
       |), cand AS (
       |  SELECT DISTINCT p.doc_id AS doc_small, i.doc_id AS doc_large
       |  FROM probe p JOIN idxc i ON p.h = i.h
       |   AND (p.sz < i.sz OR (p.sz = i.sz AND p.doc_id < i.doc_id))
       |)
       |SELECT doc_small, doc_large, containment FROM (
       |  SELECT c.doc_small, c.doc_large,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / CAST(a.sz AS DOUBLE) AS containment
       |  FROM cand c
       |  JOIN sets a ON a.doc_id = c.doc_small
       |  JOIN sets b ON b.doc_id = c.doc_large
       |) WHERE containment >= $ContainThreshold
       |ORDER BY doc_small, doc_large""".stripMargin

  // ------------------------------------------------ exact substring windows
  /** Exact duplicated-substring detection (the ExactSubstr dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022 — reference's suffix-array variant re-expressed relationally):
    * a length-[[SubstrK]] token window appearing in ≥ 2 documents is a
    * duplicated passage; per document we report how many of its distinct
    * windows are corpus-duplicated and the duplicated fraction (the score
    * production pipelines threshold to drop or trim docs).
    *
    * Relational shape instead of a suffix array: rolling polynomial hashes
    * over every k-token window ([[shingleHashes]] — computed map-side),
    * one explode to (doc_id, window_hash), ONE exchange keyed by the
    * 8-byte hash (a count window — every exploded row crosses it; there
    * is no map-side combine because per-(doc, window) rows are themselves
    * the output unit), then one doc_id aggregate. At 100 TB the exchange
    * is O(total tokens) fixed-width rows — the same order as tokenizing
    * the corpus at all; nothing is quadratic and no suffix array needs
    * global order. (A groupBy(h)+join-back would combine the count
    * map-side but re-shuffles the same exploded rows as the join probe —
    * same exchange volume, one more operator; see the in-function note.)
    * Window-hash collisions are the usual rolling-hash trade-off
    * (P = 2^31-1; both engines share the definition, so the oracle agrees
    * exactly).
    */
  val SubstrK = 12

  /** (doc_id, hset): each doc's DISTINCT window hashes — within-doc repeats
    * (already measured by [[TrainingData.repetition]]) count once, so the
    * groupBy count below IS the number of docs containing the window.
    */
  private def substrWindowSets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= SubstrK) // see minhashBands: no NULL windows
      .select(col("doc_id"), wordHashes(col("w")).as("wh"))
      .select(col("doc_id"),
        array_distinct(shingleHashes(col("wh"), SubstrK)).as("hset"))

  def substringDup(docs: DataFrame): DataFrame = {
    // Single-pass formulation: the expensive subtree (tokenize → window
    // hashes → explode) is evaluated ONCE; per-window multiplicity comes
    // from a count window over the hash key (one exchange on h), and both
    // per-doc counters fall out of one doc_id aggregate. A
    // groupBy(h)+join-back form would re-evaluate the hash subtree per
    // branch — Spark shares exchanges, not arbitrary subtrees.
    // explode_outer, not explode: hset is a derived HOF chain and provably
    // non-empty (the size>=k filter) — plain explode makes the optimizer
    // infer size>0 and re-inline the whole hash chain into a Filter (see
    // SCALE.md "Generate discipline")
    val wins = substrWindowSets(docs)
      .select(col("doc_id"), explode_outer(col("hset")).as("h"))
    val byHash = Window.partitionBy(col("h"))
    wins
      .withColumn("nd", count(lit(1)).over(byHash))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  def sqlSubstringDup: String =
    s"""WITH sets AS (
       |  SELECT doc_id,
       |    list_distinct(${sqlShingleHashes("wh", SubstrK)}) AS hset
       |  FROM (
       |    SELECT doc_id, ${sqlWordHashes("text")} AS wh
       |    FROM documents WHERE len(${sqlWords("text")}) >= $SubstrK
       |  )
       |), wins AS (
       |  SELECT doc_id, unnest(hset) AS h FROM sets
       |), counted AS (
       |  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS nd FROM wins
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_windows,
       |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
       |FROM counted GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- edit-distance refinement
  /** Candidate verification by exact edit distance: LSH candidates
    * ([[minhashPairs]]) refined with Levenshtein over a fixed
    * [[EditPrefix]]-char prefix — the standard two-stage near-dup contract
    * (cheap recall stage → exact bounded-cost precision stage).
    *
    * Scale shape: the quadratic stage is ALREADY bounded by LSH banding;
    * this adds two hash-partitioned joins on doc_id to fetch prefixes and a
    * codegen'd per-pair DP of fixed O(EditPrefix²) cost — no new shuffle
    * larger than the candidate set itself. Levenshtein over full documents
    * would be O(len²) per pair and engine-divergent on >1 MB docs; the
    * fixed prefix keeps cost constant and the oracle exact.
    */
  val EditPrefix = 64
  val EditMaxDist = 24

  /** @param pairs the LSH candidate pairs of [[minhashPairs]] (its
    *              ordering is discarded by the joins below).
    */
  def editPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val prefixes = docs.select(col("doc_id"),
      substring(col("text"), 1, EditPrefix).as("prefix"))
    pairs
      .join(prefixes.select(col("doc_id").as("doc_a"),
        col("prefix").as("pa")), Seq("doc_a"))
      .join(prefixes.select(col("doc_id").as("doc_b"),
        col("prefix").as("pb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("pa"), col("pb")))
      .filter(col("edit_dist") <= EditMaxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def sqlEditPairs: String =
    s"""WITH cand AS (
       |  ${sqlMinhashPairs().linesIterator.mkString("\n  ")}
       |), t AS (
       |  SELECT doc_id, substr(text, 1, $EditPrefix) AS prefix FROM documents
       |)
       |SELECT c.doc_a, c.doc_b,
       |  levenshtein(a.prefix, b.prefix) AS edit_dist
       |FROM cand c
       |JOIN t a ON a.doc_id = c.doc_a
       |JOIN t b ON b.doc_id = c.doc_b
       |WHERE levenshtein(a.prefix, b.prefix) <= $EditMaxDist
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  // ------------------------------------------------ span-level dedup + clean
  /** C4-style duplicate-span removal WITH document reassembly (Raffel et al.
    * 2020 §2.2 deduplicate "three-sentence spans"; the fixture corpus has no
    * sentence boundaries, so the span unit is [[SpanLen]] consecutive words).
    * Every span that occurs more than once corpus-wide is kept only at its
    * first occurrence — (doc_id, span_idx)-minimal — and removed everywhere
    * else; documents are rebuilt from their surviving spans in order.
    *
    * Scale shape: the span-hash shuffle carries ONLY (doc_id, span_idx,
    * 32-hex md5) — never span text (at 100 TB the text is the corpus; the
    * hash stream is ~50 bytes/span). Both the occurrence count and the
    * first-occurrence key come from one window exchange on h (the
    * [[substringDup]] single-pass discipline). The drop-lists then flow back
    * to the documents on a doc_id-keyed join — only docs that actually lose
    * a span appear on the build side, so the common case broadcasts — and
    * reassembly is a pure map-side HOF re-derivation (filter surviving span
    * indexes, re-slice the word array): document text moves through ZERO
    * wide exchanges end-to-end.
    */
  val SpanLen = 10

  def spanClean(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_spans", expr(s"(n_words + ${SpanLen - 1}) div $SpanLen"))
    val spans = base.select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
          i => array_join(
            slice(col("w"), (i * SpanLen + 1).cast("int"), lit(SpanLen)), " ")))
          .as(Seq("pos0", "span_text")))
      .select(col("doc_id"), col("pos0").cast("long").as("span_idx"),
        md5(col("span_text")).as("h"))
    val byHash = Window.partitionBy(col("h"))
    // first occurrence = lexicographic min of (doc_id, span_idx) — a struct
    // min, not an arithmetic encoding, so no silent overflow for documents
    // with pathologically many spans
    val drops = spans
      .withColumn("occ", count(lit(1)).over(byHash))
      .withColumn("keep",
        min(struct(col("doc_id"), col("span_idx"))).over(byHash))
      .filter(col("occ") > 1 &&
        struct(col("doc_id"), col("span_idx")) =!= col("keep"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("span_idx"))).as("drop_idx"))
    base.join(drops, Seq("doc_id"), "left")
      .withColumn("kept",
        filter(sequence(lit(0L), col("n_spans") - 1),
          i => col("drop_idx").isNull || !array_contains(col("drop_idx"), i)))
      .withColumn("clean_text", array_join(flatten(transform(col("kept"),
        i => slice(col("w"), (i * SpanLen + 1).cast("int"), lit(SpanLen)))), " "))
      .select(col("doc_id"), col("n_spans"),
        coalesce(size(col("drop_idx")), lit(0)).cast("long").as("n_dropped"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for the BATCH form of the incremental admission gate
    * ([[graft.streaming.Streams.dedupBatch]] run once): documents matching
    * `batchPred` are the new batch, the rest are the existing corpus. A
    * batch doc is admitted iff no LSH band of its MinHash signature
    * collides with any corpus doc's band, nor with any LOWER-id batch
    * doc's (the deterministic first-wins policy the streaming oracle
    * unrolls per micro-batch). Docs too short to sign (< ShingleK words)
    * carry no bands and are admitted — identical in both engines.
    */
  def sqlAdmitBatch(batchPred: String => String): String = {
    val sigDefs = (0 until MinhashK).map(j =>
      s"${sqlMinhashSig("hs", j)} AS sig$j").mkString(",\n    ")
    val bandRows = (0 until MinhashK / BandSize).map { b =>
      val key = (b * BandSize until (b + 1) * BandSize)
        .map(j => s"CAST(sig$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH wordhashed AS (
       |  SELECT doc_id, ${sqlWordHashes("text")} AS wh FROM documents
       |  WHERE len(${sqlWords("text")}) >= $ShingleK
       |), hashed AS (
       |  SELECT doc_id, ${sqlShingleHashes("wh", ShingleK)} AS hs
       |  FROM wordhashed
       |), sigs AS (
       |  SELECT doc_id,
       |    $sigDefs
       |  FROM hashed
       |), bands AS (
       |  $bandRows
       |), share AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id <> b.doc_id
       |)
       |SELECT d.doc_id FROM documents d
       |WHERE ${batchPred("d.doc_id")}
       |  AND NOT EXISTS (SELECT 1 FROM share s
       |    WHERE s.db = d.doc_id AND NOT ${batchPred("s.da")})
       |  AND NOT EXISTS (SELECT 1 FROM share s
       |    WHERE s.db = d.doc_id AND ${batchPred("s.da")}
       |      AND s.da < d.doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  def sqlSpanClean: String =
    s"""WITH b AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    (CAST(len(string_split(text, ' ')) AS BIGINT) + ${SpanLen - 1})
       |      // $SpanLen AS n_spans
       |  FROM documents
       |), sp AS (
       |  SELECT doc_id, i,
       |    md5(array_to_string(
       |      list_slice(w, i * $SpanLen + 1, i * $SpanLen + $SpanLen), ' '))
       |      AS h
       |  FROM (SELECT doc_id, w, unnest(range(0, n_spans)) AS i FROM b)
       |), k AS (
       |  SELECT doc_id, i,
       |    COUNT(*) OVER (PARTITION BY h) AS occ,
       |    -- rn = 1 <=> lexicographic-min (doc_id, i): mirrors the Spark
       |    -- side's min(struct(doc_id, span_idx)) first-occurrence key
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
       |  FROM sp
       |), dl AS (
       |  SELECT doc_id, list_sort(list(i)) AS drop_idx
       |  FROM k WHERE occ > 1 AND rn > 1
       |  GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_spans,
       |  CAST(coalesce(len(drop_idx), 0) AS BIGINT) AS n_dropped,
       |  -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
       |  -- array_join([]) is '' — a fully-deduplicated doc must agree
       |  coalesce(array_to_string(flatten(list_transform(
       |    list_filter(range(0, b.n_spans),
       |      i -> drop_idx IS NULL OR NOT list_contains(drop_idx, i)),
       |    i -> list_slice(w, i * $SpanLen + 1, i * $SpanLen + $SpanLen))),
       |    ' '), '') AS clean_text
       |FROM b LEFT JOIN dl USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
