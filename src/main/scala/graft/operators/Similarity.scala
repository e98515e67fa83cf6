package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the exactness baseline, LSH-bucketed ANN as the scale
  * path, and cosine near-duplicate pairs.
  *
  * Determinism across engines: elements are cast float→double BEFORE any
  * arithmetic (exact widening), the dot product is a left-to-right fold with
  * explicit 0.0 init (Spark `aggregate` ↔ DuckDB `list_reduce(list_prepend)`),
  * and sqrt/division are single correctly-rounded IEEE ops — so cosine values
  * are bit-identical and ranking never diverges. Scores are rounded only in
  * the OUTPUT projection, after ranking.
  *
  * Scale notes: brute force is O(|Q|·N) — fine for a bounded query set but
  * not for all-pairs; the ANN variant buckets by random-hyperplane signs so
  * the join is hash-partitioned on the bucket key. At 100 TB the bucket key
  * (and an IVF coarse quantizer as the next step) keeps each partition's
  * candidate set memory-resident; the fold expression itself is codegen'd.
  */
object Similarity {

  import graft.functions.VectorExprs

  /** Left-to-right fold dot product of two float-array columns, in double —
    * the built-in-composition reference form. The hot paths use the
    * codegen'd native expression [[graft.functions.DotProductFloat]], which
    * is bit-identical (same order, same widening) but loops over primitive
    * arrays with no per-pair allocation.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Native-expression dot; requires VectorExprs.register on the session
    * (public ops below do it).
    */
  private def ndot(a: Column, b: Column): Column = VectorExprs.dotF(a, b)

  def sqlDot(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${dim + 1}),
       |        i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"""
      .stripMargin

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def sqlCosine(a: String, b: String, dim: Int): String =
    s"""(${sqlDot(a, b, dim)}
       |  / (sqrt(${sqlDot(a, a, dim)})
       |   * sqrt(${sqlDot(b, b, dim)})))""".stripMargin

  val Dim = 64
  val NQueries = 5      // query set: vec_id < NQueries
  val TopK = 10

  /** Norm is computed ONCE per vector (map-side, before any join) — per-pair
    * cosine is then one dot + one multiply + one divide. sqrt(dot(v,v)) per
    * row produces the identical double the per-pair form would, so oracles
    * written either way agree.
    */
  def withNorm(df: DataFrame, v: String): DataFrame = {
    VectorExprs.register(df.sparkSession)
    df.withColumn("norm", sqrt(ndot(col(v), col(v))))
  }

  // ------------------------------------------------------- brute-force topk
  def bruteTopK(emb: DataFrame): DataFrame = {
    val q = withNorm(emb.filter(col("vec_id") < NQueries), "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val c = withNorm(emb, "embedding")
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlBruteTopK: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS cand_id,
       |    ${sqlCosine("q.qv", "e.embedding", Dim)} AS cos
       |  FROM q JOIN embeddings e ON q.query_id <> e.vec_id
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Truncated dimensions for [[dimSweepRecall]] — nested power-of-two
    * prefixes of the embedding.
    */
  val MrlDims: Seq[Int] = Seq(16, 32, 64)

  /** Matryoshka-style truncated-dimension sweep (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022, popularized the
    * pattern; the measurement itself is plain prefix-dim ANN): recall@k
    * of brute-force search over only the FIRST d dimensions against the
    * full-dim exact ranking — the curve that decides how far a deployment
    * can truncate stored vectors (4× memory cut at Dim/4) before recall
    * falls off. Pure composition: slice, then the same ranking and the
    * same matched-depth recall as `sim_recall`. Scale shape: each sweep
    * point is a |Q|-bounded query-side pass; candidate vectors are read
    * once per point with the projection pruned to the sliced prefix.
    */
  def dimSweepRecall(emb: DataFrame): DataFrame = {
    val exact = bruteTopK(emb).filter(col("rk") <= AnnTopK)
    MrlDims.map { d =>
      recallAtK(exact,
        bruteTopK(emb.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding")))
          .filter(col("rk") <= AnnTopK))
        .select(lit(d.toLong).as("dim"), col("query_id"), col("recall"))
    }.reduce(_ unionByName _)
      .orderBy(col("dim"), col("query_id"))
  }

  /** [[sqlBruteTopK]] over only the first `dim` components. */
  def sqlBruteTopKAt(dim: Int): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS cand_id,
       |    ${sqlCosine("q.qv", "e.embedding", dim)} AS cos
       |  FROM q JOIN embeddings e ON q.query_id <> e.vec_id
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  def sqlDimSweep: String = {
    val approxCtes = MrlDims.map { d =>
      s"""a$d AS (
         |  SELECT query_id, cand_id FROM (
         |    ${sqlBruteTopKAt(d).linesIterator.mkString("\n    ")}
         |  ) WHERE rk <= $AnnTopK
         |)""".stripMargin
    }.mkString(",\n")
    val recallRows = MrlDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, e.query_id,
         |    CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |  FROM ex e LEFT JOIN a$d a
         |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id
         |  GROUP BY e.query_id""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ex AS (
       |  SELECT query_id, cand_id FROM (
       |    ${sqlBruteTopKAt(Dim).linesIterator.mkString("\n    ")}
       |  ) WHERE rk <= $AnnTopK
       |),
       |$approxCtes
       |SELECT dim, query_id, recall FROM (
       |  $recallRows
       |) ORDER BY dim, query_id""".stripMargin
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * metric an ANN index is tuned by (raise nprobe / planes until recall
    * clears the target). Both inputs are (query_id, cand_id, ...) top-k
    * frames; output is the hit fraction per query. The division is ONE
    * exact-int-over-exact-int double op, so the oracle hash-matches
    * (suite convention: never ROUND after a division).
    *
    * Scale shape: both sides are |Q| × k rows (the bounded query set,
    * not the corpus) — the join and aggregate are negligible next to
    * producing either ranking.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("cand_id"))
      .join(approx.select(col("query_id"), col("cand_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
        count(lit(1)).cast("double")).as("recall"))
      .orderBy(col("query_id"))

  def sqlRecall(exactSql: String, approxSql: String): String =
    s"""WITH exact_r AS (
       |  ${exactSql.linesIterator.mkString("\n  ")}
       |), approx_r AS (
       |  ${approxSql.linesIterator.mkString("\n  ")}
       |)
       |SELECT e.query_id,
       |  CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
       |       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM exact_r e LEFT JOIN approx_r a
       |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin

  // ------------------------------------------------------------ LSH ANN
  /** Random-hyperplane LSH (Charikar 2002, SimHash family applied to
    * real vectors): hyperplane j has integer coefficients
    * ((i*37 + j*101) mod 7) - 3 — deterministic, exactly representable, so
    * the sign of the projection is bit-stable in every engine.
    */
  val NPlanes = 4
  val AnnTopK = 5

  private def planeCoef(i: Int, j: Int): Int = ((i * 37 + j * 101) % 7) - 3

  /** Bucket id = bits of sign(v · r_j), planes `off..off+NPlanes-1`. */
  private def lshBucketAt(v: Column, off: Int): Column =
    (0 until NPlanes).map { j =>
      val proj = aggregate(
        zip_with(v, array((0 until Dim).map(i =>
          lit(planeCoef(i, j + off))): _*),
          (x, c) => x.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  def lshBucket(v: Column): Column = lshBucketAt(v, 0)

  /** Second, independent hyperplane bucketing (plane ids
    * [[NPlanes]]..2·[[NPlanes]]−1) — the hash behind [[nswWalkCached]]'s
    * cross-partition edge set.
    */
  def lshBucket2(v: Column): Column = lshBucketAt(v, NPlanes)

  private def sqlLshBucketAt(v: String, off: Int): String =
    (0 until NPlanes).map { j =>
      val coefs = (0 until Dim).map(planeCoef(_, j + off)).mkString(", ")
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, ${Dim + 1}),
         |      i -> $v[i]::DOUBLE * ([$coefs][i])::DOUBLE)),
         |    (x, y) -> x + y) >= 0 THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString("\n + ")

  def sqlLshBucket(v: String): String = sqlLshBucketAt(v, 0)
  def sqlLshBucket2(v: String): String = sqlLshBucketAt(v, NPlanes)

  def annTopK(emb: DataFrame): DataFrame = {
    val bucketed = withNorm(emb, "embedding").select(col("vec_id"),
      col("embedding"), col("norm"), lshBucket(col("embedding")).as("bucket"))
    val q = bucketed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("norm").as("cn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlAnnTopK: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${sqlCosine("q.embedding", "c.embedding", Dim)} AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NQueries
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM ranked WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin

  // ------------------------------------------------------ multi-probe LSH
  /** Multi-probe LSH top-k (Lv-Josephson-Wang-Charikar-Li, "Multi-probe
    * LSH: efficient indexing for high-dimensional similarity search",
    * VLDB 2007): instead of more hash tables, each query ALSO probes the
    * buckets whose codes differ from its own in one hyperplane bit — the
    * perturbation set §4.1 restricted to Hamming distance 1, which for
    * sign-random-projection LSH is exactly "the neighboring cells across
    * one hyperplane". Recall rises because near neighbors that straddle
    * a single plane (the dominant LSH miss mode) land in those cells;
    * cost rises linearly with the probe count, never table count.
    * Measured here: the 1-probe route ([[annTopK]]) scores recall@5 of
    * 0 on several fixture queries (the query's true neighbors straddle
    * a plane); 5 probes lift the mean to ~0.6 — spec-pinned per-query
    * monotone in `Round6Session6Spec`.
    *
    * Scale shape: identical to [[annTopK]] with the QUERY side exploded
    * ×(1+[[NPlanes]]) before the same bucket-equality join — the corpus
    * side is untouched (each candidate still sits in ONE bucket, so no
    * dedup pass is needed), and the probe fan rides the small side of
    * the join.
    */
  def multiprobeTopK(emb: DataFrame): DataFrame = {
    val bucketed = withNorm(emb, "embedding").select(col("vec_id"),
      col("embedding"), col("norm"), lshBucket(col("embedding")).as("bucket"))
    val q = bucketed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"), col("bucket"),
        explode(array((0 to NPlanes).map(j =>
          lit(if (j == 0) 0 else 1 << (j - 1))): _*)).as("flip"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    val c = bucketed.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("norm").as("cn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlMultiprobeTopK: String = {
    val flips = (0 +: (0 until NPlanes).map(1 << _)).mkString(", ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM embeddings
       |), qp AS (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |    xor(bucket, f.flip) AS bucket
       |  FROM b, (SELECT unnest([$flips]) AS flip) f
       |  WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT qp.query_id, c.vec_id AS cand_id,
       |    ${sqlCosine("qp.qv", "c.embedding", Dim)} AS cos
       |  FROM qp JOIN b c ON qp.bucket = c.bucket AND qp.query_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM ranked WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  // ----------------------------------------------------------- k-NN graph
  /** Approximate k-NN graph over the WHOLE collection — every vector's
    * [[KnnGraphK]] nearest within-bucket neighbors plus a `mutual` flag
    * (edge reciprocated in the other direction). The k-NN graph is the
    * input structure for graph-based semantic clustering and for
    * NN-Descent-style refinement (Dong et al., "Efficient k-nearest
    * neighbor graph construction for generic similarity measures",
    * WWW 2011); [[semanticDedup]] is the thresholded special case.
    *
    * Scale shape: identical to [[annTopK]] with the query side widened to
    * the full collection — candidate generation stays within LSH buckets
    * (ONE hash-partitioned equi join, never all-pairs), norms are
    * computed once map-side, the per-src top-k runs as a rank-filter
    * window (WindowGroupLimit pushes the cut before the final sort), and
    * the mutual flag is one self-join of the k·N edge list on its
    * reversed key — edge-list-sized, not candidate-sized.
    */
  val KnnGraphK = 3

  /** The LSH-bucketed kNN edge list (src, rk, dst, cos) — the shared
    * subtree of [[knnGraph]] and [[nswWalkCached]]. Pinned: both consumers
    * read it at least twice within their own plans, and the suite memo
    * ([[knnEdgesCached]]) builds it once per (session, `emb`).
    */
  private[graft] def knnEdges(emb: DataFrame): DataFrame =
    knnEdgesWith(emb, lshBucket(col("embedding")))

  private[graft] def knnEdgesWith(emb: DataFrame,
      bucketExpr: Column): DataFrame = {
    val bucketed = withNorm(emb, "embedding").select(col("vec_id"),
      col("embedding"), col("norm"), bucketExpr.as("bucket"))
    val a = bucketed.select(col("vec_id").as("src"), col("embedding").as("av"),
      col("norm").as("an"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("dst"), col("embedding").as("bv"),
      col("norm").as("bn"), col("bucket"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    a.join(b, Seq("bucket")).filter(col("src") =!= col("dst"))
      .withColumn("cos", ndot(col("av"), col("bv")) / (col("an") * col("bn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnGraphK)
      .select(col("src"), col("rk"), col("dst"), col("cos"))
      // both sides of knnGraph's mutual self-join (and every NSW walk
      // round) read this k·N edge list; without materialization the
      // bucket join + scoring + rank window execute once per consumer
      // (ReuseExchange dedups at most the shuffle)
      .transform(Iterate.pin)
  }

  /** [[knnEdges]] memoized per (session, `emb`) — `sim_knn_graph`
    * and `sim_nsw_walk` read the same physical edge list in a suite run.
    */
  def knnEdgesCached(emb: DataFrame): DataFrame =
    graft.Memo(emb.sparkSession, "sim.knn", emb)(knnEdges(emb))

  /** The second-hash edge list ([[lshBucket2]]) memoized per (session,
    * `emb`) — both `sim_nsw_*` registrations read one copy.
    */
  def knnEdges2Cached(emb: DataFrame): DataFrame =
    graft.Memo(emb.sparkSession, "sim.lsh2", emb)(
      knnEdgesWith(emb, lshBucket2(col("embedding"))))

  def knnGraph(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("rev"))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("rk"), col("dst"),
        col("cos").as("cos_sim"),
        coalesce(col("rev"), lit(false)).as("mutual"))
      .orderBy(col("src"), col("rk"))
  }

  def sqlKnnGraph: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS src, c.vec_id AS dst,
       |    ${sqlCosine("q.embedding", "c.embedding", Dim)} AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), edges AS (
       |  SELECT src, rk, dst, cos FROM (
       |    SELECT src, dst, cos,
       |      ROW_NUMBER() OVER (PARTITION BY src
       |                         ORDER BY cos DESC, dst) AS rk
       |    FROM scored
       |  ) WHERE rk <= $KnnGraphK
       |)
       |SELECT e.src, e.rk, e.dst, e.cos AS cos_sim,
       |  (r.src IS NOT NULL) AS mutual
       |FROM edges e LEFT JOIN edges r ON e.src = r.dst AND e.dst = r.src
       |ORDER BY e.src, e.rk""".stripMargin

  // ------------------------------------------------ graph-walk ANN (NSW)
  /** Greedy beam search over the kNN graph — the navigable-small-world
    * search primitive (Malkov et al., "Approximate nearest neighbor
    * algorithm based on navigable small world graphs", Inf. Systems 2014
    * §3; the single-layer ancestor of HNSW): start every query at a fixed
    * entry node, repeatedly expand the current beam's out-neighbors in
    * the SYMMETRIZED kNN graph, keep the [[NswBeam]] best by true cosine,
    * and answer top-[[AnnTopK]] from everything visited. The graph-walk
    * route is the third ANN family beside hashing (LSH) and partitioning
    * (IVF): no cells, no codes — candidate quality comes from the graph's
    * navigability, and per-query cost is rounds·beam·degree vertex
    * touches instead of a cell scan.
    *
    * Navigability (two structural fixes, both measured necessary):
    * [[knnEdges]] links vectors only WITHIN an LSH bucket, so that graph
    * alone is a disjoint union of ≤2^[[NPlanes]] components and a
    * single-entry walk can never leave the entry's bucket (measured:
    * recall 0.0 at every query). (1) The walk graph is therefore the
    * UNION of two edge sets built under INDEPENDENT hyperplane hashes
    * ([[lshBucket]] / [[lshBucket2]]): two different partitions of the
    * sphere cross each other's boundaries, the deterministic stand-in
    * for NSW's long-range links from early insertions (Malkov §4 — and
    * the standard multi-table LSH coverage trick). (2) Entries descend
    * through a TWO-LEVEL pivot hierarchy, as in HNSW: every vector with
    * `vec_id % `[[NswPivotMod]]` = 0` is a layer-1 pivot and every
    * vector with `vec_id % `[[NswL2Mod]]` = 0` a layer-2 pivot
    * (fixed-rate stand-ins for the exponential level draw). Each query
    * scans only the layer-2 tier exhaustively (|P₂| = N/[[NswL2Mod]]),
    * its top-beam seeds take one greedy expand-and-rank round through
    * the layer-1 pivot graph ([[pivotSym]] — the same two-hash kNN
    * construction restricted to pivots), and the resulting beam seeds
    * the base-layer walk. Entry cost is sublinear at every level; a
    * deeper corpus stacks more layers, same plan shape.
    *
    * Determinism (what makes it oracle-expressible): pivot membership is
    * arithmetic (no random level draw), rounds are pinned at
    * [[NswRounds]], and beam/final ranks tie by node id. The oracle
    * unrolls the identical rounds over the identical edge list.
    *
    * Scale shape: the edge list is the memoized [[knnEdgesCached]] frame
    * (built once per suite, LSH-bucketed — never all-pairs). Entry is
    * HIERARCHICAL (two fixed layers, HNSW's descent): the exhaustive scan
    * touches only the layer-2 tier (`vec_id % `[[NswL2Mod]]` = 0`,
    * |P₂| = N/[[NswL2Mod]]), and one greedy expand-and-rank round over
    * the LAYER-1 PIVOT GRAPH ([[pivotSymCached]] — the same two-hash kNN
    * construction restricted to the N/[[NswPivotMod]] pivot tier) refines
    * those seeds into the base-layer entry beam. Entry cost is
    * O(|P₂| + beam·deg₁) per query instead of a flat O(|P₁|) tier scan —
    * sublinear in the corpus at every level, and a third layer is the
    * same plan shape again (filter tighter, one more descent round).
    * Each base round then joins a |Q|·beam frontier (broadcast) against
    * edges keyed by src and scores |Q|·beam·k rows map-side. Nothing
    * rescans the corpus: after the one-time graph build, a query touches
    * O(|P₂| + beam·deg₁ + rounds·beam·k) vertices — the property that
    * makes graph ANN the billion-scale in-memory route.
    */
  val NswBeam = 8
  val NswRounds = 3
  val NswPivotMod = 16 // layer-1 pivots: vec_id % NswPivotMod == 0
  val NswTierFanout = 4 // each higher tier keeps 1/fanout of the previous
  val NswL2Mod = NswPivotMod * NswTierFanout // layer-2 pivots
  /** Max nodes in the TOP tier — the one tier each query scans
    * exhaustively, so its size is the walk's only linear entry cost. */
  val NswTierScanMax = 40

  /** The tier ladder as a function of corpus size |V| (round 8 — the
    * generalization of the fixed two-level entry): tier i keeps every
    * `NswPivotMod`·`NswTierFanout`^(i−1)-th vector (the fixed-rate
    * stand-in for HNSW's exponential level draw), the ladder always has
    * the HNSW-minimum two levels, and STACKS another while the top tier
    * still holds more than [[NswTierScanMax]] nodes. The fixture sizes
    * (500–2000 vectors) produce exactly the historical (16, 64) ladder —
    * which is what the static SQL oracles unroll — and a deeper corpus
    * adds tiers with the same plan shape (one more pivot graph, one more
    * greedy descent round); `Round8Spec` pins a 4096-vector corpus
    * planning three tiers.
    */
  def nswTierMods(n: Long): Seq[Int] = {
    var mods = Vector(NswPivotMod, NswL2Mod)
    while (n / mods.last > NswTierScanMax)
      mods = mods :+ mods.last * NswTierFanout
    mods
  }

  /** A tier's pivot graph: the SAME two-hash kNN construction as the
    * base layer, restricted to the tier (`vec_id % mod = 0`),
    * symmetrized. N/mod nodes, so the one-time build is 1/mod² of the
    * base edge-list cost.
    */
  private[graft] def pivotSymAt(emb: DataFrame, mod: Int): DataFrame = {
    val piv = emb.filter(col("vec_id") % mod === 0)
    val e = knnEdgesWith(piv, lshBucket(col("embedding")))
      .select(col("src"), col("dst"))
      .unionByName(knnEdgesWith(piv, lshBucket2(col("embedding")))
        .select(col("src"), col("dst")))
    e.select(col("src").as("node"), col("dst"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("dst")))
      .distinct()
      .transform(Iterate.pin)
  }

  /** [[pivotSymAt]] memoized per (session, `emb`, tier mod) — all
    * `sim_nsw_*` registrations descend through one physical pivot graph
    * per tier. */
  def pivotSymCached(emb: DataFrame, mod: Int = NswPivotMod): DataFrame =
    graft.Memo(emb.sparkSession, s"sim.l1sym:$mod", emb)(
      pivotSymAt(emb, mod))

  /** Corpus size memo (one parquet row-count per fixture) feeding the
    * data-driven tier ladder. */
  def nswModsCached(emb: DataFrame): Seq[Int] = {
    val n = graft.Memo.untimed[java.lang.Long](emb.sparkSession, "sim.n", emb)(
      Long.box(emb.count()))
    val mods = nswTierMods(n)
    // Only the registry (oracled) route resolves the ladder through this
    // memo, and the sim_nsw_* SQL oracles statically unroll the
    // two-tier (NswPivotMod, NswL2Mod) ladder. A fixture big enough to
    // plan a third tier (≥ NswTierScanMax·NswL2Mod = 2560 vectors) would
    // silently diverge from its oracle — fail loudly instead, naming the
    // fix. A larger corpus composes the walk from the uncached builders
    // (nswTierMods, pivotSymAt, nswEntry, nswVisited) and is not gated.
    require(mods == Seq(NswPivotMod, NswL2Mod),
      s"NSW tier ladder for a $n-vector corpus is $mods, but the " +
        s"sim_nsw_* SQL oracles unroll the static (${NswPivotMod}, " +
        s"${NswL2Mod}) ladder — regenerate the oracles from the computed " +
        "ladder (sqlNswWalk/sqlNswBeamSweep) before enlarging the fixture")
    mods
  }

  /** The DESCENT graphs (all tiers below the top, sparsest first), each
    * memoized per (session, `emb`, mod). */
  def pivotSymsCached(emb: DataFrame): Seq[DataFrame] =
    nswModsCached(emb).init.reverse.map(m => pivotSymCached(emb, m))

  /** Query vectors and normed corpus — the map-side frames every NSW
    * stage scores against. */
  private[graft] def nswQCorpus(emb: DataFrame): (DataFrame, DataFrame) = {
    val n = withNorm(emb, "embedding")
    val q = n.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val corpus = n.select(col("vec_id").as("node"),
      col("embedding").as("nv"), col("norm").as("nn"))
    (q, corpus)
  }

  /** Symmetrize the union of two directed edge lists (NSW search walks
    * edges in both directions), pinned. */
  private[graft] def symmetrized(e1: DataFrame, e2: DataFrame): DataFrame = {
    val e = e1.select(col("src"), col("dst"))
      .unionByName(e2.select(col("src"), col("dst")))
    e.select(col("src").as("node"), col("dst"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("dst")))
      .distinct()
      .transform(Iterate.pin)
  }

  /** The symmetrized base walk graph memoized per (session, `emb`) —
    * `sim_nsw_walk`, `sim_nsw_recall` and `sim_nsw_sweep` all expand
    * through ONE physical frame instead of re-materializing the union
    * per query. */
  def nswSymCached(emb: DataFrame): DataFrame = {
    // dependencies resolved outside the build: their build time is not
    // this memo's
    val e1 = knnEdgesCached(emb)
    val e2 = knnEdges2Cached(emb)
    graft.Memo(emb.sparkSession, "sim.nswsym", emb)(symmetrized(e1, e2))
  }

  /** The exact brute-force top-[[AnnTopK]] truth set memoized per
    * (session, `emb`) — every `sim_*_recall` query and the sweep
    * compare against ONE pinned ranking instead of re-scoring the
    * corpus per query. */
  def bruteTruthCached(emb: DataFrame): DataFrame =
    graft.Memo.pinned(emb.sparkSession, "sim.brute", emb)(
      bruteTopK(emb).filter(col("rk") <= AnnTopK)
        .select(col("query_id"), col("cand_id")))

  private def nswScore(q: DataFrame, corpus: DataFrame)(
      frontier: DataFrame): DataFrame =
    frontier.join(corpus, Seq("node")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("node"),
        (ndot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))

  /** Beam-tagged scoring: like [[nswScore]] but the frontier carries a
    * `beam` column (the sweep point the row belongs to) which rides
    * through unchanged — all sweep points score in ONE map-side pass. */
  private def nswScoreB(q: DataFrame, corpus: DataFrame)(
      frontier: DataFrame): DataFrame =
    frontier.join(corpus, Seq("node")).join(broadcast(q), Seq("query_id"))
      .select(col("beam"), col("query_id"), col("node"),
        (ndot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))

  /** Per-(beam, query) rank window: each sweep point is its own window
    * group, so every beam's walk advances in the SAME physical window
    * pass. */
  private def wBeamB: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("beam"), col("query_id"))
      .orderBy(col("cos").desc, col("node"))

  /** The hierarchical entry's SHARED stage: every layer-2 pivot scored
    * against every query, ranked — beam-INDEPENDENT, so [[nswBeamSweepCached]]
    * computes it once and every sweep point rank-filters the one pinned
    * frame. |Q| · N/[[NswL2Mod]] rows, the only exhaustive scan in the
    * walk.
    */
  private[graft] def nswEntryScored(q: DataFrame, corpus: DataFrame,
      topMod: Int): DataFrame =
    nswScore(q, corpus)(q.select(col("query_id"))
        .crossJoin(corpus.filter(col("node") % topMod === 0)
          .select(col("node"))))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("node"))))
      .select(col("query_id"), col("node"), col("rk"))
      .transform(Iterate.pin)

  /** The entry descent for ALL requested beams at once: each beam's
    * top-`b` layer-2 seeds expand one greedy round through the layer-1
    * pivot graph and re-rank by true cosine — HNSW's upper-layer descent
    * with a fixed round count (deterministic, so the oracle unrolls it
    * verbatim). The seeds stay in the candidate set (greedy keeps the
    * current best when no neighbor improves). Output is beam-tagged:
    * (beam, query_id, node).
    */
  private[graft] def nswEntry(entryScored: DataFrame, descent: Seq[DataFrame],
      q: DataFrame, corpus: DataFrame, beams: Seq[Int]): DataFrame = {
    var cur = beams.map(b => entryScored.filter(col("rk") <= b)
        .select(lit(b).as("beam"), col("query_id"), col("node")))
      .reduce(_ unionByName _)
    // one greedy expand-and-rank round per descent tier, sparsest graph
    // first — the fixture ladder has exactly one round (the historical
    // two-level entry); a deeper corpus folds through more tiers with
    // the identical per-round plan shape
    for (g <- descent) {
      val x = cur.unionByName(cur.join(g, Seq("node"))
          .select(col("beam"), col("query_id"), col("dst").as("node")))
        .distinct()
      cur = nswScoreB(q, corpus)(x)
        .withColumn("rk", row_number().over(wBeamB))
        .filter(col("rk") <= col("beam"))
        .select(col("beam"), col("query_id"), col("node"))
        .transform(Iterate.pin)
    }
    cur
  }

  /** The walk's visited set (beam, query_id, node), every beam advancing
    * in LOCKSTEP: the sweep's three beam widths ride one pin chain
    * (4 eager jobs total) instead of one chain per beam — the rank
    * filter is per-row (`rk <= beam`), so each sweep point still cuts at
    * its own width inside the shared window pass. The FINAL round's beam
    * pick is never consumed (only the expanded set reaches `visited`),
    * so it is skipped outright. Only the per-round CAND frame and the
    * final set are pinned: `expanded` derives from cand by one tiny
    * in-memory join, cheaper recomputed than materialized.
    */
  private[graft] def nswVisited(sym: DataFrame, q: DataFrame, corpus: DataFrame,
      entry: DataFrame): DataFrame = {
    val score = nswScoreB(q, corpus) _
    var cand = entry
    var visited = cand
    for (r <- 1 to NswRounds) {
      val expanded = cand
        .unionByName(cand.join(sym, Seq("node"))
          .select(col("beam"), col("query_id"), col("dst").as("node")))
        .distinct()
      visited = visited.unionByName(expanded)
      if (r < NswRounds)
        cand = score(expanded)
          .withColumn("rk", row_number().over(wBeamB))
          .filter(col("rk") <= col("beam"))
          .select(col("beam"), col("query_id"), col("node"))
          .transform(Iterate.pin)
    }
    // pinned: the sweep consumes the visited set TWICE (n_visited count +
    // final scoring); without the pin each consumer re-runs the whole
    // union-of-expansions tree
    Iterate.pin(visited.distinct())
  }

  /** [[nswEntryScored]] memoized per (session, `emb`); the top mod
    * rides the key so a fixture-size change can never serve a stale
    * tier scan. */
  def nswEntryScoredCached(emb: DataFrame): DataFrame = {
    val topMod = nswModsCached(emb).last
    graft.Memo(emb.sparkSession, s"sim.nswentry:$topMod", emb) {
      val (q, corpus) = nswQCorpus(emb)
      nswEntryScored(q, corpus, topMod)
    }
  }

  /** The beam-[[NswBeam]] visited set (query_id, node) memoized per
    * (session, `emb`) — `sim_nsw_walk` and `sim_nsw_recall` run the
    * SAME deterministic walk, so the second consumer reuses the pinned
    * set and pays only its own final scoring pass. */
  def nswVisitedCached(emb: DataFrame): DataFrame = {
    // dependencies resolved outside the build: their build time is not
    // this memo's
    val es = nswEntryScoredCached(emb)
    val descent = pivotSymsCached(emb)
    val sym = nswSymCached(emb)
    graft.Memo(emb.sparkSession, "sim.nswvis", emb) {
      val (q, corpus) = nswQCorpus(emb)
      // beam is the constant NswBeam: dropping it keeps the set distinct
      nswVisited(sym, q, corpus,
        nswEntry(es, descent, q, corpus, Seq(NswBeam))).drop("beam")
    }
  }

  /** Final answer from a visited set: score, drop self, top-[[AnnTopK]]. */
  private[graft] def nswFinal(q: DataFrame, corpus: DataFrame,
      visited: DataFrame): DataFrame = {
    val wFin = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    nswScore(q, corpus)(visited)
      .filter(col("node") =!= col("query_id"))
      .withColumn("rk", row_number().over(wFin))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("node").as("cand_id"),
        col("cos").as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Graph-walk ANN answer: every shared artifact (edge lists, pivot
    * graph, entry scan, visited set) memoized per (session, `emb`), so
    * the walk itself is one scoring pass over the pinned visited set. */
  def nswWalkCached(emb: DataFrame): DataFrame = {
    val (q, corpus) = nswQCorpus(emb)
    nswFinal(q, corpus, nswVisitedCached(emb))
  }

  /** Beam-width sweep for the graph walk — recall@k AND vertices touched
    * per (beam, query): the tuning curve a graph-ANN deployment reads
    * before fixing ef/beam (Malkov-Yashunin's ef parameter study), the
    * NSW twin of `sim_recall_sweep`/`sim_probe_cost` on the IVF side.
    * `n_visited` is the honest cost axis: the walk scores exactly the
    * visited set, so recall-per-vertex-touched is read straight off the
    * two columns. Shares one pinned symmetric edge frame and ONE brute
    * truth frame across all sweep points.
    */
  val NswSweepBeams: Seq[Int] = Seq(2, 4, 8)

  /** The beam-width sweep over the memoized walk artifacts (edge lists,
    * pivot graphs, entry scan) and the memoized brute truth. */
  def nswBeamSweepCached(emb: DataFrame): DataFrame = {
    val (q, corpus) = nswQCorpus(emb)
    nswSweepFrom(nswSymCached(emb), pivotSymsCached(emb), q, corpus,
      nswEntryScoredCached(emb), bruteTruthCached(emb))
  }

  private def nswSweepFrom(sym: DataFrame, descent: Seq[DataFrame],
      q: DataFrame, corpus: DataFrame, entryScored: DataFrame,
      truth: DataFrame): DataFrame = {
    // ALL sweep points walk in lockstep through one beam-tagged chain
    val vis = nswVisited(sym, q, corpus,
      nswEntry(entryScored, descent, q, corpus, NswSweepBeams))
    val nVis = vis.groupBy(col("beam"), col("query_id"))
      .agg(count(lit(1)).as("n_visited"))
    val top = nswScoreB(q, corpus)(vis)
      .filter(col("node") =!= col("query_id"))
      .withColumn("rk", row_number().over(wBeamB))
      .filter(col("rk") <= AnnTopK)
      .select(col("beam"), col("query_id"), col("node").as("cand_id"))
    // recallAtK, beam-tagged: same join + exact-int-over-exact-int double
    // division, grouped by (beam, query) so one pass covers the sweep
    val truthB = NswSweepBeams.map(b =>
        truth.select(lit(b).as("beam"), col("query_id"), col("cand_id")))
      .reduce(_ unionByName _)
    val recall = truthB
      .join(top.withColumn("hit", lit(1)),
        Seq("beam", "query_id", "cand_id"), "left")
      .groupBy(col("beam"), col("query_id"))
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
        count(lit(1)).cast("double")).as("recall"))
    nVis.join(recall, Seq("beam", "query_id"))
      .select(col("beam"), col("query_id"), col("n_visited"), col("recall"))
      .orderBy(col("beam"), col("query_id"))
  }

  def sqlNswBeamSweep: String = {
    def beamCtes(b: Int): String = {
      val rounds = (1 to NswRounds).map { r =>
        val pick = if (r < NswRounds)
          s""", c${r}_$b AS (
             |  SELECT query_id, node FROM (
             |    SELECT x.query_id, x.node, ROW_NUMBER() OVER (
             |      PARTITION BY x.query_id
             |      ORDER BY ${sqlCosine("q.embedding", "e.embedding", Dim)
                               .linesIterator.mkString(" ")} DESC, x.node
             |    ) AS rk
             |    FROM x${r}_$b x
             |    JOIN embeddings e ON e.vec_id = x.node
             |    JOIN embeddings q ON q.vec_id = x.query_id
             |  ) WHERE rk <= $b
             |)""".stripMargin
        else ""
        s"""x${r}_$b AS (
           |  SELECT DISTINCT query_id, node FROM (
           |    SELECT query_id, node FROM c${r - 1}_$b
           |    UNION ALL
           |    SELECT c.query_id, s.dst AS node
           |    FROM c${r - 1}_$b c JOIN sym s ON c.node = s.src
           |  )
           |)$pick""".stripMargin
      }.mkString(",\n")
      val visUnion = (1 to NswRounds)
        .map(r => s"SELECT query_id, node FROM x${r}_$b")
        .mkString("\n    UNION\n    ")
      s"""$rounds,
         |vis_$b AS (
         |  SELECT query_id, node FROM c0_$b
         |  UNION
         |    $visUnion
         |), top_$b AS (
         |  SELECT query_id, node FROM (
         |    SELECT v.query_id, v.node, ROW_NUMBER() OVER (
         |      PARTITION BY v.query_id
         |      ORDER BY ${sqlCosine("q.embedding", "e.embedding", Dim)
                           .linesIterator.mkString(" ")} DESC, v.node
         |    ) AS rk
         |    FROM vis_$b v
         |    JOIN embeddings e ON e.vec_id = v.node
         |    JOIN embeddings q ON q.vec_id = v.query_id
         |    WHERE v.node <> v.query_id
         |  ) WHERE rk <= $AnnTopK
         |)""".stripMargin
    }
    val beamRows = NswSweepBeams.map { b =>
      s"""SELECT $b AS beam, nv.query_id, nv.n_visited, r.recall
         |  FROM (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_visited
         |        FROM vis_$b GROUP BY query_id) nv
         |  JOIN (SELECT e.query_id,
         |          CAST(SUM(CASE WHEN a.node IS NOT NULL THEN 1 ELSE 0 END)
         |               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |        FROM brute e LEFT JOIN top_$b a
         |          ON e.query_id = a.query_id AND e.cand_id = a.node
         |        GROUP BY e.query_id) r
         |    ON nv.query_id = r.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${sqlSymCtes("", "embeddings")},
       |pv AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % $NswPivotMod = 0
       |), ${sqlSymCtes("p", "pv")},
       |${sqlEntryCtes(NswSweepBeams)},
       |brute AS (
       |  SELECT query_id, cand_id FROM (
       |    ${sqlBruteTopK.linesIterator.mkString("\n    ")}
       |  ) WHERE rk <= $AnnTopK
       |),
       |${NswSweepBeams.map(beamCtes).mkString(",\n")}
       |SELECT beam, query_id, n_visited, recall FROM (
       |  $beamRows
       |) ORDER BY beam, query_id""".stripMargin
  }

  /** The two-hash symmetrized kNN edge CTEs over relation `rel`,
    * prefix-namespaced — shared verbatim by the base layer (`rel` =
    * embeddings) and the layer-1 pivot graph (`rel` = the pivot-filtered
    * tier), mirroring [[knnEdgesWith]] + [[pivotSym]].
    */
  private def sqlSymCtes(p: String, rel: String): String =
    s"""${p}b AS (
       |  SELECT vec_id, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM $rel
       |), ${p}scored AS (
       |  SELECT q.vec_id AS src, c.vec_id AS dst,
       |    ${sqlCosine("q.embedding", "c.embedding", Dim)} AS cos
       |  FROM ${p}b q JOIN ${p}b c
       |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), ${p}edges AS (
       |  SELECT src, rk, dst FROM (
       |    SELECT src, dst, cos,
       |      ROW_NUMBER() OVER (PARTITION BY src
       |                         ORDER BY cos DESC, dst) AS rk
       |    FROM ${p}scored
       |  ) WHERE rk <= $KnnGraphK
       |), ${p}b2 AS (
       |  SELECT vec_id, embedding,
       |    ${sqlLshBucket2("embedding")} AS bucket
       |  FROM $rel
       |), ${p}scored2 AS (
       |  SELECT q.vec_id AS src, c.vec_id AS dst,
       |    ${sqlCosine("q.embedding", "c.embedding", Dim)} AS cos
       |  FROM ${p}b2 q JOIN ${p}b2 c
       |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), ${p}edges2 AS (
       |  SELECT src, rk, dst FROM (
       |    SELECT src, dst, cos,
       |      ROW_NUMBER() OVER (PARTITION BY src
       |                         ORDER BY cos DESC, dst) AS rk
       |    FROM ${p}scored2
       |  ) WHERE rk <= $KnnGraphK
       |), ${p}sym AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM ${p}edges
       |    UNION ALL SELECT dst, src FROM ${p}edges
       |    UNION ALL SELECT src, dst FROM ${p}edges2
       |    UNION ALL SELECT dst, src FROM ${p}edges2
       |  )
       |)""".stripMargin

  /** The hierarchical-entry CTEs: the shared ranked layer-2 scan (`l2s`)
    * plus, per beam, the seed filter and one descent round through
    * `psym` — mirrors [[nswEntryScored]] + [[nswEntry]]. */
  private def sqlEntryCtes(beams: Seq[Int]): String = {
    val l2s =
      s"""l2s AS (
         |  SELECT q.vec_id AS query_id, p.vec_id AS node, ROW_NUMBER() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY ${sqlCosine("q.embedding", "p.embedding", Dim)
                         .linesIterator.mkString(" ")} DESC, p.vec_id
         |  ) AS rk
         |  FROM embeddings q, embeddings p
         |  WHERE q.vec_id < $NQueries AND p.vec_id % $NswL2Mod = 0
         |)""".stripMargin
    val perBeam = beams.map { b =>
      s"""c0_$b AS (
         |  SELECT query_id, node FROM (
         |    SELECT x.query_id, x.node, ROW_NUMBER() OVER (
         |      PARTITION BY x.query_id
         |      ORDER BY ${sqlCosine("q.embedding", "e.embedding", Dim)
                           .linesIterator.mkString(" ")} DESC, x.node
         |    ) AS rk
         |    FROM (SELECT DISTINCT query_id, node FROM (
         |        SELECT query_id, node FROM l2s WHERE rk <= $b
         |        UNION ALL
         |        SELECT l.query_id, s.dst AS node
         |        FROM (SELECT query_id, node FROM l2s WHERE rk <= $b) l
         |        JOIN psym s ON l.node = s.src)) x
         |    JOIN embeddings e ON e.vec_id = x.node
         |    JOIN embeddings q ON q.vec_id = x.query_id
         |  ) WHERE rk <= $b
         |)""".stripMargin
    }.mkString(",\n")
    s"$l2s,\n$perBeam"
  }

  def sqlNswWalk: String = {
    // per-round CTE pair: expand the beam through the symmetric edges,
    // then re-rank by true cosine to the query
    val rounds = (1 to NswRounds).map { r =>
      s"""x$r AS (
         |  SELECT DISTINCT query_id, node FROM (
         |    SELECT query_id, node FROM c${r - 1}
         |    UNION ALL
         |    SELECT c.query_id, s.dst AS node
         |    FROM c${r - 1} c JOIN sym s ON c.node = s.src
         |  )
         |), c$r AS (
         |  SELECT query_id, node FROM (
         |    SELECT x.query_id, x.node, ROW_NUMBER() OVER (
         |      PARTITION BY x.query_id
         |      ORDER BY ${sqlCosine("q.embedding", "e.embedding", Dim)
                           .linesIterator.mkString(" ")} DESC, x.node
         |    ) AS rk
         |    FROM x$r x
         |    JOIN embeddings e ON e.vec_id = x.node
         |    JOIN embeddings q ON q.vec_id = x.query_id
         |  ) WHERE rk <= $NswBeam
         |)""".stripMargin
    }.mkString(",\n")
    val visUnion = (1 to NswRounds).map(r => s"SELECT query_id, node FROM x$r")
      .mkString("\n    UNION\n    ")
    s"""WITH ${sqlSymCtes("", "embeddings")},
       |pv AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % $NswPivotMod = 0
       |), ${sqlSymCtes("p", "pv")},
       |${sqlEntryCtes(Seq(NswBeam))},
       |c0 AS (SELECT query_id, node FROM c0_$NswBeam),
       |$rounds,
       |vis AS (
       |  SELECT query_id, node FROM c0
       |  UNION
       |    $visUnion
       |)
       |SELECT query_id, rk, cand_id, cos_sim FROM (
       |  SELECT v.query_id, v.node AS cand_id,
       |    ${sqlCosine("q.embedding", "e.embedding", Dim)} AS cos_sim,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY v.query_id
       |      ORDER BY ${sqlCosine("q.embedding", "e.embedding", Dim)
                         .linesIterator.mkString(" ")} DESC, v.node
       |    ) AS rk
       |  FROM vis v
       |  JOIN embeddings e ON e.vec_id = v.node
       |  JOIN embeddings q ON q.vec_id = v.query_id
       |  WHERE v.node <> v.query_id
       |) WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  // ------------------------------------------------ hard-negative mining
  /** Hard-negative mining for contrastive training (Karpukhin et al.,
    * "Dense Passage Retrieval for Open-Domain Question Answering", EMNLP
    * 2020 §5.2): for every anchor vector, the top-k most-similar vectors
    * carrying a DIFFERENT label — the negatives the model currently
    * confuses, which train a far sharper boundary than random negatives.
    *
    * Scale shape: identical to [[knnGraph]] — LSH-bucketed candidates
    * (never all-pairs), the label exclusion rides IN the join condition so
    * same-label pairs are dropped before the dot product is ever
    * evaluated, and the per-anchor top-k is a WindowGroupLimit-pruned
    * rank. Output is ranking-sized (≤ k rows per anchor).
    */
  val HardNegK = 3

  def hardNegatives(emb: DataFrame): DataFrame = {
    val bucketed = withNorm(emb, "embedding").select(col("vec_id"),
      col("label"), col("embedding"), col("norm"),
      lshBucket(col("embedding")).as("bucket"))
    val a = bucketed.select(col("vec_id").as("anchor_id"),
      col("label").as("anchor_label"), col("embedding").as("av"),
      col("norm").as("an"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("neg_id"),
      col("label").as("neg_label"), col("embedding").as("bv"),
      col("norm").as("bn"), col("bucket"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    a.join(b, a("bucket") === b("bucket") &&
        col("anchor_label") =!= col("neg_label"))
      .withColumn("cos", ndot(col("av"), col("bv")) / (col("an") * col("bn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= HardNegK)
      .select(col("anchor_id"), col("rk"), col("neg_id"),
        col("neg_label"), col("cos").as("cos_sim"))
      .orderBy(col("anchor_id"), col("rk"))
  }

  def sqlHardNegatives: String =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS anchor_id, c.vec_id AS neg_id,
       |    c.label AS neg_label,
       |    ${sqlCosine("q.embedding", "c.embedding", Dim)} AS cos
       |  FROM b q JOIN b c
       |    ON q.bucket = c.bucket AND q.label <> c.label
       |)
       |SELECT anchor_id, rk, neg_id, neg_label, cos AS cos_sim FROM (
       |  SELECT anchor_id, neg_id, neg_label, cos,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id
       |                       ORDER BY cos DESC, neg_id) AS rk
       |  FROM scored
       |) WHERE rk <= $HardNegK
       |ORDER BY anchor_id, rk""".stripMargin

  // ------------------------------------------------ reciprocal rank fusion
  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, "Reciprocal rank
    * fusion outperforms Condorcet and individual rank learning methods",
    * SIGIR 2009) of two retrieval rankings — here the exact brute-force
    * cosine ranking and the LSH ANN ranking, the standard two-retriever
    * shape (fuse a slow-exact and a fast-approximate pass, or BM25 +
    * dense). score(d) = Σ_r 1/(RrfFuseK + rank_r(d)) over the rankings
    * that returned d; candidates missing from one ranking contribute only
    * the other term. Pure rational arithmetic over integer ranks — both
    * engines emit identical doubles, no similarity scores are compared
    * across retrievers (RRF's whole point).
    *
    * Scale shape: inputs are already top-k rankings (k·|Q| rows each);
    * fusion is ONE full-outer join on (query, candidate) + a per-query
    * rank window over ≤ 2k candidates — ranking-sized, the corpus is
    * never touched again.
    */
  val RrfFuseK = 60

  def rrf(emb: DataFrame): DataFrame = {
    val bt = bruteTopK(emb)
      .select(col("query_id"), col("cand_id"), col("rk").as("rk_exact"))
    val at = annTopK(emb)
      .select(col("query_id"), col("cand_id"), col("rk").as("rk_ann"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("cand_id"))
    bt.join(at, Seq("query_id", "cand_id"), "full")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(RrfFuseK) + col("rk_exact")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfFuseK) + col("rk_ann")), lit(0.0)))
      .withColumn("rrf_rank", row_number().over(w))
      .select(col("query_id"), col("rrf_rank"), col("cand_id"),
        col("rrf_score"))
      .orderBy(col("query_id"), col("rrf_rank"))
  }

  def sqlRrf: String =
    s"""WITH bt AS (
       |  SELECT query_id, cand_id, rk FROM (
       |    ${sqlBruteTopK.linesIterator.mkString("\n    ")}
       |  )
       |), at AS (
       |  SELECT query_id, cand_id, rk FROM (
       |    ${sqlAnnTopK.linesIterator.mkString("\n    ")}
       |  )
       |)
       |SELECT query_id, rrf_rank, cand_id, rrf_score FROM (
       |  SELECT query_id, cand_id, rrf_score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY rrf_score DESC, cand_id) AS rrf_rank
       |  FROM (
       |    SELECT COALESCE(b.query_id, a.query_id) AS query_id,
       |      COALESCE(b.cand_id, a.cand_id) AS cand_id,
       |      COALESCE(CAST(1 AS DOUBLE) / ($RrfFuseK + b.rk),
       |               CAST(0 AS DOUBLE))
       |        + COALESCE(CAST(1 AS DOUBLE) / ($RrfFuseK + a.rk),
       |                   CAST(0 AS DOUBLE)) AS rrf_score
       |    FROM bt b FULL JOIN at a
       |      ON b.query_id = a.query_id AND b.cand_id = a.cand_id
       |  )
       |) ORDER BY query_id, rrf_rank""".stripMargin

  // ------------------------------------------------------------ IVF ANN
  /** IVF-style ANN (inverted-file index in the sense of Sivic & Zisserman
    * "Video Google" 2003 / FAISS coarse quantization): a coarse quantizer
    * assigns every vector to its nearest
    * centroid (centroids here are a deterministic subset of the data —
    * "training-free" IVF; in production, k-means centroids slot in without
    * changing the plan); queries probe only their own cell.
    *
    * Plan shape at scale: centroid table is tiny → broadcast for the
    * assignment pass (map-side, no shuffle of the big side); the candidate
    * join is hash-partitioned on the cell id. nprobe>1 = explode the query's
    * top-P cells — same join, P× candidate rows.
    */
  val NCentroids = 8

  /** Nearest-cell id per vector from a (vec_id, sim, cent_id) scored
    * frame: thin argmax AGGREGATE + join back, never a row_number window.
    * The window form shuffles and sorts all |V|·K scored rows (with every
    * payload column riding through the exchange); the argmax
    * partial-aggregates map-side and exchanges ONE thin row per vector —
    * the same K-fold cut as [[encode]]. Ties break to the smallest
    * cent_id via max(struct(sim, −cent_id)) — exactly the
    * (sim DESC, cent_id) order the oracles' ROW_NUMBER uses, so results
    * are unchanged. (sim is never −0.0: IEEE cancellation rounds to +0.0,
    * so the double ordering agrees with the window's.)
    */
  private def nearestCell(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("cent_id")).as("negc"))).as("b"))
      .select(col("vec_id"), (-col("b.negc")).as("bucket"))

  def ivfTopK(emb: DataFrame): DataFrame = {
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val assigned = n.join(nearestCell(scored), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))
    val q = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"), col("bucket"))
    val c = assigned.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("norm").as("cn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF cell-population balance audit: per-cell vector counts and
    * corpus share. Imbalance is THE operational failure mode of an IVF
    * index — one hot cell makes every probe of it a linear scan — and
    * this is the report that decides when to re-train centroids
    * ([[ivfKmeans]]) or raise the cell count. One broadcast-centroid
    * assignment pass + one tiny aggregate; the share division is a
    * single exact-int-over-exact-int IEEE op.
    */
  def cellBalance(emb: DataFrame): DataFrame = {
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val counts = nearestCell(scored)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))
    val total = counts.agg(sum(col("n_vectors")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy(col("bucket"))
  }

  def sqlCellBalance: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), assigned AS (
       |  SELECT vec_id, cent_id AS bucket FROM (
       |    SELECT n.vec_id, cents.cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY n.vec_id ORDER BY
       |      ${sqlDot("n.embedding", "cents.cv", Dim)} / (n.nrm * cents.cnrm)
       |        DESC, cents.cent_id) AS rn
       |    FROM n, cents
       |  ) WHERE rn = 1
       |), counts AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM assigned GROUP BY bucket
       |), t AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM counts)
       |SELECT bucket, n_vectors,
       |  CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM counts, t ORDER BY bucket""".stripMargin

  /** [[cellBalance]] under [[maxminInit]] centers — the payoff readout
    * of the k-center seeding: the same cosine assignment and share
    * report, with the first-k-ids seed set swapped for the Gonzalez
    * picks, so `sim_cell_balance` vs `sim_maxmin_cells` reads as a
    * before/after of coverage-aware seeding (maxmin centers are spread
    * by construction, so the max cell share should not exceed the seed
    * convention's). Plan adds ONE broadcast semi-join (8 ids) on top of
    * cellBalance's shape.
    */
  /** Per-(session, `emb`) memo of the PINNED [[maxminInit]] centers frame:
    * the Gonzalez loop is NCentroids−1 sequential argmax+update rounds
    * (each an eager pin — ~15 driver-blocking jobs per call), and BOTH
    * `sim_maxmin_init` and `sim_maxmin_cells` run it — memoizing the
    * 8-row centers output runs the loop once per session instead of
    * twice per bench pass (measured ~0.9 s of every maxminCells call).
    */
  def maxminInitCached(emb: DataFrame): DataFrame =
    graft.Memo.pinned(emb.sparkSession, "sim.maxmin", emb)(
      maxminInit(emb))

  def maxminCells(emb: DataFrame, init: DataFrame): DataFrame = {
    val ids = init.select(col("center_id"))
    val n = withNorm(emb, "embedding")
    val cents = n.join(broadcast(ids), n("vec_id") === col("center_id"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val counts = nearestCell(scored)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))
    val total = counts.agg(sum(col("n_vectors")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy(col("bucket"))
  }

  def sqlMaxminCells: String =
    s"""WITH mmc AS (
       |  SELECT center_id FROM (
       |    ${sqlMaxminInit.linesIterator.mkString("\n    ")}
       |  )
       |), n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT n.vec_id AS cent_id, n.embedding AS cv, n.nrm AS cnrm
       |  FROM n JOIN mmc ON n.vec_id = mmc.center_id
       |), assigned AS (
       |  SELECT vec_id, cent_id AS bucket FROM (
       |    SELECT n.vec_id, cents.cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY n.vec_id ORDER BY
       |      ${sqlDot("n.embedding", "cents.cv", Dim)} / (n.nrm * cents.cnrm)
       |        DESC, cents.cent_id) AS rn
       |    FROM n, cents
       |  ) WHERE rn = 1
       |), counts AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM assigned GROUP BY bucket
       |), t AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM counts)
       |SELECT bucket, n_vectors,
       |  CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM counts, t ORDER BY bucket""".stripMargin

  /** Multiprobe IVF: queries probe their top-`nprobe` cells (candidates
    * stay in their own cell) — recall grows with nprobe at linear candidate
    * cost, same hash-partitioned join. This is the knob a 100 TB ANN
    * deployment tunes instead of changing the plan.
    */
  def ivfTopKProbe(emb: DataFrame, nprobe: Int): DataFrame = {
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val cands = n.join(nearestCell(scored), Seq("vec_id"))
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv2"),
        col("norm").as("cn"), col("bucket"))
    // the top-P probe ranking needs a real rank, but only for the BOUNDED
    // query slice — the window runs over |Q|·K rows, never the corpus
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id"))
    val q = n.filter(col("vec_id") < NQueries).crossJoin(broadcast(cents))
      .withColumn("sim",
        ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"), col("cent_id").as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(cands, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv2")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlIvfTopKProbe(nprobe: Int): String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cent_id) AS rn FROM (
       |    SELECT n.vec_id, n.embedding, n.nrm, cents.cent_id,
       |      ${sqlDot("n.embedding", "cents.cv", Dim)} / (n.nrm * cents.cnrm) AS sim
       |    FROM n, cents
       |  )
       |), cands AS (
       |  SELECT vec_id AS cand_id, embedding AS cv2, nrm AS cn,
       |         cent_id AS bucket
       |  FROM ranked WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
       |         cent_id AS bucket
       |  FROM ranked WHERE rn <= $nprobe AND vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, c.cand_id,
       |    ${sqlDot("q.qv", "c.cv2", Dim)} / (q.qn * c.cn) AS cos
       |  FROM q JOIN cands c ON q.bucket = c.bucket AND q.query_id <> c.cand_id
       |), rk AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM rk WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin

  /** IVF probe COST curve: per query and probe depth 1–3, how many
    * candidate vectors the probed cells force the scorer to touch —
    * the cost half of the tuning story whose quality half is
    * `sim_recall_sweep` (recall@nprobe means nothing without the
    * candidates-scanned price next to it). One assignment pass, a
    * |cells|-row size aggregate, and a |Q|·K-bounded probe ranking;
    * the ×3 fan is a literal array. Integer-only output (bucket sizes
    * include the query's own row — a probe scans its whole cell).
    */
  def ivfProbeCost(emb: DataFrame): DataFrame = {
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val bsize = nearestCell(scored)
      .groupBy(col("bucket")).agg(count(lit(1)).as("bsz"))
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id"))
    scored.filter(col("vec_id") < NQueries)
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= 3)
      .select(col("vec_id").as("query_id"), col("cent_id").as("bucket"),
        col("rn"))
      .join(broadcast(bsize), Seq("bucket"))
      .select(explode(array(lit(1), lit(2), lit(3))).as("nprobe"),
        col("query_id"), col("rn"), col("bsz"))
      .filter(col("rn") <= col("nprobe"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(sum(col("bsz")).cast("long").as("n_candidates"),
        count(lit(1)).as("n_buckets"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  def sqlIvfProbeCost: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), ranked AS (
       |  SELECT vec_id, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cent_id) AS rn
       |  FROM (
       |    SELECT n.vec_id, cents.cent_id,
       |      ${sqlDot("n.embedding", "cents.cv", Dim)}
       |        / (n.nrm * cents.cnrm) AS sim
       |    FROM n, cents
       |  )
       |), bsize AS (
       |  SELECT cent_id AS bucket, CAST(COUNT(*) AS BIGINT) AS bsz
       |  FROM ranked WHERE rn = 1 GROUP BY 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cent_id AS bucket, rn
       |  FROM ranked WHERE vec_id < $NQueries AND rn <= 3
       |)
       |SELECT nprobe, query_id,
       |  CAST(SUM(bsz) AS BIGINT) AS n_candidates,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets
       |FROM probes JOIN bsize USING (bucket), unnest([1, 2, 3]) u(nprobe)
       |WHERE rn <= nprobe
       |GROUP BY nprobe, query_id
       |ORDER BY nprobe, query_id""".stripMargin

  def sqlIvfTopK: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), sims AS (
       |  SELECT n.vec_id, n.embedding, n.nrm, cents.cent_id,
       |    ${sqlDot("n.embedding", "cents.cv", Dim)} / (n.nrm * cents.cnrm) AS sim
       |  FROM n, cents
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, cent_id AS bucket FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cent_id) AS rn FROM sims
       |  ) WHERE rn = 1
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${sqlDot("q.embedding", "c.embedding", Dim)} / (q.nrm * c.nrm) AS cos
       |  FROM assigned q JOIN assigned c
       |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NQueries
       |), ranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM ranked WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin

  // ------------------------------------------------------------ centroids
  /** Per-label centroid of the embedding column — element-wise mean across
    * rows, i.e. one k-means-style update step (with labels as the
    * assignment; swap in the IVF cell id and iterate for real k-means —
    * the plan shape is identical).
    *
    * Relational formulation: posexplode to (label, dim, value) and hash-
    * aggregate per (label, dim) with the exact-decimal sum — one shuffle
    * keyed (label, dim), scales to any corpus × any dimension; no
    * collect-and-average on the driver. Output is long-form rows (the
    * oracle-friendly shape); `array_agg` the dims back if a vector column
    * is needed.
    */
  def centroids(emb: DataFrame): DataFrame = {
    import graft.functions.Exact.xavg
    // NO round() after the division: rounding an IEEE quotient at a fixed
    // decimal scale diverges across engines exactly at decimal ties
    // (Spark HALF_UPs the shortest decimal representation, DuckDB rounds
    // in binary — observed on a 56-vector average). The raw quotient of
    // the exact rescaled sum is bit-identical everywhere, like every
    // other xavg output in the suite.
    emb
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy(col("label"), (col("dim0") + 1).as("dim"))
      .agg(xavg(col("v").cast("double")).as("centroid"),
        count(lit(1)).as("n_vectors"))
      .orderBy(col("label"), col("dim"))
  }

  def sqlCentroids: String =
    s"""SELECT label, i AS dim,
       |  ${graft.functions.Exact.sqlAvg("embedding[i]::DOUBLE")} AS centroid,
       |  COUNT(*) AS n_vectors
       |FROM embeddings, range(1, ${Dim + 1}) t(i)
       |GROUP BY label, i
       |ORDER BY label, dim""".stripMargin

  // --------------------------------------------------- cluster quality
  /** Per-label centroid ARRAYS (clabel, cv, cnrm) — [[centroids]]' exact
    * long-form means reassembled in dim order, the broadcastable frame
    * the cluster-quality audits probe against.
    */
  private def labelCents(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "x")))
      .groupBy(col("label"), col("dim0"))
      .agg(graft.functions.Exact.xavg(col("x").cast("double")).as("cval"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim0"), col("cval"))))
        .as("p"))
      .select(col("label").as("clabel"),
        transform(col("p"), s => s("cval")).as("cv"))
      .withColumn("cnrm", sqrt(dotD(col("cv"), col("cv"))))

  /** (vec_id, label, v, nrm) double-widened working frame. */
  private def labeledVecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))

  /** Per-label centroid silhouette (Rousseeuw, "Silhouettes: a graphical
    * aid to the interpretation and validation of cluster analysis",
    * J. Comput. Appl. Math. 1987, in its centroid approximation): for
    * each vector, a = cosine distance to its own label centroid, b = the
    * nearest OTHER label centroid's distance, s = (b−a)/max(a,b);
    * reported as the per-label mean plus the count of well-placed
    * (s > 0) vectors. The centroid form replaces Rousseeuw's O(n²)
    * pairwise means with k centroid probes per vector — the only
    * formulation that scales to corpus-size n.
    *
    * Scale shape: the k-row centroid frame broadcasts; scoring is ONE
    * map-side pass over the vectors (k dots each, no shuffle); the a/b
    * reduction and the per-label rollup are two thin hash aggregates.
    * Determinism: each distance is a left-to-right fold dot + two IEEE
    * ops; min/max comparisons and the single division are exact on both
    * engines; the per-label mean goes through the exact-decimal detour.
    */
  def silhouette(emb: DataFrame): DataFrame = {
    import graft.functions.Exact.xavg
    val scored = labeledVecs(emb).crossJoin(broadcast(labelCents(emb)))
      .withColumn("dist", lit(1.0) -
        dotD(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("label") === col("clabel"), col("dist"))).as("a"),
        min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
      .withColumn("sil", (col("b") - col("a")) / greatest(col("a"), col("b")))
      .groupBy(col("label"))
      .agg(xavg(col("sil")).as("avg_silhouette"),
        count(lit(1)).as("n_vectors"),
        sum(when(col("sil") > lit(0.0), 1L).otherwise(0L))
          .as("n_well_placed"))
      .orderBy(col("label"))
  }

  def sqlSilhouette: String =
    s"""WITH cl AS (
       |  SELECT label AS clabel, i AS dim,
       |    ${graft.functions.Exact.sqlAvg("embedding[i]::DOUBLE")} AS cval
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY label, i
       |), cents AS (
       |  SELECT clabel, list(cval ORDER BY dim) AS cv FROM cl
       |  GROUP BY clabel
       |), n AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), scored AS (
       |  SELECT vec_id, label, clabel,
       |    CAST(1 AS DOUBLE) - ${sqlDotD("v", "cv")}
       |      / (sqrt(${sqlDotD("v", "v")}) * sqrt(${sqlDotD("cv", "cv")}))
       |      AS dist
       |  FROM n CROSS JOIN cents
       |), ab AS (
       |  SELECT vec_id, label,
       |    MIN(CASE WHEN label = clabel THEN dist END) AS a,
       |    MIN(CASE WHEN label <> clabel THEN dist END) AS b
       |  FROM scored GROUP BY vec_id, label
       |), sil AS (
       |  SELECT label, (b - a) / greatest(a, b) AS sil FROM ab
       |)
       |SELECT label, ${graft.functions.Exact.sqlAvg("sil")}
       |    AS avg_silhouette,
       |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(CASE WHEN sil > CAST(0 AS DOUBLE) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_well_placed
       |FROM sil GROUP BY label ORDER BY label""".stripMargin

  /** Davies-Bouldin separation audit (Davies & Bouldin, "A cluster
    * separation measure", IEEE TPAMI 1979): per label, the scatter
    * S_i (mean cosine distance to the own centroid) and
    * R_i = max_{j≠i} (S_i+S_j)/M_ij where M_ij is the centroid-pair
    * distance — the worst-neighbor ratio whose mean is the DB index
    * (lower = tighter, better-separated clusters).
    *
    * Scale shape: scatters ride the SAME broadcast-centroid map-side
    * pass as [[silhouette]]; the pair matrix is k² rows of driver-free
    * arithmetic on the k-row centroid frame. Nothing beyond the one
    * corpus scan is corpus-sized.
    */
  def dbIndex(emb: DataFrame): DataFrame = {
    import graft.functions.Exact.xavg
    val cents = labelCents(emb)
    val own = labeledVecs(emb)
      .join(broadcast(cents), col("label") === col("clabel"))
      .withColumn("dist", lit(1.0) -
        dotD(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy(col("label"))
      .agg(xavg(col("dist")).as("scatter"), count(lit(1)).as("n_vectors"))
    val c2 = cents.select(col("clabel").as("lb"), col("cv").as("cv2"),
      col("cnrm").as("cnrm2"))
    val si = own.select(col("label").as("li"), col("scatter").as("s_i"))
    val sj = own.select(col("label").as("lj"), col("scatter").as("s_j"))
    val pairs = cents.join(c2, col("clabel") =!= col("lb"))
      .withColumn("m_ij", lit(1.0) -
        dotD(col("cv"), col("cv2")) / (col("cnrm") * col("cnrm2")))
      .join(si, col("clabel") === col("li"))
      .join(sj, col("lb") === col("lj"))
      .withColumn("r", (col("s_i") + col("s_j")) / col("m_ij"))
      .groupBy(col("clabel").as("label"))
      .agg(max(col("r")).as("r_max"))
    own.join(pairs, Seq("label"))
      .select(col("label"), col("n_vectors"), col("scatter"), col("r_max"))
      .orderBy(col("label"))
  }

  def sqlDbIndex: String =
    s"""WITH cl AS (
       |  SELECT label AS clabel, i AS dim,
       |    ${graft.functions.Exact.sqlAvg("embedding[i]::DOUBLE")} AS cval
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY label, i
       |), cents AS (
       |  SELECT clabel, list(cval ORDER BY dim) AS cv FROM cl
       |  GROUP BY clabel
       |), own AS (
       |  SELECT e.label,
       |    ${graft.functions.Exact.sqlAvg(
      s"""CAST(1 AS DOUBLE) - ${sqlDotD("v", "cv")}
         |      / (sqrt(${sqlDotD("v", "v")}) * sqrt(${sqlDotD("cv", "cv")}))"""
        .stripMargin)} AS scatter,
       |    CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings) e
       |  JOIN cents ON e.label = cents.clabel
       |  GROUP BY e.label
       |), pairs AS (
       |  SELECT a.clabel AS label,
       |    MAX((si.scatter + sj.scatter) /
       |      (CAST(1 AS DOUBLE) - ${sqlDotD("a.cv", "b.cv")}
       |        / (sqrt(${sqlDotD("a.cv", "a.cv")})
       |         * sqrt(${sqlDotD("b.cv", "b.cv")})))) AS r_max
       |  FROM cents a
       |  JOIN cents b ON a.clabel <> b.clabel
       |  JOIN own si ON si.label = a.clabel
       |  JOIN own sj ON sj.label = b.clabel
       |  GROUP BY a.clabel
       |)
       |SELECT label, n_vectors, scatter, r_max
       |FROM own JOIN pairs USING (label)
       |ORDER BY label""".stripMargin

  // ----------------------------------------------------------------- MMR
  /** Selections and query id for [[mmrTopK]]. */
  val MmrK = 4
  val MmrQueryId = 0L

  /** Maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein, "The use of MMR, diversity-based reranking", SIGIR
    * 1998): greedily pick k results maximizing
    * 0.7·rel(q, d) − 0.3·max_{s∈S} sim(d, s) — the reranker that stops
    * a result list collapsing onto near-duplicates (for training-data
    * retrieval: diversified exemplar selection).
    *
    * MMR is inherently sequential in k, so the plan is k bounded
    * rounds, each ONE map-side pass over the pinned candidate frame
    * (the ≤k selected vectors broadcast; anti-join by id, max-sim
    * reduce, TakeOrdered(1)) — no driver-side collect, no quadratic
    * pair frame. Determinism: every cosine is the shared left-to-right
    * fold; 0.7/0.3 are two EXPLICIT literals on both engines (never
    * 1−0.7, whose decimal-vs-binary evaluation differs); per-round
    * argmax ties break by cand_id.
    */
  def mmrTopK(emb: DataFrame): DataFrame = {
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    val q = vecs.filter(col("vec_id") === MmrQueryId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val cands = Iterate.pin(vecs.filter(col("vec_id") =!= MmrQueryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("rel")))
    var result = cands
      .orderBy(col("rel").desc, col("cand_id")).limit(1)
      .select(col("cand_id"), col("cv"), col("cn"), col("rel"),
        lit(1L).as("step"), col("rel").as("score"))
    for (r <- 2 to MmrK) {
      val ms = cands
        .join(broadcast(result.select(col("cand_id").as("sid"))),
          col("cand_id") === col("sid"), "left_anti")
        .crossJoin(broadcast(
          result.select(col("cv").as("sv"), col("cn").as("sn"))))
        .withColumn("sim",
          dotD(col("cv"), col("sv")) / (col("cn") * col("sn")))
        .groupBy(col("cand_id")).agg(max(col("sim")).as("max_sim"))
      val next = cands.join(ms, Seq("cand_id"))
        .withColumn("score",
          lit(0.7) * col("rel") - lit(0.3) * col("max_sim"))
        .orderBy(col("score").desc, col("cand_id")).limit(1)
        .select(col("cand_id"), col("cv"), col("cn"), col("rel"),
          lit(r.toLong).as("step"), col("score"))
      result = Iterate.pin(result.unionByName(next))
    }
    result.select(col("step"), col("cand_id"), col("rel"), col("score"))
      .orderBy(col("step"))
  }

  /** Oracle for [[mmrTopK]] — the same greedy rounds unrolled as CTEs
    * by the same loop count.
    */
  def sqlMmr: String = {
    val rounds = (2 to MmrK).map { r =>
      val selUnion = (1 until r).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      val selIds = (1 until r).map(i => s"SELECT cand_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""m$r AS (
         |  SELECT c.cand_id,
         |    MAX(${sqlCosine("c.cv", "s.cv", Dim)}) AS max_sim
         |  FROM c, ($selUnion) s
         |  WHERE c.cand_id NOT IN ($selIds)
         |  GROUP BY c.cand_id
         |), s$r AS (
         |  SELECT c.cand_id, c.cv, c.rel, CAST($r AS BIGINT) AS step,
         |    CAST(0.7 AS DOUBLE) * c.rel
         |      - CAST(0.3 AS DOUBLE) * max_sim AS score
         |  FROM c JOIN m$r USING (cand_id)
         |  ORDER BY score DESC, cand_id LIMIT 1
         |)""".stripMargin
    }.mkString(", ")
    val finalUnion = (1 to MmrK).map(i =>
      s"SELECT step, cand_id, rel, score FROM s$i").mkString(" UNION ALL ")
    s"""WITH q AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = $MmrQueryId
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding AS cv,
       |    ${sqlCosine("embedding", "qv", Dim)} AS rel
       |  FROM embeddings, q WHERE vec_id <> $MmrQueryId
       |), s1 AS (
       |  SELECT cand_id, cv, rel, CAST(1 AS BIGINT) AS step,
       |    rel AS score
       |  FROM c ORDER BY rel DESC, cand_id LIMIT 1
       |), $rounds
       |SELECT step, cand_id, rel, score FROM ($finalUnion)
       |ORDER BY step""".stripMargin
  }

  // -------------------------------------------------------- k-means IVF
  /** Lloyd's-iterated IVF coarse quantizer (Lloyd 1982; the FAISS-style
    * trained replacement for [[ivfTopK]]'s training-free seed): start from
    * the deterministic seed centroids (vec_id < NCentroids), run `iters`
    * assignment→update rounds, return the FINAL cell assignment — the
    * inverted-file index a trained IVF deployment queries against.
    *
    * Plan shape per round, at 100 TB: the centroid table is K rows →
    * broadcast, so assignment is MAP-SIDE (no shuffle of the corpus); the
    * update is one hash aggregate keyed (cell, dim) — K·Dim groups — plus a
    * K-row rollup into centroid arrays. `Iterate.pin` on the (tiny)
    * centroid frame each round cuts the iterative-lineage growth, the same
    * discipline as [[graft.operators.Dedup.connectedComponents]].
    *
    * Cross-engine determinism: all arithmetic in double (floats widened
    * exactly, once, up front); dot products are left-to-right folds;
    * per-cell means use the exact-decimal [[graft.functions.Exact.xavg]];
    * centroid arrays are assembled in dim order on both engines (sorted
    * struct collect ↔ `list(... ORDER BY dim)`). Ties in the nearest-
    * centroid ranking break by cent_id. Output is integer-only.
    */
  val KmeansIters = 2

  /** Left-to-right fold dot of two DOUBLE-array columns. */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def sqlDotD(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin

  /** Nearest-centroid assignment of `n` (vec_id, v, nrm) against a
    * broadcast centroid frame (cent_id, cv, cnrm).
    */
  private def assignCells(n: DataFrame, cents: DataFrame): DataFrame = {
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (dotD(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("sim"),
        col("cent_id"))
    n.join(nearestCell(scored), Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("bucket"))
  }

  /** Centroid update: exact per-(cell, dim) mean, re-assembled into a
    * dim-ordered double array with its norm.
    */
  private def updateCents(assigned: DataFrame): DataFrame =
    assigned
      .select(col("bucket"), posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy(col("bucket"), col("dim0"))
      .agg(graft.functions.Exact.xavg(col("x")).as("cval"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("dim0"), col("cval"))))
        .as("p"))
      .select(col("bucket").as("cent_id"),
        transform(col("p"), s => s("cval")).as("cv"))
      .withColumn("cnrm", sqrt(dotD(col("cv"), col("cv"))))

  /** (vec_id, v, nrm): double vectors with their norms — the Lloyd's
    * working frame.
    */
  private def kmeansVecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))

  /** The Lloyd's loop alone: trained coarse centroids (cent_id, cv, cnrm)
    * after `iters` rounds from the deterministic seed. Split from
    * [[ivfKmeans]] so the trained frame can be memoized
    * ([[ivfCentsCached]]) — a deployment persists trained centroids
    * beside the index and every consumer reads THAT, it never re-runs
    * Lloyd's per query.
    */
  def ivfTrainedCents(emb: DataFrame, iters: Int = KmeansIters): DataFrame = {
    val n = kmeansVecs(emb)
    var cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    for (_ <- 1 to iters)
      cents = updateCents(assignCells(n, cents)).transform(Iterate.pin)
    cents
  }

  def ivfKmeans(emb: DataFrame, cents: DataFrame): DataFrame =
    assignCells(kmeansVecs(emb), cents)
      .select(col("vec_id"), col("bucket"))
      .orderBy(col("vec_id"))

  /** Cell-population balance under TRAINED centroids — the counterpart of
    * [[cellBalance]] (which prices the training-free seed cells): Lloyd's
    * rounds are exactly the mechanism that evens out cell load, and this
    * is the audit that verifies they did. At 100 TB cell skew IS the IVF
    * bottleneck — the hottest cell bounds probe latency — so train/audit/
    * retrain runs on this number. One broadcast-centroid assignment pass,
    * a |cells|-row count, and a broadcast 1-row total.
    */
  def ivfBalanceTrained(emb: DataFrame, cents: DataFrame): DataFrame = {
    val counts = assignCells(kmeansVecs(emb), cents)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))
    val total = counts.agg(sum(col("n_vectors")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy(col("bucket"))
  }

  /** Per-cell tightness under trained centroids: vector count, the
    * worst-case member cosine (the cell "radius" — what bounds ADC error
    * and probe quality), and the exact-decimal cosine sum. Together with
    * [[ivfBalanceTrained]] this is the full post-training index QC: load
    * AND geometry per cell. One corpus assignment pass against the
    * broadcast trained centroids, then a |cells|-group aggregate.
    */
  def ivfRadiusTrained(emb: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.Exact
    val assigned = assignCells(kmeansVecs(emb), cents)
    assigned.join(broadcast(cents),
        assigned("bucket") === cents("cent_id"))
      .select(col("bucket"),
        (dotD(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("sim"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("sim")).as("min_cos"),
        Exact.xsum(col("sim"), 9).as("sum_cos"))
      .orderBy(col("bucket"))
  }

  def sqlIvfRadiusTrained(iters: Int = KmeansIters): String = {
    import graft.functions.Exact
    val cosExpr = s"${sqlDotD("f.v", "c.cv")} / (f.nrm * c.cnrm)"
    s"""WITH ${sqlIvfKmeansCtes(iters)}
       |SELECT f.bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  MIN($cosExpr) AS min_cos,
       |  ${Exact.sqlSum(cosExpr, 9)} AS sum_cos
       |FROM fin f JOIN c$iters c ON f.bucket = c.cent_id
       |GROUP BY f.bucket ORDER BY f.bucket""".stripMargin
  }

  /** DuckDB oracle: the Lloyd's rounds unrolled as CTE pairs (a_k, c_k). */
  def sqlIvfKmeans(iters: Int = KmeansIters): String =
    s"""WITH ${sqlIvfKmeansCtes(iters)}
       |SELECT vec_id, bucket FROM fin ORDER BY vec_id""".stripMargin

  // -------------------------------------------------- cluster topics
  val TopicTermsK = 5

  /** Topic labels for the trained k-means clusters: top-[[TopicTermsK]]
    * terms per cluster by SUMMED tf·idf over the cluster's member
    * documents — the human-readable readout that turns "cluster 7" into
    * "the cluster about joins and filters", and the first cross-family
    * composition joining the EMBEDDING space (cells) with the TEXT space
    * (terms) on the shared doc/vec id.
    *
    * Determinism: the summed score FACTORS — Σ_docs tf·(N+1)/(df+1) =
    * (Σtf)·(N+1)/(df+1) — so it is computed as ONE division of exact
    * BIGINT products (no double summation at all), and the per-cluster
    * rank (score desc, term) orders bit-identical cross-engine.
    *
    * Scale shape: assignment is the memoized trained-centroid broadcast
    * pass; the term side is the tfidf explode + two hash aggs; the
    * bridge join is (doc, term)-grained against a |docs|-row assignment
    * — all key-partitioned, and the output is |cells|·k rows.
    */
  def clusterTopics(emb: DataFrame, docs: DataFrame,
      cents: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val assign = ivfKmeans(emb, cents)
      .select(col("vec_id"), col("bucket"))
    val terms = docs.select(col("doc_id"),
      explode_outer(TextOps.words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val ct = tf.join(assign, tf("doc_id") === assign("vec_id"))
      .groupBy(col("bucket"), col("term"))
      .agg(sum(col("tf")).as("sum_tf"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("score").desc, col("term"))
    ct.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("sum_tf") * (col("n_docs") + 1)).cast("double") /
          (col("df") + 1).cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopicTermsK)
      .select(col("bucket"), col("rk"), col("term"), col("sum_tf"),
        col("df"), col("score"))
      .orderBy(col("bucket"), col("rk"))
  }

  def sqlClusterTopics(iters: Int = KmeansIters): String =
    s"""WITH ${sqlIvfKmeansCtes(iters)},
       |terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents
       |), tfp AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM terms GROUP BY 1, 2
       |), dfp AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfp GROUP BY 1
       |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
       |), ct AS (
       |  SELECT f.bucket, t.term, CAST(SUM(t.tf) AS BIGINT) AS sum_tf
       |  FROM tfp t JOIN fin f ON t.doc_id = f.vec_id
       |  GROUP BY f.bucket, t.term
       |), ranked AS (
       |  SELECT ct.bucket, ct.term, ct.sum_tf, dfp.df,
       |    CAST(ct.sum_tf * (nd.n_docs + 1) AS DOUBLE)
       |      / CAST(dfp.df + 1 AS DOUBLE) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY ct.bucket ORDER BY
       |      CAST(ct.sum_tf * (nd.n_docs + 1) AS DOUBLE)
       |        / CAST(dfp.df + 1 AS DOUBLE) DESC, ct.term) AS rk
       |  FROM ct JOIN dfp USING (term) CROSS JOIN nd
       |)
       |SELECT bucket, rk, term, sum_tf, df, score
       |FROM ranked WHERE rk <= $TopicTermsK
       |ORDER BY bucket, rk""".stripMargin

  /** [[ivfBalanceTrained]] oracle: cell counts over the same unrolled
    * Lloyd's rounds' final assignment.
    */
  def sqlIvfBalanceTrained(iters: Int = KmeansIters): String =
    s"""WITH ${sqlIvfKmeansCtes(iters)},
       |counts AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM fin GROUP BY bucket
       |), t AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM counts)
       |SELECT bucket, n_vectors,
       |  CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM counts, t ORDER BY bucket""".stripMargin

  private def sqlIvfKmeansCtes(iters: Int): String = {
    def assign(nCte: String, cCte: String): String =
      s"""SELECT vec_id, v, nrm, cent_id AS bucket FROM (
         |    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cent_id) AS rn FROM (
         |      SELECT n.vec_id, n.v, n.nrm, c.cent_id,
         |        ${sqlDotD("n.v", "c.cv")} / (n.nrm * c.cnrm) AS sim
         |      FROM $nCte n, $cCte c
         |    ) s
         |  ) WHERE rn = 1""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""a$k AS (
         |  ${assign("n2", s"c${k - 1}")}
         |), c$k AS (
         |  SELECT bucket AS cent_id, cv,
         |    sqrt(${sqlDotD("cv", "cv")}) AS cnrm FROM (
         |    SELECT bucket, list(cval ORDER BY dim0) AS cv FROM (
         |      SELECT bucket, i AS dim0,
         |        ${graft.functions.Exact.sqlAvg("v[i]")} AS cval
         |      FROM a$k, range(1, ${Dim + 1}) t(i) GROUP BY bucket, i
         |    ) GROUP BY bucket
         |  )
         |)""".stripMargin
    }.mkString(",\n")
    s"""n AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), n2 AS (
       |  SELECT vec_id, v, sqrt(${sqlDotD("v", "v")}) AS nrm FROM n
       |), c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
       |  FROM n2 WHERE vec_id < $NCentroids
       |),
       |$rounds,
       |fin AS (
       |  ${assign("n2", s"c$iters")}
       |)""".stripMargin
  }

  // -------------------------------------------------- product quantization
  /** PQ / ADC top-k (Jégou, Douze & Schmid, "Product quantization for
    * nearest neighbor search", TPAMI 2011): split the vector into
    * [[PqM]] subspaces, quantize each subvector to its nearest codebook
    * entry (codebook = the deterministic seed vectors' subvectors, the
    * same training-free convention as [[ivfTopK]]; a trained codebook
    * from [[ivfKmeans]]-style Lloyd's rounds slots in unchanged), and
    * score query↔candidate via Asymmetric Distance Computation: the exact
    * query subvector against the candidate's CODE — a lookup-table sum,
    * never the candidate's full vector.
    *
    * Why it matters at 100 TB: the candidate side stores M bytes of codes
    * per vector instead of 4·Dim bytes (here 4 one-byte codes vs 64
    * floats = 256 bytes, a 64× cut);
    * the scoring join touches only (cand_id, m, code) rows plus a
    * broadcast LUT of |Q|·M·K partial dots. The corpus is scanned once to
    * encode (map-side after a codebook broadcast); scoring shuffles
    * nothing but code rows.
    *
    * Determinism: subspace assignment minimizes the L2 surrogate
    * |c|² − 2·v·c (single IEEE ops, ties by code id); the M partial-dot
    * addends go through the exact-decimal sum ([[graft.functions.Exact]])
    * so ADC scores are bit-identical across engines; ranking ties break
    * by cand_id; the raw double score is emitted unrounded (suite
    * convention: never ROUND after a division/rescale).
    */
  val PqM = 4
  val PqSubDim: Int = Dim / PqM // 16
  val PqK = NCentroids          // 8 codes per subspace

  /** (id, m, sv): double subvectors, one row per subspace. */
  private[graft] def subvectors(emb: DataFrame, idCol: String): DataFrame =
    emb.select(col("vec_id").as(idCol),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col(idCol), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*))
        .as("sub"))
      .select(col(idCol), col("sub.m").as("m"), col("sub.sv").as("sv"))

  /** Per-subspace nearest-code assignment by the L2 surrogate.
    *
    * groupBy + min(struct(d2, code)), NOT a row_number window: the window
    * form shuffles ALL |V|·M·K scored candidate rows (column pruning does
    * drop the subvector payloads, but every row still moves) and sorts
    * them per (id, m). The struct-min is the same deterministic argmin
    * (d2, then code id) but PARTIAL-aggregates map-side — the exchange
    * carries ~|V|·M thin rows, K× fewer — which is what the "corpus is
    * encoded map-side after a codebook broadcast" contract means in plan
    * terms. The oracle's ROW_NUMBER picks the identical row, so results
    * are unchanged.
    */
  private def encode(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs.join(broadcast(codebook), Seq("m"))
      .withColumn("d2", dotD(col("cv"), col("cv"))
        - lit(2.0) * dotD(col("sv"), col("cv")))
      .groupBy(col("id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("id"), col("m"), col("best.code").as("code"))

  /** Lloyd's-trained PQ codebooks (the k-means step of Jégou 2011 §III):
    * per subspace, iterate nearest-code assignment (the same L2
    * surrogate argmin as [[encode]], keeping the subvector alongside the
    * winning code) and an EXACT per-(m, code, dim) mean update — the
    * [[ivfKmeans]] discipline applied independently to all [[PqM]]
    * subspaces in the SAME frames (subspace id is just another grouping
    * column; no per-subspace jobs). Returns the final (vec_id, m, code)
    * assignment under the trained books. Codes that lose every member
    * drop out of the book — standard Lloyd's behavior, deterministic
    * here. Scale shape per round: one broadcast join + one thin argmax
    * agg + one (m·K·subdim)-cell exact-mean agg; per-round lineage pinned.
    */
  def pqKmeans(emb: DataFrame, codebook: DataFrame): DataFrame = {
    encode(subvectors(emb, "id"), codebook)
      .select(col("id").as("vec_id"), col("m"), col("code"))
      .orderBy(col("vec_id"), col("m"))
  }

  /** [[pqDistortion]] under a TRAINED codebook — the before/after pair is
    * the standard evidence that the Lloyd's rounds actually bought
    * distortion (Jégou 2011 §III evaluates codebooks exactly this way):
    * read `sse` here against the seed-codebook `sse` of [[pqDistortion]].
    * Same single encode pass + broadcast book join + per-subspace exact
    * sum; the training cost lives in the shared memo
    * ([[pqCodebookCached]]), not here.
    */
  def pqDistortionTrained(emb: DataFrame, codebook: DataFrame): DataFrame = {
    import graft.functions.Exact
    val subs = subvectors(emb, "id")
    val codes = encode(subs, codebook)
    subs.join(codes, Seq("id", "m"))
      .join(broadcast(codebook), Seq("m", "code"))
      .select(col("m"),
        (dotD(col("sv"), col("sv")) - lit(2.0) * dotD(col("sv"), col("cv"))
          + dotD(col("cv"), col("cv"))).as("d2"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vectors"), Exact.xsum(col("d2"), 9).as("sse"))
      .select(col("m"), col("n_vectors"), col("sse"),
        (col("sse") / col("n_vectors").cast("double"))
          .as("mean_distortion"))
      .orderBy(col("m"))
  }

  /** Code-usage histogram per subspace under a (trained) codebook — the
    * codebook-collapse detector: Lloyd's drops codes that lose every
    * member, and a subspace quantizing into few codes (or one dominant
    * code) carries almost no bits of the vector. Read `n_codes_used`
    * against [[PqK]] and `max_code_count` against `n_vectors` before
    * trusting ADC recall on a new corpus. One corpus encode pass against
    * the broadcast books, then two thin aggregates.
    */
  def pqCodeUsage(emb: DataFrame, codebook: DataFrame): DataFrame =
    encode(subvectors(emb, "id"), codebook)
      .groupBy(col("m"), col("code")).agg(count(lit(1)).as("n"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_codes_used"),
        sum(col("n")).cast("long").as("n_vectors"),
        max(col("n")).cast("long").as("max_code_count"))
      .orderBy(col("m"))

  def sqlPqCodeUsage(iters: Int = KmeansIters): String =
    s"""WITH ${sqlPqKmeansCtes(iters)},
       |cu AS (
       |  SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM fin GROUP BY m, code
       |)
       |SELECT m, CAST(COUNT(*) AS BIGINT) AS n_codes_used,
       |  CAST(SUM(n) AS BIGINT) AS n_vectors,
       |  CAST(MAX(n) AS BIGINT) AS max_code_count
       |FROM cu GROUP BY m ORDER BY m""".stripMargin

  /** The training-free seed codebook of an (id, m, sv) subvector frame:
    * in every subspace the first [[PqK]] ids' subvectors are the codes.
    * The untrained PQ/IVFADC queries encode against it, and Lloyd's
    * rounds ([[trainSubCodebook]]) start from it.
    */
  def seedCodebook(subs: DataFrame): DataFrame =
    subs.filter(col("id") < PqK)
      .select(col("m"), col("id").cast("int").as("code"), col("sv").as("cv"))

  /** The Lloyd's loop of [[pqKmeans]] over ANY (id, m, sv) subvector
    * frame — raw subvectors or residuals ([[residualBookCached]], the
    * trained [[ivfPqResidualTopK]] book) train through the identical
    * rounds.
    */
  def trainSubCodebook(subs: DataFrame, iters: Int = KmeansIters): DataFrame = {
    var codebook = seedCodebook(subs)
    for (_ <- 1 to iters) {
      val assigned = subs.join(broadcast(codebook), Seq("m"))
        .withColumn("d2", dotD(col("cv"), col("cv"))
          - lit(2.0) * dotD(col("sv"), col("cv")))
        .groupBy(col("id"), col("m"))
        // sv is constant within the (id, m) group — first() is value-
        // deterministic here
        .agg(min(struct(col("d2"), col("code"))).as("best"),
          first(col("sv")).as("sv"))
        .select(col("id"), col("m"), col("best.code").as("code"), col("sv"))
      codebook = assigned
        .select(col("m"), col("code"),
          posexplode(col("sv")).as(Seq("dim0", "x")))
        .groupBy(col("m"), col("code"), col("dim0"))
        .agg(graft.functions.Exact.xavg(col("x")).as("cval"))
        .groupBy(col("m"), col("code"))
        .agg(sort_array(collect_list(struct(col("dim0"), col("cval"))))
          .as("p"))
        .select(col("m"), col("code"),
          transform(col("p"), s => s("cval")).as("cv"))
        .transform(Iterate.pin)
    }
    codebook
  }

  /** DuckDB oracle: per-subspace Lloyd's rounds unrolled as CTE pairs. */
  def sqlPqKmeans(iters: Int = KmeansIters): String =
    s"""WITH ${sqlPqKmeansCtes(iters)}
       |SELECT id AS vec_id, m, code FROM fin
       |ORDER BY vec_id, m""".stripMargin

  /** [[pqDistortionTrained]] oracle: per-subspace SSE of the final
    * assignment against the trained books from the same unrolled rounds.
    */
  def sqlPqDistortionTrained(iters: Int = KmeansIters): String = {
    import graft.functions.Exact
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH ${sqlPqKmeansCtes(iters)},
       |errs AS (
       |  SELECT f.m,
       |    ${dotSub("f.sv", "f.sv")}
       |      - CAST(2 AS DOUBLE) * ${dotSub("f.sv", "cb.cv")}
       |      + ${dotSub("cb.cv", "cb.cv")} AS d2
       |  FROM fin f JOIN cb$iters cb ON f.m = cb.m AND f.code = cb.code
       |), agg AS (
       |  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |    ${Exact.sqlSum("d2", 9)} AS sse
       |  FROM errs GROUP BY m
       |)
       |SELECT m, n_vectors, sse,
       |  sse / CAST(n_vectors AS DOUBLE) AS mean_distortion
       |FROM agg ORDER BY m""".stripMargin
  }

  private def sqlPqKmeansCtes(iters: Int): String = {
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    def assign(cb: String): String =
      s"""SELECT id, m, code, sv FROM (
         |    SELECT s.id, s.m, c.code, s.sv, ROW_NUMBER() OVER (
         |      PARTITION BY s.id, s.m
         |      ORDER BY ${dotSub("c.cv", "c.cv")}
         |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
         |    ) AS rn
         |    FROM subs s JOIN $cb c ON s.m = c.m
         |  ) WHERE rn = 1""".stripMargin
    val subDefs = (0 until PqM).map { m =>
      s"SELECT vec_id AS id, $m AS m, v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sv FROM dv"
    }.mkString("\n  UNION ALL\n  ")
    val rounds = (1 to iters).map { k =>
      s"""a$k AS (
         |  ${assign(s"cb${k - 1}")}
         |), cb$k AS (
         |  SELECT m, code, list(cval ORDER BY dim0) AS cv FROM (
         |    SELECT m, code, i AS dim0,
         |      ${graft.functions.Exact.sqlAvg("sv[i]")} AS cval
         |    FROM a$k, range(1, ${PqSubDim + 1}) t(i)
         |    GROUP BY m, code, i
         |  ) GROUP BY m, code
         |)""".stripMargin
    }.mkString(",\n")
    s"""dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), subs AS (
       |  $subDefs
       |), cb0 AS (
       |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
       |  FROM subs WHERE id < $PqK
       |),
       |$rounds,
       |fin AS (
       |  ${assign(s"cb$iters")}
       |)""".stripMargin
  }

  def pqTopK(emb: DataFrame, k: Int = AnnTopK): DataFrame = {
    import graft.functions.Exact
    val subs = subvectors(emb, "id")
    val codebook = seedCodebook(subs)
    val codes = encode(subs, codebook)
    // LUT: exact query subvector · every codebook entry (|Q|·M·K rows)
    val lut = subs.filter(col("id") < NQueries)
      .select(col("id").as("query_id"), col("m"), col("sv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dotD(col("sv"), col("cv")).as("pdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("cand_id"))
    codes.select(col("id").as("cand_id"), col("m"), col("code"))
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(Exact.xsum(col("pdot"), 9).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"), col("adc"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlPqTopK(k: Int = AnnTopK): String = {
    import graft.functions.Exact
    val subDefs = (0 until PqM).map { m =>
      s"SELECT vec_id AS id, $m AS m, v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sv FROM dv"
    }.mkString("\n  UNION ALL\n  ")
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), subs AS (
       |  $subDefs
       |), codebook AS (
       |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
       |  FROM subs WHERE id < $PqK
       |), codes AS (
       |  SELECT id, m, code FROM (
       |    SELECT s.id, s.m, c.code, ROW_NUMBER() OVER (
       |      PARTITION BY s.id, s.m
       |      ORDER BY ${dotSub("c.cv", "c.cv")}
       |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
       |    ) AS rn
       |    FROM subs s JOIN codebook c ON s.m = c.m
       |  ) WHERE rn = 1
       |), lut AS (
       |  SELECT s.id AS query_id, s.m, c.code,
       |    ${dotSub("s.sv", "c.cv")} AS pdot
       |  FROM subs s JOIN codebook c ON s.m = c.m
       |  WHERE s.id < $NQueries
       |), scored AS (
       |  SELECT l.query_id, co.id AS cand_id,
       |    ${Exact.sqlSum("l.pdot", 9)} AS adc
       |  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.code
       |  WHERE l.query_id <> co.id
       |  GROUP BY l.query_id, co.id
       |)
       |SELECT query_id, rk, cand_id, adc FROM (
       |  SELECT query_id, cand_id, adc, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rk
       |  FROM scored
       |) WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** PQ symmetric-distance top-k — SDC, the other column of Jégou 2011
    * §III.A Table 1: the QUERY is quantized too, so the distance is
    * approximated code-to-code, d²(q, x) ≈ Σ_m d²(c(q_m), c(x_m)), and
    * scoring never touches a raw vector — only the data-independent
    * M·K² centroid-pair table. SDC pays one extra quantization error
    * (the query's) versus [[pqTopK]]'s ADC, in exchange for a query
    * pipeline that runs entirely on precomputed codes — the shape a
    * code-only store (pre-encoded query logs, code-to-code dedup of an
    * already-quantized corpus) needs.
    *
    * Scale shape: the corpus is encoded by the SAME map-side broadcast
    * argmin as ADC and touched once; the centroid-pair LUT is codebook²
    * (M·K² = 256 rows here, 4·2¹⁶ at production K=256) and broadcasts;
    * the scoring join carries only (id, m, code) rows keyed by
    * (m, code), exactly ADC's join width; the distance sum goes through
    * the exact-decimal detour so the ASCENDING rank ties identically
    * cross-engine (ties then by cand_id).
    */
  def sdcTopK(emb: DataFrame): DataFrame = {
    import graft.functions.Exact
    val subs = subvectors(emb, "id")
    val codebook = seedCodebook(subs)
    val codes = encode(subs, codebook).transform(Iterate.pin)
    // centroid-pair squared-L2 LUT: data-independent, M·K² rows. The
    // (|a|² − 2a·b) + |b|² association mirrors the oracle token-for-token
    // — single IEEE ops, never refactored.
    val cc = codebook.select(col("m"), col("code").as("code_q"),
        col("cv").as("cq"))
      .join(broadcast(codebook.select(col("m"), col("code").as("code_x"),
        col("cv").as("cx"))), Seq("m"))
      .select(col("m"), col("code_q"), col("code_x"),
        (dotD(col("cq"), col("cq")) - lit(2.0) * dotD(col("cq"), col("cx"))
          + dotD(col("cx"), col("cx"))).as("pd2"))
    // per-query LUT rows (query_id, m, code_x, pd2): |Q|·M·K, broadcast —
    // the corpus-code join below is therefore map-side, like ADC's.
    val qlut = codes.filter(col("id") < NQueries)
      .select(col("id").as("query_id"), col("m"), col("code").as("code_q"))
      .join(broadcast(cc), Seq("m", "code_q"))
      .select(col("query_id"), col("m"), col("code_x"), col("pd2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sdc").asc, col("cand_id"))
    codes.select(col("id").as("cand_id"), col("m"),
        col("code").as("code_x"))
      .join(broadcast(qlut), Seq("m", "code_x"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(Exact.xsum(col("pd2"), 9).as("sdc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("sdc"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlSdcTopK: String = {
    import graft.functions.Exact
    val subDefs = (0 until PqM).map { m =>
      s"SELECT vec_id AS id, $m AS m, v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sv FROM dv"
    }.mkString("\n  UNION ALL\n  ")
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), subs AS (
       |  $subDefs
       |), codebook AS (
       |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
       |  FROM subs WHERE id < $PqK
       |), codes AS (
       |  SELECT id, m, code FROM (
       |    SELECT s.id, s.m, c.code, ROW_NUMBER() OVER (
       |      PARTITION BY s.id, s.m
       |      ORDER BY ${dotSub("c.cv", "c.cv")}
       |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
       |    ) AS rn
       |    FROM subs s JOIN codebook c ON s.m = c.m
       |  ) WHERE rn = 1
       |), cc AS (
       |  SELECT a.m, a.code AS code_q, b.code AS code_x,
       |    ${dotSub("a.cv", "a.cv")}
       |      - CAST(2 AS DOUBLE) * ${dotSub("a.cv", "b.cv")}
       |      + ${dotSub("b.cv", "b.cv")} AS pd2
       |  FROM codebook a JOIN codebook b ON a.m = b.m
       |), qlut AS (
       |  SELECT q.id AS query_id, cc.m, cc.code_x, cc.pd2
       |  FROM codes q JOIN cc ON q.m = cc.m AND q.code = cc.code_q
       |  WHERE q.id < $NQueries
       |), scored AS (
       |  SELECT l.query_id, co.id AS cand_id,
       |    ${Exact.sqlSum("l.pd2", 9)} AS sdc
       |  FROM codes co JOIN qlut l ON co.m = l.m AND co.code = l.code_x
       |  WHERE l.query_id <> co.id
       |  GROUP BY l.query_id, co.id
       |)
       |SELECT query_id, rk, cand_id, sdc FROM (
       |  SELECT query_id, cand_id, sdc, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sdc ASC, cand_id) AS rk
       |  FROM scored
       |) WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** ADC shortlist + exact refine — the "+R" of IVFADC+R (Jégou-Tavenard-
    * Douze-Amsaleg, "Searching in one billion vectors: re-rank with
    * source coding", ICASSP 2011): the code-compressed ranking is cheap
    * but lossy, so take its top-[[PqCandK]] shortlist and re-rank those
    * few candidates by EXACT cosine. The refine join touches
    * |Q|·[[PqCandK]] full vectors — nothing corpus-sized — which is why
    * production systems always bolt this stage on; read its recall
    * (`sim_pq_rerank_recall`) against `sim_ivfpq_recall` for the
    * measured recovery. Same plan shape as [[sqRerank]] (the
    * scalar-quantized twin).
    */
  val PqCandK: Int = 2 * AnnTopK

  def pqRerank(emb: DataFrame): DataFrame = {
    val cands = pqTopK(emb, PqCandK)
      .select(col("query_id"), col("cand_id"))
    val q = withNorm(emb.filter(col("vec_id") < NQueries), "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val c = withNorm(emb, "embedding")
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    cands.join(q, Seq("query_id")).join(c, Seq("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlPqRerank: String =
    s"""WITH cand AS (
       |  ${sqlPqTopK(PqCandK).linesIterator.mkString("\n  ")}
       |), qv AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT cand.query_id, cand.cand_id,
       |    ${sqlCosine("qv.qe", "e.embedding", Dim)} AS cos
       |  FROM cand
       |  JOIN qv USING (query_id)
       |  JOIN embeddings e ON cand.cand_id = e.vec_id
       |), reranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM reranked WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin

  // --------------------------------------------------- maxmin k-center init
  /** Farthest-first k-center seeding (Gonzalez, "Clustering to minimize
    * the maximum intercluster distance", TCS 1985): start from a fixed
    * vector, then k−1 times pick the point FARTHEST from its nearest
    * chosen center. The classic deterministic alternative to k-means++'s
    * D² sampling (same 2-approximation flavor without the random draw —
    * the property that makes it oracle-expressible), and the principled
    * upgrade over this suite's first-k-ids seed convention: emitted
    * `maxmin_d2` values are the k-center radii, a read-off diagnostic of
    * how well k covers the corpus (they should fall fast, then flatten).
    *
    * Scale shape per round: ONE map-side pass updating the running
    * min-distance column against the single new broadcast center (the
    * incremental form — never |V|·k distances at once), then a global
    * top-1 (TakeOrderedAndProject). k full passes total — the known
    * Gonzalez cost; at 100 TB you run it on a uniform sample (or switch
    * to k-means‖ oversampling, Bahmani VLDB 2012), which changes the
    * input frame, not this plan. Lineage is pinned per round.
    */
  def maxminInit(emb: DataFrame): DataFrame = {
    val dv = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .transform(Iterate.pin)
    val c0 = dv.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var out = c0.select(lit(0).as("round"), col("cid").as("center_id"),
      lit(null).cast("double").as("maxmin_d2"))
    var minD = dv.crossJoin(broadcast(c0))
      .select(col("vec_id"), col("v"),
        (dotD(col("v"), col("v")) - lit(2.0) * dotD(col("v"), col("cv"))
          + dotD(col("cv"), col("cv"))).as("md"))
      .transform(Iterate.pin)
    for (r <- 1 until NCentroids) {
      val pick = minD.orderBy(col("md").desc, col("vec_id").asc).limit(1)
        .transform(Iterate.pin)
      out = out.unionByName(pick.select(lit(r).as("round"),
        col("vec_id").as("center_id"), col("md").as("maxmin_d2")))
      if (r < NCentroids - 1) {
        val c = pick.select(col("v").as("cv"))
        minD = minD.crossJoin(broadcast(c))
          .select(col("vec_id"), col("v"),
            least(col("md"),
              dotD(col("v"), col("v"))
                - lit(2.0) * dotD(col("v"), col("cv"))
                + dotD(col("cv"), col("cv"))).as("md"))
          .transform(Iterate.pin)
      }
    }
    out.orderBy(col("round"))
  }

  def sqlMaxminInit: String = {
    def d2(a: String, b: String): String =
      s"""${sqlDotD(a, a)}
         |      - CAST(2 AS DOUBLE) * ${sqlDotD(a, b)}
         |      + ${sqlDotD(b, b)}""".stripMargin
    val rounds = (1 until NCentroids).map { r =>
      val src = if (r == 1) "m1" else s"m$r"
      val prev = s"m${r - 1}"
      val mDef = if (r == 1) "" else
        s"""m$r AS (
           |  SELECT m.vec_id, m.v,
           |    LEAST(m.md, ${d2("m.v", "p.v")}) AS md
           |  FROM $prev m, p${r - 1} p
           |), """.stripMargin
      s"""${mDef}p$r AS (
         |  SELECT vec_id, v, md FROM $src
         |  ORDER BY md DESC, vec_id LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val outRows = (1 until NCentroids).map(r =>
      s"SELECT $r AS round, vec_id AS center_id, md AS maxmin_d2 FROM p$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), c0 AS (
       |  SELECT vec_id AS cid, v AS cv FROM dv WHERE vec_id = 0
       |), m1 AS (
       |  SELECT d.vec_id, d.v,
       |    ${d2("d.v", "c.cv")} AS md
       |  FROM dv d, c0 c
       |),
       |$rounds
       |SELECT round, center_id, maxmin_d2 FROM (
       |  SELECT 0 AS round, cid AS center_id,
       |    CAST(NULL AS DOUBLE) AS maxmin_d2 FROM c0
       |  UNION ALL
       |  $outRows
       |) ORDER BY round""".stripMargin
  }

  // ------------------------------------------------------------- IVF + PQ
  /** IVFADC (Jégou 2011 §IV): the composition a production-scale ANN
    * actually deploys — IVF coarse pruning picks WHICH vectors to score,
    * PQ codes decide HOW each is scored. Queries probe their top-
    * [[IvfPqProbe]] coarse cells; candidates in those cells are scored by
    * ADC lookup-table sums over their M-byte codes, never their full
    * vectors.
    *
    * Why the composition (and not either half alone) is the 100 TB shape:
    * IVF alone still reads 4·Dim bytes per candidate; PQ alone still
    * scans every code row per query. Composed, the scoring join touches
    * |probed cells|/|cells| of the corpus × M bytes — with k-means-trained
    * cells and 2⁸ codes that is the standard billion-vector recipe
    * (cells and codebooks here are the suite's deterministic training-free
    * convention; [[ivfKmeans]]/[[pqKmeans]] output slots in unchanged).
    * Plan shape: cell assignment and code encoding are each ONE broadcast
    * join + thin argmin aggregate over the corpus; the probe join is
    * hash-partitioned on the cell id; the LUT (|Q|·M·K partial dots) is a
    * broadcast; the ADC sum is the exact-decimal detour so scores are
    * bit-identical cross-engine; top-k via WindowGroupLimit.
    */
  val IvfPqProbe = 2

  def ivfPqTopK(emb: DataFrame): DataFrame = {
    import graft.functions.Exact
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    // corpus side: one cell id + M codes per vector
    val subs = subvectors(emb, "id")
    val codebook = seedCodebook(subs)
    val cands = encode(subs, codebook)
      .select(col("id").as("cand_id"), col("m"), col("code"))
      .join(nearestCell(scored)
        .select(col("vec_id").as("cand_id"), col("bucket")), Seq("cand_id"))
    // query side: top-P probed cells (window over the bounded |Q|·K slice)
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id"))
    val probes = n.filter(col("vec_id") < NQueries).crossJoin(broadcast(cents))
      .withColumn("sim",
        ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= IvfPqProbe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("bucket"))
    val lut = subs.filter(col("id") < NQueries)
      .select(col("id").as("query_id"), col("m"), col("sv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dotD(col("sv"), col("cv")).as("pdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("cand_id"))
    probes.join(cands, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(Exact.xsum(col("pdot"), 9).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("adc"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlIvfPqTopK: String = {
    import graft.functions.Exact
    val subDefs = (0 until PqM).map { m =>
      s"SELECT vec_id AS id, $m AS m, v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sv FROM dv"
    }.mkString("\n  UNION ALL\n  ")
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cent_id) AS rn FROM (
       |    SELECT n.vec_id, cents.cent_id,
       |      ${sqlDot("n.embedding", "cents.cv", Dim)} / (n.nrm * cents.cnrm)
       |        AS sim
       |    FROM n, cents
       |  )
       |), dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), subs AS (
       |  $subDefs
       |), codebook AS (
       |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
       |  FROM subs WHERE id < $PqK
       |), codes AS (
       |  SELECT id, m, code FROM (
       |    SELECT s.id, s.m, c.code, ROW_NUMBER() OVER (
       |      PARTITION BY s.id, s.m
       |      ORDER BY ${dotSub("c.cv", "c.cv")}
       |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
       |    ) AS rn
       |    FROM subs s JOIN codebook c ON s.m = c.m
       |  ) WHERE rn = 1
       |), cands AS (
       |  SELECT co.id AS cand_id, co.m, co.code, r.cent_id AS bucket
       |  FROM codes co JOIN ranked r ON co.id = r.vec_id AND r.rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cent_id AS bucket
       |  FROM ranked WHERE rn <= $IvfPqProbe AND vec_id < $NQueries
       |), lut AS (
       |  SELECT s.id AS query_id, s.m, c.code,
       |    ${dotSub("s.sv", "c.cv")} AS pdot
       |  FROM subs s JOIN codebook c ON s.m = c.m
       |  WHERE s.id < $NQueries
       |), scored AS (
       |  SELECT p.query_id, c.cand_id, ${Exact.sqlSum("l.pdot", 9)} AS adc
       |  FROM probes p
       |  JOIN cands c ON p.bucket = c.bucket AND p.query_id <> c.cand_id
       |  JOIN lut l ON l.query_id = p.query_id
       |    AND l.m = c.m AND l.code = c.code
       |  GROUP BY p.query_id, c.cand_id
       |)
       |SELECT query_id, rk, cand_id, adc FROM (
       |  SELECT query_id, cand_id, adc, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rk
       |  FROM scored
       |) WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  // ------------------------------------------------------ residual IVFADC
  /** RESIDUAL IVFADC — the faithful Jégou 2011 §IV composition (what
    * [[ivfPqTopK]] simplifies): PQ quantizes the residual v − centroid,
    * not the raw vector, and the ADC score decomposes as
    * q·v ≈ q·centroid + q·residual_code.
    *
    * MEASURED, not assumed: under the suite's training-free codebook
    * convention the residual variant scores WORSE than the raw composite
    * (mean recall 0.04 vs 0.24 at sf0.01) — the textbook residual payoff
    * ("residuals concentrate near the origin") materializes only with
    * TRAINED codebooks; an un-trained residual codebook seeded from
    * eight arbitrary residuals discriminates less than raw-vector seeds,
    * and the dominant q·centroid term then collapses within-cell
    * ordering. The `sim_ivfadc_recall` / `sim_ivfpq_recall` pair is the
    * harness that shows exactly this.
    *
    * `codebook` is either the seed book ([[seedCodebook]] of the
    * residuals) or the trained one ([[residualBookCached]]), which runs
    * the residual subvectors through the SAME Lloyd's rounds as
    * [[pqKmeans]] ([[trainSubCodebook]]) — also
    * measured: on the fixture's near-ISOTROPIC synthetic embeddings two
    * training rounds change the codebook but not one top-5 set
    * (byte-identical rankings, checked in DuckDB as well as Spark) —
    * codebook training cannot manufacture cluster structure the data
    * does not have. The trained book is spec-exercised; real
    * embedding corpora, which do cluster, are where it pays.
    *
    * Plan shape: the residual computation is ONE broadcast-centroid join
    * + map-side `zip_with` subtraction (exact: float→double widening,
    * then double subtraction); encode/LUT/probe machinery is shared with
    * the raw composite; the per-(query, cell) q·centroid term rides the
    * probe frame, so the final score is one addition on top of the
    * exact-decimal ADC sum.
    */
  /** (assigned cells, residual subvectors) — the frames every residual
    * query variant shares: coarse assignment (one broadcast-centroid
    * scoring pass) and the per-(vector, subspace) residual explode.
    */
  def residualSubvectors(emb: DataFrame): (DataFrame, DataFrame) = {
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val assigned = nearestCell(scored)
    val cvd = cents.select(col("cent_id").as("bucket"),
      transform(col("cv"), x => x.cast("double")).as("cvd"))
    // residual subvectors, one row per (vector, subspace)
    val rsubs = emb
      .join(assigned.select(col("vec_id"), col("bucket")), Seq("vec_id"))
      .join(broadcast(cvd), Seq("bucket"))
      .select(col("vec_id").as("id"), col("bucket"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("cvd"))
      .select(col("id"), col("bucket"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"),
            zip_with(slice(col("v"), m * PqSubDim + 1, PqSubDim),
              slice(col("cvd"), m * PqSubDim + 1, PqSubDim),
              (a, b) => a - b).as("sv"))): _*)).as("s"))
      .select(col("id"), col("s.m").as("m"), col("s.sv").as("sv"))
    (assigned, rsubs)
  }

  /** Pinned per-(session, `emb`) memos of TRAINED index artifacts — coarse
    * centroids ([[ivfTrainedCents]]) and per-subspace PQ codebooks
    * ([[trainSubCodebook]] on raw subvectors). A deployment trains once
    * and persists these beside the index; every consumer (assignment,
    * balance audit, distortion audit) reads the persisted frame rather
    * than re-running Lloyd's — the memo is that artifact store.
    */
  def ivfCentsCached(emb: DataFrame): DataFrame =
    graft.Memo.pinned(emb.sparkSession, "sim.ivf_cents", emb)(
      ivfTrainedCents(emb))

  def pqCodebookCached(emb: DataFrame): DataFrame =
    graft.Memo.pinned(emb.sparkSession, "sim.pq_book", emb)(
      trainSubCodebook(subvectors(emb, "id")))

  /** Trained RESIDUAL codebooks (Jégou §IV) over the shared residual
    * memo — the IVFADC twin of [[pqCodebookCached]].
    */
  def residualBookCached(emb: DataFrame): DataFrame =
    graft.Memo.pinned(emb.sparkSession, "sim.res_book", emb)(
      trainSubCodebook(residualSubvectorsCached(emb)._2))

  /** Pinned per-(session, `emb`) memo of [[residualSubvectors]] — the
    * untrained top-k, the Lloyd's-trained top-k, and the recall harness
    * all open with the SAME assignment + residual explode.
    */
  def residualSubvectorsCached(emb: DataFrame): (DataFrame, DataFrame) =
    graft.Memo(emb.sparkSession, "sim.residuals", emb) {
      val (assigned, rsubs) = residualSubvectors(emb)
      (Iterate.pin(assigned), Iterate.pin(rsubs))
    }

  def ivfPqResidualTopK(emb: DataFrame, residuals: (DataFrame, DataFrame),
      codebook: DataFrame): DataFrame = {
    import graft.functions.Exact
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val (assigned, rsubsThin) = residuals
    val cands = encode(rsubsThin, codebook)
      .select(col("id").as("cand_id"), col("m"), col("code"))
      .join(assigned.select(col("vec_id").as("cand_id"), col("bucket")),
        Seq("cand_id"))
    // probes carry BOTH the cosine (cell choice) and the raw q·centroid
    // (the coarse score term)
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id"))
    val probes = n.filter(col("vec_id") < NQueries).crossJoin(broadcast(cents))
      .withColumn("sim",
        ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
      .withColumn("qc", ndot(col("embedding"), col("cv")))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= IvfPqProbe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("bucket"),
        col("qc"))
    val lut = subvectors(emb, "id").filter(col("id") < NQueries)
      .select(col("id").as("query_id"), col("m"), col("sv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dotD(col("sv"), col("cv")).as("pdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    probes.join(cands, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("cand_id"), col("qc"))
      .agg(Exact.xsum(col("pdot"), 9).as("adc"))
      .withColumn("score", col("qc") + col("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlIvfPqResidualTopK(trained: Boolean = false): String = {
    import graft.functions.Exact
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    val rsubDefs = (0 until PqM).map { m =>
      s"""SELECT d.vec_id AS id, a.bucket, $m AS m,
         |    list_transform(range(1, ${PqSubDim + 1}),
         |      i -> d.v[${m * PqSubDim} + i] - cv.cvd[${m * PqSubDim} + i])
         |      AS sv
         |  FROM dv d JOIN assigned a ON d.vec_id = a.vec_id
         |  JOIN cvd cv ON a.bucket = cv.bucket""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val qsubDefs = (0 until PqM).map { m =>
      s"SELECT vec_id AS query_id, $m AS m, v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sv FROM dv WHERE vec_id < $NQueries"
    }.mkString("\n  UNION ALL\n  ")
    // seed codebook, optionally refined by the same unrolled Lloyd's
    // rounds as sqlPqKmeans — over RESIDUAL subvectors
    def assign(cb: String): String =
      s"""SELECT id, m, code, sv FROM (
         |    SELECT s.id, s.m, c.code, s.sv, ROW_NUMBER() OVER (
         |      PARTITION BY s.id, s.m
         |      ORDER BY ${dotSub("c.cv", "c.cv")}
         |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
         |    ) AS rn
         |    FROM rsubs s JOIN $cb c ON s.m = c.m
         |  ) WHERE rn = 1""".stripMargin
    val codebookCtes =
      if (!trained)
        s"""codebook AS (
           |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
           |  FROM rsubs WHERE id < $PqK
           |)""".stripMargin
      else {
        val rounds = (1 to KmeansIters).map { k =>
          s"""ra$k AS (
             |  ${assign(s"rcb${k - 1}").linesIterator.mkString("\n  ")}
             |), rcb$k AS (
             |  SELECT m, code, list(cval ORDER BY dim0) AS cv FROM (
             |    SELECT m, code, i AS dim0,
             |      ${Exact.sqlAvg("sv[i]")} AS cval
             |    FROM ra$k, range(1, ${PqSubDim + 1}) t(i)
             |    GROUP BY m, code, i
             |  ) GROUP BY m, code
             |)""".stripMargin
        }.mkString(",\n")
        s"""rcb0 AS (
           |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
           |  FROM rsubs WHERE id < $PqK
           |),
           |$rounds,
           |codebook AS (SELECT * FROM rcb$KmeansIters)""".stripMargin
      }
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cent_id) AS rn FROM (
       |    SELECT n.vec_id, cents.cent_id,
       |      ${sqlDot("n.embedding", "cents.cv", Dim)} / (n.nrm * cents.cnrm)
       |        AS sim,
       |      ${sqlDot("n.embedding", "cents.cv", Dim)} AS qc
       |    FROM n, cents
       |  )
       |), assigned AS (
       |  SELECT vec_id, cent_id AS bucket FROM ranked WHERE rn = 1
       |), dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), cvd AS (
       |  SELECT cent_id AS bucket, list_transform(cv, x -> x::DOUBLE) AS cvd
       |  FROM cents
       |), rsubs AS (
       |  $rsubDefs
       |), $codebookCtes, cands AS (
       |  SELECT r.id AS cand_id, r.m, r.code, a.bucket FROM (
       |    SELECT s.id, s.m, c.code, ROW_NUMBER() OVER (
       |      PARTITION BY s.id, s.m
       |      ORDER BY ${dotSub("c.cv", "c.cv")}
       |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
       |    ) AS rn
       |    FROM rsubs s JOIN codebook c ON s.m = c.m
       |  ) r JOIN assigned a ON r.id = a.vec_id
       |  WHERE r.rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cent_id AS bucket, qc
       |  FROM ranked WHERE rn <= $IvfPqProbe AND vec_id < $NQueries
       |), qsubs AS (
       |  $qsubDefs
       |), lut AS (
       |  SELECT s.query_id, s.m, c.code, ${dotSub("s.sv", "c.cv")} AS pdot
       |  FROM qsubs s JOIN codebook c ON s.m = c.m
       |), scored AS (
       |  SELECT p.query_id, c.cand_id,
       |    p.qc + ${Exact.sqlSum("l.pdot", 9)} AS score
       |  FROM probes p
       |  JOIN cands c ON p.bucket = c.bucket AND p.query_id <> c.cand_id
       |  JOIN lut l ON l.query_id = p.query_id
       |    AND l.m = c.m AND l.code = c.code
       |  GROUP BY p.query_id, c.cand_id, p.qc
       |)
       |SELECT query_id, rk, cand_id, score FROM (
       |  SELECT query_id, cand_id, score, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, cand_id) AS rk
       |  FROM scored
       |) WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  // -------------------------------------------------------- PQ distortion
  /** Per-subspace PQ reconstruction distortion — mean squared error
    * between each subvector and its assigned codebook entry (Jégou 2011's
    * quantization-error term). The audit that pairs with
    * [[ivfPqTopK]]/recall: recall tells you what the index MISSES,
    * distortion tells you WHY (which subspace's codebook is too coarse)
    * and when to re-train ([[pqKmeans]]) or raise the code count.
    *
    * Determinism: the squared distance expands to three per-row dot
    * products (fixed IEEE op sequences); the per-subspace mean goes
    * through the exact-decimal sum so partition order cannot move the
    * result. Shape: the same broadcast-codebook encode pass as every PQ
    * op, then one 4-row aggregate.
    */
  def pqDistortion(emb: DataFrame): DataFrame = {
    import graft.functions.Exact
    val subs = subvectors(emb, "id")
    val codebook = seedCodebook(subs)
    val codes = encode(subs, codebook)
    subs.join(codes, Seq("id", "m"))
      .join(broadcast(codebook), Seq("m", "code"))
      .select(col("m"),
        (dotD(col("sv"), col("sv")) - lit(2.0) * dotD(col("sv"), col("cv"))
          + dotD(col("cv"), col("cv"))).as("d2"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vectors"), Exact.xsum(col("d2"), 9).as("sse"))
      .select(col("m"), col("n_vectors"), col("sse"),
        (col("sse") / col("n_vectors").cast("double"))
          .as("mean_distortion"))
      .orderBy(col("m"))
  }

  def sqlPqDistortion: String = {
    import graft.functions.Exact
    val subDefs = (0 until PqM).map { m =>
      s"SELECT vec_id AS id, $m AS m, v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS sv FROM dv"
    }.mkString("\n  UNION ALL\n  ")
    def dotSub(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${PqSubDim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), subs AS (
       |  $subDefs
       |), codebook AS (
       |  SELECT m, CAST(id AS INTEGER) AS code, sv AS cv
       |  FROM subs WHERE id < $PqK
       |), codes AS (
       |  SELECT id, m, code FROM (
       |    SELECT s.id, s.m, c.code, ROW_NUMBER() OVER (
       |      PARTITION BY s.id, s.m
       |      ORDER BY ${dotSub("c.cv", "c.cv")}
       |             - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "c.cv")}, c.code
       |    ) AS rn
       |    FROM subs s JOIN codebook c ON s.m = c.m
       |  ) WHERE rn = 1
       |), errs AS (
       |  SELECT s.m,
       |    ${dotSub("s.sv", "s.sv")}
       |      - CAST(2 AS DOUBLE) * ${dotSub("s.sv", "cb.cv")}
       |      + ${dotSub("cb.cv", "cb.cv")} AS d2
       |  FROM subs s
       |  JOIN codes co ON s.id = co.id AND s.m = co.m
       |  JOIN codebook cb ON co.m = cb.m AND co.code = cb.code
       |), agg AS (
       |  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |    ${Exact.sqlSum("d2", 9)} AS sse
       |  FROM errs GROUP BY m
       |)
       |SELECT m, n_vectors, sse,
       |  sse / CAST(n_vectors AS DOUBLE) AS mean_distortion
       |FROM agg ORDER BY m""".stripMargin
  }

  // ----------------------------------------------------- cosine near-dup
  /** Embedding near-duplicate pairs, blocked by the random-hyperplane LSH
    * bucket ([[lshBucket]]): the candidate join is hash-partitioned on the
    * bucket key, and per-bucket population is a tunable fraction of the
    * corpus — raise `NPlanes` ≈ log2(N / target bucket size) as the corpus
    * grows, which shrinks buckets geometrically without changing the plan.
    * (Blocking by a fixed-cardinality attribute like `label` would leave
    * within-block pairs O(corpus²/|labels|) — the key must DERIVE from the
    * vector, as LSH buckets do.) Missing a cross-bucket pair is the
    * standard LSH recall trade-off; multi-band probing slots in exactly as
    * in [[graft.operators.Dedup.minhashPairs]]. Threshold applied to the
    * bit-stable unrounded cosine; rounding only in the projection.
    */
  val NearDupThreshold = 0.3

  def embedNearDup(emb: DataFrame): DataFrame = {
    val n = withNorm(emb, "embedding")
      .withColumn("bucket", lshBucket(col("embedding")))
    val a = n.select(col("vec_id").as("vec_a"), col("bucket"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = n.select(col("vec_id").as("vec_b"), col("bucket"),
      col("embedding").as("eb"), col("norm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", ndot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= NearDupThreshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  def sqlEmbedNearDup: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM embeddings
       |), p AS (
       |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |    ${sqlCosine("a.embedding", "c.embedding", Dim)} AS cos
       |  FROM b a JOIN b c
       |    ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |)
       |SELECT vec_a, vec_b, ROUND(cos, 6) AS cos_sim
       |FROM p WHERE cos >= $NearDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // -------------------------------------------------------- semantic dedup
  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding space with the coarse quantizer, find within-cluster pairs
    * above a cosine threshold, connect them into duplicate groups, and
    * keep ONE representative per group (here: min vec_id — deterministic;
    * the paper's keep-farthest-from-centroid policy is a one-column swap
    * in the keep window).
    *
    * Scale shape: cluster assignment is the broadcast-centroid map-side
    * pass of [[ivfTopK]]; the quadratic stage is confined to cells. The
    * paper's own scaling rule applies: cluster count grows ∝ corpus
    * (50 k clusters for LAION) so cell population stays bounded — k is a
    * knob, not a plan change. A cell that still outgrows the bound takes
    * an LSH sub-key exactly as [[graft.operators.Dedup.ngramJaccard]]
    * sub-splits oversized blocks ([[lshBucket]] composes as the sub-key
    * unchanged). Components run on the pair set (tiny vs corpus) via
    * [[graft.operators.Dedup.connectedComponents]].
    */
  val SemThreshold = 0.5

  /** Within-cell near-dup candidate pairs — the quadratic stage of
    * [[semanticDedup]], exposed on its own (like
    * [[graft.operators.Dedup.minhashPairs]]) so the pair frame can be
    * persisted/audited and its plan shape pinned by test.
    */
  def semanticPairs(emb: DataFrame): DataFrame = {
    val n = withNorm(emb, "embedding")
    val cents = n.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("norm").as("cnrm"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        (ndot(col("embedding"), col("cv")) / (col("norm") * col("cnrm")))
          .as("sim"),
        col("cent_id"))
    val assigned = n.join(nearestCell(scored), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))
    val a = assigned.select(col("vec_id").as("doc_a"), col("bucket"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = assigned.select(col("vec_id").as("doc_b"), col("bucket"),
      col("embedding").as("eb"), col("norm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("doc_a") < col("doc_b"))
      .withColumn("cos", ndot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= SemThreshold)
      .select(col("doc_a"), col("doc_b"))
  }

  def semanticDedup(emb: DataFrame): DataFrame = {
    val comp = graft.operators.Dedup.connectedComponents(semanticPairs(emb))
      .select(col("doc_id").as("vec_id"), col("component"))
    val whole = Window.partitionBy(col("component"))
    emb.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
      .withColumn("n_dups", count(lit(1)).over(whole))
      .withColumn("kept", col("vec_id") === col("component"))
      .select(col("vec_id"), col("component"), col("n_dups"), col("kept"))
      .orderBy(col("vec_id"))
  }

  def sqlSemanticDedup: String =
    s"""WITH RECURSIVE n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding", Dim)}) AS nrm
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |  FROM n WHERE vec_id < $NCentroids
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, cent_id AS bucket FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cent_id) AS rn FROM (
       |      SELECT n.vec_id, n.embedding, n.nrm, cents.cent_id,
       |        ${sqlDot("n.embedding", "cents.cv", Dim)}
       |          / (n.nrm * cents.cnrm) AS sim
       |      FROM n, cents
       |    )
       |  ) WHERE rn = 1
       |), pairs AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM assigned a JOIN assigned b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${sqlDot("a.embedding", "b.embedding", Dim)}
       |          / (a.nrm * b.nrm) >= $SemThreshold
       |),
       |${graft.operators.Dedup.sqlComponentsCtes},
       |joined AS (
       |  SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component
       |  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.doc_id
       |)
       |SELECT vec_id, component,
       |  COUNT(*) OVER (PARTITION BY component) AS n_dups,
       |  vec_id = component AS kept
       |FROM joined ORDER BY vec_id""".stripMargin

  // ------------------------------------------------- centroid-distance QC
  /** Embedding-space outlier detection for corpus QC: the [[OutlierK]]
    * vectors farthest (squared euclidean) from their label's centroid —
    * mislabeled / corrupted / off-distribution points, the embedding-space
    * twin of the text-side quality gates.
    *
    * Scale shape: centroids come from the exact per-(label, dim) aggregation
    * ([[centroids]] — order-independent decimal sums, so the centroid
    * doubles are bit-identical across engines); the per-label centroid
    * arrays are a tiny broadcast (|labels| rows). Distance is a map-side
    * left-to-right fold over dims (deterministic order ⇒ cross-engine-exact
    * doubles, emitted raw — no round-after-division). Top-k per label is a
    * rank window that Spark executes as WindowGroupLimit (per-partition
    * partial top-k), never a full per-label sort.
    */
  val OutlierK = 5

  def embedOutliers(emb: DataFrame): DataFrame = {
    val cArr = centroids(emb)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid"))))
        .as("dc"))
      .select(col("label"), expr("transform(dc, x -> x.centroid)").as("cvec"))
    val dist2 = aggregate(sequence(lit(1), lit(Dim)), lit(0.0), (acc, i) => {
      val diff = element_at(col("embedding"), i).cast("double") -
        element_at(col("cvec"), i)
      acc + diff * diff
    })
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2").desc, col("vec_id"))
    emb.join(broadcast(cArr), Seq("label"))
      .withColumn("dist2", dist2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= OutlierK)
      .select(col("label"), col("rk"), col("vec_id"), col("dist2"))
      .orderBy(col("label"), col("rk"))
  }

  /** Embedding-distribution drift per label: cosine between each label's
    * centroid and the global centroid — the dataset-shift monitor (a label
    * whose centroid swings away from the corpus mean changed distribution).
    * Centroids are the exact per-(label/global, dim) aggregates
    * (order-independent decimal sums → bit-identical doubles); the cosine
    * is a fold in dim order over two tiny arrays, emitted raw. Output is
    * |labels| rows — everything after the two centroid aggregations is
    * driver-trivial broadcast work.
    */
  def embedDrift(emb: DataFrame): DataFrame = {
    import graft.functions.Exact.xavg
    val ca = centroids(emb)
      .groupBy(col("label"))
      .agg(max(col("n_vectors")).as("n_vectors"),
        array_sort(collect_list(struct(col("dim"), col("centroid"))))
          .as("dc"))
      .select(col("label"), col("n_vectors"),
        expr("transform(dc, x -> x.centroid)").as("cvec"))
    val ga = emb
      .select(posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy((col("dim0") + 1).as("dim"))
      .agg(xavg(col("v").cast("double")).as("g"))
      .agg(array_sort(collect_list(struct(col("dim"), col("g")))).as("dg"))
      .select(expr("transform(dg, x -> x.g)").as("gvec"))
    def fdot(a: String, b: String): Column =
      expr(s"aggregate(sequence(1, $Dim), cast(0.0 as double), " +
        s"(acc, i) -> acc + element_at($a, i) * element_at($b, i))")
    ca.crossJoin(broadcast(ga))
      .withColumn("cos_to_global", fdot("cvec", "gvec") /
        (sqrt(fdot("cvec", "cvec")) * sqrt(fdot("gvec", "gvec"))))
      .select(col("label"), col("n_vectors"), col("cos_to_global"))
      .orderBy(col("label"))
  }

  def sqlEmbedDrift: String = {
    def d(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${Dim + 1}),
         |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH cent AS (
       |  SELECT label, i AS dim,
       |    ${graft.functions.Exact.sqlAvg("embedding[i]::DOUBLE")} AS centroid,
       |    COUNT(*) AS n_vectors
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY label, i
       |), ca AS (
       |  SELECT label, MAX(n_vectors) AS n_vectors,
       |    list(centroid ORDER BY dim) AS cvec
       |  FROM cent GROUP BY label
       |), g AS (
       |  SELECT i AS dim,
       |    ${graft.functions.Exact.sqlAvg("embedding[i]::DOUBLE")} AS gc
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY i
       |), ga AS (
       |  SELECT list(gc ORDER BY dim) AS gvec FROM g
       |)
       |SELECT label, n_vectors,
       |  ${d("cvec", "gvec")}
       |    / (sqrt(${d("cvec", "cvec")}) * sqrt(${d("gvec", "gvec")}))
       |    AS cos_to_global
       |FROM ca, ga ORDER BY label""".stripMargin
  }

  /** Int8 scalar quantization of the embedding table — the 4× storage
    * compression step for a 100 TB vector corpus (keep codes hot, full
    * floats cold). Per-dim [min, max] ranges come from ONE exact
    * aggregation (min/max carry no float-summation order hazard), pivot to
    * a 1-row broadcast, and encoding is a pure map-side fold:
    * code = floor((x − lo)·255 / (hi − lo)) — floor, never round: a
    * half-way round after division is exactly the cross-engine divergence
    * the suite bans, while floor of the identical IEEE quotient is
    * bit-stable in both engines. Constant dims encode 0.
    */
  def quantize(emb: DataFrame): DataFrame = {
    val ranges = emb
      .select(posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy((col("dim0") + 1).as("dim"))
      .agg(min(col("v").cast("double")).as("lo"),
        max(col("v").cast("double")).as("hi"))
      .agg(array_sort(collect_list(struct(col("dim"), col("lo")))).as("dl"),
        array_sort(collect_list(struct(col("dim"), col("hi")))).as("dh"))
      .select(expr("transform(dl, x -> x.lo)").as("los"),
        expr("transform(dh, x -> x.hi)").as("his"))
    // codes are emitted comma-joined: the harness compare sorts rows by
    // every column and pandas cannot order raw array cells — the string
    // form is byte-exact and costs nothing (a consumer re-splits)
    emb.crossJoin(broadcast(ranges))
      .withColumn("codes", expr(
        s"""array_join(transform(sequence(1, $Dim), i ->
           |  CASE WHEN element_at(his, i) = element_at(los, i) THEN 0
           |  ELSE CAST(least(255.0, floor(
           |    (cast(element_at(embedding, i) as double) - element_at(los, i))
           |      * 255.0
           |      / (element_at(his, i) - element_at(los, i)))) AS INT)
           |  END), ',')""".stripMargin))
      .select(col("vec_id"), col("codes"))
      .orderBy(col("vec_id"))
  }

  def sqlQuantize: String =
    s"""WITH r AS (
       |  SELECT i AS dim,
       |    MIN(embedding[i]::DOUBLE) AS lo,
       |    MAX(embedding[i]::DOUBLE) AS hi
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY i
       |), ra AS (
       |  SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
       |  FROM r
       |)
       |SELECT vec_id,
       |  array_to_string(list_transform(range(1, ${Dim + 1}), i ->
       |    CASE WHEN his[i] = los[i] THEN 0
       |    ELSE CAST(least(255.0, floor(
       |      (embedding[i]::DOUBLE - los[i]) * 255.0 / (his[i] - los[i])))
       |      AS INT)
       |    END), ',') AS codes
       |FROM embeddings, ra
       |ORDER BY vec_id""".stripMargin

  /** Top-k search IN the int8 code space of [[quantize]] — the
    * "keep codes hot, floats cold" deployment actually searching its hot
    * tier (FAISS's SQ8 flat index is this exact scheme): both sides
    * encode with the same per-dim affine grid, and similarity is the
    * INTEGER dot product of the code arrays. Codes are exact small
    * integers, the dot is an exact BIGINT, so ranking — ties included —
    * is bit-identical to the oracle with no float hazard anywhere.
    *
    * Scale shape: the 1-row range frame broadcasts; encoding is
    * map-side; the code table is pinned ONCE and read for both the
    * query and candidate sides (4× less scan than the float table, the
    * point of SQ); the per-query ranking is the same
    * WindowGroupLimit-pruned top-k as [[bruteTopK]]. `sim_sq_recall`
    * measures what the 4× compression costs against the exact float
    * ranking at the same depth.
    */
  def sqTopK(emb: DataFrame, k: Int = TopK): DataFrame = {
    val ranges = emb
      .select(posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy((col("dim0") + 1).as("dim"))
      .agg(min(col("v").cast("double")).as("lo"),
        max(col("v").cast("double")).as("hi"))
      .agg(array_sort(collect_list(struct(col("dim"), col("lo")))).as("dl"),
        array_sort(collect_list(struct(col("dim"), col("hi")))).as("dh"))
      .select(expr("transform(dl, x -> x.lo)").as("los"),
        expr("transform(dh, x -> x.hi)").as("his"))
    val codeExpr =
      s"""transform(sequence(1, $Dim), i ->
         |  CASE WHEN element_at(his, i) = element_at(los, i)
         |    THEN CAST(0 AS BIGINT)
         |  ELSE CAST(least(255.0, floor(
         |    (cast(element_at(embedding, i) as double) - element_at(los, i))
         |      * 255.0
         |      / (element_at(his, i) - element_at(los, i)))) AS BIGINT)
         |  END)""".stripMargin
    VectorExprs.register(emb.sparkSession)
    val codes = graft.operators.Iterate.pin(
      emb.crossJoin(broadcast(ranges))
        .select(col("vec_id"), expr(codeExpr).as("codes")))
    val q = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"))
    val c = codes.select(col("vec_id").as("cand_id"), col("codes").as("cc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_score").desc, col("cand_id"))
    q.join(c, col("query_id") =!= col("cand_id"))
      // codegen'd exact integer dot (VectorExprs.dotL) — same fold the
      // interpreted aggregate(zip_with(...)) form computes, but inside
      // the whole-stage span
      .withColumn("sq_score", VectorExprs.dotL(col("qc"), col("cc")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"), col("sq_score"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlSqTopK(k: Int = TopK): String =
    s"""WITH r AS (
       |  SELECT i AS dim,
       |    MIN(embedding[i]::DOUBLE) AS lo,
       |    MAX(embedding[i]::DOUBLE) AS hi
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY i
       |), ra AS (
       |  SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
       |  FROM r
       |), codes AS (
       |  SELECT vec_id, list_transform(range(1, ${Dim + 1}), i ->
       |    CASE WHEN his[i] = los[i] THEN CAST(0 AS BIGINT)
       |    ELSE CAST(least(255.0, floor(
       |      (embedding[i]::DOUBLE - los[i]) * 255.0 / (his[i] - los[i])))
       |      AS BIGINT)
       |    END) AS codes
       |  FROM embeddings, ra
       |), q AS (
       |  SELECT vec_id AS query_id, codes AS qc FROM codes
       |  WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, ${Dim + 1}), i -> qc[i] * c.codes[i])),
       |      (x, y) -> x + y) AS sq_score
       |  FROM q JOIN codes c ON q.query_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, cand_id, sq_score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY sq_score DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, sq_score
       |FROM ranked WHERE rk <= $k ORDER BY query_id, rk""".stripMargin

  /** Metadata-FILTERED exact search: each query retrieves only among
    * candidates sharing its label — the vector-database "filtered
    * search" pattern (pre-filter, then rank), which at 100 TB is a
    * partition-pruning statement: store vectors partitioned/clustered
    * by the filter column and the scan touches only the matching
    * partitions, making the exact ranking affordable within each
    * predicate slice. Same scoring/tiebreak contract as [[bruteTopK]];
    * the label equi-condition rides IN the join, so Catalyst plans a
    * hash join on label rather than a filtered cross product.
    */
  def filteredTopK(emb: DataFrame): DataFrame = {
    val q = withNorm(emb.filter(col("vec_id") < NQueries), "embedding")
      .select(col("vec_id").as("query_id"), col("label"),
        col("embedding").as("qv"), col("norm").as("qn"))
    val c = withNorm(emb, "embedding")
      .select(col("vec_id").as("cand_id"), col("label"),
        col("embedding").as("cv"), col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    q.join(c, Seq("label"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("label"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlFilteredTopK: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, label, embedding AS qv
       |  FROM embeddings WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, q.label, e.vec_id AS cand_id,
       |    ${sqlCosine("q.qv", "e.embedding", Dim)} AS cos
       |  FROM q JOIN embeddings e
       |    ON q.label = e.label AND q.query_id <> e.vec_id
       |), ranked AS (
       |  SELECT query_id, label, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, label, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Candidate depth for the SQ-then-rerank pipeline. */
  val SqCandK = 20

  /** Two-stage retrieval — the PRODUCTION shape of quantized search
    * (FAISS's `index.search` + refine step): the int8 code space
    * proposes [[SqCandK]] candidates per query (cheap, 4×-compressed
    * scan), and only those rows are re-scored with exact float cosine
    * for the final top-k. At 100 TB the full-precision vectors are
    * touched for |queries|·[[SqCandK]] rows instead of the whole
    * corpus — the rerank join keys on cand_id, so it is a thin keyed
    * join, never a second corpus scan of pairs. Output is the reranked
    * top-[[AnnTopK]] with true cosines.
    */
  def sqRerank(emb: DataFrame): DataFrame = {
    val cands = sqTopK(emb, SqCandK)
      .select(col("query_id"), col("cand_id"))
    val q = withNorm(emb.filter(col("vec_id") < NQueries), "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val c = withNorm(emb, "embedding")
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        col("norm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    cands.join(q, Seq("query_id")).join(c, Seq("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlSqRerank: String =
    s"""WITH cand AS (
       |  ${sqlSqTopK(SqCandK).linesIterator.mkString("\n  ")}
       |), qv AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT cand.query_id, cand.cand_id,
       |    ${sqlCosine("qv.qe", "e.embedding", Dim)} AS cos
       |  FROM cand
       |  JOIN qv USING (query_id)
       |  JOIN embeddings e ON cand.cand_id = e.vec_id
       |), reranked AS (
       |  SELECT query_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(cos, 6) AS cos_sim
       |FROM reranked WHERE rk <= $AnnTopK
       |ORDER BY query_id, rk""".stripMargin

  def sqlEmbedOutliers: String =
    s"""WITH cent AS (
       |  SELECT label, i AS dim,
       |    ${graft.functions.Exact.sqlAvg("embedding[i]::DOUBLE")} AS centroid
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |  GROUP BY label, i
       |), carr AS (
       |  SELECT label, list(centroid ORDER BY dim) AS cvec
       |  FROM cent GROUP BY label
       |), scored AS (
       |  SELECT e.label, e.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, ${Dim + 1}),
       |        i -> (e.embedding[i]::DOUBLE - cvec[i])
       |           * (e.embedding[i]::DOUBLE - cvec[i]))),
       |      (x, y) -> x + y) AS dist2
       |  FROM embeddings e JOIN carr USING (label)
       |), ranked AS (
       |  SELECT label, vec_id, dist2,
       |    ROW_NUMBER() OVER (PARTITION BY label
       |                       ORDER BY dist2 DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT label, rk, vec_id, dist2
       |FROM ranked WHERE rk <= $OutlierK
       |ORDER BY label, rk""".stripMargin

  // ------------------------------------------------ spectral: PCA (power)
  /** Fixed power-iteration rounds. Three rounds is a deterministic,
    * oracle-unrollable SNAPSHOT of the trajectory (the same fixed-round
    * convention as [[KmeansIters]] / `Graph.PrIters`); production iterates
    * the same per-round plan to an eigengap-based stop.
    */
  val PowerIters = 3

  /** The reusable spectral state: column means, the PINNED covariance,
    * the sign-canonicalized leading component, the raw (unsigned)
    * converged vector + eigenvalue that deflation consumes, and the
    * embedding width the power rounds start from.
    */
  final case class PcaArtifacts(mu: DataFrame, cov: DataFrame,
    comps: DataFrame, v1: DataFrame, lam1: DataFrame, dim: Int)

  /** (per-dim mean, principal component frame) — the reusable parts of
    * [[pcaPower]]; `comps` is (dim0, loading, eigval, var_share) with
    * the canonical sign already applied.
    */
  private[graft] def pcaParts(emb: DataFrame,
      dim: Int): (DataFrame, DataFrame) = {
    val a = pcaArts(emb, dim)
    (a.mu, a.comps)
  }

  private[graft] def pcaArts(emb: DataFrame, dim: Int): PcaArtifacts = {
    import graft.functions.Exact
    import graft.functions.VectorExprs
    VectorExprs.register(emb.sparkSession)
    val xs = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).as("i"),
        col("x").cast("double").as("xi"))
    // transpose: one vec_id-ordered column array per dimension
    val cols = xs.groupBy(col("i"))
      .agg(transform(
        sort_array(collect_list(struct(col("vec_id"), col("xi")))),
        s => s.getField("xi")).as("xc"))
    val n = emb.agg(count(lit(1)).as("n"))
    // sequential left fold — same element order as the oracle's
    // list_reduce, so plain double arithmetic is already deterministic
    val mu = cols.crossJoin(broadcast(n))
      .select(col("i"),
        (aggregate(col("xc"), lit(0.0), (a, x) => a + x) / col("n"))
          .as("mu"))
    val cov = Iterate.pin(cols
      .crossJoin(broadcast(cols.select(col("i").as("j"), col("xc").as("yc"))))
      .crossJoin(broadcast(n))
      .join(broadcast(mu.select(col("i"), col("mu").as("mi"))), Seq("i"))
      .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mj"))),
        Seq("j"))
      .select(col("i"), col("j"),
        (VectorExprs.dotD(col("xc"), col("yc")) / col("n")
          - col("mi") * col("mj")).as("c")))
    val (vp, lam) = powerPair(cov, dim)
    PcaArtifacts(mu, cov, compsFrom(cov, vp, lam), vp, lam, dim)
  }

  /** Second principal component by Hotelling deflation: power-iterate the
    * DEFLATED covariance C₂ = C − λ₁·v₁v₁ᵀ through the identical rounds
    * as the leading component, then sign-canonicalize. `eigval` is the
    * Rayleigh quotient v₂ᵀC₂v₂ (= λ₂ up to the convergence of both
    * vectors — deterministic either way, both engines run the same fixed
    * rounds); `var_share` divides by the ORIGINAL trace, so rank-1 +
    * rank-2 shares add up to the "variance explained by 2 components"
    * figure a dimensionality audit reports.
    *
    * Scale shape: deflation is one map-side subtraction over the dim²-row
    * covariance frame against the broadcast (v₁, λ₁); the rounds are the
    * same thin matvec joins. Nothing touches the N-row corpus again — at
    * 100 TB rank-k PCA costs ONE corpus pass (the covariance) plus k
    * dim²-sized iterations.
    */
  def pcaDeflate(a: PcaArtifacts): DataFrame = {
    val cov2 = Iterate.pin(a.cov
      .join(broadcast(a.v1.select(col("i"), col("v").as("vi"))), Seq("i"))
      .join(broadcast(a.v1.select(col("i").as("j"), col("v").as("vj"))),
        Seq("j"))
      .crossJoin(broadcast(a.lam1))
      .select(col("i"), col("j"),
        (col("c") - col("lam") * col("vi") * col("vj")).as("c")))
    val (v2, lam2) = powerPair(cov2, a.dim)
    compsFrom(a.cov, v2, lam2).orderBy(col("dim0"))
  }

  /** Power iteration on a covariance frame (i, j, c): `PowerIters` rounds
    * of matvec + exact-sum normalization from the deterministic uniform
    * start. Returns the PINNED converged unit vector (unsigned) and its
    * Rayleigh eigenvalue 1-row frame — the reusable core that the leading
    * component and every deflated component run identically.
    */
  private def powerPair(cov: DataFrame, dim: Int): (DataFrame, DataFrame) = {
    import graft.functions.Exact
    def matvec(v: DataFrame): DataFrame =
      cov.join(broadcast(v.select(col("i").as("j"), col("v"))), Seq("j"))
        .groupBy(col("i"))
        .agg(Exact.xsum(col("c") * col("v"), 12).as("w"))
    var v = cov.filter(col("i") === col("j"))
      .select(col("i"), lit(1.0 / math.sqrt(dim)).as("v"))
    for (_ <- 1 to PowerIters) {
      val w = matvec(v)
      val nrm = w.agg(sqrt(Exact.xsum(col("w") * col("w"), 12)).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i"), (col("w") / col("nrm")).as("v"))
    }
    val vp = Iterate.pin(v) // final vector feeds sign, λ and the output
    val wf = matvec(vp)
    val lam = vp.join(wf, Seq("i"))
      .agg(Exact.xsum(col("v") * col("w"), 12).as("lam"))
    (vp, lam)
  }

  /** Sign-canonicalized component frame (dim0, loading, eigval,
    * var_share) from a converged (vp, λ) pair; `cov` supplies the TOTAL
    * trace so deflated components report their share of the ORIGINAL
    * variance.
    */
  private def compsFrom(cov: DataFrame, vp: DataFrame,
      lam: DataFrame): DataFrame = {
    import graft.functions.Exact
    val tr = cov.filter(col("i") === col("j"))
      .agg(Exact.xsum(col("c"), 12).as("tr"))
    val sgn = vp.orderBy(abs(col("v")).desc, col("i").asc).limit(1)
      .select(when(col("v") < 0, lit(-1.0)).otherwise(lit(1.0)).as("s"))
    vp.crossJoin(broadcast(sgn))
      .crossJoin(broadcast(lam))
      .crossJoin(broadcast(tr))
      .select(col("i").as("dim0"), (col("v") * col("s")).as("loading"),
        col("lam").as("eigval"), (col("lam") / col("tr")).as("var_share"))
  }

  /** Leading principal component of the embedding covariance by power
    * iteration (Mises & Pollaczek-Geiringer 1929; the PCA framing of
    * Pearson 1901), computed RELATIONALLY end-to-end — no driver-side
    * linear algebra, no collect:
    *
    *  - covariance C = E[xxᵀ] − μμᵀ via the TRANSPOSE: one exchange
    *    turns the (vec_id, dim, x) stream into D ordered column arrays,
    *    and the D² covariance entries are then codegen'd fixed-order
    *    dots ([[graft.functions.DotProductDouble]]) over a broadcast
    *    64-row frame — pinned ONCE and reused by every round. (A first
    *    formulation aggregated the N·D² product rows through the
    *    exact-decimal detour: correct, but decimal-summing 20 M rows
    *    cost 13.6 s where the transposed dots cost ~1 s.) At 10⁹
    *    vectors a column no longer fits one array row — shard vec_id
    *    ranges into column CHUNKS, dot per (i, j, chunk), and combine
    *    the ~|chunks| per-pair partials with the exact-decimal sum;
    *    compute stays the inherent O(N·D²), the exchange stays O(D²).
    *  - [[PowerIters]] rounds of v ← normalize(C·v) as D²-row matvec
    *    joins against a broadcast D-row vector — per-round cost is
    *    independent of N.
    *
    * Cross-engine determinism: the column dots and the fold means run in
    * the SAME left-to-right element order on both engines (the
    * `sqlDotD`/`list_reduce` convention every ANN oracle already relies
    * on); matvec sums, norms, λ and trace go through the exact-decimal
    * detour ([[graft.functions.Exact]]); the remaining ops (one division
    * by n, μᵢ·μⱼ, the normalize divide, sqrt) are single IEEE operations
    * in a fixed order, bit-identical in DuckDB. v₀ = 1/√D — exactly
    * representable for the fixture's D = 64 (0.125). The eigenvector's
    * sign is canonicalized (largest-|loading| dimension non-negative,
    * lowest dim on ties) since −v is the same eigenvector.
    *
    * Output: one row per dimension — (dim0, loading) — plus the Rayleigh
    * eigenvalue λ = vᵀCv and its share of total variance λ/tr(C) riding
    * as constant columns. On the near-isotropic fixture the share is
    * small (no dominant direction — consistent with the IVFADC training
    * measurement); the spec pins convergence on a planted-direction
    * corpus instead.
    */
  def pcaPower(parts: (DataFrame, DataFrame)): DataFrame =
    parts._2.orderBy(col("dim0"))

  /** Pinned per-(session, `emb`) memo of [[pcaParts]] — the component query
    * and the projection query share one covariance + power-iteration
    * pass.
    */
  def pcaArtsCached(emb: DataFrame): PcaArtifacts =
    graft.Memo(emb.sparkSession, "sim.pca", emb) {
      val a = pcaArts(emb, Dim)
      // cov and v1 are pinned by construction; pin the rest once
      PcaArtifacts(Iterate.pin(a.mu), a.cov, Iterate.pin(a.comps),
        a.v1, Iterate.pin(a.lam1), a.dim)
    }

  def pcaPartsCached(emb: DataFrame): (DataFrame, DataFrame) = {
    val a = pcaArtsCached(emb)
    (a.mu, a.comps)
  }

  /** Rank-1 PCA projection: each vector's coordinate along the leading
    * component, coord = (x − μ)·v computed as dot(x, v) − dot(μ, v), and
    * its reconstruction error resid² = ‖x − μ‖² − coord² (non-negative
    * up to rounding — the variance the 1-D code does NOT explain; the
    * dimension-reduction twin of [[pqDistortion]]'s code-level QC). All
    * per-row math is fixed-order codegen'd dots against the broadcast
    * mean/component arrays — one N-row scan, no shuffle before the
    * output ordering; the mirror SQL evaluates the identical expression
    * tree left-to-right.
    */
  def pcaProject(emb: DataFrame, parts: (DataFrame, DataFrame)): DataFrame = {
    import graft.functions.VectorExprs
    VectorExprs.register(emb.sparkSession)
    val (mu, comps) = parts
    val muArr = mu.agg(transform(
      sort_array(collect_list(struct(col("i"), col("mu")))),
      s => s.getField("mu")).as("muarr"))
    val vArr = comps.agg(transform(
      sort_array(collect_list(struct(col("dim0"), col("loading")))),
      s => s.getField("loading")).as("varr"))
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("xd"))
      .crossJoin(broadcast(muArr))
      .crossJoin(broadcast(vArr))
      .select(col("vec_id"),
        (VectorExprs.dotD(col("xd"), col("varr"))
          - VectorExprs.dotD(col("muarr"), col("varr"))).as("coord"),
        col("xd"), col("muarr"))
      .select(col("vec_id"), col("coord"),
        (VectorExprs.dotD(col("xd"), col("xd"))
          - lit(2.0) * VectorExprs.dotD(col("xd"), col("muarr"))
          + VectorExprs.dotD(col("muarr"), col("muarr"))
          - col("coord") * col("coord")).as("resid2"))
      .orderBy(col("vec_id"))
  }

  /** Shared CTE chain (xs → cols/mu/cov → unrolled rounds → λ/trace/sign)
    * for the two spectral oracles.
    */
  private def sqlPcaCtes: String = {
    import graft.functions.Exact
    val rounds = (1 to PowerIters).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i, ${Exact.sqlSum("c.c * v.v", 12)} AS w
         |  FROM cov c JOIN v${k - 1} v ON c.j = v.i GROUP BY c.i
         |), v$k AS MATERIALIZED (
         |  SELECT i, w / nrm AS v FROM w$k,
         |    (SELECT sqrt(${Exact.sqlSum("w * w", 12)}) AS nrm FROM w$k)
         |)""".stripMargin
    }.mkString(",\n")
    s"""xs AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS xi
       |  FROM embeddings, range(1, ${Dim + 1}) t(i)
       |), nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |cols AS MATERIALIZED (
       |  SELECT i, list(xi ORDER BY vec_id) AS xc FROM xs GROUP BY i
       |), mu AS MATERIALIZED (
       |  SELECT i, list_reduce(list_prepend(CAST(0 AS DOUBLE), xc),
       |    (x, y) -> x + y) / n AS mu
       |  FROM cols, nn
       |), cov AS MATERIALIZED (
       |  SELECT a.i, b.i AS j,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(a.xc) + 1),
       |        k -> a.xc[k] * b.xc[k])), (x, y) -> x + y) / n
       |      - ma.mu * mb.mu AS c
       |  FROM cols a, cols b, nn
       |  JOIN mu ma ON a.i = ma.i
       |  JOIN mu mb ON b.i = mb.i
       |), v0 AS (
       |  SELECT i, CAST(${1.0 / math.sqrt(Dim)} AS DOUBLE) AS v FROM mu
       |),
       |$rounds,
       |wf AS MATERIALIZED (
       |  SELECT c.i, ${Exact.sqlSum("c.c * v.v", 12)} AS w
       |  FROM cov c JOIN v$PowerIters v ON c.j = v.i GROUP BY c.i
       |), lam AS (
       |  SELECT ${Exact.sqlSum("v.v * wf.w", 12)} AS lam
       |  FROM v$PowerIters v JOIN wf ON v.i = wf.i
       |), tr AS (
       |  SELECT ${Exact.sqlSum("c", 12)} AS tr FROM cov WHERE i = j
       |), sgn AS (
       |  SELECT CASE WHEN v < 0 THEN CAST(-1 AS DOUBLE)
       |              ELSE CAST(1 AS DOUBLE) END AS s
       |  FROM v$PowerIters ORDER BY abs(v) DESC, i ASC LIMIT 1
       |)""".stripMargin
  }

  def sqlPcaPower: String =
    s"""WITH $sqlPcaCtes
       |SELECT v.i AS dim0, v.v * sgn.s AS loading,
       |  lam.lam AS eigval, lam.lam / tr.tr AS var_share
       |FROM v$PowerIters v, sgn, lam, tr
       |ORDER BY dim0""".stripMargin

  /** [[pcaDeflate]] oracle: the same CTE chain, then the deflated matrix
    * and its own unrolled rounds (u-series) + Rayleigh λ₂ + sign.
    */
  def sqlPcaDeflate: String = {
    import graft.functions.Exact
    val rounds2 = (1 to PowerIters).map { k =>
      s"""uw$k AS MATERIALIZED (
         |  SELECT c.i, ${Exact.sqlSum("c.c * v.v", 12)} AS w
         |  FROM cov2 c JOIN u${k - 1} v ON c.j = v.i GROUP BY c.i
         |), u$k AS MATERIALIZED (
         |  SELECT i, w / nrm AS v FROM uw$k,
         |    (SELECT sqrt(${Exact.sqlSum("w * w", 12)}) AS nrm FROM uw$k)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sqlPcaCtes,
       |cov2 AS MATERIALIZED (
       |  SELECT c.i, c.j, c.c - lam.lam * va.v * vb.v AS c
       |  FROM cov c
       |  JOIN v$PowerIters va ON c.i = va.i
       |  JOIN v$PowerIters vb ON c.j = vb.i, lam
       |), u0 AS (
       |  SELECT i, CAST(${1.0 / math.sqrt(Dim)} AS DOUBLE) AS v FROM mu
       |),
       |$rounds2,
       |wf2 AS MATERIALIZED (
       |  SELECT c.i, ${Exact.sqlSum("c.c * v.v", 12)} AS w
       |  FROM cov2 c JOIN u$PowerIters v ON c.j = v.i GROUP BY c.i
       |), lam2 AS (
       |  SELECT ${Exact.sqlSum("v.v * wf2.w", 12)} AS lam
       |  FROM u$PowerIters v JOIN wf2 ON v.i = wf2.i
       |), sgn2 AS (
       |  SELECT CASE WHEN v < 0 THEN CAST(-1 AS DOUBLE)
       |              ELSE CAST(1 AS DOUBLE) END AS s
       |  FROM u$PowerIters ORDER BY abs(v) DESC, i ASC LIMIT 1
       |)
       |SELECT u.i AS dim0, u.v * sgn2.s AS loading,
       |  lam2.lam AS eigval, lam2.lam / tr.tr AS var_share
       |FROM u$PowerIters u, sgn2, lam2, tr
       |ORDER BY dim0""".stripMargin
  }

  def sqlPcaProject: String = {
    def dotL(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len($a) + 1),
         |        k -> $a[k] * $b[k])), (x, y) -> x + y)""".stripMargin
    s"""WITH $sqlPcaCtes,
       |varr AS (
       |  SELECT list(v.v * sgn.s ORDER BY v.i) AS varr
       |  FROM v$PowerIters v, sgn
       |), muarr AS (
       |  SELECT list(mu ORDER BY i) AS muarr FROM mu
       |), xd AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
       |  FROM embeddings
       |), p AS (
       |  SELECT vec_id,
       |    ${dotL("xd", "varr")} - ${dotL("muarr", "varr")} AS coord,
       |    xd, muarr
       |  FROM xd, varr, muarr
       |)
       |SELECT vec_id, coord,
       |  ${dotL("xd", "xd")}
       |    - CAST(2 AS DOUBLE) * ${dotL("xd", "muarr")}
       |    + ${dotL("muarr", "muarr")}
       |    - coord * coord AS resid2
       |FROM p
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------ MIPS tier
  /** Maximum inner-product search — ranking by RAW dot product, the
    * retrieval metric of recommendation scorers and un-normalized
    * two-tower models (user·item affinity), where cosine's norm division
    * would erase the magnitude signal the model trained into the vectors.
    *
    * [[mipsTopK]] is the exact reference: the [[bruteTopK]] join shape
    * minus the norm arithmetic (one codegen'd dot per pair, top-k via the
    * keyed rank window — WindowGroupLimit prunes before the final sort).
    *
    * [[mipsLsh]] is the scale path via the MIPS→cosine reduction of
    * Bachrach et al. 2014 (RecSys, the "Xbox transform") / Neyshabur &
    * Srebro 2015: with M = max candidate norm, augment candidates to
    * P(x) = [x; sqrt(M² − ‖x‖²)] (constant norm M) and queries to
    * Q(q) = [q; 0]; then Q(q)·P(x) = q·x, so cosine-family LSH on the
    * augmented space buckets by inner product. Hyperplane signs reuse the
    * [[lshBucket]] integer-coefficient planes extended with coefficient
    * index [[Dim]] for the augmented coordinate.
    *
    * Scale shape: M and the augmented coordinate are map-side (one
    * broadcast 1-row max); candidate generation is ONE hash-partitioned
    * equi join on the bucket key, never all-pairs; scoring touches raw
    * vectors only inside a bucket. Determinism: ‖x‖² and M are exact
    * fixed-order double folds, sqrt is correctly rounded, and the
    * augmented projection adds ONE product to the integer-coefficient
    * plane fold — bit-stable in both engines.
    */
  def mipsTopK(emb: DataFrame): DataFrame = {
    VectorExprs.register(emb.sparkSession)
    val q = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("cand_id"))
    q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("ip", ndot(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("ip"), 6).as("ip"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlMipsTopK: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${sqlDot("q.embedding", "c.embedding", Dim)} AS ip
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NQueries
       |), ranked AS (
       |  SELECT query_id, cand_id, ip,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY ip DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(ip, 6) AS ip
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Augmented-space hyperplane bucket: base plane fold + aug·coef(Dim,j). */
  private def mipsBucket(v: Column, aug: Column): Column =
    (0 until NPlanes).map { j =>
      val base = aggregate(
        zip_with(v, array((0 until Dim).map(i => lit(planeCoef(i, j))): _*),
          (x, c) => x.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      val proj = base + aug * lit(planeCoef(Dim, j).toDouble)
      when(proj >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def sqlMipsBucket(v: String, aug: String): String =
    (0 until NPlanes).map { j =>
      val coefs = (0 until Dim).map(planeCoef(_, j)).mkString(", ")
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, ${Dim + 1}),
         |      i -> $v[i]::DOUBLE * ([$coefs][i])::DOUBLE)),
         |    (x, y) -> x + y)
         |    + $aug * CAST(${planeCoef(Dim, j)} AS DOUBLE)
         |  >= 0 THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString("\n + ")

  val MipsTopK = AnnTopK

  def mipsLsh(emb: DataFrame): DataFrame = {
    VectorExprs.register(emb.sparkSession)
    val base = emb.select(col("vec_id"), col("embedding"),
      ndot(col("embedding"), col("embedding")).as("n2"))
    val m2 = base.agg(max(col("n2")).as("m2"))
    val aug = base.crossJoin(broadcast(m2))
      .withColumn("aug", sqrt(greatest(col("m2") - col("n2"), lit(0.0))))
    val c = aug.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"),
      mipsBucket(col("embedding"), col("aug")).as("bucket"))
    val q = aug.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        mipsBucket(col("embedding"), lit(0.0)).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("cand_id"))
    q.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("ip", ndot(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MipsTopK)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("ip"), 6).as("ip"))
      .orderBy(col("query_id"), col("rk"))
  }

  def sqlMipsLsh: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    ${sqlDot("embedding", "embedding", Dim)} AS n2
       |  FROM embeddings
       |), m AS (
       |  SELECT MAX(n2) AS m2 FROM n
       |), a AS (
       |  SELECT vec_id, embedding,
       |    sqrt(greatest(m.m2 - n.n2, CAST(0 AS DOUBLE))) AS aug
       |  FROM n, m
       |), c AS (
       |  SELECT vec_id, embedding,
       |    ${sqlMipsBucket("embedding", "aug")} AS bucket
       |  FROM a
       |), q AS (
       |  SELECT vec_id, embedding,
       |    ${sqlMipsBucket("embedding", "CAST(0 AS DOUBLE)")} AS bucket
       |  FROM a WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${sqlDot("q.embedding", "c.embedding", Dim)} AS ip
       |  FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, cand_id, ip,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY ip DESC, cand_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, cand_id, ROUND(ip, 6) AS ip
       |FROM ranked WHERE rk <= $MipsTopK
       |ORDER BY query_id, rk""".stripMargin

  // -------------------------------------------------- MRR retrieval eval
  /** Mean-reciprocal-rank evaluation of the two ANN routes against the
    * exact ranking (Voorhees, "The TREC-8 Question Answering Track
    * Report", TREC 1999 popularized MRR as the single-relevant-answer
    * retrieval metric): ground truth per query is the exact cosine
    * top-1 ([[bruteTopK]] rk=1); each route's score is the reciprocal
    * of the rank at which it surfaces that truth (0 when the truth is
    * outside the route's top-[[AnnTopK]]). Complements `sim_recall`
    * (set overlap, position-blind) with a position-sensitive readout —
    * the metric that catches a route that finds the neighbor but ranks
    * it last.
    *
    * Scale shape: the truth frame is |Q| rows (pinned once — both route
    * branches read the same 5-row frame, not two brute-force passes);
    * each route join is |Q|·k vs |Q| on the query key. The only corpus
    * work is producing the three rankings themselves, each already a
    * bucketed/bounded oracled operator. The reciprocal is one IEEE
    * division of exact small integers — bit-stable cross-engine.
    */
  def mrr(emb: DataFrame): DataFrame = {
    val truth = Iterate.pin(bruteTopK(emb).filter(col("rk") === 1)
      .select(col("query_id"), col("cand_id").as("truth_id")))
    def route(name: String, app: DataFrame): DataFrame = {
      val a = app.select(col("query_id").as("aq"), col("cand_id"),
        col("rk").cast("long").as("ark"))
      truth.join(a, truth("query_id") === col("aq") &&
          col("truth_id") === col("cand_id"), "left")
        .select(lit(name).as("route"), col("query_id"), col("truth_id"),
          coalesce(col("ark"), lit(0L)).as("rank_of_truth"),
          coalesce(lit(1.0) / col("ark").cast("double"), lit(0.0)).as("rr"))
    }
    route("ivf", ivfTopK(emb)).unionByName(route("lsh", annTopK(emb)))
      .orderBy(col("route"), col("query_id"))
  }

  def sqlMrr: String =
    s"""WITH ex AS (
       |  ${sqlBruteTopK.linesIterator.mkString("\n  ")}
       |), truth AS (
       |  SELECT query_id, cand_id AS truth_id FROM ex WHERE rk = 1
       |), ivf_r AS (
       |  ${sqlIvfTopK.linesIterator.mkString("\n  ")}
       |), lsh_r AS (
       |  ${sqlAnnTopK.linesIterator.mkString("\n  ")}
       |)
       |SELECT route, query_id, truth_id, rank_of_truth, rr FROM (
       |  SELECT 'ivf' AS route, t.query_id, t.truth_id,
       |    CAST(COALESCE(a.rk, 0) AS BIGINT) AS rank_of_truth,
       |    COALESCE(CAST(1 AS DOUBLE) / a.rk, CAST(0 AS DOUBLE)) AS rr
       |  FROM truth t LEFT JOIN ivf_r a
       |    ON t.query_id = a.query_id AND t.truth_id = a.cand_id
       |  UNION ALL
       |  SELECT 'lsh' AS route, t.query_id, t.truth_id,
       |    CAST(COALESCE(a.rk, 0) AS BIGINT) AS rank_of_truth,
       |    COALESCE(CAST(1 AS DOUBLE) / a.rk, CAST(0 AS DOUBLE)) AS rr
       |  FROM truth t LEFT JOIN lsh_r a
       |    ON t.query_id = a.query_id AND t.truth_id = a.cand_id
       |) ORDER BY route, query_id""".stripMargin

  // ----------------------------------------------------------- NDCG@k
  /** NDCG@k of the two ANN routes against the exact ranking (Järvelin &
    * Kekäläinen, "Cumulated Gain-based Evaluation of IR Techniques", TOIS
    * 2002): a candidate's graded relevance is its exact-rank grade
    * (k+1−rk — the true nearest neighbor is worth k, the k-th worth 1),
    * discounted by ln(rank+1) at the position the ROUTE put it, and
    * normalized by the ideal ordering's DCG. `sim_mrr` sees only the
    * single top answer and `sim_recall` ignores order entirely; NDCG is
    * the whole-list position-sensitive readout between them — the metric
    * that separates a route that finds all k neighbors but shuffles them
    * from one that ranks them exactly.
    *
    * Cross-engine determinism: grades and ranks are exact small ints;
    * each term is one IEEE divide over the suite's ln parity (the entropy
    * family pins Spark `log` == DuckDB `ln` bit-for-bit); DCG and IDCG
    * both sum through [[graft.functions.Exact.xsum]]; the final ndcg is a
    * single division of two bit-identical doubles (suite convention:
    * never round after a division).
    *
    * Scale shape: truth and both route frames are |Q|·k rows — producing
    * the rankings dominates; the eval itself is a bounded join, one exact
    * agg per route, and a broadcast scalar IDCG attach.
    */
  def ndcgAtK(emb: DataFrame): DataFrame = {
    import graft.functions.Exact
    val truth = Iterate.pin(bruteTopK(emb).filter(col("rk") <= AnnTopK)
      .select(col("query_id"), col("cand_id"),
        (lit(AnnTopK + 1) - col("rk")).cast("double").as("rel")))
    val qs = truth.select(col("query_id")).distinct()
    val idcg = emb.sparkSession.range(1, AnnTopK + 1).toDF("i")
      .agg(Exact.xsum((lit(AnnTopK + 1) - col("i")).cast("double") /
        log((col("i") + 1).cast("double")), 9).as("idcg"))
    def route(name: String, app: DataFrame): DataFrame = {
      val dcg = app.filter(col("rk") <= AnnTopK)
        .select(col("query_id"), col("cand_id"), col("rk"))
        .join(truth, Seq("query_id", "cand_id"))
        .groupBy(col("query_id"))
        .agg(Exact.xsum(col("rel") /
          log((col("rk") + 1).cast("double")), 9).as("dcg"))
      qs.join(dcg, Seq("query_id"), "left")
        .crossJoin(broadcast(idcg))
        .select(lit(name).as("route"), col("query_id"),
          coalesce(col("dcg"), lit(0.0)).as("dcg"), col("idcg"),
          (coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg"))
    }
    route("ivf", ivfTopK(emb)).unionByName(route("lsh", annTopK(emb)))
      .orderBy(col("route"), col("query_id"))
  }

  def sqlNdcg: String = {
    import graft.functions.Exact.sqlSum
    val k = AnnTopK
    def dcgCte(tbl: String): String =
      s"""SELECT a.query_id,
         |    ${sqlSum(s"t.rel / ln(CAST(a.rk + 1 AS DOUBLE))", 9)} AS dcg
         |  FROM $tbl a JOIN truth t
         |    ON a.query_id = t.query_id AND a.cand_id = t.cand_id
         |  WHERE a.rk <= $k GROUP BY a.query_id""".stripMargin
    def row(name: String, d: String): String =
      s"""SELECT '$name' AS route, qs.query_id,
         |    COALESCE(d.dcg, CAST(0 AS DOUBLE)) AS dcg, idcg.idcg,
         |    COALESCE(d.dcg, CAST(0 AS DOUBLE)) / idcg.idcg AS ndcg
         |  FROM qs LEFT JOIN $d d USING (query_id) CROSS JOIN idcg"""
        .stripMargin
    s"""WITH ex AS (
       |  ${sqlBruteTopK.linesIterator.mkString("\n  ")}
       |), truth AS (
       |  SELECT query_id, cand_id, CAST(${k + 1} - rk AS DOUBLE) AS rel
       |  FROM ex WHERE rk <= $k
       |), qs AS (
       |  SELECT DISTINCT query_id FROM truth
       |), idcg AS (
       |  SELECT ${sqlSum(
            s"CAST(${k + 1} - i AS DOUBLE) / ln(CAST(i + 1 AS DOUBLE))", 9)}
       |    AS idcg
       |  FROM (SELECT unnest(range(1, ${k + 1})) AS i)
       |), ivf_r AS (
       |  ${sqlIvfTopK.linesIterator.mkString("\n  ")}
       |), lsh_r AS (
       |  ${sqlAnnTopK.linesIterator.mkString("\n  ")}
       |), ivf_d AS (
       |  ${dcgCte("ivf_r")}
       |), lsh_d AS (
       |  ${dcgCte("lsh_r")}
       |)
       |SELECT route, query_id, dcg, idcg, ndcg FROM (
       |  ${row("ivf", "ivf_d")}
       |  UNION ALL
       |  ${row("lsh", "lsh_d")}
       |) ORDER BY route, query_id""".stripMargin
  }

  // ------------------------------------------------- triplet margin audit
  /** Triplet-margin audit of the embedding space (the evaluation half of
    * triplet-loss training, Schroff et al., "FaceNet: A Unified Embedding
    * for Face Recognition and Clustering", CVPR 2015 §3.1): for every
    * anchor, the nearest SAME-label neighbor (positive) and the nearest
    * DIFFERENT-label neighbor (the hardest negative), and whether the pair
    * violates the margin — cos(a,pos) < cos(a,neg) + [[TripletMargin]].
    * The violation rate is the curriculum signal for triplet mining: a
    * space with many violations needs more hard-negative epochs
    * ([[hardNegatives]] produces exactly those rows).
    *
    * Scale shape: ONE LSH-bucketed self-join scores both sides — the
    * same-/different-label split is a flag on the scored pair, and the
    * two per-anchor argmaxes run in ONE rank window keyed on
    * (anchor, is_pos), so positives and negatives never touch separate
    * scans. The final frame is ≤ 2 rows per anchor collapsing to one —
    * candidate-bounded, never all-pairs.
    */
  val TripletMargin = 0.1

  def tripletAudit(emb: DataFrame): DataFrame = {
    val bucketed = withNorm(emb, "embedding").select(col("vec_id"),
      col("label"), col("embedding"), col("norm"),
      lshBucket(col("embedding")).as("bucket"))
    val a = bucketed.select(col("vec_id").as("anchor_id"),
      col("label").as("al"), col("embedding").as("av"),
      col("norm").as("an"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("other_id"),
      col("label").as("bl"), col("embedding").as("bv"),
      col("norm").as("bn"), col("bucket"))
    val w = Window.partitionBy(col("anchor_id"), col("is_pos"))
      .orderBy(col("cos").desc, col("other_id"))
    val top = a.join(b, Seq("bucket"))
      .filter(col("anchor_id") =!= col("other_id"))
      .withColumn("cos", ndot(col("av"), col("bv")) / (col("an") * col("bn")))
      .withColumn("is_pos", col("al") === col("bl"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    top.groupBy(col("anchor_id"))
      .agg(max(when(col("is_pos"), col("other_id"))).as("pos_id"),
        max(when(col("is_pos"), col("cos"))).as("pos_cos"),
        max(when(!col("is_pos"), col("other_id"))).as("neg_id"),
        max(when(!col("is_pos"), col("cos"))).as("neg_cos"))
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos") < lit(TripletMargin))
          .as("violation"))
      .orderBy(col("anchor_id"))
  }

  def sqlTripletAudit: String =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding,
       |    ${sqlLshBucket("embedding")} AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS anchor_id, c.vec_id AS other_id,
       |    (q.label = c.label) AS is_pos,
       |    ${sqlCosine("q.embedding", "c.embedding", Dim)} AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |), top AS (
       |  SELECT anchor_id, other_id, is_pos, cos FROM (
       |    SELECT anchor_id, other_id, is_pos, cos,
       |      ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos
       |                         ORDER BY cos DESC, other_id) AS rk
       |    FROM scored
       |  ) WHERE rk = 1
       |), agg AS (
       |  SELECT anchor_id,
       |    MAX(CASE WHEN is_pos THEN other_id END) AS pos_id,
       |    MAX(CASE WHEN is_pos THEN cos END) AS pos_cos,
       |    MAX(CASE WHEN NOT is_pos THEN other_id END) AS neg_id,
       |    MAX(CASE WHEN NOT is_pos THEN cos END) AS neg_cos
       |  FROM top GROUP BY anchor_id
       |)
       |SELECT anchor_id, pos_id, pos_cos, neg_id, neg_cos,
       |  (pos_cos - neg_cos < CAST($TripletMargin AS DOUBLE)) AS violation
       |FROM agg WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
       |ORDER BY anchor_id""".stripMargin
}
