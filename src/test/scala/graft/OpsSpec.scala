package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, Multimodal, Similarity, TextOps}

/** Semantic unit tests for the training-data operators on crafted inputs —
  * properties the fixture oracle can't isolate (identity, symmetry,
  * order sensitivity).
  */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("minhash finds identical docs, skips disjoint docs") {
    val d = docsOf(
      (1, "the quick brown fox jumps over the lazy dog today"),
      (2, "the quick brown fox jumps over the lazy dog today"),
      (3, "completely different words appear here without any overlap at all"))
    val pairs = Dedup.minhashPairs(d).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("quantile sketch: exact under capacity, rank-bounded when compacted") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    def sketch(cap: Int) = (1 to 1000).map(_.toDouble).toDF("v")
      .repartition(4)
      .agg(call_function(graft.functions.VectorExprs.QuantileName,
        col("v"), array(lit(0.5), lit(0.9)), lit(cap)).as("qs"))
      .select(element_at(col("qs"), 1), element_at(col("qs"), 2))
      .head()
    // capacity > n: exact interpolation — p*(n-1) positions over 1..1000
    val exact = sketch(4096)
    assert(exact.getDouble(0) == 500.5 && exact.getDouble(1) == 900.1)
    // capacity << n: compacted — within the coarse rank error band
    val approx = sketch(64)
    assert(math.abs(approx.getDouble(0) - 500.5) < 100,
      s"p50 ${approx.getDouble(0)}")
    assert(math.abs(approx.getDouble(1) - 900.1) < 100,
      s"p90 ${approx.getDouble(1)}")
  }

  test("Misra-Gries merged partials keep the N/(capacity+1) undercount bound") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    // 2600 tokens, >capacity distinct, forced through multiple partials:
    // the merge trim must subtract dropped mass, not just drop entries
    val tokens =
      Seq.fill(800)("alpha") ++ Seq.fill(600)("beta") ++
        Seq.fill(400)("gamma") ++ (1 to 800).map(i => s"noise${i % 40}")
    val n = tokens.size
    val cap = 8
    val est = tokens.toDF("token").repartition(4)
      .agg(call_function(graft.functions.VectorExprs.HeavyName,
        col("token"), lit(3), lit(cap)).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token"), col("h.est_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = Map("alpha" -> 800L, "beta" -> 600L, "gamma" -> 400L)
    // top tokens survive and estimates obey the MG guarantee:
    // truth - N/(cap+1) <= est <= truth
    val slack = n / (cap + 1)
    for ((t, c) <- truth) {
      assert(est.contains(t), s"$t missing from top-k: $est")
      assert(est(t) <= c && est(t) >= c - slack,
        s"$t est=${est(t)} outside [${c - slack}, $c]")
    }
  }

  test("pair_expand emits ordered i<j pairs, lazily, nothing for size<2") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val got = Seq(Seq(3L, 5L, 9L), Seq(1L), Seq.empty[Long])
      .toDF("ids")
      .select(graft.functions.VectorExprs.pairExpand(col("ids"))
        .as(Seq("a", "b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((3L, 5L), (3L, 9L), (5L, 9L)))
  }

  test("KMV estimate lands within the theoretical error band") {
    import spark.implicits._
    // 2000 distinct values, K=64 → relative standard error ~1/sqrt(K-2) ≈ 13%
    val df = (1L to 2000L).map(v => ("g", v)).toDF("grp", "v")
    val est = graft.operators.Sketch.kmvDistinct(df, "grp", "v")
      .head().getDouble(1)
    assert(math.abs(est - 2000.0) / 2000.0 < 0.4,
      s"KMV estimate $est too far from 2000")
  }

  test("KMV sketch aggregate equals the relational sorted-distinct-limit-k") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    // duplicates, NULLs, and a repartition: the k-bounded buffers must
    // still keep EXACTLY the k smallest distinct hashes, in sorted order,
    // regardless of partitioning (merge is min-k of the set union)
    val vals = ((1L to 500L) ++ (1L to 500L)).map(Option(_)) :+
      (None: Option[Long])
    val df = vals.toDF("v").repartition(13)
    val hashed = df.filter(col("v").isNotNull)
      .select(graft.operators.TextOps.tokenHash(col("v").cast("string")).as("h"))
    val expect = hashed.distinct().orderBy(col("h")).limit(graft.operators.Sketch.K)
      .collect().map(_.getLong(0)).toSeq
    val got = df
      .agg(graft.functions.VectorExprs.kmvMinHashes(
        graft.operators.TextOps.tokenHash(col("v").cast("string")), graft.operators.Sketch.K)
        .as("hs"))
      .head().getSeq[Long](0)
    assert(got == expect)
    // all-NULL input → empty sketch, not a null or a crash
    val empty = Seq(None: Option[Long]).toDF("v")
      .agg(graft.functions.VectorExprs.kmvMinHashes(
        graft.operators.TextOps.tokenHash(col("v").cast("string")), graft.operators.Sketch.K))
      .head().getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("connected components merge transitive near-dup chains") {
    import spark.implicits._
    // chain 1-2-3 (via 2), pair 7-9, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("simhash identical for identical text, differs for disjoint text") {
    val d = docsOf(
      (1, "alpha beta gamma delta epsilon zeta eta theta"),
      (2, "alpha beta gamma delta epsilon zeta eta theta"),
      (3, "one two three four five six seven eight nine ten"))
    val m = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1) == m(2) && m(1) != m(3))
  }

  test("jaccard is 1.0 for identical docs in same block") {
    val d = docsOf(
      (1, "a b c d e f g h i j"),
      (2, "a b c d e f g h i j"))
    val out = Dedup.ngramJaccard(d, Dedup.shingleSets(d)).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 1.0)
  }

  test("as-of join: duplicate right timestamps pick the max value tuple") {
    val right = Seq(
      ("k1", "2026-01-01 00:00:00", 1.0),
      ("k1", "2026-01-01 00:00:00", 7.0),
      ("k1", "2026-01-01 00:00:00", 3.0)).toDF("k", "rt", "v")
      .withColumn("rt", col("rt").cast("timestamp"))
      .repartition(4) // scramble partition order — the pick must not care
    val after = Seq(("k1", "2026-01-02 00:00:00")).toDF("k", "lt")
      .withColumn("lt", col("lt").cast("timestamp"))
    val back = AsOfJoin.asOf(after, right, Seq("k"), "lt", "rt", Seq("v"))
      .collect()
    assert(back.length == 1 && back.head.getAs[Double]("v") == 7.0)
    val before = Seq(("k1", "2025-12-31 00:00:00")).toDF("k", "lt")
      .withColumn("lt", col("lt").cast("timestamp"))
    val fwd = AsOfJoin.asOfForward(before, right, Seq("k"), "lt", "rt",
      Seq("v")).collect()
    assert(fwd.length == 1 && fwd.head.getAs[Double]("v") == 7.0)
  }

  test("recall@k: 1.0 on identical rankings, counts partial hits") {
    val exact = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L))
      .toDF("query_id", "cand_id")
    assert(Similarity.recallAtK(exact, exact).collect()
      .forall(_.getAs[Double]("recall") == 1.0))
    val approx = Seq((0L, 1L), (0L, 9L), (1L, 8L), (1L, 7L))
      .toDF("query_id", "cand_id") // q0 hits 1 of 2, q1 hits none
    val r = Similarity.recallAtK(exact, approx).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == Map(0L -> 0.5, 1L -> 0.0))
  }

  test("knn graph: k edges per vector, mutual flags are symmetric") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val g = Similarity.knnGraph(Similarity.knnEdges(e)).collect()
    val bySrc = g.groupBy(_.getAs[Long]("src"))
    bySrc.values.foreach { edges =>
      assert(edges.length <= Similarity.KnnGraphK)
      // ranks are 1..k and cosine is non-increasing in rank
      val sorted = edges.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to edges.length))
      val cs = sorted.map(_.getAs[Double]("cos_sim")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // mutual(a→b) ⇔ the reversed edge exists; and then b→a is mutual too
    val edgeSet = g.map(r =>
      (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    g.foreach { r =>
      val (s, d) = (r.getAs[Long]("src"), r.getAs[Long]("dst"))
      assert(r.getAs[Boolean]("mutual") == edgeSet.contains((d, s)))
    }
    assert(g.exists(_.getAs[Boolean]("mutual")), "fixture has no mutual pair")
  }

  test("rrf: doubly-retrieved candidates outrank single-ranking ones") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val fused = Similarity.rrf(e).collect()
    val brute = Similarity.bruteTopK(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Int]("rk")).toMap
    val ann = Similarity.annTopK(e).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Int]("rk")).toMap
    fused.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      val expected =
        brute.get(key).map(rk => 1.0 / (Similarity.RrfFuseK + rk))
          .getOrElse(0.0) +
        ann.get(key).map(rk => 1.0 / (Similarity.RrfFuseK + rk))
          .getOrElse(0.0)
      assert(r.getAs[Double]("rrf_score") == expected)
    }
    // every fused candidate came from at least one ranking
    fused.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(brute.contains(key) || ann.contains(key))
    }
  }

  test("kmv join estimate: exact under K distinct; disjoint keys give zero overlap") {
    import graft.operators.Sketch
    val a = (1L to 40L).map(Tuple1(_)).toDF("k")
    val b = (21L to 60L).map(Tuple1(_)).toDF("k")
    val r = Sketch.kmvJoinEstimate(a, "k", b, "k").collect().head
    // 40, 40, 60 distinct — all under K=64, so every estimate is exact
    assert(r.getAs[Double]("a_distinct_est") == 40.0)
    assert(r.getAs[Double]("b_distinct_est") == 40.0)
    assert(r.getAs[Double]("union_est") == 60.0)
    assert(r.getAs[Double]("jaccard_est") == 20.0 / 60.0)
    assert(r.getAs[Double]("intersect_est") == (20.0 / 60.0) * 60.0)
    assert(r.getAs[Long]("intersect_exact") == 20L)
    val disj = Sketch.kmvJoinEstimate(
      (1L to 30L).map(Tuple1(_)).toDF("k"), "k",
      (100L to 130L).map(Tuple1(_)).toDF("k"), "k").collect().head
    assert(disj.getAs[Double]("jaccard_est") == 0.0)
    assert(disj.getAs[Double]("intersect_est") == 0.0)
  }

  test("cluster stats profile matches hand-built duplicate clusters") {
    // {1,2,3} identical (one cluster of 3), {7,8} identical (one of 2),
    // 9 unique (not clustered at all)
    val txtA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val txtB = "one two three four five six seven eight nine ten eleven"
    val d = docsOf((1, txtA), (2, txtA), (3, txtA),
      (7, txtB), (8, txtB), (9, "totally unrelated content lives here now"))
    val stats = Dedup.clusterStatsFrom(
        Dedup.connectedComponents(Dedup.minhashPairs(d))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats == Map(2L -> 1L, 3L -> 1L))
  }

  test("temperature mixture: sqrt flattening boosts tail sources more") {
    val docs = Seq(
      (1L, "a a a a a a a a a a a a a a a a", "big"),
      (2L, "b b b b b b b b b b b b b b b b", "big"),
      (3L, "c c c c", "small")).toDF("doc_id", "text", "source")
    val m = graft.operators.TrainingData.mixtureTemperature(docs)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val big = m("big"); val small = m("small")
    // shares: 32/36 vs 4/36; temp_share = sqrt(share)
    assert(big.getAs[Double]("token_share") > small.getAs[Double]("token_share"))
    assert(small.getAs[Double]("boost") > big.getAs[Double]("boost"))
    // sqrt really is the exponent: temp_share² recovers token_share
    assert(math.abs(math.pow(big.getAs[Double]("temp_share"), 2) -
      big.getAs[Double]("token_share")) < 1e-12)
    // dominant sources are DOWN-weighted relative to proportional (<1 is
    // impossible unnormalized — boost = 1/sqrt(share) ≥ 1 — so compare)
    assert(math.abs(small.getAs[Double]("boost") / big.getAs[Double]("boost") -
      math.sqrt((32.0 / 36) / (4.0 / 36))) < 1e-12)
  }

  test("source overlap counts shared fingerprints once per source pair") {
    val shared = "the winnowing scheme selects minimum hashes from every " +
      "window of consecutive kgram hashes producing stable fingerprints"
    val d = Seq(
      (1L, shared + " plus some extra words in source one", "sA"),
      (2L, shared + " and different trailing content here too", "sB"),
      (3L, "nothing in common with the others at all whatsoever really", "sC"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(d, TextOps.winnow(d)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("src_a") == "sA" && r.getAs[String]("src_b") == "sB")
    assert(r.getAs[Long]("n_shared_fp") >= 1)
  }

  test("as-of join: NULL right timestamps never match (no phantom rows)") {
    val right = Seq(
      ("k1", null.asInstanceOf[String], 9.0),
      ("k1", "2026-01-01 00:00:00", 7.0),
      ("k2", null.asInstanceOf[String], 5.0)).toDF("k", "rt", "v")
      .withColumn("rt", col("rt").cast("timestamp"))
    val left = Seq(
      ("k1", "2026-01-02 00:00:00"),
      ("k2", "2026-01-02 00:00:00")).toDF("k", "lt")
      .withColumn("lt", col("lt").cast("timestamp"))
    // k1 matches its one real row; k2's only candidate has a NULL time —
    // it must vanish, not surface as a matched_time = NULL row
    val back = AsOfJoin.asOf(left, right, Seq("k"), "lt", "rt", Seq("v"))
      .collect()
    assert(back.length == 1 && back.head.getAs[String]("k") == "k1" &&
      back.head.getAs[Double]("v") == 7.0)
    val fwd = AsOfJoin.asOfForward(left, right, Seq("k"), "lt", "rt",
      Seq("v")).collect()
    assert(fwd.isEmpty) // no right row at-or-after either left time
  }

  test("exact dedup collapses identical text to min doc_id") {
    val d = docsOf((5, "x y z"), (3, "x y z"), (9, "p q r"))
    val out = Dedup.exact(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((3L, 2L), (9L, 1L)))
  }

  test("cosine: identity 1, orthogonal 0, ranking correct") {
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (3L, Array(0.9f, 0.1f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val cos = e.alias("a").join(e.alias("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cos((0L, 1L)) == 1.0)
    assert(cos((0L, 2L)) == 0.0)
    assert(cos((0L, 3L)) > 0.9 && cos((0L, 3L)) < 1.0)
  }

  test("fingerprint is order-sensitive, unlike shingle sets") {
    val d = docsOf((1, "alpha beta gamma"), (2, "gamma beta alpha"))
    val fps = TextOps.fingerprint(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1) != fps(2))
  }

  test("token counts: whitespace vs bpe-ish segmentation") {
    val d = docsOf((1, "hello world 42 ok"))
    val r = TextOps.tokenCounts(d).collect().head
    assert(r.getAs[Int]("ws_tokens") == 4)
    assert(r.getAs[Int]("bpe_tokens") == 4) // hello|world|42|ok
  }

  test("multimodal features: sniffed containers route to real decoders") {
    // doc 2 (even) → BMP w = 2%60+4 = 6, h = len%40+2; doc 1 (odd) → PNG
    // w = 1%48+4 = 5, h = len%32+2
    val d = docsOf((1, "abcdefghij"), (2, "zz"))
    val f = Multimodal.features(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("mime"), r.getAs[Int]("width"),
          r.getAs[Int]("height"))).toMap
    assert(f(1) == (("image/png", 5, 12)))
    assert(f(2) == (("image/bmp", 6, 4)))
    // thumbnail R channel: generator R = 2y+1 is x-free, so the cropped
    // 2×2 box sum is 8·w2·h2² exactly
    Multimodal.features(d).collect().foreach { r =>
      val w2 = r.getAs[Int]("thumb_w").toLong
      val h2 = r.getAs[Int]("thumb_h").toLong
      assert(r.getAs[Long]("thumb_sum_r") == 8 * w2 * h2 * h2)
    }
  }

  test("winnowing: shared text regions select shared fingerprints") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docsOf(
      (1, s"prefix words here $shared"),
      (2, s"$shared and a different tail section"),
      (3, "completely unrelated vocabulary everywhere in this document body"))
    val fps = TextOps.winnow(d).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fps(1) & fps(2)).nonEmpty)   // overlap from the shared region
    assert((fps(1) & fps(3)).isEmpty)    // disjoint text → disjoint prints
  }

  test("native dot expression is bit-identical to the fold form") {
    graft.functions.VectorExprs.register(spark)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = e.alias("a").join(e.alias("b"),
      col("a.vec_id") + 1 === col("b.vec_id"))
    val diff = pairs.select(
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("fold"),
        graft.functions.VectorExprs.dotF(col("a.embedding"),
          col("b.embedding")).as("native"))
      .filter(col("fold") =!= col("native")).count()
    assert(diff == 0)
  }

  test("heavy-hitters sketch: exact under capacity, bounded over capacity") {
    graft.functions.VectorExprs.register(spark)
    val toks = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++
      Seq("d")).map(Tuple1(_))
    val df = toks.toDF("token")
    val out = df.agg(call_function(graft.functions.VectorExprs.HeavyName,
        col("token"), lit(3), lit(16)).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token"), col("h.est_count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 5L), ("b", 3L), ("c", 2L)))
    // over capacity: at most `capacity` candidates survive, never more
    val wide = (1 to 100).map(i => Tuple1(s"t$i")).toDF("token")
    val n = wide.agg(call_function(graft.functions.VectorExprs.HeavyName,
        col("token"), lit(50), lit(8)).as("hh"))
      .select(size(col("hh"))).collect().head.getInt(0)
    assert(n <= 8)
  }

  test("lang id votes deterministically with fixed tie order") {
    val d = docsOf(
      (1, "the a of something"),          // en markers
      (2, "table row column stuff"),      // de markers
      (3, "nomatch words only here"))     // no markers -> und
    val out = TextOps.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("count-min: estimate is one-sided (>= exact) and tight when sparse") {
    import graft.operators.Sketch
    // few distinct keys vs 4x256 cells: collisions are possible but the
    // min over 4 independent rows must stay >= exact for every key
    val df = ((1 to 50).map(i => i.toLong % 7) ++ Seq.fill(40)(99L))
      .map(Tuple1(_)).toDF("k")
    val out = Sketch.countMin(df, "k").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_cnt"))
      assert(r.getAs[Long]("overestimate") ==
        r.getAs[Long]("cms_estimate") - r.getAs[Long]("exact_cnt"))
    }
    // hot key dominates its own buckets: estimate for 99 is exactly 40
    // unless another of the 8 keys collides in ALL 4 rows (impossible here:
    // 7 other keys, 4 independent rows of width 256)
    val hot = out.find(_.getAs[Long]("k") == 99L).get
    assert(hot.getAs[Long]("cms_estimate") == 40L)
  }

  test("ams f2: exact audit fields are right and the estimate is unbiased-ish") {
    import graft.operators.Sketch
    // counts 3,2,1 -> F2 = 9+4+1 = 14 over 6 rows, 3 keys (+ a NULL row
    // that both sides must drop)
    val df = (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq("c"))
      .map(Tuple1(_)).toDF("k")
      .unionByName(Seq(Tuple1(null: String)).toDF("k"))
    val r = Sketch.amsF2(df, "k").collect().head
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("exact_f2") == 14L)
    val est = r.getAs[Double]("ams_estimate")
    // each counter is a ±1 combination of (3,2,1): X_j = c_j^2 <= 36, so
    // the median of group means is bounded and non-negative
    assert(est >= 0.0 && est <= 36.0)
    assert(r.getAs[Double]("rel_error") == (est - 14.0) / 14.0)
  }

  test("sq topk: planted duplicate of the query wins in code space") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = graft.operators.Similarity.Dim
    // vec 0 and vec 9 share a strong pattern; 1..8 are small noise
    val strong = Array.tabulate(dim)(i => (i + 1).toFloat)
    val rows = Seq(Row(0L, strong.toSeq, 0)) ++
      (1L to 8L).map(i => Row(i, Array.fill(dim)(0.1f * (i % 3)).toSeq, 0)) :+
      Row(9L, strong.toSeq, 0)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = graft.operators.Similarity.sqTopK(emb).collect()
    // 5 queries (vec_id < NQueries) x min(TopK, 9 candidates)
    assert(out.length == 5 * 9)
    // query 0's top candidate is its duplicate, at the max possible score
    val q0 = out.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rk"))
    assert(q0.head.getAs[Long]("cand_id") == 9L)
    // scores are non-increasing down each ranking and exact integers
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val s = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("sq_score"))
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedOutliers: planted far-out vector ranks first for its label") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // one tight cluster near the origin plus one far-out point per label
    val dim = graft.operators.Similarity.Dim
    val rows = (0 until 2).flatMap { label =>
      val cluster = (0 until 10).map { i =>
        Row(label * 100L + i, Array.fill(dim)(0.01f * (i % 3)).toSeq, label)
      }
      val outlier = Row(label * 100L + 99L, Array.fill(dim)(5.0f).toSeq, label)
      cluster :+ outlier
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = graft.operators.Similarity.embedOutliers(emb).collect()
    val top = out.filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("vec_id")).toMap
    assert(top == Map(0 -> 99L, 1 -> 199L))
    // distances are non-negative and non-increasing within each label
    out.groupBy(_.getAs[Int]("label")).values.foreach { rs =>
      val d = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("dist2"))
      assert(d.forall(_ >= 0.0) && d.zip(d.tail).forall { case (a, b) => a >= b })
    }
  }

  test("events_winsorize: clipped values sit inside the per-type bounds") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("events_winsorize")(spark, dir).collect()
    out.foreach { r =>
      val (v, c, flagged) = (r.getAs[Double]("value"),
        r.getAs[Double]("clipped"), r.getAs[Boolean]("was_clipped"))
      assert(flagged == (c != v))
    }
    // per type: clamping narrows the range, and every flagged row lands on
    // one of exactly two bound values (the lo / hi quantiles)
    out.groupBy(_.getAs[String]("event_type")).values.foreach { rs =>
      val values = rs.map(_.getAs[Double]("value"))
      val clipped = rs.map(_.getAs[Double]("clipped"))
      assert(clipped.min >= values.min && clipped.max <= values.max)
      val bounds = rs.filter(_.getAs[Boolean]("was_clipped"))
        .map(_.getAs[Double]("clipped")).distinct
      assert(bounds.length <= 2)
    }
    assert(out.exists(_.getAs[Boolean]("was_clipped")))
  }

  test("events_anomaly: scores are the extreme deviants, sorted by |score|") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("events_anomaly")(spark, dir).collect()
    assert(out.length <= 20)
    val scores = out.map(r => math.abs(r.getAs[Double]("score")))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("quantize: codes span 0..255 with min→0 and max→255 per dim") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val out = graft.operators.Similarity.quantize(emb).collect()
    val codes = out.map(r => r.getAs[String]("codes").split(",").map(_.toInt))
    assert(codes.forall(_.forall(c => c >= 0 && c <= 255)))
    val dim = graft.operators.Similarity.Dim
    assert(codes.forall(_.length == dim))
    // per dim, the corpus minimum must encode 0 and the maximum 255
    (0 until dim).foreach { d =>
      val col = codes.map(_(d))
      assert(col.min == 0 && col.max == 255, s"dim=$d")
    }
  }

  test("property: debounce matches the sequential first-of-burst reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.sql.Timestamp
    // random single-user single-type streams with gaps straddling the
    // 10-min threshold; compare against the obvious sequential sweep
    val gapGen = Gen.listOfN(12, Gen.chooseNum(1L, 1200L)) // seconds
    for (seed <- 1L to 6L) {
      val gaps = gapGen(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
      val times = gaps.scanLeft(0L)(_ + _) // cumulative seconds
      val rows = times.zipWithIndex.map { case (t, i) =>
        (i.toLong, new Timestamp(1700000000000L + t * 1000L), 1L, "click",
          0.0, "{}")
      }
      import spark.implicits._
      val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
        "value", "props")
      // sequential reference: keep iff gap from the PREVIOUS event > 600 s
      // (first event always kept)
      val expected = times.zipWithIndex.collect {
        case (t, 0) => 0L
        case (t, i) if t - times(i - 1) > 600 => i.toLong
      }
      val got = graft.operators.Sessionize.debounce(ev, 600000000L)
        .collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(got == expected, s"seed=$seed times=$times")
    }
  }

  test("bursts: cross-multiplied threshold flags exactly the hot window") {
    import java.sql.Timestamp
    import spark.implicits._
    val h = 3600000L
    val base = 1700000000000L - (1700000000000L % h) // hour-aligned
    // type a: hour 0 carries 6 events, hours 1-3 carry 1 each ->
    // n_windows=4, n_total=9; burst iff n*4 > 2*9: only the 6-event hour.
    // type b: 2+2 -> 2*2 > 2*4 never fires.
    val rows =
      (0 until 6).map(i => (i.toLong, new Timestamp(base + i * 1000L), 1L,
        "a", 0.0, "{}")) ++
      (1 to 3).map(k => (10L + k, new Timestamp(base + k * h), 1L,
        "a", 0.0, "{}")) ++
      Seq((20L, new Timestamp(base), 1L, "b", 0.0, "{}"),
        (21L, new Timestamp(base + 1000L), 1L, "b", 0.0, "{}"),
        (22L, new Timestamp(base + h), 1L, "b", 0.0, "{}"),
        (23L, new Timestamp(base + h + 1000L), 1L, "b", 0.0, "{}"))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val out = graft.operators.Sessionize.bursts(ev).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("event_type") == "a")
    assert(out.head.getAs[Long]("n_events") == 6L)
    assert(out.head.getAs[Long]("n_windows") == 4L)
    assert(out.head.getAs[Long]("n_total") == 9L)
  }

  test("dowProfile: cells land on the right weekday and hour") {
    import java.sql.Timestamp
    import spark.implicits._
    // 2024-01-07 is a Sunday (Spark dow 1); 2024-01-08 a Monday (2)
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-07 10:00:00"), 1L, "a", 1.5, "{}"),
      (2L, Timestamp.valueOf("2024-01-07 10:30:00"), 1L, "a", 2.5, "{}"),
      (3L, Timestamp.valueOf("2024-01-08 11:00:00"), 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.Sessionize.dowProfile(ev).collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hod")) -> r).toMap
    assert(out.keySet == Set((1L, 10L), (2L, 11L)))
    assert(out((1L, 10L)).getAs[Long]("n_events") == 2L)
    assert(out((1L, 10L)).getAs[Double]("total_value") == 4.0)
    assert(out((2L, 11L)).getAs[Long]("n_events") == 1L)
  }

  test("embed_drift: single-label corpus drifts nowhere (cos == 1)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = graft.operators.Similarity.Dim
    val rows = (0 until 8).map(i =>
      Row(i.toLong, Array.tabulate(dim)(d => 0.1f * ((i + d) % 5)).toSeq, 0))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val out = graft.operators.Similarity.embedDrift(emb).collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("cos_to_global") - 1.0) < 1e-12)
    assert(out.head.getAs[Long]("n_vectors") == 8L)
  }
}
