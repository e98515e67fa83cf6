package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Layout, Similarity, TrainingData}

/** Round-3 additions: Z-order layout, PageRank, canonical dedup selection,
  * Bloom decon pre-screen, PQ/ADC ANN. Semantic properties beyond the
  * oracle hash gate.
  */
class LayoutGraphSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("zorder: files partition the table and bound both dimensions") {
    val li = Tables.lineitem(spark, dir)
    val audit = Layout.zorderAudit(li).collect()
    assert(audit.map(_.getAs[Long]("n_rows")).sum == li.count())
    assert(audit.length > 1 && audit.length <= Layout.NFiles)
    // every file's rectangle is a strict sub-range on at least one
    // dimension (the whole point of multi-dim clustering: no file spans
    // the full domain in BOTH dims)
    val (pmin, pmax, smin, smax) = li
      .agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey"))
      .as[(Long, Long, Long, Long)].head()
    audit.foreach { r =>
      val fullPart = r.getAs[Long]("part_min") == pmin &&
        r.getAs[Long]("part_max") == pmax
      val fullSupp = r.getAs[Long]("supp_min") == smin &&
        r.getAs[Long]("supp_max") == smax
      assert(!(fullPart && fullSupp),
        s"file ${r.getAs[Long]("file_id")} spans the full domain in both dims")
    }
  }

  test("zkey interleaves bits correctly on known values") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L)).toDF("x", "y")
      .withColumn("z", Layout.zkey(col("x"), col("y")))
    // morton(3,5) = x bits {0,1} -> {0,2}; y bits {0,2} -> {1,5} = 1+4+2+32
    assert(df.select("z").as[Long].collect().toSeq == Seq(0L, 1L, 2L, 39L))
  }

  test("pagerank mass is conserved and ranks are positive") {
    val pr = Graph.pagerankCached(Tables.orders(spark, dir),
      Tables.lineitem(spark, dir))
    val rows = pr.collect()
    assert(rows.length == Graph.PrTopK)
    assert(rows.forall(_.getAs[Double]("rank") > 0))
    // rk is 1..k in rank-descending order
    val ranks = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("rank"))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("pagerank on a known 2x1 bipartite graph") {
    // customers 1,2 both buy from supplier 7 — symmetric walk:
    // after any number of rounds supplier holds more mass than either
    // customer, and the two customers tie exactly.
    val orders = Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 7L), (20L, 7L)).toDF("l_orderkey", "l_suppkey")
    val pr = Graph.pagerankCached(orders, lineitem).collect()
    val bySupplier = pr.find(_.getAs[Long]("node_id") == Graph.SuppBase + 7L).get
    assert(bySupplier.getAs[Int]("rk") == 1)
    val custRanks = pr.filter(_.getAs[Long]("node_id") < Graph.SuppBase)
      .map(_.getAs[Double]("rank"))
    assert(custRanks.length == 2 && custRanks.distinct.length == 1)
  }

  test("hits on a known bipartite graph: exact integer scores") {
    // customers 1,2 → supplier 7; customer 2 → supplier 8.
    // a1 = deg: a1(7)=2, a1(8)=1.  h1(1)=2, h1(2)=2+1=3.
    // a2(7)=h1(1)+h1(2)=5, a2(8)=h1(2)=3.  h2(1)=5, h2(2)=5+3=8.
    val orders = Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 7L), (20L, 7L), (20L, 8L))
      .toDF("l_orderkey", "l_suppkey")
    val e0 = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val out = Graph.hitsFrom(e0).collect()
    def score(side: String, id: Long): Long =
      out.find(r => r.getAs[String]("side") == side &&
        r.getAs[Long]("node_id") == id).get.getAs[Long]("score")
    assert(score("hub", 1L) == 5L && score("hub", 2L) == 8L)
    assert(score("auth", 7L) == 5L && score("auth", 8L) == 3L)
    // shares within each side sum to 1 exactly (integer totals)
    Seq("hub", "auth").foreach { s =>
      val shares = out.filter(_.getAs[String]("side") == s)
        .map(_.getAs[Double]("share"))
      assert(math.abs(shares.sum - 1.0) < 1e-12)
    }
    // rk 1 is the max score on each side
    assert(out.filter(_.getAs[Long]("rk") == 1L).map(r =>
      (r.getAs[String]("side"), r.getAs[Long]("node_id"))).toSet ==
      Set(("hub", 2L), ("auth", 7L)))
  }

  test("pagerank deep iteration (periodic pins) still conserves the contract") {
    // iters=7 crosses two periodic lineage pins (rounds 3 and 6); the
    // symmetric 2x1 graph's invariants must hold exactly as at iters=2
    val orders = Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 7L), (20L, 7L)).toDF("l_orderkey", "l_suppkey")
    val pr = Graph.pagerankCached(orders, lineitem, iters = 7).collect()
    assert(pr.find(_.getAs[Long]("node_id") == Graph.SuppBase + 7L)
      .get.getAs[Int]("rk") == 1)
    val custRanks = pr.filter(_.getAs[Long]("node_id") < Graph.SuppBase)
      .map(_.getAs[Double]("rank"))
    assert(custRanks.length == 2 && custRanks.distinct.length == 1)
  }

  test("canonical keeps the longest doc per cluster and all docs appear") {
    val docs = Tables.documents(spark, dir)
    val can = Dedup.canonicalFrom(docs,
      Dedup.connectedComponents(Dedup.minhashPairs(docs)))
    assert(can.count() == docs.count())
    // keep_id belongs to the same component and has the component's max
    // n_chars (ties by doc_id): verify via self-join
    val chars = docs.select(col("doc_id").as("keep_id"),
      col("n_chars").as("keep_chars"))
    val bad = can.join(chars, "keep_id")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .filter(col("n_chars") > col("keep_chars"))
    assert(bad.count() == 0)
    // exactly one kept doc per component
    val perComp = can.filter(col("kept"))
      .groupBy("component").count().filter(col("count") =!= 1)
    assert(perComp.count() == 0)
  }

  test("bloom decon never misses a true overlap (no false negatives)") {
    val out = TrainingData.bloomDecon(Tables.documents(spark, dir))
    // every kgram counted by the exact path must also be bloom-flagged:
    // n_maybe >= n_exact row-wise, and no doc with n_exact>0 is absent
    assert(out.filter(col("n_maybe") < col("n_exact")).count() == 0)
    val exactIds = TrainingData.decontaminate(Tables.documents(spark, dir))
      .select(col("train_id")).distinct()
    val missed = exactIds.join(out.select("train_id"), Seq("train_id"),
      "left_anti")
    assert(missed.count() == 0)
  }

  test("pruningAudit: zone maps never lose rows and actually skip files") {
    val audit = Layout.pruningAudit(Tables.lineitem(spark, dir)).collect()
    assert(audit.length == 3)
    audit.foreach { r =>
      val (total, scanned) =
        (r.getAs[Long]("files_total"), r.getAs[Long]("files_scanned"))
      // sound: every matching row lives in a scanned file
      assert(r.getAs[Long]("rows_matching") <= r.getAs[Long]("rows_scanned"))
      assert(scanned >= 1L && scanned <= total)
      // effective: a bottom-eighth/quarter probe must prune MOST files on
      // a Z-ordered layout — pruning on either single dimension is the
      // whole point of the interleaved key
      assert(scanned <= total / 2,
        s"${r.getAs[String]("probe")} scanned $scanned of $total files")
    }
    // the rectangle probe is the best case: tighter than either 1-D probe
    val byProbe = audit.map(r =>
      r.getAs[String]("probe") -> r.getAs[Long]("files_scanned")).toMap
    assert(byProbe("rect_bottom_quarter") <=
      byProbe("part_bottom_eighth"))
  }

  test("compaction plan partitions the manifest into contiguous groups") {
    val li = Tables.lineitem(spark, dir)
    val groups = Layout.compactionPlan(li).collect()
    assert(groups.length <= Layout.CompactGroups)
    assert(groups.map(_.getAs[Long]("group_rows")).sum == li.count())
    // contiguous, ordered, non-overlapping file ranges
    val ranges = groups.sortBy(_.getAs[Long]("group_id"))
      .map(r => (r.getAs[Long]("first_file"), r.getAs[Long]("last_file")))
    ranges.foreach { case (a, b) => assert(a <= b) }
    ranges.sliding(2).foreach {
      case Array((_, b1), (a2, _)) => assert(b1 < a2)
      case _ =>
    }
  }

  test("dim sweep: full-dim truncation is exact recall 1.0") {
    val sweep = Similarity.dimSweepRecall(Tables.embeddings(spark, dir))
      .collect()
    assert(sweep.length == Similarity.MrlDims.length * Similarity.NQueries)
    sweep.filter(_.getAs[Long]("dim") == Similarity.Dim.toLong)
      .foreach(r => assert(r.getAs[Double]("recall") == 1.0))
  }

  test("hilbert key matches the canonical xy2d walk and is a bijection") {
    // independent reference: the textbook coordinate-rewriting xy2d loop
    // (a DIFFERENT formulation from the state machine under test)
    def xy2d(x0: Int, y0: Int): Long = {
      val n = 1 << Layout.HilbertBits
      var (x, y, d) = (x0, y0, 0L)
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    // deterministic sample covering every state-transition pattern, plus
    // the corners
    val pts = (for (i <- 0 until 64; j <- 0 until 64)
      yield ((i * 37 + j * 11) % 256, (j * 53 + i * 7) % 256)).distinct ++
      Seq((0, 0), (255, 0), (0, 255), (255, 255))
    val got = pts.toDF("x", "y")
      .transform(d => Layout.withHilbertKey(
        d.select(col("x").cast("long").as("qx"),
          col("y").cast("long").as("qy")), "qx", "qy", "hkey"))
      .select("qx", "qy", "hkey").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == xy2d(x, y), s"($x,$y)")
    }
    // curve property on an exhaustive 16x16 sub-grid of the low bits:
    // d is a bijection onto [0, 256) and consecutive d's are grid-adjacent
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x, y))
    val ds = grid.map { case (x, y) => xy2d(x, y) }
    // low 8 bits of the walk order the 16x16 corner block contiguously
    val inBlock = grid.zip(ds).filter(_._2 < 256)
    assert(inBlock.map(_._2).sorted == (0L until 256L))
    val byD = inBlock.map { case (p, d) => d -> p }.toMap
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"step $d not adjacent: ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("pq codes quantize every vector and ADC ranks full AnnTopK") {
    val emb = Tables.embeddings(spark, dir)
    val out = Similarity.pqTopK(emb).collect()
    assert(out.length == Similarity.NQueries * Similarity.AnnTopK)
    val perQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.forall(_._2.map(_.getAs[Int]("rk")).sorted.toSeq ==
      (1 to Similarity.AnnTopK)))
  }

  test("trained residual IVFADC runs Lloyd's and keeps a valid ranking") {
    val emb = Tables.embeddings(spark, dir)
    val residuals = Similarity.residualSubvectors(emb)
    val trained = Similarity.ivfPqResidualTopK(emb, residuals,
      Similarity.trainSubCodebook(residuals._2)).collect()
    assert(trained.nonEmpty)
    trained.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val rks = rows.map(_.getAs[Int]("rk")).sorted.toSeq
      assert(rks == (1 to rks.length))
    }
    // measured isotropy fact (see scaladoc): on these synthetic
    // embeddings training moves the codebook but not the top-k SETS —
    // pin it so a fixture change that breaks the assumption surfaces
    val untrained = Similarity.ivfPqResidualTopK(emb, residuals,
      Similarity.seedCodebook(residuals._2)).collect()
    def sets(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))
        .toSet
    assert(sets(trained) == sets(untrained))
  }

  test("trained PQ books never increase distortion; trained cell balance " +
    "accounts for every vector") {
    val emb = Tables.embeddings(spark, dir)
    val nVecs = emb.count()
    val seed = Similarity.pqDistortion(emb).collect()
      .map(r => r.getAs[Int]("m") -> r.getAs[Double]("mean_distortion"))
      .toMap
    val trainedD = Similarity.pqDistortionTrained(emb,
      Similarity.pqCodebookCached(emb)).collect()
    assert(trainedD.length == Similarity.PqM)
    // alternating minimization: SSE under the trained books can only be
    // <= the seed books it started from, per subspace
    trainedD.foreach { r =>
      val m = r.getAs[Int]("m")
      assert(r.getAs[Double]("mean_distortion") <= seed(m) + 1e-12,
        s"subspace $m: trained distortion above seed")
    }
    val bal = Similarity.ivfBalanceTrained(emb,
      Similarity.ivfCentsCached(emb)).collect()
    assert(bal.map(_.getAs[Long]("n_vectors")).sum == nVecs)
    val shareSum = bal.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // radius audit partitions the same corpus; cosines are bounded and
    // the per-cell worst case never beats the mean
    val usage = Similarity.pqCodeUsage(emb,
      Similarity.pqCodebookCached(emb)).collect()
    assert(usage.length == Similarity.PqM)
    usage.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == nVecs)
      assert(r.getAs[Long]("n_codes_used") <= Similarity.PqK)
      assert(r.getAs[Long]("max_code_count") <= nVecs)
    }
    val rad = Similarity.ivfRadiusTrained(emb,
      Similarity.ivfCentsCached(emb)).collect()
    assert(rad.map(_.getAs[Long]("n_vectors")).sum == nVecs)
    rad.foreach { r =>
      val n = r.getAs[Long]("n_vectors")
      val mn = r.getAs[Double]("min_cos")
      val sm = r.getAs[Double]("sum_cos")
      assert(mn <= sm / n + 1e-9, s"cell ${r.getAs[Long]("bucket")}")
      assert(mn <= 1.0 + 1e-9 && mn >= -1.0 - 1e-9)
    }
  }

  test("ivfpq: every (query, cand) ADC score agrees with unpruned PQ") {
    val emb = Tables.embeddings(spark, dir)
    val ivfpq = Similarity.ivfPqTopK(emb).collect()
    assert(ivfpq.nonEmpty)
    // per-query ranks are dense 1..k' for some k' <= AnnTopK (cells can
    // hold fewer than k candidates)
    ivfpq.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val rks = rows.map(_.getAs[Int]("rk")).sorted.toSeq
      assert(rks == (1 to rks.length), s"ranks not dense: $rks")
    }
    // IVF prunes WHICH candidates are scored, never HOW: any pair the
    // composite returns must carry the identical ADC sum the unpruned
    // PQ ranking computed (when the pair survives pq's own top-k cut)
    val pq = Similarity.pqTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("adc")).toMap
    val overlap = ivfpq.flatMap { r =>
      pq.get((r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))
        .map(_ == r.getAs[Double]("adc"))
    }
    assert(overlap.nonEmpty && overlap.forall(identity))
  }

  test("triangle census on known graphs: K4, path, star") {
    def stats(pairs: Seq[(Long, Long)]) = {
      val edges = pairs.toDF("pa", "pb")
      Graph.triangleStats(edges, Graph.degrees(edges),
        Graph.edgeCommonCounts(edges, Graph.fullAdjacency(edges)))
        .collect().head
    }
    // K4: 6 edges, 4 triangles, 12 wedges, clustering 1.0
    val k4 = stats(for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j))
    assert(k4.getAs[Long]("n_nodes") == 4 && k4.getAs[Long]("n_edges") == 6)
    assert(k4.getAs[Long]("n_wedges") == 12)
    assert(k4.getAs[Long]("n_triangles") == 4)
    assert(k4.getAs[Double]("global_clustering") == 1.0)
    // path a-b-c: one wedge, no triangle
    val path = stats(Seq((1L, 2L), (2L, 3L)))
    assert(path.getAs[Long]("n_triangles") == 0 &&
      path.getAs[Long]("n_wedges") == 1)
    // star K1,5 plus one rim edge: exactly 1 triangle regardless of hub
    // degree (hub is the HIGH-degree endpoint — exercises orientation)
    val star = stats((1L to 5L).map(i => (0L, 10L + i)) :+ (11L, 12L))
    assert(star.getAs[Long]("n_triangles") == 1)
  }

  test("commonNeighbors: K4 edges score 2, pendant path edges score 0") {
    // K4 on 1..4 plus a pendant path 4-5-6
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("pa", "pb")
    val out = Graph.commonNeighbors(
      Graph.edgeCommonCounts(edges, Graph.fullAdjacency(edges))).collect()
    assert(out.length == 8)
    val byPair = out.map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")) ->
      r.getAs[Long]("n_common")).toMap
    k4.foreach { case (a, b) => assert(byPair((a, b)) == 2L, s"($a,$b)") }
    assert(byPair((4L, 5L)) == 0L)
    assert(byPair((5L, 6L)) == 0L)
    // ranking: the six K4 edges occupy rk 1..6
    assert(out.filter(_.getAs[Long]("rk") <= 6)
      .forall(_.getAs[Long]("n_common") == 2L))
  }

  test("linkJaccard: K4 core outranks hub edges; pendant edges score 0") {
    // K4 on 1..4 plus a pendant path 4-5-6: N(1)={2,3,4}, N(4)={1,2,3,5}
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("pa", "pb")
    val out = Graph.linkJaccard(
      Graph.edgeCommonCounts(edges, Graph.fullAdjacency(edges))).collect()
    assert(out.length == 8)
    val byPair = out.map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")) ->
      (r.getAs[Double]("jaccard"), r.getAs[Long]("pref_attach"))).toMap
    // edges among {1,2,3}: cn=2, union=3+3-2=4 -> 0.5, pref 3*3
    Seq((1L, 2L), (1L, 3L), (2L, 3L)).foreach { p =>
      assert(byPair(p) == (0.5, 9L), s"$p") }
    // edges touching 4 inside K4: cn=2, union=3+4-2=5 -> 0.4, pref 12
    Seq((1L, 4L), (2L, 4L), (3L, 4L)).foreach { p =>
      assert(byPair(p) == (0.4, 12L), s"$p") }
    // pendant edges share no neighbors
    assert(byPair((4L, 5L)) == (0.0, 8L))
    assert(byPair((5L, 6L)) == (0.0, 2L))
    // ranking follows jaccard: the {1,2,3} triangle occupies rk 1..3
    assert(out.filter(_.getAs[Long]("rk") <= 3)
      .forall(_.getAs[Double]("jaccard") == 0.5))
  }

  test("personalized pagerank: seed flag matches id space, mass is a distribution") {
    val d = "/root/testdata/sf0.001"
    val out = Graph.pprCached(Tables.orders(spark, d),
      Tables.lineitem(spark, d)).collect()
    assert(out.length == Graph.PrTopK)
    // is_seed is exactly the id predicate the teleport uses
    out.foreach { r =>
      assert(r.getAs[Boolean]("is_seed") ==
        (r.getAs[Long]("node_id") < Graph.PprSeeds))
    }
    // ranking is a proper non-increasing positive sequence, and the
    // top-k mass never exceeds the full distribution's total of 1
    val ranks = out.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("rank"))
    assert(ranks.forall(_ > 0.0))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
    assert(ranks.sum <= 1.0 + 1e-9)
  }

  test("localClustering: K6 nodes score 1.0, the bridge node 2/3") {
    // K6 on 1..6 plus a pendant path 6-7-8; LccMinDeg=5 keeps 1..6 only
    val k6 = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val edges = (k6 ++ Seq((6L, 7L), (7L, 8L))).toDF("pa", "pb")
    val out = Graph.localClustering(
      Graph.edgeCommonCounts(edges, Graph.fullAdjacency(edges)),
      Graph.degrees(edges)).collect()
    assert(out.map(_.getAs[Long]("node_id")).toSet == (1L to 6L).toSet)
    val by = out.map(r => r.getAs[Long]("node_id") -> r).toMap
    (1L to 5L).foreach { v =>
      assert(by(v).getAs[Double]("local_cc") == 1.0, s"node $v")
      assert(by(v).getAs[Long]("n_triangles") == 10L, s"node $v")
    }
    // node 6 carries the pendant edge: 10 triangles over deg 6
    assert(by(6L).getAs[Long]("deg") == 6L)
    assert(by(6L).getAs[Long]("n_triangles") == 10L)
    assert(by(6L).getAs[Double]("local_cc") == 20.0 / 30.0)
    // ranking: the five pure-clique nodes occupy rk 1..5
    assert(out.filter(_.getAs[Long]("rk") <= 5)
      .forall(_.getAs[Double]("local_cc") == 1.0))
  }

  test("peel profile: clique survives, pendant leaves cascade off") {
    // K5 on 1..5 (internal degree 4) + four leaves on node 1
    val edges = (for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)) ++
      (10L to 13L).map(l => (1L, l))
    val e = edges.toDF("pa", "pb")
    val prof = Graph.peelProfile(e, Graph.degrees(e), k = 3, rounds = 2)
      .collect().map(r => (r.getAs[Long]("round"),
        r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))).toSeq
    // round 0 intact; round 1 drops the degree-1 leaves (node 1 keeps
    // degree 8 >= 3, then 4); round 2 is the fixpoint — the 3-core is K5
    assert(prof == Seq((0L, 9L, 14L), (1L, 5L, 10L), (2L, 5L, 10L)))
    // monotone shrink on the fixture graph too
    val fxEdges = Graph.coPartEdges(Tables.lineitem(spark, dir))
    val fx = Graph.peelProfile(fxEdges, Graph.degrees(fxEdges)).collect()
      .sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("n_edges")).toSeq
    assert(fx == fx.sorted.reverse, s"edge counts not monotone: $fx")
  }

  test("modularity: perfect two-community split scores exactly 0.5") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (11L, 12L), (12L, 13L), (11L, 13L)).toDF("doc_a", "doc_b")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (11L, 11L), (12L, 11L), (13L, 11L)).toDF("doc_id", "community")
    val q = Dedup.modularityFrom(pairs, comm).collect().head
    // two disjoint triangles, all edges within: [4·6·6 − 72]/144 = 1/2,
    // integer-exact
    assert(q.getAs[Long]("n_communities") == 2)
    assert(q.getAs[Double]("modularity") == 0.5)
    // everything in ONE community: Q = [4·6·6 − 144]/144 = 0 exactly
    val one = comm.select(col("doc_id"), lit(1L).as("community"))
    assert(Dedup.modularityFrom(pairs, one).collect()
      .head.getAs[Double]("modularity") == 0.0)
  }

  test("modularity: an edgeless pair graph scores NULL, not DIVIDE_BY_ZERO") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val comm = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "community")
    val q = Dedup.modularityFrom(pairs, comm).collect().head
    assert(q.getAs[Long]("n_edges") == 0L)
    assert(q.getAs[Long]("n_communities") == 2L)
    assert(q.isNullAt(q.fieldIndex("modularity")))
  }

  test("components: two disjoint bicliques summarize exactly") {
    val orders = Seq((100L, 1L), (101L, 2L), (102L, 3L))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq((100L, 10L), (101L, 10L), (102L, 11L), (102L, 12L))
      .toDF("l_orderkey", "l_suppkey")
    val out = Graph.components(Graph.componentLabelsCached(orders, li)).collect()
    assert(out.length == 2)
    // ties on size order by component min-id: cust 1's component first
    assert(out(0).getAs[Long]("component") == 1L)
    assert((out(0).getAs[Long]("n_nodes"), out(0).getAs[Long]("n_cust"),
      out(0).getAs[Long]("n_supp")) == ((3L, 2L, 1L)))
    assert(out(1).getAs[Long]("component") == 3L)
    assert((out(1).getAs[Long]("n_nodes"), out(1).getAs[Long]("n_cust"),
      out(1).getAs[Long]("n_supp")) == ((3L, 1L, 2L)))
  }

  test("bfs levels: path graph advances one hop per level") {
    // path 0-1-…-9: seeds {0..4} (ids < BfsSeeds), frontier then walks
    // 5, 6, 7 — one new node per level
    val path = (0L to 8L).map(i => (i, i + 1))
    val edges = path.toDF("pa", "pb")
    val prof = Graph.bfsLevels(
      Graph.seededLevels(edges, Graph.degrees(edges))).collect()
      .map(r => (r.getAs[Long]("level"), r.getAs[Long]("n_reached"))).toSeq
    assert(prof == Seq((0L, 5L), (1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("assortativity: star graph is exactly -1; K4 is degree-regular") {
    def r(pairs: Seq[(Long, Long)]): Double = {
      val edges = pairs.toDF("pa", "pb")
      Graph.assortativity(edges, Graph.degrees(edges)).collect()
        .head.getAs[Double]("assortativity")
    }
    // hub-to-leaf only: maximal disassortativity, integer-exact -1
    assert(r((1L to 5L).map(l => (0L, l))) == -1.0)
    // a regular graph has zero degree variance: r is NaN (0/0), never a
    // fabricated 0 — callers see the undefinedness
    assert(r(for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)).isNaN)
  }

  test("co-part edges honor the per-order cap and degree bins are 2^k") {
    // one order with CoPartCap + 3 distinct parts: only the lowest
    // CoPartCap expand into pairs
    val over = Graph.CoPartCap + 3
    val li = (1 to over).map(p => (100L, p.toLong)).toDF(
      "l_orderkey", "l_partkey")
    val edges = Graph.coPartEdges(li)
    val n = Graph.CoPartCap.toLong
    assert(edges.count() == n * (n - 1) / 2)
    assert(edges.agg(max("pb")).head.getLong(0) == n)
    // degree histogram of the capped clique: every node deg = n-1 = 7 →
    // one bin (2, lo 4) holding all CoPartCap nodes
    val hist = Graph.degreeHistogram(Graph.degrees(edges)).collect()
    assert(hist.length == 1 && hist.head.getAs[Long]("bin") == 2 &&
      hist.head.getAs[Long]("lo") == 4 &&
      hist.head.getAs[Long]("n_nodes") == n)
  }

  test("pcaPower: planted dominant direction is recovered, sign-canonical") {
    // variance concentrated on dim 2 (values ±k), small constant offsets
    // elsewhere — the leading eigenvector must converge to ±e2 in 3 power
    // rounds and the canonical sign makes it +e2
    val rows = (1 to 40).map { k =>
      val sgn = if (k % 2 == 0) 1.0f else -1.0f
      (k.toLong, Array(0.01f, sgn * k / 10.0f, 0.02f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pcaPower(Similarity.pcaParts(df, 4)).collect()
    assert(out.length == 4)
    val loadings = out.map(r =>
      r.getAs[Long]("dim0") -> r.getAs[Double]("loading")).toMap
    assert(math.abs(loadings(2L)) > 0.999,
      s"dominant direction not recovered: $loadings")
    assert(loadings(2L) > 0, "sign not canonicalized to the dominant dim")
    // unit norm and a variance share that reflects the planted dominance
    val norm2 = loadings.values.map(v => v * v).sum
    assert(math.abs(norm2 - 1.0) < 1e-9, s"not unit norm: $norm2")
    val share = out.head.getAs[Double]("var_share")
    assert(share > 0.99 && share <= 1.0 + 1e-9, s"var share $share")
    // eigenvalue ≈ the planted dim's variance: mean of (k/10)² — the
    // centered ± pattern has mean ~0 (up to the odd/even imbalance)
    val eig = out.head.getAs[Double]("eigval")
    assert(eig > 3.0 && eig < 6.0, s"eigval $eig")
  }

  test("pcaDeflate: recovers the planted SECOND axis, orthogonal to the " +
    "first") {
    // 4-periodic patterns: dim 2 carries ±2.0 (λ₁=4), dim 4 carries ±0.5
    // (λ₂=0.25), exactly uncorrelated (Σ a·b = 0 per period); dims 1/3
    // are constants (zero variance). trace = 4.25.
    val rows = (0 until 40).map { k =>
      val a = if (k % 4 < 2) 2.0f else -2.0f
      val b = if (k % 2 == 0) 0.5f else -0.5f
      (k.toLong, Array(0.01f, a, 0.02f, b))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pcaDeflate(Similarity.pcaArts(df, 4)).collect()
      .map(r => r.getAs[Long]("dim0") -> r).toMap
    val loadings = (1L to 4L).map(i => out(i).getAs[Double]("loading"))
    // unit norm, canonical sign, dominated by dim 4
    assert(math.abs(loadings.map(x => x * x).sum - 1.0) < 1e-9)
    assert(math.abs(loadings(3) - 1.0) < 1e-3,
      s"second component should be ~+e4, got $loadings")
    // the fixed 3-round v₁ carries O((λ₂/λ₁)³) of e4; deflating with it
    // leaves that much e2 leakage in v₂ — measured ~4e-3 here, bounded
    // not exact, hence the looser tolerance
    assert(math.abs(loadings(1)) < 1e-2, "leading axis must be deflated out")
    assert(math.abs(out(1L).getAs[Double]("eigval") - 0.25) < 1e-3)
    assert(math.abs(out(1L).getAs[Double]("var_share") - 0.25 / 4.25) < 1e-3)
  }

  test("pcaProject: coords recover the planted axis, residual is ~0") {
    // same planted corpus: all variance on dim 2 → the rank-1 code is
    // lossless (resid² ≈ 0) and each coord equals the centered dim-2
    // value under the canonical (+e2) component
    val rows = (1 to 40).map { k =>
      val sgn = if (k % 2 == 0) 1.0f else -1.0f
      (k.toLong, Array(0.01f, sgn * k / 10.0f, 0.02f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val mean2 = rows.map(_._2(1).toDouble).sum / rows.length
    val out = Similarity.pcaProject(df, Similarity.pcaParts(df, 4)).collect()
    assert(out.length == rows.length)
    out.foreach { r =>
      val k = r.getAs[Long]("vec_id")
      val expect = rows(k.toInt - 1)._2(1).toDouble - mean2
      assert(math.abs(r.getAs[Double]("coord") - expect) < 1e-3,
        s"vec $k coord ${r.getAs[Double]("coord")} vs $expect")
      assert(math.abs(r.getAs[Double]("resid2")) < 1e-3,
        s"vec $k resid2 ${r.getAs[Double]("resid2")}")
    }
  }

  test("mipsTopK ranks by raw inner product, not cosine") {
    // v2 points the same direction as the query but at twice the norm of
    // v1; cosine ties them (same angle) while MIPS must put v2 first.
    // v3 is nearly orthogonal. Rank order pins the metric.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // query
      (1L, Array(0.5f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.1f, 2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mipsTopK(df).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rk"))
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(2L, 1L, 3L))
    assert(out(0).getAs[Double]("ip") == 1.0)
    assert(out(1).getAs[Double]("ip") == 0.5)
  }

  test("MIPS augmentation: equal augmented norms, inner products preserved") {
    // the Bachrach-transform invariant the LSH route relies on:
    // ‖P(x)‖² = ‖x‖² + (M²−‖x‖²) = M² for every candidate, and
    // Q(q)·P(x) = q·x exactly (the appended query coordinate is 0)
    val rows = (0L to 19L).map { k =>
      (k, Array.tabulate(4)(i => ((k * 7 + i * 3) % 11).toFloat / 5.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    def n2(v: Array[Float]) = v.map(x => x.toDouble * x).sum
    val m2 = rows.map(r => n2(r._2)).max
    rows.foreach { case (_, v) =>
      val aug = math.sqrt(math.max(m2 - n2(v), 0.0))
      assert(math.abs((n2(v) + aug * aug) - m2) < 1e-9)
    }
    // exact MIPS and the LSH route agree wherever the LSH route returns a
    // pair (bucketing only ever DROPS candidates, never rescores them)
    val exact = Similarity.mipsTopK(df).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
        -> r.getAs[Double]("ip")).toMap
    val lsh = Similarity.mipsLsh(df).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      exact.get(key).foreach(ip => assert(ip == r.getAs[Double]("ip")))
    }
    val rec = Similarity.recallAtK(
      Similarity.mipsTopK(df).filter(col("rk") <= Similarity.MipsTopK),
      Similarity.mipsLsh(df)).collect()
    rec.foreach { r =>
      val v = r.getAs[Double]("recall")
      assert(v >= 0.0 && v <= 1.0)
    }
  }
}
