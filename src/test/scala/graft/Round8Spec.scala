package graft

import org.apache.spark.sql.functions._

/** Round-8 additions: Louvain phase-2 contraction, fused local-moving
  * rounds, and the src-partitioned directed-edge memo.
  */
class Round8Spec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  // Same two bridged K2,2 bicliques as the phase-1 toy. Phase 1 ends at
  // four side-pure pairs A={c1,c2}, B={c3,c4}, S1={s1,s2}, S2={s3,s4}.
  // Hand-run of the weighted coarse round (m2 = 18, k_A = 5, k_B = 4,
  // k_S1 = 4, k_S2 = 5; directed weights w(A,S1) = 4, w(A,S2) = 1,
  // w(B,S2) = 4):
  //   dq(A→S1) = 8/18 − 2·5·4/324 ≈ 0.321 > 0   (beats A→S2 < 0)
  //   dq(S1→A) = 8/18 − 2·4·5/324 ≈ 0.321 > 0
  //   dq(B→S2) = dq(S2→B) ≈ 0.321 > 0
  // Both pairs pick each other simultaneously → the documented
  // synchronized label SWAP: partition structure unchanged, each coarse
  // community still one fine community, canonical labels stable.
  test("louvain coarse: hand-run weighted round on two bridged bicliques") {
    import spark.implicits._
    import graft.operators.Graph
    val orders = Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 3L), (30L, 4L), (40L, 3L), (40L, 4L)
    ).toDF("l_orderkey", "l_suppkey")
    val got = Graph.louvainCoarseCached(orders, lineitem)
      .collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("n_comms"),
        r.getAs[Long]("n_nodes"), r.getAs[Long]("min_node"),
        r.getAs[Long]("max_node")))
    val B = Graph.SuppBase
    assert(got.toSeq == Seq(
      (1L, 1L, 2L, 1L, 2L), (3L, 1L, 2L, 3L, 4L),
      (B + 1, 1L, 2L, B + 1, B + 2), (B + 3, 1L, 2L, B + 3, B + 4)))
  }

  // On the sf0.001 fixture the coarse round performs REAL merges (the
  // oracle gate proves the values; this pins the structural contract):
  // strictly fewer coarse communities than fine ones, node total
  // conserved, and every coarse community covers >= 1 fine community.
  test("louvain coarse: contraction merges communities on the fixture") {
    import graft.operators.Graph
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val fine = Graph.louvainCached(orders, lineitem).collect()
    val coarse = Graph.louvainCoarseCached(orders, lineitem).collect()
    assert(coarse.nonEmpty && coarse.length <= fine.length)
    val fineNodes = fine.map(_.getAs[Long]("size")).sum
    val coarseNodes = coarse.map(_.getAs[Long]("n_nodes")).sum
    assert(coarseNodes == fineNodes)
    assert(coarse.map(_.getAs[Long]("n_comms")).sum >= fine.length)
    assert(coarse.exists(_.getAs[Long]("n_comms") > 1),
      "expected at least one genuine merge on the fixture")
  }

  // LPA labels spread only along edges, so every community is contained
  // in one connected component: same-community pairs are a subset of
  // same-component pairs (pairs_both == pairs_lpa exactly), and a
  // driver-side recompute of the Rand/Jaccard indices from the two
  // partition queries must match the fused query bit-for-bit.
  test("lpa agreement: refinement identity and brute-force recompute") {
    val row = SparkEntry.queries("dedup_lpa_agreement")(spark, dir)
      .collect().head
    val a = row.getAs[Long]("pairs_both")
    val r = row.getAs[Long]("pairs_comp")
    val c = row.getAs[Long]("pairs_lpa")
    assert(a == c && a <= r)
    val rand = row.getAs[Double]("rand_index")
    val jac = row.getAs[Double]("jaccard_index")
    assert(rand >= 0 && rand <= 1 && jac >= 0 && jac <= 1)
    val comp = SparkEntry.queries("dedup_components")(spark, dir)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        x.getAs[Long]("component")).toMap
    val lpa = SparkEntry.queries("dedup_communities")(spark, dir)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        x.getAs[Long]("community")).toMap
    val ids = comp.keys.toArray.sorted
    var ba = 0L; var br = 0L; var bc = 0L
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (x, y) = (ids(i), ids(j))
      val sc = comp(x) == comp(y)
      val sl = lpa(x) == lpa(y)
      if (sc) br += 1
      if (sl) bc += 1
      if (sc && sl) ba += 1
    }
    assert(row.getAs[Long]("n_docs") == ids.length)
    assert((a, r, c) == ((ba, br, bc)))
    val tot = ids.length.toLong * (ids.length - 1) / 2
    assert(rand == (tot + 2 * ba - br - bc).toDouble / tot.toDouble)
    assert(jac == ba.toDouble / (br + bc - ba).toDouble)
  }

  // The segment readout labels exactly the top-LouvTopComms communities
  // of the flat summary, with dense per-community segment ranks ordered
  // by count.
  test("louvain segments: labels the summary's largest communities") {
    import graft.operators.Graph
    val segs = SparkEntry.queries("graph_louvain_segments")(spark, dir)
      .collect()
    val fine = SparkEntry.queries("graph_louvain")(spark, dir).collect()
    val expectLabels = fine
      .sortBy(r => (-r.getAs[Long]("size"), r.getAs[Long]("label")))
      .take(Graph.LouvTopComms).map(_.getAs[Long]("label")).toSet
    assert(segs.map(_.getAs[Long]("label")).toSet.subsetOf(expectLabels))
    segs.groupBy(_.getAs[Long]("label")).foreach { case (_, g) =>
      val byRk = g.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).sameElements(1 to g.length))
      assert(g.length <= Graph.LouvTopSegs)
      val counts = byRk.map(_.getAs[Long]("n_cust"))
      assert(counts.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  // Additive decomposition invariants: interior days are consecutive and
  // exactly span−6 of the observed span, the identity y = trend +
  // seasonal + resid holds to float tolerance (resid is defined as the
  // difference), seasonal is constant per day-of-week, and trend equals
  // a brute-force centered 7-day mean over the zero-filled spine.
  test("seasonal decomposition: span, identity, per-dow constancy") {
    val rows = SparkEntry.queries("events_seasonal")(spark, dir).collect()
    assert(rows.nonEmpty)
    val days = rows.map(_.getAs[Long]("day_num")).sorted
    assert(days.zip(days.tail).forall(p => p._2 == p._1 + 1))
    val observed = Tables.events(spark, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(min(col("d")), max(col("d"))).collect().head
    val span = observed.getLong(1) - observed.getLong(0) + 1
    assert(days.length == span - 6)
    assert(days.head == observed.getLong(0) + 3)
    rows.foreach { r =>
      val y = r.getAs[Long]("y").toDouble
      val sum = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("resid")
      assert(math.abs(y - sum) < 1e-9)
    }
    rows.groupBy(_.getAs[Long]("day_num") % 7).foreach { case (_, g) =>
      assert(g.map(_.getAs[Double]("seasonal")).distinct.length == 1)
    }
    // brute-force trend recount over the zero-filled daily counts
    val daily = Tables.events(spark, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val d = r.getAs[Long]("day_num")
      val s7 = (d - 3 to d + 3).map(daily.getOrElse(_, 0L)).sum
      assert(r.getAs[Double]("trend") == s7.toDouble / 7.0)
    }
  }

  // EWMA forecast: brute-force recompute of the binary-weighted dot
  // product over the zero-filled spine, exact equality (the weights are
  // powers of two, so no tolerance is needed anywhere).
  test("ewma: binary-weight recompute matches exactly") {
    val rows = SparkEntry.queries("events_ewma")(spark, dir).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val d = r.getAs[Long]("day_num")
      val num = (1 to 14)
        .map(i => (1L << (14 - i)) * daily.getOrElse(d - i, 0L)).sum
      val ewma = num.toDouble / 16383.0
      assert(r.getAs[Double]("ewma") == ewma)
      assert(r.getAs[Double]("deviation") ==
        r.getAs[Long]("y").toDouble - ewma)
    }
  }

  // decon_minhash: split-side contracts, and exact-Jaccard agreement
  // with dedup_jaccard wherever both candidate generators surfaced the
  // same pair (both verify in the same shingle space).
  test("minhash decon: split contracts and cross-query jaccard agreement") {
    import graft.operators.TrainingData
    val rows = SparkEntry.queries("decon_minhash")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("train_id") % TrainingData.EvalMod != 0)
      assert(r.getAs[Long]("best_eval") % TrainingData.EvalMod == 0)
      val j = r.getAs[Double]("best_jaccard")
      assert(j > 0 && j <= 1)
      assert(r.getAs[Long]("n_eval_hits") >= 1)
    }
    val jacPairs = SparkEntry.queries("dedup_jaccard")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        -> r.getAs[Double]("jaccard")).toMap
    rows.foreach { r =>
      val t = r.getAs[Long]("train_id"); val e = r.getAs[Long]("best_eval")
      val key = (math.min(t, e), math.max(t, e))
      jacPairs.get(key).foreach { j =>
        assert(j == r.getAs[Double]("best_jaccard"),
          s"jaccard mismatch for $key")
      }
    }
  }

  // Weighted PageRank over the super-graph: dense ranks ordered by rank,
  // strictly positive mass, and (the fixture has fewer communities than
  // the top-k cut, so the output is the full state) total mass 1 within
  // the decimal-detour rounding.
  test("weighted pagerank: ordering, positivity, mass conservation") {
    val rows = SparkEntry.queries("graph_wpagerank")(spark, dir).collect()
    assert(rows.nonEmpty)
    val rks = rows.map(_.getAs[Int]("rk")).sorted
    assert(rks.sameElements(1 to rows.length))
    val ranked = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("rank"))
    assert(ranked.forall(_ > 0))
    assert(ranked.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    val nComms = SparkEntry.queries("graph_louvain")(spark, dir).count()
    if (nComms <= 20) assert(math.abs(ranked.sum - 1.0) < 1e-9)
  }

  // Modularity-gain audit invariants: gain is exactly q_coarse − q_fine,
  // both Qs are in the Newman bound (−1, 1], and the directed within
  // counts are even (each undirected edge appears in both directions).
  test("louvain gain: identity, bounds, and directed-count parity") {
    val r = SparkEntry.queries("graph_louvain_gain")(spark, dir)
      .collect().head
    val qf = r.getAs[Double]("q_fine"); val qc = r.getAs[Double]("q_coarse")
    assert(r.getAs[Double]("gain") == qc - qf)
    assert(qf > -1 && qf <= 1 && qc > -1 && qc <= 1)
    assert(r.getAs[Long]("within_fine") % 2 == 0)
    assert(r.getAs[Long]("within_coarse") % 2 == 0)
    assert(r.getAs[Long]("n_dir_edges") % 2 == 0)
  }

  // The NSW tier ladder is a function of |V|: the fixture sizes keep the
  // historical (16, 64) two-level entry that the static SQL oracles
  // unroll, and a deeper corpus stacks more tiers while the top tier
  // stays under the exhaustive-scan cap.
  test("NSW ladder stacks a third tier for a larger corpus") {
    import graft.operators.Similarity
    assert(Similarity.nswTierMods(500) == Seq(16, 64))
    assert(Similarity.nswTierMods(2000) == Seq(16, 64))
    assert(Similarity.nswTierMods(4096) == Seq(16, 64, 256))
    assert(Similarity.nswTierMods(100000) == Seq(16, 64, 256, 1024, 4096))
    // every ladder's top tier is scannable and its depth is logarithmic
    for (n <- Seq(100L, 10000L, 1000000L)) {
      val mods = Similarity.nswTierMods(n)
      assert(n / mods.last <= Similarity.NswTierScanMax)
      assert(mods.length <= 2 + (math.log(n.toDouble) /
        math.log(Similarity.NswTierFanout.toDouble)).toInt)
    }
  }

  // End-to-end on a 4096-vector synthetic corpus: the walk derives a
  // THREE-tier ladder (pinned above), descends through two pivot
  // graphs, and still returns a full ranked top-k per query. The
  // registry's ladder memo (nswModsCached) admits only the fixture
  // ladder its SQL oracles unroll, so the walk is composed here from
  // the uncached builders its memos wrap.
  test("NSW walk descends a three-tier ladder end-to-end") {
    import graft.operators.Similarity
    val emb = spark.range(4096).selectExpr(
      "id AS vec_id",
      "transform(sequence(1, 8), j -> cast(sin(id * j + j) as float)) " +
        "AS embedding")
    val mods = Similarity.nswTierMods(emb.count())
    assert(mods.length == 3)
    val (q, corpus) = Similarity.nswQCorpus(emb)
    val sym = Similarity.symmetrized(Similarity.knnEdges(emb),
      Similarity.knnEdgesWith(emb, Similarity.lshBucket2(col("embedding"))))
    val descent = mods.init.reverse.map(Similarity.pivotSymAt(emb, _))
    val entry = Similarity.nswEntry(
      Similarity.nswEntryScored(q, corpus, mods.last), descent, q, corpus,
      Seq(Similarity.NswBeam))
    val rows = Similarity.nswFinal(q, corpus,
      Similarity.nswVisited(sym, q, corpus, entry).drop("beam")).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == (0L until Similarity.NQueries).toSet)
    byQ.values.foreach { g =>
      val rks = g.map(_.getAs[Int]("rk")).sorted
      assert(rks.sameElements(1 to rks.length) &&
        rks.length == Similarity.AnnTopK)
      // ranked by true cosine, descending
      val cs = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos_sim"))
      assert(cs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  // The shared directed-edge memo relies on an eager persist keeping its
  // repartition's outputPartitioning in the planner: a src-partitioned
  // cached frame joined on src must NOT be re-exchanged — only the probe
  // side shuffles. (Shuffle join forced: broadcast would hide the
  // exchange; structural count so the memo-internal build exchange,
  // hidden behind InMemoryTableScan, is not miscounted.)
  test("persisted repartition rides its partitioning into round joins") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = (1L to 100L).map(i => (i, i % 7)).toDF("src", "dst")
        .repartition(col("src")).persist()
      edges.count()
      val joined = edges.join(
        (1L to 100L).map(i => (i, i % 3)).toDF("src", "c"), Seq("src"))
      assert(joined.count() == 100)
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = finalPlan.collect {
        case s: ShuffleQueryStageExec => s
        case e: SparkPlan with ShuffleExchangeLike => e
      }
      assert(shuffles.length == 1,
        s"expected only the probe side to shuffle:\n$finalPlan")
      edges.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
