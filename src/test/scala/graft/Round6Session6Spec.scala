package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Session-6 round-6 additions: semantic invariants beyond the oracle
  * hash gate — identities each operator must satisfy on ANY input,
  * checked on the sf0.001 fixture.
  */
class Round6Session6Spec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("sdc: full top-k per query, ascending code-space distance, no self") {
    val rows = q("sim_sdc_topk").collect()
    assert(rows.length == Similarity.NQueries * Similarity.AnnTopK)
    rows.foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("cand_id"))
      assert(r.getAs[Double]("sdc") >= 0.0) // sum of squared L2 terms
    }
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, g) =>
      val byRk = g.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq ==
        (1 to Similarity.AnnTopK))
      val d = byRk.map(_.getAs[Double]("sdc"))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
    }
  }

  test("sdc: identical codes score distance zero (rank-1 code twin)") {
    // a candidate sharing the query's full code vector has SDC distance
    // exactly 0 — the quantization-collision property that distinguishes
    // SDC (code vs code) from ADC (exact query vs code): every rank above
    // a zero-distance row must itself be zero-distance
    val rows = q("sim_sdc_topk").collect()
    rows.filter(_.getAs[Double]("sdc") == 0.0).foreach { r =>
      val better = rows.filter(x =>
        x.getAs[Long]("query_id") == r.getAs[Long]("query_id") &&
          x.getAs[Int]("rk") < r.getAs[Int]("rk"))
      assert(better.forall(_.getAs[Double]("sdc") == 0.0))
    }
  }

  test("nsw: full top-k per query, descending cosine, no self") {
    val rows = q("sim_nsw_walk").collect()
    assert(rows.length == Similarity.NQueries * Similarity.AnnTopK)
    rows.foreach(r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("cand_id")))
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, g) =>
      val byRk = g.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq ==
        (1 to Similarity.AnnTopK))
      val c = byRk.map(_.getAs[Double]("cos_sim"))
      assert(c.zip(c.tail).forall { case (a, b) => a >= b })
    }
  }

  test("nsw: walk graph crosses first-hash bucket boundaries (navigable)") {
    // the single-hash kNN graph is a disjoint union per LSH bucket, under
    // which the walk measured recall 0.0 — the second-hash edge set MUST
    // contribute cross-bucket links or the fix has silently regressed
    val emb = Tables.embeddings(spark, dir)
    val buckets = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding")).as("b1"))
    val e2 = Similarity.knnEdges2Cached(emb)
    val cross = e2.join(buckets.withColumnRenamed("vec_id", "src")
        .withColumnRenamed("b1", "sb"), Seq("src"))
      .join(buckets.withColumnRenamed("vec_id", "dst")
        .withColumnRenamed("b1", "db"), Seq("dst"))
      .filter(col("sb") =!= col("db")).count()
    assert(cross > 0, "second-hash edges never cross a first-hash bucket")
  }

  test("bloom skip: no false negatives, and the filter actually skips") {
    val rows = q("layout_bloom_skip").collect()
    assert(rows.length == graft.operators.Layout.BloomSkipProbes)
    rows.foreach { r =>
      val total = r.getAs[Long]("files_total")
      val maybe = r.getAs[Long]("files_maybe")
      val actual = r.getAs[Long]("files_actual")
      // a Bloom filter can only over-approximate membership
      assert(actual <= maybe, s"false negative at ${r.get(0)}")
      assert(maybe <= total)
    }
    // the audit is pointless if nothing is ever skipped
    assert(rows.exists(r =>
      r.getAs[Long]("files_maybe") < r.getAs[Long]("files_total")))
  }

  test("closeness: level-1 count is the seed's degree, harmonic coherent") {
    val rows = q("graph_closeness").collect()
    assert(rows.nonEmpty)
    val deg = graft.operators.Graph.coPartDegreesCached(
        Tables.lineitem(spark, dir))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("deg")).toMap
    rows.foreach { r =>
      val seed = r.getAs[Long]("seed")
      val n1 = r.getAs[Long]("n1")
      val n2 = r.getAs[Long]("n2")
      val n3 = r.getAs[Long]("n3")
      // distance-1 set IS the seed's neighborhood
      assert(n1 == deg(seed), s"seed $seed: n1=$n1 deg=${deg(seed)}")
      val h = r.getAs[Double]("harmonic")
      assert(math.abs(h - (n1 + n2 / 2.0 + n3 / 3.0)) < 1e-9)
      assert(n1 + n2 + n3 <= deg.size - 1) // can't reach more than V-1
    }
  }

  test("t-closeness: bounded TVD, coherent with the l-diversity classes") {
    val r = q("events_tcloseness").collect().head
    val maxT = r.getAs[Double]("max_t")
    assert(maxT >= 0.0 && maxT <= 1.0)
    assert(r.getAs[Long]("classes_above") <= r.getAs[Long]("n_classes"))
    assert(r.getAs[Long]("rows_above") <= r.getAs[Long]("n_rows"))
    // same quasi-identifier build as events_ldiversity → same class count
    val ld = q("events_ldiversity").collect().head
    assert(r.getAs[Long]("n_classes") == ld.getAs[Long]("n_classes"))
  }

  test("maxmin init: distinct centers, monotone non-increasing radii") {
    val rows = q("sim_maxmin_init").collect().sortBy(_.getAs[Int]("round"))
    assert(rows.length == Similarity.NCentroids)
    assert(rows.map(_.getAs[Long]("center_id")).distinct.length ==
      rows.length)
    assert(rows.head.isNullAt(rows.head.fieldIndex("maxmin_d2")))
    val radii = rows.tail.map(_.getAs[Double]("maxmin_d2"))
    assert(radii.forall(_ >= 0.0))
    // each round removes the farthest point, so the k-center radius can
    // only shrink (Gonzalez's monotonicity)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
  }

  test("dispersion: integer-moment identity and count coherence") {
    val rows = q("events_dispersion").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hours")
      val s = r.getAs[Long]("n_events")
      val q2 = r.getAs[Long]("sum_sq")
      assert(h > 0 && s > 0)
      assert(q2 >= s) // sum of c^2 over positive counts >= sum of c
      val d = r.getAs[Double]("dispersion")
      assert(math.abs(d - (h * q2 - s * s).toDouble / (h * s).toDouble)
        < 1e-12)
    }
  }

  test("entropy rate: conditioning never increases entropy") {
    val r = q("events_entropy_rate").collect().head
    val hRate = r.getAs[Double]("h_rate")
    val hMarg = r.getAs[Double]("h_marginal")
    val k = r.getAs[Long]("n_states")
    assert(hRate >= 0.0)
    // H(next | current) <= H(next) <= ln(k), both exact for the
    // empirical plug-in distributions
    assert(hRate <= hMarg + 1e-9)
    assert(hMarg <= math.log(k.toDouble) + 1e-9)
    assert(math.abs(r.getAs[Double]("structure_ratio") - hRate / hMarg)
      < 1e-12)
  }

  test("maxmin cells: buckets are exactly the chosen centers, all used") {
    val cells = q("sim_maxmin_cells").collect()
    val centers = q("sim_maxmin_init").collect()
      .map(_.getAs[Long]("center_id")).toSet
    assert(cells.map(_.getAs[Long]("bucket")).toSet == centers)
    assert(cells.forall(_.getAs[Long]("n_vectors") > 0))
    val shares = cells.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
  }

  test("multiprobe: dominates single-probe LSH query by query") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteTopK(emb)
      .filter(col("rk") <= Similarity.AnnTopK)
    def rec(approx: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Similarity.recallAtK(brute, approx).collect()
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall"))
        .toMap
    val single = rec(Similarity.annTopK(emb))
    val multi = rec(q("sim_lsh_multiprobe"))
    // the probe set is a superset of the single bucket, so per-query
    // recall can only rise (the Lv et al. guarantee this operator exists
    // to buy)
    single.keys.foreach { qid =>
      assert(multi(qid) >= single(qid) - 1e-12,
        s"query $qid: multiprobe ${multi(qid)} < single ${single(qid)}")
    }
    // and on this fixture it genuinely rises in aggregate
    assert(multi.values.sum > single.values.sum)
  }

  test("pq rerank: refine stays inside the ADC shortlist and recovers recall") {
    val emb = Tables.embeddings(spark, dir)
    val shortlist = Similarity.pqTopK(emb, Similarity.PqCandK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val rr = q("sim_pq_rerank").collect()
    assert(rr.length == Similarity.NQueries * Similarity.AnnTopK)
    rr.foreach(r => assert(shortlist(
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))))
    val brute = Similarity.bruteTopK(emb)
      .filter(col("rk") <= Similarity.AnnTopK)
    def mean(approx: org.apache.spark.sql.DataFrame): Double = {
      val v = Similarity.recallAtK(brute, approx).collect()
        .map(_.getAs[Double]("recall"))
      v.sum / v.length
    }
    // exact refine of a 2k shortlist beats the raw code ranking's top-k
    // on this fixture (the +R stage's whole point)
    assert(mean(Similarity.pqRerank(emb)) >=
      mean(Similarity.pqTopK(emb)
        .select(col("query_id"), col("cand_id"))))
  }

  test("as-of outer: total over the left side, agrees with inner per route") {
    import graft.plans.AsOfJoinPhys.asOf
    val l = Tables.events(spark, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    val r = Tables.orders(spark, dir)
      .select((col("o_custkey") % 20).as("k"),
        col("o_orderdate").cast("timestamp").as("rt"), col("o_totalprice"))
      .filter(col("k") < 12)
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_totalprice")).as("v"))
    val nLeft = l.count()
    for ((fwd, near) <- Seq((false, false), (true, false), (false, true))) {
      val outer = asOf(l, r, Seq("k"), "ts", "rt", Seq("v"),
        forward = fwd, nearest = near, outer = true)
      assert(outer.count() == nLeft, s"fwd=$fwd near=$near not total")
      // the matched slice IS the inner route's result, row for row
      val inner = asOf(l, r, Seq("k"), "ts", "rt", Seq("v"),
        forward = fwd, nearest = near)
      assert(outer.filter(col("matched_time").isNotNull)
        .exceptAll(inner).isEmpty &&
        inner.exceptAll(outer.filter(col("matched_time").isNotNull)).isEmpty,
        s"fwd=$fwd near=$near matched slice diverged from inner")
    }
  }

  test("ref integrity: all six edges report, synthesized orphans fire") {
    val rows = q("profile_ref_integrity").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_parents") > 0)
      assert(r.getAs[Long]("n_orphans") <= r.getAs[Long]("n_child"))
    }
    // the pk % 97 thinning must actually orphan someone, or the audit
    // never proves its violating verdict
    assert(rows.exists(_.getAs[Long]("n_orphans") > 0))
  }

  test("word burstiness: rate is bounded below by 1 and df-floored") {
    val rows = q("text_burstiness_words").collect()
    assert(rows.length == graft.operators.TextOps.BurstTopK)
    rows.foreach { r =>
      val tf = r.getAs[Long]("tf"); val df = r.getAs[Long]("df")
      assert(df >= graft.operators.TextOps.BurstDfMin)
      assert(tf >= df) // every containing doc contributes >= 1 occurrence
      assert(r.getAs[Double]("burstiness") >= 1.0)
    }
    val b = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("burstiness"))
    assert(b.zip(b.tail).forall { case (x, y) => x >= y })
  }

  test("nsw sweep: coherent with the walk at its beam, cost grows with beam") {
    val rows = q("sim_nsw_sweep").collect()
    assert(rows.length ==
      Similarity.NswSweepBeams.length * Similarity.NQueries)
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("n_visited") >= r.getAs[Int]("beam").toLong)
    }
    // the sweep point at the walk's own beam IS the walk: per-query
    // recall must equal sim_nsw_recall's
    val atBeam = rows.filter(_.getAs[Int]("beam") == Similarity.NswBeam)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall"))
      .toMap
    q("sim_nsw_recall").collect().foreach { r =>
      assert(atBeam(r.getAs[Long]("query_id")) == r.getAs[Double]("recall"))
    }
    // wider beams touch more vertices in aggregate
    val byBeam = rows.groupBy(_.getAs[Int]("beam"))
      .map { case (b, g) => b -> g.map(_.getAs[Long]("n_visited")).sum }
    val sorted = byBeam.toSeq.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, c) => a <= c })
  }

  test("nsw: beam search actually navigates — positive recall vs brute") {
    // measured 0.52 on this fixture (0.0 before the two structural
    // fixes); the floor guards navigability, not the exact value
    val rec = q("sim_nsw_recall").collect().map(_.getAs[Double]("recall"))
    assert(rec.length == Similarity.NQueries)
    assert(rec.sum / rec.length > 0.2,
      s"mean NSW recall ${rec.sum / rec.length} — walk no longer navigates")
  }
}
