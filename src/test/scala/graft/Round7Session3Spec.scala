package graft

import org.apache.spark.sql.functions._

import graft.operators.{Profile, Similarity, TextOps, TrainingData}

/** Round-7 session-3 additions: mutual information (hand-computed cells),
  * DSIR importance resampling (hand-computed log ratios + selection),
  * PII scan (planted-entity precision/recall + redaction identity), and
  * NDCG@k (bounds and ideal-route invariants on the fixture embeddings).
  */
class Round7Session3Spec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val eps = 1e-9

  // lang×source cells: (en,a)=2, (en,b)=1, (fr,a)=1 → tot=4,
  // n_lang(en)=3, n_lang(fr)=1, n_src(a)=3, n_src(b)=1.
  test("mutualInfo matches hand-computed pmi and mi terms") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "a"), (1L, "en", "a"), (2L, "en", "b"), (3L, "fr", "a")
    ).toDF("doc_id", "lang", "source")
    val got = Profile.mutualInfo(docs).collect()
      .map(r => ((r.getAs[String]("lang"), r.getAs[String]("source")),
        (r.getAs[Long]("n"), r.getAs[Double]("pmi"),
          r.getAs[Double]("mi_term")))).toMap
    assert(got.size == 3)
    val (nEnA, pmiEnA, miEnA) = got(("en", "a"))
    assert(nEnA == 2L)
    assert(math.abs(pmiEnA - math.log(8.0 / 9.0)) < eps)
    assert(math.abs(miEnA - 0.5 * math.log(8.0 / 9.0)) < eps)
    val (_, pmiEnB, miEnB) = got(("en", "b"))
    assert(math.abs(pmiEnB - math.log(4.0 / 3.0)) < eps)
    assert(math.abs(miEnB - 0.25 * math.log(4.0 / 3.0)) < eps)
    val (_, pmiFrA, _) = got(("fr", "a"))
    assert(math.abs(pmiFrA - math.log(4.0 / 3.0)) < eps)
    // total MI of a 2×2-ish table is non-negative
    assert(got.values.map(_._3).sum >= -eps)
  }

  // vocab {a,b,c}: c_t(+1)/(N_t+V) over c_b(+1)/(N_b+V) with N_t=3, N_b=6,
  // V=3 → per-token ratios: a: ln(1.125), b: 0, c: ln(0.75).
  test("dsir matches hand-computed log ratios and selects the top tenth") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a b", TrainingData.DsirTarget),
      (1L, "a b", "srcX"),
      (2L, "c", "srcX")
    ).toDF("doc_id", "text", "source")
    val got = TrainingData.dsir(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("log_ratio"), r.getAs[Long]("rk"),
          r.getAs[Boolean]("selected")))).toMap
    val lnA = math.log(1.125)
    assert(math.abs(got(0L)._1 - 2 * lnA) < eps)
    assert(math.abs(got(1L)._1 - lnA) < eps)
    assert(math.abs(got(2L)._1 - math.log(0.75)) < eps)
    // ceil(3/10)=1 → only the most target-like doc survives resampling
    assert(got(0L)._2 == 1L && got(0L)._3)
    assert(!got(1L)._3 && !got(2L)._3)
  }

  test("piiScan finds exactly the planted entities and redacts to identity") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 3L, 5L, 7L, 15L, 21L, 35L)
    val docs = ids.map(i => (i, "hello world", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.piiScan(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_phone"),
          r.getAs[Long]("n_ip"), r.getAs[String]("redacted_md5")))).toMap
    // doc_id % {3,5,7} == 0 plants email/phone/ip respectively
    assert(got(0L)._1 == 1 && got(0L)._2 == 1 && got(0L)._3 == 1)
    assert(got(1L) == ((0L, 0L, 0L, got(1L)._4)))
    assert(got(3L)._1 == 1 && got(3L)._2 == 0 && got(3L)._3 == 0)
    assert(got(5L) == ((0L, 1L, 0L, got(5L)._4)))
    assert(got(7L) == ((0L, 0L, 1L, got(7L)._4)))
    assert(got(15L) == ((1L, 1L, 0L, got(15L)._4)))
    assert(got(21L) == ((1L, 0L, 1L, got(21L)._4)))
    assert(got(35L) == ((0L, 1L, 1L, got(35L)._4)))
    // no PII → redaction is the identity: md5 of the untouched text
    val clean = docs.filter(col("doc_id") === 1L)
      .select(md5(col("text"))).head.getString(0)
    assert(got(1L)._4 == clean)
    // planted PII never survives redaction
    val redacted = TextOps.piiScan(docs)
    assert(redacted.count() == ids.size)
  }

  test("piiStats rolls the scan up per source") {
    import spark.implicits._
    val docs = Seq(
      (0L, "x", "en", "sa", 1L), (1L, "x", "en", "sa", 1L),
      (3L, "x", "en", "sb", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.piiStats(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("docs_with_pii"),
          r.getAs[Long]("emails"), r.getAs[Long]("phones")))).toMap
    // doc0 plants all three kinds; doc1 none; doc3 email only
    assert(got("sa") == ((2L, 1L, 1L, 1L)))
    assert(got("sb") == ((1L, 1L, 1L, 0L)))
  }

  test("katz iters=1 equals the closed form 1 + alpha*deg, desc order") {
    import graft.operators.Graph
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    // independent deg computation from the public fixture tables
    val e0 = orders.join(lineitem,
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val edges = e0.select(col("cust").as("src"),
        (col("supp") + Graph.SuppBase).as("dst"))
      .unionByName(e0.select((col("supp") + Graph.SuppBase).as("src"),
        col("cust").as("dst")))
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val katz = Graph.katzCached(orders, lineitem, iters = 1).collect()
    assert(katz.length == Graph.PrTopK)
    var prev = Double.MaxValue
    katz.foreach { r =>
      val id = r.getAs[Long]("node_id")
      val x = r.getAs[Double]("katz")
      assert(math.abs(x - (1.0 + Graph.KatzAlpha * deg(id))) < eps)
      assert(x <= prev + eps); prev = x
    }
    // iters=1 top node is the max-degree node (lowest id on ties)
    val maxDeg = deg.values.max
    val expectTop = deg.filter(_._2 == maxDeg).keys.min
    assert(katz.head.getAs[Long]("node_id") == expectTop)
  }

  // Toy bipartite graph: edges (c1,s1), (c2,s1), (c2,s2). Symmetric walk
  // balls: h=1 sizes {2,3,3,2} Σ=10; h=2 sizes {3,4,4,3} Σ=14. With
  // |ball| < k the KMV estimator is EXACT (it counts distinct hashes),
  // so the sums are integers.
  test("anf: exact ball sizes on a toy graph (below-k exact branch)") {
    import spark.implicits._
    import graft.operators.Graph
    val orders = Seq((10L, 1L), (20L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1L), (20L, 1L), (20L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val got = Graph.anfCached(orders, lineitem)
      .collect().map(r => r.getAs[Long]("h") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Double]("sum_est")))).toMap
    assert(got(1L) == ((4L, 10.0)))
    assert(got(2L) == ((4L, 14.0)))
  }

  test("anf on the fixture: n_nodes constant, sum_est monotone in h") {
    import graft.operators.Graph
    val rows = Graph.anfCached(Tables.orders(spark, dir),
      Tables.lineitem(spark, dir)).orderBy(col("h")).collect()
    assert(rows.length == Graph.AnfRounds)
    assert(rows.map(_.getAs[Long]("n_nodes")).distinct.length == 1)
    val sums = rows.map(_.getAs[Double]("sum_est"))
    assert(sums.sliding(2).forall(p => p(0) <= p(1) + eps))
    // every ball contains at least the node itself
    assert(sums.head >= rows.head.getAs[Long]("n_nodes").toDouble - eps)
  }

  // 5×3 BMP, id=7 → w2=2, h2=1. Generator R=2y+1 (x-free): every block R
  // sum = 16·by+8 = 8; G=x+y: block(0,0) = 0+1+1+2 = 4, block(1,0) =
  // 2+3+3+4 = 12; B=idp+x: block(1,0) = 9+10+9+10 = 38 = 4·7+8·2−6.
  // Trailing odd column (x=4) and row (y=2) are cropped.
  test("downsample: hand-computed 2x2 block sums on a tiny real BMP") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Seq(Multimodal.MediaBin(7L,
      Multimodal.bmpPixelBytes(7L, 5, 3))).toDS()
    val r = Multimodal.downsampleStats(media).collect().head
    assert(r.out_w == 2 && r.out_h == 1)
    assert(r.sum_r2 == 16L)           // two blocks × 8
    assert(r.sum_g2 == 4L + 12L)
    assert(r.sum_b2 == (7 + 0) + (7 + 1) + (7 + 2) + (7 + 3)
      + (7 + 0) + (7 + 1) + (7 + 2) + (7 + 3)) // B is y-free
    assert(r.blockpos_r == 0L * 8 + 1L * 8)
    assert(r.corner_b == 38L)
  }

  // Two K2,2 bipartite cliques bridged by one edge (c2—s3). Hand-run of
  // two SYNCHRONIZED local-moving rounds from singletons: round 1 pairs
  // each node with its min-degree neighbor (customers→s-side labels and
  // vice versa); round 2 re-partitions into the four side-pure pairs —
  // the documented synchronized-variant behavior on bipartite graphs
  // (sides never merge in lockstep updates). All four communities have
  // size 2 with min-id labels {c1, c3, s1, s3}.
  test("louvain: hand-run synchronized rounds on two bridged bicliques") {
    import spark.implicits._
    import graft.operators.Graph
    val orders = Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 3L), (30L, 4L), (40L, 3L), (40L, 4L)
    ).toDF("l_orderkey", "l_suppkey")
    val got = Graph.louvainCached(orders, lineitem)
      .collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("size"),
        r.getAs[Long]("min_node"), r.getAs[Long]("max_node")))
    val B = Graph.SuppBase
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 2L), (3L, 2L, 3L, 4L),
      (B + 1, 2L, B + 1, B + 2), (B + 3, 2L, B + 3, B + 4)))
  }

  test("cluster topics: ranked per cluster, factored score recomputes") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val rows = Similarity.clusterTopics(emb, Tables.documents(spark, dir),
      Similarity.ivfCentsCached(emb)).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, dir).count()
    rows.groupBy(_.getAs[Long]("bucket")).foreach { case (_, g) =>
      val rks = g.map(_.getAs[Int]("rk").toLong).sorted
      assert(rks.sameElements(1L to rks.length)) // dense 1..k
      val byRk = g.sortBy(_.getAs[Int]("rk"))
      val scores = byRk.map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      byRk.foreach { r =>
        val expect = (r.getAs[Long]("sum_tf") * (nDocs + 1)).toDouble /
          (r.getAs[Long]("df") + 1).toDouble
        assert(r.getAs[Double]("score") == expect)
      }
    }
  }

  test("events_bootstrap: CI brackets are ordered and cover the full mean") {
    val rows = SparkEntry.queries("events_bootstrap")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, mid, hi) = (r.getAs[Double]("ci_lo"),
        r.getAs[Double]("ci_mid"), r.getAs[Double]("ci_hi"))
      val mean = r.getAs[Double]("mean_full")
      assert(lo <= mid && mid <= hi)
      // Poisson-bootstrap CI of the mean must stay near the point
      // estimate; p05/p95 over 20 replicates brackets it on this fixture
      assert(lo <= mean && mean <= hi,
        s"mean $mean outside [$lo, $hi] for ${r.getAs[String]("event_type")}")
      assert(r.getAs[Long]("n") > 0)
    }
  }

  // source A: 9 tokens, B: 1 token → weights 3/4, 1/4 of budget 2·10=20:
  // target 15 and 5 → epochs 5/3 and 5 (capped at 4, data-constrained).
  test("epochs matches hand-computed repeat accounting") {
    import spark.implicits._
    import graft.operators.TrainingData
    val docs = Seq(
      (0L, "a a a a a a a a a", "A"), (1L, "b", "B")
    ).toDF("doc_id", "text", "source")
    val got = TrainingData.epochs(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = got("A"); val b = got("B")
    assert(a.getAs[Long]("n_tokens") == 9 && b.getAs[Long]("n_tokens") == 1)
    assert(math.abs(a.getAs[Double]("weight") - 0.75) < eps)
    assert(math.abs(a.getAs[Double]("epochs") - 15.0 / 9.0) < eps)
    assert(!a.getAs[Boolean]("data_constrained"))
    assert(math.abs(b.getAs[Double]("epochs") - 5.0) < eps)
    assert(math.abs(b.getAs[Double]("epochs_capped") - 4.0) < eps)
    assert(math.abs(b.getAs[Double]("effective_tokens") - 4.0) < eps)
    assert(b.getAs[Boolean]("data_constrained"))
  }

  test("rolling MAU agrees with a brute-force trailing-window recount") {
    val rows = SparkEntry.queries("events_rolling_mau")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    // independent recount on the driver (fixture is small)
    val ud = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    rows.foreach { r =>
      val day = r.getAs[java.sql.Date]("day").toLocalDate
      val mau = ud.filter { case (_, d) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6)) }
        .map(_._1).distinct.length
      val dau = ud.filter(_._2 == day).map(_._1).distinct.length
      assert(r.getAs[Long]("mau7") == mau, s"mau mismatch on $day")
      assert(r.getAs[Long]("dau") == dau)
      val st = r.getAs[Double]("stickiness")
      assert(st > 0 && st <= 1 + eps)
    }
  }

  test("scd type3 pivots the two newest versions into columns") {
    import spark.implicits._
    import graft.operators.Changelog
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 10L, 1.0),
      (1L, "2024-01-02 00:00:00", 11L, 2.0),
      (1L, "2024-01-03 00:00:00", 12L, 3.0),
      (2L, "2024-01-05 00:00:00", 13L, 9.0)
    ).toDF("user_id", "ts", "event_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Changelog.type3(ev).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val u1 = got(1L)
    assert(u1.getAs[Long]("n_versions") == 3)
    assert(u1.getAs[Double]("current_value") == 3.0)
    assert(u1.getAs[Double]("prev_value") == 2.0)
    val u2 = got(2L)
    assert(u2.getAs[Long]("n_versions") == 1)
    assert(u2.getAs[Double]("current_value") == 9.0)
    assert(u2.isNullAt(u2.fieldIndex("prev_value")))
    assert(u2.isNullAt(u2.fieldIndex("prev_ts")))
  }

  test("locf carries the latest prior daily value, leading days stay null") {
    val rows = SparkEntry.queries("events_locf")(spark, dir).collect()
    assert(rows.nonEmpty)
    // independent brute recount from the fixture
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("user_id") < 20 && col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("ts"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val day = r.getAs[java.sql.Date]("day").toLocalDate
      val upto = ev.filter(e => e._1 == u && !e._2.isAfter(day))
      if (upto.isEmpty) {
        assert(r.isNullAt(r.fieldIndex("locf")), s"expected null locf $u $day")
        assert(!r.getAs[Boolean]("filled"))
      } else {
        val latestDay = upto.map(_._2).maxBy(_.toEpochDay)
        val expect = upto.filter(_._2 == latestDay)
          .maxBy(e => (e._3.getTime, e._4))._5
        assert(r.getAs[Double]("locf") == expect, s"locf mismatch $u $day")
      }
    }
  }

  test("events_psi: smoothed shares sum to 1, every psi term nonnegative") {
    val rows = SparkEntry.queries("events_psi")(spark, dir).collect()
    assert(rows.length == 10) // baseline deciles → 10 buckets
    val sb = rows.map(_.getAs[Double]("share_base")).sum
    val sc = rows.map(_.getAs[Double]("share_cur")).sum
    assert(math.abs(sb - 1.0) < 1e-9 && math.abs(sc - 1.0) < 1e-9)
    // (q−p) and ln(q/p) always share sign, so each addend of PSI is ≥ 0
    rows.foreach(r => assert(r.getAs[Double]("psi_term") >= -eps))
  }

  test("ndcgAtK: bounded in [0,1], dcg <= idcg, both routes cover all queries") {
    val emb = Tables.embeddings(spark, dir)
    val rows = Similarity.ndcgAtK(emb).collect()
    val routes = rows.map(_.getAs[String]("route")).distinct.sorted
    assert(routes.sameElements(Array("ivf", "lsh")))
    val nq = rows.map(_.getAs[Long]("query_id")).distinct.length
    assert(rows.length == 2 * nq)
    rows.foreach { r =>
      val dcg = r.getAs[Double]("dcg")
      val idcg = r.getAs[Double]("idcg")
      val ndcg = r.getAs[Double]("ndcg")
      assert(idcg > 0 && dcg >= 0 && dcg <= idcg + eps)
      assert(ndcg >= 0 && ndcg <= 1 + eps)
      assert(math.abs(ndcg - dcg / idcg) < eps)
    }
    // an exact route scores a perfect 1 — sanity-pin the metric's top end
    val truth = Similarity.bruteTopK(emb)
      .filter(col("rk") <= Similarity.AnnTopK)
    val perfect = Similarity.recallAtK(truth, truth)
      .agg(min(col("recall"))).head.getDouble(0)
    assert(perfect == 1.0)
  }
}
