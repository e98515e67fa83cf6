package graft

import org.apache.spark.sql.functions._

/** Round-9 additions: the guarded multi-level Louvain loop and the
  * suite-wide positive-epoch day-bucket guard.
  */
class Round9Spec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  // The suite's day-bucket idiom (`unix_micros(ts) div 86400000000`)
  // truncates toward zero in Spark but floors in DuckDB — identical ONLY
  // for non-negative epoch micros. This pins the assumption the oracles
  // rely on (see qSeasonal's POSITIVE-EPOCH ASSUMPTION note).
  test("events fixtures carry only post-epoch timestamps") {
    // every fixture dir the oracle suite runs (the driver verifies at
    // sf0.01; sf0.1 is the bench fixture) — the note at qSeasonal claims
    // the invariant suite-wide, so pin it suite-wide
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
        if new java.io.File(d).isDirectory) {
      val minMicros = Tables.events(spark, d)
        .filter(col("ts").isNotNull)
        .agg(min(expr("unix_micros(ts)")).as("m"))
        .collect().head.getAs[Long]("m")
      assert(minMicros >= 0L,
        s"pre-epoch timestamp in events fixture $d (min micros " +
          s"$minMicros): the div-vs-floor day-bucket idiom diverges " +
          "across engines")
    }
  }

  // Same two bridged K2,2 bicliques as the Round8Spec coarse toy. Phase 1
  // settles side-pure: A={c1,c2} (label 1), B={c3,c4} (3), S1={s1,s2}
  // (SuppBase+1), S2={s3,s4} (SuppBase+4 — s3 moved to s4's singleton in
  // round 1's lockstep), within = 0, m2 = 18, Q0 = −(5²+4²+4²+5²)/324 =
  // −82/324. The SYMMETRIC coarse round swaps the mutual-best pairs
  // (Round8Spec pins that artifact); the level loop's symmetry-broken
  // round instead merges each supplier community into its cust partner
  // (only cd < cs moves are legal, so S1→A and S2→B while A, B hold
  // still): within 16 of 18, Σtot² = 9²+9², Q1 = 16/18 − 162/324 = 7/18.
  // Level 2 re-derives candidates on the merged pair graph and rejects
  // (gain ≤ 0) — converged, rows identical to level 1.
  test("louvain levels: hand-run accept path on two bridged bicliques") {
    import spark.implicits._
    import graft.operators.Graph
    val orders = Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 3L), (30L, 4L), (40L, 3L), (40L, 4L)
    ).toDF("l_orderkey", "l_suppkey")
    val got = Graph.louvainLevelsCached(orders, lineitem)
      .collect()
      .map(r => (r.getAs[Int]("level"), r.getAs[Long]("n_comms"),
        r.getAs[Long]("within"), r.getAs[Double]("q"),
        r.getAs[Double]("gain")))
    val q0 = 0.0 / 18.0 - 82.0 / (18.0 * 18.0)
    val q1 = 16.0 / 18.0 - 162.0 / (18.0 * 18.0)
    val stall = (3 to graft.operators.Graph.LouvainLevelCount)
      .map(l => (l, 2L, 16L, q1, 0.0))
    assert(got.toSeq == Seq(
      (0, 4L, 0L, q0, 0.0),
      (1, 2L, 16L, q1, q1 - q0),
      (2, 2L, 16L, q1, 0.0)) ++ stall)
  }

  // The monotone-Q contract on the fixture: Q never decreases across
  // levels (the guard's whole point), community counts never increase,
  // and the loop does REAL work at sf0.001 (3 → 2 → 1 communities with
  // two accepted contractions — a graph with no community structure
  // tops out at the single-community Q = 0).
  test("louvain levels: monotone Q and genuine merges on the fixture") {
    val rows = SparkEntry.queries("graph_louvain_levels")(spark, dir)
      .collect()
    assert(rows.map(_.getAs[Int]("level")).toSeq ==
      (0 to graft.operators.Graph.LouvainLevelCount))
    val qs = rows.map(_.getAs[Double]("q")).toSeq
    assert(qs.sliding(2).forall { case Seq(a, b) => b >= a },
      s"Q sequence not monotone: $qs")
    val ns = rows.map(_.getAs[Long]("n_comms")).toSeq
    assert(ns.sliding(2).forall { case Seq(a, b) => b <= a },
      s"community counts increased: $ns")
    assert(ns.last < ns.head, "expected at least one accepted contraction")
    val gains = rows.map(_.getAs[Double]("gain")).toSeq
    assert(gains.head == 0.0 && gains.tail.forall(_ >= 0.0))
    // rejected level ⇒ identical partition stats (idempotent stall)
    rows.sliding(2).foreach { case Array(a, b) =>
      if (b.getAs[Double]("gain") == 0.0)
        assert(b.getAs[Long]("n_comms") == a.getAs[Long]("n_comms") &&
          b.getAs[Long]("within") == a.getAs[Long]("within"))
      case _ =>
    }
  }

  // Weighted Katz at iters=1 has a closed form — x(C) = 1 + α·(weighted
  // in-degree of C) — pinned against an independent recompute straight
  // off the weight memo (the same discipline as graph_katz's iters=1
  // pin, one level up).
  test("weighted katz: iters=1 closed form off the weight memo") {
    import graft.operators.Graph
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val got = Graph.louvainWKatzCached(orders, lineitem, iters = 1)
      .collect()
      .map(r => r.getAs[Long]("community") -> r.getAs[Double]("wkatz"))
      .toMap
    val inW = Graph.louvainWeightsCached(orders, lineitem)
      .groupBy(col("cd")).agg(sum(col("w")).as("iw"))
      .collect()
      .map(r => r.getAs[Long]("cd") -> r.getAs[Long]("iw")).toMap
    assert(got.nonEmpty)
    got.foreach { case (c, x) =>
      val expect = 1.0 + Graph.KatzAlpha * inW.getOrElse(c, 0L).toDouble
      assert(math.abs(x - expect) < 1e-9,
        s"community $c: wkatz $x vs closed form $expect")
    }
  }

  // The streamed decontamination state must land exactly where the
  // one-shot screen lands: every reported contaminated doc is a TRAIN
  // doc, its worst neighbor is an EVAL doc, and because each train
  // doc's verdict depends only on its own text and the static eval
  // index, the batched result equals a single deconBatch over the whole
  // train split (order/batching independence — the oracle argument).
  test("stream decon: split membership and one-shot equivalence") {
    import graft.operators.{Dedup, Iterate, TrainingData}
    val rows = SparkEntry.queries("stream_decon_state")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val m = TrainingData.EvalMod
    rows.foreach { r =>
      assert(r.getAs[Long]("train_id") % m != 0)
      assert(r.getAs[Long]("best_eval") % m == 0)
      assert(r.getAs[Long]("n_eval_hits") >= 1)
      val j = r.getAs[Double]("best_jaccard")
      assert(j > 0 && j <= 1)
    }
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % m === 0)
    val oneShot = graft.streaming.Streams.deconBatch(
        docs.filter(col("doc_id") % m =!= 0),
        Iterate.pin(Dedup.minhashBands(eval)), Dedup.shingleSets(eval))
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("jac").as("j"),
          (lit(0L) - col("eval_id")).as("ni"))).as("b"))
      .select(col("train_id"), col("n_eval_hits"),
        (lit(0L) - col("b.ni")).as("best_eval"),
        col("b.j").as("best_jaccard"))
      .orderBy(col("train_id"))
      .collect()
    assert(rows.map(_.toSeq).toSeq == oneShot.map(_.toSeq).toSeq)
  }

  // The guard's core invariant, checked against a driver-side recompute
  // on seeded RANDOM weighted community graphs (symmetric weights,
  // self-loops, degrees = row sums — the shape every contraction
  // produces): the ACCEPTED map of one level step never decreases
  // Newman Q. The fixtures exercise two specific graphs; this drives
  // the join/coalesce logic (diagonal handling, empty-within sums,
  // merge bookkeeping) across 20 adversarial ones.
  test("level step: accepted map never decreases Q on random graphs") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val n = 2 + rnd.nextInt(6) // communities
      val labs = (1 to n).map(_ * 7L)
      // symmetric weights incl. random self-loops, some zero pairs
      val pairs = for {
        i <- labs.indices; j <- i until n
        w = rnd.nextInt(5).toLong if w > 0 || i == j
      } yield (labs(i), labs(j), if (i == j) w + rnd.nextInt(3) else w)
      val wRows = pairs.flatMap { case (a, b, w) =>
        if (a == b) Seq((a, b, 2 * w)) // self-loop = both directions
        else Seq((a, b, w), (b, a, w))
      }.filter(_._3 > 0)
      if (wRows.nonEmpty) {
        val wDf = wRows.toDF("cs", "cd", "w")
        val kMap = wRows.groupBy(_._1).view
          .mapValues(_.map(_._3).sum).toMap
        val kDf = kMap.toSeq.toDF("lab", "k")
        val m2v = wRows.map(_._3).sum
        val m2Df = Seq(m2v).toDF("m2")
        val step = Graph.louvainLevelStep(wDf, kDf, m2Df)
          .collect().map(r =>
            r.getAs[Long]("lab") -> r.getAs[Long]("nxt")).toMap
        def q(lab: Long => Long): Double = {
          val within = wRows.filter(r => lab(r._1) == lab(r._2))
            .map(_._3).sum.toDouble
          val st = kMap.groupBy(kv => lab(kv._1)).values
            .map(_.values.sum.toDouble)
          within / m2v - st.map(s => s * s).sum / (m2v.toDouble * m2v)
        }
        val qBefore = q(identity)
        val qAfter = q(step)
        assert(qAfter >= qBefore - 1e-12,
          s"trial $trial: Q dropped $qBefore -> $qAfter (step $step, " +
            s"w $wRows)")
        // moves only toward smaller labels, never to a foreign label
        step.foreach { case (lab, nxt) =>
          assert(nxt <= lab && (nxt == lab || kMap.contains(nxt)))
        }
      }
    }
  }

  // The level map memo is |C0|-sized and consistent with the levels
  // readout: one row per fine community, l2 refines l1's grouping.
  test("louvain levels: level map shape and refinement") {
    import graft.operators.Graph
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val maps = Graph.louvainLevelMapsCached(orders, lineitem)
      .collect()
    val fine = Graph.louvainAssignCached(orders, lineitem)
      .select(col("c")).distinct().count()
    assert(maps.length == fine)
    // l2 is a function of l1 (levels contract, never split)
    val byL1 = maps.groupBy(_.getAs[Long]("l1"))
      .view.mapValues(_.map(_.getAs[Long]("l2")).distinct).toMap
    assert(byL1.values.forall(_.length == 1),
      "a level-1 community mapped to more than one level-2 label")
  }
}
