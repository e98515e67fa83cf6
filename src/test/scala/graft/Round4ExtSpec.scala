package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Changelog, Dedup, TextOps}

/** Round-4 additions: changelog operators (SCD2 intervals, point-in-time,
  * last-touch attribution), the LSH band profile, and bigram-LM document
  * scoring. Semantic properties beyond the oracle hash gate.
  */
class Round4ExtSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def ts(s: String) = Timestamp.valueOf(s)

  private def eventsFrame(
      rows: Seq[(Long, Timestamp, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  // --------------------------------------------------------- lastTouch
  test("lastTouch: latest prior non-conversion wins; window bounds credit") {
    val e = eventsFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:30:00"), 1L, "view", 1.0),
      (3L, ts("2024-01-01 11:00:00"), 1L, "purchase", 9.0),
      // back-to-back purchase: the prior PURCHASE is not a touch — credit
      // still goes to the view at 10:30
      (4L, ts("2024-01-01 11:05:00"), 1L, "purchase", 9.0),
      (5L, ts("2024-01-01 12:00:00"), 1L, "error", 1.0),
      // gap to the last touch (error@12:00) is 36 h > the 24 h window
      (6L, ts("2024-01-03 00:00:00"), 1L, "purchase", 9.0),
      // no prior event at all
      (7L, ts("2024-01-01 09:00:00"), 2L, "purchase", 9.0)))
    val got = Changelog.lastTouch(e, "purchase", 86400000000L)
      .orderBy(col("purchase_id"))
      .select(col("purchase_id"), col("touch_id"), col("attributed"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (3L, 2L, true), (4L, 2L, true), (6L, 5L, false), (7L, -1L, false)))
  }

  // --------------------------------------------------------- intervals
  test("intervals: chain tiles the timeline, exactly one open row per key") {
    val iv = Changelog.intervals(Tables.events(spark, dir))
    val n = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull).count()
    assert(iv.count() == n) // one version row per change, none dropped
    // exactly one open (current) interval per key
    val perKey = iv.groupBy(col("user_id"))
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("open"))
      .filter(col("open") =!= 1L)
    assert(perKey.count() == 0)
    // tiling: every non-open interval's valid_to equals the key's next
    // valid_from (lead over the same ordering)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
    val breaks = iv
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull &&
        col("valid_to") =!= col("next_from"))
    assert(breaks.count() == 0)
  }

  test("asOf equals intervals-then-filter reconstruction") {
    val cutoff = "2024-01-15 00:00:00"
    val viaArgmax = Changelog.asOf(Tables.events(spark, dir),
      lit(cutoff).cast("timestamp"))
      .select(col("user_id"), col("event_id"))
    val viaIntervals = Changelog.intervals(Tables.events(spark, dir))
      .filter(col("valid_from") <= lit(cutoff).cast("timestamp_ntz") &&
        (col("valid_to").isNull ||
          col("valid_to") > lit(cutoff).cast("timestamp_ntz")))
      .select(col("user_id"), col("event_id"))
    assert(viaArgmax.exceptAll(viaIntervals).count() == 0)
    assert(viaIntervals.exceptAll(viaArgmax).count() == 0)
    assert(viaArgmax.count() > 0)
  }

  test("mergeIntervals == from-scratch intervals, incl. batch-only keys") {
    val state0 = eventsFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "a", 2.0),
      (3L, ts("2024-01-01 10:00:00"), 2L, "a", 3.0)))
    val batch = eventsFrame(Seq(
      // key 1: new change lands BETWEEN the two existing versions
      (4L, ts("2024-01-01 10:30:00"), 1L, "a", 4.0),
      // key 3: exists only in the batch
      (5L, ts("2024-01-01 09:00:00"), 3L, "a", 5.0)))
    val merged = Changelog.mergeIntervals(Changelog.intervals(state0), batch)
    val full = Changelog.intervals(state0.unionByName(batch))
    assert(merged.exceptAll(full).count() == 0)
    assert(full.exceptAll(merged).count() == 0)
    // untouched key 2 must not re-enter a window: its row count is 1 and
    // its open interval survives verbatim
    assert(merged.filter(col("user_id") === 2L && col("is_current")).count() == 1)
  }

  test("mergeIntervals == intervals on the fixture split") {
    val ev = Tables.events(spark, dir)
    val merged = Changelog.mergeIntervals(
      Changelog.intervals(ev.filter(col("event_id") % 5 =!= 0)),
      ev.filter(col("event_id") % 5 === 0))
    val full = Changelog.intervals(ev)
    assert(merged.exceptAll(full).count() == 0)
    assert(full.exceptAll(merged).count() == 0)
  }

  // -------------------------------------------------------- multiTouch
  test("multiTouch: in-window touches split one credit unit equally") {
    val e = eventsFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:30:00"), 1L, "view", 1.0),
      (3L, ts("2024-01-01 11:00:00"), 1L, "purchase", 9.0),
      // outside the 24 h window of the later purchase
      (4L, ts("2024-01-05 10:00:00"), 1L, "click", 1.0),
      (5L, ts("2024-01-07 10:00:00"), 1L, "purchase", 9.0),
      // conversion with NO touch in window → contributes nothing
      (6L, ts("2024-01-01 08:00:00"), 2L, "purchase", 9.0)))
    val got = Changelog.multiTouch(e, "purchase", 86400000000L, 86400000000L)
      .orderBy(col("touch_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // purchase e3: touches {click e1, view e2} → 0.5 each; e5/e6: none
    assert(got.toSeq == Seq(("click", 1L, 0.5), ("view", 1L, 0.5)))
  }

  test("multiTouch: credit mass equals the number of attributed conversions") {
    val mt = Changelog.multiTouch(Tables.events(spark, dir), "purchase",
      86400000000L, 86400000000L)
    val totalCredit = mt.agg(sum(col("credit"))).head().getDouble(0)
    // conversions with ≥1 in-window touch each contribute exactly 1.0
    val e = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("conv_ts"))
    val t = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"))
    val attributed = p.join(t, Seq("user_id"))
      .filter(col("ts") < col("conv_ts") &&
        unix_micros(col("conv_ts")) - unix_micros(col("ts")) <= 86400000000L)
      .select(col("conv_id")).distinct().count()
    assert(math.abs(totalCredit - attributed.toDouble) < 1e-3)
  }

  // ---------------------------------------------------- interval overlap
  test("intervalOverlap: equals the naive BETWEEN join, each pair once") {
    import graft.operators.RangeJoin
    // deterministic synthetic intervals, widths from sub-bucket to 5×
    // bucket so multi-bucket replication and the canonical filter are hit
    val bucket = 1000000L // 1 s buckets
    def t(us: Long) = new Timestamp(us / 1000)
    val left = (0 until 40).map { i =>
      val s = (i * 773) % 20000 * 1000L
      (i.toLong, (i % 3).toLong, t(s), t(s + (i % 7) * 900L * 1000))
    }.toDF("l_id", "k", "ls", "le")
    val right = (0 until 30).map { i =>
      val s = (i * 1371) % 20000 * 1000L
      (i.toLong, (i % 3).toLong, t(s), t(s + (i % 5) * 1300L * 1000))
    }.toDF("r_id", "k", "rs", "re")
    val fast = RangeJoin.intervalOverlap(left, right, Seq("k"),
      "ls", "le", "rs", "re", bucket)
      .select(col("l_id"), col("r_id"))
    val naive = left.join(right, Seq("k"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select(col("l_id"), col("r_id"))
    assert(fast.count() == naive.count(), "pair multiplicity differs")
    assert(fast.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(fast).count() == 0)
    assert(naive.count() > 0)
  }

  test("property: intervalOverlap == naive join over random interval sets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.RangeJoin
    val bucket = 1000000L // 1 s buckets
    // epoch-seconds starts in [0, 30], widths in [0, 8] buckets — mixes
    // empty, sub-bucket, multi-bucket, and degenerate (zero-width) spans
    val iv = Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0, 30),
      Gen.chooseNum(0, 8))
    def sample(n: Int, seed: Long) =
      Gen.listOfN(n, iv)(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
    def tsUs(us: Long) = new Timestamp(us / 1000)
    for (seed <- 1L to 5L) {
      val ls = sample(25, seed).zipWithIndex.map { case ((k, s, w), i) =>
        (i.toLong, k, tsUs(s * 1000L * 1000), tsUs((s + w) * 1000L * 1000)) }
      val rs = sample(20, seed + 100).zipWithIndex.map { case ((k, s, w), i) =>
        (i.toLong, k, tsUs(s * 1000L * 1000), tsUs((s + w) * 1000L * 1000)) }
      val left = ls.toDF("l_id", "k", "ls", "le")
      val right = rs.toDF("r_id", "k", "rs", "re")
      val fast = RangeJoin.intervalOverlap(left, right, Seq("k"),
        "ls", "le", "rs", "re", bucket).select(col("l_id"), col("r_id"))
      val naive = left.join(right, Seq("k"))
        .filter(col("ls") <= col("re") && col("rs") <= col("le"))
        .select(col("l_id"), col("r_id"))
      assert(fast.count() == naive.count(), s"seed $seed multiplicity")
      assert(fast.exceptAll(naive).count() == 0, s"seed $seed extra pairs")
      assert(naive.exceptAll(fast).count() == 0, s"seed $seed lost pairs")
    }
  }

  // ---------------------------------------------------- LSH calibration
  test("bandCalibration: totals match the pair set; clones land in bucket 9") {
    val d = Tables.documents(spark, dir)
    val pairs = Dedup.minhashPairs(d)
    val hist = Dedup.bandCalibration(pairs, Dedup.shingleSets(d)).collect()
    assert(hist.map(_.getAs[Long]("n_pairs")).sum == pairs.count())
    hist.foreach { r =>
      val (lo, hi) = (r.getAs[Double]("j_min"), r.getAs[Double]("j_max"))
      assert(lo <= hi && lo >= 0.0 && hi <= 1.0)
      val b = r.getAs[Long]("bucket")
      assert(lo >= b / 10.0 && (b == 9L || hi < (b + 1) / 10.0))
    }
    // an exact clone pair has Jaccard 1.0 → bucket 9
    val text = (1 to 12).map(i => s"cal$i").mkString(" ")
    val clones = Seq((1L, text, "en", "s", 5L), (2L, text, "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ch = Dedup.bandCalibration(Dedup.minhashPairs(clones),
      Dedup.shingleSets(clones)).collect()
    assert(ch.length == 1 && ch.head.getAs[Long]("bucket") == 9L &&
      ch.head.getAs[Double]("j_min") == 1.0)
  }

  // ---------------------------------------------------- label propagation
  test("labelPropagation: communities refine connected components") {
    val d = Tables.documents(spark, dir)
    val pairs = Dedup.minhashPairs(d)
    val lpa = Dedup.labelPropagation(pairs, d)
    val comps = Dedup.connectedComponents(pairs)
    // every LPA community lives inside exactly one component
    val crossings = lpa.join(comps, Seq("doc_id"))
      .groupBy(col("community"))
      .agg(countDistinct(col("component")).as("n_comp"))
      .filter(col("n_comp") > 1)
    assert(crossings.count() == 0)
    // isolated docs keep their own label
    val paired = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val isolated = lpa.join(paired, Seq("doc_id"), "left_anti")
    assert(isolated.filter(col("community") =!= col("doc_id")).count() == 0)
    assert(lpa.count() == d.count()) // total: every doc labeled
  }

  test("labelPropagation: a clique adopts its minimum id in one round") {
    val docs = Seq(10L, 20L, 30L, 99L).map(i => (i, s"d$i", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Seq((10L, 20L), (10L, 30L), (20L, 30L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.labelPropagation(pairs, docs, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // neighbors-argmax with min tiebreak: clique members converge on 10;
    // node 10's neighbors are {20, 30} → it adopts 20 (smaller of the two)
    assert(got(20L) == 10L && got(30L) == 10L)
    assert(got(99L) == 99L) // isolated
  }

  // ----------------------------------------------------- trained PQ
  test("pqKmeans: trained books separate two obvious subspace clusters") {
    import graft.operators.Similarity
    // 16 vectors, two exact clusters per subspace (+1 and -1 constants)
    val emb = (0 until 16).map { i =>
      val v = Array.fill(64)(if (i % 2 == 0) 1.0f else -1.0f)
      (i.toLong, v.toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val codes = Similarity.pqKmeans(emb,
        Similarity.trainSubCodebook(Similarity.subvectors(emb, "id")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codes.length == 16 * 4) // every (vector, subspace) coded once
    // within each subspace: all evens share one code, all odds another,
    // and the two differ — the trained book separates the clusters
    codes.groupBy(_._2).values.foreach { g =>
      val even = g.filter(c => c._1 % 2 == 0).map(_._3).distinct
      val odd = g.filter(c => c._1 % 2 == 1).map(_._3).distinct
      assert(even.length == 1 && odd.length == 1 && even.head != odd.head)
    }
  }

  // ----------------------------------------------------- recall sweep
  test("recall sweep: monotone non-decreasing in nprobe, bounded by 1") {
    val sweep = SparkEntry.queries("sim_recall_sweep")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(sweep.length == 15) // 3 probe levels × 5 queries
    sweep.foreach { case (_, _, rec) => assert(rec >= 0.0 && rec <= 1.0) }
    // more probes can only add candidates → per-query recall is monotone
    val byQuery = sweep.groupBy(_._2)
    byQuery.values.foreach { rows =>
      val ordered = rows.sortBy(_._1).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
    }
  }

  // ------------------------------------------------------- band profile
  test("bandProfile: candidate_pairs equals the expansion the buckets pay") {
    val bands = Dedup.minhashBands(Tables.documents(spark, dir))
    val prof = Dedup.bandProfile(bands)
    // sum over bands of n·(n-1)/2 IS the (pre-distinct) pair-expansion
    // cardinality — the exact cost the profile exists to predict
    val predicted = prof.agg(sum(col("candidate_pairs"))).head().getLong(0)
    assert(predicted == Dedup.bandCollisionPairs(bands).count())
    // every (doc, band) row is accounted for
    val nDocs = prof.agg(sum(col("n_docs"))).head().getLong(0)
    assert(nDocs == bands.count())
  }

  test("bandProfile: exact clones collide in every band") {
    val text = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, text, "en", "s", text.length.toLong),
      (2L, text, "en", "s", text.length.toLong),
      (3L, "completely different words here entirely", "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val prof = Dedup.bandProfile(Dedup.minhashBands(docs)).collect()
    assert(prof.length == Dedup.MinhashK / Dedup.BandSize)
    prof.foreach { r =>
      assert(r.getAs[Long]("max_bucket") >= 2L)       // the clone bucket
      assert(r.getAs[Long]("n_colliding_buckets") >= 1L)
      assert(r.getAs[Long]("candidate_pairs") >= 1L)
    }
  }

  // ----------------------------------------------------- expectations
  test("expectations: each constraint class catches its planted violation") {
    import graft.operators.Profile
    val li = Seq(
      // clean row
      (1L, 1L, 10.0, 0.05, 100.0, "A", Option(ts("2024-01-01 00:00:00"))),
      // range violation (quantity 99) + NULL shipdate
      (2L, 1L, 99.0, 0.05, 100.0, "N", None),
      // duplicate (orderkey, linenumber) pair
      (3L, 1L, 10.0, 0.05, 100.0, "R", Option(ts("2024-01-01 00:00:00"))),
      (3L, 1L, 11.0, 0.05, 100.0, "R", Option(ts("2024-01-01 00:00:00"))),
      // orphan orderkey (not in orders)
      (9L, 1L, 10.0, 0.05, 100.0, "A", Option(ts("2024-01-01 00:00:00"))))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_extendedprice", "l_returnflag", "l_shipdate")
    val orders = Seq(1L, 2L, 3L).toDF("o_orderkey")
    val got = Profile.expectations(li, orders).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(got("quantity_in_1_50") == ((1L, false)))
    assert(got("shipdate_not_null") == ((1L, false)))
    assert(got("orderkey_linenumber_unique") == ((1L, false)))
    assert(got("orderkey_in_orders") == ((1L, false)))
    assert(got("discount_in_0_to_01") == ((0L, true)))
    assert(got("price_positive") == ((0L, true)))
    assert(got("returnflag_domain") == ((0L, true)))
    assert(got.values.forall(_._1 >= 0))
  }

  // ------------------------------------------------------------- RFM
  test("rfm: scores span 1..5, ~20% of users per quintile bin") {
    val rfm = SparkEntry.queries("events_rfm")(spark, dir).collect()
    assert(rfm.nonEmpty)
    val n = rfm.length
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val scores = rfm.map(_.getAs[Int](c))
      assert(scores.forall(v => v >= 1 && v <= 5))
      // monotone binning: each bin holds ≥1 user and the bottom bin is
      // roughly a fifth (ties can shift boundaries; allow wide slack)
      val bottom = scores.count(_ == 1)
      assert(bottom >= 1 && bottom <= n / 2, s"$c bottom bin = $bottom/$n")
    }
    // scores respect the metric order: a user with strictly smaller
    // monetary than another never has a larger m_score
    val byMon = rfm.sortBy(_.getAs[Double]("monetary"))
    val ms = byMon.map(_.getAs[Int]("m_score"))
    assert(ms.zip(ms.tail).forall { case (a, b) => a <= b })
  }

  // ----------------------------------------------------- stats trio
  test("ema: first event equals its value; ema stays a convex combination") {
    val ema = SparkEntry.queries("events_ema")(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val first = ema.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assert(first.count() > 0)
    assert(first.filter(col("ema") =!= col("value")).count() == 0)
    // convex combination of the user's own values → bounded by their range
    val bounds = ema.groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val out = ema.join(bounds, Seq("user_id"))
      .filter(col("ema") < col("lo") || col("ema") > col("hi"))
    assert(out.count() == 0)
  }

  test("corr and chi2: defined, bounded, full contingency coverage") {
    val corr = SparkEntry.queries("events_corr")(spark, dir).head()
    val r = corr.getAs[Double]("pearson_r")
    assert(!r.isNaN && math.abs(r) <= 1.0)
    val chi2 = SparkEntry.queries("events_chi2")(spark, dir).head()
    assert(chi2.getAs[Double]("chi2") >= 0.0)
    assert(chi2.getAs[Long]("n_cells") == 35L) // 7 day buckets × 5 types
  }

  // -------------------------------------------------------- clean funnel
  test("clean funnel: monotone attrition, final stage equals clean()") {
    import graft.operators.CorpusClean
    val d = Tables.documents(spark, dir)
    val f = CorpusClean.funnelCached(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f("1_raw") == d.count())
    assert(f("1_raw") >= f("2_quality") &&
      f("2_quality") >= f("3_exact_dedup") &&
      f("3_exact_dedup") >= f("4_near_dedup"))
    assert(f("4_near_dedup") == CorpusClean.cleanCached(d).count())
  }

  // --------------------------------------------------------- interleave
  test("interleave: every contiguous window is source-balanced") {
    import graft.operators.TrainingData
    val out = TrainingData.interleave(Tables.documents(spark, dir))
      .collect()
    assert(out.length == 500)
    val keys = out.map(_.getAs[Long]("interleave_key"))
    assert(keys.distinct.length == keys.length) // key is unique
    // fixture: 20 sources × 25 docs (balanced) → in key order, every
    // window of 20 consecutive docs holds all 20 sources exactly once
    val ordered = out.sortBy(_.getAs[Long]("interleave_key"))
      .map(_.getAs[String]("source"))
    ordered.grouped(20).foreach { w =>
      assert(w.distinct.length == w.length,
        s"unbalanced window: ${w.mkString(",")}")
    }
  }

  // ------------------------------------------------------ corpus export
  test("corpusExport: greedy best-quality prefix, budget-tight, gapless shards") {
    import graft.operators.{CorpusClean, TrainingData}
    val cleaned = CorpusClean.cleanCached(Tables.documents(spark, dir))
    val export = TrainingData.corpusExport(cleaned)
    val rows = export.collect()
    assert(rows.nonEmpty)
    // budget respected, and the selection is maximal: the cheapest
    // unselected doc would not have fit
    val spent = rows.map(_.getAs[Long]("n_tok")).sum
    assert(spent <= TrainingData.PipelineBudget)
    val k = rows.length.toLong
    val ordered = cleaned
      .orderBy(col("quality_score").desc, col("doc_id"))
      .select(col("doc_id"), col("n_tokens")).collect()
    if (ordered.length > k.toInt) {
      val next = ordered(k.toInt).getAs[Number]("n_tokens").longValue
      assert(spent + next > TrainingData.PipelineBudget,
        "selection stopped early — a doc that fit was left out")
    }
    // selected set IS the top-k prefix of the quality order
    val expected = ordered.take(k.toInt).map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == expected)
    // per-shard positions are gapless 0..n-1
    rows.groupBy(_.getAs[Int]("shard")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (0L until g.length.toLong))
    }
  }

  // ----------------------------------------------------------- novelty
  test("novelty: clones score 0 against each other, unique docs score 1") {
    val docs = Seq(
      (1L, "red green blue", "en", "s", 10L),
      (2L, "red green blue", "en", "s", 10L),      // clone of 1
      (3L, "wholly original phrase here", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the registered query reads from a fixture dir; exercise the same
    // formulation inline over the synthetic frame
    val bg = graft.operators.TextOps.bigrams(docs)
    val dfq = bg.select(col("prefix"), col("next_word"), col("doc_id"))
      .distinct().groupBy(col("prefix"), col("next_word"))
      .agg(count(lit(1)).as("df"))
    val nov = bg.join(dfq, Seq("prefix", "next_word"))
      .groupBy(col("doc_id"))
      .agg((sum(when(col("df") === 1, 1L).otherwise(0L)).cast("double")
        / count(lit(1))).as("novelty"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nov(1L) == 0.0 && nov(2L) == 0.0) // every bigram shared
    assert(nov(3L) == 1.0)                   // every bigram unique
  }

  // ---------------------------------------------------------- LM score
  test("lmScore: hits pay 1/prob, misses pay the backoff, short docs drop") {
    val docs = Seq(
      (1L, "x y", "en", "s", 3L),
      (2L, "x y", "en", "s", 3L),
      (3L, "x z", "en", "s", 3L),
      (4L, "solo", "en", "s", 4L)) // <2 words → no bigrams → absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // minPrefix=2, topK=1: prefix x (n_prefix=3) keeps only y (prob 2/3)
    val got = TextOps.lmScore(docs, minPrefix = 2L, topK = 1,
      invBackoff = 1000.0)
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byId = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId(1L) == ((1L, 1L, 1.5)))    // 1/(2/3)
    assert(byId(2L) == ((1L, 1L, 1.5)))
    assert(byId(3L) == ((1L, 0L, 1000.0))) // backoff miss
  }

  test("bigramLm: counts and conditional probabilities are exact") {
    val docs = Seq(
      (1L, "a b a b a c", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // bigrams: (a,b)x2 (b,a)x2 (a,c)x1 → prefix a: n=3, prefix b: n=2
    val lm = TextOps.bigramLm(docs, minPrefix = 2L, topK = 2)
      .orderBy(col("prefix"), col("rk")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(lm.toSeq == Seq(
      ("a", 1, "b", 2L, 3L, 2.0 / 3.0),
      ("a", 2, "c", 1L, 3L, 1.0 / 3.0),
      ("b", 1, "a", 2L, 2L, 1.0)))
  }

  test("scd gc preserves every as-of at or beyond the horizon") {
    val full = Changelog.intervals(Tables.events(spark, dir))
    val horizon = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    val gc = Changelog.gcIntervals(full, horizon)
    // real shrinkage: versions fully superseded before the horizon drop
    assert(gc.count() < full.count())
    def asOfFrom(iv: DataFrame, t: org.apache.spark.sql.Column) =
      iv.filter(col("valid_from") <= t &&
          (col("valid_to").isNull || col("valid_to") > t))
        .select("user_id", "valid_from", "event_id", "value")
    // at the horizon itself and strictly beyond: identical reconstruction
    for (t <- Seq("2024-01-15 00:00:00", "2024-01-22 12:34:56")) {
      val tc = lit(t).cast("timestamp_ntz")
      val a = asOfFrom(full, tc)
      val b = asOfFrom(gc, tc)
      assert(a.count() > 0)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, t)
    }
  }
}
