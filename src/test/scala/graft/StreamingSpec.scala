package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.{ScdMerge, Sessionize}
import graft.streaming.{StreamOracles, Streams}

/** The stream family: streaming twins vs batch truth (the tumbling window
  * aggregation must match the batch operator on the same data; stateful
  * sessionization and as-of enrichment must carry state across micro-batch
  * boundaries), the foreachBatch SCD load, and the stream oracles' runner
  * (one source split per session, one checkpoint per run, no memory
  * table left registered).
  */
class StreamingSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Drive a streaming DataFrame to completion against a memory sink and
    * return the collected table. */
  private def runToMemory(df: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }

  test("streaming tumbling counts match batch tumbling on same data") {
    val streamed = runToMemory(
      Streams.tumblingCounts(Streams.eventsStream(spark, dir)),
      "tumbling_out", OutputMode.Complete())
      .select("window_start", "event_type", "n_events")
    val batch = Sessionize.tumbling(Tables.events(spark, dir))
      .select("window_start", "event_type", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream interval join matches the batch join on same data") {
    val streamed = runToMemory(
      Streams.viewClickJoin(Streams.eventsStream(spark, dir)),
      "vc_join_out", OutputMode.Append())
    val batch = Streams.viewClickJoin(Tables.events(spark, dir))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming dedup within watermark drops replayed event_ids") {
    // built-in streaming dedup: state holds one entry per key only until
    // the watermark passes — bounded state, the at-least-once-source answer
    val events = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val out = runToMemory(events, "dedup_out", OutputMode.Append())
    val batchDistinct = Tables.events(spark, dir).select("event_id").distinct()
    assert(out.count() == batchDistinct.count())
  }

  test("stream-static broadcast enrichment matches the batch join") {
    // the streaming form of q3's dimension enrichment: static dim is
    // broadcast once, each micro-batch map-side joins — no stream state
    val dim = Tables.nation(spark, dir)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n_key", col("user_id") % 25)
      .join(broadcast(dim), col("n_key") === col("n_nationkey"))
      .select(col("event_id"), col("n_name"))
    val streamed = runToMemory(
      shape(Streams.eventsStream(spark, dir)), "ss_enrich_out",
      OutputMode.Append())
    val batch = shape(Tables.events(spark, dir))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("incremental KMV estimate converges to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // inputs are pre-hashed (the map-side contract); kmvHashJvm must equal
    // the kmvHash expression for the batch comparison below to hold
    val batch1 = (1L to 60L).map(v => Streams.KmvIn("a", Streams.kmvHashJvm(v))) ++
      (1L to 6L).map(v => Streams.KmvIn("b", Streams.kmvHashJvm(v)))
    val batch2 = (30L to 100L).map(v => Streams.KmvIn("a", Streams.kmvHashJvm(v))) ++
      (5L to 10L).map(v => Streams.KmvIn("b", Streams.kmvHashJvm(v)))
    val mem =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.KmvIn]
    val q = Streams.kmvStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("kmv_out").start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    // final estimate per group = the row with the max update counter
    val streamed = spark.table("kmv_out").collect()
      .groupBy(_.getString(0))
      .map { case (g, rs) =>
        g -> rs.maxBy(_.getAs[Long]("updates")).getAs[Double]("estimate")
      }
    // batch sketch over the RAW values — the streamed path hashed them
    // map-side with the identical hash, so the estimates must agree
    val raw = (1L to 60L).map(("a", _)) ++ (1L to 6L).map(("b", _)) ++
      (30L to 100L).map(("a", _)) ++ (5L to 10L).map(("b", _))
    val expected = graft.operators.Sketch.kmvDistinct(
      raw.toDF("grp", "value"), "grp", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed == expected)
  }

  test("stateful sessionization closes sessions on gap and keeps state") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    // user 7: two events 10 min apart (one session), then a 2h gap
    val evs = Seq(
      Streams.Ev(1, ts(0), 7, 1.0),
      Streams.Ev(2, ts(10), 7, 2.0),
      Streams.Ev(3, ts(130), 7, 4.0),
      Streams.Ev(4, ts(5), 9, 8.0))
    implicit val sqlCtx = spark.sqlContext
    val mem =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Ev]
    mem.addData(evs)
    val q = Streams.sessionizeStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    try q.processAllAvailable() finally q.stop()
    val closed = spark.table("sess_out").as[Streams.SessionOut].collect()
    // only user 7's first session closed (2h gap); open sessions stay in state
    assert(closed.toSeq == Seq(
      Streams.SessionOut(7, 1, 2, ts(0), ts(10), 3.0)))
  }

  test("batch sessionize agrees with itself on fixture (structure)") {
    val s = Sessionize.sessions(Tables.events(spark, dir))
    val total = s.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == Tables.events(spark, dir).count())
  }

  test("streaming session_window state merges across batch boundaries") {
    // the oracle query's own machinery: event-parity micro-batches force
    // nearly every session to be assembled from BOTH batches, so equality
    // with the one-shot batch answer proves the state store MERGED
    // partial sessions (not merely appended them)
    val streamed = StreamOracles.sessionState(spark, dir)
    val batch = Sessionize.sessionsBuiltin(Tables.events(spark, dir))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("asOfStream: ties, cross-batch state, max-guard vs replayed views") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(
      Streams.AsOfEv(1, ts("2024-01-01 10:00:00"), 1, "view", 5.0),
      Streams.AsOfEv(2, ts("2024-01-01 10:05:00"), 1, "purchase", 1.0),
      Streams.AsOfEv(3, ts("2024-01-01 10:10:00"), 1, "view", 7.0),
      Streams.AsOfEv(4, ts("2024-01-01 10:00:00"), 2, "purchase", 1.0))
    val b2 = Seq(
      // replayed OLD view must not rewind the carried (10:10, id 3) state
      Streams.AsOfEv(0, ts("2024-01-01 09:00:00"), 1, "view", 1.0),
      Streams.AsOfEv(5, ts("2024-01-01 11:00:00"), 1, "purchase", 1.0),
      Streams.AsOfEv(8, ts("2024-01-01 11:30:00"), 1, "purchase", 1.0),
      // tie timestamps: view_id 6 < purchase_id 7 → counted as preceding
      Streams.AsOfEv(6, ts("2024-01-01 11:00:00"), 2, "view", 9.0),
      Streams.AsOfEv(7, ts("2024-01-01 11:00:00"), 2, "purchase", 1.0))
    val mem =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.AsOfEv]
    val q = Streams.asOfStream(mem.toDS()).toDF().writeStream
      .outputMode("append").format("memory").queryName("asof_out").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_out")
      .select(col("purchase_id"), col("view_id"), col("view_value"))
      .collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(got == Set(
      (2L, Some(1L), Some(5.0)),
      (4L, None, None),
      (5L, Some(3L), Some(7.0)),
      (8L, Some(3L), Some(7.0)),
      (7L, Some(6L), Some(9.0))))
  }

  test("stream_corpus_state: one micro-batch reproduces the one-shot " +
      "batch composition; the 3-batch funnel respects its bounds") {
    import graft.operators.{CorpusClean, Dedup, Iterate, TextOps}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"))).toSeq
    val d = Tables.documents(spark, dir)
    val evalMod = graft.operators.TrainingData.EvalMod
    val train = d.filter(col("doc_id") % evalMod =!= 0)
    // the one-shot composition straight from the batch operators — the
    // stream plumbing (foreachBatch, band-state discipline, readout)
    // must be a no-op at batches = 1
    val clean = train
      .withColumn("w", TextOps.words(col("text")))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .filter(TextOps.qualityScore(col("w"))
        >= CorpusClean.QualityThreshold)
      .drop("w")
    val (adm0, _) =
      Streams.dedupBatch(clean, Dedup.minhashBands(clean).limit(0))
    val eval = d.filter(col("doc_id") % evalMod === 0)
    val hits = Streams.deconBatch(adm0,
        Iterate.pin(Dedup.minhashBands(eval)), Dedup.shingleSets(eval))
      .select(col("train_id").as("doc_id")).distinct()
    assert(hits.count() > 0, "decon leg never fires on the fixture — " +
      "the funnel's third stage is untested")
    val oneShot = rows(adm0.join(hits, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source")))
    assert(rows(StreamOracles.corpusState(spark, dir, batches = 1))
      == oneShot)
    // the registry config: 3 batches. Admission is order-AWARE (batches
    // split by doc_id residue, so state collisions and within-batch
    // victims differ from the one-shot pair set — the oracle unrolls the
    // recursion), but the funnel bounds are invariant
    val s3 = rows(StreamOracles.corpusState(spark, dir))
    assert(s3.nonEmpty && s3.map(_._1) == s3.map(_._1).sorted)
    assert(s3.map(_._2).sum > 0 && s3.map(_._2).sum <= clean.count())
    assert(s3.forall(r => r._2 > 0 && r._3 >= r._2))
  }

  test("streaming SCD load: foreachBatch merges micro-batches into state") {
    import spark.implicits._
    val stateDir = tempDir("graft_state").toString
    val cfg = ScdMerge.Config(keys = Seq("k"), valueCol = "v", scd2 = false)
    val clockTs = lit("2026-02-02 00:00:00").cast("timestamp")
    val clockDate = lit("2026-02-02").cast("date")

    // durable seed state
    Sinks.writeState(
      Seq(("a", 1.0, "b0"), ("b", 2.0, "b0")).toDF("k", "v", "batch_id"),
      stateDir)

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Double)]
    mem.addData(Seq(("b", 5.0), ("c", 3.0)))

    // each micro-batch is merged into the durable target with the SAME
    // set-based ScdMerge the batch pipeline uses; the micro-batch id
    // stands in for the pipeline's per-run batch uuid
    val q = mem.toDF().toDF("k", "v").writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val target = spark.read.parquet(stateDir)
        val merged = ScdMerge.merge(
          batch.withColumn("batch_id", lit(s"stream-$id")),
          target, cfg, clockTs, clockDate, lit(s"stream-$id"))
        val next = merged.drop(ScdMerge.ChangeCol).collect()
        Sinks.writeState(spark.createDataFrame(
          spark.sparkContext.parallelize(next.toSeq), target.schema), stateDir)
      }
      .start()
    try q.awaitTermination(60000) finally if (q.isActive) q.stop()

    val state = spark.read.parquet(stateDir).orderBy("k").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    assert(state.toSeq == Seq(
      ("a", 1.0, "b0"),            // carried
      ("b", 5.0, "stream-0"),      // updated by the micro-batch
      ("c", 3.0, "stream-0")))     // inserted
  }

  test("stream oracle runs: each checkpoint is deleted when its run " +
      "returns, and earlier results still read") {
    // a fresh session: its stream sessions are built here, so any
    // checkpoint root they hold shows up in the scratch listing
    val fresh = spark.newSession()
    val probe = Scratch.dir("graft_probe")
    val scratchRoot = probe.getParent
    Scratch.deleteTree(probe)
    def checkpoints(): Set[String] = {
      val ls = java.nio.file.Files.list(scratchRoot)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_ckpt")).toSet
      finally ls.close()
    }
    val before = checkpoints()
    try {
      val scd1 = StreamOracles.scdState(fresh, dir)
      val kmv1 = StreamOracles.kmvState(fresh, dir)
      val scd2 = StreamOracles.scdState(fresh, dir)
      val kmv2 = StreamOracles.kmvState(fresh, dir)
      assert(checkpoints() == before)
      // the first runs' readouts are read only now, after the second runs
      assert(scd1.count() > 0 && kmv1.count() > 0)
      assert(scd1.collect().toSeq == scd2.collect().toSeq)
      assert(kmv1.collect().toSeq == kmv2.collect().toSeq)
    } finally Memo.invalidate(fresh)
  }

  test("memory-sink oracle runs register no table that outlives the run, " +
      "and their results still read") {
    val fresh = spark.newSession()
    try {
      val runs = (1 to 3).map(_ => StreamOracles.kmvState(fresh, dir))
      // the readout lives in the oracle's stream session, not in `fresh`
      val streamSession = runs.head.sparkSession
      assert(streamSession ne fresh)
      val left = streamSession.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_stream_"))
      assert(left.isEmpty, s"memory tables left registered: ${left.mkString(", ")}")
      val rows = runs.map(_.collect().toSeq)
      assert(rows.head.nonEmpty && rows.forall(_ == rows.head))
    } finally Memo.invalidate(fresh)
  }

  test("stream sources: one split per oracle, batch count and input, " +
      "written once per session") {
    val fresh = spark.newSession()
    def srcBuilds(): Set[String] =
      MemoLedger.drain().keySet.filter(_.startsWith("stream.src:"))
    try {
      MemoLedger.drain()
      StreamOracles.scdState(fresh, dir).collect()
      val scd = srcBuilds()
      assert(scd.size == 1)
      StreamOracles.scdState(fresh, dir).collect()
      assert(srcBuilds().isEmpty, "the second run re-split its source")
      StreamOracles.sessionState(fresh, dir, batches = 1).collect()
      StreamOracles.sessionState(fresh, dir).collect()
      val sessions = srcBuilds()
      assert(sessions.size == 2 && (sessions & scd).isEmpty)
    } finally Memo.invalidate(fresh)
  }
}
