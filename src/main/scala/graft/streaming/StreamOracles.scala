package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.Scratch
import graft.operators.{Dedup, ScdMerge, Sketch}

/** Oracle-checkable STREAMING queries: each drives a real Structured
  * Streaming pipeline (file source split into ordered micro-batch files,
  * `Trigger.AvailableNow` + `maxFilesPerTrigger=1`) to completion and
  * returns the FINAL state — which must hash-match a batch-SQL oracle over
  * the same fixture table. This closes the gap between the ScalaTest-only
  * streaming coverage and the DuckDB hash gate: the batch/stream twins
  * prove the TRANSFORMS agree; these prove the incremental state machinery
  * (micro-batch boundaries, durable state swap, cross-batch continuity)
  * reaches the same fixpoint the one-shot batch answer describes.
  *
  * Micro-batch construction: fixture rows are split by a DETERMINISTIC
  * function (year, key mod N) into one parquet file per batch, with
  * strictly increasing fixed modification times — FileStreamSource orders
  * by mtime, so batch order is reproducible and the oracle can mirror it
  * (`ORDER BY batch DESC` picks the same "last write" the stream applied).
  *
  * Every oracle is the same three steps: [[source]] (the split, written
  * once per session), a sink — a memory table ([[toMemory]]) or a
  * `foreachBatch` body over a [[StateBook]] of per-batch state dirs — and
  * [[run]], which drains the source and hands back the readout.
  */
object StreamOracles {

  private val seq = new java.util.concurrent.atomic.AtomicInteger()
  private val BaseMtime = 1700000000000L

  /** The stream source of one oracle: `split(input)`'s frames, in order,
    * as one micro-batch file each, read back as a file stream
    * (`maxFilesPerTrigger=1`) in the [[streamSession]] of `width`.
    *
    * The split is a deterministic function of `input`, so repeated runs in
    * one session — the bench's passes — reuse it: a [[graft.Memo]] entry
    * keyed on `name` (the oracle and its batch count) and on `input` owns
    * the split dir, deleted when the entry is invalidated, and the written
    * frames' schema, which the stream declares (a streaming source cannot
    * infer one). What's measured stays the STREAM (source discovery,
    * micro-batch execution, state swap); only the one-time fixture prep
    * is amortized. State and checkpoint dirs are never cached — every run
    * streams into a fresh state from scratch.
    */
  private def source(spark: SparkSession, name: String, input: DataFrame,
      width: Int)(split: DataFrame => Seq[DataFrame]): DataFrame = {
    val (dir, schema) =
      graft.Memo.owned(spark, s"stream.src:$name", input) {
        val d = Scratch.dir("graft_stream_src")
        val batches = split(input)
        batches.zipWithIndex.foreach { case (b, i) => writeBatchFile(b, d, i) }
        (d, batches.head.schema)
      }(s => Scratch.deleteTree(s._1))
    streamSession(spark, width).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
  }

  /** Write `df` as ONE parquet file named for `idx` with a fixed,
    * idx-ordered mtime — the unit of streaming ingestion.
    */
  private def writeBatchFile(df: DataFrame, dst: Path, idx: Int): Unit = {
    val staging = Scratch.dir("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $staging"))
    val tgt = dst.resolve(f"b$idx%03d.parquet")
    Files.move(part, tgt)
    Files.setLastModifiedTime(tgt, FileTime.fromMillis(BaseMtime + idx * 60000L))
    Scratch.deleteTree(staging)
  }

  /** Isolated session for the streaming runs. The state store creates one
    * partition per shuffle partition at query start and COMMITS each of
    * them per micro-batch — at the bench's 32 partitions that is 32
    * near-empty delta files per batch for state that is actually 3 groups
    * / ~1k cells. A cloned session (shared SparkContext, own SQLConf) pins
    * a narrow shuffle width for JUST the stream queries; batch queries
    * keep the session setting. Memoized per (parent session, width).
    *
    * WIDTH TRACKS STATE CARDINALITY, NOT CORE COUNT (guide §2: fewer,
    * larger partitions; every store pays a per-batch commit). The kmv
    * (3 groups), cms (depth×width cells), mg (1 buffer), drop and session
    * oracles run at [[TinyStateWidth]] — one commit per batch instead of
    * four, measured −0.1…−0.5 s each at sf0.1 with identical results.
    * The others keep [[StreamWidth]]: the per-user asof state, the join's
    * buffered events, the window table, and the foreachBatch oracles,
    * whose batch bodies are plain batch jobs.
    */
  val StreamWidth = 4
  val TinyStateWidth = 1
  private def streamSession(spark: SparkSession, width: Int): SparkSession =
    graft.Memo.untimed(spark, s"stream.session:$width") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", width.toString)
      // state history is a correctness no-op for AvailableNow-to-final
      // oracles; retaining one batch of deltas halves maintenance I/O
      s.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
      // the trailing no-data micro-batch only advances watermarks to
      // evict state — final-state oracles read AFTER termination, and the
      // inner interval join emits its matches eagerly, so the extra
      // batch's full plan-execute-commit cycle buys nothing here
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      s
    }

  /** Per-batch state dirs of one oracle run, under one scratch dir and
    * keyed by micro-batch id. Batch `id` writes `<root>/<kind><id>` and
    * reads only dirs of ids STRICTLY before its own — never what it is
    * overwriting. So a RETRIED micro-batch (same id) neither reads its own
    * failed attempt's state (a bare `current` pointer would make the retry
    * merge into, and lazily read, the very path it overwrites; a dedup
    * retry would see its own bands and self-reject) nor registers a path
    * twice (which would double-count that batch in the readout).
    */
  private final class StateBook(prefix: String) {
    private val root = Scratch.dir(prefix)
    private val written = scala.collection.mutable.SortedMap.empty[Long, Seq[String]]

    /** The committed `kind` dirs of batches before `id`, in batch order. */
    def before(kind: String, id: Long): Seq[String] = synchronized {
      written.rangeUntil(id).collect {
        case (i, kinds) if kinds.contains(kind) => dir(kind, i)
      }.toSeq
    }

    /** Every committed `kind` dir, in batch order — the readout's input. */
    def all(kind: String): Seq[String] = before(kind, Long.MaxValue)

    /** Write batch `id`'s state, one dir per kind, and commit the dirs
      * only once EVERY write finished: a retried batch must never see a
      * half-written version. Two or more writes are independent actions,
      * submitted from separate driver threads (guide §2.6) so one write's
      * jobs back-fill the other's scheduling/commit gaps.
      */
    def write(id: Long)(frames: (String, DataFrame)*): Unit = {
      def one(kind: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(dir(kind, id))
      if (frames.size == 1) one(frames.head._1, frames.head._2)
      else {
        import scala.concurrent.ExecutionContext.Implicits.global
        frames.map { case (k, df) => Future(one(k, df)) }
          .foreach(Await.result(_, Duration.Inf))
      }
      synchronized { written(id) = frames.map(_._1) }
    }

    private def dir(kind: String, id: Long): String = s"$root/$kind$id"
  }

  /** The one run step: drain the stream behind `w` under `AvailableNow`
    * in a checkpoint dir of its own, then return `readout`.
    *
    * A run that does not finish within the timeout fails LOUDLY: a stream
    * stopped mid-ingest would hand the readout a well-formed PARTIAL
    * state (only the completed batches' deltas) — a wrong answer that
    * surfaces as a confusing oracle data diff instead of the actual
    * problem. The checkpoint (offset/commit logs, state store) is deleted
    * when the run returns: nothing reads it after an AvailableNow query
    * ends, and every readout reads the sink — a memory sink or the
    * [[StateBook]] dirs, which live on with the returned frame.
    */
  private def run(w: DataStreamWriter[Row])(readout: => DataFrame): DataFrame = {
    val timeoutMs = 300000L
    val ckpt = Scratch.dir("graft_ckpt")
    try {
      val q = w.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString).start()
      val finished =
        try q.awaitTermination(timeoutMs) finally if (q.isActive) q.stop()
      require(finished,
        s"streaming oracle did not finish within ${timeoutMs} ms — " +
          "refusing to read a partial final state")
    } finally Scratch.deleteTree(ckpt)
    readout
  }

  /** [[run]] into a fresh memory table; the table is the readout. Its
    * name is dropped when the run returns: the returned frame is already
    * analyzed and holds the sink itself, so the sink lives as long as the
    * frame, where a registered name would keep every run's sink in driver
    * heap until the session ends.
    */
  private def toMemory(in: DataFrame, mode: OutputMode): DataFrame = {
    val ss = in.sparkSession
    val name = s"graft_stream_${seq.incrementAndGet()}"
    try run(in.writeStream.outputMode(mode).format("memory").queryName(name))(
      ss.table(name))
    finally ss.catalog.dropTempView(name)
  }

  // ------------------------------------------------------ stream_scd_state
  /** How many micro-batches each stream oracle ingests. Multi-batch is the
    * point (state must survive batch boundaries); MORE batches only re-pay
    * Structured Streaming's per-micro-batch machinery — at sf0.1 the four
    * oracles were ~14 s of every bench/gate run at one batch per
    * year/residue. Two year-buckets keep a genuine Type-1 overwrite
    * handoff (the dedup stream keeps THREE batches — its accumulated
    * multi-delta state probe is the richest continuity case).
    */
  val ScdBatches = 2

  /** Orders split into [[ScdBatches]] micro-batches of contiguous order
    * YEARS (ascending); each batch Type-1-merges (o_custkey → max
    * o_totalprice of the batch, the ScdMerge dedup policy) into versioned
    * parquet state in a `foreachBatch` body — the streaming form of the
    * pipeline's SCD load, the micro-batch id standing in for its per-run
    * batch uuid. Final state per key = the value from the LAST year-bucket
    * the key appears in — the batch oracle mirrors the bucketing with a
    * rank-over-distinct-years expression and picks
    * `ROW_NUMBER() OVER (ORDER BY b DESC)`.
    */
  def scdState(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v"),
        year(col("o_orderdate")).as("y"))
    val in = source(spark, s"scd:$ScdBatches", orders, StreamWidth) { o =>
      val years = o.select(col("y")).distinct().orderBy(col("y"))
        .collect().map(_.getInt(0)) // handful of years — driver control flow
      // contiguous rank-buckets, mirrored in sqlScdState: year at sorted
      // position i lands in bucket i*B/n
      val buckets = years.zipWithIndex
        .groupMap { case (_, i) => i * ScdBatches / years.length } { case (y, _) => y }
      (0 until math.min(ScdBatches, years.length)).map { b =>
        o.filter(col("y").isin(buckets(b): _*)).select(col("k"), col("v"))
      }
    }
    val ss = in.sparkSession
    val cfg = ScdMerge.Config(keys = Seq("k"), valueCol = "v", scd2 = false)
    val clockTs = lit("2026-01-01 00:00:00").cast("timestamp")
    val clockDate = lit("2026-01-01").cast("date")
    // versioned state dirs: each batch reads v(n-1) and writes v(n); the
    // first batch merges into an empty state of its own schema
    val versions = new StateBook("graft_scd_state")
    run(in.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val incoming = batch.withColumn("batch_id", lit(s"stream-$id"))
      val target = versions.before("v", id).lastOption
        .map(ss.read.parquet(_)).getOrElse(ss.createDataFrame(
          new java.util.ArrayList[Row](), incoming.schema))
      versions.write(id)("v" -> ScdMerge.merge(incoming, target, cfg,
        clockTs, clockDate, lit(s"stream-$id")).drop(ScdMerge.ChangeCol))
    }) {
      ss.read.parquet(versions.all("v").lastOption
          .getOrElse(sys.error("no micro-batch ran")))
        .select(col("k"), col("v")).orderBy(col("k"))
    }
  }

  /** Batch oracle: per (key, year-bucket) the merge's dedup keeps the max
    * value; across buckets, last write wins. The bucket expression is the
    * EXACT mirror of the split above: the year at ascending rank i (0-based)
    * lands in bucket i*B/n, integer division.
    */
  val sqlScdState: String =
    s"""WITH yb AS (
      |  SELECT y, ((rn - 1) * $ScdBatches) // cnt AS b FROM (
      |    SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS rn,
      |      COUNT(*) OVER () AS cnt
      |    FROM (SELECT DISTINCT year(o_orderdate) AS y FROM orders)
      |  )
      |), pb AS (
      |  SELECT o.o_custkey AS k, yb.b, max(o.o_totalprice) AS v
      |  FROM orders o JOIN yb ON year(o.o_orderdate) = yb.y
      |  GROUP BY 1, 2
      |), fin AS (
      |  SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY b DESC) AS rn
      |  FROM pb
      |)
      |SELECT k, v FROM fin WHERE rn = 1 ORDER BY k""".stripMargin

  // ---------------------------------------------------- stream_dedup_state
  /** Documents split into `DedupBatches` micro-batches by `doc_id mod N`;
    * each batch runs the incremental [[Streams.dedupBatch]] admission
    * against the accumulated band state. The admission rule is sequential
    * — a doc is rejected iff it band-collides with an ADMITTED doc of an
    * earlier batch, or with ANY lower-id doc of its own batch — so the
    * oracle unrolls the batches as chained CTE rounds over the same static
    * band-share relation.
    */
  val DedupBatches = 3

  def dedupState(spark: SparkSession, dir: String,
      batches: Int = DedupBatches): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val in = source(spark, s"dedup:$batches", docs, StreamWidth) { d =>
      (0 until batches).map(i => d.filter(col("doc_id") % batches === i))
    }
    val ss = in.sparkSession
    // band state accumulates as per-batch DELTA dirs (append-only, like a
    // real durable band table): each batch writes only ITS admitted bands
    // and reads the union — no rewrite of the whole state per batch. The
    // band state IS the admitted set for every doc that has a signature,
    // so there is no separate admitted-ids write per batch (it doubled
    // the per-batch actions for a derivable frame); signature-less docs
    // — fewer words than a shingle — have no bands, can never collide,
    // and are admitted vacuously at readout.
    val bands = new StateBook("graft_dedup_state")
    run(in.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val prior = bands.before("bands", id)
      val state =
        if (prior.isEmpty) Dedup.minhashBands(batch).limit(0)
        else ss.read.parquet(prior: _*)
      // a micro-batch arrives as ONE source file = one partition; the
      // md5 shingle/minhash chains are the batch's CPU, so spread the
      // thin document rows across the session's width first
      val (_, newBands) = Streams.dedupBatch(batch.repartition(4), state)
      bands.write(id)("bands" -> newBands)
    }) {
      val signatureless = docs.filter(
        size(graft.operators.TextOps.words(col("text"))) < Dedup.ShingleK)
        .select(col("doc_id"))
      ss.read.parquet(bands.all("bands"): _*)
        .select(col("doc_id")).distinct()
        .unionByName(signatureless)
        .orderBy(col("doc_id"))
    }
  }

  /** The band-share relation is [[Dedup.sqlMinhashPairs]]'s bands CTE made
    * symmetric; admission rounds unroll per batch.
    */
  def sqlDedupState: String = {
    import Dedup.{BandSize, MinhashK, ShingleK, sqlMinhashSig, sqlShingleHashes, sqlWordHashes}
    import graft.operators.TextOps.sqlWords
    val sigDefs = (0 until MinhashK).map(j =>
      s"${sqlMinhashSig("hs", j)} AS sig$j").mkString(",\n    ")
    val bandRows = (0 until MinhashK / BandSize).map { b =>
      val key = (b * BandSize until (b + 1) * BandSize)
        .map(j => s"CAST(sig$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val rounds = (0 until DedupBatches).map { b =>
      val stateRejected =
        if (b == 0) ""
        else s"""AND NOT EXISTS (
                 |    SELECT 1 FROM share s JOIN prev$b p ON s.da = p.doc_id
                 |    WHERE s.db = x.doc_id)
                 |  """.stripMargin
      val adm =
        s"""adm$b AS (
           |  SELECT x.doc_id FROM dd x WHERE x.b = $b
           |  ${stateRejected}AND NOT EXISTS (
           |    SELECT 1 FROM share s JOIN dd e ON s.da = e.doc_id
           |    WHERE s.db = x.doc_id AND e.b = $b AND e.doc_id < x.doc_id)
           |)""".stripMargin
      val prev =
        if (b == DedupBatches - 1) adm
        else adm + s""",
           |prev${b + 1} AS (
           |  ${(0 to b).map(i => s"SELECT doc_id FROM adm$i")
                .mkString("\n  UNION ALL\n  ")}
           |)""".stripMargin
      prev
    }.mkString(",\n")
    val unionAll = (0 until DedupBatches)
      .map(b => s"SELECT doc_id FROM adm$b").mkString("\n  UNION ALL\n  ")
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
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id <> b.doc_id
       |), dd AS (
       |  SELECT doc_id, doc_id % $DedupBatches AS b FROM documents
       |),
       |$rounds
       |SELECT doc_id FROM (
       |  $unionAll
       |) ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------- stream_decon_state
  /** Training docs (doc_id % EvalMod ≠ 0) arrive in [[DeconBatches]]
    * micro-batches (split by doc_id residue); each batch runs the
    * incremental [[Streams.deconBatch]] LSH screen + exact-Jaccard
    * verify against a STATIC eval-side index — band and shingle-set
    * tables built ONCE from the eval split and read as durable parquet,
    * exactly how a deployment holds its eval suites. Verified hits
    * append as per-batch deltas; the readout aggregates them into the
    * per-train-doc contamination report (hit count + worst eval
    * neighbor, the `decon_minhash` shape).
    *
    * Oracle argument (the kmv/cms discipline, not the dedup one): each
    * train doc's verdict depends ONLY on its own text and the static
    * index — no cross-batch or within-batch interaction — so the final
    * state is order- and batching-independent and the oracle is the
    * ONE-SHOT SQL over the same band/set relations, restricted to
    * cross-split collisions. (Candidates here are RAW band collisions
    * against the eval index, not the capped pair memo `decon_minhash`
    * screens through: an eval index is |eval|-bounded, so the hot-block
    * cap that protects an all-corpus self-join is not needed on this
    * path.)
    */
  val DeconBatches = 3

  def deconState(spark: SparkSession, dir: String,
      batches: Int = DeconBatches): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val in = source(spark, s"decon:$batches", docs, StreamWidth)(
      trainResidues(_, batches))
    val ss = in.sparkSession
    val idx = deconIndex(docs)
    val evalBands = ss.read.parquet(idx.resolve("bands").toString)
    val evalSets = ss.read.parquet(idx.resolve("sets").toString)
    val hits = new StateBook("graft_decon_hits")
    run(in.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // one source file = one partition; the md5 shingle chain is the
      // batch's CPU — spread the rows first (the dedup-stream shape)
      hits.write(id)("hits" -> Streams.deconBatch(
        batch.repartition(4), evalBands, evalSets))
    }) {
      ss.read.parquet(hits.all("hits"): _*)
        .groupBy(col("train_id"))
        .agg(count(lit(1)).as("n_eval_hits"),
          max(struct(col("jac").as("j"),
            (lit(0L) - col("eval_id")).as("ni"))).as("b"))
        .select(col("train_id"), col("n_eval_hits"),
          (lit(0L) - col("b.ni")).as("best_eval"),
          col("b.j").as("best_jaccard"))
        .orderBy(col("train_id"))
    }
  }

  /** The training docs (doc_id % EvalMod ≠ 0) split by doc_id residue —
    * the micro-batches of [[deconState]] and [[corpusState]]. */
  private def trainResidues(docs: DataFrame, batches: Int): Seq[DataFrame] = {
    val train = docs.filter(
      col("doc_id") % graft.operators.TrainingData.EvalMod =!= 0)
    (0 until batches).map(i => train.filter(col("doc_id") % batches === i))
  }

  /** One-shot SQL (order-independence argued at [[deconState]]): the
    * shared bands CTE split by residue, raw cross-split band collisions,
    * exact sorted-set Jaccard on candidates only. */
  def sqlDeconState: String = {
    import graft.operators.Dedup.{ShingleK, sqlBandsCtes, sqlShingleHashes, sqlWordHashes}
    import graft.operators.TextOps.sqlWords
    val evalMod = graft.operators.TrainingData.EvalMod
    s"""WITH ${sqlBandsCtes("documents")},
       |sets AS (
       |  SELECT doc_id,
       |    list_distinct(${sqlShingleHashes("wh", ShingleK)}) AS sh
       |  FROM (SELECT doc_id, ${sqlWordHashes("text")} AS wh
       |        FROM documents
       |        WHERE len(${sqlWords("text")}) >= $ShingleK)
       |), cands AS (
       |  SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
       |  FROM bands t JOIN bands e
       |    ON t.band_idx = e.band_idx AND t.band_key = e.band_key
       |  WHERE t.doc_id % $evalMod <> 0 AND e.doc_id % $evalMod = 0
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
  }

  /** The static eval-side decon index (band + shingle-set parquet
    * tables over the `doc_id % EvalMod = 0` split), built once per
    * fixture and shared by [[deconState]] and [[corpusState]] — exactly
    * how a deployment holds its eval suites as durable tables. */
  private def deconIndex(docs: DataFrame): Path =
    graft.Memo.owned(docs.sparkSession, "stream.deconidx", docs) {
      val d = Scratch.dir("graft_stream_src")
      val eval = docs.filter(
        col("doc_id") % graft.operators.TrainingData.EvalMod === 0)
      graft.operators.Iterate.pin(Dedup.minhashBands(eval))
        .write.mode("overwrite").parquet(d.resolve("bands").toString)
      Dedup.shingleSets(eval)
        .write.mode("overwrite").parquet(d.resolve("sets").toString)
      d
    }(Scratch.deleteTree)

  // ---------------------------------------------------- stream_corpus_state
  /** The streaming twin of the `corpus_e2e` capstone — the corpus
    * FUNNEL run incrementally: training docs (doc_id % EvalMod ≠ 0)
    * arrive in [[CorpusBatches]] micro-batches, and each batch is
    *
    *   1. '''quality-cleaned''' — the stateless [[CorpusClean]] gate
    *      (token metrics + quality score ≥ threshold), map-side;
    *   2. '''dedup-admitted''' — [[Streams.dedupBatch]] against the
    *      band state of previously ADMITTED docs (first arrival wins,
    *      within-batch lower-id wins — the real streaming-ingest
    *      policy, vs the batch capstone's keep-longest canonical);
    *   3. '''decontaminated''' — [[Streams.deconBatch]]'s LSH screen +
    *      exact verify against the STATIC eval index ([[deconIndex]]);
    *      hits are dropped AND their bands never enter the state, so a
    *      contaminated doc cannot shadow a later clean near-dup.
    *
    * State is append-only per-batch deltas (admitted rows + admitted
    * bands), id-keyed with strictly-earlier reads (retry-idempotent
    * like the other stream oracles). Readout: per-source survivor
    * counts and token totals — the funnel's yield report.
    *
    * The oracle is order-AWARE (the dedup discipline, not the kmv one):
    * [[sqlCorpusState]] unrolls the same admission recursion per batch
    * over the same band/set relations, with the decon verdict as a
    * per-doc predicate (it depends only on the doc's text and the
    * static index, so staging it after state admission is equivalent).
    *
    * Scale shape: per batch one signature pass over the batch's docs
    * (k-bounded band rows), one band join against the state DELTAS, one
    * |eval|-bounded screen — nothing rescans admitted text, and state
    * grows only by admitted bands. The composed funnel is measured on
    * both streaming axes by `StreamScaleAudit`.
    */
  val CorpusBatches = 3

  def corpusState(spark: SparkSession, dir: String,
      batches: Int = CorpusBatches): DataFrame = {
    import graft.operators.{CorpusClean, Iterate, TextOps}
    val docs = graft.Tables.documents(spark, dir)
    val in = source(spark, s"corpus:$batches", docs, StreamWidth)(
      trainResidues(_, batches))
    val ss = in.sparkSession
    val idx = deconIndex(docs)
    val evalBands = ss.read.parquet(idx.resolve("bands").toString)
    val evalSets = ss.read.parquet(idx.resolve("sets").toString)
    val state = new StateBook("graft_corpus_state")
    run(in.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // spread the one-file batch first: the quality metrics and the
      // signature chains are the batch's CPU. Pinned (eager, once per
      // batch): every downstream consumer — the dedup band pin, the
      // decon verify, BOTH state writes — re-evaluates its inputs per
      // action, and without the pin each of them re-ran the scan +
      // word split + quality score (measured: this batch body was
      // 6.2 s of the bench, ~3× the other stream oracles' floor).
      val clean = Iterate.pin(batch.repartition(4)
        .withColumn("w", TextOps.words(col("text")))
        .withColumn("n_tokens", size(col("w")).cast("long"))
        .filter(TextOps.qualityScore(col("w"))
          >= CorpusClean.QualityThreshold)
        .drop("w"))
      val prior = state.before("bands", id)
      val bands =
        if (prior.isEmpty) Dedup.minhashBands(clean).limit(0)
        else ss.read.parquet(prior: _*)
      val (adm0, adm0Bands) = Streams.dedupBatch(clean, bands)
      // bands are a per-doc map of the text, so the admitted docs'
      // band rows ARE minhashBands(adm0) — feed them to the decon
      // screen instead of paying the signature chain a second time
      // per micro-batch. Pinned hits: consumed by both state writes.
      val hits = Iterate.pin(
        Streams.deconBatchFrom(adm0, adm0Bands, evalBands, evalSets)
          .select(col("train_id").as("doc_id")).distinct())
      // two independent writes over the same pinned inputs (clean /
      // bands / hits); each recomputes only the thin post-pin victim joins
      state.write(id)(
        "v" -> adm0.join(hits, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("n_tokens")),
        "bands" -> adm0Bands.join(hits, Seq("doc_id"), "left_anti"))
    }) {
      ss.read.parquet(state.all("v"): _*)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("source"))
    }
  }

  /** [[corpusState]]'s order-aware oracle: the clean gate, the two band
    * chains (train side over the kept docs, `e`-prefixed eval side),
    * the symmetric share relation, the per-doc decon verdict, then the
    * per-batch admission recursion — state collisions against
    * previously ADMITTED docs only, within-batch victims against the
    * CLEAN batch (the pre-state, pre-decon frame [[Streams.dedupBatch]]
    * derives victims from). */
  def sqlCorpusState: String = {
    import Dedup.{ShingleK, sqlBandsCtes, sqlShingleHashes, sqlWordHashes}
    import graft.operators.TextOps.sqlWords
    val evalMod = graft.operators.TrainingData.EvalMod
    val thr = graft.operators.CorpusClean.QualityThreshold
    val set = graft.operators.TextOps.Stopwords
      .map(s => s"'$s'").mkString(", ")
    val B = CorpusBatches
    val rounds = (0 until B).map { b =>
      val stateRejected =
        if (b == 0) ""
        else s"""AND NOT EXISTS (
                 |    SELECT 1 FROM share s JOIN prev$b p ON s.da = p.doc_id
                 |    WHERE s.db = x.doc_id)
                 |  """.stripMargin
      val adm =
        s"""adm$b AS (
           |  SELECT x.doc_id FROM kept x WHERE x.doc_id % $B = $b
           |  ${stateRejected}AND NOT EXISTS (
           |    SELECT 1 FROM share s JOIN kept e ON s.da = e.doc_id
           |    WHERE s.db = x.doc_id AND e.doc_id % $B = $b
           |      AND e.doc_id < x.doc_id)
           |  AND NOT EXISTS (
           |    SELECT 1 FROM deconhit h WHERE h.doc_id = x.doc_id)
           |)""".stripMargin
      if (b == B - 1) adm
      else adm + s""",
         |prev${b + 1} AS (
         |  ${(0 to b).map(i => s"SELECT doc_id FROM adm$i")
              .mkString("\n  UNION ALL\n  ")}
         |)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 until B)
      .map(b => s"SELECT doc_id FROM adm$b").mkString("\n  UNION ALL\n  ")
    s"""WITH traind AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE doc_id % $evalMod <> 0
       |), m0 AS (
       |  SELECT doc_id, source, text, CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(len(w) AS DOUBLE) AS nwords,
       |    CAST(len(list_filter(w, x -> x IN ($set))) AS DOUBLE) AS nstop,
       |    CAST(len(list_distinct(w)) AS DOUBLE) AS ndistinct
       |  FROM (SELECT doc_id, source, text, ${sqlWords("text")} AS w
       |        FROM traind)
       |), kept AS (
       |  SELECT doc_id, source, text, n_tokens FROM m0
       |  WHERE (nwords / (nwords + 100.0)) * (ndistinct / nwords)
       |    * (1.0 - nstop / nwords) >= $thr
       |), ${sqlBandsCtes("kept")},
       |share AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id <> b.doc_id
       |), evald AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $evalMod = 0
       |), ${sqlBandsCtes("evald", "e")},
       |tsets AS (
       |  SELECT doc_id,
       |    list_distinct(${sqlShingleHashes("wh", ShingleK)}) AS sh
       |  FROM wordhashed
       |), esets AS (
       |  SELECT doc_id,
       |    list_distinct(${sqlShingleHashes("wh", ShingleK)}) AS sh
       |  FROM ewordhashed
       |), ecand AS (
       |  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
       |  FROM bands t JOIN ebands e
       |    ON t.band_idx = e.band_idx AND t.band_key = e.band_key
       |), deconhit AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM ecand c
       |  JOIN tsets a ON c.doc_id = a.doc_id
       |  JOIN esets b ON c.eval_id = b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0
       |),
       |$rounds
       |SELECT k.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(k.n_tokens) AS BIGINT) AS n_tokens
       |FROM (
       |  $unionAll
       |) a JOIN kept k ON a.doc_id = k.doc_id
       |GROUP BY k.source ORDER BY k.source""".stripMargin
  }

  // ------------------------------------------------------ stream_kmv_state
  /** Lineitem (returnflag, partkey) split into 2 micro-batches by key
    * parity, run through the incremental keyed-state KMV
    * ([[Streams.kmvStream]]). KMV state merge is associative and
    * commutative (min-k of distinct hashes), so the final estimate equals
    * the one-shot batch sketch no matter how the stream was batched — the
    * oracle IS the batch KMV SQL, and two batches already force the state
    * across a micro-batch boundary.
    */
  def kmvState(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("grp"), col("l_partkey").as("value"))
    val in = source(spark, "kmv:2", li, TinyStateWidth) { l =>
      (0 until 2).map(i => l.filter(col("value") % 2 === i))
    }
    val ss = in.sparkSession
    import ss.implicits._
    // hash map-side (codegen'd md5 across all input partitions) — the
    // 3-group state stage then only merges bounded k-sets
    val hashed = in.select(col("grp"), Streams.kmvHash(col("value")).as("h"))
      .as[Streams.KmvIn]
    val out = toMemory(Streams.kmvStream(hashed).toDF(), OutputMode.Append())
    val w = Window.partitionBy(col("grp")).orderBy(col("updates").desc)
    out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("grp").as("l_returnflag"),
        col("estimate").as("kmv_estimate"))
      .orderBy(col("l_returnflag"))
  }

  val sqlKmvState: String =
    Sketch.sqlKmvDistinct("lineitem", "l_returnflag", "l_partkey")

  // ------------------------------------------------------ stream_cms_state
  /** Events split into 2 micro-batches by user_id parity; the Count-Min
    * cell table is maintained as a STREAMING aggregation (Complete mode —
    * each micro-batch increments the depth×width counters in the state
    * store, which is exactly how CMS runs as a production stream summary).
    * The final complete output must hash-equal the batch-built sketch of
    * the whole fixture — CMS's defining merge property (cell-wise sums),
    * checked against the DuckDB batch oracle; two batches already force
    * the counters through a state-store handoff.
    */
  def cmsState(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir).select(col("user_id"))
    val in = source(spark, "cms:2", ev, TinyStateWidth) { e =>
      (0 until 2).map(i => e.filter(col("user_id") % 2 === i))
    }
    toMemory(Sketch.cells(in, "user_id"), OutputMode.Complete())
      .select(col("row_j"), col("bucket"), col("cnt"))
      .orderBy(col("row_j"), col("bucket"))
  }

  val sqlCmsState: String =
    s"""WITH cells AS (
       |  ${Sketch.sqlCells("events", "user_id").linesIterator.mkString("\n  ")}
       |)
       |SELECT row_j, bucket, cnt FROM cells
       |ORDER BY row_j, bucket""".stripMargin

  // -------------------------------------------------- stream_session_state
  /** Events split into 2 micro-batches by event_id PARITY — deliberately
    * NOT by key or by time, so nearly every session's events straddle the
    * batch boundary and the state store must MERGE partial sessions (the
    * session-window-specific state transition: two stored sessions whose
    * gap closes when a bridging event arrives). The aggregation is the
    * built-in `session_window` running as a real streaming aggregation in
    * Complete mode (no watermark — state is the whole session table, which
    * is what a final-state oracle wants; production would watermark and
    * emit in Append mode, same operator). Session gap-merge is associative
    * and commutative, so the final complete output must equal the batch
    * `sessionsBuiltin` answer no matter how the stream was batched — the
    * oracle IS q28's SQL.
    */
  /** Default micro-batch count for [[sessionState]] — shared with
    * `StreamScaleAudit` so the audit always measures the same batching
    * as the registry query. */
  val SessionBatches = 2

  def sessionState(spark: SparkSession, dir: String,
      batches: Int = SessionBatches): DataFrame = {
    import graft.functions.Exact
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val in = source(spark, s"session:$batches", ev, TinyStateWidth) { e =>
      (0 until batches).map(i => e.filter(col("event_id") % batches === i))
    }
    val sessions = in
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).cast("timestamp_ntz").as("session_start"),
        max(col("ts")).cast("timestamp_ntz").as("session_end"),
        Exact.xsum(col("value")).as("total_value"))
      .select(col("user_id"), col("n_events"), col("session_start"),
        col("session_end"), col("total_value"))
    toMemory(sessions, OutputMode.Complete())
      .orderBy(col("user_id"), col("session_start"))
  }

  val sqlSessionState: String =
    graft.operators.Sessionize.sqlSessionsBuiltin

  // -------------------------------------------------- stream_window_state
  /** Tumbling-window aggregation as a REAL streaming aggregation: the
    * canonical structured-streaming shape, driven over 2 micro-batches
    * split by event_id PARITY — not by time — so nearly every (window,
    * type) group receives rows from BOTH batches and the state store
    * must fold a second partial into a stored aggregate (the windowed-agg
    * state transition this oracle exists to gate). Complete mode, no
    * watermark: a final-state oracle wants the whole window table, and
    * windowed-count merge is associative/commutative, so the result must
    * equal the batch tumbling answer no matter how the stream was
    * batched — the oracle IS q14's SQL. The production shape (watermark +
    * Append, identical operator) is `Streams.tumblingCounts`, exercised
    * in `StreamingSpec`; the value sum goes through the exact-decimal
    * detour so the hash gate sees bit-identical doubles.
    */
  def windowState(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val in = source(spark, "window:2", ev, StreamWidth) { e =>
      (0 until 2).map(i => e.filter(col("event_id") % 2 === i))
    }
    val agg = in
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Exact.xsum(col("value")).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("w.end").cast("timestamp_ntz").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
    toMemory(agg, OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type"))
  }

  val sqlWindowState: String = graft.operators.Sessionize.sqlTumbling

  // --------------------------------------------------- stream_join_state
  /** Stream-stream interval join ([[Streams.viewClickJoin]]: views ⋈
    * clicks within the following 30 min, both sides watermarked 1 h)
    * driven over TWO time-ordered micro-batches split at mid-month.
    * Time-ordered — not parity — split on purpose: the watermark
    * machinery is REAL here, and the oracle equality only holds because
    * ascending batches make nothing late (batch-2 rows all sit above
    * batch-1's watermark, while boundary-straddling view state survives
    * in the 1 h-bounded join state to meet batch-2 clicks). The gate
    * thus proves both the cross-batch join-state handoff AND that the
    * watermark dropped exactly nothing; the batch oracle is the plain
    * interval join.
    */
  def joinState(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val in = source(spark, "join:2", ev, StreamWidth)(halvesOfMonth)
    toMemory(Streams.viewClickJoin(in), OutputMode.Append())
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"))
      .orderBy(col("user_id"), col("view_id"), col("click_id"))
  }

  /** The two time-ordered micro-batches split at mid-month. */
  private def halvesOfMonth(ev: DataFrame): Seq[DataFrame] =
    Seq(ev.filter(dayofmonth(col("ts")) < 16),
      ev.filter(dayofmonth(col("ts")) >= 16))

  // ----------------------------------------------------- stream_asof_state
  /** Streaming AS-OF enrichment ([[Streams.asOfStream]]): purchases
    * stamped with the user's latest preceding view, run as
    * `flatMapGroupsWithState` over TWO time-ordered micro-batches split at
    * mid-month — the per-key ORDERED-REPLAY state shape none of the other
    * oracles exercises (the carried state is a single latest-version
    * triple, not an aggregate or a window). Cross-batch continuity is the
    * point: a batch-2 purchase whose preceding view arrived in batch 1
    * must read that view from the state store. Time-ordered split is the
    * oracle contract (see [[Streams.asOfFunc]]); the batch oracle is the
    * plain lexicographic as-of join.
    */
  def asOfState(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .filter(col("ts").isNotNull &&
        col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val in = source(spark, "asof:2", ev, StreamWidth)(halvesOfMonth)
    val ss = in.sparkSession
    import ss.implicits._
    toMemory(Streams.asOfStream(in.as[Streams.AsOfEv]).toDF(),
        OutputMode.Append())
      .select(col("user_id"), col("purchase_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("view_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("view_value"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** The lexicographic as-of join: latest (view_ts, view_id) strictly
    * below (purchase_ts, purchase_id); LEFT so view-less purchases keep a
    * NULL stamp (their single unmatched row ranks rn=1).
    */
  val sqlAsOfState: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |    value
      |  FROM events WHERE ts IS NOT NULL
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      |  FROM e WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, event_id AS view_id, ts AS view_ts,
      |    value AS view_value
      |  FROM e WHERE event_type = 'view'
      |), j AS (
      |  SELECT p.user_id, p.purchase_id, p.purchase_ts,
      |    v.view_id, v.view_ts, v.view_value,
      |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |      ORDER BY v.view_ts DESC, v.view_id DESC) AS rn
      |  FROM p LEFT JOIN v ON p.user_id = v.user_id
      |    AND (v.view_ts < p.purchase_ts
      |      OR (v.view_ts = p.purchase_ts AND v.view_id < p.purchase_id))
      |)
      |SELECT user_id, purchase_id, purchase_ts, view_id, view_ts, view_value
      |FROM j WHERE rn = 1
      |ORDER BY user_id, purchase_id""".stripMargin

  // ------------------------------------------------------ stream_mg_state
  /** Misra–Gries heavy hitters as a REAL streaming aggregation: the
    * custom `TypedImperativeAggregate` ([[graft.functions.HeavyHitters]])
    * runs inside a streaming global aggregate in Complete mode, so the
    * state store round-trips the SERIALIZED MG map across micro-batches
    * (buffer serialize → durable state swap → merge with the next
    * batch's partial) — the custom-aggregate state transition none of
    * the other seven oracles exercises. Documents split into 2
    * micro-batches by doc_id parity and tokenize INSIDE the stream, so
    * nearly every token arrives from both batches. Capacity (256)
    * exceeds the fixture vocabulary, so MG is exact and
    * merge-order-independent: the final top-k must equal the batch
    * `sketch_heavy_hitters` answer, and the oracle is that same SQL.
    */
  def mgState(spark: SparkSession, dir: String): DataFrame = {
    val docsDf = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val in = source(spark, "mg:2", docsDf, TinyStateWidth) { d =>
      (0 until 2).map(i => d.filter(col("doc_id") % 2 === i))
    }
    graft.functions.VectorExprs.register(in.sparkSession)
    val agg = in
      .select(explode_outer(
        graft.operators.TextOps.words(col("text"))).as("token"))
      .agg(call_function(graft.functions.VectorExprs.HeavyName,
        col("token"), lit(10), lit(256)).as("hh"))
    toMemory(agg, OutputMode.Complete())
      .select(explode(col("hh")).as("h"))
      .select(col("h.token").as("token"),
        col("h.est_count").as("est_count"))
      .orderBy(col("est_count").desc, col("token"))
  }

  // --------------------------------------------------- stream_drop_state
  /** Watermark LATE-DATA DROP oracle: daily windowed aggregation in
    * Append mode over a deliberately disordered THREE-batch split —
    * batch 0 carries Jan 4–19, batch 1 Jan 20–26, batch 2 Jan 27–30
    * PLUS the Jan 1–3 stragglers. By batch 2 the committed 72 h
    * watermark sits near Jan 23, so the stragglers' windows end far
    * below it and the rows MUST be dropped (measured: a TWO-batch
    * split does NOT drop them — the very first watermark commit is not
    * yet in force for the filter when they arrive, so they are
    * aggregated and immediately finalized; Spark documents the drop as
    * an at-least-this-late guarantee, not an exact one — three batches
    * pin the guaranteed path). The final emitted set is exactly the
    * windows ending at or before that same watermark: days 4–22 at
    * full per-day counts, stragglers absent, the Jan 23+ tail still
    * unfinalized in state. The batch oracle mirrors both effects
    * arithmetically: keep day ≥ 4, emit windows with
    * end ≤ max(ts | day < 27) − 72 h. This is the one streaming
    * behavior the other eight oracles never exercise — rows REJECTED
    * by the watermark, and Append-mode finalization timing.
    */
  def dropState(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val ev = graft.Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val in = source(spark, "drop:3", ev, TinyStateWidth) { e =>
      val day = dayofmonth(col("ts"))
      Seq(e.filter(day >= 4 && day < 20), e.filter(day >= 20 && day < 27),
        e.filter(day >= 27 || day < 4))
    }
    val agg = in
      .withWatermark("ts", "72 hours")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Exact.xsum(col("value")).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("w.end").cast("timestamp_ntz").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
    toMemory(agg, OutputMode.Append())
      .orderBy(col("window_start"), col("event_type"))
  }

  val sqlDropState: String = {
    import graft.functions.Exact
    s"""WITH fwm AS (
       |  SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 72 HOUR AS wm
       |  FROM events
       |  WHERE ts IS NOT NULL AND day(CAST(ts AS TIMESTAMP)) < 27
       |), kept AS (
       |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
       |  FROM events
       |  WHERE ts IS NOT NULL AND day(CAST(ts AS TIMESTAMP)) >= 4
       |)
       |SELECT date_trunc('day', ts) AS window_start,
       |  date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
       |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSum("value")} AS total_value
       |FROM kept, fwm
       |WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm
       |GROUP BY 1, 2, 3
       |ORDER BY window_start, event_type""".stripMargin
  }

  val sqlJoinState: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events WHERE ts IS NOT NULL
      |), v AS (
      |  SELECT user_id, event_id AS view_id, ts AS view_ts FROM e
      |  WHERE event_type = 'view'
      |), c AS (
      |  SELECT user_id, event_id AS click_id, ts AS click_ts FROM e
      |  WHERE event_type = 'click'
      |)
      |SELECT v.user_id, v.view_id, c.click_id, v.view_ts, c.click_ts
      |FROM v JOIN c ON v.user_id = c.user_id
      |  AND c.click_ts >= v.view_ts
      |  AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE
      |ORDER BY v.user_id, v.view_id, c.click_id""".stripMargin
}
