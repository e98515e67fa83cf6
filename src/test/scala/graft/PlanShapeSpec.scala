package graft

/** Plan-shape regressions: the scan-pruning / join-strategy properties the
  * engine's scale story depends on, asserted against the physical plans so
  * a refactor can't silently lose them.
  */
class PlanShapeSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** formatted mode: full PushedFilters/ReadSchema lists (but nodes appear
    * twice — tree + details), simple mode: one tree line per node.
    */
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def planTree(q: String): String =
    SparkSuite.stripMemoBuild(
      SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString)

  /** One registry query's verdicts under the three registry sweeps. */
  private final case class Swept(name: String, logicalWindow: Boolean,
      physicalWindow: Boolean, cartesian: Boolean)

  /** The registry sweeps' one walk: every query outside the stream family
    * (building those runs real micro-batch pipelines) is built once, in
    * name order, and its one QueryExecution yields each sweep's verdict.
    * Lazy: the first sweep test pays the builds, the other two read them.
    */
  private lazy val sweep: Seq[Swept] =
    SparkEntry.all.collect { case (f, q) if f != "stream" => q }
      .sortBy(_.name).map { q =>
        val qe = q.run(spark, dir).queryExecution
        Swept(q.name, unboundedLogicalWindow(qe.optimizedPlan),
          unboundedPhysicalWindow(qe.sparkPlan),
          qe.executedPlan.toString.contains("CartesianProduct"))
      }

  private def offenders(verdict: Swept => Boolean): Seq[String] =
    sweep.filter(verdict).map(_.name)

  /** A Window with no partitionBy whose input subtree holds no
    * cardinality bound: an Aggregate, a GlobalLimit (rank-filtered top-k
    * windows are rewritten by LimitPushDownThroughWindow into a
    * distributed Sort+Limit BELOW the window — the TakeOrdered shape), or
    * a WindowGroupLimit (the partial per-partition rank cut).
    */
  private def unboundedLogicalWindow(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow, WindowGroupLimit}
    plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case a: Aggregate => a
            case l: GlobalLimit => l
            case g: WindowGroupLimit => g
          }.isEmpty => w
    }.nonEmpty
  }

  /** A partition-less WindowExec whose child holds no physical
    * cardinality bound — an aggregate, a limit, a TakeOrderedAndProject,
    * or a WindowGroupLimit. Cached memo scans are looked THROUGH (the
    * bound may live in the cached build plan).
    */
  private def unboundedPhysicalWindow(
      plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def bounded(p: SparkPlan): Boolean = p.collectFirst {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec => true
      case _: CollectLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      case s: InMemoryTableScanExec if bounded(s.relation.cachedPlan) =>
        true
    }.isDefined
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
    }.nonEmpty
  }

  test("q2: predicates push down to the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThan(l_discount,0.05)"), p)
  }

  test("q1: scan reads only the referenced columns") {
    val p = plan("q1_pricing_agg")
    // 16-column lineitem pruned to the 7 referenced
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "pruned column still read:\n" + p)
    assert(!p.contains("l_partkey"), "pruned column still read:\n" + p)
  }

  test("q3: dimension joins broadcast (fact side never shuffles)") {
    val p = plan("q3_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q6: SCD merge is a single join with a single pair-expand") {
    val p = planTree("q6_scd_merge")
    assert("SortMergeJoin|BroadcastHashJoin".r.findAllIn(p).size == 1,
      "merge must be ONE join:\n" + p)
    assert("Generate".r.findAllIn(p).size == 1,
      "merge must have ONE explode:\n" + p)
  }

  test("sketch_kmv: one sketch aggregation — no distinct shuffle, no window") {
    // the KmvSketch TypedImperativeAggregate replaced the relational
    // distinct + rank-window pipeline: k-bounded partial buffers, one
    // exchange on the group key, nothing else moves
    val p = planTree("sketch_kmv")
    assert(p.contains("ObjectHashAggregate"), "KmvSketch must plan as an" +
      " object hash aggregate:\n" + p)
    assert(!p.contains("Window"), "sketch path regressed to a window:\n" + p)
    assert("Exchange".r.findAllIn(p).size <= 2, // partial→final + output order
      "extra shuffle in the sketch path:\n" + p)
  }

  test("sketch_join_est: sketch sides aggregate without distinct or sort") {
    val p = planTree("sketch_join_est")
    assert(!p.contains("Window"), "sketch path regressed to a window:\n" + p)
    // the per-side sketch build itself hides behind Iterate.pin in the
    // composed query — pin its shape directly: one object hash aggregate,
    // no distinct exchange, no sort
    graft.functions.VectorExprs.register(spark)
    val side = Tables.lineitem(spark, dir)
      .agg(graft.functions.VectorExprs.kmvMinHashes(
        graft.operators.TextOps.tokenHash(
          org.apache.spark.sql.functions.col("l_partkey").cast("string")),
        graft.operators.Sketch.K).as("hs"))
    val sp = side.queryExecution.executedPlan.toString
    assert(sp.contains("ObjectHashAggregate"), sp)
    assert(!sp.contains("Sort ") && !sp.contains("Window"), sp)
  }

  test("top-k rank filters run as WindowGroupLimit, not full window sort") {
    // row_number + rk<=k must hit Spark's rank-limit pushdown: each
    // partition keeps a k-bounded group state (partial) before the shuffle
    // and again after (final) — the scale path for every top-k query here.
    for (q <- Seq("q11_topk_window", "sim_brute_topk", "text_tfidf",
        "sim_hard_negatives", "text_ngram_lm", "corpus_stratified",
        "sim_sq_topk")) {
      val p = planTree(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost the rank-limit pushdown:\n$p")
    }
  }

  test("q31: range join runs as equi join, never nested-loop") {
    val p = planTree("q31_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degraded to all-pairs:\n" + p)
    assert(p.contains("Generate"), "no interval bucket explode:\n" + p)
  }

  test("q13: both windows and the aggregation share one hash exchange") {
    val p = planTree("q13_sessionize")
    // the memoized events relation is ALREADY hashpartitioning(user_id)
    // (the spread exchange lives in the memo build, paid once per
    // session), so windows + aggregation satisfy their distribution with
    // ZERO query-side hash exchange; only the final rangepartitioning for
    // the output ordering remains. Any hash exchange here means the
    // memo's co-partitioning was lost.
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 0, s"expected 0 hash exchanges, got $n:\n$p")
  }

  test("corpus_curriculum: quantile cuts broadcast — no corpus-wide window") {
    // a global-ntile formulation would show a Window over a
    // single-partition corpus sort; the cut-point form is one tiny
    // percentile aggregate broadcast back + map-side stage assignment
    val p = planTree("corpus_curriculum")
    assert(!p.contains("Window"), s"corpus-wide window crept in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("profile_skew: global top-k plans as TakeOrderedAndProject") {
    // a GLOBAL rank window's limit pushes into TakeOrderedAndProject
    // (per-partition top-k, merge of k·partitions rows) — even stronger
    // than WindowGroupLimit: the |keys| frame never single-partitions
    // before the limit
    val p = planTree("profile_skew")
    assert(p.contains("TakeOrderedAndProject(limit=10"), p)
  }

  test("events_sequences: rank window and aggregate share one user exchange") {
    val p = planTree("events_sequences")
    // zero since the events memo: its user_id partitioning feeds both
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 0, s"expected 0 hash exchanges, got $n:\n$p")
  }

  test("q42: OHLC is ONE aggregate pass — no window, no self-join") {
    val p = planTree("q42_ohlc")
    // a window/sort-per-group formulation would show Window or extra
    // exchanges; thin argmax keeps it at the grouping exchange (plus the
    // fixture-parallelism spread — OHLC re-keys by (type, hour)
    // immediately, so it reads events DIRECT, not through the user-keyed
    // memo whose partitioning it could not reuse)
    assert(!p.contains("Window"), s"window crept into OHLC:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 hash exchanges, got $n:\n$p")
  }

  test("q43: retention is one scan, no join — 2 exchanges total") {
    val p = planTree("q43_retention")
    // collect_set formulation: the user-keyed first pass reuses the
    // events memo's partitioning, leaving only the matrix grouping
    // exchange. The first-seen-join version scanned events twice and
    // showed extra exchanges; a regression here means the single-pass
    // shape was lost.
    assert(!p.contains("Join"), s"join crept into retention:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected 1 hash exchange, got $n:\n$p")
    assert("FileScan parquet|InMemoryTableScan".r.findAllIn(p).size == 1,
      s"events scanned more than once:\n$p")
  }

  test("corpus_pack: corpus rows never funnel through one partition") {
    val p = planTree("corpus_pack")
    // the per-doc cumulative sum must be a hash-partitioned window (by
    // bucket); the only SinglePartition work is the tiny bucket-totals
    // frame, which must join back via broadcast
    assert(p.contains("Exchange hashpartitioning(bkt"),
      "per-bucket window lost its hash partitioning:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast, not shuffle the corpus:\n" + p)
  }

  test("decon: eval side broadcasts; no shingle chain inside a Filter") {
    val p = planTree("decon_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "eval k-gram set must broadcast:\n" + p)
    // the InferFiltersFromGenerate regression: a plain explode re-inlines
    // the zip_with shingle chain into a pre-Generate Filter (no codegen,
    // no subexpression elimination → measured 4× slower)
    assert(!"Filter [^\\n]*zip_with".r.findFirstIn(p).isDefined,
      "shingle chain re-evaluated inside a Filter:\n" + p)
  }

  test("corpus_split: split assignment is map-side (no pre-agg shuffle)") {
    val p = planTree("corpus_split")
    // one exchange for the groupBy(split) + the output range sort; the
    // hash-split assignment itself must add none
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"hash split added shuffles ($n):\n$p")
  }

  test("corpus_wsample: global top-k is TakeOrdered, never a full sort") {
    val p = planTree("corpus_wsample")
    assert(p.contains("TakeOrderedAndProject"),
      "weighted sample lost the top-k plan:\n" + p)
    assert(!p.contains("Exchange rangepartitioning"),
      "weighted sample full-sorts the corpus:\n" + p)
  }

  /** Operator-induced shuffles only: the documents/embeddings loader adds
    * one deliberate REPARTITION_BY_COL spread exchange on under-split
    * fixture files (see Tables.spread) — not the operator's doing.
    */
  private def inducedShuffles(p: String): Int =
    "Exchange hashpartitioning[^\\n]*ENSURE_REQUIREMENTS".r.findAllIn(p).size

  test("corpus_chunk: chunk expansion is map-side (zero hash exchange)") {
    val p = planTree("corpus_chunk")
    assert(inducedShuffles(p) == 0, "chunking must not shuffle:\n" + p)
    assert(p.contains("Generate"), "no chunk explode:\n" + p)
  }

  test("dedup_substring: one window-hash pass, one exchange per key") {
    val p = planTree("dedup_substring")
    // single-pass formulation: exactly TWO induced hash exchanges (window
    // on h, aggregate on doc_id) and ONE Generate — a groupBy+join-back
    // form would re-evaluate the tokenize/hash subtree per branch
    assert("Generate".r.findAllIn(p).size == 1,
      "window-hash subtree evaluated more than once:\n" + p)
    val n = inducedShuffles(p)
    assert(n == 2, s"expected 2 induced hash exchanges, got $n:\n$p")
  }

  test("text_source_overlap: set-dedup inside ONE fingerprint exchange") {
    val p = planTree("text_source_overlap")
    // the (source, fingerprint) dedup must happen inside collect_set's
    // partial aggregate — a separate distinct would add an exchange
    // partitioned on BOTH columns before the fingerprint aggregation
    assert(!p.contains("hashpartitioning(source"),
      "distinct-style source+fingerprint exchange crept back in:\n" + p)
    assert(p.contains("collect_set"), p)
  }

  test("text_quality_rank: corpus window keys on (lang, bucket), not lang") {
    val p = planTree("text_quality_rank")
    // the corpus-side row_number must partition on (lang, bucket) — a
    // lang-only window funnels the dominant language into one partition
    assert(p.contains("hashpartitioning(lang") && p.contains("bucket"),
      "bucketed window key lost:\n" + p)
    // the tiny (lang, bucket) offset table joins back as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("events_compact: log compaction is one aggregate — no window sort") {
    val p = planTree("events_compact")
    assert(!p.contains("Window"), "argmax degraded to a window:\n" + p)
    // zero hash exchanges: the memo's hashpartitioning(user_id) is a
    // subset of the (user, type) clustering, so the agg reuses it; the
    // tail sort is the dump
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0, p)
  }

  test("q70: single candidate tower — the per-part min rides the pair exchange") {
    val p = planTree("q70_min_cost_supplier")
    // window-over-one-exchange form (round 11): the aggregate-then-rejoin
    // decorrelation planned the candidate tower TWICE (6 parquet scans);
    // now lineitem/part/supplier are scanned once each and the min
    // re-attaches as a window over the part-key repartition
    assert("Scan parquet".r.findAllIn(p).size == 3,
      "candidate tower duplicated again:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "expected only the part-key repartition exchange:\n" + p)
    assert(p.contains("Window"), "per-part min lost its window form:\n" + p)
  }

  test("q71 AQE-final: stats branch reuses the probe's per-part exchange") {
    // the threshold rollup and the probe share one per-part aggregate
    // exchange (AQE dedups the stages once the partial aggregates
    // canonicalize identically — see the n_parts spelling in SparkEntry);
    // a second FileScan here means the reuse was lost and lineitem is
    // scanned + aggregated twice again
    val p = finalPlan("q71_important_parts")
    assert(p.contains("ReusedExchange"),
      "stats branch no longer reuses the probe exchange:\n" + p)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "lineitem scanned more than once:\n" + p)
  }

  test("dedup_containment: candidate generation stays equi-join, no nested loop") {
    val p = planTree("dedup_containment")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  /** Execute a query and slice its AQE-FINAL plan (the runtime-decided
    * shape — exchange coalescing, join strategy revisions — that the
    * static `planTree` pins cannot see).
    */
  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val fi = full.indexOf("== Final Plan ==")
    val ii = full.indexOf("== Initial Plan ==")
    if (fi >= 0 && ii > fi) full.substring(fi, ii) else full
  }

  test("dedup_containment AQE-final: coalesced shuffles, equi joins only") {
    // the suite's heaviest candidate join: a regression here (AQE losing
    // the runtime right-sizing, or the prefix join degrading to a nested
    // loop at runtime) was previously visible only as wall time
    val p = finalPlan("dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("AQEShuffleRead coalesced"),
      "AQE no longer right-sizes the candidate shuffles:\n" + p)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, "prefix join lost its equi form:\n" + p)
  }

  test("text_winnow_pairs AQE-final: partial bucket agg, lazy pair expand") {
    val p = finalPlan("text_winnow_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // fingerprint buckets must partial-aggregate map-side: the exchange
    // carries collected id lists, never one row per (doc, fingerprint)
    assert(p.contains("partial_collect_list"),
      "bucket build lost map-side partial aggregation:\n" + p)
    assert(p.contains("AQEShuffleRead coalesced"),
      "AQE no longer right-sizes the bucket shuffles:\n" + p)
    assert(p.contains("graft_pair_expand"),
      "bucket pair expansion no longer the lazy generator:\n" + p)
  }

  test("graph_triangles adjacency: broadcast by default, hash joins on conf") {
    // the SCALE.md broadcast→hash trade-off as a runtime switch, on the
    // per-edge common-count pass the census reads: with autoBroadcast
    // off so the HINTS are the only broadcast source, the default mode
    // must broadcast the two adjacency sides, and
    // spark.graft.triangles.broadcastAdj=false must run the SAME plan
    // with shuffled equi joins — identical census either way
    import spark.implicits._
    import graft.operators.Graph
    val edges = (for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j))
      .toDF("pa", "pb")
    def common = Graph.edgeCommonCounts(edges, Graph.fullAdjacency(edges))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pB = common.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(pB).size == 2,
        "adjacency sides must broadcast by default:\n" + pB)
      spark.conf.set("spark.graft.triangles.broadcastAdj", "false")
      val commonH = common
      val pH = commonH.queryExecution.executedPlan.toString
      assert(!pH.contains("BroadcastHashJoin"),
        "hash mode must not broadcast the adjacency:\n" + pH)
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(pH).size >= 2,
        "adjacency joins lost their shuffled equi form:\n" + pH)
      val r = Graph.triangleStats(edges, Graph.degrees(edges), commonH)
        .collect().head
      assert(r.getAs[Long]("n_triangles") == 4 &&
        r.getAs[Double]("global_clustering") == 1.0,
        "hash mode changed the census")
    } finally {
      spark.conf.unset("spark.graft.triangles.broadcastAdj")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("text_winnow: one doc-level exchange, explode below no further shuffle") {
    // the in-plan partition knob: the document frame repartitions by
    // doc_id BEFORE the explode (satisfying the window's distribution),
    // so the ~10× token stream must never cross the wire — exactly one
    // hashpartitioning(doc_id) exchange, sitting UNDER the Generate.
    // Asserted on the operator directly: the round-10 registry route
    // reads the memoized fingerprint pin (winnowCached), which hides
    // the upstream plan from the final tree (the semanticPairs note).
    val p = graft.operators.TextOps.winnow(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    val genIdx = p.indexOf("Generate")
    val exIdx = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(genIdx >= 0 && exIdx >= 0, p)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1,
      "token stream crosses the wire more than once:\n" + p)
    // toString prints parents first: the exchange printing AFTER the
    // Generate means it executes BELOW it (pre-explode)
    assert(exIdx > genIdx,
      "doc_id exchange sits above the explode (shuffles tokens):\n" + p)
  }

  test("semanticPairs: centroid assignment broadcasts, pairs join on cell") {
    // asserted on the pair stage directly: semanticDedup's component pass
    // checkpoints eagerly, which hides the upstream plan from the final tree
    val p = graft.operators.Similarity
      .semanticPairs(Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid table must broadcast for the assignment pass:\n" + p)
    assert(p.contains("hashpartitioning(bucket"),
      "pair join must hash-partition on the cell key:\n" + p)
  }

  test("corpus_shard: rank windows key on (shard, bucket), offsets broadcast") {
    val p = planTree("corpus_shard")
    // within-shard positions must come from the distributed prefix sum —
    // a (shard, bucket)-keyed rank window plus a broadcast of the tiny
    // offset table — never a per-shard (let alone global) sort partition
    assert(p.contains("Exchange hashpartitioning(shard") &&
      p.contains("bkt"),
      "rank window lost its (shard, bucket) partitioning:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast, not shuffle the corpus:\n" + p)
  }

  test("events_debounce: all three window functions share one exchange") {
    val p = planTree("events_debounce")
    // zero since the events memo: user_id partitioning satisfies the
    // (user, type) clustering, so all three windows run exchange-free
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 0,
      s"debounce must reuse the memo partitioning, saw $exchanges:\n" + p)
  }

  test("events_cooccur: no sort-merge join touches the event stream") {
    // the set-aggregate feeds every branch; the only joins are the tiny
    // broadcast stat tables at the end
    val p = planTree("events_cooccur")
    assert(!p.contains("SortMergeJoin"),
      "co-occurrence must not shuffle-join the stream:\n" + p)
  }

  test("q44: nearest as-of never uses an UnboundedFollowing frame") {
    // first(...) over (currentRow → unboundedFollowing) executes as
    // UnboundedFollowingWindowFunctionFrame — a per-row re-scan to the
    // partition end, O(rows²) per key (measured 27 s vs 0.5 s for the
    // directional as-ofs at sf0.1). The forward pick must be the
    // reversed-sort preceding frame instead.
    val p = planTree("q44_asof_nearest").toLowerCase
    assert(!p.contains("unboundedfollowing"),
      "forward pick must be a reversed-sort PRECEDING frame:\n" + p)
    assert(p.sliding("hashpartitioning(k".length)
      .count(_ == "hashpartitioning(k") >= 1,
      "union frame must key-partition once:\n" + p)
  }

  test("embed_outliers: top-k per label runs as WindowGroupLimit") {
    val p = planTree("embed_outliers")
    assert(p.contains("WindowGroupLimit"),
      "per-label top-k must be a partial top-k, not a full sort:\n" + p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "centroid arrays must broadcast:\n" + p)
  }

  test("text_classifier: model join broadcasts; one doc-keyed aggregate") {
    val p = planTree("text_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "vocab/weight table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "token scoring must never sort-merge:\n" + p)
  }

  test("dedup_spans: document text never rides the span-hash exchange") {
    val p = planTree("dedup_spans")
    // the window exchange on the span hash must move only ids + hash:
    // no span_text / w (word array) attribute in any exchange above it
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning(h"))
      .mkString("\n")
    assert(exch.nonEmpty, "expected a hash exchange on the span hash:\n" + p)
    assert(!exch.contains("span_text") && !exch.contains("w#"),
      "span text must be dropped before the hash shuffle:\n" + exch)
  }

  test("changelog ops: one keyed exchange each, no join, no extra sort pass") {
    for (q <- Seq("scd_intervals", "events_attribution")) {
      val p = planTree(q)
      // zero since the events memo: the user-keyed window reuses its
      // hashpartitioning(user_id) directly
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 0,
        s"$q must reuse the memo partitioning, saw $exchanges:\n$p")
      assert(!p.contains("Join"), s"$q must never join:\n$p")
    }
  }

  test("scd_timetravel: thin argmax — partial agg before the exchange, no window") {
    val p = planTree("scd_timetravel")
    assert(!p.contains("Window"),
      "AS-OF must be an argmax aggregate, not a window sort:\n" + p)
    assert(!p.contains("Join"), "AS-OF must never join:\n" + p)
    // partial+final pair (SortAggregate — struct max is not hash-aggregable):
    // with no pre-partitioned input, the partial side combines map-side so
    // only |keys| thin structs would cross the wire
    assert(p.contains("partial_max"),
      "expected a partial (map-side-combinable) aggregation:\n" + p)
  }

  test("text_lm_score: LM joins broadcast; bigram stream never sort-merges") {
    val p = planTree("text_lm_score")
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary-sized LM must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus bigram stream must never shuffle into a join:\n" + p)
  }

  test("dedup_band_profile: two agg levels, no pair expansion (no Generate join)") {
    val p = planTree("dedup_band_profile")
    assert(!p.contains("Join"),
      "the profile must price expansion without performing it:\n" + p)
  }

  test("q47: interval-overlap join stays equi-keyed, never nested-loop") {
    val p = planTree("q47_session_incidents")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "interval overlap must bucket-join, not nested-loop:\n" + p)
  }

  test("q46: five-way join broadcasts every dim; one fact-fact shuffle join") {
    val p = planTree("q46_revenue_by_nation")
    val shuffleJoins = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(shuffleJoins <= 1,
      s"only orders⋈lineitem may shuffle, saw $shuffleJoins:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "nation/region/supplier (and customer side) must broadcast:\n" + p)
  }

  test("events_ema: eight lags share one user-keyed window and exchange") {
    val p = planTree("events_ema")
    // zero since the events memo: the user window reuses its partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 0,
      s"EMA must reuse the memo partitioning, saw $exchanges:\n$p")
    assert("Window".r.findAllIn(p).size == 1,
      "all lag depths must fuse into one Window node:\n" + p)
  }

  test("profile_checks: row-local checks share one scan of the fact table") {
    val p = planTree("profile_checks")
    // 3 scans total: the conditional-sum pass, the uniqueness groupBy,
    // and the referential anti join (plus the orders dim) — adding a
    // row-local check must NOT add a lineitem scan
    val liScans = "FileScan parquet".r.findAllIn(p).size
    assert(liScans <= 4, s"expected ≤4 scans, saw $liScans:\n$p")
  }

  test("q50: custom AsOfJoinExec plans as a sorted merge, no window") {
    val p = planTree("q50_asof_phys")
    // nodeName strips the Exec suffix; no `!` marker (missing input)
    assert("\\bAsOfJoin\\b".r.findFirstIn(p).isDefined,
      "custom operator not planned:\n" + p)
    assert(!p.contains("!AsOfJoin"), "exec reports missing input:\n" + p)
    // the merge consumes per-side sorts below the exchange boundary,
    // exactly like sort-merge join — and never the union+window form
    assert(!p.contains("Window"), "window machinery crept back:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Sort \\[k#\\d+L ASC".r.findAllIn(p).size == 2,
      "per-side (key, time) sorts missing:\n" + p)
  }

  test("scd_snapshot_diff: both snapshots from one scan, one exchange") {
    val p = planTree("scd_snapshot_diff")
    assert("FileScan parquet|InMemoryTableScan".r.findAllIn(p).size == 1,
      "diff must not scan events per snapshot:\n" + p)
    // zero since the events memo: the user_id partitioning is a subset
    // of the keyed aggregation's clustering
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      "diff must be ONE exchange-free keyed aggregation:\n" + p)
  }

  test("events_top_paths: both leads share one user window and exchange") {
    val p = planTree("events_top_paths")
    assert("Window".r.findAllIn(p).size <= 2, p) // user window + top-k rank
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "leads must fuse into the user exchange:\n" + p)
  }

  test("text_vocab_growth: checkpoints never re-scan the text column") {
    val p = planTree("text_vocab_growth")
    // 4 scans: first-occurrence explode + token counts (the two that
    // read `text`) and the bounds aggregate once per branch (doc_id
    // only — a thin columnar scan). Four CHECKPOINTS must not mean four
    // text scans: the per-cut work reads the |vocab|-row frame against a
    // broadcast cut table.
    assert("FileScan parquet".r.findAllIn(p).size <= 4, p)
    val textScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("text#"))
      .size
    assert(textScans <= 2, s"per-cut text rescan ($textScans):\n$p")
  }

  test("graph_triangles: 1-row aggregate over the shared common-memo") {
    // round-10: the registry route derives 3T = Σ n_common from the
    // SAME pinned per-edge intersection pass the link rankings read
    // (coPartCommonCached) — no per-call orientation rebuild, no
    // adjacency join at all. Wedges must still never materialize.
    val p = planTree("graph_triangles")
    assert(!p.contains("SortMergeJoin"), "wedge join regressed:\n" + p)
    assert(!p.contains("Generate"),
      "wedges materialized through a generator:\n" + p)
    // no join of any kind below the census aggregates: the memo rows
    // reach the 1-row sums directly (cross-joining the three 1-row
    // aggregates is the only join surface left)
    assert(!p.contains("BroadcastHashJoin"),
      "unexpected probe join on the memoized route:\n" + p)
  }

  test("triangle common-count pass: adjacency broadcasts; wedges never " +
      "materialize") {
    // plan the UNCACHED per-edge intersection pass the census reads (the
    // coPartCommonCached pin hides its shape): both endpoint lookups
    // probe the broadcast sorted-adjacency table
    import graft.operators.Graph
    val edges = Graph.coPartEdgesCached(graft.Tables.lineitem(spark, dir))
    val p = Graph.edgeCommonCounts(edges, Graph.fullAdjacency(edges))
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), "wedge join regressed:\n" + p)
    assert(!p.contains("Generate"),
      "wedges materialized through a generator:\n" + p)
  }

  test("graph_degrees: pinned edges to histogram with zero joins") {
    val p = planTree("graph_degrees")
    assert(!p.contains("Join"), "degree histogram must not join:\n" + p)
  }

  test("sim_ivfpq_topk: broadcast LUT, WindowGroupLimit-pruned top-k") {
    val p = planTree("sim_ivfpq_topk")
    // codebook + LUT ride as broadcasts; the ADC sum must aggregate,
    // never rank the full candidate set
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("WindowGroupLimit"), "top-k prune lost:\n" + p)
  }

  test("sim_ivfadc_topk: residual path keeps the broadcast ADC shape") {
    val p = planTree("sim_ivfadc_topk")
    // centroid table, residual codebook and LUT all broadcast (the
    // corpus-sized probe and code-assignment joins legitimately shuffle
    // on the cell/cand keys — that IS the IVF scan shape)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("WindowGroupLimit"), "top-k prune lost:\n" + p)
  }

  test("text_source_tvd: pinned count frame — the corpus text is never " +
    "re-exploded per consumer") {
    val p = planTree("text_source_tvd")
    assert(!p.contains("CartesianProduct"), p)
    // the four consumers read the materialized (source, word) counts:
    // the visible plan must contain NO text explode and NO parquet scan
    // of the documents table (they ran once, inside the pin)
    assert(!p.contains("Generate"), "corpus re-exploded downstream:\n" + p)
    assert(!p.contains("Scan parquet"),
      "consumer re-scanned the corpus instead of the pin:\n" + p)
  }

  test("dedup_source_jaccard: pinned word frame; pair expansions are " +
    "lazy, nothing is all-pairs") {
    val p = planTree("dedup_source_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "source pairing regressed to a loop join:\n" + p)
    assert(!p.contains("Scan parquet"),
      "consumer re-scanned the corpus instead of the pin:\n" + p)
    // the only Generates left are the two lazy pair expansions (and the
    // signature melt) — never a words explode over the corpus
    assert(!p.contains("explode(split"), "corpus re-exploded:\n" + p)
  }

  test("corpus_split_leakage: split label computed map-side, no extra " +
    "shuffle beyond the two doc-keyed joins") {
    val p = planTree("corpus_split_leakage")
    assert(!p.contains("CartesianProduct"), p)
    // the split CASE must not introduce a window or repartition of docs
    assert(!p.contains("Window"), "split labeling grew a window:\n" + p)
  }

  test("events_acf: calendar lag join never degrades to all-pairs") {
    val p = planTree("events_acf")
    assert(!p.contains("CartesianProduct"),
      "lag alignment became a cartesian:\n" + p)
    // the heavy subtree is the daily aggregation; the 7-row lag dim must
    // ride as a broadcast, not shuffle the day frame per lag
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHash"),
      "lag dimension not broadcast:\n" + p)
  }

  test("sketch_f2_ams: neither side adds a keyed shuffle of the stream") {
    val p = planTree("sketch_f2_ams")
    // the only keyed exchanges are the fixture loader's stable-retry
    // repartitions (REPARTITION_BY_COL, on the audit key, so the exact
    // groupBy REUSES them); the 16-counter sketch side collapses
    // map-side to a single row and moves through SinglePartition only —
    // no ENSURE_REQUIREMENTS keyed exchange anywhere
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS")),
      "a keyed shuffle appeared beyond the input prep:\n" + p)
  }

  test("graph_link_jaccard: global top-k runs as TakeOrderedAndProject") {
    // a GLOBAL row_number window collapses differently from the
    // partitioned top-k queries: the per-partition top-k heap + merge
    // (TakeOrderedAndProject) feeds the k-row Window — never a full
    // |E|-row single-partition window sort
    val p = planTree("graph_link_jaccard")
    assert(p.contains("TakeOrderedAndProject"),
      "global ranking lost the top-k heap:\n" + p)
  }

  test("bucket_join: co-located buckets join with no exchange below the join") {
    // at fixture scale Catalyst rightly broadcasts the small side; the
    // bucket path is the fact⋈fact regime, so pin it with broadcast off
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try {
      graft.operators.Bucketing.bucketJoin(spark, dir)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    // the join itself must be the sort-merge over co-located buckets
    assert(p.contains("SortMergeJoin"), p)
    // everything printed below the SMJ line is its subtree (the
    // aggregation and final sort sit above it): neither join child may
    // shuffle — that is the entire point of paying the bucketed write
    // once. (An in-partition Sort above each scan is EXPECTED on
    // Spark ≥ 3: bucket sort-order reuse sits behind
    // spark.sql.legacy.bucketedTableScan.outputOrdering, off by
    // default — the sort is local and network-free, the exchange is
    // the cost that matters.)
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange"),
      "bucketed join children must not shuffle:\n" + p)
    // and the scans carry bucket metadata
    assert(below.contains("SelectedBucketsCount"), p)
  }

  test("q54: customer broadcasts, top-10 is a heap, predicates push down") {
    val p = plan("q54_ship_priority")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "global top-10 lost the k-heap:\n" + p)
    // both date bounds reach the scans
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("scd_overlap_audit: one keyed exchange, no join") {
    val p = planTree("scd_overlap_audit")
    assert(!p.contains("Join"), "audit must not join:\n" + p)
    // key exchange for the window; AQE may add the final-order shuffle
    assert("Exchange".r.findAllIn(p).size <= 2,
      "audit grew extra shuffles:\n" + p)
    assert("Window".r.findAllIn(p).size >= 1, p)
  }

  test("burstiness/mad: no corpus-wide unpartitioned window") {
    for (q <- Seq("events_burstiness", "events_mad")) {
      val p = planTree(q)
      // every Window in these plans is keyed by event_type — a global
      // (empty-partition) window would print 'Window [... ORDER BY' with
      // no partition spec and run single-threaded over the corpus
      assert(!p.contains("SinglePartition"),
        s"$q has a single-partition corpus stage:\n" + p)
    }
  }

  test("q58: dim broadcasts and the ship-date band reaches the scan") {
    val p = plan("q58_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q59: aggregate-then-join keeps both big tables unshuffled") {
    // lineitem aggregates first; the tiny survivor frame broadcasts into
    // orders and then customer — no sort-merge join anywhere
    val p = planTree("q59_large_orders")
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("skyline: sweep window runs on the per-size frame, result joins broadcast") {
    val p = planTree("q69_skyline")
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // distributive pre-aggregation: no Generate, no cartesian product
    assert(!p.contains("CartesianProduct"), p)
  }

  test("adamic-adar: scores fold in-array — no wedge explosion") {
    // plan the UNCACHED scoring pass (the memo pin hides the shape):
    // the dense-graph discipline says the intersection members are never
    // exploded to rows, so no Generate may appear above the edge memo
    val edges = graft.operators.Graph.coPartEdgesCached(
      Tables.lineitem(spark, dir))
    val p = graft.operators.Graph.adamicAdar(graft.operators.Graph.aaScores(
      edges, graft.operators.Graph.degrees(edges)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), "wedge rows materialized:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("boilerplate: one gram explosion, leaderboard group-limited") {
    val p = planTree("text_boilerplate")
    assert("Generate".r.findAllIn(p).size == 1,
      "gram stage must explode exactly once:\n" + p)
    // the rank-limit prunes either way: WindowGroupLimit partial state,
    // or (here — global empty-partition window) a TakeOrderedAndProject
    // k-heap below the window. Either keeps the gram space un-sorted.
    assert(p.contains("WindowGroupLimit") ||
      p.contains("TakeOrderedAndProject"),
      "leaderboard lost the rank-limit pushdown:\n" + p)
  }

  test("sdc: code-space scoring joins broadcast, top-k group-limited") {
    val p = planTree("sim_sdc_topk")
    assert(!p.contains("SortMergeJoin"),
      "a tiny LUT frame regressed to a sort-merge join:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("multiprobe: probe fan explodes the QUERY side only, broadcast join") {
    val p = planTree("sim_lsh_multiprobe")
    // exactly one Generate — the 5-way probe explode on the query slice;
    // the corpus side must stay a plain bucketed scan
    assert("Generate".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("bloom skip: bounds and probes ride broadcasts, no sort-merge join") {
    val p = planTree("layout_bloom_skip")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("closeness: per-level seed-count joins broadcast") {
    val p = planTree("graph_closeness")
    assert(!p.contains("SortMergeJoin"),
      "a |seeds|-row count frame regressed to a sort-merge join:\n" + p)
  }

  test("registry sweep: every unpartitioned window sits above an aggregate") {
    // The "global order without global windows" discipline (SCALE.md):
    // a Window with NO partitionBy serializes its whole input through one
    // task, which is only acceptable when an upstream Aggregate has
    // already bounded the cardinality (daily rollups, per-group stats).
    // Nothing used to ENFORCE that for new queries — this sweep flags any
    // registry plan with a single-partition window whose input subtree
    // contains no cardinality bound ([[unboundedLogicalWindow]]).
    // Streaming oracles are skipped (their final state frames are tiny
    // aggregations by construction). A query whose bounding aggregate
    // hides UPSTREAM of an Iterate.pin lineage cut (the pin materializes
    // as a LogicalRDD, so the optimizer — and this sweep — cannot see
    // past it) would need exempting here by name; currently none does.
    val bad = offenders(_.logicalWindow)
    assert(bad.isEmpty,
      "unpartitioned window over an unbounded input in: " +
        bad.mkString(", "))
  }

  test("registry sweep: no physical single-partition window over an " +
      "unbounded child") {
    // The PHYSICAL complement of the logical sweep above: the planner
    // turns a partition-less Window into a WindowExec over a SINGLE
    // partition (the log's "No Partition Defined" warning), so this
    // requires each such WindowExec in every registry query's sparkPlan
    // to sit above a physical cardinality bound
    // ([[unboundedPhysicalWindow]]) — catching both a logical shape the
    // optimizer failed to rewrite (LimitPushDownThroughWindow off, a
    // frame that defeats WindowGroupLimit) and a future physical-strategy
    // change the logical sweep cannot see.
    val bad = offenders(_.physicalWindow)
    assert(bad.isEmpty,
      "physical single-partition window over an unbounded child in: " +
        bad.mkString(", "))
  }

  test("registry sweep: no CartesianProduct in any physical plan") {
    // every intentional cross join in the suite is crossJoin(broadcast(…))
    // — a scalar attach or a bounded query-side frame — which plans as
    // BroadcastNestedLoopJoin. A CartesianProduct means BOTH sides were
    // too big to broadcast: the one physical shape that cannot survive a
    // 100× scale-up. Nothing currently plans one; this pins that for
    // every future query.
    val bad = offenders(_.cartesian)
    assert(bad.isEmpty, "CartesianProduct planned in: " + bad.mkString(", "))
  }

  test("text_pii: pure map stage — no shuffle before the output order") {
    // the scrub's scale claim (SCALE.md): regex scan + redact stay inside
    // whole-stage codegen with ZERO exchanges until the harness's total
    // ORDER BY (one range partitioning)
    val p = planTree("text_pii")
    assert(!p.contains("Aggregate") && !p.contains("Join") &&
      !p.contains("Window"), "PII scan must stay map-only:\n" + p)
    // allowed exchanges: the documents loader's own repartition + the
    // harness's final ORDER BY range partitioning — nothing computed
    assert("Exchange".r.findAllIn(p).size <= 2,
      "extra exchange in the PII scan:\n" + p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("events_rolling_mau: two aggregate stages, no range join") {
    // distinct-over-sliding-window discipline: map-side ×7 fanout + hash
    // aggregates; a regression to a per-window re-scan or a range join
    // would show up as extra joins/exchanges
    val p = planTree("events_rolling_mau")
    assert(!p.contains("CartesianProduct"), p)
    assert("Generate".r.findAllIn(p).size == 1,
      "MAU fanout must be ONE explode:\n" + p)
  }

  test("dedup_edit: candidates come from the pair memo, not a fresh " +
      "signature tower") {
    // the registry feeds editPairs the pinned pair memo; a
    // regression to the standalone route re-runs the whole md5 minhash
    // chain per call (opt round 1: 1.25 s -> 0.31 s isolated)
    val p = planTree("dedup_edit")
    assert(!p.contains("md5("),
      "signature chain recomputed outside the memo:\n" + p)
    assert(p.contains("Scan ExistingRDD"),
      "candidate side no longer reads the pinned pair memo:\n" + p)
  }

  test("dedup_jaccard: shingle sets come from the shared memo") {
    // same discipline: the sorted-distinct shingle sets read from
    // shingleSetsCached; only the (lang, bucket) attach join and the
    // block expansion remain in the plan
    val p = planTree("dedup_jaccard")
    assert(!p.contains("md5("),
      "shingle chain recomputed outside the memo:\n" + p)
    assert(p.contains("Scan ExistingRDD"),
      "set side no longer reads the pinned shingle memo:\n" + p)
  }
}
