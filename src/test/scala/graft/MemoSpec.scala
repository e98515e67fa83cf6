package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Bucketing

/** The per-session memo layer ([[Memo]]): one build per (session, name,
  * input frames), nested builds, self-time accounting, and invalidation
  * that leaves no memo serving the files a session read before they were
  * rewritten.
  */
class MemoSpec extends SparkSuite {
  private val fixture = "/root/testdata/sf0.001"

  test("memo: one build per (session, key), nested builds, per-session entries") {
    val a = spark.newSession()
    val b = spark.newSession()
    var builds = 0
    def outer(s: SparkSession): String = Memo(s, "spec.outer:k") {
      builds += 1
      // a nested memo resolved inside a build: one map, no recursive update
      Memo(s, "spec.inner:k") { builds += 1; "inner" } + "+outer"
    }
    MemoLedger.drain()
    assert(outer(a) == "inner+outer" && outer(a) == "inner+outer")
    assert(builds == 2)
    assert(MemoLedger.drain().keySet == Set("spec.outer:k", "spec.inner:k"))
    outer(b)
    assert(builds == 4, "another session builds its own entries")
    assert(Memo.untimed(a, "spec.untimed:k")("x") == "x")
    assert(MemoLedger.drain().keySet == Set("spec.outer:k", "spec.inner:k"),
      "an untimed build makes no ledger entry")
    Memo.invalidate(a)
    Memo.invalidate(b)
  }

  test("memo: ledger credits each build its self time") {
    val s = spark.newSession()
    MemoLedger.drain()
    val t0 = System.nanoTime()
    Memo(s, "spec.self.outer") {
      Thread.sleep(25)
      Memo(s, "spec.self.inner") { Thread.sleep(200); "inner" }
      Thread.sleep(25)
      "outer"
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val led = MemoLedger.drain()
    val (inner, outer) = (led("spec.self.inner"), led("spec.self.outer"))
    assert(inner >= 0.2, s"inner $inner")
    assert(outer >= 0.05 && outer < 0.2, s"outer $outer")
    assert(inner + outer <= wall, s"$inner + $outer > wall $wall")
    Memo.invalidate(s)
  }

  test("memo: equal plans share an entry, different inputs do not") {
    val s = spark.newSession()
    var builds = 0
    def ids(docs: DataFrame): DataFrame =
      Memo.pinned(s, "spec.derived", docs) { builds += 1; docs.select("doc_id") }
    val docs = Tables.documents(s, fixture)
    // (a) one name over the corpus and a filtered corpus: two artifacts
    val all = ids(docs)
    val even = ids(docs.filter(col("doc_id") % 2 === 0))
    assert(builds == 2)
    assert(all.count() > even.count() && even.count() > 0)
    // a frame whose columns are renamed reads as a different input
    ids(docs.select(col("doc_id"), col("text").as("body")))
    assert(builds == 3)
    // (b) two separately built frames over the same fixture: one build
    val again = ids(Tables.documents(s, fixture))
    assert(builds == 3 && (again eq all))
    Memo.invalidate(s)
  }

  test("memo: invalidate releases persisted frames and owned resources") {
    val a = spark.newSession()
    val b = spark.newSession()
    val df = Memo.persisted(a, "spec.persisted:k")(a.range(10).toDF("id"))
    assert(df.storageLevel != StorageLevel.NONE)
    val dir = Memo.owned(a, "spec.owned:k")(tempDir("graft_memo"))(
      d => Files.delete(d))
    val other = Memo(b, "spec.other:k")(new Object)
    // bucket_join's tables: named per entry, so two sessions of one
    // catalog never share a table
    val (oT, lT) = Bucketing.tables(a, fixture)
    assert(Bucketing.tables(b, fixture) != ((oT, lT)))
    val scratch = Path.of(java.net.URI.create(a.table(oT).inputFiles.head))
      .getParent.getParent
    assert(Files.isDirectory(scratch))
    Memo.invalidate(a)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!Files.exists(dir))
    assert(!Files.exists(scratch), s"bucket_join scratch $scratch left behind")
    assert(!a.catalog.tableExists(oT) && !a.catalog.tableExists(lT))
    assert(Memo(b, "spec.other:k")(new Object) eq other,
      "invalidate leaves other sessions alone")
    Memo.invalidate(b)
  }

  test("dedup memos build on first read: a pairs-only query runs no component iteration") {
    val s = spark.newSession()
    def builds(q: String): Set[String] = {
      MemoLedger.drain()
      SparkEntry.queries(q)(s, fixture)
      MemoLedger.drain().keySet.map(_.takeWhile(_ != '@'))
    }
    try {
      assert(builds("dedup_threshold_sweep") ==
        Set("dedup.bands", "dedup.pairs", "dedup.sets"))
      assert(builds("dedup_components") == Set("dedup.components"))
      assert(builds("dedup_cluster_stats").isEmpty)
    } finally Tables.invalidate(s)
  }

  // One consumer per memo artifact family: sim.knn, the NSW chain
  // (sim.lsh2/l1sym/nswsym/nswentry/nswvis, sim.n), bucket.tables,
  // dedup.bands/pairs/components, dedup.sets, graph:* (pinned and
  // persisted), text.winnow, text.bpe, training.shingles, corpus.clean,
  // sim.residuals + sim.res_book, sim.brute, sim.pca, sim.ivf_cents,
  // tables.events, stream.src.
  private val consumers = Seq(
    "sim_knn_graph", "sim_nsw_walk", "bucket_join",
    "dedup_components", "decon_minhash", "graph_pagerank",
    "text_winnow", "text_bpe_merges", "decon_overlap", "corpus_clean",
    "sim_ivfadc_trained", "sim_ivfadc_recall", "embed_pca_project",
    "sim_ivf_balance_trained", "events_redact", "stream_scd_state")

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("invalidate after a fixture rewrite: every memo serves the new files") {
    val copy = tempDir("graft_memo_fixture")
    tables.foreach { t =>
      Files.copy(Path.of(s"$fixture/$t.parquet"), copy.resolve(s"$t.parquet"))
    }
    val dir = copy.toString
    val a = spark.newSession()
    try {
      val before = consumers.map(q => q -> rows(SparkEntry.queries(q)(a, dir))).toMap
      // deterministic subset: drop keys ≡ 2 (mod 5) past the low ids
      // (the sim family's query, centroid and codebook seeds)
      tables.foreach { t =>
        val raw = spark.read.parquet(s"$fixture/$t.parquet")
        val key = col(raw.columns.head)
        Scratch.deleteTree(copy.resolve(s"$t.parquet"))
        raw.filter(key < 16 || key % 5 =!= 2).coalesce(1)
          .write.parquet(copy.resolve(s"$t.parquet").toString)
      }
      Tables.invalidate(a)
      val after = consumers.map(q => q -> rows(SparkEntry.queries(q)(a, dir)))
      val fresh = spark.newSession()
      try {
        val stale = after.filter { case (q, got) =>
          got != rows(SparkEntry.queries(q)(fresh, dir))
        }.map(_._1)
        assert(stale.isEmpty, s"stale after invalidate: ${stale.mkString(", ")}")
        val unchanged = after.collect { case (q, got) if got == before(q) => q }
        assert(unchanged.isEmpty,
          s"the rewrite left these results unchanged: ${unchanged.mkString(", ")}")
      } finally Tables.invalidate(fresh)
    } finally Tables.invalidate(a)
  }
}
