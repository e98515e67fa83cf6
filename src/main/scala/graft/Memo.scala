package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.lit

import graft.operators.Iterate

/** The library's one per-session memo: every artifact built once per
  * (session, name, input frames) and reused by later queries of that
  * session — fixture scan plans, pinned or persisted frames, trained index
  * artifacts, written bucketed tables, stream source splits.
  *
  * An entry is keyed by what its build reads. `name` names the artifact
  * and any non-frame value the build reads (`graph.louvc:3`,
  * `sim.l1sym:16`); `inputs` are the frames it reads, compared by their
  * canonicalized analyzed plans — Spark's `sameResult`, which ignores
  * expression ids — and their column names. Two separately built
  * `Tables.documents(s, d)` frames share one entry; a filtered corpus, a
  * toy `createDataFrame` or a memo frame re-pinned over a new RDD gets
  * its own. An entry whose input really is a path (`tables.read`,
  * `tables.events`, `bucket.tables`, `stream.src`) names the path and
  * passes no frames. Timed builds report their self seconds to
  * [[MemoLedger]].
  *
  * Builds run outside any map lock and then race a put-if-absent. Builds
  * nest (louvcc → louvc → prdeg → edges, corpus.clean → dedup.bands), and
  * a `computeIfAbsent` that recursed into the same map would throw
  * "Recursive update". A lost race built its value twice; the loser is
  * released (see [[discard]]).
  *
  * Lifecycle: [[invalidate]] drops and releases every entry of a session,
  * the one call needed after rewriting a fixture dir the session already
  * read — a file scan's plan compares its root paths, not the files under
  * them. Entries of stopped sessions are dropped on every access, without
  * a release: their blocks died with the context. (A WeakHashMap would
  * not work: a cached DataFrame strongly references its own session.)
  */
object Memo {
  private final class Entry(val value: AnyRef, val release: () => Unit)

  /** Per input: its canonicalized plan and its column names (which
    * canonicalization erases, but a build reads). */
  private final case class Key(session: SparkSession, name: String,
      inputs: Seq[(LogicalPlan, Seq[String])]) {
    /** `name@<hex semanticHash of each input>` */
    def ledger: String = if (inputs.isEmpty) name
      else inputs.map(i => f"${i._1.hashCode}%x").mkString(s"$name@", "+", "")
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The value of `name` over `inputs` in `spark`, built and timed on
    * first touch.
    */
  def apply[T <: AnyRef](spark: SparkSession, name: String, inputs: Dataset[_]*)(
      build: => T): T =
    owned(spark, name, inputs: _*)(build)(_ => ())

  /** [[apply]] for a value that holds a resource outside Spark (a scratch
    * directory); `release` frees it when the entry is dropped.
    */
  def owned[T <: AnyRef](spark: SparkSession, name: String, inputs: Dataset[_]*)(
      build: => T)(release: T => Unit): T = {
    val k = key(spark, name, inputs)
    resolve(k) {
      val v = MemoLedger.timed(k.ledger)(build)
      (v, () => release(v))
    }
  }

  /** [[apply]] without a ledger entry, for plan-level values (scan plans,
    * partitioning decisions, row counts, sessions) that cost no job.
    */
  def untimed[T <: AnyRef](spark: SparkSession, name: String, inputs: Dataset[_]*)(
      build: => T): T =
    resolve(key(spark, name, inputs))((build, () => ()))

  /** A frame materialized through [[Iterate.pin]]: lineage cut, blocks
    * reclaimed by the context cleaner once the entry is dropped.
    */
  def pinned(spark: SparkSession, name: String, inputs: Dataset[_]*)(
      build: => DataFrame): DataFrame =
    apply(spark, name, inputs: _*)(Iterate.pin(build))

  /** A frame materialized through an eager `persist`. Unlike a checkpoint,
    * the cached InMemoryRelation keeps its child's outputPartitioning in
    * the planner, so a pre-partitioned memo spares every consumer its
    * exchange; lineage is kept, so a lost block recomputes from source.
    *
    * The `filter(lit(true))` marker keeps the cache to this memo's
    * consumers: CacheManager substitutes a cached plan into ANY query whose
    * analyzed subtree matches it, so persisting a bare scan plan would
    * silently re-route every direct reader of that table through the
    * cache too. The marker makes the plan match only frames built from
    * the returned DataFrame, and is optimized away after substitution.
    */
  def persisted(spark: SparkSession, name: String, inputs: Dataset[_]*)(
      build: => DataFrame): DataFrame =
    owned(spark, name, inputs: _*) {
      val df = build.filter(lit(true)).persist()
      df.count()
      df
    } { df => df.unpersist(blocking = false); () }

  /** Drop every entry of `spark` and release it: persisted frames are
    * unpersisted and owned resources freed. Later reads rebuild from the
    * current files.
    */
  def invalidate(spark: SparkSession): Unit =
    entries.forEach { (k, e) =>
      if ((k.session eq spark) && entries.remove(k, e)) e.release()
    }

  private def key(spark: SparkSession, name: String, inputs: Seq[Dataset[_]]): Key =
    Key(spark, name, inputs.map(_.queryExecution.analyzed)
      .map(p => (p.canonicalized, p.output.map(_.name))))

  private def resolve[T <: AnyRef](k: Key)(build: => (T, () => Unit)): T = {
    entries.keySet.removeIf(_.session.sparkContext.isStopped)
    val hit = entries.get(k)
    if (hit != null) hit.value.asInstanceOf[T]
    else {
      val (value, release) = build
      val entry = new Entry(value, release)
      val prior = entries.putIfAbsent(k, entry)
      if (prior == null) value
      else {
        discard(entry, prior)
        prior.value.asInstanceOf[T]
      }
    }
  }

  /** Release a lost race's value, unless it shares the winner's cache.
    * Spark's CacheManager keys cached data by plan equivalence, so when
    * the loser's plan matches the winner's (the common case: both builds
    * resolved the same inner memos) its persist was a no-op against the
    * winner's entry, and unpersisting it would evict the winner's cache.
    */
  private def discard(loser: Entry, winner: Entry): Unit =
    (loser.value, winner.value) match {
      case (a: Dataset[_], b: Dataset[_])
          if a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed) =>
      case _ => loser.release()
    }
}
