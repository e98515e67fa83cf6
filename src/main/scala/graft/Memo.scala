package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.operators.Iterate

/** The library's one per-session memo: every artifact built once per
  * (session, key) and reused by later queries of that session — fixture
  * scan plans, pinned or persisted frames, trained index artifacts,
  * written bucketed tables, stream source splits.
  *
  * Keys name the artifact and its input as `family.memo:cacheKey` (e.g.
  * `dedup.sets:/data/sf0.1`). A cacheKey is the caller's promise
  * that equal keys mean equal inputs; the registry passes the fixture dir.
  * Timed builds report their inclusive wall seconds to [[MemoLedger]]
  * under the same key.
  *
  * Builds run outside any map lock and then race a put-if-absent. Builds
  * nest (louvcc → louvc → prdeg → edges, corpus.clean → dedup.bands), and
  * a `computeIfAbsent` that recursed into the same map would throw
  * "Recursive update". A lost race built its value twice; the loser is
  * released (see [[discard]]).
  *
  * Lifecycle: [[invalidate]] drops and releases every entry of a session,
  * the one call needed after rewriting a fixture dir the session already
  * read. Entries of stopped sessions are dropped on every access, without
  * a release: their blocks died with the context. (A WeakHashMap would
  * not work: a cached DataFrame strongly references its own session.)
  */
object Memo {
  private final class Entry(val value: AnyRef, val release: () => Unit)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

  /** The value of `key` in `spark`, built and timed on first touch. */
  def apply[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T =
    owned(spark, key)(build)(_ => ())

  /** [[apply]] for a value that holds a resource outside Spark (a scratch
    * directory); `release` frees it when the entry is dropped.
    */
  def owned[T <: AnyRef](spark: SparkSession, key: String)(build: => T)(
      release: T => Unit): T =
    resolve(spark, key) {
      val v = MemoLedger.timed(key)(build)
      (v, () => release(v))
    }

  /** [[apply]] without a ledger entry, for plan-level values (scan plans,
    * partitioning decisions, row counts, sessions) that cost no job.
    */
  def untimed[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T =
    resolve(spark, key)((build, () => ()))

  /** A frame materialized through [[Iterate.pin]]: lineage cut, blocks
    * reclaimed by the context cleaner once the entry is dropped.
    */
  def pinned(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    apply(spark, key)(Iterate.pin(build))

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
  def persisted(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    owned(spark, key) {
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
      if ((k._1 eq spark) && entries.remove(k, e)) e.release()
    }

  private def resolve[T <: AnyRef](spark: SparkSession, key: String)(
      build: => (T, () => Unit)): T = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    val k = (spark, key)
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
