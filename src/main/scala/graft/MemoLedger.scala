package graft

/** Build-cost ledger for the [[Memo]] builds.
  *
  * The bench times each query as the min over its steady (non-first)
  * passes, and the family memos (shingle sets, winnow fingerprints, BPE
  * training, cluster artifacts, …) are built on FIRST touch and survive
  * across passes — so no steady-pass minimum anywhere pays them. Every
  * memo build reports its seconds here, and [[Bench]] drains the ledger
  * per suite run into a `memo_build` block of the artifact.
  *
  * Keys are `name@<hex semanticHash of each input>` (e.g.
  * `dedup.sets@1f3a9c02`), or the name alone for a path-keyed memo, so
  * one memo built over two inputs stays two entries. A build is credited
  * its SELF time: wall time minus the builds nested inside it on the same
  * thread (louvcc → louvc → prdeg → edges), so each second counts once.
  * Costs are summed per key across a drain window.
  */
object MemoLedger {
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Wall nanos of the finished builds nested in this thread's open build. */
  private val nested = ThreadLocal.withInitial[Long](() => 0L)

  /** Run `build`, crediting its self seconds to `key`. */
  def timed[T](key: String)(build: => T): T = {
    val outer = nested.get
    nested.set(0L)
    val t0 = System.nanoTime()
    try {
      val r = build
      builds.merge(key, (System.nanoTime() - t0 - nested.get) / 1e9,
        (a, b) => Double.box(a + b))
      r
    } finally nested.set(outer + (System.nanoTime() - t0))
  }

  /** Snapshot and clear the ledger (per-suite-run accounting). */
  def drain(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val snap = builds.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    builds.clear()
    snap
  }
}
