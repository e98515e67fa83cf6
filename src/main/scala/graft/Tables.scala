package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet loaders for the shared fixture tables (repo TESTDATA.md).
  *
  * Plain `spark.read.parquet` keeps the scan declarative so Catalyst applies
  * column pruning and predicate pushdown (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`). At the 100 TB
  * design point the same call reads a partitioned directory tree; nothing
  * here assumes single-file layout.
  */
object Tables {
  /** Tiny relation catalog: the resolved DataFrame per (session, path) is
    * memoized so repeated reads of the same fixture table skip re-listing
    * the files and re-reading parquet footers for schema inference —
    * per-query constant cost that adds up across a 48-query suite. This
    * holds only the *plan* (file index + schema), never row data; the plan
    * pins its file LISTING, so a fixture directory rewritten mid-session
    * must be [[invalidate]]d.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Memo.untimed(spark, s"tables.read:$path")(spark.read.parquet(path))
  }

  /** Drop and release every memo of `spark` ([[Memo.invalidate]]) — call
    * after rewriting a fixture directory the session already read, or
    * before discarding a session that should release its memos early.
    */
  def invalidate(spark: SparkSession): Unit = Memo.invalidate(spark)

  /** Rebalance a scan that has fewer partitions than the session's
    * parallelism — the small-file / single-row-group case, where every
    * downstream map-side expression (hashing, dot products, aggregation
    * partials) would otherwise run on ONE core until the first shuffle.
    *
    * - No-op when the scan already splits enough (the 100 TB case: parquet
    *   row groups give the scan natural parallelism, and re-shuffling the
    *   base table there would be pure waste).
    * - HASH repartition on a stable unique-ish key, not round-robin:
    *   `repartition(n)` inserts a per-partition local sort to make retries
    *   deterministic, which serializes on the single input partition —
    *   exactly what we're escaping. Hash partitioning is retry-safe by
    *   construction.
    * - Filters and column pruning still reach the scan: Catalyst pushes
    *   deterministic predicates and projections through
    *   RepartitionByExpression, so only surviving rows/columns shuffle.
    */
  private def spread(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // .rdd forces physical planning of the scan to learn its split count —
    // memoize the decision per (session, scan, key column) so repeated loads
    // don't re-plan
    Memo.untimed(df.sparkSession, s"tables.spread:$key", df) {
      if (df.rdd.getNumPartitions < target)
        df.repartition(org.apache.spark.sql.functions.col(key))
      else df
    }
  }

  // ------------------------------------------------------------------
  // Declared LOGICAL schema per fixture table. The driver regenerates
  // /root/testdata between rounds and PHYSICAL types have drifted before
  // (events.ts: TIMESTAMP(NANOS) in rounds 1-2 → TIMESTAMP(MICROS)/NTZ in
  // round 3 — which broke 20 queries at analysis time while the unit suite
  // stayed green). Every loader therefore normalizes the on-disk schema to
  // this declared contract, and THROWS naming the table+column on any
  // drift it cannot adapt — one loud failure instead of 20 downstream
  // analysis errors.
  // ------------------------------------------------------------------
  private val logicalSchemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  /** The declared logical schema a loader guarantees (nullability ignored). */
  def logicalSchema(table: String): StructType = logicalSchemas(table)

  private val numericTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** One column's adaptation from the on-disk physical type to the declared
    * logical type. Handled drift classes (each has shipped, or plausibly
    * ships, from a fixture regeneration):
    *  - integer-width / float-width drift → cast (ANSI mode makes a
    *    narrowing overflow throw rather than wrap);
    *  - TIMESTAMP stored as NTZ (isAdjustedToUTC=false) → cast; the session
    *    is pinned UTC so the wall-clock reinterpretation is the identity;
    *  - TIMESTAMP(NANOS) surfaced as long via the nanosAsLong legacy flag →
    *    exact integer FLOOR-division to micros. A double round-trip of
    *    epoch-nanos loses precision, and `div` truncates toward zero — a
    *    pre-epoch nanosecond would round the WRONG way vs DuckDB's flooring
    *    `CAST(TIMESTAMP_NS AS TIMESTAMP)`;
    *  - numeric array element drift → elementwise cast.
    * Anything else throws, naming the table and column — the fail-fast the
    * adaptive reader exists for (a silent fall-through would run every
    * query on an unnormalized column instead).
    */
  private def adapt(table: String, name: String,
      have: DataType, want: DataType): Column = {
    import org.apache.spark.sql.functions.{col, expr}
    (have, want) match {
      case (h, w) if h == w => col(name)
      case (LongType, TimestampType) =>
        // floor division: (ts - nonneg remainder) div 1000
        expr(s"timestamp_micros(($name - (($name % 1000 + 1000) % 1000)) div 1000)")
          .as(name)
      case (TimestampNTZType, TimestampType) => col(name).cast(want).as(name)
      case (h, w) if numericTypes(h) && numericTypes(w) =>
        col(name).cast(want).as(name)
      case (ArrayType(h, _), ArrayType(w, _)) if numericTypes(h) && numericTypes(w) =>
        col(name).cast(want).as(name)
      case (h, w) =>
        throw new IllegalStateException(
          s"fixture drift: $table.$name is $h on disk; no adaptation to declared $w")
    }
  }

  /** Project the raw scan onto the declared logical schema, adapting each
    * column. Missing columns throw with the table name; extra on-disk
    * columns are dropped (the contract is the declared schema). The select
    * is a plain projection, so column pruning and predicate pushdown still
    * reach the parquet scan.
    */
  private def normalize(table: String, df: DataFrame): DataFrame = {
    val want = logicalSchemas(table)
    val onDisk = df.schema.map(f => f.name -> f.dataType).toMap
    val cols = want.fields.map { f =>
      val have = onDisk.getOrElse(f.name, throw new IllegalStateException(
        s"fixture drift: $table.${f.name} missing on disk; " +
          s"have ${df.schema.simpleString}"))
      adapt(table, f.name, have, f.dataType)
    }
    if (want.fields.forall(f => onDisk.get(f.name).contains(f.dataType)) &&
        df.schema.length == want.length) df  // no drift: keep the raw scan plan
    else df.select(cols.toIndexedSeq: _*)
  }

  private def load(s: SparkSession, d: String, name: String): DataFrame =
    normalize(name, apply(s, d, name))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  // orders/lineitem are NOT spread: their queries aggregate or join right
  // away, and partial aggregation before the first exchange is already the
  // correct parallel plan — measured, an up-front shuffle of the raw rows
  // costs more than the single-core map phase it saves. Spread pays off
  // only when per-row compute (hashing, dot products) dominates.
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events` with the full drift normalization (see [[adapt]]) — the
    * nanosAsLong flag must be set BEFORE the first read so a
    * TIMESTAMP(NANOS) fixture (which Spark's vectorized reader rejects)
    * surfaces as long and takes the floor-division path. Oracles mirror
    * with `CAST(ts AS TIMESTAMP)` when they output the raw timestamp.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // user_id, not event_id: sessionization/windows partition by user, so
    // the spread exchange IS the window exchange (co-partitioning reuse).
    normalize("events", spread(apply(s, d, "events"), "user_id"))
  }

  /** Per-(session, dir) memo of the normalized, user_id-spread events
    * frame — the event-log families' shared ingest artifact. ~66 events_*
    * queries plus the event-log q-parity queries each re-ran the scan +
    * normalize + spread exchange per call; the memo materializes that
    * shared prefix once per (session, dir) and every consumer starts
    * from it.
    *
    * Materialized through [[Memo.persisted]], NOT a checkpoint: the
    * InMemoryRelation KEEPS the spread's hashpartitioning(user_id) in the
    * planner, so every user-keyed window/aggregation over the memo
    * satisfies its distribution with ZERO exchange — a checkpointed scan
    * reports unknown partitioning and would re-shuffle per query.
    *
    * Scale note (guide §5): residency is one copy of the events table
    * (MEMORY_AND_DISK — spills, never OOMs) amortized across every
    * event-log query of the session; the alternative is one full scan +
    * spread shuffle PER QUERY. Consumers with highly selective pushed
    * filters should read [[events]] directly — the memo trades scan-side
    * pushdown for shared residency, the right trade for this family's
    * full-log aggregations.
    *
    * ROUTING RULE (measured, round 11): a consumer reads the memo iff
    * its first exchange is ELIMINATED by the memo's
    * hashpartitioning(user_id) (user-keyed windows/aggregations — zero
    * query-side shuffle, the win that scales) or it re-reads wide
    * string columns the cache holds decoded (q18_json's props).
    * Consumers that RE-KEY immediately (day/type/window-keyed series,
    * the user_id%20 as-of family) or carry a selective pushable filter
    * read [[events]] direct: for them the memo replaces a vectorized
    * pushdown parquet scan with a cache read that saves nothing
    * downstream — measured 0.05–0.3 s SLOWER per query at sf0.1, and
    * strictly worse at scale where the lost PushedFilters matter more.
    * The persist's marker filter keeps the direct readers off the cache.
    * ~70 of 101 call sites ride the memo.
    */
  def eventsCached(s: SparkSession, d: String): DataFrame =
    Memo.persisted(s, s"tables.events:$d")(events(s, d))
  def documents(s: SparkSession, d: String): DataFrame =
    normalize("documents", spread(apply(s, d, "documents"), "doc_id"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    normalize("embeddings", spread(apply(s, d, "embeddings"), "vec_id"))
}
