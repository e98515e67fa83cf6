package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-based SCD merge — the Spark-first re-expression of the reference's
  * row-at-a-time PL/pgSQL merge procedures:
  *
  *  - `etl.insert_or_update_world_bank_data` (SQL/etl_world_banks.sql:20-122),
  *    a hybrid SCD Type 1/2 with an `active` flag and five branches
  *    (SURVEY.md §2.5 decision table);
  *  - `etl.insert_or_update_exchange_rates` (SQL/etl_world_banks.sql:188-248),
  *    the plain Type-1 upsert variant (no-op / update / insert);
  *  - `etl.deactivate_bank_records` (SQL/etl_world_banks.sql:126-140),
  *    the batch anti-join deactivation pass.
  *
  * The reference drives one stored-procedure CALL per row (ipynb:224-235),
  * i.e. O(N) network round trips each doing O(M) unindexed probes. Here the
  * whole merge is ONE full-outer join plus a single `when`-chain projection:
  *
  *  - both sides are hash-partitioned on the merge key by the join itself, so
  *    the plan scales from broadcast-hash (small incoming batch — the common
  *    ETL case) to shuffle/sort-merge at the 100 TB design point, with AQE
  *    free to switch strategy and split skewed partitions at runtime;
  *  - history rows (non-current versions under a key) never enter the join:
  *    a window over the key splits them off and unions them back untouched,
  *    keeping join cardinality at |keys|, not |rows|;
  *  - the branch counters the reference maintains in a mutable `log_counts`
  *    table (SQL:38-40,52-54,112-114) fall out of the same frame as one
  *    partial+final hash aggregation — see [[counters]].
  *
  * Quirks preserved from the reference (SURVEY.md §7.4):
  *  - fresh inserts and new version rows carry `updated_at = NULL` despite
  *    the column default (SQL:88,109,237);
  *  - deactivation requires `updated_at IS NOT NULL AND updated_at <
  *    CURRENT_DATE` (SQL:134-135) — same-day rows are never deactivated;
  *  - value comparison is exact double equality (SQL:34-36), and a NULL
  *    comparison routes to the "changed" branch exactly like plpgsql's
  *    three-valued `IF`.
  *
  * Determinism: the clock (`CURRENT_TIMESTAMP` / `CURRENT_DATE`) and batch id
  * (`uuid()` at ipynb:20) are injected as parameters so results are
  * oracle-comparable (SURVEY.md §7.4).
  */
object ScdMerge {

  /** Column-name contract for a merge.
    *
    * @param keys      merge key columns (present on both sides)
    * @param valueCol  change-detection column (both sides)
    * @param payloads  non-key carry-along columns (both sides): written from
    *                  the incoming row on insert/update/reactivate/version
    *                  (the reference stamps last_modified_date on every
    *                  write branch — SQL:47,66,85,105), kept from the target
    *                  otherwise
    * @param scd2      true → five-branch active-flag variant (world_bank_data);
    *                  false → Type-1 upsert (exchanges_rates)
    */
  final case class Config(
      keys: Seq[String],
      valueCol: String,
      payloads: Seq[String] = Nil,
      scd2: Boolean = true)

  val ChangeCol = "change_type"

  // Bookkeeping columns, named as the reference procedures name them
  // (SQL:20-122).
  private val batchCol = "batch_id"
  private val activeCol = "active"
  private val updatedAtCol = "updated_at"

  /** Run the merge; returns the complete new target state, one row per
    * surviving version, tagged with a `change_type` column in
    * insert | no_change | update | reactivate | version | version_history |
    * deactivate | carry | history.
    *
    * @param incoming  batch frame: keys ++ valueCol ++ batch_id
    * @param target    durable state: keys ++ valueCol ++ batch_id
    *                  [++ active ++ updated_at when scd2]
    * @param clockTs   injected logical CURRENT_TIMESTAMP
    * @param clockDate injected logical CURRENT_DATE (deactivation shield)
    * @param batchId   the incoming batch id (the procedure's `p_batch_id`
    *                  parameter — SQL:22,132); a literal, so the deactivation
    *                  predicate needs no global pass over the data
    */
  def merge(incoming: DataFrame, target: DataFrame, cfg: Config,
            clockTs: Column, clockDate: Column, batchId: Column): DataFrame = {
    import cfg._

    val k: Seq[Column] = keys.map(col)

    // Dedup policy for duplicate incoming keys (the plpgsql scalar subquery
    // would *error* on them — SURVEY.md §7.4): keep the max value per key,
    // deterministically — payload columns are final tiebreakers so rows
    // tied on value still resolve the same way every run/partitioning.
    val incW = Window.partitionBy(k: _*).orderBy(
      col(valueCol).desc_nulls_last +:
        payloads.map(p => col(p).desc_nulls_last): _*)
    val inc = incoming
      .withColumn("__rn", row_number().over(incW))
      .filter(col("__rn") === 1).drop("__rn")
      .select(keys.map(kn => col(kn).as(s"__i_$kn")) ++
        payloads.map(p => col(p).as(s"__i_$p")) ++ Seq(
        col(valueCol).as("__i_value"), col(batchCol).as("__i_batch"),
        lit(true).as("__i_present")): _*)

    // Current-row flag on the target: the procedure probes the active row
    // first (SQL:25-31), else the latest inactive one. History rows flow
    // through the SAME join (the current-flag join condition never matches
    // them) so the whole merge is ONE full-outer join — no Union branch
    // recomputes it.
    val tgtN = if (scd2) target else
      target.withColumn(activeCol, lit(true))
        .withColumn(updatedAtCol, lit(null).cast("timestamp"))
    val tgtW = Window.partitionBy(k: _*)
      .orderBy(Seq(col(activeCol).desc, col(updatedAtCol).desc_nulls_last,
        col(valueCol).desc_nulls_last) ++
        payloads.map(p => col(p).desc_nulls_last): _*)
    val tgt = tgtN
      .withColumn("__cur", row_number().over(tgtW) === 1)
      .withColumn("__t_present", lit(true))

    // Equi-join on the keys (drives partitioning — the window's hash
    // exchange is reused) plus the current-flag predicate: history rows
    // fall out as unmatched target-side rows.
    val joinCond = keys.map(kn => tgt(kn) === inc(s"__i_$kn"))
      .reduce(_ && _) && tgt("__cur") === lit(true)
    val joined = tgt.join(inc, joinCond, "full_outer")

    val tPresent = col("__t_present") <=> lit(true)
    val iPresent = col("__i_present") <=> lit(true)
    val tVal = col(valueCol)
    val iVal = col("__i_value")
    val act = col(activeCol) <=> lit(true)

    // SURVEY.md §2.5 decision table, as one when-chain (C1).
    val stale = col(updatedAtCol).isNotNull && col(updatedAtCol) < clockDate &&
      !(col(batchCol) <=> batchId)
    val ct =
      when(!tPresent, lit("insert"))
        .when(!iPresent && !col("__cur"), lit("history"))
        .when(!iPresent && act && lit(scd2) && stale, lit("deactivate"))
        .when(!iPresent, lit("carry"))
        .when(act && tVal === iVal, lit("no_change"))
        .when(act, lit("update"))
        .when(tVal === iVal, lit("reactivate"))
        .otherwise(lit("version"))

    val classified = joined.withColumn(ChangeCol, ct)

    val newVal = when(col(ChangeCol).isin("insert", "update", "version"), iVal)
      .otherwise(tVal)
    val newBatch = when(
      col(ChangeCol).isin("insert", "update", "reactivate", "version"),
      col("__i_batch")).otherwise(col(batchCol))
    val newActive = when(col(ChangeCol) === "deactivate", lit(false))
      .when(col(ChangeCol).isin("insert", "update", "no_change", "reactivate",
        "version"), lit(true))
      .otherwise(col(activeCol))
    val newUpdated = when(
      col(ChangeCol).isin("update", "reactivate", "deactivate"), clockTs)
      // quirk: NULL on fresh inserts and new version rows (SQL:88,109,237)
      .when(col(ChangeCol).isin("insert", "version"),
        lit(null).cast("timestamp"))
      .otherwise(col(updatedAtCol))

    // Payload columns follow the write branches: incoming value on any
    // branch that writes, target value otherwise.
    val writes = col(ChangeCol).isin("insert", "update", "reactivate",
      "version")
    def newPayload(p: String): Column =
      when(writes, col(s"__i_$p")).otherwise(col(p))

    // One output row per input row — except the "version" branch, which
    // keeps the superseded row inactive alongside the new one (SQL:72-91).
    // A conditional explode emits both from the same joined row, so no
    // second pass over the join.
    val primary = struct(
      Seq(newVal.as(valueCol)) ++ payloads.map(p => newPayload(p).as(p)) ++
        Seq(newBatch.as(batchCol), newActive.as(activeCol),
          newUpdated.as(updatedAtCol), col(ChangeCol).as(ChangeCol)): _*)
    val supersededRow = struct(
      Seq(tVal.as(valueCol)) ++ payloads.map(p => col(p).as(p)) ++
        Seq(col(batchCol).as(batchCol), lit(false).as(activeCol),
          col(updatedAtCol).as(updatedAtCol),
          lit("version_history").as(ChangeCol)): _*)
    val rows = when(col(ChangeCol) === "version",
      array(primary, supersededRow)).otherwise(array(primary))

    val keyOut = keys.map(kn => coalesce(tgt(kn), inc(s"__i_$kn")).as(kn))
    val full = classified
      .select(keyOut :+ explode(rows).as("__r"): _*)
      .select(keys.map(col) ++
        Seq(col(s"__r.$valueCol").as(valueCol)) ++
        payloads.map(p => col(s"__r.$p").as(p)) ++ Seq(
        col(s"__r.$batchCol").as(batchCol),
        col(s"__r.$activeCol").as(activeCol),
        col(s"__r.$updatedAtCol").as(updatedAtCol),
        col(s"__r.$ChangeCol").as(ChangeCol)): _*)

    if (scd2) full
    else full.filter(col(ChangeCol) =!= "deactivate")
      .drop(activeCol, updatedAtCol)
  }

  /** Per-batch branch counters — the set-based replacement for the mutable
    * `etl.log_counts` table (SQL:11-16, incremented at SQL:38-40,52-54,
    * 112-114,202-217,239-241; initialized per batch at ipynb:191-196).
    * One partial+final hash aggregation over the merge output.
    */
  def counters(merged: DataFrame, batchId: Column, tableName: String): DataFrame = {
    // coalesce: sum() over an EMPTY merge (first run, empty batch) is NULL,
    // but the reference zero-initializes log_counts per batch
    // (ipynb:191-196) — and a NULL here NPEs any getAs[Long] consumer
    def cnt(tag: String): Column =
      coalesce(sum(when(col(ChangeCol) === tag, 1).otherwise(0)), lit(0))
        .cast("long")
    // Faithful to the reference: only the no-op / update / insert branches
    // bump counters (SQL:38-40,52-54,112-114); reactivate and version only
    // RAISE NOTICE (SQL:58-91), so they get their own informational columns.
    merged.agg(
      cnt("no_change").as("no_update_count"),
      cnt("update").as("update_count"),
      cnt("insert").as("new_inserts_count"),
      cnt("reactivate").as("reactivate_count"),
      cnt("version").as("version_count"),
      cnt("deactivate").as("deactivate_count"))
      .withColumn("table_name", lit(tableName))
      .withColumn("batch_id", batchId)
  }
}
