package graft

import org.apache.spark.sql.functions._

/** Dump the artifacts for executing the PostgreSQL upsert grammar for real.
  *
  * The reference's actual sink is PostgreSQL (`SQL:188-248` — the rates
  * Type-1 upsert). `Sinks.jdbcUpsert` round-trips through embedded Derby in
  * `SinksSpec`, but Derby parses the [[Sinks.UpdateThenInsert]] dialect,
  * never the `INSERT … ON CONFLICT DO UPDATE` text a Postgres deployment
  * would run. DuckDB (the oracle engine already in the toolchain) speaks
  * `ON CONFLICT`, so this main dumps:
  *
  *   - `seed/`  — the pre-merge target state (b0): stale values for update
  *                keys, rows absent for insert keys → the replay exercises
  *                both the DO UPDATE and the plain-insert arm;
  *   - `rows/`  — the merged Type-1 state (q8_upsert_type1 minus the
  *                change_type telemetry column), i.e. what jdbcUpsert
  *                would write, in deterministic key order;
  *   - `statement.sql` + `meta.json` — the EXACT Postgres-dialect
  *                statement text `Sinks.upsertStatements` generates, and
  *                its bind column order + key columns.
  *
  * `tools/check_pg.py` then creates the keyed table in DuckDB, seeds it,
  * executes the statement text per row, and asserts the final table equals
  * `rows/` — twice, so idempotent replay is part of the contract.
  *
  * Usage: runMain graft.PgDialect <sfDir> <outDir>
  */
object PgDialect {

  private def dumpCase(outDir: String, name: String, table: String,
      stateCols: Seq[String], keyCols: Seq[String],
      seed: org.apache.spark.sql.DataFrame,
      rows: org.apache.spark.sql.DataFrame): Unit = {
    val caseDir = s"$outDir/$name"
    seed.coalesce(1).write.mode("overwrite").parquet(s"$caseDir/seed")
    rows.coalesce(1).write.mode("overwrite").parquet(s"$caseDir/rows")
    val Seq((sql, bindOrder)) = Sinks.upsertStatements(
      stateCols, keyCols, table, Sinks.PostgresOnConflict)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(caseDir, "statement.sql"),
      sql.getBytes("UTF-8"))
    val meta =
      s"""{"table": "$table",
         | "bind_order": [${bindOrder.map("\"" + _ + "\"").mkString(", ")}],
         | "key_cols": [${keyCols.map("\"" + _ + "\"").mkString(", ")}]}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(caseDir, "meta.json"), meta.getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("WARN")

    // ---- case "rates": the reference rates shape (2-col key), merged
    // state from q8_upsert_type1 — the original round-6 dump
    val stateCols = Seq("key1", "key2", "value", "batch_id")
    val keyCols = Seq("key1", "key2")
    // the same construction as q8_upsert_type1's target frame (b0 state)
    val c = Tables.customer(spark, sfDir)
    val m = col("c_custkey") % 4
    val seed = c.filter(m <= 2).select(
      col("c_custkey").as("key1"), col("c_mktsegment").as("key2"),
      col("c_acctbal").as("value"), lit("b0").as("batch_id"))
    // the merged Type-1 state jdbcUpsert would ship (telemetry dropped)
    val rows = SparkEntry.queries("q8_upsert_type1")(spark, sfDir)
      .select(stateCols.map(col): _*)
    dumpCase(outDir, "rates", "rates", stateCols, keyCols, seed, rows)

    // ---- case "bank": the reference bank shape — ONE key column
    // (SQL:188 world_banks PRIMARY KEY (bank)), with a nullable
    // timestamp column carrying real NULLs (the SCD contract writes
    // NULL updated_at on every insert row, SQL:88,109) so the grammar's
    // NULL-binding path executes in both the INSERT and DO UPDATE arms
    val bankCols = Seq("bank_id", "bank_name", "n_banks", "updated_at")
    val n = Tables.nation(spark, sfDir)
    val bankRows = n.select(
      col("n_nationkey").cast("long").as("bank_id"),
      col("n_name").as("bank_name"),
      col("n_regionkey").cast("long").as("n_banks"),
      when(col("n_nationkey") % 3 === 0, lit(null))
        .otherwise(to_timestamp(lit("2021-01-02 03:04:05")))
        .cast("timestamp").as("updated_at"))
    // stale seed: present keys carry wrong counts and swapped-nullability
    // timestamps, so DO UPDATE must overwrite BOTH (including NULL→value
    // and value→NULL transitions); keys % 4 == 3 are absent → INSERT arm
    val bankSeed = bankRows.filter(col("bank_id") % 4 <= 2).select(
      col("bank_id"), col("bank_name"),
      (col("n_banks") + 100).as("n_banks"),
      when(col("updated_at").isNull,
          to_timestamp(lit("1999-12-31 00:00:00")))
        .otherwise(lit(null)).cast("timestamp").as("updated_at"))
    dumpCase(outDir, "bank", "world_banks", bankCols, Seq("bank_id"),
      bankSeed, bankRows)

    // ---- case "rates3": a THREE-column composite key (the widest key
    // shape the sink API is exercised with), nullable value column
    val r3Cols = Seq("key1", "key2", "key3", "value", "batch_id")
    val r3Keys = Seq("key1", "key2", "key3")
    val r3Rows = c.select(
      col("c_custkey").as("key1"), col("c_mktsegment").as("key2"),
      (col("c_nationkey") % 5).cast("long").as("key3"),
      when(col("c_custkey") % 7 === 0, lit(null))
        .otherwise(col("c_acctbal")).cast("double").as("value"),
      lit("b1").as("batch_id"))
    val r3Seed = r3Rows.filter(col("key1") % 4 <= 2).select(
      col("key1"), col("key2"), col("key3"),
      // stale: never NULL, so NULL-valued rows must transition to NULL
      (coalesce(col("value"), lit(0.0)) + 1.0).as("value"),
      lit("b0").as("batch_id"))
    dumpCase(outDir, "rates3", "rates3", r3Cols, r3Keys, r3Seed, r3Rows)

    // ---- case "deact": the stale-record deactivation UPDATE
    // (SQL:126-140) executed for real. Seed covers every predicate arm:
    // batch residue 0 → current batch (kept); residue 1 with yesterday's
    // stamp → DEACTIVATED; residue 2 with TODAY's stamp → kept (the
    // same-day shield, SQL:134-135); residue 3 → NULL updated_at (kept)
    // or already-inactive (untouched).
    val clockTs = "2021-06-01 12:00:00"
    val clockDate = "2021-06-01"
    val deactCols = Seq("bank_id", "bank_name", "batch_id", "active",
      "updated_at")
    val r = col("bank_id") % 4
    val deactSeed = n.select(
      col("n_nationkey").cast("long").as("bank_id"),
      col("n_name").as("bank_name"),
      when(r === 0, lit("b1")).otherwise(lit("b0")).as("batch_id"),
      (r =!= 3 || col("n_nationkey") % 8 =!= 3).as("active"),
      when(r === 1, to_timestamp(lit("2021-05-31 09:00:00")))
        .when(r === 2, to_timestamp(lit(s"$clockDate 08:00:00")))
        .when(r === 3 && col("n_nationkey") % 8 === 3,
          to_timestamp(lit("2021-05-30 10:00:00")))
        .otherwise(lit(null)).cast("timestamp").as("updated_at"))
    // expected post state: the procedure's own predicate with the
    // injected clock, applied declaratively
    val hit = col("batch_id") =!= "b1" && col("active") &&
      col("updated_at").isNotNull &&
      col("updated_at") < to_date(lit(clockDate)).cast("timestamp")
    val deactRows = deactSeed.select(
      col("bank_id"), col("bank_name"), col("batch_id"),
      when(hit, lit(false)).otherwise(col("active")).as("active"),
      when(hit, to_timestamp(lit(clockTs))).otherwise(col("updated_at"))
        .as("updated_at"))
    val deactDir = s"$outDir/deact"
    deactSeed.coalesce(1).write.mode("overwrite")
      .parquet(s"$deactDir/seed")
    deactRows.coalesce(1).write.mode("overwrite")
      .parquet(s"$deactDir/rows")
    val (dSql, dBind) = Sinks.deactivateStatement("world_bank_data")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(deactDir, "statement.sql"),
      dSql.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(deactDir, "meta.json"),
      s"""{"kind": "deactivate",
         | "table": "world_bank_data",
         | "bind_order": [${dBind.map("\"" + _ + "\"").mkString(", ")}],
         | "key_cols": ["bank_id"],
         | "binds": {"clock_ts": "$clockTs", "batch_id": "b1",
         |           "clock_date": "$clockDate"}}
         |""".stripMargin.getBytes("UTF-8"))

    // ---- case "summary": the batch-summary SELECTs + counter reset
    // (SQL:147-177) executed for real: counts over a target table, the
    // batch's counter row, then the reset (idempotent on replay).
    val sumDir = s"$outDir/summary"
    val logSeed = spark.range(1, 4).select(
      concat(lit("b"), col("id")).as("batch_id"),
      lit("world_bank_data").as("table_name"),
      (col("id") * 10).as("no_update_count"),
      (col("id") * 3).as("update_count"),
      (col("id") + 1).as("new_inserts_count"))
    logSeed.coalesce(1).write.mode("overwrite")
      .parquet(s"$sumDir/seed")
    // the target whose COUNT(*) the procedure reports — the bank case's
    // merged state, re-dumped here so the case is self-contained
    bankRows.coalesce(1).write.mode("overwrite")
      .parquet(s"$sumDir/target")
    val stmts = Sinks.summaryStatements("world_bank_data", "log_counts")
    stmts.zip(Seq("count", "select", "reset")).foreach {
      case ((sql, _), name) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(sumDir, s"$name.sql"),
          sql.getBytes("UTF-8"))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sumDir, "meta.json"),
      s"""{"kind": "summary",
         | "table": "log_counts",
         | "target_table": "world_bank_data",
         | "key_cols": ["batch_id", "table_name"],
         | "binds": {"batch_id": "b2", "table_name": "world_bank_data"}}
         |""".stripMargin.getBytes("UTF-8"))

    spark.stop()
  }
}
