package graft

import org.apache.spark.sql.DataFrame

/** Sink surface (SURVEY §2.2): the reference's five durable tables become
  * parquet writes. Batch-partitioned layout gives lineage pruning (O2) and
  * makes "reset" (K5) a partition overwrite rather than TRUNCATE.
  *
  * At 100 TB: `partitionBy(batch_id)` bounds each write to the new batch;
  * dynamic partition overwrite replaces only re-run batches; the append-only
  * log sink (K4) never rewrites history.
  */
object Sinks {

  /** K1/K2 replacement: overwrite the durable state snapshot. */
  def writeState(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** O2: batch-partitioned state — dynamic overwrite touches only the
    * partitions present in `df`.
    */
  def writeBatchPartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** K4: append-only process log. */
  def appendLog(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** ANSI-quote an identifier — reserved words and mixed-case column names
    * must survive the round trip into generated SQL.
    */
  private def q(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""

  /** How the target database expresses "insert or update". */
  sealed trait UpsertDialect extends Serializable
  /** PostgreSQL `INSERT … ON CONFLICT DO UPDATE` — one statement, one round
    * trip per batch. The reference's deployment target (`SQL:20-122`).
    */
  case object PostgresOnConflict extends UpsertDialect
  /** Batched `UPDATE` of existing keys + batched conditional `INSERT` of
    * absent keys, for engines without a single-statement upsert (Derby —
    * the embedded engine the round-trip test runs — DB2, older targets).
    * Two round trips per batch; equivalent to upsert for unique-keyed
    * frames without concurrent writers — exactly the ScdMerge output
    * contract. `dual` is the 1-row system table the conditional INSERT
    * selects from (Derby/DB2: SYSIBM.SYSDUMMY1).
    */
  final case class UpdateThenInsert(dual: String = "SYSIBM.SYSDUMMY1")
    extends UpsertDialect

  /** The upsert statement text + bind order a dialect generates, exposed
    * separately from execution so the GRAMMAR itself is testable: the
    * Postgres `ON CONFLICT` text is executed for real against DuckDB
    * (which speaks the same clause) by `tools/check_pg.py` over the
    * [[PgDialect]] dump — Derby in `SinksSpec` only ever parses the
    * [[UpdateThenInsert]] form, so without this the reference target's
    * actual statement would never be parsed by any engine.
    *
    * Each element is (statement SQL, bind column order); statements must
    * be executed per batch in sequence order.
    */
  def upsertStatements(cols: Seq[String], keyCols: Seq[String],
      table: String, dialect: UpsertDialect): Seq[(String, Seq[String])] = {
    val nonKey = cols.filterNot(keyCols.contains)
    val qt = q(table)
    dialect match {
      case PostgresOnConflict =>
        val action =
          if (nonKey.isEmpty) "DO NOTHING"
          else "DO UPDATE SET " +
            nonKey.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
        val sql = s"""INSERT INTO $qt (${cols.map(q).mkString(", ")})
                     |VALUES (${cols.map(_ => "?").mkString(", ")})
                     |ON CONFLICT (${keyCols.map(q).mkString(", ")})
                     |$action""".stripMargin
        Seq(sql -> cols)
      case UpdateThenInsert(dual) =>
        val where = keyCols.map(c => s"${q(c)} = ?").mkString(" AND ")
        val upd: Option[(String, Seq[String])] =
          if (nonKey.isEmpty) None
          else Some(
            s"UPDATE $qt SET ${nonKey.map(c => s"${q(c)} = ?").mkString(", ")}" +
              s" WHERE $where" -> (nonKey ++ keyCols))
        val ins: (String, Seq[String]) =
          s"""INSERT INTO $qt (${cols.map(q).mkString(", ")})
             |SELECT ${cols.map(_ => "?").mkString(", ")} FROM $dual
             |WHERE NOT EXISTS (SELECT 1 FROM $qt WHERE $where)""".stripMargin ->
            (cols ++ keyCols)
        upd.toSeq :+ ins
    }
  }

  /** The stale-record deactivation UPDATE grammar —
    * `etl.deactivate_bank_records` (SQL/etl_world_banks.sql:126-140)
    * verbatim, with the procedure's CURRENT_TIMESTAMP / CURRENT_DATE
    * replaced by bind parameters (the library's injected-clock
    * discipline, same as [[graft.operators.ScdMerge.merge]]): rows of
    * OTHER batches that are active, have a non-NULL `updated_at`, and
    * were last touched before today are flipped inactive and stamped.
    * The `updated_at IS NOT NULL AND updated_at < ?date` pair is the
    * reference's same-day shield (SQL:134-135). Returns (sql, bind
    * order) with binds (clock_ts, batch_id, clock_date); idempotent —
    * a replay finds the flipped rows inactive and matches nothing.
    */
  def deactivateStatement(table: String): (String, Seq[String]) = {
    val sql =
      s"""UPDATE ${q(table)}
         |SET ${q("active")} = FALSE,
         |    ${q("updated_at")} = ?
         |WHERE ${q("batch_id")} != ?
         | AND ${q("active")} = TRUE
         | AND ${q("updated_at")} IS NOT NULL
         | AND ${q("updated_at")} < ?""".stripMargin
    sql -> Seq("clock_ts", "batch_id", "clock_date")
  }

  /** The batch-summary grammar —
    * `etl.insert_or_update_world_bank_data_summary`
    * (SQL/etl_world_banks.sql:147-177): total-record count over the
    * target, the batch's three counters from the log table, and the
    * counter RESET (the procedure's "Reset Temporary TABLE" update).
    * Returns the three statements in procedure order, each with its
    * bind columns; the reset is idempotent (re-running zeroes zeros).
    */
  def summaryStatements(targetTable: String, logTable: String)
      : Seq[(String, Seq[String])] = Seq(
    s"SELECT COUNT(*) AS total_records FROM ${q(targetTable)}" -> Nil,
    s"""SELECT ${q("no_update_count")}, ${q("update_count")},
       |  ${q("new_inserts_count")}
       |FROM ${q(logTable)}
       |WHERE ${q("batch_id")} = ? AND ${q("table_name")} = ?""".stripMargin
      -> Seq("batch_id", "table_name"),
    s"""UPDATE ${q(logTable)}
       |SET ${q("no_update_count")} = 0, ${q("update_count")} = 0,
       |    ${q("new_inserts_count")} = 0
       |WHERE ${q("batch_id")} = ? AND ${q("table_name")} = ?""".stripMargin
      -> Seq("batch_id", "table_name"))

  /** K1/K2 against a real PostgreSQL target: the reference's row-at-a-time
    * `CALL insert_or_update_…` loop (ipynb:224-235, one network round trip
    * per row) becomes ONE merged frame (ScdMerge) written back with batched
    * `INSERT … ON CONFLICT DO UPDATE` statements, `batchSize` rows per
    * round trip, one connection per partition. SERIAL identity columns are
    * simply omitted from the column list — the database assigns them
    * (SURVEY §1.2).
    *
    * Executor-side JDBC (`foreachPartition`) rather than `df.write.jdbc`
    * because plain mode("append") cannot express upsert; statements are
    * built once per partition, reused across batches, and closed before
    * the connection. Dependency-free (java.sql only); `SinksSpec` executes
    * the path for real against embedded Derby (on Spark's own classpath)
    * via the [[UpdateThenInsert]] dialect and checks it reproduces the
    * ScdMerge Type-1 state.
    */
  def jdbcUpsert(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], props: java.util.Properties,
      batchSize: Int = 1000,
      dialect: UpsertDialect = PostgresOnConflict): Unit = {
    val cols = df.columns.toSeq
    // JDBC type per column, derived from the frame schema: NULLs must bind
    // as setNull(i, type) — untyped setObject(i, null) raises 22005
    // ("cannot infer type") on Derby/DB2, and SCD output legitimately
    // carries NULL updated_at on every insert/version row.
    val sqlType: Map[String, Int] = {
      import org.apache.spark.sql.types._
      df.schema.fields.map { f =>
        f.name -> (f.dataType match {
          case LongType        => java.sql.Types.BIGINT
          case IntegerType     => java.sql.Types.INTEGER
          case ShortType       => java.sql.Types.SMALLINT
          case ByteType        => java.sql.Types.TINYINT
          case BinaryType      => java.sql.Types.VARBINARY
          case DoubleType      => java.sql.Types.DOUBLE
          case FloatType       => java.sql.Types.REAL
          case BooleanType     => java.sql.Types.BOOLEAN
          case DateType        => java.sql.Types.DATE
          case TimestampType | TimestampNTZType => java.sql.Types.TIMESTAMP
          case _: DecimalType  => java.sql.Types.DECIMAL
          case _               => java.sql.Types.VARCHAR
        })
      }.toMap
    }
    val statements: Seq[(String, Seq[String])] =
      upsertStatements(cols, keyCols, table, dialect)
    // resolve each statement's bind order to (row position, jdbc type)
    // ONCE on the driver — the per-row loop then binds positionally
    // instead of doing a schema-map lookup per row × column × statement
    val fieldIdx = df.schema.fieldNames.zipWithIndex.toMap
    val binds: Seq[(String, Array[(Int, Int)])] = statements.map {
      case (sql, names) =>
        sql -> names.map(cn => (fieldIdx(cn), sqlType(cn))).toArray
    }
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        val sts = binds.map { case (sql, b) => conn.prepareStatement(sql) -> b }
        try {
          var n = 0
          rows.foreach { r =>
            sts.foreach { case (st, bs) =>
              var i = 0
              while (i < bs.length) {
                val (pos, tpe) = bs(i)
                val v = r.get(pos)
                if (v == null) st.setNull(i + 1, tpe)
                else st.setObject(i + 1, v)
                i += 1
              }
              st.addBatch()
            }
            n += 1
            // statement ORDER matters per flush: updates (no-ops on new
            // keys) before conditional inserts (no-ops on existing keys)
            if (n % batchSize == 0) sts.foreach(_._1.executeBatch())
          }
          sts.foreach(_._1.executeBatch())
          conn.commit()
        } finally sts.foreach(_._1.close())
      } finally conn.close()
    }
  }
}
