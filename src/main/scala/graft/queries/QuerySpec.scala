package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: how Spark computes it over a fixture directory, and
  * the ANSI-SQL oracle DuckDB runs over the same parquet tables. Column
  * names are aligned on both sides, double aggregates go through the
  * exact-decimal detour ([[graft.functions.Exact]]) so hashes are stable,
  * and every result is totally ordered.
  */
final case class QuerySpec(name: String,
    run: (SparkSession, String) => DataFrame, oracle: String)

/** The queries of one operator family. `family` is `q` for the
  * reference-parity core (`q<n>_*`) and otherwise the first `_` segment of
  * every member's name. An object declares `specs` after the `sql*` vals
  * it reads, so no oracle is read before it is initialized.
  */
abstract class QueryFamily(val family: String) {
  def specs: Seq[QuerySpec]
}
