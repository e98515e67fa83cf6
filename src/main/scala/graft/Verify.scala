package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). Exits 1,
  * naming the failed queries, when any query throws. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  // Shared with [[LouvainOracleDump]].
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Runs each named registry query on the fixture in `sfDir` and writes
    * its result as one parquet file under `outDir/<name>`. Returns the
    * names of the queries that threw; each failure is printed to stderr.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[String] =
    // sorted, not Map order: adding a query to the immutable Map reshuffles
    // its iteration order, which changes the ORDER session state is
    // exercised in between rounds — sorted execution keeps the gate's
    // run order stable as the suite grows
    names.sorted.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  /** Every query's oracle SQL as `outDir/oracle_sql.json`, the input of
    * `tools/check.py`. */
  def writeOracleSql(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** The local session the driver mains build: `SPARK_GRAFT_CPUS`
    * (default 4) task slots and shuffle partitions, the UTC session zone
    * that `Tables.adapt`'s NTZ → TIMESTAMP cast assumes, and no UI.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names: dump only that subset (local iteration;
    // the driver passes none → full suite)
    val only = args.drop(2).toSet
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.keys.filter(n => only.isEmpty || only(n)).toSeq)
    writeOracleSql(outDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.length} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
