package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.CoreQueries.qEnrich

/** Driver contract: the registered queries and their DuckDB oracles.
  *
  * Each query is one [[QuerySpec]], declared in its family's object under
  * `graft.queries`. [[all]] assembles them once; [[queries]] and
  * [[oracleSql]] are name-keyed views of it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qEnrich(spark, "/root/testdata/sf0.001")

  /** Every query with its family, in declaration order. */
  val all: Seq[(String, QuerySpec)] = assemble(Seq(CoreQueries, EventsQueries,
    SimQueries, SketchQueries, CorpusQueries, TextQueries, DedupQueries,
    StreamQueries, MmQueries, DeconQueries, LayoutQueries, GraphQueries,
    ScdQueries, ProfileQueries, BucketQueries, EmbedQueries, MatchQueries))

  /** The specs of `families`, each tagged with its family; a name declared
    * twice fails here instead of one silently replacing the other. */
  private[graft] def assemble(families: Seq[QueryFamily]): Seq[(String, QuerySpec)] = {
    val specs = families.flatMap(f => f.specs.map(f.family -> _))
    val dups = specs.groupBy(_._2.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (_, q) => q.name -> q.run }.toMap
  val oracleSql: Map[String, String] =
    all.map { case (_, q) => q.name -> q.oracle }.toMap
}
