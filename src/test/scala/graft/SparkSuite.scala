package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per test suite. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  private val tempDirs = ListBuffer.empty[Path]

  /** A new temp dir, deleted with everything under it after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(Scratch.deleteTree)
    finally super.afterAll()
}

object SparkSuite {
  /** Plan string with every InMemoryRelation's cached BUILD subtree
    * removed. A session memo's build plan (scan + spread exchange, plus
    * AQE's embedded initial AND final plan strings) executes once per
    * (session, dir) when the memo materializes — it is not part of the
    * query under test, and leaving it in the string double-counts
    * scans/exchanges in every shape assertion over a memo consumer. The
    * `InMemoryRelation` line itself stays: it IS the query's leaf.
    */
  def stripMemoBuild(plan: String): String = {
    val out = Seq.newBuilder[String]
    var skipBelow = -1 // indent of the active InMemoryRelation; -1 = none
    plan.linesIterator.foreach { line =>
      val i = line.indexWhere(!_.isWhitespace)
      val indent = if (i < 0) line.length else i
      if (skipBelow < 0 || indent <= skipBelow) {
        skipBelow = if (line.contains("InMemoryRelation")) indent else -1
        out += line
      }
    }
    out.result().mkString("\n")
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one session per JVM: its warehouse lives as long as the JVM's
      // scratch root
      .config("spark.sql.warehouse.dir", Scratch.dir("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
