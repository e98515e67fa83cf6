package graft

/** Every registered query runs on sf0.001, returns rows, and matches its
  * DuckDB oracle; the registry is consistent; entry() is non-empty.
  */
class QueriesSmokeSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: unique names, declared families, one oracle per query") {
    val names = SparkEntry.all.map(_._2.name)
    assert(names.distinct.size == names.size)
    // the name rule perfbench's query pool still applies
    def family(n: String) =
      if (n.matches("q\\d.*")) "q" else n.takeWhile(_ != '_')
    val misfiled = SparkEntry.all.collect {
      case (f, q) if family(q.name) != f => s"${q.name} in $f"
    }
    assert(misfiled.isEmpty, misfiled.mkString(", "))
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("registry: a name declared twice fails assembly") {
    val core = graft.queries.CoreQueries
    val twice = new graft.queries.QueryFamily("q") {
      def specs = core.specs.take(1)
    }
    val e = intercept[IllegalArgumentException](SparkEntry.assemble(Seq(core, twice)))
    assert(e.getMessage.contains(core.specs.head.name))
  }

  // every result is written through Verify's dump into one fresh
  // directory; the last test compares them all with their DuckDB oracles
  private lazy val outDir =
    tempDir("graft_verify").toString

  for (name <- SparkEntry.queries.keys) {
    test(s"$name runs and returns rows on sf0.001") {
      assert(Verify.dump(spark, dir, outDir, Seq(name)).isEmpty,
        s"$name threw")
      assert(spark.read.parquet(s"$outDir/$name").count() > 0)
    }
  }

  // fails, never skips, when python3 or its duckdb module is missing:
  // the start() throws, or check.py exits non-zero on the import
  test("every result matches its DuckDB oracle (tools/check.py)") {
    Verify.writeOracleSql(outDir)
    val proc = new ProcessBuilder("python3", "tools/check.py", dir, outDir)
      .redirectErrorStream(true).start()
    val log = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0,
      log.linesIterator.filterNot(_.startsWith("PASS ")).mkString("\n"))
  }
}
