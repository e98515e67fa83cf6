package graft

/** Smoke: every registered query runs on sf0.001 and returns rows; the
  * registry is consistent; entry() is non-empty (the driver's t1 gate).
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

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns rows on sf0.001") {
      assert(fn(spark, dir).count() > 0)
    }
  }
}
