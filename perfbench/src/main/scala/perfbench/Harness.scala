package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.{MemoLedger, Sinks, SparkEntry, Tables}
import graft.operators.ScdMerge
import graft.pipeline.WorldBanksPipeline
import graft.sources.HtmlTable

/** JVM side of the benchmark: runs one workload from a plan file written by
  * `run.py` and writes raw timings, spans and the outputs to check.
  *
  *   Harness <plan.json> <result.json>
  *
  * One closed-loop client: every op is issued after the previous one ends,
  * from this one thread, on `local[4]` with 4 shuffle partitions.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(name: String, phase: String, pass: Int, seconds: Double,
      cpu: Double, traced: Boolean, error: Option[String])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, on all of its threads. Time the host
    * takes the virtual CPUs away (steal) is not charged to it.
    */
  def cpuNow(): Double = os.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val Array(planPath, outPath) = args
    val mainMs = System.currentTimeMillis()
    val plan = mapper.readTree(new File(planPath))
    val tracer = if (plan.get("trace").asInt == 1) Some(new Tracer) else None
    Forward.tracer = tracer
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (tracer.nonEmpty) builder
      .config("spark.sql.queryExecutionListeners", classOf[QueryEvents].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamEvents].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val workload = plan.get("workload").asText
    if (workload == "query_mix") QueryMix.register(spark, plan)
    else Etl.register(spark, plan)
    val readyMs = System.currentTimeMillis()
    // where set-up time goes: JVM start -> main -> session -> inputs registered
    val setup = Map("ready_ms" -> readyMs, "setup_phases_ms" -> Map(
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "main" -> mainMs, "session" -> sessionMs, "ready" -> readyMs))
    tracer.foreach(t => spark.sparkContext.addSparkListener(t.sparkListener))
    val body =
      if (workload == "query_mix") QueryMix.run(spark, plan, tracer)
      else Etl.run(spark, plan, tracer)
    val traceOut = tracer.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      t.attribute()
      Map("spans" -> t.spanRecords,
        "memo_resident_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum)
    }.getOrElse(Map.empty)
    val out = setup ++ Map("config" -> config(spark)) ++ body ++ traceOut
    spark.stop()
    mapper.writeValue(new File(outPath), toJava(out))
  }

  private def config(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "nproc" -> Runtime.getRuntime.availableProcessors)

  /** Run one op, timing it; a failure is recorded, never timed as a success. */
  def timeOp(name: String, phase: String, pass: Int, traced: Boolean)(
      body: => Unit): Op = {
    val t0 = System.nanoTime()
    val c0 = cpuNow()
    val error =
      try { body; None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    Op(name, phase, pass, (System.nanoTime() - t0) / 1e9, cpuNow() - c0, traced, error)
  }

  /** Wall and CPU seconds of each steady unit. */
  final class Units {
    val wall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    def time[T](steady: Boolean)(body: => T): T = {
      val (w0, c0) = (System.nanoTime(), cpuNow())
      val r = body
      if (steady) { wall += (System.nanoTime() - w0) / 1e9; cpu += cpuNow() - c0 }
      r
    }
    def record: Map[String, Any] = Map("unit_walls_s" -> wall.toSeq, "unit_cpu_s" -> cpu.toSeq)
  }

  /** Heap occupancy after a full collection, in MB, as the collector
    * reports it — taken between units, outside every timed region. Spark's
    * ContextCleaner releases unreachable broadcasts and shuffles only after
    * a collection finds them, so one reading can still hold them: the lower
    * of two readings 100 ms apart is what stays live.
    */
  def heapAfterGcMb(): Double = {
    def collect(): Double = {
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    System.gc()
    math.min(collect(), collect())
  }

  def opRecord(o: Op): Map[String, Any] = Map("name" -> o.name,
    "phase" -> o.phase, "pass" -> o.pass, "s" -> o.seconds, "cpu_s" -> o.cpu,
    "traced" -> o.traced, "error" -> o.error.orNull)

  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
}

/** `query_mix`: the plan's list of registered queries, each materialized to
  * the `noop` sink. Pass 1 is the cold pass of a fresh JVM; later passes are
  * warm. A last untimed pass writes every result for the oracle check.
  */
object QueryMix {
  import Harness._

  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, plan: JsonNode): Unit = {
    val dir = plan.get("fixture").asText
    TableNames.foreach(t => Tables(spark, dir, t))
  }

  def run(spark: SparkSession, plan: JsonNode,
      tracer: Option[Tracer]): Map[String, Any] = {
    val dir = plan.get("fixture").asText
    val queries = strings(plan.get("queries"))
    val passes = plan.get("passes").asInt
    val registry = SparkEntry.queries
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runQuery(q: String, traced: Boolean): Unit = {
      val t = tracer.filter(_ => traced)
      def span[T](n: String, l: String)(b: => T): T =
        t.fold(b)(_.span(n, l)(b))
      span(q, "op") {
        MemoLedger.drain()
        val df = span("entry.build", "entry")(registry(q)(spark, dir))
        val built = MemoLedger.drain()
        t.foreach { tr =>
          tr.count("memo.builds", built.size)
          tr.count("memo.build_s", built.values.sum)
        }
        span("engine.action", "engine") {
          df.write.format("noop").mode("overwrite").save()
        }
      }
    }
    val units = new Units
    val ops = (1 to passes).flatMap { pass =>
      // the traced run records the cold pass and every other steady pass;
      // the passes between are untraced, giving the overhead in the same run
      val traced = tracer.nonEmpty && (pass == 1 || pass % 2 == 0)
      tracer.foreach(_.recording = traced)
      val res = units.time(pass > 1)(queries.map(q => timeOp(q,
        if (pass == 1) "cold" else "steady", pass, traced)(runQuery(q, traced))))
      tracer.foreach(_.recording = false)
      heap += heapAfterGcMb()
      res
    }
    // untimed: results for the DuckDB oracle, and the oracle SQL itself
    val checkDir = plan.get("check_dir").asText
    val checkErrors = queries.flatMap { q =>
      try {
        registry(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$q")
        None
      } catch { case NonFatal(e) => Some(q -> s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    }.toMap
    val oracle = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Map("ops" -> ops.map(opRecord), "heap_after_gc_mb" -> heap.toSeq,
      "check_errors" -> checkErrors,
      "oracle_sql" -> oracle) ++ units.record
  }
}

/** `etl_*`: the World-Banks batch pipeline over successive generated batches.
  * Batch k+1 merges into the state batch k wrote through [[Sinks]]; the two
  * state snapshots alternate between two paths because a plan cannot
  * overwrite the path it reads.
  */
object Etl {
  import Harness._

  private val BankTargetSchema = StructType(Seq(
    StructField("bank_name", StringType), StructField("market_cap_usd", DoubleType),
    StructField("last_modified_date", DateType), StructField("batch_id", StringType),
    StructField("active", BooleanType), StructField("updated_at", TimestampType)))
  private val RateTargetSchema = StructType(Seq(
    StructField("country", StringType), StructField("currency", StringType),
    StructField("year", DateType), StructField("exchange_rate", DoubleType),
    StructField("batch_id", StringType)))

  def register(spark: SparkSession, plan: JsonNode): Unit = {
    val first = plan.get("batches").get(0)
    spark.read.option("wholetext", "true").text(first.get("banks_dir").asText)
  }

  def run(spark: SparkSession, plan: JsonNode,
      tracer: Option[Tracer]): Map[String, Any] = {
    val sinks = plan.get("sinks_dir").asText
    val batches = plan.get("batches").elements.asScala.toSeq
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    val units = new Units
    val ops = batches.zipWithIndex.map { case (b, i) =>
      val traced = tracer.nonEmpty && (i == 0 || i % 2 == 1)
      tracer.foreach(_.recording = traced)
      val op = units.time(i > 0)(timeOp(b.get("id").asText,
        if (i == 0) "cold" else "steady", i + 1, traced)(
        batch(spark, b, i, sinks, tracer.filter(_ => traced))))
      tracer.foreach(_.recording = false)
      heap += heapAfterGcMb()
      op
    }
    Map("ops" -> ops.map(opRecord), "heap_after_gc_mb" -> heap.toSeq) ++
      units.record ++ readBack(spark, sinks, batches.length)
  }

  private def statePath(sinks: String, table: String, i: Int) =
    s"$sinks/${table}_state_${i % 2}"

  /** One batch: extract → cleanse/quarantine → SCD merge + counters →
    * enrich → seven sink writes. In a traced batch each stage's output is
    * materialized inside its own span, so work lands in the stage that
    * defines it instead of in the first write that needs it.
    */
  private def batch(spark: SparkSession, b: JsonNode, i: Int, sinks: String,
      t: Option[Tracer]): Unit = {
    def span[T](n: String, l: String)(body: => T): T = t.fold(body)(_.span(n, l)(body))
    val materialized = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame, key: String): DataFrame = t.fold(df) { tr =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      materialized += p
      tr.count(key, p.count().toDouble)
      p
    }
    val id = b.get("id").asText
    val batchId = lit(id)
    val clock = WorldBanksPipeline.Clock(
      lit(b.get("ts").asText).cast("timestamp"), lit(b.get("date").asText).cast("date"))
    val banksDir = b.get("banks_dir").asText
    span(id, "op") {
      val (rawBanks, rawRates, year) = span("sources.extract", "sources") {
        t.foreach { tr =>
          tr.count("sources.pages", b.get("pages").asDouble)
          tr.count("sources.input_bytes", b.get("input_bytes").asDouble)
        }
        // each page's footer stamp joins its own rows on src_file
        val banks = HtmlTable.scanPositional(spark, banksDir, 2)
          .join(HtmlTable.footerLastmod(spark, banksDir), "src_file")
          .select(element_at(col("cells"), 2).as("bank_name"),
            element_at(col("cells"), 3).as("market_cap_usd"), col("lastmod_text"))
        val page = HtmlTable.scanFirst(spark, b.get("rates_page").asText)
        val headers = page.columns.filterNot(_ == "row_idx").toSeq
        val year = WorldBanksPipeline.sniffYear(headers).getOrElse(
          sys.error(s"no year header in ${b.get("rates_page").asText}"))
        val rates = page.select(col(headers(0)).as("country"),
          col(headers(1)).as("currency"), col(year).as("exchange_rate"))
        (mat(banks, "sources.rows"), mat(rates, "sources.rows"), year)
      }
      val (banks, bankQ, rates) = span("pipeline.cleanse", "pipeline") {
        val (good, quarantined) = WorldBanksPipeline.splitQuarantine(
          WorldBanksPipeline.cleanseBanks(rawBanks, batchId, keepRaw = true),
          Seq("market_cap_usd", "last_modified_date"), "bank_name")
        val rates = WorldBanksPipeline.cleanseRates(rawRates, year, batchId)
        (mat(good, "pipeline.clean_rows"), mat(quarantined, "pipeline.quarantined_rows"),
          mat(rates, "pipeline.clean_rows"))
      }
      val (bankState, rateState, bankCounters, rateCounters) = span("scd.merge", "scd") {
        val bankTarget =
          if (i == 0) spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), BankTargetSchema)
          else spark.read.parquet(statePath(sinks, "banks", i - 1))
        val rateTarget =
          if (i == 0) spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), RateTargetSchema)
          else spark.read.parquet(statePath(sinks, "rates", i - 1))
        t.foreach(tr => tr.count("scd.target_rows",
          (bankTarget.count() + rateTarget.count()).toDouble))
        // persisted as WorldBanksPipeline.run does: each feeds two consumers
        val bs = WorldBanksPipeline.loadBanks(banks, bankTarget, clock, batchId).persist()
        val rs = WorldBanksPipeline.loadRates(rates, rateTarget, clock, batchId).persist()
        t.foreach(tr => tr.count("scd.rows_out", (bs.count() + rs.count()).toDouble))
        (bs, rs, mat(ScdMerge.counters(bs, batchId, "world_bank_data"), "scd.counter_rows"),
          mat(ScdMerge.counters(rs, batchId, "exchanges_rates"), "scd.counter_rows"))
      }
      val enriched = span("pipeline.enrich", "pipeline") {
        mat(WorldBanksPipeline.enrich(bankState.filter(col("active")), rateState)
          .withColumn("batch_id", batchId), "pipeline.enriched_rows")
      }
      val logs = WorldBanksPipeline.logFrame(spark, Seq(
        "extract" -> "scraped world bank + exchange rate tables",
        "transform" -> "cleansed and typed incoming batches",
        "load" -> "merged batches into durable state"), clock, batchId)
      def write(n: String)(w: => Unit): Unit = span(s"sinks.$n", "sinks") {
        t.foreach(_.count("sinks.writes", 1))
        w
      }
      write("bank_state")(Sinks.writeState(bankState.drop(ScdMerge.ChangeCol),
        statePath(sinks, "banks", i)))
      write("rate_state")(Sinks.writeState(rateState.drop(ScdMerge.ChangeCol),
        statePath(sinks, "rates", i)))
      write("bank_counters")(Sinks.appendLog(bankCounters, s"$sinks/log_counts"))
      write("rate_counters")(Sinks.appendLog(rateCounters, s"$sinks/log_counts"))
      write("process_logs")(Sinks.appendLog(logs, s"$sinks/process_logs"))
      write("quarantine")(Sinks.appendLog(bankQ.withColumn("batch_id", batchId),
        s"$sinks/quarantine"))
      write("enriched")(Sinks.writeBatchPartitioned(enriched, s"$sinks/enriched"))
      bankState.unpersist()
      rateState.unpersist()
      materialized.foreach(_.unpersist())
    }
  }

  /** Untimed: what the sinks hold at the end, for the model check. */
  private def readBack(spark: SparkSession, sinks: String, n: Int): Map[String, Any] = {
    val counters = spark.read.parquet(s"$sinks/log_counts").collect().map { r =>
      r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap
    }.toSeq
    val quarantine = spark.read.parquet(s"$sinks/quarantine")
      .groupBy("batch_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val state = spark.read.parquet(statePath(sinks, "banks", n - 1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bank_name")
      .orderBy(col("active").desc, col("updated_at").desc_nulls_last)
    val finalCounts = state.withColumn("cur", row_number().over(w) === 1)
      .agg(sum(when(col("active"), 1).otherwise(0)).as("active"),
        sum(when(!col("active") && col("cur"), 1).otherwise(0)).as("inactive"),
        sum(when(!col("cur"), 1).otherwise(0)).as("history"))
      .collect().head
    val rates = spark.read.parquet(statePath(sinks, "rates", n - 1)).count()
    Map("counters" -> counters, "quarantine" -> quarantine,
      "final" -> Map("active" -> finalCounts.getLong(0),
        "inactive" -> finalCounts.getLong(1), "history" -> finalCounts.getLong(2),
        "rates" -> rates))
  }
}
