package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Wall-clock bounds attribute listener events;
  * nanosecond bounds give the durations.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val wall0: Long, val t0: Long) {
  var wall1: Long = Long.MaxValue
  var t1: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
}

/** Spans recorded in memory around the harness's calls into the program,
  * plus the events Spark's public listeners report. Events are attributed
  * after the run to the innermost span open at the event's time: the client
  * is single-threaded, so spans nest strictly and never overlap siblings.
  */
final class Tracer {
  /** Spans are recorded only while this is set; the traced run alternates it
    * across steady ops so the same run also measures tracing overhead.
    */
  var recording = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val events = new ConcurrentLinkedQueue[(Long, Map[String, Double])]()

  /** Counters whose span value is the peak seen, not the sum. */
  private val peakKeys = Set("stream.state_rows", "stream.state_bytes")

  def span[T](name: String, layer: String)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(spans.length, stack.headOption.fold(-1)(_.id), name,
        layer, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.t1 = System.nanoTime()
        s.wall1 = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** Add a harness-side count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (recording) stack.headOption.foreach(s => add(s, key, v))

  private def add(s: Span, key: String, v: Double): Unit =
    if (peakKeys(key)) s.counts(key) = math.max(s.counts.getOrElse(key, 0.0), v)
    else s.counts(key) = s.counts.getOrElse(key, 0.0) + v

  private def emit(wallMs: Long, c: Map[String, Double]): Unit =
    events.add(wallMs -> c)

  /** Attribute queued listener events to spans; call after the listener bus
    * has drained. Events outside every recorded span are dropped.
    */
  def attribute(): Unit = {
    events.asScala.foreach { case (t, c) =>
      // innermost = latest-started span whose interval holds t
      spans.reverseIterator.find(s => s.wall0 <= t && t <= s.wall1)
        .foreach(s => c.foreach { case (k, v) => add(s, k, v) })
    }
    events.clear()
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "t0" -> s.t0 / 1e9, "t1" -> s.t1 / 1e9, "counts" -> s.counts.toMap))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit(e.time, Map("exec.jobs" -> 1.0))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val base = Map("exec.tasks" -> 1.0)
      val t = Option(e.taskInfo).map(_.finishTime).getOrElse(System.currentTimeMillis())
      if (m == null) emit(t, base)
      else emit(t, base ++ Map(
        "exec.task_cpu_s" -> m.executorCpuTime / 1e9,
        "exec.gc_s" -> m.jvmGCTime / 1e3,
        "exec.shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "exec.shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "exec.spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "exec.output_bytes" -> m.outputMetrics.bytesWritten.toDouble))
    }
  }

  /** Reached through [[QueryEvents]], which every session registers. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val t = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    def phase(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val leaves = planNodes(qe.executedPlan).filter(_.children.isEmpty)
      .filterNot(_.isInstanceOf[ReusedExchangeExec]).toSeq
    def metric(p: SparkPlan, n: String) =
      p.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
    val files = leaves.collect { case f: FileSourceScanExec => f }
    emit(t, Map(
      "plan.queries" -> 1.0,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "scan.leaves" -> leaves.size.toDouble,
      "scan.in_memory" -> leaves.count(_.isInstanceOf[InMemoryTableScanExec]).toDouble,
      "tables.scan_files" -> files.map(metric(_, "numFiles")).sum,
      "tables.scan_bytes" -> files.map(metric(_, "filesSize")).sum,
      "tables.scan_rows" -> files.map(metric(_, "numOutputRows")).sum))
  }

  /** Every node of a finished physical plan: through adaptive plans and
    * query stages, into subqueries, stopping at reused exchanges.
    */
  private def planNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => Iterator.single(other) ++
      (other.children ++ other.subqueries).iterator.flatMap(planNodes)
  }

  /** Reached through [[StreamEvents]], which every session registers. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      emit(t, Map(
        "stream.batches" -> 1.0,
        "stream.trigger_s" -> d.getOrElse("triggerExecution", 0.0),
        "stream.add_batch_s" -> d.getOrElse("addBatch", 0.0),
        "stream.planning_s" -> d.getOrElse("queryPlanning", 0.0),
        "stream.commit_s" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "stream.state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
        "stream.state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
    }
  }
}

/** Registered for every session through `spark.sql.queryExecutionListeners`:
  * library code also plans queries in sessions of its own (`newSession`),
  * which a listener added to one session's manager never hears. Forwards to
  * the active tracer.
  */
class QueryEvents extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Forward.tracer.foreach(_.queryListener.onSuccess(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Forward.tracer.foreach(_.queryListener.onFailure(funcName, qe, exception))
}

/** The same for `spark.sql.streaming.streamingQueryListeners`: the streaming
  * oracles run their streams in a new session.
  */
class StreamEvents extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Forward.tracer.foreach(_.streamListener.onQueryProgress(e))
}

object Forward {
  @volatile var tracer: Option[Tracer] = None
}
