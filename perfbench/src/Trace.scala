package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEvents

/** The layers a call is attributed to: the engine's module names, with
  * `operators` split by operator family.
  */
object Layers {
  val All: Seq[String] = Seq("sources", "silver", "gold", "compat", "control", "orchestrate",
    "io", "operators.curation", "operators.search", "operators.vector", "operators.semantic")
  /** Spark local property carrying the layer of the running call. */
  val Key = "perfbench.layer"
}

/** One timed call: name, layer, interval (ns), parent span id (0 = root). */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      start: Long, end: Long, runId: String, failed: Boolean)

/** Spans around the benchmark's calls into the engine, held in memory.
  * While disabled a span only runs its body: no property, no record.
  * While enabled it tags every Spark job the call starts with its layer
  * (local property + job description) so [[LayerListener]] can key task
  * and query metrics by layer.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = current.get()
      val prevLayer = sc.getLocalProperty(Layers.Key)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setLocalProperty(Layers.Key, layer)
      sc.setJobDescription(name)
      current.set(id)
      val t0 = System.nanoTime()
      var failed = true
      try { val r = body; failed = false; r }
      finally {
        done.add(Span(id, name, layer, parent, t0, System.nanoTime(), runId, failed))
        current.set(parent)
        sc.setLocalProperty(Layers.Key, prevLayer)
        sc.setJobDescription(prevDesc)
      }
    }

  /** Id of the innermost open span on this thread (0 = none). */
  def currentSpan: Long = current.get()

  /** Runs `body` on this thread as if inside span `parent`: spans a pool
    * thread opens for a call traced on another thread nest under it.
    */
  def under[T](parent: Long)(body: => T): T = {
    val was = current.get()
    current.set(parent)
    try body finally current.set(was)
  }

  /** Runs `body` with tracing off (output checks are not the workload). */
  def untraced[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  /** Self time per span id: duration minus the union of the intervals its
    * direct children cover (children may overlap when they ran in
    * parallel).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }
}

/** Per-layer accumulators of the task metrics. */
final class TaskAgg {
  var jobs = 0L
  var tasks = 0L
  var execRunMs = 0L
  var schedDelayMs = 0L
  var deserMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var outputBytes = 0L
}

/** One finished SQL execution: its Catalyst phases, exchanges and write. */
final case class QueryRecord(executionId: Long, durationNs: Long,
                             analysisMs: Double, optimizeMs: Double, planMs: Double,
                             exchanges: Int, writePath: Option[String], filesWritten: Long)

/** The benchmark-owned listener: task metrics keyed by the layer the job
  * was tagged with, and per-SQL-execution Catalyst phases, exchange counts
  * and write targets, keyed by execution id and resolved to layers through
  * the jobs once the run ends.
  */
final class LayerListener extends SparkListener with AdaptiveSparkPlanHelper {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val aggs = new ConcurrentHashMap[String, TaskAgg]()
  private val queries = new ConcurrentLinkedQueue[QueryRecord]()

  private def agg(layer: String): TaskAgg = aggs.computeIfAbsent(layer, _ => new TaskAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Layers.Key))).foreach { layer =>
      val a = agg(layer)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(stageLayer.put(_, layer))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execLayer.put(id.toLong, layer))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    val m = e.taskMetrics
    if (layer != null && m != null) {
      val a = agg(layer)
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      a.synchronized {
        a.tasks += 1
        a.execRunMs += m.executorRunTime
        a.deserMs += m.executorDeserializeTime
        a.schedDelayMs += sched
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = a.peakExecMem max m.peakExecutionMemory
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    // only executions whose jobs carried a layer (started inside a span
    // while tracing was on)
    case e: SparkListenerSQLExecutionEnd if execLayer.containsKey(e.executionId) =>
      SqlEvents.queryExecution(e).foreach(qe => record(e.executionId, qe, SqlEvents.durationNs(e)))
    case _ =>
  }

  private def record(executionId: Long, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    val exchanges = collect(plan) {
      case x: ShuffleExchangeLike => x
      case x: BroadcastExchangeLike => x
    }.size
    val writes = collect(plan) { case w: DataWritingCommandExec => w }
    val path = writes.collectFirst {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
    }
    val files = writes.flatMap(_.cmd.metrics.get("numFiles")).map(_.value).sum
    queries.add(QueryRecord(executionId, durationNs, ms("analysis"), ms("optimization"),
      ms("planning"), exchanges, path, files))
  }

  def layerOf(executionId: Long): Option[String] = Option(execLayer.get(executionId))
  def taskAgg(layer: String): TaskAgg = Option(aggs.get(layer)).getOrElse(new TaskAgg)
  def queryRecords: Seq[QueryRecord] = queries.asScala.toSeq
}

object LayerListener {
  def install(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    l
  }

}
