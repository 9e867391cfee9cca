package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Result of one timed operation. `seconds` covers only the engine calls;
  * the output check runs after the clock stops.
  */
final case class OpResult(kind: String, seconds: Double, items: Long, ok: Boolean)

/** A workload drives the engine's public functions closed-loop from one
  * client thread.
  */
trait Workload {
  /** Generate the seeded inputs and build the state the timed loop needs. */
  def setup(): Unit
  /** The `i`-th timed operation. */
  def op(i: Int): OpResult
  /** The kind of op whose latency is the headline (`latency_s.p50`). */
  def primaryKind: String
  /** Ops in one full round of the workload's op mix; the timed loop always
    * ends on a round boundary so every run measures the same mix.
    */
  def period: Int = 1
  /** Run-end figures: bytes the timed ops wrote, input bytes they
    * consumed (`write_amp` is the ratio), bytes the workload's state
    * occupies on disk and the live (served or published) part of them,
    * plus layer metrics only this workload can measure.
    */
  def writtenBytes: Long
  def inputBytes: Long
  def bytesOnDisk: Long
  def liveBytes: Long
  def layerExtras: Map[String, Double]
  /** Extra facts for the result's `detail` object. */
  def detail: Map[String, Any] = Map.empty
}

final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, dir: String,
                     plant: Boolean, recallFloor: Double) {
  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)
}

/** Runs independent calls on threads of their own. */
object Par {
  /** Runs every body on its own thread, waits for all of them and returns
    * their results in order; a failure is rethrown once all have ended.
    */
  def all[T](bodies: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    try {
      val futures = bodies.map(b => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = b()
      }))
      val settled = futures.map(f => scala.util.Try(f.get()))
      settled.map(_.fold(e => throw Option(e.getCause).getOrElse(e), identity))
    } finally pool.shutdown()
  }
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_s.p50" -> "s", "items_per_s" -> "1/s", "ops_per_s" -> "1/s", "write_amp" -> "ratio",
    "bytes_on_disk" -> "bytes", "heap_peak_mb" -> "MB")

  private val full = Seq("calls", "jobs", "tasks", "busy_s", "exec_run_s", "sched_delay_s",
    "deser_s", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "analysis_ms",
    "optimize_ms", "plan_ms", "exchanges")
  private val serve = Seq("calls", "jobs", "tasks", "busy_s", "exec_run_s", "sched_delay_s",
    "shuffle_write_mb", "analysis_ms", "optimize_ms", "plan_ms", "exchanges")
  private val small = Seq("calls", "jobs", "busy_s", "analysis_ms")
  val GoldMarts: Seq[String] = Seq("current_members", "activity_yearly", "activity_monthly",
    "constituency_yearly", "content_fact_pool")
  val CurationStages: Seq[String] = Seq("1_quality_gate", "2_exact_dedup", "3_line_scrub",
    "4_span_dedup", "5_near_dedup", "6_decontaminated")
  /** Per-layer metric names with their units, in print order. `run.py`
    * adds `trace_overhead.*`, the difference of an untraced and a traced
    * run, and `operators.curation.near_dup_recall` from its oracle check.
    */
  val PerLayer: Seq[(String, String)] = {
    def of(layer: String, names: Seq[String]) = names.map(n => s"$layer.$n")
    val names =
      of("sources", Seq("calls", "busy_s", "pages", "retries")) ++
      of("silver", serve ++ Seq("wait_s", "rows_out")) ++
      of("gold", full) ++ GoldMarts.map(m => s"gold.$m.busy_s") ++
      of("compat", small) ++ of("control", small) ++
      of("orchestrate", small ++ Seq("optimize_ms", "plan_ms")) ++
      of("io", Seq("calls", "jobs", "tasks", "busy_s", "bytes_written", "files_written",
        "live_bytes_ratio")) ++
      of("operators.curation", full) ++ CurationStages.map(s => s"operators.curation.$s.busy_s") ++
      Seq("search", "vector", "semantic").flatMap(f =>
        of(s"operators.$f", serve :+ "versions_live")) ++
      Seq("index.serve_s.p50", "index.ingest_s.p50", "index.fold_prune_s.p50")
    names.map(n => n -> unitOf(n))
  }

  private def unitOf(n: String): String = n.split('.').last match {
    case s if s.endsWith("_s") || s == "p50" => "s"
    case s if s.endsWith("_ms") => "ms"
    case s if s.endsWith("_mb") => "MB"
    case "bytes_written" => "bytes"
    case "live_bytes_ratio" => "ratio"
    case _ => "count"
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def duBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Old-generation occupancy after a forced full collection, in MB: the
    * live heap at this point (the G1 old gen holds every survivor). The
    * first collection lets Spark's cleaner see unreferenced broadcasts,
    * shuffles and cached blocks; their blocks are dropped before the
    * second one, so the reading does not depend on the cleaner's timing.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum / (1 << 20)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "trace").contains("1")
    val work = arg(args, "work").getOrElse(sys.error("--work is required"))
    val out = arg(args, "out").getOrElse(sys.error("--out is required"))
    val plant = arg(args, "plant").contains("1")
    val recallFloor = arg(args, "recall-floor").map(_.toDouble).getOrElse(0.0)
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = if (trace) Some(LayerListener.install(spark)) else None
    val tracer = new Tracer(spark, s"$workload-$seed-${System.currentTimeMillis()}")
    val ctx = Ctx(spark, tracer, seed, s"$work/data", plant, recallFloor)
    val wl: Workload = workload match {
      case "refresh_weekly" => new RefreshWorkload(ctx)
      case "curate_index" => new CurateIndexWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // one setup; there is no warm-up, so the first timed op runs cold,
    // as the first call of a batch job does
    val s0 = System.nanoTime()
    wl.setup()
    val setupOnlyS = (System.nanoTime() - s0) / 1e9
    var heapPeak = liveHeapMb()
    val loopStart = System.nanoTime()
    val setupS = sessionS + setupOnlyS

    // closed loop until the engine calls have taken `seconds`, ending on a
    // round of the op mix; a traced run traces every timed op
    val all = mutable.ArrayBuffer.empty[OpResult]
    var timed = 0.0
    tracer.enabled = trace
    while (timed < seconds || all.size % wl.period != 0) {
      val r = wl.op(all.size)
      all += r
      timed += r.seconds
      if (all.size % wl.period == 0) heapPeak = heapPeak max liveHeapMb()
    }
    tracer.enabled = false
    val loopWallS = (System.nanoTime() - loopStart) / 1e9
    val attempted = all.size
    val failed = all.count(!_.ok)

    // latency and throughput of the headline op; ops_per_s over the mix
    val prim = all.filter(_.kind == wl.primaryKind)
    val endToEnd = Map("latency_s.p50" -> median(prim.map(_.seconds).toSeq),
      "items_per_s" -> prim.map(_.items).sum / prim.map(_.seconds).sum,
      "ops_per_s" -> all.size / timed, "setup_s" -> setupS,
      "write_amp" -> wl.writtenBytes.toDouble / wl.inputBytes,
      "bytes_on_disk" -> wl.bytesOnDisk.toDouble, "heap_peak_mb" -> heapPeak)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { case (n, u) => (n, endToEnd(n), u) }
      else {
        org.apache.spark.sql.perfbench.SqlEvents.drain(spark.sparkContext)
        val layer = layerMetrics(tracer, listener.get) ++ wl.layerExtras ++
          Map("io.live_bytes_ratio" -> wl.liveBytes.toDouble / wl.bytesOnDisk)
        writeSpans(tracer, s"$work/spans.jsonl")
        PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    val detail = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "session_s" -> sessionS,
      "setup_only_s" -> setupOnlyS, "loop_wall_s" -> loopWallS,
      "timed_s" -> timed, "end_to_end" -> endToEnd,
      "ops" -> all.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "primary_s" -> all.filter(_.kind == wl.primaryKind).map(_.seconds)) ++ wl.detail
    val json = new StringBuilder
    json.append("{\"correct\": ").append(failed == 0)
      .append(", \"attempted\": ").append(attempted)
      .append(", \"failed\": ").append(failed)
      .append(", \"metrics\": {")
    json.append(metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", "))
    json.append("}, \"detail\": ").append(graft.io.StableJson.write(detail)).append("}")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json.toString) finally w.close()
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def layerMetrics(tracer: Tracer, l: LayerListener): Map[String, Double] = {
    val spans = tracer.spans
    val self = Tracer.selfTimes(spans)
    val m = mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      add(s"${s.layer}.calls", 1)
      add(s"${s.layer}.busy_s", self(s.id) / 1e9)
      add(s"${s.name}.busy_s", self(s.id) / 1e9)
    }
    Layers.All.foreach { layer =>
      val a = l.taskAgg(layer)
      add(s"$layer.jobs", a.jobs.toDouble)
      add(s"$layer.tasks", a.tasks.toDouble)
      add(s"$layer.exec_run_s", a.execRunMs / 1e3)
      add(s"$layer.sched_delay_s", a.schedDelayMs / 1e3)
      add(s"$layer.deser_s", a.deserMs / 1e3)
      add(s"$layer.shuffle_write_mb", a.shuffleWriteBytes / 1048576.0)
      add(s"$layer.spill_mb", a.spillBytes / 1048576.0)
      add(s"$layer.peak_exec_mem_mb", a.peakExecMem / 1048576.0)
      add("io.bytes_written", a.outputBytes.toDouble)
    }
    l.queryRecords.foreach { q =>
      l.layerOf(q.executionId).foreach { layer =>
        add(s"$layer.analysis_ms", q.analysisMs)
        add(s"$layer.optimize_ms", q.optimizeMs)
        add(s"$layer.plan_ms", q.planMs)
        add(s"$layer.exchanges", q.exchanges.toDouble)
        add("io.files_written", q.filesWritten.toDouble)
        for (p <- q.writePath; st <- CurationStages.find(st => p.contains(s"/$st.parquet")))
          add(s"operators.curation.$st.busy_s", q.durationNs / 1e9)
      }
    }
    m.toMap
  }

  private def writeSpans(tracer: Tracer, path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try tracer.spans.foreach { s =>
      w.println(graft.io.StableJson.write(Map("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "run_id" -> s.runId, "failed" -> s.failed)))
    } finally w.close()
  }
}
