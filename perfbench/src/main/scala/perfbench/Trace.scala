package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a benchmark operation, a call into a repo module,
  * or a Spark job or stage beneath it. `layer` names the repo module or
  * Spark component the interval belongs to.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double)

/** Peak old-generation occupancy after a full collection, sampled where a
  * workload finishes a phase or pass — the live set at those points, free
  * of when the collector happened to run. Stays on in untraced runs.
  */
object HeapWatch {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  @volatile private var peakBytes = 0L
  /** Collector time spent in [[sample]]'s own full collections. */
  @volatile var sampleGcMs = 0L

  def reset(): Unit = { peakBytes = 0L; sampleGcMs = 0L }

  def sample(): Unit = {
    val g0 = gcMillis
    System.gc()
    sampleGcMs += gcMillis - g0
    peakBytes = math.max(peakBytes, oldGen.map(_.getUsage.getUsed).sum)
  }

  def peakMb: Double = peakBytes / 1048576.0

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
}

/** The traced run's recorder: Spark listeners for the planner, scheduler,
  * tasks, shuffle and block manager, plus spans the workloads open around
  * each call into a repo module. Everything stays in memory until
  * [[writeSpans]]. Spark jobs find their parent span through the local
  * property [[SpanProperty]] that [[within]] sets on the calling thread.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val epochNs = System.nanoTime()
  private val wallEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6
  private def wallToMs(t: Long): Double = (t - wallEpochMs).toDouble

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }

  /** Counters keyed by metric name, summed over the measured window. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile var measuring = false
  def add(k: String, v: Double): Unit =
    if (enabled && measuring) counters.synchronized { counters(k) += v }

  /** Run `body` as a span of `layer`; jobs it submits become its children. */
  def within[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val id = nextId.getAndIncrement()
    val parent = current.get
    val prevProp = sc.getLocalProperty(SpanProperty)
    current.set(id)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = nowMs
    try body
    finally {
      spans.add(Span(id, parent, layer, name, t0, nowMs))
      current.set(parent)
      sc.setLocalProperty(SpanProperty, prevProp)
    }
  }

  // ---- Spark listener state ----
  private val jobSpan = mutable.Map.empty[Int, (Long, Double, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobWrote = mutable.Set.empty[Int]
  /** Set while a `graph_*` query runs: its jobs and stored blocks count
    * toward the graph counters (the registry loop runs one query at a time).
    */
  @volatile var graphOpActive = false
  private val scannedFiles = mutable.Map.empty[String, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val id = nextId.getAndIncrement()
      Tracer.this.synchronized {
        jobSpan(e.jobId) = (id, wallToMs(e.time), parent)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      add("sched.jobs", 1)
      if (graphOpActive) add("graph.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobSpan.remove(e.jobId).foreach { case (id, t0, parent) =>
          val t1 = wallToMs(e.time)
          spans.add(Span(id, parent, "spark.job", s"job ${e.jobId}", t0, t1))
          if (jobWrote.remove(e.jobId)) add("sources.write_ms", t1 - t0)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("sched.stages", 1)
      for (t0 <- i.submissionTime; t1 <- i.completionTime) {
        val parent = Tracer.this.synchronized {
          stageJob.get(i.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(0L)
        }
        spans.add(Span(nextId.getAndIncrement(), parent, "spark.stage",
          s"stage ${i.stageId}.${i.attemptNumber()} ${i.name}",
          wallToMs(t0), wallToMs(t1)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      add("sched.tasks", 1)
      add("exec.run_ms", m.executorRunTime)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("sources.input_bytes", m.inputMetrics.bytesRead)
      add("sources.input_records", m.inputMetrics.recordsRead)
      add("sources.output_bytes", m.outputMetrics.bytesWritten)
      if (m.outputMetrics.bytesWritten > 0 || m.outputMetrics.recordsWritten > 0)
        Tracer.this.synchronized(stageJob.get(e.stageId).foreach(jobWrote += _))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        val bytes = b.memSize + b.diskSize
        add("cache.blocks_stored", 1)
        add("cache.bytes_stored", bytes)
        if (graphOpActive) {
          add("graph.checkpoint_blocks", 1)
          add("graph.checkpoint_bytes", bytes)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (!(enabled && measuring)) return
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"plans.${p}_ms", s.durationMs))
      }
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      scans.map(_.relation.location).foreach {
        case idx: PartitioningAwareFileIndex =>
          val files = idx.allFiles().map(f => f.getPath.toString -> f.getLen)
          scannedFiles.synchronized(scannedFiles ++= files)
        case _ => ()
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Bytes of the distinct files the measured window's scans listed. */
  def distinctScannedBytes: Double =
    scannedFiles.synchronized(scannedFiles.values.sum.toDouble)

  def register(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally out.close()
  }

  /** Start of the measured window; spans before it belong to set-up. */
  @volatile var windowStartMs = 0.0
  private def windowSpans = spans.asScala.toSeq.filter(_.startMs >= windowStartMs)

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val all = windowSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        (s.endMs - s.startMs) - Tracer.unionLength(kids)
      }.sum
    }
  }

  /** Part of the spans of `layer` during which no stage was running. */
  def noTaskMs(layer: String => Boolean): Double = {
    val all = windowSpans
    val stages = all.filter(_.layer == "spark.stage")
      .map(s => (s.startMs, s.endMs))
    all.filter(s => layer(s.layer)).map { op =>
      val covered = stages.map(st =>
        (math.max(st._1, op.startMs), math.min(st._2, op.endMs)))
      (op.endMs - op.startMs) - Tracer.unionLength(covered)
    }.sum
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var started = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > end) { total += b - a; end = b; started = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Minimal JSON writer for the result file and span log. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
