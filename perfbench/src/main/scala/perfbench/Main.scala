package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command-line options the runner passes to the JVM. */
final case class Opts(workload: String, input: String, work: String,
    seconds: Int, trace: Boolean, cores: Int, seed: Long,
    kv: Map[String, String]) {
  /** Input rows one round of the workload processes. */
  def rows: Long = kv.getOrElse("rows", "0").toLong
}

/** What one workload reports after its measured window. */
final case class Outcome(
    e2e: Map[String, Double],
    named: Seq[(String, Double, String)],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    checks: Seq[Map[String, Any]])

/** One workload: set-up work the user pays once per JVM or input, a timed
  * window, and the checks that run after it.
  */
trait Workload {
  /** Warm-up and one-time builds, before the timed window. */
  def setup(s: SparkSession, t: Tracer): Unit
  def measure(s: SparkSession, t: Tracer, seconds: Int): Unit
  /** Untimed: verify outputs and summarise the window. */
  def finish(s: SparkSession, t: Tracer): Outcome
}

/** Entry point of the benchmark JVM: set up, measure one workload for a
  * fixed number of seconds, check outputs and write `result.json` into
  * the work directory.
  */
object Main {

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("input"), m("work"), m("seconds").toInt,
      m("trace") == "1", m("cores").toInt, m("seed").toLong, m)
  }

  def session(o: Opts): SparkSession = {
    val root = new File(o.work, "session").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.staging.root", s"$root/staging")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.EngineConf(s)
    s
  }

  def workload(o: Opts): Workload = o.workload match {
    case "registry_sf001" => new Registry(o)
    case "stream_ingest" => new StreamIngest(o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o)
    // Set-up: from JVM start until ready to time — session start plus the
    // workload's warm-up and one-time artifact and layout builds, on a
    // fresh staging root and warehouse. Input generation happens before
    // the JVM starts and is not part of it.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val tracer = new Tracer(spark, o.trace)
    w.setup(spark, tracer)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[perfbench] set-up: $setupS%.2f s")
    tracer.register()
    val gc0 = HeapWatch.gcMillis
    HeapWatch.reset()
    tracer.windowStartMs = tracer.nowMs
    tracer.measuring = true
    val m0 = System.nanoTime()
    w.measure(spark, tracer, o.seconds)
    val windowMs = (System.nanoTime() - m0) / 1e6
    System.err.println(f"[perfbench] measured window: ${windowMs / 1000}%.2f s")
    tracer.measuring = false
    val gcMs = HeapWatch.gcMillis - gc0 - HeapWatch.sampleGcMs
    HeapWatch.sample()
    val peakHeapMb = HeapWatch.peakMb
    Thread.sleep(500) // let the listener bus drain the window's last events
    tracer.unregister()
    val out = w.finish(spark, tracer)

    val e2e = out.e2e ++ Map(
      "setup_s" -> setupS, "peak_heap_mb" -> peakHeapMb)
    val layers = if (!o.trace) Map.empty[String, Double] else {
      val c = tracer.counters.toMap
      val self = tracer.selfTimeByLayer
      val runMs = c.getOrElse("exec.run_ms", 0.0)
      val scanned = tracer.distinctScannedBytes
      c ++ out.layers ++ self.map { case (l, v) => s"self_ms.$l" -> v } ++ Map(
        "exec.core_util" -> runMs / (windowMs * o.cores),
        "sched.no_task_ms" -> tracer.noTaskMs(_.startsWith("op.")),
        "sources.scan_amplification" ->
          (if (scanned > 0) c.getOrElse("sources.input_bytes", 0.0) / scanned
           else 0.0),
        "jvm.gc_ms" -> gcMs.toDouble) ++
        e2e.map { case (k, v) => s"traced.$k" -> v }
    }
    if (o.trace) tracer.writeSpans(new File(o.work, "spans.jsonl").getPath)
    val rt = ManagementFactory.getRuntimeMXBean
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jvm" -> s"${rt.getVmName} ${System.getProperty("java.version")}",
      "spark" -> spark.version)
    val json = Json.obj(Seq(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "host" -> host,
      "e2e" -> e2e,
      "named" -> out.named.map { case (k, v, u) =>
        Map("name" -> k, "value" -> v, "unit" -> u) },
      "layers" -> layers,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures,
      "checks" -> out.checks))
    java.nio.file.Files.writeString(
      new File(o.work, "result.json").toPath, json)
    spark.stop()
  }
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val v = xs.sorted
      val h = (v.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, v.length - 1)
      v(lo) + (h - lo) * (v(hi) - v(lo))
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}
