package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.BatchPipeline
import graft.ops.Cleaners
import graft.schemas.Schemas
import graft.streaming.StreamPipeline

/** `stream_ingest`: the reference pipeline, streaming half then batch half.
  * `StreamPipeline.rawTextDir` feeds the observed pin/geo/user streams
  * (unbounded `dropDuplicates` state) into three concurrent checkpointed
  * parquet append queries.
  *
  *  - phase (a) drains a fixed backlog of JSON-line files, as a restarted
  *    ingest catches up: the queries start cold in a fresh JVM;
  *  - phase (b) is an open loop: one generator thread moves one file per
  *    topic into the watched directories every `interval-ms`, at a fixed
  *    rate below the drain rate, naming each file with the time it was due.
  *    A file's latency runs from that due time to the commit of the
  *    micro-batch that holds it;
  *  - phase (c) is the daily batch round ([[DailyBatch]]): the reference
  *    batch job over the same files, and the embedding build.
  */
final class StreamIngest(o: Opts) extends Workload {
  private val topics = Seq("pin", "geo", "user")
  private val intervalMs = o.kv("interval-ms").toLong
  private val watch = s"${o.work}/watch"
  private val sink = s"${o.work}/sink"
  private val ckpt = s"${o.work}/checkpoint"
  private var drainSecs, batchSecs = 0.0
  private var batch: DailyBatch = _
  /** (topic, file name, due ms, moved-in ms) for every open-loop file. */
  private val sent = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var backlogFiles = 0
  private val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def stream(s: SparkSession, topic: String, dir: String): DataFrame = {
    val raw = StreamPipeline.rawTextDir(s, dir)
    topic match {
      case "pin" => StreamPipeline.pinStreamObserved(raw)
      case "geo" => StreamPipeline.geoStreamObserved(raw)
      case "user" => StreamPipeline.userStreamObserved(raw)
    }
  }

  private def moveAll(from: File, to: File): Int = {
    to.mkdirs()
    val fs = Option(from.listFiles()).toSeq.flatten.sortBy(_.getName)
    fs.foreach(f => NioFiles.move(f.toPath, new File(to, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE))
    fs.length
  }

  /** Session start only: phase (a) is a catch-up after a restart, so it
    * runs in a fresh JVM and pays its own code generation and JIT.
    */
  def setup(s: SparkSession, t: Tracer): Unit = ()

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
  }

  def measure(s: SparkSession, t: Tracer, seconds: Int): Unit = {
    batch = new DailyBatch(t)
    if (t.enabled) s.streams.addListener(listener)
    backlogFiles = topics.map(tp =>
      moveAll(new File(s"${o.input}/backlog/$tp"), new File(s"$watch/$tp"))).sum
    val t0 = System.nanoTime()
    val queries: Seq[StreamingQuery] = topics.map { tp =>
      t.within("op.StreamPipeline", s"start $tp") {
        StreamPipeline.startParquetSink(stream(s, tp, s"$watch/$tp"),
          s"$sink/$tp", s"$ckpt/$tp")
      }
    }
    t.within("op.StreamPipeline", "drain backlog") {
      queries.foreach(_.processAllAvailable())
    }
    drainSecs = (System.nanoTime() - t0) / 1e9
    HeapWatch.sample()

    val pending = topics.map(tp => tp ->
      Option(new File(s"${o.input}/pending/$tp").listFiles()).toSeq.flatten
        .sortBy(_.getName)).toMap
    val n = math.min(pending.values.map(_.length).min,
      (seconds * 1000L / intervalMs).toInt)
    val start = System.currentTimeMillis() + intervalMs
    val generator = new Thread(() => {
      (0 until n).foreach { i =>
        val due = start + i * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        topics.foreach { tp =>
          val name = f"open-$i%05d-due$due.json"
          NioFiles.move(pending(tp)(i).toPath, new File(s"$watch/$tp/$name").toPath,
            StandardCopyOption.ATOMIC_MOVE)
          sent.synchronized(sent += ((tp, name, due, System.currentTimeMillis())))
        }
      }
    }, "perfbench-stream-generator")
    t.within("op.StreamPipeline", "open loop") {
      generator.start()
      generator.join()
      queries.foreach(_.processAllAvailable())
    }
    HeapWatch.sample()
    queries.foreach(_.stop())
    if (t.enabled) s.streams.removeListener(listener)

    val b0 = System.nanoTime()
    batch.run(s, watch, s"${o.input}/tables", s"${o.work}/batch")
    batchSecs = (System.nanoTime() - b0) / 1e9
  }

  /** file name → batch id, from the file source's metadata log. */
  private def fileBatches(tp: String): Map[String, Long] = {
    val dir = new File(s"$ckpt/$tp/sources/0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.matches("[0-9]+(\\.compact)?")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().collect {
        case Entry(p, b) => p.split('/').last -> b.toLong
      }.toList
      finally src.close()
    }.toMap
  }

  private def commitMs(tp: String, batch: Long): Option[Long] = {
    val f = new File(s"$ckpt/$tp/commits/$batch")
    if (f.exists) Some(f.lastModified) else None
  }

  def finish(s: SparkSession, t: Tracer): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val perTopicFiles = sent.groupBy(_._1).map { case (k, v) => k -> v.length }
    // the sink must equal the batch clean + dedup of the same files
    val badTopics = topics.filter { tp =>
      val schema = tp match {
        case "pin" => Schemas.pinRaw
        case "geo" => Schemas.geoRaw
        case "user" => Schemas.userRaw
      }
      val raw = BatchPipeline.readTopic(s, s"$watch/$tp", schema)
      val expected = tp match {
        case "pin" => raw.transform(Cleaners.pinClean)
        case "geo" => raw.transform(Cleaners.geoClean)
        case "user" => raw.transform(Cleaners.userClean)
      }
      val actual = s.read.parquet(s"$sink/$tp")
      // same row multiset: equal counts and equal sums of row hashes
      def summary(df: DataFrame) = df.select(count(lit(1)),
        sum(xxhash64(expected.columns.map(df.col): _*).cast("decimal(38,0)")))
        .head()
      val diff = try {
        if (summary(actual) == summary(expected)) 0L else 1L
      } catch { case e: Throwable => failures += s"$tp: ${e.getMessage}"; 1L }
      if (diff != 0) failures += s"$tp: sink differs from the batch clean"
      diff != 0
    }
    val latencies = mutable.ArrayBuffer.empty[Double]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var unmatched = 0
    topics.foreach { tp =>
      val batches = fileBatches(tp)
      sent.filter(_._1 == tp).foreach { case (_, name, due, moved) =>
        batches.get(name).flatMap(b => commitMs(tp, b)) match {
          case Some(c) =>
            latencies += (c - due).toDouble
            intervals += ((moved, c))
          case None => unmatched += 1
        }
      }
    }
    if (unmatched > 0) failures += s"$unmatched open-loop files never committed"
    val late = sent.map(x => (x._4 - x._3).toDouble).toSeq
    val backlogMax = intervals.map { case (a, _) =>
      intervals.count { case (b, c) => b <= a && a < c } }.maxOption.getOrElse(0)
    val p50 = Stats.quantile(latencies.toSeq, 0.5)
    val p90 = Stats.quantile(latencies.toSeq, 0.9)
    val p95 = Stats.quantile(latencies.toSeq, 0.95)
    val rows = o.rows.toDouble
    val files = backlogFiles + sent.length
    val failed = badTopics.map(tp =>
      perTopicFiles.getOrElse(tp, 0) + backlogFiles / topics.length).sum +
      unmatched + batch.errors.length
    failures ++= batch.errors

    val measured = progress.synchronized(progress.toSeq)
    val overheadKeys = Seq("latestOffset", "getBatch", "queryPlanning",
      "walCommit", "commitOffsets")
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val lastByQuery = measured.groupBy(_.id).values.map(_.maxBy(_.batchId))
    val layers = if (!t.enabled) Map.empty[String, Double] else Map(
      "stream.batches" -> measured.count(_.numInputRows > 0).toDouble,
      "stream.batch_ms_p50" -> Stats.quantile(
        measured.filter(_.numInputRows > 0).map(dur(_, "triggerExecution")), 0.5),
      "stream.add_batch_ms" -> measured.map(dur(_, "addBatch")).sum,
      "stream.overhead_ms" -> measured.map(p => overheadKeys.map(dur(p, _)).sum).sum,
      "stream.state_rows" -> lastByQuery.flatMap(_.stateOperators)
        .map(_.numRowsTotal.toDouble).sum,
      "stream.state_bytes" -> lastByQuery.flatMap(_.stateOperators)
        .map(_.memoryUsedBytes.toDouble).sum,
      "stream.backlog_files_max" -> backlogMax.toDouble,
      "stream.gen_late_ms_p50" -> Stats.quantile(late, 0.5),
      "stream.gen_late_ms_max" -> late.maxOption.getOrElse(0.0),
      "stream.drain_s" -> drainSecs,
      "stream.latency_p95_ms" -> p95) ++ batch.seconds
    Outcome(
      e2e = Map("op_p50_ms" -> p50, "op_p90_ms" -> p90,
        "ops_per_s" -> rows / drainSecs, "round_s" -> batchSecs),
      named = Seq[(String, Double, String)](
        ("stream_drain_rows_per_s", rows / drainSecs, "1/s"),
        ("stream_latency_p50_ms", p50, "ms"),
        ("stream_latency_p95_ms", p95, "ms"),
        ("stream_gen_late_ms_p50", Stats.quantile(late, 0.5), "ms"),
        ("stream_gen_late_ms_max", late.maxOption.getOrElse(0.0), "ms"),
        ("stream_open_loop_files", sent.length, "count"),
        ("stream_latency_samples", latencies.length, "count"),
        ("daily_batch_s", batchSecs, "s")) ++
        Seq("reference", "emb").map(p =>
          (s"${p}_build_s", batch.seconds.getOrElse(s"batch.${p}_s", Double.NaN), "s")),
      layers = layers,
      attempted = files + 2, failed = failed, failures = failures.toSeq,
      checks = batch.checks.toSeq)
  }
}
