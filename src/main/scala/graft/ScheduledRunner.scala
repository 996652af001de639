package graft

import org.apache.spark.sql.SparkSession

/** The reference's orchestration entry point — the Airflow DAG at
  * `0eeeb621168f_dag.py:27-40` (daily schedule, `retries: 3`, fixed
  * `retry_delay`) — re-expressed as a thin retryable main around
  * [[BatchPipeline.run]]. The schedule itself belongs to the cluster's
  * scheduler (cron/Airflow submitting `spark-submit --class
  * graft.ScheduledRunner`); the engine ships the retry/backoff semantics
  * so a transient failure (flaky storage, preempted executors) re-runs the
  * whole attempt, like the DAG re-triggers the whole notebook.
  *
  * Usage: ScheduledRunner <pinDir> <geoDir> <userDir> <outDir>
  *                        [maxRetries=3] [backoffMs=600000]
  */
object ScheduledRunner {

  /** Run `attempt` with up to `maxRetries` retries and doubling backoff
    * (first delay `backoffMs`). Returns the successful value or rethrows
    * the last failure. `sleeper` is injectable so specs don't sleep.
    */
  def withRetries[T](maxRetries: Int, backoffMs: Long,
      sleeper: Long => Unit = Thread.sleep)(attempt: Int => T): T = {
    var tryNo = 0
    var delay = backoffMs
    while (true) {
      try return attempt(tryNo)
      catch {
        // NonFatal only: an OutOfMemoryError / dead SparkContext cannot
        // succeed on retry (each attempt would fail instantly and still
        // burn the full backoff schedule), and an interrupt is a
        // cancellation, not a transient — both must surface immediately
        case scala.util.control.NonFatal(e) =>
          tryNo += 1
          if (tryNo > maxRetries) throw e
          sleeper(delay)
          delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One attempt = the full pipeline run AND the result writes (the DAG's
    * retry unit is the whole notebook run, `0eeeb621168f_dag.py:29-33`).
    * The cleaned tables [[BatchPipeline.run]] persisted are released even
    * when a write fails, so a retry starts from the raw JSON.
    */
  def runOnce(s: SparkSession, pinDir: String, geoDir: String,
      userDir: String, outDir: String): Unit =
    try BatchPipeline.run(s, pinDir, geoDir, userDir)
      .toSeq.sortBy(_._1)
      .foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$name")
      }
    finally Caches.releaseAll()

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ScheduledRunner <pinDir> <geoDir> <userDir> <outDir> " +
        "[maxRetries] [backoffMs]")
    val Array(pinDir, geoDir, userDir, outDir) = args.take(4)
    val maxRetries = if (args.length > 4) args(4).toInt else 3
    val backoffMs = if (args.length > 5) args(5).toLong else 600000L
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    EngineConf(spark)
    try withRetries(maxRetries, backoffMs) { tryNo =>
      if (tryNo > 0) System.err.println(s"[scheduled] retry $tryNo")
      runOnce(spark, pinDir, geoDir, userDir, outDir)
    } finally spark.stop()
  }
}
