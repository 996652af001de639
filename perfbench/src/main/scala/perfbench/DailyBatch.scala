package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{BatchPipeline, EmbPipeline}

/** The batch half of the reference, run once over a new input generation
  * under an empty staging root:
  *
  *  - the reference daily job: `BatchPipeline.run` over pin/geo/user JSON,
  *    the cleaned tables written to parquet, then the 9 results written;
  *  - `EmbPipeline.run` over a generated embeddings table.
  *
  * Records each pipeline's seconds and the checks that verify its outputs.
  */
final class DailyBatch(t: Tracer) {
  private val topics = Seq("pin", "geo", "user")
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]

  private def timed[T](k: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally seconds(k) = (System.nanoTime() - t0) / 1e9
  }

  private def pipeline(name: String, module: String)(body: => Unit): Unit =
    try timed(s"batch.${name}_s")(t.within(s"op.$module", name)(body))
    catch { case e: Throwable => errors += s"$name: ${e.getMessage}" }

  /** JSON topics under `ref/<topic>`, the embeddings table under
    * `tables`, outputs under `root`.
    */
  def run(s: SparkSession, ref: String, tables: String, root: String): Unit = {
    s.conf.set("spark.graft.staging.root", s"$root/staging")
    pipeline("reference", "BatchPipeline") {
      val results = t.within("BatchPipeline", "run") {
        BatchPipeline.run(s, s"$ref/pin", s"$ref/geo", s"$ref/user")
      }
      timed("batch.clean_write_s") {
        t.within("sources", "write cleaned tables") {
          topics.foreach(n =>
            s.table(s"${n}_table").write.parquet(s"$root/clean/$n"))
        }
      }
      results.toSeq.sortBy(_._1).foreach { case (q, df) =>
        timed(s"batch.${q}_s") {
          t.within("ops.ReferenceQueries", q)(df.write.parquet(s"$root/out/$q"))
        }
      }
      checks += Map("kind" -> "reference", "name" -> "reference batch",
        "clean" -> s"$root/clean", "out" -> s"$root/out", "ops" -> 1)
    }
    pipeline("emb", "EmbPipeline") {
      val c = EmbPipeline.run(s, tables, s"$root/emb")
      checks += counts("emb_pipeline_stages", tables, s"$root/emb", Seq(
        "1_total" -> c.total, "2_valid" -> c.valid,
        "3_semdedup" -> c.survivors, "4_sample" -> c.sample,
        "5_export_int8" -> c.exported))
    }
  }

  /** A stage-count reconciliation: the oracle twin re-counts what the
    * pipeline staged under `staged` and must match what it reported.
    */
  private def counts(oracle: String, tables: String, staged: String,
      reported: Seq[(String, Long)]): Map[String, Any] =
    Map("kind" -> "counts", "name" -> oracle,
      "sql" -> graft.SparkEntry.oracleSql(oracle), "tables" -> tables,
      "staged" -> staged,
      "expected" -> reported.map { case (k, v) => Seq(k, v) }, "ops" -> 1)
}
