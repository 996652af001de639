package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, ReferenceQueries}

/** Lifecycle of the engine's persisted state (dedup/ANN caches and the
  * batch pipeline's cleaned tables): every persist is registered with
  * [[Caches]], releasable, and queries still produce identical results
  * after release (they just recompute). The durable
  * variant — materialize the shingle index to parquet, run pair generation
  * from it — round-trips exactly.
  */
class CacheLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("dedup caches register with Caches and release cleanly; " +
      "results identical after release") {
    Caches.releaseAll()
    val before = DedupOps.minhashLshPairs(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(Caches.size > 0, "minhash ran without registering its cache")
    Caches.releaseAll()
    assert(Caches.size === 0)
    val after = DedupOps.minhashLshPairs(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(after === before)
    Caches.releaseAll()
  }

  test("releaseAll un-caches BatchPipeline's cleaned views; q1 recomputes " +
      "the same rows from the raw JSON") {
    Caches.releaseAll()
    val (pin, geo, user) = BatchPipelineSpec.fixtureDirs()
    val before = BatchPipeline.run(spark, pin, geo, user)("q1")
      .collect().map(_.toSeq).toSet
    assert(BatchPipelineSpec.views.forall(spark.catalog.isCached))
    Caches.releaseAll()
    assert(!BatchPipelineSpec.views.exists(spark.catalog.isCached))
    val rerun = ReferenceQueries.q1(
      spark.table("geo_table"), spark.table("pin_table"))
    val plan = rerun.queryExecution.withCachedData
    assert(BatchPipelineSpec.jsonScans(plan).nonEmpty,
      "q1 after release still reads a persisted table")
    assert(rerun.collect().map(_.toSeq).toSet === before)
  }

  test("a second run over changed input sees the new files while the " +
      "first run's tables are still persisted") {
    Caches.releaseAll()
    val (pin, geo, user) = BatchPipelineSpec.fixtureDirs()
    def joinedPerYear() = BatchPipeline.run(spark, pin, geo, user)("q7")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(joinedPerYear().get(2020) === None)
    Files.write(java.nio.file.Paths.get(user, "part-1.json"),
      ("""{"ind": 6, "first_name": "F6", "last_name": "L6", "age": 40, """ +
        """"date_joined": "2020-03-01T00:00:00"}""").getBytes("UTF-8"))
    assert(joinedPerYear().get(2020) === Some(1L))
    assert(spark.table("user_table").count() === 6)
    Caches.releaseAll()
  }

  test("shingle index materializes to parquet and feeds pair generation " +
      "identically to the in-session path") {
    val dir = Files.createTempDirectory("graft_idx").toString
    DedupOps.writeShingleIndex(spark, TestSpark.sf0001, 3, s"$dir/idx")
    val fromIdx = DedupOps.ngramJaccardPairsFrom(
        DedupOps.readShingleIndex(spark, s"$dir/idx"))
      .collect().map(_.toSeq).toSeq
    val direct = DedupOps.ngramJaccardPairs(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(fromIdx === direct && direct.nonEmpty)
    Caches.releaseAll()
  }
}
