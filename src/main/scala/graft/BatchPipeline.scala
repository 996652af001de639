package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ops.{Cleaners, ReferenceQueries}
import graft.schemas.Schemas

/** The reference's batch entry point (`CLEAN`, daily via Airflow) as one
  * callable: raw JSON dirs → declared-schema reads → the three cleaners →
  * cleaned tables persisted once (temp views; at scale `saveAsTable`) → the
  * 9 analytics results.
  *
  * [[run]] persists the three cleaned frames with `DISK_ONLY` and registers
  * them with [[Caches]] before it builds any view or query — the reference's
  * one manual physical optimization (`CLEAN:108-109,174,190`). The persist
  * is lazy: the first consumer (a view read, a cleaned-table write or any of
  * the 9 results) fills it, every later consumer reads that materialization
  * instead of re-listing, re-parsing and re-deduplicating the raw JSON, and
  * it lives until [[Caches.releaseAll]]. `DISK_ONLY` rather than
  * `MEMORY_AND_DISK`: both give the same speed-up on the daily batch round,
  * but memory-resident blocks stay live on the heap — peak old-generation
  * heap measured 114–124 MB with `MEMORY_AND_DISK` against 107–117 MB with
  * `DISK_ONLY` (105 MB unpersisted).
  *
  * Differences from the reference, by design (SURVEY.md §1.4, §4.2):
  *  - schemas are DECLARED, never inferred — batch and streaming share the
  *    same StructType constants, eliminating the reference's
  *    inference drift (age: long in batch, string in streaming);
  *  - the year filter is a timestamp range (stat-prunable).
  */
object BatchPipeline {

  case class Cleaned(pin: DataFrame, geo: DataFrame, user: DataFrame)

  /** Read one topic's JSON dump with its declared schema
    * (`CLEAN:40-52` minus inference).
    */
  def readTopic(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).json(path)

  def clean(rawPin: DataFrame, rawGeo: DataFrame, rawUser: DataFrame): Cleaned =
    Cleaned(
      rawPin.transform(Cleaners.pinClean),
      rawGeo.transform(Cleaners.geoClean),
      rawUser.transform(Cleaners.userClean))

  /** Full run from JSON directories. Persists the cleaned tables (see the
    * object doc), registers pin_table/geo_table/user_table views over them
    * (the reference's `saveAsTable` names) and returns the 9 query results
    * keyed q1..q9. Call [[Caches.releaseAll]] once the results are written.
    */
  def run(s: SparkSession, pinDir: String, geoDir: String,
      userDir: String): Map[String, DataFrame] = {
    // a live persist from an earlier run over the same dirs would match
    // these plans and serve that run's files; refresh re-reads them
    Seq(pinDir, geoDir, userDir).foreach(s.catalog.refreshByPath)
    def persisted(df: DataFrame) =
      Caches.register(df.persist(StorageLevel.DISK_ONLY))
    val lazyClean = clean(
      readTopic(s, pinDir, Schemas.pinRaw),
      readTopic(s, geoDir, Schemas.geoRaw),
      readTopic(s, userDir, Schemas.userRaw))
    val c = Cleaned(persisted(lazyClean.pin), persisted(lazyClean.geo),
      persisted(lazyClean.user))
    c.pin.createOrReplaceTempView("pin_table")
    c.geo.createOrReplaceTempView("geo_table")
    c.user.createOrReplaceTempView("user_table")
    Map(
      "q1" -> ReferenceQueries.q1(c.geo, c.pin),
      "q2" -> ReferenceQueries.q2(c.geo, c.pin),
      "q3" -> ReferenceQueries.q3(c.geo, c.pin),
      "q4" -> ReferenceQueries.q4(c.geo, c.pin),
      "q5" -> ReferenceQueries.q5(c.user, c.pin),
      "q6" -> ReferenceQueries.q6(c.user, c.pin),
      "q7" -> ReferenceQueries.q7(c.user),
      "q8" -> ReferenceQueries.q8(c.user, c.pin),
      "q9" -> ReferenceQueries.q9(c.user, c.pin))
  }
}
