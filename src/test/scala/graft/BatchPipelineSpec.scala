package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end batch pipeline spec: wire-faithful JSON fixtures
  * (FIXTURES.md §1) → declared-schema read → cleaners → the 9 reference
  * queries, with hand-computed expectations on a deterministic fixture.
  */
class BatchPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val dirs = BatchPipelineSpec.fixtureDirs()

  private lazy val results = BatchPipeline.run(spark, dirs._1, dirs._2, dirs._3)

  test("typed entity views: cleaned frames round-trip through Dataset[T] " +
      "with nulls as None and keys required") {
    import graft.schemas.Entities
    val c = BatchPipeline.clean(
      BatchPipeline.readTopic(spark, dirs._1, graft.schemas.Schemas.pinRaw),
      BatchPipeline.readTopic(spark, dirs._2, graft.schemas.Schemas.geoRaw),
      BatchPipeline.readTopic(spark, dirs._3, graft.schemas.Schemas.userRaw))
    val pins = Entities.pins(c.pin).collect()
    assert(pins.length === c.pin.count())
    // the sentinel follower_count row surfaces as None, parsed ones as Some
    val byId = pins.map(p => p.ind -> p).toMap
    assert(byId(4).follower_count === None)
    assert(byId(1).follower_count === Some(25000))
    // typed filter/map compile against fields and agree with the untyped form
    val typedArt = Entities.pins(c.pin)
      .filter(_.category.contains("art")).count()
    assert(typedArt ===
      c.pin.filter(org.apache.spark.sql.functions
        .col("category") === "art").count())
    val geos = Entities.geos(c.geo).collect()
    assert(geos.forall(_.coordinates.exists(_.length == 2)))
    val users = Entities.users(c.user).collect()
    assert(users.forall(_.user_name.exists(_.nonEmpty)))
    // round-trip back to a DataFrame preserves the cleaned schema shape
    import spark.implicits._
    val back = Entities.pins(c.pin).toDF()
    assert(back.schema.fieldNames.toSeq === c.pin.schema.fieldNames.toSeq)
  }

  test("q1: category counts per country") {
    val got = results("q1").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("US", "art") -> 2L, ("DE", "tech") -> 2L,
      ("FR", "food") -> 1L))
  }

  test("q2: 2018-2022 filter excludes the 2015 post") {
    val got = results("q2").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map((2019, "art") -> 1L, (2020, "art") -> 1L,
      (2021, "tech") -> 1L, (2022, "food") -> 1L))
  }

  test("q3/q4: top poster per country, then global top country") {
    val q3 = results("q3").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(q3("US") === ("bob", 2000000))
    assert(q3("DE") === ("carol", 500)) // dan's followers were a sentinel -> null
    assert(q3("FR") === ("eve", 1000))
    val q4 = results("q4").collect()
    assert(q4.length === 1 && q4.head.getString(0) === "US")
  }

  test("q5: age-group categories incl. under-18 -> '+50' quirk") {
    val got = results("q5").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("18-24", "art")) === 1L)
    assert(got(("25-35", "art")) === 1L)
    assert(got(("25-35", "tech")) === 1L)
    assert(got(("+50", "tech")) === 1L)  // age 55
    assert(got(("+50", "food")) === 1L)  // age 17: reference quirk
  }

  test("q6: median followers per age group (approx = exact at this size)") {
    val got = results("q6").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got("18-24") === Some(25000))
    assert(got("25-35") === Some(500)) // {2M, 500}: GK lower-median
    assert(got("+50").isDefined || got("+50").isEmpty) // {null, 1000} -> 1000
  }

  test("q7: users joined per year counts distinct ind") {
    val got = results("q7").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(2016 -> 1L, 2017 -> 2L, 2018 -> 1L, 2019 -> 1L))
  }

  test("q8/q9 shapes: grouped medians present for every join-year") {
    assert(results("q8").collect().map(_.getInt(0)).toSet ===
      Set(2016, 2017, 2018, 2019))
    val q9 = results("q9").collect()
    assert(q9.map(r => (r.getString(0), r.getInt(1))).distinct.length ===
      q9.length)
  }

  test("cleaned views registered under the reference's table names") {
    assert(spark.table("pin_table").columns.toSeq ===
      Schemas2.pinCleanCols)
    assert(spark.table("geo_table").count() === 5)
    assert(spark.table("user_table").count() === 5)
  }

  test("run persists the cleaned views once; every result reads that " +
      "materialization, never the raw JSON") {
    val qs = results
    BatchPipelineSpec.views.foreach(v =>
      assert(spark.catalog.isCached(v), s"$v is not cached"))
    assert(qs.keySet === (1 to 9).map(i => s"q$i").toSet)
    qs.foreach { case (q, df) =>
      val plan = df.queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty,
        s"$q does not read the persisted tables")
      assert(BatchPipelineSpec.jsonScans(plan).isEmpty,
        s"$q re-reads the raw JSON")
    }
  }

  private object Schemas2 {
    val pinCleanCols: Seq[String] = graft.schemas.Schemas.pinClean.fieldNames.toSeq
  }
}

object BatchPipelineSpec {

  val views: Seq[String] = Seq("pin_table", "geo_table", "user_table")

  /** The plan's scans over raw JSON files. */
  def jsonScans(plan: LogicalPlan): Seq[LogicalRelation] = plan.collect {
    case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _)
        if r.fileFormat.isInstanceOf[JsonFileFormat] => l
  }

  /** Writes the deterministic pin/geo/user JSON fixture under a new temp
    * directory and returns the three topic dirs.
    */
  def fixtureDirs(): (String, String, String) = {
    val base = Files.createTempDirectory("graft_batch").toString
    def write(name: String, lines: Seq[String]): String = {
      val d = new java.io.File(s"$base/$name"); d.mkdirs()
      val f = new java.io.File(d, "part-0.json")
      java.nio.file.Files.write(f.toPath,
        lines.mkString("\n").getBytes("UTF-8"))
      d.toString
    }
    def pin(i: Int, followers: String, cat: String, poster: String) =
      s"""{"index": $i, "unique_id": "u$i", "title": "t$i",
         |"description": "d$i", "poster_name": "$poster",
         |"follower_count": "$followers", "tag_list": "x,y",
         |"is_image_or_video": "image", "image_src": "http://i/$i",
         |"downloaded": "1", "save_location": "Local save in /data/$cat",
         |"category": "$cat"}""".stripMargin.replaceAll("\n", " ")
    def geo(i: Int, country: String, yr: Int) =
      s"""{"ind": $i, "country": "$country", "latitude": 10.0,
         |"longitude": 20.0, "timestamp": "$yr-06-01T12:00:00"}"""
        .stripMargin.replaceAll("\n", " ")
    def user(i: Int, age: Int, joined: Int) =
      s"""{"ind": $i, "first_name": "F$i", "last_name": "L$i",
         |"age": $age, "date_joined": "$joined-03-01T00:00:00"}"""
        .stripMargin.replaceAll("\n", " ")
    val pins = Seq(
      pin(1, "25k", "art", "alice"), pin(2, "2M", "art", "bob"),
      pin(3, "500", "tech", "carol"), pin(4, "User Info Error", "tech", "dan"),
      pin(5, "1k", "food", "eve"))
    val geos = Seq(
      geo(1, "US", 2019), geo(2, "US", 2020), geo(3, "DE", 2021),
      geo(4, "DE", 2015), geo(5, "FR", 2022))
    val users = Seq(
      user(1, 20, 2016), user(2, 30, 2017), user(3, 30, 2017),
      user(4, 55, 2018), user(5, 17, 2019))
    (write("pin", pins), write("geo", geos), write("user", users))
  }
}
