package graft

import org.apache.spark.sql.functions._
import graft.functions.Gtfs

/** Domain UDx surface (SURVEY.md §2.4): GTFS past-midnight times,
  * service days, UIC normalization, XML passage parsing (through the
  * passage connector), typed Aggregator. */
class UdxSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    spark.range(1).select(c).head()

  test("gtfs_seconds handles past-midnight times") {
    assert(one(Gtfs.gtfsSeconds(lit("25:10:00"))).getLong(0) == 90600L)
    assert(one(Gtfs.gtfsSeconds(lit("00:00:30"))).getLong(0) == 30L)
    assert(one(Gtfs.gtfsSeconds(lit("23:59:59"))).getLong(0) == 86399L)
  }

  test("gtfs_time round-trips gtfs_seconds including hours ≥ 24") {
    for (s <- Seq("25:10:00", "04:05:06", "00:00:00")) {
      assert(one(Gtfs.gtfsTime(Gtfs.gtfsSeconds(lit(s)))).getString(0) == s)
    }
  }

  test("service_day rolls times before the cutover to the previous day") {
    val r = spark.sql(
      """SELECT CAST('2017-05-20 01:10:00' AS TIMESTAMP) AS late_night,
        |       CAST('2017-05-20 07:00:00' AS TIMESTAMP) AS morning""".stripMargin)
      .select(
        Gtfs.serviceDay(col("late_night")).cast("string").as("a"),
        Gtfs.serviceDay(col("morning")).cast("string").as("b"))
      .head()
    assert(r.getString(0) == "2017-05-19") // 01:10 belongs to yesterday's service
    assert(r.getString(1) == "2017-05-20")
  }

  test("uic8 appends a stable Luhn check digit that self-validates") {
    val r = one(Gtfs.uic8(lit("8738400"))).getString(0)
    assert(r.length == 8 && r.startsWith("8738400"))
    // self-consistency: check digit of the same prefix is deterministic
    assert(one(Gtfs.uic8(lit("8738400"))).getString(0) == r)
    // known Luhn vector: check digit of "7992739871" is 3
    assert(one(Gtfs.luhnCheckDigit(lit("7992739871"))).getInt(0) == 3)
  }

  test("parse_passages extracts typed train calls from the XML document") {
    val xml =
      """<passages gare="87393009">
        |<train><date mode="R">20/05/2017 12:09</date><num>135140</num><miss>POPI</miss><term>87384008</term></train>
        |<train><date mode="T">20/05/2017 12:14</date><num>134683</num><miss>PEBU</miss><term>87384008</term><etat>Retardé</etat></train>
        |</passages>""".stripMargin
    // the one passage parser is the DSv2 connector: one file, one
    // partition, rows in document order
    val dir = java.nio.file.Files.createTempDirectory("udx-xml")
    java.nio.file.Files.writeString(dir.resolve("doc.xml"), xml)
    val rows = spark.read.format("graft.sources.dsv2.PassagesSource").load(dir.toString)
      .select("station_id", "num", "miss", "mode", "expected_ts", "etat")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "87393009")
    assert(rows(0).getString(1) == "135140")
    assert(rows(0).getString(3) == "R")
    assert(rows(0).getTimestamp(4).toString.startsWith("2017-05-20 12:09"))
    assert(rows(0).isNullAt(5)) // on-time trains carry no etat
    assert(rows(1).getString(3) == "T" && rows(1).getString(5) == "Retardé")
  }

  test("geometric_mean Aggregator merges correctly across partitions") {
    Gtfs.register(spark)
    val r = spark.range(1, 5).repartition(4) // 1,2,3,4 across partitions
      .selectExpr("geometric_mean(CAST(id AS DOUBLE)) AS g").head().getDouble(0)
    val expected = math.pow(24.0, 1.0 / 4) // (1*2*3*4)^(1/4)
    assert(math.abs(r - expected) < 1e-12)
  }

  test("heavy_hitters UDAF is callable from SQL and keeps the majority term") {
    Gtfs.register(spark)
    val docs = graft.engine.Tables.documents(spark, sf)
    docs.createOrReplaceTempView("udx_docs")
    val m = spark.sql("SELECT heavy_hitters(lang) AS hh FROM udx_docs")
      .head().getMap[String, Long](0)
    assert(m.size <= 16)
    // 'en' is ~44% of the corpus — with k=16 capacity over a 5-value
    // domain nothing is ever evicted, so estimates are exact counts
    val exact = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.toMap == exact)
  }

  test("delay computation composes: observed − scheduled in seconds") {
    // the reference's core analytic, over the feed's wall-clock format
    val df = spark.sql(
      """SELECT '20/05/2017 12:14' AS observed, '20/05/2017 12:09' AS scheduled""")
      .select((unix_timestamp(to_timestamp(col("observed"), "dd/MM/yyyy HH:mm")) -
        unix_timestamp(to_timestamp(col("scheduled"), "dd/MM/yyyy HH:mm"))).as("delay_sec"))
    assert(df.head().getLong(0) == 300L)
  }
}
