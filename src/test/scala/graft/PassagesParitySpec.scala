package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Gtfs
import graft.sources.XmlPassages

/** `XmlPassages.read` (the DSv2 connector) returns the same rows as the
  * `from_xml` parse it replaced, kept here as the test oracle only. */
class PassagesParitySpec extends SparkSpec {

  /** The replaced reader: whole-file text, `from_xml`, explode. */
  private def oracle(session: SparkSession, dir: String, requestDay: String,
      requestTime: String): DataFrame = {
    val doc = from_xml(col("value"), StructType(Seq(
      StructField("_gare", StringType),
      StructField("train", ArrayType(StructType(Seq(
        StructField("date", StructType(Seq(
          StructField("_VALUE", StringType), StructField("_mode", StringType)))),
        StructField("num", StringType), StructField("miss", StringType),
        StructField("term", StringType), StructField("etat", StringType))))))))
    session.read.option("wholetext", "true").text(dir)
      .select(explode(doc.getField("train")).as("t"), doc.getField("_gare").as("gare"))
      .select(
        Gtfs.uic8(graft.domain.Transit.uic7(col("gare"))).as("station_id"),
        col("t.num").as("num"), col("t.miss").as("miss"), col("t.term").as("term"),
        to_timestamp(col("t.date._VALUE"), "dd/MM/yyyy HH:mm").as("expected_ts"),
        col("t.date._mode").as("mode"), col("t.etat").as("etat"),
        lit(requestDay).as("request_day"), lit(requestTime).as("request_time"),
        concat(regexp_replace(lit(requestDay), "-", ""), lit("_"), col("t.num"))
          .as("day_train_num"))
  }

  private val fixtures: Seq[(String, Seq[(String, String)])] = Seq(
    "SourcesSpec document" -> Seq("doc1.xml" ->
      """<passages gare="87393009"><train><date mode="R">20/05/2017 12:09</date><num>135140</num><miss>POPI</miss><term>87384008</term></train><train><date mode="T">20/05/2017 12:14</date><num>134683</num><miss>PEBU</miss><term>87384008</term><etat>Supprimé</etat></train></passages>"""),
    "UdxSpec document, newlines between trains" -> Seq("doc.xml" ->
      """<passages gare="87393009">
        |<train><date mode="R">20/05/2017 12:09</date><num>135140</num><miss>POPI</miss><term>87384008</term></train>
        |<train><date mode="T">20/05/2017 12:14</date><num>134683</num><miss>PEBU</miss><term>87384008</term><etat>Retardé</etat></train>
        |</passages>""".stripMargin),
    "empty passages document" -> Seq(
      "empty.xml" -> """<passages gare="87384008"/>""",
      "one.xml" -> """<passages gare="87393009"><train><date mode="R">20/05/2017 12:20</date><num>165109</num><miss>POPI</miss><term>87393009</term></train></passages>"""),
    "no etat, and Supprimé" -> Seq("doc.xml" ->
      """<?xml version="1.0" encoding="UTF-8"?><passages gare="87758011"><train><date mode="T">20/05/2017 23:59</date><num>221006</num><miss>SEBU</miss><term>87393009</term></train><train><date mode="R">21/05/2017 00:04</date><num>221008</num><miss>SEBU</miss><term>87393009</term><etat>Supprimé</etat></train></passages>"""),
    "padded and empty values" -> Seq("doc.xml" ->
      """<passages gare="87393009"><train><date mode="R"> 20/05/2017 12:09 </date><num> 135140 </num><miss>POPI</miss><term>87384008</term><etat></etat></train></passages>"""))

  private def tuples(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertParity(dir: String, session: SparkSession = spark): Unit = {
    val got = XmlPassages.read(session, dir, "2017-05-20", "12:00")
    val want = oracle(session, dir, "2017-05-20", "12:00")
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(tuples(got) == tuples(want))
    assert(tuples(want).nonEmpty)
  }

  for ((name, files) <- fixtures) test(s"XmlPassages.read matches the from_xml parse: $name") {
    val dir = Files.createTempDirectory("parity")
    files.foreach { case (f, content) => Files.writeString(dir.resolve(f), content) }
    assertParity(dir.toString)
  }

  test("XmlPassages.read matches the from_xml parse: _SUCCESS and .crc files are ignored") {
    // a directory as Spark's text writer leaves it: the document as a
    // part file, a _SUCCESS marker and a .crc checksum for each
    val dir = Files.createTempDirectory("parity").resolve("written").toString
    val session = spark
    import session.implicits._
    Seq("""<passages gare="87393009"><train><date mode="R">20/05/2017 12:09</date><num>135140</num><miss>POPI</miss><term>87384008</term></train></passages>""")
      .toDF().coalesce(1).write.text(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertParity(dir)
  }

  test("XmlPassages.read matches the from_xml parse on the source_passages_board fixture") {
    val dir = graft.queries.SourceOps.writeFixture(
      graft.queries.SourceOps.FixtureDir, graft.queries.SourceOps.Documents)
    val got = tuples(XmlPassages.read(spark, dir, "2026-08-23", "06:00"))
    assert(got == tuples(oracle(spark, dir, "2026-08-23", "06:00")))
    assert(got.length == 6)
  }

  test("XmlPassages.read matches the from_xml parse in a non-UTC session zone") {
    // the feed's wall-clock times are read in the session zone, as
    // to_timestamp reads them
    val dir = Files.createTempDirectory("parity")
    fixtures.head._2.foreach { case (f, content) => Files.writeString(dir.resolve(f), content) }
    val paris = spark.newSession()
    paris.conf.set("spark.sql.session.timeZone", "Europe/Paris")
    assertParity(dir.toString, paris)
    val utc = XmlPassages.read(spark, dir.toString, "2017-05-20", "12:00")
    assert(tuples(XmlPassages.read(paris, dir.toString, "2017-05-20", "12:00")) != tuples(utc))
  }
}
