package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

class PassagesSourceSpec extends SparkSpec {

  private val xml1 =
    """<passages gare="87393009"><train><date mode="R">20/05/2017 12:09</date><num>135140</num><miss>POPI</miss><term>87384008</term></train></passages>"""
  private val xml2 =
    """<passages gare="87384008"><train><date mode="T">20/05/2017 12:14</date><num>134683</num><miss>PEBU</miss><term>87384008</term><etat>Retardé</etat></train><train><date mode="R">20/05/2017 12:20</date><num>165109</num><miss>POPI</miss><term>87393009</term></train></passages>"""

  private def writeDir(): String = {
    val dir = Files.createTempDirectory("dsv2").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.xml"), xml1)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.xml"), xml2)
    dir
  }

  test("DSv2 connector reads passage XML, packing small files into one partition") {
    val dir = writeDir()
    val df = spark.read.format("graft.sources.dsv2.PassagesSource").load(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("station_id", "num", "miss", "term", "expected_ts", "mode", "etat"))
    val rows = df.orderBy("num").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).toSeq == Seq("134683", "135140", "165109"))
    assert(rows(0).getString(5) == "T" && rows(0).getString(6) == "Retardé")
    assert(rows(1).getTimestamp(4).toString.startsWith("2017-05-20 12:09"))
    assert(rows(1).isNullAt(6)) // on-time: no etat element
    // split planning packs files by real bytes into Spark's file-split
    // budget: two small documents are one partition ...
    assert(df.rdd.getNumPartitions == 1)
    // ... and a budget below one file's size gives each file its own
    val sp = spark.newSession()
    sp.conf.set("spark.sql.files.maxPartitionBytes", (xml1.length - 1).toString)
    val split = sp.read.format("graft.sources.dsv2.PassagesSource").load(dir)
    assert(split.rdd.getNumPartitions == 2)
    assert(split.count() == 3)
  }

  /** Every message on the cause chain of a failure. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a malformed passage document fails the read and names the file") {
    val dir = writeDir()
    val bad = s"$dir/c.xml"
    Files.writeString(java.nio.file.Paths.get(bad),
      """<passages gare="87393009"><train><num>135140</num></passages>""")
    val e = intercept[Exception](
      spark.read.format("graft.sources.dsv2.PassagesSource").load(dir).collect())
    assert(messages(e).contains(bad), messages(e))
    // the pipeline entry point fails the same way, never with zero rows
    val e2 = intercept[Exception](
      graft.sources.XmlPassages.read(spark, dir, "2017-05-20", "12:00").count())
    assert(messages(e2).contains(bad), messages(e2))
  }

  test("a missing passage directory fails at planning and names the path") {
    val missing = Files.createTempDirectory("dsv2").resolve("gone").toString
    // building the RDD plans the partitions and runs no job
    val e = intercept[Exception](
      spark.read.format("graft.sources.dsv2.PassagesSource").load(missing).rdd)
    assert(messages(e).contains(missing), messages(e))
  }

  test("one passage XML parser: no from_xml or DOM parser in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for (word <- Seq("from_xml", "DocumentBuilderFactory")) {
      val hits = files.filter(p => Files.readString(p).contains(word))
      assert(hits.isEmpty, s"$word in ${hits.mkString(", ")}")
    }
  }

  test("connector output feeds the domain matcher like any DataFrame") {
    val dir = writeDir()
    val p = spark.read.format("graft.sources.dsv2.PassagesSource").load(dir)
      .withColumn("request_day", lit("2017-05-20"))
      .withColumn("request_time", lit("12:00"))
      .withColumn("day_train_num", concat(lit("20170520_"), col("num")))
    // latest-state upsert over the connector's rows
    val state = graft.domain.Transit.lastPassageState(p)
    assert(state.count() == 3)
    val filters = p.filter(col("mode") === "R")
    assert(filters.count() == 2)
  }
}
