package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{GtfsCsv, JsonDocs, Sinks, XmlPassages}

/** Source/sink connectors: GTFS CSV round-trip into the domain
  * pipeline, XML passage files, JSON documents, and the bucketed-write
  * shuffle-elimination proof. */
class SourcesSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("countPartFiles reads a missing sink dir as 0 part files") {
    assert(graft.queries.Sink.countPartFiles(spark, java.nio.file.Files
      .createTempDirectory("sink-gone").resolve("missing").toString) == 0)
  }

  test("GTFS CSV bundle reads with explicit schemas and feeds the domain pipeline") {
    val dir = tmp("gtfs")
    def w(name: String, content: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/$name.txt"), content)
    w("stops", "stop_id,stop_name,stop_lat,stop_lon,parent_station\n" +
      "StopPoint:DUA8738400,Pont Cardinet,48.887,2.316,StopArea:DUA8738400\n")
    w("trips", "trip_id,route_id,service_id,trip_headsign\n" +
      "DUASN165109F01,R1,S_WEEK,PARIS\n")
    w("stop_times", "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n" +
      "DUASN165109F01,25:10:00,25:10:00,StopPoint:DUA8738400,1\n")
    w("calendar", "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n" +
      "S_WEEK,1,1,1,1,1,1,1,20170101,20171231\n")
    w("calendar_dates", "service_id,date,exception_type\n" +
      "S_WEEK,20170525,2\n")
    val b = GtfsCsv.readBundle(spark, dir)
    assert(b("calendar").schema("monday").dataType.typeName == "integer")
    assert(b("stops").schema("stop_lat").dataType.typeName == "double")
    val ext = graft.domain.Transit.stopTimesExt(b("trips"), b("stop_times"), b("stops"))
    val r = ext.head()
    assert(r.getAs[Long]("departure_secs") == 90600L) // 25:10 past-midnight
    assert(graft.domain.Transit.activeServices(
      b("calendar"), b("calendar_dates"), "20170520").count() == 1)
    assert(graft.domain.Transit.activeServices(
      b("calendar"), b("calendar_dates"), "20170525").count() == 0) // removed
  }

  test("XML passage files parse into typed passage rows, distributed") {
    val dir = tmp("xml")
    Files.writeString(java.nio.file.Paths.get(s"$dir/doc1.xml"),
      """<passages gare="87393009"><train><date mode="R">20/05/2017 12:09</date><num>135140</num><miss>POPI</miss><term>87384008</term></train><train><date mode="T">20/05/2017 12:14</date><num>134683</num><miss>PEBU</miss><term>87384008</term><etat>Supprimé</etat></train></passages>""")
    val p = XmlPassages.read(spark, dir, "2017-05-20", "12:00")
    val rows = p.orderBy("num").collect()
    assert(rows.length == 2)
    assert(rows(1).getAs[String]("num") == "135140")
    assert(rows(1).getAs[String]("station_id").length == 8) // UIC-8 normalized
    assert(rows(0).getAs[String]("etat") == "Supprimé")
    assert(rows(0).getAs[String]("day_train_num") == "20170520_134683")
  }

  test("JSON documents read with explicit schema (no inference pass)") {
    val dir = tmp("json")
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"doc_id": 1, "text": "scan join merge", "lang": "en", "source": "src0", "n_chars": 15}
        |{"doc_id": 2, "text": "window order", "lang": "fr", "source": "src1", "n_chars": 12}""".stripMargin)
    val d = JsonDocs.read(spark, dir)
    assert(d.count() == 2)
    assert(d.schema("doc_id").dataType.typeName == "long")
  }

  test("robust JSON ingest quarantines malformed lines instead of crashing or dropping") {
    val dir = tmp("json_robust")
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"doc_id": 1, "text": "scan join merge", "lang": "en", "source": "src0", "n_chars": 15}
        |{"doc_id": 2, "text": "window order, "lang": BROKEN
        |not json at all
        |{"doc_id": 3, "text": "hash batch", "lang": "de", "source": "src2", "n_chars": 10}""".stripMargin)
    val (clean, bad) = JsonDocs.quarantine(JsonDocs.readRobust(spark, dir))
    assert(clean.count() == 2)
    assert(clean.columns.toSeq == JsonDocs.documentSchema.fieldNames.toSeq)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // quarantine keeps the RAW text of both malformed lines for replay
    val raws = bad.collect().map(_.getString(0))
    assert(raws.length == 2, s"expected 2 quarantined lines, got ${raws.mkString("|")}")
    assert(raws.exists(_.contains("not json at all")))
    assert(raws.exists(_.contains("BROKEN")))
  }

  test("bucketed write eliminates the join shuffle (the 100 TB star-join lever)") {
    val sp = spark.newSession() // isolated runtime confs, shared temp warehouse
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val o = graft.engine.Tables.orders(sp, sf)
    val l = graft.engine.Tables.lineitem(sp, sf)
    Sinks.writeBucketed(o, "orders_b", "o_orderkey", 4)
    Sinks.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)
    val joined = sp.table("lineitem_b").join(sp.table("orders_b"), "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == l.count()) // every lineitem matches its order
    // non-bucketed control: the same join DOES shuffle
    val control = l.join(o, l("l_orderkey") === o("o_orderkey"))
    assert(control.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("ORC roundtrip preserves values and pushes filters to the scan") {
    // format breadth beyond parquet: the engine's scans are format-
    // agnostic DataFrame reads, so ORC (the other columnar format in
    // every Spark distribution) works with the same pushdown behavior
    val path = tmp("orc") + "/orders"
    val orders = graft.engine.Tables.orders(spark, sf)
    orders.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.schema == orders.schema)
    assert(back.count() == orders.count())
    val filtered = back.filter(col("o_orderpriority") === "1-URGENT")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderpriority"),
      s"ORC filter not pushed:\n${plan.take(500)}")
    assert(filtered.count() ==
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("partitioned sink writes a prunable directory layout") {
    val path = tmp("part") + "/events"
    val ev = graft.engine.Tables.loadEvents(spark, sf)
      .withColumn("day", to_date(col("ts")).cast("string"))
    Sinks.writePartitioned(ev, path, "day")
    val back = spark.read.parquet(path).filter(col("day") === "2024-01-02")
    // partition pruning: only one day's directory is scanned
    val scanned = back.queryExecution.executedPlan.toString
    assert(back.count() > 0)
    assert(scanned.contains("PartitionFilters") || back.inputFiles.forall(_.contains("day=2024-01-02")))
  }

  test("source_api_jsonl: multi-file read, empty-page tolerance, record-exact flatten") {
    val out = graft.engine.Registry.byName("source_api_jsonl")
      .build(spark, sf).collect()
    // 5 records across pages 1-3; page 4 (empty records array) and its
    // station contribute ZERO rows, not a parse failure
    assert(out.length == 5)
    assert(!out.exists(_.getString(1) == "87384008"))
    assert(out.map(_.getInt(0)).distinct.sorted.toSeq == Seq(1, 2, 3))
    // both feed files contributed (stations from feed_a AND feed_b)
    assert(out.exists(_.getString(1) == "87393009") &&
      out.exists(_.getString(1) == "87758011"))
    // severity derivation matches its own delay column
    out.foreach(r => assert(r.getBoolean(6) == (r.getInt(4) >= 10)))
  }
}
