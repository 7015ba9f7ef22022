package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{QueryDef, QueryGroup}

/** Declared demonstration of the DSv2 ingest path: the Transilien-style
  * passage XML feed [P extract_api.py] read through
  * [[graft.sources.dsv2.PassagesSource]] (TableProvider → Scan → files
  * packed into partitions → executor-side StAX parse) and folded into
  * the departure-board shape the domain layer serves
  * (domain/Transit.scala stationBoard's ordering + cancellation rule,
  * applied per station over the whole feed).
  *
  * The driver's tables cannot carry the XML feed, so the fixture is a
  * CONSTANT three-document corpus (idempotently materialized under
  * /tmp) and the DuckDB oracle restates the raw passage rows as a
  * VALUES table — the hash therefore gates the ENTIRE Spark-side
  * pipeline: file planning, XML parsing (timestamps, missing optional
  * elements → NULL), and the board computation. A parse regression
  * (dropped row, shifted timestamp, wrong null) flips the driver hash.
  */
object SourceOps extends QueryGroup {

  /** Session-unique sink root (r10, ADVICE): the write-path operators
    * previously used a fixed /tmp path derived only from the sf
    * directory name, so two concurrent sessions at the same sf (Bench
    * plus a test run) could interleave overwrite-mode writes and
    * corrupt each other's read-back. The applicationId component makes
    * each session a single writer by construction; specs that inspect
    * the written tree (LayoutSinkSpec, CompactionSinkSpec) recompute
    * the same path from their own session. Every session [[Sink]]
    * lands under it too. */
  def sinkDir(spark: SparkSession, sf: String,
      name: String): String =
    s"/tmp/graft_${name}_" + new java.io.File(sf).getName +
      "_" + spark.sparkContext.applicationId

  val FixtureDir = "/tmp/graft_passages_fixture"

  private def doc(gare: String, trains: Seq[String]): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><passages gare="$gare">""" +
      trains.mkString + "</passages>"

  private def train(num: String, miss: String, term: String, mode: String,
      date: String, etat: Option[String]): String =
    s"<train><date mode=\"$mode\">$date</date><num>$num</num>" +
      s"<miss>$miss</miss><term>$term</term>" +
      etat.map(e => s"<etat>$e</etat>").getOrElse("") + "</train>"

  /** The constant fixture corpus: three stations, six trains, covering
    * both date modes (R réel / T théorique), a missing optional etat
    * (NULL path), and a cancelled train (board-exclusion path). */
  val Documents: Seq[(String, String)] = Seq(
    "87393009.xml" -> doc("87393009", Seq(
      train("134657", "POPI", "87384008", "R", "23/08/2026 06:05",
        Some("Retarde")),
      train("134659", "POPI", "87384008", "T", "23/08/2026 06:20", None),
      train("221004", "SEBU", "87758011", "R", "23/08/2026 06:12",
        Some("Supprime")))),
    "87758011.xml" -> doc("87758011", Seq(
      train("221006", "SEBU", "87393009", "R", "23/08/2026 06:40",
        Some("Retarde")),
      train("165435", "PEBU", "87384008", "T", "23/08/2026 06:41", None))),
    "87384008.xml" -> doc("87384008", Seq(
      train("134657", "POPI", "87393009", "R", "23/08/2026 06:55", None))))

  /** Idempotently materialize a fixture: every (name, content) file
    * under `dir` as UTF-8; returns `dir`. The write is unconditional:
    * a stale file from an older revision (or anything else squatting
    * in /tmp) would otherwise silently feed wrong input into the
    * oracled query — the files are tiny constants, so the overwrite
    * is free. */
  def writeFixture(dir: String, files: Seq[(String, String)]): String =
    synchronized {
      val d = new java.io.File(dir)
      d.mkdirs()
      files.foreach { case (name, content) =>
        java.nio.file.Files.write(new java.io.File(d, name).toPath,
          content.getBytes("UTF-8"))
      }
      dir
    }

  /** The same raw rows as a DuckDB VALUES table (the oracle's ground
    * truth for what the XML parse must produce). */
  private val OracleValues: String = Seq(
    "('87393009','134657','POPI','87384008',TIMESTAMP '2026-08-23 06:05:00','R','Retarde')",
    "('87393009','134659','POPI','87384008',TIMESTAMP '2026-08-23 06:20:00','T',NULL)",
    "('87393009','221004','SEBU','87758011',TIMESTAMP '2026-08-23 06:12:00','R','Supprime')",
    "('87758011','221006','SEBU','87393009',TIMESTAMP '2026-08-23 06:40:00','R','Retarde')",
    "('87758011','165435','PEBU','87384008',TIMESTAMP '2026-08-23 06:41:00','T',NULL)",
    "('87384008','134657','POPI','87393009',TIMESTAMP '2026-08-23 06:55:00','R',NULL)")
    .mkString(", ")

  val JsonlFixtureDir = "/tmp/graft_jsonl_fixture"

  /** Two JSONL feed files (multi-file read proven), four pages; page 4
    * is an EMPTY records array — the no-trains poll response a parser
    * must survive (it contributes zero rows, not a failure). */
  private val JsonlDocuments: Seq[(String, String)] = Seq(
    "feed_a.jsonl" -> Seq(
      """{"page":1,"station":"87393009","polled_at":"2026-08-23 06:00:00","records":[{"num":"134657","delay_min":12,"state":"late"},{"num":"134659","delay_min":0,"state":"ontime"}]}""",
      """{"page":2,"station":"87393009","polled_at":"2026-08-23 06:10:00","records":[{"num":"134657","delay_min":15,"state":"late"}]}""").mkString("", "\n", "\n"),
    "feed_b.jsonl" -> Seq(
      """{"page":3,"station":"87758011","polled_at":"2026-08-23 06:00:00","records":[{"num":"221006","delay_min":0,"state":"ontime"},{"num":"165435","delay_min":3,"state":"late"}]}""",
      """{"page":4,"station":"87384008","polled_at":"2026-08-23 06:20:00","records":[]}""").mkString("", "\n", "\n"))

  val QuarantineFixtureDir = "/tmp/graft_quarantine_fixture"

  /** Two JSONL files with three malformed lines planted among four
    * good ones — good lines AFTER bad ones prove per-line recovery.
    * The raw bad lines are restated verbatim in the oracle. */
  private[graft] val QuarantineDocuments: Seq[(String, String)] = Seq(
    "q_a.jsonl" -> Seq(
      """{"page":1,"station":"87393009","num":"134657","delay_min":12}""",
      """{"page":2,"station":"87393009","num":"134659","delay_min":0}""",
      """{"page":3,"station":"87758011","num":"221006"""",
      """{"page":4,"station":"87758011","num":"165435","delay_min":3}""").mkString("", "\n", "\n"),
    "q_b.jsonl" -> Seq(
      "garbage line not json",
      """{"page":5,"station":"87384008","num":"134683","delay_min":7}""",
      """{"page":6,"statio""").mkString("", "\n", "\n"))

  /** The quarantine feed's line schema. `_corrupt_record` is in it
    * because a PERMISSIVE parse yields a row of nulls (not a NULL row)
    * for a malformed line; that column is the reliable malformed
    * signal, for source_quarantine's reader and its stream's
    * `from_json` alike. */
  private[graft] val QuarantineSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "page INT, station STRING, num STRING, delay_min INT, " +
        "_corrupt_record STRING")

  val GtfsFixtureDir = "/tmp/graft_gtfs_fixture"

  /** A complete 5-table GTFS bundle as the spec ships it: all-text
    * CSV with headers, one file per table. Contents chosen to pin the
    * reader's edges: a quoted field containing a comma (CSV quoting),
    * a past-midnight departure string, an exception-only service, and
    * services with 0/1/2 calendar exceptions. */
  private val GtfsFiles: Seq[(String, String)] = Seq(
    "trips.txt" -> Seq(
      "trip_id,route_id,service_id,trip_headsign",
      "DUASN165109F01,R1,S_WEEK,PARIS",
      "DUASN134683F01,R1,S_WEEK,VERSAILLES",
      "DUASN200100F01,R1,S_EXC,NUIT",
      "DUASN777100F01,R2,S_WEEK,LOOP").mkString("", "\n", "\n"),
    "stop_times.txt" -> Seq(
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence",
      "DUASN165109F01,12:09:00,12:09:00,StopPoint:DUA8738400,1",
      "DUASN165109F01,12:20:00,12:21:00,StopPoint:DUA8739300,2",
      "DUASN134683F01,12:14:00,12:14:00,StopPoint:DUA8738400,1",
      "DUASN200100F01,25:10:00,25:10:00,StopPoint:DUA8738400,5",
      "DUASN777100F01,11:00:00,11:00:00,StopPoint:DUA8739300,1",
      "DUASN777100F01,11:40:00,11:40:00,StopPoint:DUA8739300,4")
      .mkString("", "\n", "\n"),
    "stops.txt" -> Seq(
      "stop_id,stop_name,stop_lat,stop_lon,parent_station",
      "StopPoint:DUA8738400,Pont Cardinet,48.887,2.316,StopArea:DUA8738400",
      "StopPoint:DUA8739300,\"Saint-Lazare, Paris\",48.876,2.325,StopArea:DUA8739300")
      .mkString("", "\n", "\n"),
    "calendar.txt" -> Seq(
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date",
      "S_WEEK,1,1,1,1,1,0,0,20170101,20171231",
      "S_EXC,0,0,0,0,0,0,0,20170101,20171231").mkString("", "\n", "\n"),
    "calendar_dates.txt" -> Seq(
      "service_id,date,exception_type",
      "S_EXC,20170520,1",
      "S_WEEK,20170521,2",
      "S_EXC,20170527,1").mkString("", "\n", "\n"))

  /** DuckDB re-read of one bundle file with the same all-VARCHAR
    * discipline the Spark reader declares (GTFS is all-text by spec;
    * typing happens in the query, on both engines). */
  private def gtfsCsvReadIn(dir: String, table: String, cols: Seq[String]): String =
    s"SELECT * FROM read_csv('$dir/$table.txt', header=true, " +
      "columns={" + cols.map(c => s"'$c':'VARCHAR'").mkString(",") + "})"

  private def gtfsCsvRead(table: String, cols: Seq[String]): String =
    gtfsCsvReadIn(GtfsFixtureDir, table, cols)

  val GtfsDirtyDir = "/tmp/graft_gtfs_dirty_fixture"

  /** A DELIBERATELY BROKEN bundle for the feed validator: every
    * integrity rule it checks is violated exactly once, and every
    * clean row passes every rule — so each check's count pins both
    * its positive and its negative branch. Violations planted:
    * a stop_time whose trip doesn't exist (TX), one whose stop
    * doesn't exist (SX), a trip on a service defined NOWHERE
    * (TGHOST/S_GHOST — note T3/SVC_CD is defined ONLY via
    * calendar_dates and must NOT be flagged), a duplicated
    * (trip_id, stop_sequence) call, an inverted calendar date range
    * (SVC_BAD), and a malformed departure time (25:99:00 — hour ≥ 24
    * is LEGAL GTFS, minute 99 is not). */
  private val GtfsDirtyFiles: Seq[(String, String)] = Seq(
    "trips.txt" -> Seq(
      "trip_id,route_id,service_id,trip_headsign",
      "T1,R1,SVC_OK,PARIS",
      "T2,R1,SVC_OK,VERSAILLES",
      "T3,R2,SVC_CD,NUIT",
      "TGHOST,R2,S_GHOST,NOWHERE").mkString("", "\n", "\n"),
    "stop_times.txt" -> Seq(
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence",
      "T1,08:00:00,08:00:00,S1,1",
      "T1,08:10:00,08:10:00,S2,2",
      "T1,08:10:00,08:10:00,S2,2",
      "T2,09:00:00,09:00:00,S1,1",
      "T2,25:99:00,25:99:00,S2,2",
      "T3,22:00:00,22:00:00,S1,1",
      "TX,10:00:00,10:00:00,S1,1",
      "T2,10:30:00,10:30:00,SX,3").mkString("", "\n", "\n"),
    "stops.txt" -> Seq(
      "stop_id,stop_name,stop_lat,stop_lon,parent_station",
      "S1,Gare A,48.887,2.316,SA1",
      "S2,Gare B,48.876,2.325,SA2").mkString("", "\n", "\n"),
    "calendar.txt" -> Seq(
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date",
      "SVC_OK,1,1,1,1,1,0,0,20170101,20171231",
      "SVC_BAD,0,0,0,0,0,1,1,20171231,20170101").mkString("", "\n", "\n"),
    "calendar_dates.txt" -> Seq(
      "service_id,date,exception_type",
      "SVC_CD,20170520,1").mkString("", "\n", "\n"))

  val FixedWidthDir = "/tmp/graft_fixedwidth_fixture"

  /** Fixed-width legacy export — layout station(8) · train(6,
    * left-aligned space-padded) · delay(4, RIGHT-aligned, signed) ·
    * status(10, left-aligned). Rows plant every parse edge: negative
    * delay, zero, a short train number with pad spaces, max padding. */
  private val FixedWidthFiles: Seq[(String, String)] = Seq(
    "export.dat" -> Seq(
      "87384008165109  12Retarde   ",
      "87393009134657   0OnTime    ",
      "87393009221004  -3Early     ",
      "877580119241   105Retarde   ",
      "87384008777100   7Supprime  ").mkString("", "\n", "\n"))

  val SchemaEvoDir = "/tmp/graft_schema_evo_fixture"

  /** Two parquet drops of the same feed with an evolved schema: drop=1
    * predates the `status` column, drop=2 carries it. Written through
    * the real writer every run (mode=overwrite — the stale-file
    * rationale of [[writeFixture]]), partition-style dirnames so
    * discovery reconstructs `drop`. */
  def ensureSchemaEvoFixture(spark: SparkSession): String = synchronized {
    val session = spark
    import session.implicits._
    Seq(("87384008", "165109", 12), ("87384008", "134683", 0),
      ("87393009", "221004", -2))
      .toDF("station_id", "num", "delay_min")
      .coalesce(1).write.mode("overwrite").parquet(s"$SchemaEvoDir/drop=1")
    Seq(("87384008", "300400", 5, "late"), ("87393009", "777100", 0, "ontime"),
      ("87393009", "888200", 25, "late"))
      .toDF("station_id", "num", "delay_min", "status")
      .coalesce(1).write.mode("overwrite").parquet(s"$SchemaEvoDir/drop=2")
    SchemaEvoDir
  }

  private val JsonlOracleValues: String = Seq(
    "(1,'87393009',TIMESTAMP '2026-08-23 06:00:00','134657',12,'late')",
    "(1,'87393009',TIMESTAMP '2026-08-23 06:00:00','134659',0,'ontime')",
    "(2,'87393009',TIMESTAMP '2026-08-23 06:10:00','134657',15,'late')",
    "(3,'87758011',TIMESTAMP '2026-08-23 06:00:00','221006',0,'ontime')",
    "(3,'87758011',TIMESTAMP '2026-08-23 06:00:00','165435',3,'late')")
    .mkString(", ")

  private def defsBase: Seq[QueryDef] = Seq(
    QueryDef(
      "source_passages_board",
      (spark, _) => {
        val dir = writeFixture(FixtureDir, Documents)
        val p = spark.read
          .format("graft.sources.dsv2.PassagesSource").load(dir)
        // the domain board rule (Transit.stationBoard) across every
        // station: cancelled trains excluded (NULL etat boards),
        // ordered by (expected_ts, num), ranked per station
        val w = Window.partitionBy("station_id")
          .orderBy(col("expected_ts").asc, col("num").asc)
        p.filter(col("etat").isNull || col("etat") =!= "Supprime")
          .withColumn("rank", row_number().over(w))
          .select(col("station_id"), col("rank"), col("num"), col("miss"),
            col("term"), col("expected_ts"), col("mode"), col("etat"))
          .orderBy("station_id", "rank")
      },
      Some("SELECT station_id, rank, num, miss, term, expected_ts, mode, etat FROM (SELECT *, row_number() OVER (PARTITION BY station_id ORDER BY expected_ts, num) AS rank FROM (VALUES " + OracleValues + ") AS t(station_id, num, miss, term, expected_ts, mode, etat) WHERE etat IS NULL OR etat <> 'Supprime') ORDER BY station_id, rank"),
      scaleNote = "The connector packs the feed documents driver-side by their bytes into Spark's file-split budget, min(maxPartitionBytes, max(openCostInBytes, bytes / cores)), and parses them in executors with StAX — a polling cycle of small documents is one task, a large feed spreads over the cores (a real deployment shards by station × polling slice, the same planInputPartitions hook). The board is win_topk_group's shape: one shuffle on station_id, rank inside the window; the fleet-wide board at any feed size is |stations|-bounded output. Pushdown hooks (SupportsPushDownFilters) are where a station filter would prune documents before parse."),

    // JSON-lines API-page ingestion — the OTHER feed format a polled
    // REST API returns (one JSON object per poll response, records
    // nested in an array). Read with an EXPLICIT schema (never
    // inferSchema on a production feed: inference is a full extra
    // pass and a schema drift hazard), explode the page into records,
    // flatten with page provenance kept. Oracle: the same rows as a
    // VALUES table, ground truth for what the parse must produce.
    QueryDef(
      "source_api_jsonl",
      (spark, _) => {
        val dir = writeFixture(JsonlFixtureDir, JsonlDocuments)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "page INT, station STRING, polled_at STRING, " +
            "records ARRAY<STRUCT<num: STRING, delay_min: INT, state: STRING>>")
        spark.read.schema(schema).json(dir)
          .select(col("page"), col("station"),
            col("polled_at").cast("timestamp_ntz").as("polled_at"),
            explode(col("records")).as("r"))
          .select(col("page"), col("station"), col("polled_at"),
            col("r.num").as("num"), col("r.delay_min").as("delay_min"),
            col("r.state").as("state"),
            (col("r.delay_min") >= 10).as("is_severe"))
          .orderBy("station", "num", "page")
      },
      Some("SELECT page, station, polled_at, num, delay_min, state, delay_min >= 10 AS is_severe " +
        "FROM (VALUES " + JsonlOracleValues + ") AS t(page, station, polled_at, num, delay_min, state) " +
        "ORDER BY station, num, page"),
      scaleNote = "JSON-lines is splittable: Spark assigns line ranges " +
        "of each feed file to input partitions, so ingest parallelism " +
        "scales with bytes, not file count — the right landing format " +
        "for a high-rate poller (one append-only JSONL per poll " +
        "window). The explicit schema keeps parsing single-pass and " +
        "codegen'd (from_json of a known struct); explode is a narrow " +
        "map — the whole op is shuffle-free until a downstream agg. " +
        "Schema drift lands as NULLs, not job failures: pair with " +
        "agg_boolean's assertion rollup as the feed's quality gate, " +
        "and ts_calendar_gaps as its liveness monitor."),

    // The GTFS CSV bundle — the reference's THIRD feed format
    // [P extract_schedule.py], under the gate like the XML
    // (source_passages_board) and JSONL (source_api_jsonl) feeds:
    // Sources.GtfsCsv.readBundle over a runtime-written 5-file bundle,
    // composed into one DAG that touches every table and every
    // typed-at-ingest cast (int stop_sequence/flags/exception_type,
    // double lat/lon), plus CSV quoting (a comma inside a quoted stop
    // name). The oracle re-reads the SAME files with DuckDB read_csv
    // under the same all-VARCHAR-then-cast discipline — hash equality
    // gates header handling, quoting, and the cast matrix end-to-end.
    QueryDef(
      "source_gtfs_csv",
      (spark, _) => {
        val dir = writeFixture(GtfsFixtureDir, GtfsFiles)
        val b = graft.sources.GtfsCsv.readBundle(spark, dir)
        val exc = b("calendar_dates").groupBy("service_id")
          .agg(count(lit(1)).as("n_exceptions"))
        b("trips").join(b("stop_times"), "trip_id")
          .join(b("stops"), "stop_id")
          .join(b("calendar"), "service_id")
          .join(exc, Seq("service_id"), "left")
          .select(col("trip_id"), col("service_id"),
            col("stop_sequence"), col("stop_id"), col("stop_name"),
            col("stop_lat"), col("stop_lon"), col("departure_time"),
            col("saturday"), col("start_date"), col("end_date"),
            coalesce(col("n_exceptions"), lit(0L)).as("n_exceptions"))
          .orderBy("trip_id", "stop_sequence")
      },
      Some("WITH trips AS (" +
        gtfsCsvRead("trips", Seq("trip_id", "route_id", "service_id", "trip_headsign")) + "), " +
        "st AS (" + gtfsCsvRead("stop_times",
          Seq("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")) + "), " +
        "stops AS (" + gtfsCsvRead("stops",
          Seq("stop_id", "stop_name", "stop_lat", "stop_lon", "parent_station")) + "), " +
        "cal AS (" + gtfsCsvRead("calendar",
          Seq("service_id", "monday", "tuesday", "wednesday", "thursday",
            "friday", "saturday", "sunday", "start_date", "end_date")) + "), " +
        "cd AS (" + gtfsCsvRead("calendar_dates",
          Seq("service_id", "date", "exception_type")) + "), " +
        "exc AS (SELECT service_id, count(*) AS n_exceptions FROM cd GROUP BY 1) " +
        "SELECT t.trip_id, t.service_id, CAST(s.stop_sequence AS INT) AS stop_sequence, " +
        "s.stop_id, p.stop_name, CAST(p.stop_lat AS DOUBLE) AS stop_lat, " +
        "CAST(p.stop_lon AS DOUBLE) AS stop_lon, s.departure_time, " +
        "CAST(c.saturday AS INT) AS saturday, c.start_date, c.end_date, " +
        "coalesce(e.n_exceptions, 0) AS n_exceptions " +
        "FROM trips t JOIN st s ON t.trip_id = s.trip_id " +
        "JOIN stops p ON s.stop_id = p.stop_id " +
        "JOIN cal c ON t.service_id = c.service_id " +
        "LEFT JOIN exc e ON t.service_id = e.service_id " +
        "ORDER BY t.trip_id, CAST(s.stop_sequence AS INT)"),
      scaleNote = "CSV is splittable when unquoted-newline-free, so " +
        "each GTFS table scan parallelizes by byte ranges; the " +
        "explicit all-string schema makes the parse single-pass (no " +
        "inference scan) and the cast matrix runs codegen'd inside " +
        "the scan stage. A national bundle is GBs at most — but the " +
        "same reader shape (header, explicit schema, typed-at-edge) " +
        "is how any 100 TB CSV lake ingests: stops/calendar stay " +
        "broadcast dimensions, stop_times is the fact table that " +
        "bucket-joins downstream (Transit.stopTimesExt). The r7 " +
        "composition here deliberately crosses all five tables so a " +
        "regression in ANY reader (quoting, header skip, a cast) " +
        "flips the one hash."),

    // Feed-quality gate for the GTFS bundle — the validation pass a
    // production ingest runs BEFORE trusting a publisher's drop
    // [P extract_schedule.py ingests blind; this is the guard it
    // lacks]. Six referential/shape rules, each emitted as one
    // (check_name, n_bad) row over a deliberately broken bundle in
    // which every rule fires exactly once (and, as importantly, every
    // clean row passes — the calendar_dates-only service T3/SVC_CD is
    // the planted false-positive trap for the service check).
    QueryDef(
      "gtfs_feed_validate",
      (spark, _) => {
        val dir = writeFixture(GtfsDirtyDir, GtfsDirtyFiles)
        val b = graft.sources.GtfsCsv.readBundle(spark, dir)
        val trips = b("trips")
        val st = b("stop_times")
        def one(name: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n_bad"))
            .select(lit(name).as("check_name"), col("n_bad"))
        val svc = b("calendar").select("service_id")
          .union(b("calendar_dates").select("service_id")).distinct()
        one("orphan_stop_time_trip",
            st.join(trips, Seq("trip_id"), "left_anti"))
          .unionByName(one("orphan_stop_time_stop",
            st.join(b("stops"), Seq("stop_id"), "left_anti")))
          .unionByName(one("orphan_trip_service",
            trips.join(svc, Seq("service_id"), "left_anti")))
          .unionByName(one("dup_trip_stop_sequence",
            st.groupBy("trip_id", "stop_sequence")
              .agg(count(lit(1)).as("c")).filter(col("c") > 1)))
          .unionByName(one("calendar_date_range_inverted",
            b("calendar").filter(col("start_date") > col("end_date"))))
          .unionByName(one("bad_departure_time",
            st.filter(!col("departure_time")
              .rlike("^[0-9]{1,2}:[0-5][0-9]:[0-5][0-9]$"))))
          .orderBy("check_name")
      },
      Some("WITH trips AS (" +
        gtfsCsvReadIn(GtfsDirtyDir, "trips",
          Seq("trip_id", "route_id", "service_id", "trip_headsign")) + "), " +
        "st AS (" + gtfsCsvReadIn(GtfsDirtyDir, "stop_times",
          Seq("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")) + "), " +
        "stops AS (" + gtfsCsvReadIn(GtfsDirtyDir, "stops",
          Seq("stop_id", "stop_name", "stop_lat", "stop_lon", "parent_station")) + "), " +
        "cal AS (" + gtfsCsvReadIn(GtfsDirtyDir, "calendar",
          Seq("service_id", "monday", "tuesday", "wednesday", "thursday",
            "friday", "saturday", "sunday", "start_date", "end_date")) + "), " +
        "cd AS (" + gtfsCsvReadIn(GtfsDirtyDir, "calendar_dates",
          Seq("service_id", "date", "exception_type")) + ") " +
        "SELECT * FROM (" +
        "SELECT 'orphan_stop_time_trip' AS check_name, count(*) AS n_bad FROM st WHERE trip_id NOT IN (SELECT trip_id FROM trips) " +
        "UNION ALL SELECT 'orphan_stop_time_stop', count(*) FROM st WHERE stop_id NOT IN (SELECT stop_id FROM stops) " +
        "UNION ALL SELECT 'orphan_trip_service', count(*) FROM trips WHERE service_id NOT IN (SELECT service_id FROM cal UNION SELECT service_id FROM cd) " +
        "UNION ALL SELECT 'dup_trip_stop_sequence', count(*) FROM (SELECT trip_id, stop_sequence FROM st GROUP BY 1, 2 HAVING count(*) > 1) " +
        "UNION ALL SELECT 'calendar_date_range_inverted', count(*) FROM cal WHERE start_date > end_date " +
        "UNION ALL SELECT 'bad_departure_time', count(*) FROM st WHERE NOT regexp_matches(departure_time, '^[0-9]{1,2}:[0-5][0-9]:[0-5][0-9]$')" +
        ") ORDER BY check_name"),
      scaleNote = "Each rule is an anti-join or agg that reduces to a " +
        "COUNT — six independent scans of broadcast-sized dimension " +
        "tables plus two of the stop_times fact, all map-side-" +
        "combined; on a national bundle the whole gate is seconds. " +
        "The anti-join sides (trips, stops, service ids) are the " +
        "small dimensions, so every check broadcasts — no shuffle " +
        "touches stop_times. The pattern generalizes to any 100 TB " +
        "lake ingest: run the rule set per drop, alert on n_bad > 0, " +
        "quarantine the drop before it joins the serving tables " +
        "(agg_boolean's assertion rollup is the generic form)."),

    // Fixed-width text — the FOURTH ingest format (legacy mainframe/
    // SI export, still how several European rail systems publish
    // archival feeds): no delimiters, columns live at byte offsets.
    // spark.read.text streams raw lines; the layout is applied as
    // codegen'd substring/trim/cast projections. The oracle re-reads
    // the SAME file (DuckDB read_csv with delim='' = raw lines) and
    // applies the same layout — hash equality gates offsets, padding
    // trim, and the signed right-aligned integer parse end-to-end.
    QueryDef(
      "source_fixed_width",
      (spark, _) => {
        val dir = writeFixture(FixedWidthDir, FixedWidthFiles)
        spark.read.text(dir)
          .select(
            substring(col("value"), 1, 8).as("station_id"),
            trim(substring(col("value"), 9, 6)).as("num"),
            trim(substring(col("value"), 15, 4)).cast("int").as("delay_min"),
            trim(substring(col("value"), 19, 10)).as("status"))
          .withColumn("is_late", col("delay_min") > 0)
          .orderBy("station_id", "num")
      },
      Some("SELECT station_id, num, delay_min, status, delay_min > 0 AS is_late FROM (" +
        s"SELECT substr(line, 1, 8) AS station_id, trim(substr(line, 9, 6)) AS num, " +
        "CAST(trim(substr(line, 15, 4)) AS INTEGER) AS delay_min, " +
        "trim(substr(line, 19, 10)) AS status " +
        s"FROM read_csv('$FixedWidthDir/export.dat', header=false, delim='', columns={'line':'VARCHAR'})) " +
        "ORDER BY station_id, num"),
      scaleNote = "Fixed-width is the BEST-splitting text format — " +
        "constant row length means byte-range splits never tear a " +
        "record, so a 100 TB export parallelizes perfectly with zero " +
        "quote/newline scanning; the whole parse is substring/trim/" +
        "cast inside WholeStageCodegen on the scan, no shuffle, no " +
        "regex. Schema drift is positional (an offset change breaks " +
        "loudly as cast failures → NULLs), so pair with agg_boolean's " +
        "assertion rollup per drop like every other feed. " +
        "spark.read.text carries no layout DSL — the projection IS " +
        "the layout declaration, versioned with the code."),

    // The batch SINK side of the lake, under the gate: write events
    // Hive-partitioned by event_type (the layout every downstream
    // type-filtered consumer wants), read the tree BACK through the
    // partition-discovery scan, and answer a type-filtered daily
    // rollup from it. The hash gates the full round trip — writer
    // layout, partition-column reconstruction from directory names
    // (event_type leaves the files and comes back from the path), and
    // partition pruning feeding the same rows the original table
    // would. The oracle computes the rollup from the ORIGINAL
    // events.parquet, so any row lost/duplicated/mistyped by the
    // write→discover→read cycle flips the hash.
    QueryDef(
      "sink_partitioned",
      (spark, sf) => {
        val out = sinkDir(spark, sf, "sink_partitioned")
        graft.engine.Tables.loadEvents(spark, sf)
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        spark.read.parquet(out)
          .filter(col("event_type") === "purchase")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
          .agg(count(lit(1)).as("n"),
            graft.engine.Dsl.sumDec2(col("value")).cast("double").as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_date")
      },
      Some("SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"),
      scaleNote = "Hive partitioning by a low-cardinality column is " +
        "the lake's coarsest and cheapest index: the purchase filter " +
        "prunes to ONE directory subtree at planning time (pinned as " +
        "PartitionFilters in PlanPropertiesSpec), so the scan reads " +
        "|purchase| bytes however many types the table holds. At " +
        "100 TB the real key is (event_type, event_date) — pruning " +
        "then cuts both dimensions and retention/compaction become " +
        "per-partition file moves. Never partition by a " +
        "high-cardinality key (user_id would mint a directory per " +
        "user — small-files death); that axis belongs to bucketing " +
        "or Z-order (layout_zorder) INSIDE partitions. The rollup " +
        "itself is one map-side-combined agg with the exact-DECIMAL " +
        "money discipline."),

    // Schema evolution across parquet drops — the lake-ingest reality
    // every long-lived feed hits: the publisher adds a column, and
    // historical files don't have it. Two runtime-written drops (v1:
    // 3 columns; v2: + status) land as Hive partitions drop=1/drop=2;
    // the read side uses mergeSchema + partition discovery, so v1
    // rows surface the new column as NULL instead of failing the
    // scan. The rollup counts exactly which rows are pre-evolution
    // (status IS NULL ⇔ drop=1 — pinned per station), and the oracle
    // re-reads the SAME files via DuckDB read_parquet
    // union_by_name + hive_partitioning: writer output, merge
    // semantics, NULL-filling and partition-column reconstruction all
    // under one hash.
    QueryDef(
      "source_schema_evolution",
      (spark, _) => {
        val dir = ensureSchemaEvoFixture(spark)
        spark.read.option("mergeSchema", "true").parquet(dir)
          .groupBy("station_id")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("status").isNull, 1L).otherwise(0L)).as("n_v1_rows"),
            sum(when(col("drop") === 2, 1L).otherwise(0L)).as("n_v2_rows"),
            sum(when(col("delay_min") > 0, 1L).otherwise(0L)).as("n_late"),
            countDistinct(col("status")).as("n_statuses"))
          .orderBy("station_id")
      },
      Some("SELECT station_id, count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v1_rows, " +
        "CAST(sum(CASE WHEN CAST(drop AS INT) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2_rows, " +
        "CAST(sum(CASE WHEN delay_min > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late, " +
        "count(DISTINCT status) AS n_statuses " +
        s"FROM read_parquet('$SchemaEvoDir/*/*.parquet', union_by_name = true, hive_partitioning = 1) " +
        "GROUP BY 1 ORDER BY 1"),
      scaleNote = "mergeSchema costs one footer read per FILE at " +
        "planning time — fine per drop, a driver-side stall at a " +
        "million files; the production form pins the merged schema " +
        "in a table format / metastore and passes it explicitly " +
        "(spark.read.schema(...)), which this op's read degrades to " +
        "with zero query changes. Missing columns materialize as " +
        "NULL vectors inside the scan (no rewrite of old files — " +
        "that's the point: 100 TB of history is never touched by an " +
        "additive evolution), and the partition column rides the " +
        "directory name, not the bytes. Breaking evolutions (type " +
        "changes, renames) are the complement: they REQUIRE the " +
        "table-format indirection, which is why additive-only is the " +
        "lake contract worth enforcing at ingest (gtfs_feed_validate's " +
        "gate pattern, pointed at the schema diff)."),

    // Malformed-feed quarantine — the ingest posture the reference's
    // polling loop needs on every cycle (a feed API mid-deploy emits
    // truncated JSON; one bad line must not kill the batch, and must
    // not VANISH either): PERMISSIVE parse with a corrupt-record
    // column, good rows flow on, bad lines land in quarantine WITH
    // their raw bytes for the postmortem. The fixture plants three
    // malformed shapes (truncated object, non-JSON garbage, cut
    // mid-key) interleaved with good lines — a parser that stops at
    // the first bad line, or silently drops it, fails the count; a
    // good line AFTER a bad one proves the reader resynchronizes on
    // line boundaries.
    QueryDef(
      "source_quarantine",
      (spark, _) => {
        val dir = writeFixture(QuarantineFixtureDir, QuarantineDocuments)
        spark.read.schema(QuarantineSchema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(dir)
          .select(
            when(col("_corrupt_record").isNull, lit("ok"))
              .otherwise(lit("quarantine")).as("kind"),
            col("page"), col("station"), col("num"), col("delay_min"),
            col("_corrupt_record").as("bad_raw"))
          .orderBy("kind", "page", "bad_raw")
      },
      // VALUES restatement (source_api_jsonl's precedent for the
      // JSONL family): the fixture is builder-authored, so the oracle
      // states the expected ok rows AND the expected quarantined raw
      // lines verbatim — a reader that drops, merges, or mangles a
      // bad line hash-fails
      Some("SELECT kind, page, station, num, delay_min, bad_raw FROM (VALUES " +
        "('ok', 1, '87393009', '134657', 12, CAST(NULL AS VARCHAR)), " +
        "('ok', 2, '87393009', '134659', 0, NULL), " +
        "('ok', 4, '87758011', '165435', 3, NULL), " +
        "('ok', 5, '87384008', '134683', 7, NULL), " +
        "('quarantine', NULL, NULL, NULL, NULL, '{\"page\":3,\"station\":\"87758011\",\"num\":\"221006\"'), " +
        "('quarantine', NULL, NULL, NULL, NULL, 'garbage line not json'), " +
        "('quarantine', NULL, NULL, NULL, NULL, '{\"page\":6,\"statio') " +
        ") AS t(kind, page, station, num, delay_min, bad_raw) " +
        "ORDER BY kind, page, bad_raw"),
      scaleNote = "The corrupt-record column is populated INSIDE the " +
        "scan — no second pass, no driver involvement, and JSONL " +
        "stays splittable (a bad line is local to its split). " +
        "Quarantine routing is one partitioned write keyed on the " +
        "kind flag (sink_partitioned's layout), giving the ops team " +
        "a replayable bad-bytes table while the good path ships — " +
        "the alternative postures both lose at scale: FAILFAST " +
        "turns one flaky publisher line into a dead 100 TB batch, " +
        "DROPMALFORMED silently shrinks the corpus with no audit " +
        "trail (the quality-funnel counters would drift with no " +
        "cause in sight). Alert threshold = quarantine rate per " +
        "file, the same day-over-day monitor ts_calendar_gaps runs " +
        "for missing polls."),

    // The layout WRITE-PATH proof (r9, VERDICT r8 #3): layout_hilbert
    // computes curve keys and AnalyticsSpec measures span contraction
    // in memory — this key makes the storage half real. Lineitem is
    // written curve-ORDERED (repartitionByRange(hkey) +
    // sortWithinPartitions — each parquet file holds ONE contiguous
    // Hilbert segment, i.e. one compact grid region), read BACK, and
    // probed with the range predicate the layout exists for: a
    // 16×16 grid-ALIGNED square, which on a Hilbert curve is a single
    // contiguous 256-cell key range — so exactly one file's key span
    // (and its row groups' x/y stats) can intersect it. The hash
    // gates the full write→read→prune cycle against the ORIGINAL
    // table (any row lost/duplicated by the layout flips it) AND the
    // persisted hkey column against the oracle's independent
    // recursive-CTE replay of the curve walk (min/max/sum over the
    // square — max−min < 256 IS the contiguity property, pinned
    // numerically under the hash and as a file-skip measurement in
    // LayoutSinkSpec).
    QueryDef(
      "sink_layout_hilbert",
      (spark, sf) => {
        val out = sinkDir(spark, sf, "sink_layout_hilbert")
        graft.engine.Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            (col("l_partkey") % 256).as("x"), (col("l_orderkey") % 256).as("y"))
          .withColumn("hkey",
            graft.plans.HilbertIndex.key(col("x"), col("y")))
          .repartitionByRange(16, col("hkey"))
          .sortWithinPartitions("hkey")
          .write.mode("overwrite").parquet(out)
        spark.read.parquet(out)
          .filter(col("x").between(32, 47) && col("y").between(64, 79))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            min(col("hkey")).as("min_hkey"),
            max(col("hkey")).as("max_hkey"),
            sum(col("hkey")).as("sum_hkey"))
      },
      Some("WITH RECURSIVE base AS (SELECT CAST(l_quantity AS BIGINT) AS qty, " +
        "l_partkey % 256 AS x, l_orderkey % 256 AS y FROM lineitem " +
        "WHERE l_partkey % 256 BETWEEN 32 AND 47 AND l_orderkey % 256 BETWEEN 64 AND 79), " +
        "h(qty, s, x, y, d) AS (" +
        "SELECT qty, CAST(128 AS BIGINT), x, y, CAST(0 AS BIGINT) FROM base " +
        "UNION ALL SELECT qty, s // 2, " +
        "CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END) ELSE x END, " +
        "CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END) ELSE y END, " +
        "d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END), CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) " +
        "FROM h WHERE s > 0) " +
        "SELECT count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS sum_qty, " +
        "CAST(min(d) AS BIGINT) AS min_hkey, CAST(max(d) AS BIGINT) AS max_hkey, " +
        "CAST(sum(d) AS BIGINT) AS sum_hkey FROM h WHERE s = 0"),
      scaleNote = "THE storage payoff the two layout keys promise: " +
        "range-partitioning on the curve key gives every file one " +
        "contiguous Hilbert segment — a compact grid region whose " +
        "x/y column stats are tight boxes — so a spatial range " +
        "predicate prunes to the few files whose segment crosses " +
        "the query box (an aligned dyadic square is ONE segment: " +
        "exactly one file plus boundary spill can match; " +
        "LayoutSinkSpec measures ≥ 14 of 16 files stats-excluded " +
        "and the scan's numOutputRows collapsing vs an unsorted " +
        "write of the same rows). Z-order gives the same mechanics with " +
        "jumpier boxes (AnalyticsSpec's span comparison); at 100 TB " +
        "this layout turns point-region queries from full scans " +
        "into row-group-count reads, compaction preserves it " +
        "(sort-merge within key ranges), and the write cost is one " +
        "range exchange — the cheapest index a lake can buy. The " +
        "range sampling pass is one extra scan at write time; AQE " +
        "balances the per-file row counts."))

  /** The OPTIMIZE/compaction operator (r10, VERDICT task 3) — the
    * other half of lake maintenance sink_partitioned/sink_layout_
    * hilbert left open: every incremental sink (stream_upsert_sink's
    * parquet store is the in-repo producer) accumulates small-file
    * debris, and a 100 TB lake dies by a million 100 KB files long
    * before it dies by volume (footer reads dominate planning, scan
    * tasks under-fill, the NameNode/listing layer melts).
    *
    * The op writes events deliberately fragmented (64 tiny files —
    * repartition(64) simulates 64 micro-batch appends), bin-packs the
    * fragments to 4 target files (repartitionByRange on event_id +
    * sortWithinPartitions, so compaction ALSO leaves the table
    * range-clustered — the sort-merge-within-key-ranges discipline
    * sink_layout_hilbert's scaleNote promises), and emits one audit
    * row per stage: measured file count plus content fingerprints
    * (row count, exact-DECIMAL value sum, distinct users, id sum).
    * The oracle computes the fingerprints from the ORIGINAL events
    * table and pins the file counts as literals, so a row lost,
    * duplicated or mangled by EITHER write — and a compaction that
    * didn't actually change the file count — flips the hash.
    * CompactionSinkSpec adds the file-level assertions (exact counts,
    * per-file row floor: packed files carry real row groups). */
  def compactDirs(spark: SparkSession,
      sf: String): (String, String) = {
    val base = sinkDir(spark, sf, "sink_compact")
    (base + "/fragmented", base + "/compacted")
  }

  private def compactDef: QueryDef =
    QueryDef(
      "sink_compact",
      (spark, sf) => {
        val (fragDir, compDir) = compactDirs(spark, sf)
        graft.engine.Tables.loadEvents(spark, sf)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .repartition(64)
          .write.mode("overwrite").parquet(fragDir)
        spark.read.parquet(fragDir)
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(compDir)
        def roll(dir: String, stage: String) =
          spark.read.parquet(dir)
            // the hidden file-source metadata column: deterministic
            // (input_file_name() is rejected inside aggregates)
            .withColumn("fname", col("_metadata.file_path"))
            .agg(
              count(lit(1)).as("n_rows"),
              countDistinct(col("fname")).as("n_files"),
              graft.engine.Dsl.sumDec2(col("value")).cast("double")
                .as("sum_value"),
              countDistinct(col("user_id")).as("n_users"),
              sum(col("event_id")).as("sum_id"))
            .select(lit(stage).as("stage"), col("n_rows"), col("n_files"),
              col("sum_value"), col("n_users"), col("sum_id"))
        roll(fragDir, "before_compact")
          .unionAll(roll(compDir, "after_compact"))
          .orderBy("stage")
      },
      Some("SELECT 'after_compact' AS stage, count(*) AS n_rows, " +
        "CAST(4 AS BIGINT) AS n_files, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users, " +
        "CAST(sum(event_id) AS BIGINT) AS sum_id FROM events " +
        "UNION ALL " +
        "SELECT 'before_compact', count(*), CAST(64 AS BIGINT), " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), " +
        "count(DISTINCT user_id), CAST(sum(event_id) AS BIGINT) FROM events " +
        "ORDER BY stage"),
      scaleNote = "Compaction is embarrassingly parallel and pure " +
        "data movement: read fragments, one range exchange, write " +
        "packed files — no logic touches row VALUES, which is why " +
        "the content fingerprints must gate it (the failure mode is " +
        "silent row loss/duplication from a partial overwrite, not " +
        "wrong arithmetic). At 100 TB compaction runs per PARTITION " +
        "(sink_partitioned's event_type/date subtrees) so it " +
        "parallelizes across partitions and never rewrites cold " +
        "data twice; target file size ≈ one parquet row group ≈ " +
        "128 MB–1 GB keeps scan tasks full. Range-packing on the " +
        "sort key preserves clustering (the hilbert/zorder layouts " +
        "survive maintenance); a plain coalesce would destroy it. " +
        "The audit-row pattern (measured n_files + fingerprints " +
        "under the hash) is exactly what a production OPTIMIZE " +
        "emits to its transaction log.")

  def versionedDirs(spark: SparkSession,
      sf: String): (String, String) = {
    val base = sinkDir(spark, sf, "sink_versioned")
    (base + "/data", base + "/manifests")
  }

  private def listParts(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted.toSeq

  /** Manifest-based versioned table (r10) — the transaction-log idea
    * every lake table format (Delta, Iceberg, Hudi) is built on,
    * reduced to its essence and put under the hash: a commit is a
    * MANIFEST (the closed list of data files in the snapshot), never a
    * directory listing. Two commits land in ONE shared data directory
    * — v1 the historical load (4 files), v2 an append of the late 20 %
    * (4 more files) — and the reader resolves each version through its
    * manifest alone. The v1 read runs AFTER v2's files physically
    * landed next to it: getting v1's exact fingerprints back IS
    * snapshot isolation (a directory-listing reader would see v2's
    * debris — VersionedSinkSpec measures that contrast directly).
    * Audit row per version: measured file count + content fingerprints,
    * oracle from the original table with counts pinned. */
  /** Build (or rebuild) the two-commit versioned table and write its
    * manifests. Commit 1 overwrites (clearing any prior run's files),
    * commit 2 appends into the same directory — so the file sets and
    * manifests are stable per invocation, and the builder is the
    * single writer for both sink_versioned (snapshot reads) and
    * source_version_diff (incremental reads). */
  def buildVersioned(spark: SparkSession,
      sf: String): (String, String) = {
    val (dataDir, manDir) = versionedDirs(spark, sf)
    val ev = graft.engine.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // commit 1: the historical load
    ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
      .repartition(4).write.mode("overwrite").parquet(dataDir)
    val v1Files = listParts(dataDir)
    // commit 2: append the late arrivals into the SAME directory
    ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .repartition(4).write.mode("append").parquet(dataDir)
    val v2Files = listParts(dataDir)
    new java.io.File(manDir).mkdirs()
    def writeManifest(v: String, files: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(manDir, s"$v.txt"),
        files.mkString("\n").getBytes("UTF-8"))
    writeManifest("v1", v1Files)
    writeManifest("v2", v2Files)
    (dataDir, manDir)
  }

  def readManifest(manDir: String, v: String): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(manDir, s"$v.txt")), "UTF-8")
      .split("\n").toSeq

  private def versionedDef: QueryDef =
    QueryDef(
      "sink_versioned",
      (spark, sf) => {
        val (_, manDir) = buildVersioned(spark, sf)
        def readManifest(v: String): Seq[String] =
          SourceOps.readManifest(manDir, v)
        def roll(v: String) =
          spark.read.parquet(readManifest(v): _*)
            .withColumn("fname", col("_metadata.file_path"))
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(col("fname")).as("n_files"),
              graft.engine.Dsl.sumDec2(col("value")).cast("double")
                .as("sum_value"),
              countDistinct(col("user_id")).as("n_users"),
              sum(col("event_id")).as("sum_id"))
            .select(lit(v).as("version"), col("n_rows"), col("n_files"),
              col("sum_value"), col("n_users"), col("sum_id"))
        roll("v1").unionAll(roll("v2")).orderBy("version")
      },
      Some("SELECT 'v1' AS version, count(*) AS n_rows, " +
        "CAST(4 AS BIGINT) AS n_files, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users, " +
        "CAST(sum(event_id) AS BIGINT) AS sum_id " +
        "FROM events WHERE event_id % 5 <> 0 " +
        "UNION ALL " +
        "SELECT 'v2', count(*), CAST(8 AS BIGINT), " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), " +
        "count(DISTINCT user_id), CAST(sum(event_id) AS BIGINT) FROM events " +
        "ORDER BY version"),
      scaleNote = "The manifest is WHY lake formats scale: planning " +
        "reads one small file instead of listing millions (the " +
        "operation that melts object stores and namenodes), commits " +
        "are atomic manifest swaps (writers never block readers, a " +
        "failed job's orphan files are invisible until committed), " +
        "and time travel / incremental consumption are manifest " +
        "diffs. Data files are immutable — an append commits new " +
        "files + a new manifest, a compaction (sink_compact) commits " +
        "rewritten files; nothing rewrites history. At 100 TB the " +
        "manifest itself gets partition-pruned (per-partition " +
        "manifest lists with min/max stats — Iceberg's two-level " +
        "tree); this operator pins the core contract the formats " +
        "guarantee: a version's read set is CLOSED at commit time, " +
        "proven by reading v1 exactly after v2's files landed " +
        "beside it.")

  /** Incremental consumption by MANIFEST DIFF (r10) — the read-side
    * closer of the versioned-table story: sink_versioned proves each
    * snapshot's read set is closed; this operator proves the
    * INCREMENT between two snapshots is recoverable without touching
    * either snapshot's full data. The v2∖v1 file set (a pure manifest
    * subtraction — no directory listing, no data read) is read alone
    * and must reproduce exactly the commit-2 append (the event_id
    * multiples of 5), fingerprinted under the hash with the measured
    * diff-file count pinned. This is CDC-from-the-log reduced to its
    * essence: what streaming pipelines tail (Delta CDF, Iceberg
    * incremental scan) is precisely this diff, and `cdc_apply` is its
    * downstream consumer. */
  private def versionDiffDef: QueryDef =
    QueryDef(
      "source_version_diff",
      (spark, sf) => {
        val (_, manDir) = buildVersioned(spark, sf)
        val v1 = readManifest(manDir, "v1").toSet
        val diff = readManifest(manDir, "v2").filterNot(v1)
        spark.read.parquet(diff: _*)
          .withColumn("fname", col("_metadata.file_path"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("fname")).as("n_diff_files"),
            graft.engine.Dsl.sumDec2(col("value")).cast("double")
              .as("sum_value"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("event_id")).as("sum_id"))
          .select(lit("v1..v2").as("increment"), col("n_rows"),
            col("n_diff_files"), col("sum_value"), col("n_users"),
            col("sum_id"))
      },
      Some("SELECT 'v1..v2' AS increment, count(*) AS n_rows, " +
        "CAST(4 AS BIGINT) AS n_diff_files, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users, " +
        "CAST(sum(event_id) AS BIGINT) AS sum_id " +
        "FROM events WHERE event_id % 5 = 0"),
      scaleNote = "The diff is computed on MANIFESTS (|files| lines " +
        "of text), never on data: planning cost is independent of " +
        "table size, and the scan reads only the increment's files — " +
        "at 100 TB an incremental consumer pays for what CHANGED, " +
        "not what exists (the property that makes hourly downstream " +
        "refreshes affordable on a petabyte table). The read itself " +
        "is an ordinary pruned parquet scan, embarrassingly " +
        "parallel; with per-partition manifests (Iceberg's two-level " +
        "tree) the subtraction localizes to touched partitions. " +
        "Equality to the logical append is the contract a CDC " +
        "consumer relies on — gated here by fingerprint, with the " +
        "diff-file count measured, not assumed.")

  /** VACUUM (r10) — the retention half of lake maintenance, closing
    * the manifest-table loop: sink_versioned proves commits are
    * closed manifests, source_version_diff proves increments are
    * manifest subtractions, and vacuum is the garbage collector both
    * imply — ORPHAN files (a failed/uncommitted job's debris, planted
    * here as 3 parquet files appended to the data directory that no
    * manifest references) are found by LISTING MINUS LIVE-MANIFEST
    * UNION and physically deleted, and the gate proves the one
    * property that makes deletion safe: the live table read (through
    * its manifest) is byte-identical after the delete. The audit rows
    * carry the measured listing/orphan counts per phase with the
    * post-vacuum directory exactly equal to the manifest set. */
  private def vacuumDef: QueryDef =
    QueryDef(
      "sink_vacuum",
      (spark, sf) => {
        val (dataDir, manDir) = buildVersioned(spark, sf)
        // plant the debris: a failed job's uncommitted output — in
        // the directory, in no manifest
        graft.engine.Tables.loadEvents(spark, sf)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .filter(pmod(col("event_id"), lit(7)) === 3)
          .repartition(3).write.mode("append").parquet(dataDir)
        val live = (readManifest(manDir, "v1") ++
          readManifest(manDir, "v2")).toSet
        val pre = listParts(dataDir)
        val orphans = pre.filterNot(live)
        orphans.foreach(f => new java.io.File(f).delete())
        val post = listParts(dataDir)
        def audit(phase: String, nListed: Int, nOrphans: Int) =
          spark.read.parquet(readManifest(manDir, "v2"): _*)
            .agg(count(lit(1)).as("n_rows"),
              graft.engine.Dsl.sumDec2(col("value")).cast("double")
                .as("sum_value"),
              countDistinct(col("user_id")).as("n_users"),
              sum(col("event_id")).as("sum_id"))
            .select(lit(phase).as("phase"),
              lit(nListed.toLong).as("n_listed"),
              lit(nOrphans.toLong).as("n_orphans"), col("n_rows"),
              col("sum_value"), col("n_users"), col("sum_id"))
        audit("pre", pre.size, orphans.size)
          .unionAll(audit("post", post.size,
            post.filterNot(live).size))
          .orderBy("phase")
      },
      Some("SELECT 'post' AS phase, CAST(8 AS BIGINT) AS n_listed, " +
        "CAST(0 AS BIGINT) AS n_orphans, count(*) AS n_rows, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users, " +
        "CAST(sum(event_id) AS BIGINT) AS sum_id FROM events " +
        "UNION ALL " +
        "SELECT 'pre', CAST(11 AS BIGINT), CAST(3 AS BIGINT), count(*), " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), " +
        "count(DISTINCT user_id), CAST(sum(event_id) AS BIGINT) " +
        "FROM events ORDER BY phase"),
      scaleNote = "Orphan detection is set subtraction between a " +
        "listing and the live-manifest union — |files| string " +
        "operations, zero data reads; the deletes are |orphans| " +
        "object-store calls. At 100 TB the listing is the expensive " +
        "half (the operation manifests exist to avoid), so " +
        "production vacuums run RARELY and with a retention fence — " +
        "age > N days AND unreferenced by any snapshot in the " +
        "retention window (here: the union of ALL manifests; with " +
        "time travel, every retained version's manifest joins the " +
        "union) — because a file innocent in the current snapshot " +
        "may be live in an older one a reader still holds. The " +
        "safety property is gated, not asserted: the live read's " +
        "fingerprints are computed through the manifest after the " +
        "physical delete and must equal the logical table — vacuum " +
        "can only ever remove what no manifest can reach.")

  /** Idempotently write the co-bucketed lineitem/orders pair and
    * return their catalog names. Bucket layout: 8 buckets on the JOIN
    * key, sorted within buckets — the layout every fact⋈fact
    * scaleNote in this repo names as the shuffle eliminator. Session-
    * scoped names (in-memory catalog) + session-unique external paths. */
  def bucketedTables(spark: SparkSession,
      sf: String): (String, String) = {
    val sfx = (new java.io.File(sf).getName + "_" +
      spark.sparkContext.applicationId).replaceAll("[^a-zA-Z0-9]", "_")
    val (liT, oT) = (s"graft_bkt_li_$sfx", s"graft_bkt_o_$sfx")
    if (!spark.catalog.tableExists(liT)) {
      val dir = sinkDir(spark, sf, "sink_bucketed")
      graft.engine.Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", dir + "/lineitem").saveAsTable(liT)
      graft.engine.Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", dir + "/orders").saveAsTable(oT)
    }
    (liT, oT)
  }

  /** The BUCKETED write path (r10) — the layout claim behind a dozen
    * scaleNotes ("bucket both facts on the order key and the join is
    * exchange-free"), finally written, read back, and proven: both
    * facts land bucketed(8) + sorted on the join key, the read-back
    * join hash-gates against the original tables, and
    * BucketedSinkSpec pins the plan property that is the entire
    * point — the SortMergeJoin consumes both bucketed scans with
    * ZERO shuffle exchange between scan and join. */
  private def bucketedDef: QueryDef =
    QueryDef(
      "sink_bucketed",
      (spark, sf) => {
        val (liT, oT) = bucketedTables(spark, sf)
        // merge hint: at small SFs the planner would broadcast the
        // orders side and bypass the bucketed scans entirely — the
        // bucket-wise merge IS this operator's point, and at the
        // fact×fact scale the layout targets, merge is what the
        // planner picks unhinted
        spark.table(liT).hint("merge")
          .join(spark.table(oT).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            graft.engine.Dsl.sumDec2(col("l_extendedprice")).cast("double")
              .as("sum_price"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, count(*) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, " +
        "count(DISTINCT o_orderkey) AS n_orders " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),
      scaleNote = "THE join_star layout promise made real: bucketing " +
        "both facts by the join key at WRITE time moves the shuffle " +
        "from every query to one write — the read-back join is " +
        "bucket-wise merge (8 tasks, each reading one bucket file " +
        "pair, already sorted: no exchange, no sort), which at 100 TB " +
        "is the difference between re-exchanging terabytes per query " +
        "and zero network at all. Bucket count is the parallelism " +
        "floor — size it to target-file-size × cluster width (1000s " +
        "at real scale, 8 here), keep it EQUAL on both sides (Spark " +
        "only elides the exchange on matching bucketing), and let " +
        "sink_compact maintain files per bucket. The residual " +
        "exchange in the plan is the |priorities|-row final rollup — " +
        "unavoidable and irrelevant. Bucketed layout + manifest " +
        "versioning (sink_versioned) + compaction (sink_compact) is " +
        "the complete lake-table story.")

  def defs: Seq[QueryDef] =
    defsBase ++ Seq(compactDef, versionedDef, versionDiffDef, vacuumDef,
      bucketedDef)
}
