package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Gtfs

/** Source connectors — the reference's three ingest formats, Spark-
  * native: GTFS CSV bundles [P extract_schedule.py], XML passage
  * documents [P extract_api.py], JSON document stores
  * [P utils_mongo.py]. Every reader declares an explicit schema —
  * schema inference at 100 TB means reading the data twice and trusting
  * sampled types. The parquet testdata tables, whose footers carry
  * their schema, are the one inferred read; `graft.engine.Tables` does
  * it once per session and path (see its design note).
  */
object GtfsCsv {

  /** GTFS is an all-text format by spec; explicit all-string schemas,
    * typed casts happen downstream (fn_cast matrix / Transit). */
  val schemas: Map[String, StructType] = Map(
    "stops" -> StructType(Seq(
      StructField("stop_id", StringType), StructField("stop_name", StringType),
      StructField("stop_lat", StringType), StructField("stop_lon", StringType),
      StructField("parent_station", StringType))),
    "trips" -> StructType(Seq(
      StructField("trip_id", StringType), StructField("route_id", StringType),
      StructField("service_id", StringType), StructField("trip_headsign", StringType))),
    "stop_times" -> StructType(Seq(
      StructField("trip_id", StringType), StructField("arrival_time", StringType),
      StructField("departure_time", StringType), StructField("stop_id", StringType),
      StructField("stop_sequence", StringType))),
    "calendar" -> StructType(
      StructField("service_id", StringType) +:
        Seq("monday", "tuesday", "wednesday", "thursday", "friday",
          "saturday", "sunday").map(StructField(_, StringType)) :+
        StructField("start_date", StringType) :+ StructField("end_date", StringType)),
    "calendar_dates" -> StructType(Seq(
      StructField("service_id", StringType), StructField("date", StringType),
      StructField("exception_type", StringType))))

  /** Typed view of one GTFS table: numeric/flag columns cast at ingest
    * (the models_rdb.py analog: all-text → typed once, at the edge). */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .schema(schemas(name))
      .csv(s"$dir/$name.txt")
    name match {
      case "stop_times" =>
        raw.withColumn("stop_sequence", col("stop_sequence").cast("int"))
      case "calendar" =>
        Seq("monday", "tuesday", "wednesday", "thursday", "friday",
          "saturday", "sunday").foldLeft(raw)((d, c) =>
          d.withColumn(c, col(c).cast("int")))
      case "calendar_dates" =>
        raw.withColumn("exception_type", col("exception_type").cast("int"))
      case "stops" =>
        raw.withColumn("stop_lat", col("stop_lat").cast("double"))
          .withColumn("stop_lon", col("stop_lon").cast("double"))
      case _ => raw
    }
  }

  def readBundle(spark: SparkSession, dir: String): Map[String, DataFrame] =
    schemas.keys.map(n => n -> readTable(spark, dir, n)).toMap
}

/** XML passages (the EP1 parse step): one polling cycle's directory of
  * `<passages>` documents, read by the DSv2 connector in executors, as
  * rows matching FIXTURES.md §2.2 (one per train call), with UIC-8
  * station ids and the request day and time. */
object XmlPassages {
  def read(spark: SparkSession, dir: String, requestDay: String,
      requestTime: String): DataFrame = {
    val raw = spark.read.format("graft.sources.dsv2.PassagesSource").load(dir)
    raw.select(raw.columns.toSeq.map {
      case "station_id" => Gtfs.uic8(graft.domain.Transit.uic7(col("station_id"))).as("station_id")
      case c => col(c)
    } ++ Seq(lit(requestDay).as("request_day"), lit(requestTime).as("request_time"),
      concat(lit(requestDay.replace("-", "") + "_"), col("num")).as("day_train_num")): _*)
  }
}

/** JSON documents (the Mongo-store analog): explicit schema, ingested
  * as typed rows — `from_json` on a column or json-lines files. */
object JsonDocs {

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentSchema).json(path)

  /** Robust json-lines ingest: PERMISSIVE mode with an explicit
    * corrupt-record column. At 100 TB some fraction of every feed is
    * malformed; FAILFAST kills the job on the first bad byte and
    * DROPMALFORMED silently loses data — the production answer is to
    * QUARANTINE: parse what parses, keep the raw text of what does
    * not, and route the two by `_corrupt IS NULL`. The corrupt column
    * must ALSO appear in the schema passed to the reader (Spark drops
    * it otherwise) but not in the declared document schema. */
  def readRobust(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(documentSchema.add(StructField("_corrupt", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** The two routes of a robust ingest: (clean rows, quarantine).
    * The input is cached first — Spark refuses corrupt-column-only
    * queries against a raw JSON scan (UNSUPPORTED_FEATURE.
    * QUERY_ONLY_CORRUPT_RECORD_COLUMN: the parser would need a
    * second pass to know what failed), and a production ingest
    * materializes the parse ONCE before splitting anyway — never
    * parse 100 TB twice to route two outputs. */
  def quarantine(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw.cache()
    (parsed.filter(col("_corrupt").isNull).drop("_corrupt"),
      parsed.filter(col("_corrupt").isNotNull).select(col("_corrupt").as("raw")))
  }
}

/** Sinks. The scale-relevant demonstration is BUCKETING: writing both
  * join sides bucketed on the join key makes the join shuffle-free —
  * the single biggest lever for the 100 TB star-join (SCALE.md notes).
  */
object Sinks {

  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Write a table bucketed by key (requires a table catalog; local
    * warehouse in tests, metastore in prod). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
