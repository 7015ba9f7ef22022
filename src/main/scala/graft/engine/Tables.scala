package graft.engine

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationBridge

/** Schema-checked loaders for the driver testdata
  * (`/root/testdata/sf{0.001,0.01,0.1}/<table>.parquet`).
  *
  * Reference analog: the GTFS CSV→Postgres bulk load and the API-item
  * ingest of `leonardbinet/Transilien-Api-ETL` [P extract_schedule.py,
  * extract_api.py — module-level recall, see SURVEY.md §0]. Here every
  * table is a columnar parquet scan; Catalyst handles projection/filter
  * pushdown into the vectorized reader.
  *
  * 100 TB design note: each loader returns a plain scan over a path, so
  * at scale the same code reads a partitioned directory tree
  * (`lineitem/ship_month=yyyy-MM/part-N.parquet`) and partition pruning +
  * predicate pushdown apply unchanged. No driver-side materialization.
  * A path is resolved once per session: the first load lists it and
  * infers the schema from the parquet footers (a Spark job), and every
  * later load in that session reuses that relation, so a catalog query
  * pays neither again. The listing is a snapshot taken at that first
  * load. A path whose modification time or length has changed since
  * (a file rewritten, a directory overwritten) is resolved afresh; a
  * part file replaced in place under an unchanged directory is not
  * seen. Resolution-time settings, such as the parquet type mapping
  * (`nanosAsLong`), apply as of the first load; a session that needs
  * others is a `newSession()`, which resolves on its own.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan of one table, resolved once per session and path
    * (see the design note above); each call's columns carry fresh
    * attribute ids, as a new `spark.read` would. A missing path raises
    * the reader's own error. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    RelationBridge.once(spark, path, stamp(spark, path))(spark.read.parquet(path))
  }

  /** Modification time and length of `path`: one status call, no
    * listing and no child process. A missing path stamps as such, and
    * its read raises (a failed resolution is not kept). */
  private def stamp(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: FileNotFoundException => "missing" }
  }

  /** `events.ts` has shipped in two physical encodings across driver
    * testdata generations: parquet TIMESTAMP(NANOS) — which Spark 4.1
    * refuses to read by default (PARQUET_TYPE_ILLEGAL), so we read it
    * as nanos-since-epoch Long and truncate to microseconds with
    * integer `div` (epoch-nanos ≈ 1.7e18 exceeds a double's 53-bit
    * mantissa, so float division can land on the wrong microsecond) —
    * and plain TIMESTAMP(MICROS), which needs no conversion. Dispatch
    * on the scanned type so either generation loads; both normalize to
    * timestamp_ntz, matching DuckDB's naive TIMESTAMP view of the same
    * file (DuckDB truncates ns→µs on read, so the engines agree
    * bit-for-bit in both cases).
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // Idempotent constant-set safety net for sessions not built by our
    // mains (which set it at builder time — Verify/Bench/tests); always
    // the same value, so no order dependence.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _ => col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
