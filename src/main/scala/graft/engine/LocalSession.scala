package graft.engine

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and the shared test session
  * build through, so their settings cannot drift apart: the UTC
  * session zone (the Transit delay keys `require` it), `nanosAsLong`
  * (events.parquet is TIMESTAMP(NANOS)), the UI off, shuffle
  * partitions equal to the core count, and a fresh temp warehouse, so
  * managed tables never collide with a previous run's. */
object LocalSession {

  /** Everything but the per-session warehouse dir. */
  def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Cores default to `SPARK_GRAFT_CPUS` (else 4), the only place it is
    * read; tests pass a fixed 4 because plan-shape specs depend on 4
    * shuffle partitions. Log level WARN. */
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt))
      : SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = (settings(cores) + ("spark.sql.warehouse.dir" -> warehouse))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
