package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator

/** Domain scalar/UDx surface — SURVEY.md §2.4.
  *
  * Reference analog: the Paris service-day conversion with GTFS
  * past-midnight times (`DateConverter`-style logic [P utils_misc.py]),
  * and UIC station-id normalization [P match_ids.py]. The XML passage
  * parser [P extract_api.py `xml_to_json_item_list`] is the DSv2
  * connector [[graft.sources.dsv2.PassagesSource]].
  *
  * Everything here is pure Column composition (codegen'd) except the
  * typed Aggregator — no Scala UDFs in scalar paths.
  */
object Gtfs {

  /** GTFS time string → seconds since service-day start. GTFS allows
    * hours ≥ 24 for past-midnight services ("25:10:00" → 90600). */
  def gtfsSeconds(c: Column): Column = {
    val p = split(c, ":")
    element_at(p, 1).cast("long") * 3600 +
      element_at(p, 2).cast("long") * 60 +
      element_at(p, 3).cast("long")
  }

  /** Inverse: seconds → "HH:MM:SS" with hours allowed past 24. */
  def gtfsTime(secs: Column): Column =
    concat_ws(":",
      lpad((secs.cast("long") / 3600).cast("long").cast("string"), 2, "0"),
      lpad(((secs.cast("long") % 3600) / 60).cast("long").cast("string"), 2, "0"),
      lpad((secs.cast("long") % 60).cast("string"), 2, "0"))

  /** Service day of a timestamp: trains up to the cutover hour belong
    * to the previous calendar day (a 01:10 passage is the tail of
    * yesterday's service). */
  def serviceDay(ts: Column, cutoverHour: Int = 3): Column =
    to_date(ts - expr(s"INTERVAL $cutoverHour HOURS"))

  /** Luhn check digit over a digit string (deterministic; the classic
    * self-check scheme for station-id normalization — documented
    * assumption, see UdxSpec). */
  def luhnCheckDigit(digits: Column): Column = {
    // doubled-from-rightmost positions; sum digit-sums; 10 - mod 10
    val ds = reverse(digits)
    val summed = aggregate(
      zip_with(
        split(ds, ""),
        sequence(lit(0), length(ds) - 1),
        (ch, i) => {
          val d = ch.cast("int")
          val dbl = d * 2
          when(i % 2 === 0, when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(d)
        }),
      lit(0),
      (acc, x) => acc + x)
    pmod(lit(10) - pmod(summed, lit(10)), lit(10))
  }

  /** UIC-7 → UIC-8: append the check digit. */
  def uic8(uic7: Column): Column =
    concat(uic7, luhnCheckDigit(uic7).cast("string"))

  /** Typed Aggregator demo (§2.4): geometric mean via exact log-space
    * accumulation — merges associatively across partitions. */
  object GeometricMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + math.log(a), b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)): Double =
      if (r._2 == 0) Double.NaN else math.exp(r._1 / r._2)
    def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }

  /** Register the UDx surface on a session (geometric_mean and
    * heavy_hitters UDAFs). heavy_hitters(col) folds a string column
    * into a ≤16-entry Misra–Gries summary map (term → estimate) with
    * the mergeable-summaries guarantees — usable from plain SQL:
    * `SELECT heavy_hitters(lang) FROM docs`. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("geometric_mean", udaf(GeometricMean))
    spark.udf.register("heavy_hitters", udaf(new MisraGries(16)))
  }
}
