package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite

/** The time-series and A/B operators share one daily count series, one
  * day index, one per-arm moment rollup, one exposure and conversion
  * scan and one lag-pair Pearson tail, each written once in Spark and
  * once in DuckDB SQL; a second copy in Analytics.scala, Windows.scala
  * or Streams.scala fails here. */
class AnalyticsOnceSpec extends AnyFunSuite {

  test("Analytics, Windows and Streams hold one Spark and one SQL copy of the daily series, day index, arm moments and exposure scan") {
    val files = Seq("queries/Analytics.scala", "queries/Windows.scala",
      "streaming/Streams.scala").map(f => Paths.get(s"src/main/scala/graft/$f"))
    files.foreach(f => assert(Files.isRegularFile(f), s"$f not found"))
    val text = files.map(Files.readString).mkString("\n")
    val shapes = Seq(
      "Spark daily series" -> ("""groupBy\(col\("event_type"\),\s*""" +
        """(col\("ts"\)\.cast\("date"\)|to_date\(col\("ts"\)\))\.as\("day"\)\)""" +
        """\s*\.agg\(count\(lit\(1\)\)"""),
      "SQL daily series" -> Pattern.quote("CAST(ts AS DATE) AS day, count(*) AS"),
      // the aggregate-and-join form and the window form alike
      "Spark day index" -> """min\(col\("day"\)\)\s*\.(as\("d0"\)|over\()""",
      "SQL day index" -> Pattern.quote("min(day) AS d0"),
      "Spark arm moments" -> Pattern.quote("""sum(col("v") * col("v"))"""),
      "SQL arm moments" -> Pattern.quote("sum(v*v) AS BIGINT) AS svv"),
      "Spark exposure" -> ("""=== "view"\)\s*\.groupBy\(col\("user_id"\)\)""" +
        """\.agg\(min\(col\("ts"\)\)\.as\("t0"\)\)"""),
      "SQL exposure" -> Pattern.quote("min(ts) AS t0,"),
      "Spark 24 h conversion" -> Pattern.quote("""col("t0") + expr("INTERVAL 24 HOUR")"""),
      "SQL 24 h conversion" -> Pattern.quote("e.t0 + INTERVAL 24 HOUR"),
      "Spark lag-pair Pearson" -> Pattern.quote("when(va > 0 && vb > 0"),
      "SQL lag-pair Pearson" -> Pattern.quote("k*syy - sy*sy > 0"))
    val bad = for {
      (what, re) <- shapes
      n = re.r.findAllMatchIn(text).size if n != 1
    } yield s"$what: $n copies"
    assert(bad.isEmpty, bad.mkString("", "; ", "; want exactly 1 of each"))
  }
}
