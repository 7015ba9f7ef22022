package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite

/** The graph community operators share one community map, one
  * modularity rollup and one Louvain move round, each written once in
  * Spark and once in DuckDB SQL; a second copy in GraphOps.scala fails
  * here. */
class CommunityOnceSpec extends AnyFunSuite {

  test("GraphOps holds one Spark and one SQL copy of the community map, the modularity rollup and the Louvain score") {
    val src = Paths.get("src/main/scala/graft/queries/GraphOps.scala")
    assert(Files.isRegularFile(src), s"$src not found")
    val text = Files.readString(src)
    val shapes = Seq(
      "Spark community map" -> Pattern.quote("""c_custkey") * 2).as("node")"""),
      "SQL community map" -> Pattern.quote("c_custkey*2 AS node"),
      "Spark modularity rollup" -> Pattern.quote("internal2 div 2"),
      "SQL modularity rollup" -> Pattern.quote("// 2 AS internal_edges"),
      "Spark Louvain score" -> Pattern.quote("""col("t") * col("e_uc")"""),
      "SQL Louvain score" -> """t\.t \* \S*e_uc""")
    for ((what, re) <- shapes) {
      val n = re.r.findAllMatchIn(text).size
      assert(n == 1, s"$what: $n copies in GraphOps.scala, want exactly 1")
    }
  }
}
