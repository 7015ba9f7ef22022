package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Fixpoint

/** The one fixpoint loop: it stops on an unchanged certificate, counts
  * the rounds that changed something, and fails loudly at its cap. */
class FixpointSpec extends SparkSpec {

  test("Fixpoint returns the last changed state and the changed-round count") {
    var steps = 0
    val climb = (x: Int) => { steps += 1; math.min(x + 1, 3) }
    assert(Fixpoint(0, 0)(identity[Int])(climb) === ((3, 3)))
    assert(steps == 4, "three changing steps plus the one that confirms")
    // a cap counts every step, the confirming one too
    assert(Fixpoint(0, 0, cap = 4)(identity[Int])(climb) === ((3, 3)))
    intercept[IllegalArgumentException](Fixpoint(0, 0, cap = 3)(identity[Int])(climb))
    // a c0 no certificate takes: the first step cannot be the fixpoint
    steps = 0
    assert(Fixpoint(3, -1)(identity[Int])(climb) === ((3, 1)))
    assert(steps == 2)
  }

  test("Fixpoint fails loudly at its cap on a step that never converges") {
    import spark.implicits._
    var steps = 0
    // each step appends one row, so the count certificate never repeats
    val grow = (df: DataFrame) => {
      steps += 1
      df.union(df.agg((max(col("v")) + 1).as("v"))).localCheckpoint(true)
    }
    val init = Seq(0L).toDF("v")
    val err = intercept[IllegalArgumentException] {
      Fixpoint(init, 1L, 5, "growing table")(_.count())(grow)
    }
    assert(err.getMessage.contains("growing table did not converge in 5 rounds"))
    assert(steps == 5, s"the cap allows exactly 5 steps, ran $steps")
  }

  test("no hand-written while (!…) fixpoint loop is left in graft.queries") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"$dir not found")
    val walk = Files.walk(dir)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // `while (!done)` and `while (changed)`: a negated or bare-flag
    // condition both count; counted loops (`while (i < n)`) stay legal
    val loop = """while\s*\(\s*(!|\w+\s*\))""".r
    val hits = files.filter(p => loop.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).filterNot(_ == "Fixpoint.scala")
    assert(hits.isEmpty, s"route these loops through Fixpoint: ${hits.mkString(", ")}")
  }
}
