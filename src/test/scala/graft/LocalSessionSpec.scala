package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.engine.LocalSession

/** Every session is built by [[LocalSession]], so settings cannot drift
  * between entry points again. */
class LocalSessionSpec extends SparkSpec {

  test("LocalSession settings: UTC zone, nanosAsLong, UI off, shuffle partitions = cores") {
    for (cores <- Seq(1, 4, 7)) {
      val s = LocalSession.settings(cores)
      assert(s("spark.master") === s"local[$cores]")
      assert(s("spark.sql.shuffle.partitions") === cores.toString)
      assert(s("spark.sql.session.timeZone") === "UTC")
      assert(s("spark.sql.legacy.parquet.nanosAsLong") === "true")
      assert(s("spark.ui.enabled") === "false")
    }
    // the test session carries them in its SparkConf, which a spec's
    // runtime conf.set cannot mask
    val conf = spark.sparkContext.getConf
    LocalSession.settings(4).foreach { case (k, v) => assert(conf.get(k) === v, k) }
  }

  test("no session is built outside LocalSession, and only it reads the core count") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      assert(Files.isDirectory(Paths.get(d)), s"$d not found")
      val walk = Files.walk(Paths.get(d))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    // neither pattern matches its own source text
    for (re <- Seq("""SparkSession\s*\.\s*builder""", """["]SPARK_GRAFT_CPUS["]""")) {
      val hits = files.filter(p => re.r.findFirstIn(Files.readString(p)).isDefined)
      assert(hits.map(_.getFileName.toString) === Seq("LocalSession.scala"), re)
    }
  }
}
