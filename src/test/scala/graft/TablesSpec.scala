package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import graft.engine.Tables

/** `Tables.load` resolves each path once per session: later loads start
  * no Spark job, yet behave like a fresh `spark.read.parquet`. */
class TablesSpec extends SparkSpec {

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def tempDir(): Path = Files.createTempDirectory("graft-tables-spec")

  test("a second load of a path in one session starts no Spark job") {
    val s = spark.newSession()
    assert(jobsOf(Tables.load(s, sf, "orders")) >= 1, "the first load infers the schema")
    assert(jobsOf(Tables.load(s, sf, "orders")) === 0)
  }

  test("a reused load has the schema and rows of a plain spark.read.parquet") {
    for (name <- Tables.names) {
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      Tables.load(spark, sf, name)
      val reused = Tables.load(spark, sf, name)
      assert(reused.schema === plain.schema, name)
      assert(rows(reused) === rows(plain), name)
    }
  }

  test("two loads of lineitem self-join with distinct attributes") {
    val a = Tables.load(spark, sf, "lineitem")
    val b = Tables.load(spark, sf, "lineitem")
    val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val p1 = spark.read.parquet(s"$sf/lineitem.parquet")
    val p2 = spark.read.parquet(s"$sf/lineitem.parquet")
    val plain = p1.join(p2, p1("l_orderkey") === p2("l_orderkey")).count()
    assert(a.join(b, a("l_orderkey") === b("l_orderkey")).count() === plain)
  }

  test("a table overwritten with other rows loads the new rows") {
    val dir = tempDir()
    // a single file: copied in, then replaced by a file of other rows
    Files.copy(Paths.get(s"$sf/nation.parquet"), dir.resolve("nation.parquet"))
    assert(Tables.load(spark, dir.toString, "nation").count() === 25)
    val part = dir.resolve("africa")
    spark.read.parquet(s"$sf/nation.parquet").filter(col("n_regionkey") === 0)
      .coalesce(1).write.parquet(part.toString)
    val partFile = Files.list(part).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(partFile, dir.resolve("nation.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(rows(Tables.load(spark, dir.toString, "nation")) ===
      rows(spark.read.parquet(partFile.toString)))
    // a directory: written, then overwritten the way ReplicateSf does
    val regions = spark.read.parquet(s"$sf/region.parquet")
    regions.write.parquet(dir.resolve("region.parquet").toString)
    assert(Tables.load(spark, dir.toString, "region").count() === 5)
    regions.filter(col("r_regionkey") < 2).write.mode("overwrite")
      .parquet(dir.resolve("region.parquet").toString)
    assert(Tables.load(spark, dir.toString, "region").count() === 2)
  }

  test("a missing table raises the reader's error, and loads once it exists") {
    val dir = tempDir()
    val e = intercept[AnalysisException](Tables.load(spark, dir.toString, "region"))
    assert(e.getCondition === "PATH_NOT_FOUND")
    Files.copy(Paths.get(s"$sf/region.parquet"), dir.resolve("region.parquet"))
    assert(Tables.load(spark, dir.toString, "region").count() === 5)
  }

  test("a newSession with other parquet settings resolves events on its own") {
    Tables.load(spark, sf, "events")
    assert(jobsOf(Tables.load(spark, sf, "events")) === 0)
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    var df: DataFrame = null
    assert(jobsOf { df = Tables.load(other, sf, "events") } >= 1)
    assert(relationOf(df).sparkSession eq other)
    assert(other.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "false")
  }

  test("concurrent first loads of a path resolve it once") {
    val s = spark.newSession()
    val pool = Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // the pool's threads start inside jobsOf, so they carry its job group
      val jobs = jobsOf {
        val loads = Future.sequence((1 to 8).map(_ => Future(Tables.load(s, sf, "customer"))))
        val dfs = Await.result(loads, 2.minutes)
        assert(dfs.map(relationOf).distinct.size === 1)
      }
      assert(jobs === 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** A session that has loaded `region` twice, and its relation, held
    * weakly; nothing else refers to either once this returns. */
  private def droppedSession(): (WeakReference[SparkSession], WeakReference[HadoopFsRelation]) = {
    val s = spark.newSession()
    Tables.load(s, sf, "region")
    val rel = relationOf(Tables.load(s, sf, "region"))
    (new WeakReference(s), new WeakReference(rel))
  }

  test("dropping the last reference to a session lets its memoized relation go") {
    val (session, relation) = droppedSession()
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while ((session.get != null || relation.get != null) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(session.get == null, "the dropped session is still reachable")
    assert(relation.get == null, "the memoized relation is still reachable")
  }

  test("queries read testdata tables only through Tables") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"$dir not found")
    val files = {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    // a parquet read: spark.read[.option(..)|.schema(..)]*.parquet(args)
    // or .format("parquet").load(args), with its argument text
    val read = ("""\bread(?:\s*\.\s*(?:option|options|schema)\s*\([^()]*\))*""" +
      """\s*\.\s*(?:parquet|format\s*\(\s*"parquet"\s*\)\s*\.\s*load)\s*\(([^()]*(?:\([^()]*\))?[^()]*)\)""").r
    // the argument names the scale-factor directory or a testdata table
    val testdata = ("""\bsf\b|sfDir|testdata|(?:""" + Tables.names.mkString("|") + """)\.parquet""").r
    val hits = for {
      p <- files
      name = p.getFileName.toString
      m <- read.findAllMatchIn(Files.readString(p))
      // SourceOps reads back the files it wrote itself; those are exempt
      if name != "SourceOps.scala" || testdata.findFirstIn(m.group(1)).isDefined
    } yield s"$name: ${m.matched}"
    assert(hits.isEmpty, "read the table with graft.engine.Tables instead")
    // the pattern does find SourceOps's own read-backs
    assert(files.exists(p => p.getFileName.toString == "SourceOps.scala" &&
      read.findFirstIn(Files.readString(p)).isDefined))
  }
}
