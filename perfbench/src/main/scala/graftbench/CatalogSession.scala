package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.{Catalog, QueryGroup, Tables}
import graft.queries._

/** A fresh session runs every key of the benchmark's key list once, in
  * an order permuted by the seed (first touch: codegen and session-sink
  * builds included), then steady passes over the same keys until the
  * window ends. Between keys both passes apply the same hygiene as the
  * bench ledger: unpersist cached RDDs, clear the cache. */
final class CatalogSession(ctx: Ctx) extends Workload {
  import CatalogSession._
  import TransitDay.{median, percentile}

  private val sfDir = ctx.args.inputs.getPath
  // session sinks write under /tmp/graft_*; a view filesystem maps /tmp
  // into the run's work directory so the run writes nowhere else
  private val tmp = ctx.dir("tmp")
  override def conf: Map[String, String] = Map(
    "spark.hadoop.fs.defaultFS" -> "viewfs://bench/",
    "spark.hadoop.fs.viewfs.mounttable.bench.link./tmp" -> tmp.toURI.toString,
    "spark.hadoop.fs.viewfs.mounttable.bench.linkFallback" -> "file:///")

  val keys: IndexedSeq[String] = {
    val src = scala.io.Source.fromFile(ctx.args.keys, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toIndexedSeq
    finally src.close()
  }
  private val byName = graft.engine.Registry.byName
  private val groupOf: Map[String, String] =
    groups.flatMap(g => g.defs.map(_.name -> groupName(g))).toMap
  require(groupOf.keySet == byName.keySet, "query groups differ from Registry's")
  require(keys.map(groupOf).distinct.sorted == measured.map(groupName).sorted,
    "the key list must hold one key of each measured query group")

  private var sizes: Map[String, Long] = Map.empty

  def register(spark: SparkSession, t: Tracer): Unit = {
    Catalog.register(spark, sfDir)
    sizes = Tables.names.map(n => n -> spark.table(n).count()).toMap
  }

  private def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  final case class KeyRun(rows: Long, build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  /** One key: DataFrame construction, planning, then the count action. */
  private def runKey(spark: SparkSession, t: Tracer, span: String, key: String): Option[KeyRun] =
    ctx.op("key", key) {
      t.span(span) {
        val t0 = System.nanoTime()
        val df = t.span("queries.build")(byName(key).build(spark, sfDir))
        val t1 = System.nanoTime()
        val counted = df.groupBy().count()
        t.span("queries.plan")(counted.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val rows = t.span("queries.exec")(counted.collect()(0).getLong(0))
        val t3 = System.nanoTime()
        KeyRun(rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
    }

  /** Seed-permuted steady passes until `seconds` after `start` (at
    * least two): every key run, and each pass's total. */
  private def steadyPasses(spark: SparkSession, t: Tracer, rnd: scala.util.Random,
      start: Long, seconds: Double): (Seq[(String, KeyRun)], Seq[Double]) = {
    val steady = mutable.ArrayBuffer.empty[(String, KeyRun)]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    while (passTotals.size < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      var sum = 0.0
      t.span("queries.steady_pass") {
        rnd.shuffle(keys).foreach { k =>
          runKey(spark, t, "queries.steady_key", k).foreach { r => steady += k -> r; sum += r.total }
          hygiene(spark)
        }
      }
      passTotals += sum
    }
    (steady.toSeq, passTotals.toSeq)
  }

  /** The untraced side of a traced run times steady passes only. */
  override def measureOverhead(spark: SparkSession, seconds: Double): Map[String, Double] = {
    val (steady, _) = steadyPasses(spark, new Tracer(false, "untraced"),
      new scala.util.Random(ctx.args.seed + 1), System.nanoTime(), 0)
    Map("latency_p50_ms" -> median(keyLatencies(steady)) * 1e3)
  }

  /** Each key's median time over the steady passes: the samples of the
    * latency percentiles, one per key, so every key weighs the same. */
  private def keyLatencies(steady: Seq[(String, KeyRun)]): Seq[Double] =
    byKey(steady).values.toSeq

  private def byKey(steady: Seq[(String, KeyRun)]): Map[String, Double] =
    steady.groupBy(_._1).map { case (k, rs) => k -> median(rs.map(_._2.total)) }

  /** Per key, the measured window's first-touch and steady times (s). */
  private var perKey: Map[String, Map[String, Double]] = Map.empty

  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      layers: mutable.Map[String, Double]): Map[String, Double] = {
    val start = System.nanoTime()
    val rnd = new scala.util.Random(ctx.args.seed)
    val appId = spark.sparkContext.applicationId
    val sinkDirs = mutable.LinkedHashMap.empty[String, String] // dir -> key that built it
    // first touch: the session's first run of every key
    val first = mutable.LinkedHashMap.empty[String, KeyRun]
    val s0 = System.nanoTime()
    t.span("queries.first_pass") {
      rnd.shuffle(keys).foreach { k =>
        val before = appSinks(appId)
        runKey(spark, t, "queries.first_key", k).foreach { r =>
          first(k) = r
          System.err.println(f"[graftbench] first touch $k%s ${r.total}%.3f s, ${r.rows}%d rows")
        }
        (appSinks(appId) -- before).foreach(d => sinkDirs(d) = k)
        hygiene(spark)
      }
    }
    val sessionS = (System.nanoTime() - s0) / 1e9
    val (steady, passTotals) = steadyPasses(spark, t, rnd, start, seconds)
    steady.foreach { case (k, r) =>
      first.get(k).map(_.rows).foreach(n => if (n != r.rows)
        ctx.fail(s"$k: steady pass counted ${r.rows} rows, first pass $n"))
    }
    val lat = keyLatencies(steady)
    perKey = byKey(steady).map { case (k, v) =>
      k -> Map("steady" -> v, "first" -> first.get(k).map(_.total).getOrElse(Double.NaN))
    }
    if (t.enabled) {
      val bytes = sinkDirs.keys.map(d => du(new File(tmp, d))).sum
      val steadyByKey = byKey(steady)
      // a first-touch build is charged to the sink directory the key
      // created: its first-touch time beyond its steady time
      val built = sinkDirs.values.toSeq.distinct
      layers("sinks.builds") = sinkDirs.size.toDouble
      layers("sinks.bytes") = bytes.toDouble
      layers("sinks.build_s") = built.flatMap(k => first.get(k).map(f =>
        math.max(0.0, f.total - steadyByKey.getOrElse(k, 0.0)))).sum
      first.groupBy(p => groupOf(p._1)).foreach { case (g, rs) =>
        layers(s"queries.$g.first_s") = rs.values.map(_.total).sum
      }
      steady.groupBy(p => groupOf(p._1)).foreach { case (g, rs) =>
        layers(s"queries.$g.steady_s") = rs.map(_._2.total).sum / passTotals.size
      }
      layers("queries.build_s") = steady.map(_._2.build).sum / passTotals.size
      layers("queries.plan_s") = steady.map(_._2.plan).sum / passTotals.size
      layers("queries.exec_s") = steady.map(_._2.exec).sum / passTotals.size
    }
    Map("work_s" -> sessionS, "session_s" -> sessionS,
      "latency_p50_ms" -> median(lat) * 1e3, "latency_p75_ms" -> percentile(lat, 0.75) * 1e3,
      "query_p50_s" -> median(lat), "query_p75_s" -> percentile(lat, 0.75),
      "query_p90_s" -> percentile(lat, 0.90),
      "steady_total_s" -> median(passTotals), "steady_passes" -> passTotals.size.toDouble,
      "steady_samples" -> steady.size.toDouble)
  }

  override def overheadMetric: String = "latency_p50_ms"
  def opSpan: String = "queries.steady_key"
  override def opScale: Double = 1e3

  /** This session's sink directories (names end with the app id). */
  private def appSinks(appId: String): Set[String] = {
    val tag = appId.replaceAll("[^a-zA-Z0-9]", "_")
    Option(tmp.list()).toSet.flatten.filter(n => n.startsWith("graft_") &&
      (n.contains(appId) || n.contains(tag)))
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  /** After recording sinks.bytes, delete this session's sink directories. */
  override def cleanup(spark: SparkSession): Unit = {
    appSinks(spark.sparkContext.applicationId).foreach(d => deleteTree(new File(tmp, d)))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def stamps: Map[String, Any] = Map("keys" -> keys, "key_s" -> perKey,
    "sf" -> new File(sfDir).getName,
    "inputs" -> sizes)
}

object CatalogSession {
  /** The declared query groups, in Registry order (Registry keeps its
    * list private; CatalogSession checks the two agree). */
  val groups: Seq[QueryGroup] = Seq(ScanFilterProject, Joins, Aggregates, Windows,
    SortSetScalar, TimeSeriesDedup, TextVector, NearDup, SimHash, Multimodal, AnnIvf,
    AnnKmeans, AnnPq, CorpusOps, SpanOps, PipelineOps, Analytics, GraphOps, SourceOps,
    TransitOps, UrlOps, PathOps, VecStats, QualityOps, SqlSurface)

  def groupName(g: QueryGroup): String = g.getClass.getSimpleName.stripSuffix("$")

  /** Groups with no key in the list: SourceOps writes its fixtures with
    * java.io under /tmp, outside the run's directory; the cheapest keys
    * of SimHash and AnnKmeans take 8 s on first touch and 2.5-4 s per
    * steady run at sf0.001, as long as ten other groups together. */
  val unmeasured: Set[QueryGroup] = Set(SourceOps, SimHash, AnnKmeans)
  val measured: Seq[QueryGroup] = groups.filterNot(unmeasured)
}
