package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload:
  *
  * {{{
  * graftbench.Main --workload transit_day|catalog_session
  *   --seed N --seconds S --trace 0|1 --inputs DIR --keys FILE
  *   --work DIR --out FILE
  * }}}
  *
  * Transit inputs are generated beforehand by gen.py from the same seed;
  * the catalog reads the read-only scale-factor tables in `--inputs`. The
  * result (metrics, counts, the per-operation error records and the run
  * stamps) is written as one JSON object to `--out`; a traced run also
  * writes its spans next to it. */
object Main {

  final case class Args(workload: String, seed: Int, seconds: Double,
      trace: Boolean, inputs: File, keys: File, work: File, out: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toInt, m("seconds").toDouble,
      m("trace") == "1", new File(m("inputs")).getAbsoluteFile,
      new File(m("keys")).getAbsoluteFile, new File(m("work")).getAbsoluteFile, new File(m("out")).getAbsoluteFile)
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args)
    val wl: Workload = args.workload match {
      case "transit_day" => new TransitDay(ctx)
      case "catalog_session" => new CatalogSession(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val code = try ctx.run(wl) finally ctx.close()
    sys.exit(code)
  }
}

/** A workload: registers its inputs on a fresh session (timed as the
  * cold set-up), then measures for a given number of seconds. `measure`
  * returns the end-to-end metrics of that window; a traced call also
  * fills the per-layer map. */
trait Workload {
  def conf: Map[String, String] = Map.empty
  def register(spark: SparkSession, t: Tracer): Unit
  /** Untimed work after set-up, before the first measured window. */
  def warmUp(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      layers: mutable.Map[String, Double]): Map[String, Double]
  /** The untraced side of a traced run: at least `overheadMetric`. */
  def measureOverhead(spark: SparkSession, seconds: Double): Map[String, Double]
  /** The metric whose traced/untraced ratio is the tracing overhead. */
  def overheadMetric: String = "work_s"
  /** The span whose operations `overheadMetric` times: each one's
    * blocking path is the time its layer spans (children) cover. */
  def opSpan: String
  /** Converts seconds to the unit of `overheadMetric`. */
  def opScale: Double = 1.0
  def stamps: Map[String, Any]
  def cleanup(spark: SparkSession): Unit = ()
}

/** Per-run state: the session factory, the operation ledger and the
  * correctness flag. */
final class Ctx(val args: Main.Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val work: File = { args.work.mkdirs(); args.work }
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  var spark: SparkSession = _

  // operation ledger: failures are counted, never timed
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  val checks = mutable.ArrayBuffer.empty[String]
  def fail(check: String): Unit = {
    checks += check
    System.err.println(s"[graftbench] CHECK FAILED: $check")
  }

  /** Run one operation; a throw is recorded with its class and message
    * and yields None, so its time never reaches a metric. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").take(400)
        failures += Map("op" -> kind, "name" -> name,
          "error" -> e.getClass.getName, "message" -> msg)
        System.err.println(s"[graftbench] $kind $name failed: ${e.getClass.getName}: $msg")
        None
    }
  }

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  def newSession(extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
    (Map(
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.local.dir" -> dir("local").getPath,
      "spark.sql.warehouse.dir" -> dir("warehouse").toURI.toString,
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000",
    ) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The cold set-up, timed from JVM start: JVM and class loading, the
    * session, and the workload's inputs registered and read once. A run
    * has one cold start, so setup_s is one sample per run. */
  def setup(wl: Workload, t: Tracer): Double = {
    spark = t.span("engine.session")(newSession(wl.conf))
    t.sc = spark.sparkContext
    t.span("engine.catalog_register")(wl.register(spark, t))
    (System.currentTimeMillis() - jvmStartMs) / 1e3
  }

  private def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(wl: Workload): Int = {
    val setupTracer = new Tracer(args.trace, "setup")
    val setupS = setupTracer.span("setup")(setup(wl, setupTracer))
    wl.warmUp(spark)
    val layers = mutable.Map(Layers.all.map(_ -> 0.0): _*)
    val metrics: Map[String, Double] =
      if (!args.trace) wl.measure(spark, new Tracer(false, "untraced"), args.seconds, layers)
      else {
        // half the window traced, then half untraced: the ratio of the
        // two is the tracing overhead reported with the per-layer numbers
        val tracer = new Tracer(true, s"${args.workload}-${args.seed}")
        tracer.sc = spark.sparkContext
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        val t0 = System.nanoTime()
        val traced = tracer.span(args.workload)(wl.measure(spark, tracer, args.seconds / 2, layers))
        val t1 = System.nanoTime()
        counters.drain()
        spark.sparkContext.removeSparkListener(counters)
        tracer.sc = null
        val plain = wl.measureOverhead(spark, args.seconds / 2)
        counters.total.toMap.foreach { case (k, v) => layers(s"spark.$k") = v }
        layers("spark.driver_s") = counters.driverSeconds(t0, t1)
        val om = wl.overheadMetric
        layers("trace.overhead_ratio") = traced(om) / plain(om)
        val setupTotals = setupTracer.totalByName
        layers("engine.session_s") = setupTotals("engine.session")
        layers("engine.catalog_register_s") = setupTotals("engine.catalog_register")
        writeSpans(setupTracer, tracer, counters)
        layers("trace.spans") = tracer.spans.size.toDouble
        // blocking-path accounting: per operation, the self times of the
        // layer spans below it (its duration less its own self time),
        // read against the same operation timed untraced
        val (attributed, share) = tracer.attributed(wl.opSpan)
        layers("trace.blocking_ratio") = attributed * wl.opScale / plain(om)
        layers("trace.unattributed_share") = share
        val overhead = layers("trace.overhead_ratio")
        if (share > 0.2) fail(f"${wl.opSpan}: layer spans cover only ${1 - share}%.2f of it")
        if (!(overhead > 0.5 && overhead < 2.0))
          fail(f"traced and untraced $om disagree: ratio $overhead%.2f")
        if (!(layers("trace.blocking_ratio") > 0.8 * overhead))
          fail(f"blocking-path self time is ${layers("trace.blocking_ratio")}%.2f of the " +
            f"untraced $om, below the tracing overhead $overhead%.2f")
        traced ++ plain.map { case (k, v) => s"untraced.$k" -> v }
      }
    val rss = rssPeakMb
    val failed = failures.size.toLong
    val e2e = metrics ++ Map(
      "setup_s" -> setupS,
      "error_rate" -> failed.toDouble / math.max(1L, attempted),
      "rss_peak_mb" -> rss)
    val shown =
      if (args.trace) layers.toMap.map { case (k, v) => k -> (v, Layers.unit(k)) }
      else Layers.endToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val record = Map(
      "correct" -> checks.isEmpty, "attempted" -> math.max(1L, attempted),
      "failed" -> failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "run" -> (Map(
        "workload" -> args.workload, "seed" -> args.seed,
        "master" -> s"local[$cores]", "seconds" -> args.seconds,
        "traced" -> args.trace,
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "metrics" -> e2e, "tracing_overhead_ratio" -> layers.get("trace.overhead_ratio")
          .filter(_ => args.trace), "failures" -> failures.toSeq,
        "failed_checks" -> checks.toSeq) ++ wl.stamps))
    wl.cleanup(spark)
    Main.json.writeValue(args.out, record)
    if (checks.isEmpty) 0 else 3
  }

  private def writeSpans(setup: Tracer, t: Tracer, c: SparkCounters): Unit = {
    val path = new File(args.out.getPath.stripSuffix(".json") + ".spans.jsonl")
    val self = t.selfTimes ++ setup.selfTimes.map { case (k, v) => (-k) -> v }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      (setup.spans.map(s => s.copy(id = -s.id, parent = -s.parent)) ++ t.spans).foreach { s =>
        val counters = c.bySpan.get(s.id).map(_.toMap).getOrElse(Map.empty)
        w.println(Main.json.writeValueAsString(Map(
          "run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id),
          "spark" -> counters)))
      }
    } finally w.close()
  }

  def close(): Unit = if (spark != null) { spark.stop(); spark = null }
}

/** The metric names and units printed on the result line. */
object Layers {
  /** Every workload reports these, each with its own meaning of the
    * serving latency and the unit of bulk work (see layers.json). */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "rss_peak_mb" -> "MB", "latency_p50_ms" -> "ms", "latency_p75_ms" -> "ms",
    "work_s" -> "s")

  val all: Seq[String] = Seq(
    "engine.session_s", "engine.catalog_register_s",
    "sources.gtfs_read_s", "sources.xml_parse_s", "sources.passages",
    "domain.schedule_s", "domain.match_s", "domain.match_candidates",
    "domain.match_yield", "domain.delays_s", "domain.state_write_s",
    "domain.request_s", "domain.requests",
    "streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.log_s", "streaming.state_rows",
    "streaming.state_bytes", "streaming.rows_updated", "streaming.emitted_rows",
    "streaming.backlog_max", "streaming.gen_late_s",
    "queries.build_s", "queries.plan_s", "queries.exec_s",
    "sinks.build_s", "sinks.builds", "sinks.bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.task_cpu_s", "spark.gc_s", "spark.driver_s",
    "trace.overhead_ratio", "trace.spans", "trace.blocking_ratio",
    "trace.unattributed_share") ++
    CatalogSession.measured.flatMap(g =>
      Seq(s"queries.${CatalogSession.groupName(g)}.first_s",
        s"queries.${CatalogSession.groupName(g)}.steady_s"))

  def unit(name: String): String = {
    val leaf = name.split('.').last
    if (leaf.endsWith("_s")) "s"
    else if (leaf.endsWith("bytes")) "bytes"
    else if (leaf.endsWith("_ratio") || leaf.endsWith("yield") || leaf.endsWith("share")) "ratio"
    else "count"
  }
}
