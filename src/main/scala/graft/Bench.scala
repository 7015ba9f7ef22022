package graft
import graft.engine.LocalSession
object Bench {
  // Locale.ROOT: the f-interpolator honors the default locale, and a
  // decimal-comma locale would render 0,1234 — invalid JSON
  private def fmt(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(t))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // BASELINE.md's envelope is defined per-query AFTER warmup; whole-
    // stage codegen compiles once per plan shape, so warm each query at
    // the smallest scale factor (same shape, negligible data) before
    // timing it at the target one.
    val warmDir = "/root/testdata/sf0.001"
    // fresh per-run: the durable per-query ledger is append-mode below
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("bench_queries.jsonl"))
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val results = SparkEntry.queries.map { case (name, fn) =>
      try { fn(spark, warmDir).count() } catch { case e: Throwable =>
        // a swallowed warm failure is what made the r14 18.03 s
        // rank_link_hits_at_k ledger entry undiagnosable (VERDICT r14
        // #1): if the warm dies, the first TIMED run silently pays the
        // whole sink build. One line makes that state readable.
        System.err.println(s"[graft.Bench] warm(sf0.001) $name failed: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // ...and once untimed at the TIMED scale factor: session-sink
      // queries (walk corpus, Brandes deps, Louvain labels, the rank-2
      // embedding) materialize a one-time on-disk table keyed by sfDir
      // on first touch. Warming only at sf0.001 left those builds
      // inside the timed runs — the r13 driver ledger read
      // graph_embed_link_auc at 59.78 s vs its 3.37 s fresh-JVM warm
      // steady state (and under 356-query session residue even
      // min-of-3 failed to shed the build). One untimed pass here puts
      // every sink build outside the clock, making the ledger a
      // deterministic steady-state measurement. The pass runs for
      // EVERY query, not just the sink-backed ones — that roughly
      // doubles bench wall-clock (r15 ADVICE), an accepted cost: the
      // warm is what makes the published per-query number a
      // steady-state plan measurement rather than
      // whatever-the-session-residue-was, and a selective warm list
      // would silently rot as keys are added. Its duration is
      // RECORDED per query (warm_sec below, VERDICT r14 #1) so
      // sink-build vs steady-state is adjudicable off the artifact:
      // a big warm_sec next to a small sec IS the sink build landing
      // outside the clock, by construction.
      val w0 = System.nanoTime()
      var warmErr: String = null
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        warmErr = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[graft.Bench] warm($sfDir) $name failed: $warmErr")
      }
      val warmSec = (System.nanoTime() - w0) / 1e9
      // min of three timed runs: a single sample is exposed to one-off
      // noise (GC pause, broadcast-thread contention) — r2 recorded a
      // 2x join_range "regression" on unchanged code and an unchanged
      // plan this way, and even min-of-2 still showed ±15% run-to-run
      // drift on box-level noise in r4. The min is the steady-state
      // cost of the plan; +1 sample costs ~30 s per bench run.
      // a run that throws is not a time: its query gets an err field
      // on its jsonl line and stays out of the summary and the total
      var err: String = null
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          if (err == null) err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        (System.nanoTime() - t0) / 1e9
      }.min
      // the checkpointing queries (LSH clustering, corpus_pipeline,
      // ann_kmeans) leave localCheckpoint blocks behind until the JVM
      // happens to GC the RDD handles; on a 100+ GB heap that lag lets
      // block-manager residue from query N tax queries N+1..: drop it
      // eagerly so every query is timed against a clean executor
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // ...and the residue RDD-unpersist alone cannot reach: cached
      // relations and the BROADCAST blocks accumulated by 133 queries
      // sharing one JVM. The r5 ledger measured ann_topk at 3.21 s
      // in-ledger vs 0.96 s isolated-warm on unchanged code — that
      // delta was block-manager/broadcast residue, not the plan.
      // clearCache drops cached relations; the System.gc() lets the
      // ContextCleaner's weak-reference queue reclaim dead broadcast
      // variables (they are only destroyed once their driver handle is
      // collected). The heap is young-dominated between queries, so
      // this is a cheap collection, not a 100 GB full GC.
      spark.catalog.clearCache()
      System.gc()
      // incremental per-query line: even if the final summary line is
      // truncated by a bounded tail capture (r3 lost 13 of 84 entries
      // that way), every individual time survives as its own short line
      // — AND is appended to a durable jsonl file BEFORE the stdout
      // print, so no stdout capture policy can lose a measurement
      // truncate the RAW message first, escape after (r16, ADVICE):
      // a take() applied post-escaping can cut mid-escape-pair and
      // leave a lone trailing backslash — a malformed jsonl line on
      // exactly the runs where the ledger matters most
      def errJson(field: String, msg: String): String =
        if (msg == null) ""
        else s""","$field":"""" +
          msg.take(200).replace("\\", "\\\\").replace("\"", "\\\"")
            .replaceAll("[\\r\\n\\t]", " ") + "\""
      val sec = if (err == null) fmt(t) else "null"
      val qline = s"""{"q":"$name","sec":$sec,"warm_sec":${fmt(warmSec)}""" +
        errJson("warm_err", warmErr) + errJson("err", err) + "}"
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_queries.jsonl"),
        (qline + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(qline)
      if (err == null) Some(name -> t) else None
    }.flatten.toMap
    // 4-decimal times keep the summary line compact (~25 chars/query
    // instead of ~40) — the r3 truncation was a line-length problem
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // durable copy: the full JSON is also written to bench.json so no
    // amount of stdout truncation can lose it
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      (line + "\n").getBytes("UTF-8"))
    // stdout robustness: every BENCH_r0N artifact so far recorded
    // "parsed": null with a `tail` field of EXACTLY 2000 chars that
    // cuts the ~3.5 KB full summary line mid-map — the driver's
    // capture is a hard 2000-byte window, so a parseable summary must
    // itself fit inside it. Print the full line first (for humans and
    // unbounded captures), then as the VERY LAST line a compact
    // summary — same schema, but the queries map carries only the 20
    // slowest keys (~700 bytes, the ones the perf gate actually looks
    // at). The complete per-query detail survives in bench.json and
    // bench_queries.jsonl regardless.
    //
    // r7: the r6 tail finally showed WHY the last-line parse keeps
    // failing — the compact line arrived as "[info] {...}" with sbt's
    // own "[success] Total time..." epilogue AFTER it. Both are
    // sbt-side artifacts (run is forked, so a System.exit here can't
    // suppress them); the fix is in build.sbt — showSuccess := false
    // drops the epilogue and run/outputStrategy := StdoutOutput passes
    // child stdout through unprefixed. Order here: stop Spark FIRST,
    // then print the compact line, flush, and exit — nothing can write
    // to stdout after it.
    println(line)
    spark.stop()
    val top = results.toSeq.sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$top,"sf":"$sfDir","detail":"bench.json"}""")
    System.out.flush()
    System.exit(0)
  }
}
