package graft
import graft.engine.LocalSession
/** Prints formatted physical plans for representative queries — the
  * "is this the plan you'd want at 100 TB" audit loop. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("filter_basic", "join_star", "agg_sum_group", "win_topk_group")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      // the bench times .count() — audit THAT plan too (the final
      // global sort must be optimized away under the count)
      println(s"----- $n under count() -----")
      SparkEntry.queries(n)(spark, sfDir).groupBy().count().explain("formatted")
    }
    spark.stop()
  }
}
