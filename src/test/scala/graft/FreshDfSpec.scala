package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.GraphOps

/** The stats-carry trap behind [[GraphOps.freshDf]]: localCheckpoint
  * keeps the plan's statistics, so a loop joining the carried table
  * compounds its sizeInBytes every round (graph_louvain_sweep planned
  * for 95 s at round 13); freshDf resets the estimate. */
class FreshDfSpec extends SparkSpec {

  test("freshDf keeps a join + groupBy loop's sizeInBytes flat; plain localCheckpoint compounds it") {
    import spark.implicits._
    val e = (1L to 1000L).map(i => (i % 100, i % 37)).toDF("src", "dst")
      .localCheckpoint(true)
    def sizes(checkpoint: DataFrame => DataFrame): Seq[BigInt] = {
      var lab = checkpoint(e.select(col("src").as("node")).distinct()
        .withColumn("nc", col("node") % 7))
      (1 to 6).map { _ =>
        lab = checkpoint(lab.join(e, lab("node") === e("src"))
          .groupBy("node").agg(min(col("nc")).as("nc")))
        lab.queryExecution.optimizedPlan.stats.sizeInBytes
      }
    }
    val fresh = sizes(GraphOps.freshDf)
    val plain = sizes(_.localCheckpoint(true))
    assert(fresh.distinct.size == 1, s"freshDf sizes drift: $fresh")
    assert(plain.zip(plain.tail).forall { case (a, b) => b > a },
      s"plain localCheckpoint sizes do not compound: $plain")
  }
}
