package graft
import graft.engine.LocalSession
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0); val sfDir = args(1)
    val spark = LocalSession()
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime(); val n = fn(spark, sfDir).count()
    val cold = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); fn(spark, sfDir).count()
    val warm = (System.nanoTime() - t1) / 1e9
    println(s"RESULT $name rows=$n cold=$cold warm=$warm")
    spark.stop()
  }
}
