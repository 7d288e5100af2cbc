package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Node-level SQL-metric dump (test scope, driver-side tooling): runs a
  * query to the noop sink twice (warm JVM) and prints the final adaptive
  * plan tree with each node's populated metrics — the per-operator truth
  * (rows out, build/probe/sort/scan time) per-job spans can't resolve.
  * Usage: graft.MetricsMain <sfDir> <query> [passes]
  */
object MetricsMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var df: org.apache.spark.sql.DataFrame = null
    for (p <- 1 to passes) {
      val t0 = System.nanoTime()
      df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(f"PASS $p ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.collect {
        case (k, m) if m.value > 0 => s"$k=${m.value}"
      }.toSeq.sorted.mkString(" ")
      println(("  " * depth) + p.nodeName + "  " + ms)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach { sq => println(("  " * depth) + "SUBQUERY:"); walk(sq, depth + 1) }
    }
    walk(df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
