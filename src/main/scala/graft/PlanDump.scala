package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-review main (not part of the driver contract). For each named
  * query it prints `.explain("formatted")` under the GraftSession conf
  * graft.Bench runs with, runs the query to the noop sink, and prints
  * the FINAL adaptive executed plan of that run (AQE re-optimizations
  * included) with each node's populated SQL metrics — rows out,
  * build/probe/sort/scan time: the per-operator truth per-job spans
  * can't resolve.
  * Usage: runMain graft.PlanDump <sfDir> <q1> [q2 ...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { q =>
      val df = SparkEntry.queries(q)(spark, args(0))
      println(s"==== $q ====")
      println(df.queryExecution.explainString(FormattedMode))
      println(s"==== $q (final adaptive executed plan, node metrics) ====")
      metricLines(execute(df)).foreach(println)
    }
    spark.stop()
  }

  /** Runs `df` to the noop sink and returns the executed plan of that
    * run. The write runs on its OWN QueryExecution, so
    * `df.queryExecution` never executes (its adaptive plan stays initial
    * and its metrics stay zero); only an execution listener sees the
    * plan that ran. */
  def execute(df: DataFrame): SparkPlan = {
    val query = df.queryExecution.commandExecuted
    val done = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      // the write command wraps `query` by reference; any other
      // execution still queued on the (async) listener bus does not
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.logical.exists(_ eq query)) done.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Option(done.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error("the execution listener did not deliver the plan"))
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  /** One line per node of `plan`, indented by depth: the node name and
    * its non-zero SQL metrics. Adaptive wrappers, query stages and
    * subqueries are walked into. */
  def metricLines(plan: SparkPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.collect {
        case (k, m) if m.value > 0 => s"$k=${m.value}"
      }.toSeq.sorted.mkString(" ")
      out += ("  " * depth) + p.nodeName + "  " + ms
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach { sq =>
        out += ("  " * depth) + "SUBQUERY:"
        walk(sq, depth + 1)
      }
    }
    walk(plan, 0)
    out.result()
  }
}
