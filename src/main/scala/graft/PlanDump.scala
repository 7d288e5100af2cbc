package graft

/** Plan-review main (not part of the driver contract): prints
  * `.explain("formatted")` for the named queries under the GraftSession
  * conf graft.Bench runs with, so the dumped plan is the one the bench
  * actually executes. With SPARK_GRAFT_PLAN_RUN=1 it
  * also runs each query to the noop sink first and appends the FINAL
  * adaptive executed plan (AQE re-optimizations included).
  * Usage: runMain graft.PlanDump <sfDir> <q1> [q2 ...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = sys.env.get("SPARK_GRAFT_PLAN_RUN").contains("1")
    // the noop write runs on a CLONED QueryExecution, so the final
    // adaptive plan (isFinalPlan=true, with reused query stages) is only
    // observable through the execution listener — df.queryExecution stays
    // unexecuted (isFinalPlan=false) forever
    @volatile var lastExecuted: Option[String] = None
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit =
          lastExecuted = Some(qe.executedPlan.toString)
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    args.tail.foreach { q =>
      val df = SparkEntry.queries(q)(spark, args(0))
      println(s"==== $q ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      if (run) {
        lastExecuted = None
        df.write.format("noop").mode("overwrite").save()
        // listener bus is async — wait briefly for the final plan
        var tries = 0
        while (lastExecuted.isEmpty && tries < 100) { Thread.sleep(50); tries += 1 }
        println(s"==== $q (final adaptive executed plan) ====")
        println(lastExecuted.getOrElse("<listener did not deliver>"))
      }
    }
    spark.stop()
  }
}
