package graft

/** PlanDump walks the plan that actually ran. The noop write executes on
  * its own QueryExecution; `df.queryExecution.executedPlan` never runs,
  * so its nodes carry no metric. */
class PlanDumpSpec extends SparkSpec {

  test("the walked plan of q_rollup shows a non-zero numOutputRows on its scan") {
    val df = SparkEntry.queries("q_rollup")(spark, sf("sf0.001"))
    val lines = PlanDump.metricLines(PlanDump.execute(df))
    val scans = lines.filter(_.trim.startsWith("Scan"))
    assert(scans.nonEmpty, lines.mkString("\n"))
    assert(scans.exists(_.matches(""".*\bnumOutputRows=[1-9]\d*\b.*""")),
      s"no scan reports its output rows:\n${lines.mkString("\n")}")
  }
}
