package graft

import org.apache.spark.sql.functions._

/** Forked-JVM worker for MemoryGuardSpec: run the given queries under
  * whatever -Xmx the parent imposed and exit 0 iff all complete.
  * args: <sfDir> <comma-separated query names>.
  *
  * The special name `__unbounded_buffer` runs a deliberately
  * data-proportional NON-SPILLABLE aggregation (whole-group
  * collect_list) — the regression class the guard exists to catch; the
  * spec asserts the harness FAILS on it, so the green path is proven
  * non-vacuous. */
object MemoryGuardMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = GraftSession.builder(4)
      // few, large partitions: per-task state is maximized, so a
      // data-proportional buffer has the least room to hide
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = false
    names.split(",").foreach { n =>
      try {
        val df =
          if (n == "__unbounded_buffer")
            // collect_list holds the whole group in ONE aggregation
            // buffer — unlike sort/window state it cannot spill
            Tables(spark, sfDir, "lineitem")
              .groupBy(col("l_returnflag"))
              .agg(expr("size(collect_list(concat(cast(l_orderkey AS string), " +
                "'|', cast(l_partkey AS string), '|', " +
                "cast(l_extendedprice AS string)))) AS n"))
          else SparkEntry.queries(n)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(s"[memguard] $n ok")
      } catch {
        case e: Throwable =>
          failed = true
          System.err.println(s"[memguard] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
