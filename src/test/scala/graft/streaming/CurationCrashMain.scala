package graft.streaming

import graft.GraftSession

/** Forked-JVM runner for [[CurationCrashResumeSpec]]: one
  * CurationPipeline run over the batch files in `streamDir`, with a
  * REAL streaming checkpoint — so a SIGKILLed run can be restarted in a
  * fresh JVM from the same checkpoint dir, exactly the production
  * crash-recovery path (in-process specs can only simulate replay by
  * calling processBatch directly; they never exercise offset recovery
  * from the WAL across JVMs).
  *
  * args: <streamDir> <root> <outPath> <checkpointDir>
  * Prints `PID=<pid>` once Spark is up (the spec SIGKILLs via it) and
  * `DONE` only on a completed AvailableNow drain; exits 1 on failure.
  */
object CurationCrashMain {
  def main(args: Array[String]): Unit = {
    val Array(streamDir, root, outPath, ckptDir) = args
    val spark = GraftSession.builder(2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"PID=${ProcessHandle.current().pid()}")
    try {
      // the batch files share one schema; a static read supplies it
      val schema = spark.read.parquet(streamDir).schema
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir)
      val q = CurationPipeline.start(root, outPath, stream,
        checkpointLocation = Some(ckptDir))
      q.awaitTermination()
      println("DONE")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"curation crash worker failed: $e")
        spark.stop()
        sys.exit(1)
    }
  }
}
