package graft.operators

import graft.GraftSession

/** Forked-JVM worker for [[FrameCacheXprocSpec]]: one `ensure` call
  * against the root in SPARK_GRAFT_INDEX_DIR.
  *
  * args: <key> <sentinel> <mode> [buildSleepMs]
  *  - mode `build`      — build a one-row frame carrying <sentinel>,
  *                        sleeping `buildSleepMs` (default 3000) inside
  *                        the build so two workers started together
  *                        genuinely overlap;
  *  - mode `read`       — the build thunk THROWS: proves the asset is
  *                        served cross-process without rebuilding.
  *
  * Progress lines for the spec to synchronize on (auto-flushed):
  * `PID=<pid>` once Spark is up (before the resolve — the liveness
  * tests SIGSTOP the builder via this pid), `RESOLVE_STARTED` right
  * before the ensure call, `BUILD_STARTED` when this JVM's build thunk
  * actually runs, and `VALUE=<v> BUILT=<0|1>` at the end. Exits 1 on
  * any failure.
  */
object FrameCacheXprocMain {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sentinel = args(1)
    val mode = args(2)
    val buildSleepMs = if (args.length > 3) args(3).toLong else 3000L
    val spark = GraftSession.builder(2)
      // the rename-less object-store mock, registered exactly like a
      // real connector; inert for the posix-root tests
      .config("spark.hadoop.fs.rlmock.impl",
        classOf[RenamelessMockFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    println(s"PID=${ProcessHandle.current().pid()}")
    var built = 0
    try {
      println("RESOLVE_STARTED")
      val frames = FrameCache.ensure(spark, key) {
        if (mode == "read") sys.error("read mode must not build")
        built = 1
        println("BUILD_STARTED")
        Thread.sleep(buildSleepMs) // force overlap between racing workers
        Seq("t" -> Seq(sentinel.toLong).toDF("v"))
      }
      val v = frames("t").head().getLong(0)
      println(s"VALUE=$v BUILT=$built")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"xproc worker failed: $e")
        spark.stop()
        sys.exit(1)
    }
  }
}
