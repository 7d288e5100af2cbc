package graft

import scala.sys.process._

/** Test harness: fork graft.Verify in a fresh JVM under an arbitrary
  * Spark master (local[n] or local-cluster[n,c,m]). Used by
  * DistributedParitySpec (multi-JVM serialization parity) and
  * FaultToleranceSpec (executor-kill recovery). local-cluster executors
  * are launched by the in-JVM Worker from SPARK_HOME, with the graft
  * classes arriving via spark.executor.extraClassPath (same filesystem,
  * no jar packaging).
  */
object ClusterFork {

  /** (exitCode, combined stdout+stderr). `beforeWait` runs after the
    * process starts, with the live Process handle — used by the
    * fault-tolerance spec to kill executors mid-run. `chaosTag`, when
    * set, is planted in every EXECUTOR JVM's command line (an inert
    * `-Dgraft.chaos.tag=...`) so a kill harness can `pgrep` for exactly
    * this run's executors — a bare `pgrep -f CoarseGrainedExecutor
    * Backend` on a shared host can land a SIGKILL on another Spark
    * app's executor (ADVICE r12). */
  def verify(master: String, sfDir: String, outDir: String,
      indexDir: String, only: Seq[String],
      beforeWait: Process => Unit = _ => (),
      chaosTag: Option[String] = None): (Int, String) = {
    val cmd = GraftSession.javaCommand("3g", Seq(
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      s"-Dspark.executor.extraClassPath=${sys.props("java.class.path")}") ++
      chaosTag.toSeq.map(t =>
        s"-Dspark.executor.extraJavaOptions=-Dgraft.chaos.tag=$t"),
      "graft.Verify", sfDir, outDir)
    val out = new StringBuilder
    val logger = ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') },
      l => out.synchronized { out.append(l).append('\n') })
    val proc = Process(cmd, None,
      "SPARK_GRAFT_MASTER" -> master,
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_ONLY" -> only.mkString(","),
      "SPARK_GRAFT_INDEX_DIR" -> indexDir,
      // Materialize.cut fails fast on a non-local master with no
      // checkpoint dir (r13); local-cluster executors share this
      // machine, so a fresh tmp path IS cluster-visible here
      "SPARK_GRAFT_CKPT_DIR" -> java.nio.file.Files
        .createTempDirectory("graft-fork-ckpt").toString,
      "SPARK_HOME" -> "/opt/spark",
      // spark-submit's load-spark-env.sh exports this; without it the
      // worker's executor-command builder dies in getScalaVersion with
      // "Cannot find any build directories"
      "SPARK_SCALA_VERSION" -> "2.13").run(logger)
    beforeWait(proc)
    val code = proc.exitValue()
    (code, out.synchronized(out.toString))
  }
}
