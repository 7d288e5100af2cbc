package graft.operators

import org.apache.spark.sql.DataFrame

/** Fault-TOLERANT lineage cut — the replacement for every
  * `DataFrame.localCheckpoint` in this library (round 12).
  *
  * localCheckpoint cuts lineage AND stores the blocks on the computing
  * executors with no recovery path: lose one executor and any query
  * still holding a reference dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  * — reproduced live by the FaultToleranceSpec chaos harness against
  * q_rrf_fusion/q_mad_outlier under local-cluster executor SIGKILLs. On
  * a 1000-executor cluster (preemption, spot reclaim, OOM-kill) that
  * makes every cut query fail where the rest of the engine recovers.
  *
  * `cut` uses a RELIABLE checkpoint instead: blocks are written to the
  * checkpoint directory (a DFS path on a real cluster — set
  * `SPARK_GRAFT_CKPT_DIR`; a tmpdir locally), so recovery re-reads files
  * rather than recomputing from a lineage that no longer exists.
  * `Dataset.checkpoint()` runs the plan once for the action and
  * once more for the checkpoint write job, so callers keep that
  * recompute bounded by placing the cut ABOVE an exchange (the write
  * job then reuses shuffle files — skipped stages — and never
  * re-touches the source scan). That is a CALLER discipline, not an
  * invariant this method can enforce: a cut straight off a scan pays a
  * second scan (the ConnectedComponents `e2` cut did exactly that until
  * round 13 added its repartition).
  *
  * Checkpoint files are reclaimed two ways: ContextCleaner deletes them
  * when the RDD is GC'd if `spark.cleaner.referenceTracking
  * .cleanCheckpoints=true` (set by every graft session builder — it must
  * be set before the context starts), and — ONLY for the directory this
  * object auto-creates under `java.io.tmpdir` — a JVM shutdown hook
  * removes it as a backstop. A user-supplied `SPARK_GRAFT_CKPT_DIR` is
  * NEVER swept: Spark puts each app in its own UUID subdir of that root,
  * so deleting the root on exit would wipe concurrent apps' live
  * checkpoints (and any unrelated data) on a shared NFS/DFS mount.
  */
object Materialize {

  @volatile private var hookInstalled = false

  /** Checkpoint-dir decision, factored out for unit testing:
    * (directory to set, install the exit sweep?). The sweep is installed
    * ONLY for the auto-created per-app tmpdir — an env-provided path is
    * the user's to manage, whatever scheme it carries (file:/nfs/abfs:/
    * gs: included). A non-local master with no env dir FAILS FAST:
    * Spark only log-warns when a cluster app checkpoints to a local
    * path, and the actual failure (executors scatter partition files
    * across their local disks; later reads miss) surfaces as a baffling
    * file-not-found deep inside a query — exactly on the 1000-executor
    * deployment this class exists for. */
  private[operators] def resolveCheckpointDir(env: Option[String],
      isLocal: Boolean, appId: String): (String, Boolean) = env match {
    case Some(dir) => (dir, false)
    case None if isLocal =>
      (s"${System.getProperty("java.io.tmpdir")}/graft-ckpt-$appId", true)
    case None =>
      throw new IllegalStateException(
        "Materialize.cut needs a cluster-visible checkpoint directory on " +
          "a non-local master: set SPARK_GRAFT_CKPT_DIR (or call " +
          "SparkContext.setCheckpointDir) with a DFS path. The driver-" +
          "local tmpdir fallback would scatter reliable-checkpoint " +
          "blocks across executor-local filesystems and fail on read.")
  }

  /** `df` materialized now (one driver action) and cut from its lineage,
    * recoverable under executor loss. */
  def cut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) synchronized {
      if (sc.getCheckpointDir.isEmpty) {
        val (dir, sweepOnExit) = resolveCheckpointDir(
          sys.env.get("SPARK_GRAFT_CKPT_DIR"), sc.isLocal, sc.applicationId)
        sc.setCheckpointDir(dir)
        if (sweepOnExit && !hookInstalled) {
          hookInstalled = true
          Runtime.getRuntime.addShutdownHook(new Thread(() =>
            try deleteRecursively(new java.io.File(dir))
            catch { case _: Throwable => () }))
        }
      }
    }
    df.checkpoint(eager = true)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** `df.cut()` chain syntax, mirroring the localCheckpoint call shape
    * it replaces. */
  implicit class CutSyntax(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Materialize.cut(df)
  }
}
