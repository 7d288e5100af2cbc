package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session's conf is decided. Every main, forked
  * worker and the shared test session starts from `builder`; a caller
  * chains only what is really its own (a streaming progress retention,
  * a test filesystem, an app name).
  *
  * Cores come from SPARK_GRAFT_CPUS (default: the JVM's available
  * processors). SPARK_GRAFT_MASTER overrides the `local[cores]` master —
  * the multi-JVM bench and the distributed parity gate use it to run the
  * identical surface under local-cluster[n,c,m], where executors are
  * SEPARATE JVMs: real task/broadcast serialization, per-executor
  * codegen and cross-process shuffle fetch, the costs a real cluster
  * pays that local[n] hides.
  */
object GraftSession {

  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val masterOverride: Option[String] = sys.env.get("SPARK_GRAFT_MASTER")

  def master(n: Int): String = masterOverride.getOrElse(s"local[$n]")

  def builder(n: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(master(n))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Materialize.cut checkpoint files are reclaimed as their RDDs GC
      // (must be set before the context starts — ContextCleaner caches it)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // reliable-checkpoint blocks (Materialize.cut) compress with the
      // session codec: Spark defaults this OFF, and an uncompressed cut
      // of a corpus-sized frame was the visible recoverability premium
      // at 10x (VERDICT r13 item 1)
      .config("spark.checkpoint.compress", "true")
      // text/embedding parquet is tiny on disk but CPU-dense to process
      // (compressed text explodes ~20x into tokenize/hash work): the
      // default 4 MiB file-open cost floors split sizes so a 6 MiB
      // documents table scans with 2 tasks on 32 cores. 128 KiB keeps
      // bytes/defaultParallelism in charge for small inputs; at real
      // scale splits are maxPartitionBytes-bound, so this is a no-op
      .config("spark.sql.files.openCostInBytes", "131072")
      // size the whole-stage-codegen class cache to the query working
      // set: the default 100 entries evict EVERYTHING between suite
      // passes (196 queries × ~10 codegen units), so every pass re-paid
      // Janino compilation for every query — measured 20% of the whole
      // suite (152.8 → 124.5 s back-to-back, 0.80 per-query geomean,
      // confirmed in-JVM by a first-vs-last-position experiment, round
      // 15). Any long-running driver serving many distinct plans wants
      // this ≥ its working set; memory cost is a few MB per 1000 entries
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  // Spark 4 on JDK 17 needs these when a session starts outside
  // spark-submit (which normally injects them); matches
  // org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()
  private val addOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** The command line of a forked graft JVM: this JVM's java binary and
    * classpath, `-Xmx<heap>`, the JDK 17 opens, the caller's own JVM
    * `flags` (`-D` properties and the like), then `mainClass args`. */
  def javaCommand(heap: String, flags: Seq[String], mainClass: String,
      args: String*): Seq[String] =
    Seq(s"${sys.props("java.home")}/bin/java", s"-Xmx$heap") ++ addOpens ++
      flags ++ Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
}
