package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/run.py). `queries` is
  * the query list of query_suite (a file, or `all`); `launchedUs` is the
  * epoch microsecond at which run.py started this JVM; with `setupOnly`
  * the run stops after its set-up. */
final case class Opts(workload: String, seed: Long, trace: Boolean,
    runDir: Path, benchDir: Path, outDir: Path, queries: String = "",
    launchedUs: Long = 0L, setupOnly: Boolean = false) {
  /** The committed table snapshot the workloads stage their inputs from. */
  def dataDir: Path = benchDir.resolve("data")
  def expectedDir: Path = benchDir.resolve("expected")
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("trace") == "1",
      Paths.get(get("run-dir")).toAbsolutePath, Paths.get(get("bench-dir")).toAbsolutePath,
      Paths.get(get("out-dir")).toAbsolutePath, get("queries"), get("launched-us").toLong,
      get("setup-only") == "1")
  }
}

/** What a workload's measured phase produced. `e2e` holds the contract's
  * end-to-end metrics except `setup_s` and `peak_heap_mb`; `named` holds
  * the workload's own metrics (value, unit, sample count) for the detail
  * line; `layers` the per-layer metrics of a traced run. */
final case class Outcome(attempted: Int, failed: Int, errors: Seq[String],
    e2e: Map[String, Double], named: Seq[(String, Double, String, Int)],
    layers: Map[String, Double], counts: Map[String, Any],
    sides: Map[String, String])

/** Everything a workload needs during a run. */
final class Ctx(val opts: Opts, val tracer: Tracer) {
  var spark: SparkSession = _

  /** Collect garbage and record the heap still in use (MB). Called
    * between operations, never inside a timed one. Spark releases cached
    * and broadcast blocks asynchronously after a collection has found them
    * unreachable, so collections repeat, 100 ms apart, until the reading
    * stops falling by 2% (at most ten). */
  def sampleHeap(): Unit = {
    def reading() = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var low = reading()
    var tries = 1
    var falling = true
    while (falling && tries < 10) {
      val next = reading()
      tries += 1
      falling = next < low * 0.98
      low = math.min(low, next)
    }
    heapSamples += low
  }

  private val heapSamples = scala.collection.mutable.ArrayBuffer[Double]()

  /** Heap in use after collection at each sample point (MB). */
  def heapMb: Seq[Double] = heapSamples.toSeq

  def peakHeapMb: Double = heapSamples.maxOption.getOrElse(0.0)

  /** A fresh directory under the run directory. */
  def dir(name: String): String = {
    val d = opts.runDir.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

trait Workload {
  /** Stage inputs and warm the session; timed as set-up. */
  def setup(ctx: Ctx): Unit

  /** The measured phase. */
  def run(ctx: Ctx): Outcome
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "query_suite" -> (() => new QuerySuite),
    "batch_pipelines" -> (() => new BatchPipelines),
    "stream_ingest" -> (() => new StreamIngest))

  def session(opts: Opts): SparkSession = {
    val c = opts.cores.toString
    SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.checkpoint.compress", "true")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", opts.runDir.resolve("warehouse").toString)
      .config("spark.local.dir", opts.runDir.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    // long call sites let jobs be attributed to the library method that
    // submitted them (read per job from this system property)
    System.setProperty("spark.callstack.depth", "128")
    val opts = Opts.parse(args)
    val make = workloads.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; one of ${workloads.keys.mkString(", ")}"))
    graft.quality.CodegenGuard.install()
    val tracer = new Tracer(opts.trace)
    val ctx = new Ctx(opts, tracer)
    val w = make()
    ctx.spark = session(opts)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    w.setup(ctx)
    // set-up as the program pays it: JVM start, the first session, class
    // loading, staging and warm-up (run.py takes the median over JVMs)
    val setupS = (Tracer.epochUs - opts.launchedUs) / 1e6
    if (opts.setupOnly) {
      ctx.spark.stop()
      println(Json(Map("setup_s" -> setupS)))
      return
    }
    tracer.attach(ctx.spark)
    ctx.sampleHeap()
    val out =
      try w.run(ctx)
      finally ctx.spark.stop()
    val e2e = out.e2e ++ Map(
      "setup_s" -> setupS,
      "peak_heap_mb" -> ctx.peakHeapMb)
    val units = Map("setup_s" -> "s", "peak_heap_mb" -> "MB", "cold_s" -> "s", "warm_s" -> "s")
    val metrics =
      if (opts.trace) scala.collection.immutable.ListMap(Layers.complete(out.layers).map {
        case (k, v) => k -> Map("value" -> v, "unit" -> Layers.unit(k)) }: _*)
      else e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }
    if (opts.trace) {
      Files.createDirectories(opts.outDir)
      val f = opts.outDir.resolve(s"trace-${opts.workload}-seed${opts.seed}.json")
      Files.writeString(f, Json(Map("workload" -> opts.workload, "seed" -> opts.seed,
        "cores" -> opts.cores, "layers" -> Layers.complete(out.layers).toMap,
        "counts" -> out.counts, "sides" -> out.sides,
        "spans" -> tracer.tree(tracer.spans.map(_.op).toSet))))
    }
    val detail = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "cores" -> opts.cores,
      "trace" -> opts.trace, "heap_mb_samples" -> ctx.heapMb,
      "errors" -> out.errors.take(20),
      "metrics" -> out.named.map { case (n, v, u, k) => n -> Map("value" -> v, "unit" -> u, "n" -> k) }.toMap,
      "sides" -> out.sides, "counts" -> out.counts)
    println("perfbench detail " + Json(detail))
    // the last line of standard output is the result
    println(Json(Map("correct" -> (out.failed == 0), "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics)))
  }
}
