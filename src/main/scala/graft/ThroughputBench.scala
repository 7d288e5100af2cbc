package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.sys.process._

/** Concurrent-stream (TPC-throughput style) benchmark — VERDICT r11
  * item 5. All prior perf evidence is SERIAL; a real deployment runs many
  * queries at once against one shared warehouse, where the questions are
  * (a) does the FrameCache/index xproc protocol still build each asset
  * exactly once under a 4-way cold-start race, and (b) how gracefully
  * does wall-clock degrade vs the serial aggregate (scheduler fairness,
  * shared-cache contention).
  *
  * Shape: N worker JVMs (default 4, `SPARK_GRAFT_STREAMS`), each its own
  * SparkSession at `local[cpus/N]`, all sharing ONE fresh FrameCache
  * root via SPARK_GRAFT_INDEX_DIR. Each stream runs the same query list
  * ROTATED by its stream index (so the asset-building queries collide at
  * different times — the adversarial schedule). A single-worker serial
  * pass against its own fresh root is the reference: per-worker
  * resources are identical, so `concurrent_wall / serial_wall` isolates
  * contention. In-JVM memoization would mask the cross-process protocol,
  * which is exactly why the workers are separate JVMs and the root is
  * cold for each phase.
  *
  * Asserted invariants (hard-fail, exit 2):
  *   - the concurrent root holds EXACTLY the same number of published
  *     `asset-*` dirs as the serial root (4-way race ⇒ still one build
  *     per asset);
  *   - no `.stg-*` staging leaked;
  *   - every stream ran every query without error.
  *
  * Prints ONE JSON line and writes bench/results/throughput-latest.json:
  *   {"metric":"throughput","streams":4,"serial_wall":…,
  *    "concurrent_wall":…,"ratio":…,"per_stream":[…],"assets":k}
  */
object ThroughputBench {

  /** The stream mix: the FrameCache-backed retrieval family + the
    * persisted-index families (the queries that actually contend on the
    * shared root) padded with ordinary scan/join/window/agg work so the
    * schedule looks like a warehouse, not an index micro-bench. */
  private val streamQueries = Seq(
    "q_bm25_topk", "q_rrf_fusion", "q_hard_negatives", // FrameCache postings
    "q_dedup_minhash_lsh", "q_dedup_index_stats",      // DedupIndex parquet index
    "q_ann_ivf", "q_ann_pq",                           // VectorIndex (IVF/PQ)
    "q_agg_groupsum", "q_join_broadcast_agg", "q_window_lag",
    "q_topk_per_group", "q_gopher_rules")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("stream") => streamWorker(args(1), args(2).toInt, args(3).toInt)
    case _              => orchestrate()
  }

  // ---------------------------------------------------------------- worker

  /** One stream: run the list rotated by `rot`, print per-query timings
    * as a STREAM= line the orchestrator parses. */
  private def streamWorker(sfDir: String, rot: Int, cpus: Int): Unit = {
    graft.quality.CodegenGuard.install()
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count()) // untimed warmup
    val rotated = streamQueries.drop(rot % streamQueries.size) ++
      streamQueries.take(rot % streamQueries.size)
    val t0 = System.nanoTime()
    val qs = rotated.map { name =>
      val q0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      name -> (System.nanoTime() - q0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val qJson = qs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // stdout contract with the orchestrator; the guard count rides along
    // so a codegen fallback inside a worker is as loud as in Bench
    println(s"""STREAM={"rot":$rot,"wall":$wall,"queries":$qJson,""" +
      s""""codegen_fallbacks":${graft.quality.CodegenGuard.count}}""")
    spark.stop()
    if (graft.quality.CodegenGuard.count > 0) sys.exit(2)
  }

  // ----------------------------------------------------------- orchestrator

  private def fork(root: String, sfDir: String, rot: Int, cpus: Int)
      : (Int, String) = {
    val java = s"${sys.props("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java, "-Xmx8g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      addOpens ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.ThroughputBench", "stream", sfDir, rot.toString, cpus.toString)
    val out = new StringBuilder
    val code = Process(cmd, None, "SPARK_GRAFT_INDEX_DIR" -> root)
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    (code, out.toString)
  }

  private def streamWall(out: String): Double =
    "\"wall\":([0-9.E-]+)".r.findFirstMatchIn(out)
      .map(_.group(1).toDouble)
      .getOrElse(sys.error(s"no STREAM line in worker output:\n${out.takeRight(2000)}"))

  private def listRoot(root: String, prefix: String): Int =
    Option(new java.io.File(root).list())
      .map(_.count(_.startsWith(prefix))).getOrElse(0)

  private def orchestrate(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAMS", "4").toInt
    val perWorker = math.max(1, GraftSession.cores / n)

    // phase A: serial reference — one worker, its own cold root
    val rootA = Files.createTempDirectory("graft-tput-serial").toString
    val ta = System.nanoTime()
    val (ca, oa) = fork(rootA, sfDir, 0, perWorker)
    val serialWall = (System.nanoTime() - ta) / 1e9
    require(ca == 0, s"serial reference worker failed:\n${oa.takeRight(3000)}")
    val serialStreamWall = streamWall(oa)
    val assetsSerial = listRoot(rootA, "asset-")

    // phase B: n workers, one shared cold root, rotated schedules
    val rootB = Files.createTempDirectory("graft-tput-conc").toString
    val tb = System.nanoTime()
    val fs = (0 until n).map(i => Future(fork(rootB, sfDir, i, perWorker)))
    val results = fs.map(Await.result(_, 60.minutes))
    val concWall = (System.nanoTime() - tb) / 1e9
    results.zipWithIndex.foreach { case ((c, o), i) =>
      require(c == 0, s"stream $i failed:\n${o.takeRight(3000)}")
    }
    val perStream = results.map { case (_, o) => streamWall(o) }
    val assetsConc = listRoot(rootB, "asset-")
    val stgLeaks = listRoot(rootB, ".stg-")
    val leaseLeaks = listRoot(rootB, ".lease-")

    val errors = scala.collection.mutable.ListBuffer[String]()
    if (assetsConc != assetsSerial)
      errors += s"asset build-once violated: serial=$assetsSerial concurrent=$assetsConc"
    if (stgLeaks > 0) errors += s"staging leaked: $stgLeaks"
    if (leaseLeaks > 0) errors += s"build lease leaked: $leaseLeaks"

    def r2(x: Double) = math.round(x * 100) / 100.0
    val per = perStream.map(w => r2(w).toString).mkString("[", ",", "]")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"throughput","streams":$n,"cpus_per_stream":$perWorker,""" +
        s""""n_queries":${streamQueries.size},"serial_wall":${r2(serialStreamWall)},""" +
        s""""serial_fork_wall":${r2(serialWall)},"concurrent_wall":${r2(concWall)},""" +
        s""""ratio":${r2(concWall / serialWall)},"per_stream":$per,""" +
        s""""assets":$assetsConc,"errors":$errJson,"sf":"$sfDir"}"""
    BenchRecord.write("throughput", line)
    // cold roots are data-sized — don't leak them per run
    Seq(rootA, rootB).foreach(d =>
      BenchCapstones.deleteRecursively(new java.io.File(d)))
    println(line)
    if (errors.nonEmpty) sys.exit(2)
  }
}
