package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, IvfIndex, VectorIndex}
import graft.streaming.{CurationPipeline, StreamingIngestDedup, VectorIngest}

/** Micro-batch throughput/latency record for the streaming twins
  * (VERDICT r10 item 7) — the correctness specs prove streamed ≡ batch,
  * this main puts a NUMBER on the per-batch cost so regressions in the
  * foreachBatch pipelines show up in bench/results like everything else.
  *
  * Drive shape mirrors the specs: a file-source stream fed N pre-written
  * parquet batch files, maxFilesPerTrigger=1, Trigger.AvailableNow — so
  * the run is exactly N micro-batches over a known row count. Per-batch
  * latency comes from StreamingQueryProgress (triggerExecution), the
  * engine's own clock for a batch.
  *
  * Prints ONE JSON line and writes it to bench/results/stream-*.json:
  *   {"metric":"stream","curate":{rows,batches,wall_sec,rows_per_sec,
  *    batch_ms_avg,batch_ms_max},"vector":{...},"sf":...}
  */
object StreamBench {

  private final case class Rec(rows: Long, batches: Int, wallSec: Double,
      batchMsAvg: Double, batchMsMax: Double, ms: Seq[Double]) {
    // arithmetic rounding + Double.toString, NOT the f-interpolator:
    // %f is locale-sensitive (comma decimals under e.g. de_DE would
    // emit invalid JSON)
    def json: String = {
      def r2(x: Double) = math.round(x * 100) / 100.0
      // state-growth slope for soak runs: mean of the last third over the
      // first third of per-batch latencies. ~1 = flat (bounded state /
      // amortized index growth); steadily >1 = per-batch cost grows with
      // accumulated state. Thirds, not halves, so warmup (JIT, first
      // index version) doesn't dilute the signal.
      val slope =
        if (ms.length < 6) 1.0
        else {
          val third = ms.length / 3
          (ms.takeRight(third).sum / third) / (ms.take(third).sum / third)
        }
      val curve = ms.map(m => math.round(m).toString).mkString("[", ",", "]")
      s"""{"rows":$rows,"batches":$batches,"wall_sec":${r2(wallSec)},""" +
        s""""rows_per_sec":${math.round(rows / wallSec)},""" +
        s""""batch_ms_avg":${math.round(batchMsAvg)},"batch_ms_max":${math.round(batchMsMax)},""" +
        s""""tail_over_head":${r2(slope)},"batch_ms":$curve}"""
    }
  }

  /** Write `df` bucketed by `nBatches` into one parquet file per batch
    * under a fresh dir (made by `mkDir`, so the caller's cleanup owns
    * it); returns (dir, total rows). */
  private def batchFiles(df: DataFrame, keyCol: String, nBatches: Int,
      mkDir: String => String): (String, Long) = {
    val dir = mkDir("graft-streambench")
    var total = 0L
    // bucket on the shared multiplicative hash, not the raw id — the
    // seed/incoming split is id-modulo, so raw-id modulo bucketing would
    // alias with it and leave some batches empty
    for (b <- 0 until nBatches) {
      val part = df.filter(
        pmod(expr(QueryKit.idHash(keyCol)), lit(nBatches)) === b)
      total += part.count()
      part.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/stage-$b")
      // listFiles() is null if the dir is missing and find is None if the
      // write produced no part file — name the empty bucket instead of
      // surfacing an opaque NPE/NoSuchElementException
      val f = Option(new java.io.File(s"$dir/stage-$b").listFiles())
        .toSeq.flatten.find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(
          s"no parquet part written for batch $b under $dir/stage-$b"))
      Files.move(f.toPath,
        java.nio.file.Paths.get(s"$dir/batch-$b.parquet"))
      BenchCapstones.deleteRecursively(new java.io.File(s"$dir/stage-$b"))
    }
    (dir, total)
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
      rows: Long, wallSec: Double): Rec = {
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    val ms = ps.map(_.durationMs.get("triggerExecution").toDouble).toSeq
    Rec(rows, ps.length, wallSec,
      if (ms.isEmpty) 0 else ms.sum / ms.length,
      if (ms.isEmpty) 0 else ms.max, ms)
  }

  /** Forked child for the crash-resume budget: one curation run over
    * `streamDir` with a real streaming checkpoint. Prints `PID=` (the
    * parent SIGKILLs via it), `BATCH_COMMITTED=<n>` per completed
    * trigger, and `FIRST_COMMIT_MS=<ms>` — time from `start()` to the
    * first committed batch, the number the budget records. A fresh JVM
    * per phase is the point: restart latency must include WAL offset
    * recovery in a process that has never seen the stream. */
  private def childCurate(streamDir: String, root: String, outPath: String,
      ckptDir: String): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"PID=${ProcessHandle.current().pid()}")
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    @volatile var first = -1L
    val t0 = System.nanoTime()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) {
            if (first < 0) {
              first = (System.nanoTime() - t0) / 1000000
              println(s"FIRST_COMMIT_MS=$first")
            }
            println(s"BATCH_COMMITTED=${e.progress.batchId}")
          }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    val q = CurationPipeline.start(root, outPath, stream,
      checkpointLocation = Some(ckptDir))
    q.awaitTermination()
    println("DONE")
    spark.stop()
  }

  /** SIGKILL + restart budget (VERDICT r13 item 7): fork a curation run
    * over `streamDir`, SIGKILL it after its second committed batch, fork
    * a fresh JVM on the SAME checkpoint, and read both forks'
    * time-to-first-committed-batch. Cold = fork A's (fresh checkpoint);
    * resume = fork B's (offset recovery from the WAL, then the possibly
    * uncommitted batch re-runs). Returns (coldMs, resumeMs, doneB). */
  private def crashResumeBudget(streamDir: String, root: String,
      out: String, ckpt: String): (Long, Long, Boolean) = {
    import scala.sys.process._
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    def fork(): (Process, StringBuilder) = {
      val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx4g") ++
        addOpens ++ Seq("-cp", sys.props("java.class.path"),
        "graft.StreamBench", "child-curate", streamDir, root, out, ckpt)
      val buf = new StringBuilder
      val p = Process(cmd).run(ProcessLogger(
        l => buf.synchronized { buf.append(l).append('\n'); () },
        _ => ()))
      (p, buf)
    }
    def await(buf: StringBuilder, pred: String => Boolean,
        timeoutMs: Long = 300000): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (buf.synchronized(buf.toString).linesIterator.exists(pred))
          return true
        Thread.sleep(50)
      }
      false
    }
    def firstCommitMs(buf: StringBuilder): Long =
      buf.synchronized(buf.toString).linesIterator
        .find(_.startsWith("FIRST_COMMIT_MS="))
        .map(_.stripPrefix("FIRST_COMMIT_MS=").toLong).getOrElse(-1L)

    val (pa, ba) = fork()
    // kill AFTER the second commit: the WAL then holds real committed
    // offsets plus, very likely, an in-flight batch — the recovery shape
    // a preempted executor host actually leaves behind
    val sawTwo = await(ba,
      l => l == "BATCH_COMMITTED=1" || l == "BATCH_COMMITTED=2")
    val pid = ba.synchronized(ba.toString).linesIterator
      .find(_.startsWith("PID=")).map(_.stripPrefix("PID=").toLong)
    if (sawTwo) pid.flatMap(p =>
      scala.jdk.OptionConverters.RichOptional(ProcessHandle.of(p)).toScala)
      .foreach(_.destroyForcibly())
    pa.exitValue() // reap (killed, or completed if the kill lost the race)
    val cold = firstCommitMs(ba)

    val (pb, bb) = fork()
    val doneB = await(bb, _ == "DONE")
    pb.exitValue()
    (cold, firstCommitMs(bb), doneB)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child-curate")) {
      try childCurate(args(1), args(2), args(3), args(4))
      catch {
        case e: Throwable =>
          System.err.println(s"streambench child failed: $e")
          sys.exit(1)
      }
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "6").toInt
    val spark = GraftSession.builder()
      // soak runs need every batch's progress for the latency curve —
      // the default retention (100) would silently truncate a long soak
      .config("spark.sql.streaming.numRecentProgressUpdates", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // every temp dir registers here and is deleted in the finally —
    // the failure paths (a batch throwing mid-stream) are exactly the
    // runs that would otherwise leak data-sized debris on each retry
    val tempDirs = scala.collection.mutable.ListBuffer[String]()
    def tempDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix).toString
      tempDirs += d
      d
    }
    try {

    // ---- curation: 1/3 of documents seed the index, 2/3 stream in ----
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val incoming = docs.filter(col("doc_id") % 3 =!= 0)
    val root = tempDir("graft-sb-curate")
    DedupIndex.write(DedupIndex.buildFrames(spark, seed),
      StreamingIngestDedup.versionDir(root, 0))
    val (cDir, cRows) = batchFiles(incoming, "doc_id", nBatches, tempDir)
    val cStream = spark.readStream.schema(incoming.schema)
      .option("maxFilesPerTrigger", "1").parquet(cDir)
    val cOut = s"$root/decisions"
    val t0 = System.nanoTime()
    val cq = CurationPipeline.start(root, cOut, cStream)
    cq.awaitTermination()
    val curate = drain(cq, cRows, (System.nanoTime() - t0) / 1e9)

    // ---- crash-resume latency budget (VERDICT r13 item 7) ------------
    // CurationCrashResumeSpec proves restart CORRECTNESS; this prices
    // it: a forked run over the same batch files is SIGKILLed after its
    // second committed batch, a fresh JVM restarts from the checkpoint,
    // and both report time-to-first-committed-batch. Off for targeted
    // runs via SPARK_GRAFT_STREAM_CRASH=off.
    val crashJson =
      if (sys.env.get("SPARK_GRAFT_STREAM_CRASH").contains("off")) ""
      else {
        val crashRoot = tempDir("graft-sb-crash-root")
        DedupIndex.write(DedupIndex.buildFrames(spark, seed),
          StreamingIngestDedup.versionDir(crashRoot, 0))
        val (cold, resume, ok) = crashResumeBudget(
          cDir, crashRoot, s"$crashRoot/decisions",
          tempDir("graft-sb-crash-ckpt"))
        s""","crash_resume":{"cold_first_batch_ms":$cold,""" +
          s""""resume_first_batch_ms":$resume,"resumed_to_done":$ok}"""
      }

    // ---- vector ingest: 1/3 of embeddings train the quantizer --------
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = vecs.filter(col("vec_id") % 3 === 0)
    val inVecs = vecs.filter(col("vec_id") % 3 =!= 0)
    val vRoot = tempDir("graft-sb-vector")
    VectorIndex.writeIvf(IvfIndex.buildLloyd(base, k = 8, iters = 2),
      s"$vRoot/v0")
    val (vDir, vRows) = batchFiles(inVecs, "vec_id", nBatches, tempDir)
    val vStream = spark.readStream.schema(inVecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(vDir)
    val t1 = System.nanoTime()
    val vq = VectorIngest.start(vRoot, s"$vRoot/sink", vStream)
    vq.awaitTermination()
    val vector = drain(vq, vRows, (System.nanoTime() - t1) / 1e9)

    val line = s"""{"metric":"stream","curate":${curate.json},""" +
      s""""vector":${vector.json}$crashJson,"sf":"$sfDir"}"""
    println(line)
    BenchRecord.write("stream", line)

    } finally {
      // batch files, seed indexes, sinks and checkpoints are all sized
      // like the input data — leaking them per run (ESPECIALLY failed
      // runs, which get retried) fills tmp at 10x SFs
      tempDirs.foreach(d =>
        BenchCapstones.deleteRecursively(new java.io.File(d)))
      spark.stop()
    }
  }
}
