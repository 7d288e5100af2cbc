package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.operators.{DedupIndex, IvfIndex, VectorIndex}
import graft.streaming.{CurationPipeline, StreamingIngestDedup, VectorIngest}

/** `stream_ingest`: `CurationPipeline` micro-batches over the documents
  * not used to seed index v0, then `VectorIngest` micro-batches over the
  * embeddings not used to train the IVF v0.
  *
  * The documents and embeddings whose id is divisible by 3 seed v0; the
  * rest are dealt into batch files (set-up), and the seed permutes the
  * order in which the timed ones are fed. Building the two v0 indexes is the
  * cold start, timed with the streams' warm-up batches. Each stream watches an empty directory under a
  * `ProcessingTime(0)` trigger; the harness moves in one file, waits until
  * the batch has committed, then moves in the next, so the loop is closed
  * and every trigger reads exactly one file. Each stream gets
  * `nBatches` files: the first `warmupBatches` are an untimed warm-up,
  * the rest are timed (a traced run traces every second one).
  *
  * Checks: every fed document has exactly one decision, and the admitted
  * set equals the keep-first rule replayed in one batch pass over the
  * same split (a document is rejected iff it has a verified near-dup
  * pair with a document seen before it: in v0, in an earlier batch, or
  * earlier in its own batch by doc_id). Every fed vector lands in the
  * sink exactly once. */
final class StreamIngest extends Workload {
  import StreamIngest._

  private var curateFiles: Seq[Path] = _
  private var vectorFiles: Seq[Path] = _
  private var seedDocs: DataFrame = _
  private var seedVecs: DataFrame = _
  private var docSchema: org.apache.spark.sql.types.StructType = _
  private var vecSchema: org.apache.spark.sql.types.StructType = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.opts.seed
    val dir = Inputs.stageTables(ctx, "tables")
    def third(key: String) = col(key) % 3 === 0
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    seedDocs = docs.filter(third("doc_id"))
    curateFiles = batchFiles(docs.filter(!third("doc_id")), "doc_id", seed,
      Path.of(ctx.dir("curate-batches")))
    docSchema = docs.schema
    val vecs = Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    seedVecs = vecs.filter(third("vec_id"))
    vectorFiles = batchFiles(vecs.filter(!third("vec_id")), "vec_id", seed,
      Path.of(ctx.dir("vector-batches")))
    vecSchema = vecs.schema
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val spark = ctx.spark
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0

    /** Feed `files` one per committed batch: the fed files, the timed
      * batches' progress and the warm-up wall. */
    def drive(name: String, files: Seq[Path], schema: org.apache.spark.sql.types.StructType)(
        start: (DataFrame, String) => StreamingQuery): Fed = {
      val src = Path.of(ctx.dir(s"$name-src"))
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
      tr.span(name) {
        val t0 = System.nanoTime()
        val q = start(stream, ctx.dir(s"$name-ckpt"))
        var fed = 0
        var warmMs = 0.0
        def committed = q.recentProgress.count(_.numInputRows > 0)
        try {
          while (fed < files.size) {
            // listeners hear the traced batches only, not the warm-up
            tr.listen(tr.enabled && fed >= warmupBatches && (fed - warmupBatches) % 2 == 1)
            Files.move(files(fed), src.resolve(files(fed).getFileName), StandardCopyOption.ATOMIC_MOVE)
            fed += 1
            attempted += 1
            val deadline = System.nanoTime() + 120e9.toLong
            while (committed < fed && q.exception.isEmpty && System.nanoTime() < deadline)
              Thread.sleep(1)
            q.exception.foreach(e => throw e)
            if (committed < fed) sys.error(s"$name batch ${fed - 1} did not commit")
            if (fed == warmupBatches) warmMs = (System.nanoTime() - t0) / 1e6
          }
          tr.listen(false)
          q.processAllAvailable()
        } finally q.stop()
        val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
        Fed(files.take(fed).map(f => src.resolve(f.getFileName)),
          ps.drop(warmupBatches).map(p => Batch(p.batchId, p.numInputRows,
          p.durationMs.get("triggerExecution").toDouble,
          tr.enabled && (p.batchId - warmupBatches) % 2 == 1)), warmMs)
      }
    }

    def attemptCheck(label: String, fed: Int)(check: => Seq[String]): Unit = {
      val problems = try check catch {
        case NonFatal(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (problems.nonEmpty) {
        failed += fed
        errors ++= problems.map(p => s"$label: $p")
      }
    }

    val coldStart = System.nanoTime()
    val curateRoot = ctx.dir("curate")
    val vectorRoot = ctx.dir("vector")
    tr.span("v0") {
      DedupIndex.write(DedupIndex.buildFrames(spark, seedDocs),
        StreamingIngestDedup.versionDir(curateRoot, 0))
      VectorIndex.writeIvf(IvfIndex.buildLloyd(seedVecs, k = 8, iters = 2), s"$vectorRoot/v0")
    }
    val v0Ms = (System.nanoTime() - coldStart) / 1e6
    val curateOut = s"$curateRoot/decisions"
    val curate = drive("curate", curateFiles, docSchema) { (s, ckpt) =>
      CurationPipeline.start(curateRoot, curateOut, s, trigger = Trigger.ProcessingTime(0),
        checkpointLocation = Some(ckpt), queryName = Some("curate"))
    }
    ctx.sampleHeap()
    val vectorOut = s"$vectorRoot/sink"
    val vector = drive("vector", vectorFiles, vecSchema) { (s, ckpt) =>
      VectorIngest.start(vectorRoot, vectorOut, s, trigger = Trigger.ProcessingTime(0),
        checkpointLocation = Some(ckpt), queryName = Some("vector"))
    }
    ctx.sampleHeap()

    attemptCheck("curate", curate.files) {
      checkDecisions(spark, seedDocs, curate.fed, curateOut)
    }
    attemptCheck("vector", vector.files) {
      val fedRows = spark.read.schema(vecSchema).parquet(vector.fed.map(_.toString): _*)
      val sunk = spark.read.parquet(vectorOut)
      val n = fedRows.count()
      val got = sunk.count()
      val distinct = sunk.select("vec_id").distinct().count()
      val missing = fedRows.select("vec_id").except(sunk.select("vec_id")).count()
      if (got == n && distinct == n && missing == 0) Nil
      else Seq(s"sink holds $got rows, $distinct distinct, $missing missing, for $n fed vectors")
    }

    val cTimed = curate.timed.filter(!_.traced)
    val vTimed = vector.timed.filter(!_.traced)
    val cMs = cTimed.map(_.ms)
    val vMs = vTimed.map(_.ms)
    val (cTailP, cTail) = Stats.tail(cMs)
    val (vTailP, vTail) = Stats.tail(vMs)
    def rate(bs: Seq[Batch]) = bs.map(_.rows).sum / (bs.map(_.ms).sum / 1000)
    val e2e = Map(
      "cold_s" -> (v0Ms + curate.warmupMs + vector.warmupMs) / 1000,
      "warm_s" -> (Stats.median(cMs) + Stats.median(vMs)) / 1000)
    val named = Seq(
      ("cold_start_s", (v0Ms + curate.warmupMs + vector.warmupMs) / 1000, "s", 1),
      ("curate_batch_p50_ms", Stats.median(cMs), "ms", cMs.size),
      (s"curate_batch_tail_ms(p$cTailP)", cTail, "ms", cMs.size),
      ("curate_rows_per_s", rate(cTimed), "1/s", cMs.size),
      ("vector_batch_p50_ms", Stats.median(vMs), "ms", vMs.size),
      (s"vector_batch_tail_ms(p$vTailP)", vTail, "ms", vMs.size),
      ("vector_rows_per_s", rate(vTimed), "1/s", vMs.size),
      ("curate_latency_slope", Stats.slope(cMs), "ratio", cMs.size))
    val sides = Map(
      "frame_cache" -> "not used: the streams read and extend their own index versions",
      "spread_gate" -> ("foreachBatch frames have no input files, so the gate's scan " +
        "estimate is Int.MaxValue (the other side from query_suite's single-row-group scans)"))

    val (layers, counts) =
      if (!tr.enabled) (Map.empty[String, Double], Map[String, Any](
        "curate_batches" -> curate.files, "vector_batches" -> vector.files))
      else {
        val cTraced = curate.timed.filter(_.traced).map(_.id).toSet
        val vTraced = vector.timed.filter(_.traced).map(_.id).toSet
        val cJobs = tr.jobsOf(Set("curate")).filter(j => cTraced.contains(j.streamBatch))
        val vJobs = tr.jobsOf(Set("vector")).filter(j => vTraced.contains(j.streamBatch))
        def perBatch(jobs: Seq[JobRec], ids: Set[Long])(p: JobRec => Boolean): Seq[Int] =
          ids.toSeq.sorted.map(b => jobs.count(j => j.streamBatch == b && p(j)))
        def med(xs: Seq[Int]) = Stats.median(xs.map(_.toDouble))
        val prog = tr.progress.asScala.filter(p => p.query == "curate" && cTraced.contains(p.batchId)).toSeq
        def dur(k: String) = Stats.median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
        val wall = curate.timed.filter(_.traced).map(_.ms).sum + vector.timed.filter(_.traced).map(_.ms).sum
        val nTraced = (cTraced.size + vTraced.size).max(1)
        val qes = tr.qesOf(Set("curate", "vector"))
        // Inside a stream every job carries the stream's call site, so a
        // curate batch's jobs are told apart by what their SQL execution
        // wrote: the decision sink (IdempotentSink.replaceBatch), the next
        // index version (DedupIndex.write), or nothing. processBatch runs
        // DedupIndex.update eagerly before either write, so the jobs ahead
        // of the first sink job are the update's.
        def writesUnder(dir: String)(j: JobRec) = tr.writePath(j).exists(_.startsWith(dir))
        val sink = writesUnder(curateOut) _
        def indexWrite(j: JobRec) = writesUnder(s"$curateRoot/v${j.streamBatch + 1}/")(j)
        val firstSink = cJobs.filter(sink).groupBy(_.streamBatch).map { case (b, js) => b -> js.map(_.id).min }
        def update(j: JobRec) = !sink(j) && !indexWrite(j) && firstSink.get(j.streamBatch).forall(j.id < _)
        val l = Tracer.execLayer(cJobs ++ vJobs, Nil, wall, ctx.opts.cores) ++ Map(
          "streaming.batch_jobs" -> med(perBatch(cJobs, cTraced)(_ => true)),
          "streaming.dedup_update_jobs" -> med(perBatch(cJobs, cTraced)(update)),
          "streaming.sink_jobs" -> med(perBatch(cJobs, cTraced)(sink)),
          "streaming.index_write_jobs" -> med(perBatch(cJobs, cTraced)(indexWrite)),
          "streaming.vector_batch_jobs" -> med(perBatch(vJobs, vTraced)(_ => true)),
          "streaming.add_batch_ms" -> dur("addBatch"),
          "streaming.query_planning_ms" -> dur("queryPlanning"),
          "streaming.wal_commit_ms" -> dur("walCommit"),
          "streaming.latency_slope" -> Stats.slope(cMs),
          "codegen.fallbacks" -> graft.quality.CodegenGuard.count.toDouble,
          // planning work of the traced batches (the listener hears only
          // those), per traced batch
          "catalyst.analysis_ms" -> Tracer.phaseMs(qes, "analysis") / nTraced,
          "catalyst.optimizer_ms" -> Tracer.phaseMs(qes, "optimization") / nTraced,
          "catalyst.planning_ms" -> Tracer.phaseMs(qes, "planning") / nTraced,
          "exec.exchanges" -> qes.map(q => q.shuffles + q.broadcasts).sum.toDouble / nTraced,
          "exec.repartition_exchanges" -> qes.map(_.repartitions).sum.toDouble / nTraced,
          // traced and untraced batches are different files, so this
          // ratio mixes their input differences with the tracing cost
          "trace.overhead_ratio" -> Stats.median(curate.timed.filter(_.traced).map(_.ms)) / Stats.median(cMs),
          "trace.span_coverage" -> 1.0)
        def byBatch(jobs: Seq[JobRec], ids: Set[Long]) =
          ids.toSeq.sorted.map(b => b.toString -> jobs.count(_.streamBatch == b)).toMap
        val c = Map[String, Any](
          "curate_jobs_per_batch" -> byBatch(cJobs, cTraced),
          "vector_jobs_per_batch" -> byBatch(vJobs, vTraced),
          "traced_batches" -> nTraced)
        (l, c)
      }
    Outcome(attempted, failed, errors.toSeq, e2e, named, layers, counts, sides)
  }
}

object StreamIngest {
  /** Untimed batches at the start of each stream. */
  val warmupBatches = 2
  /** Batch files per stream, all fed in every run: the timed batch set is
    * the same for every seed. */
  val nBatches = 6

  final case class Batch(id: Long, rows: Long, ms: Double, traced: Boolean)
  final case class Fed(fed: Seq[Path], timed: Seq[Batch], warmupMs: Double) {
    def files: Int = fed.size
  }

  /** Deal `df`'s rows into `nBatches` parquet files under `dir` by a hash
    * of `key`, in one Spark job; returns the files in feed order: the
    * warm-up files first, then the timed ones in an order drawn from the
    * seed. Every seed feeds the same batches, so runs differ only in
    * order. */
  def batchFiles(df: DataFrame, key: String, seed: Long, dir: Path): Seq[Path] = {
    val spark = df.sparkSession
    val dealt = df.withColumn("__b", pmod(hash(col(key)), lit(nBatches)))
    val n = nBatches
    val rdd = dealt.rdd.keyBy(_.getAs[Int]("__b")).partitionBy(new Partitioner {
      def numPartitions: Int = n
      def getPartition(k: Any): Int = k.asInstanceOf[Int]
    }).values.map(r => Row.fromSeq(r.toSeq.init))
    val out = dir.resolve("all")
    spark.createDataFrame(rdd, df.schema).write.parquet(out.toString)
    val parts = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
    val files = parts.zipWithIndex.map { case (p, i) =>
      val f = dir.resolve(f"batch-$i%03d.parquet")
      Files.move(p, f)
      f
    }
    files.take(warmupBatches) ++ new scala.util.Random(seed).shuffle(files.drop(warmupBatches))
  }

  /** Problems with the sunk decisions of `files` (empty when right). */
  def checkDecisions(spark: SparkSession, seedDocs: DataFrame, files: Seq[Path],
      out: String): Seq[String] = {
    val fed = files.zipWithIndex.map { case (f, b) =>
      spark.read.parquet(f.toString).withColumn("b", lit(b))
    }.reduce(_ unionByName _)
    val all = seedDocs.withColumn("b", lit(-1)).unionByName(fed).cache()
    val seen = all.select(col("doc_id"), col("b"))
    val pairs = DedupIndex.verifyPairs(
        DedupIndex.candidatePairs(DedupIndex.bandTable(DedupIndex.signatures(all.select("doc_id", "text")))),
        DedupIndex.hashedTokset(all.select("doc_id", "text")))
      .filter(col("jac") >= DedupIndex.defaultJaccard)
      .select("doc_a", "doc_b")
    // both orientations: (d, e) with e seen before d
    val edges = pairs.select(col("doc_a").as("d"), col("doc_b").as("e"))
      .unionByName(pairs.select(col("doc_b").as("d"), col("doc_a").as("e")))
      .join(seen.select(col("doc_id").as("d"), col("b").as("bd")), "d")
      .join(seen.select(col("doc_id").as("e"), col("b").as("be")), "e")
      .filter(col("be") < col("bd") || (col("be") === col("bd") && col("e") < col("d")))
    val rejected = edges.select(col("d").as("doc_id")).distinct()
    val expected = fed.select("doc_id").join(rejected.withColumn("r", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("r").isNull.as("admitted"))
    val sunk = spark.read.parquet(out).select("doc_id", "admitted")
    val nFed = fed.count()
    val nSunk = sunk.count()
    val nDistinct = sunk.select("doc_id").distinct().count()
    val diff = expected.exceptAll(sunk).count() + sunk.exceptAll(expected).count()
    all.unpersist()
    Seq(
      if (nSunk != nFed || nDistinct != nFed) Some(s"$nSunk decisions ($nDistinct distinct) for $nFed fed docs") else None,
      if (diff != 0) Some(s"$diff decisions differ from the keep-first replay") else None).flatten
  }
}
