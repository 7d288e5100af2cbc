package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.DedupIndex

/** The composed ingest capstone: micro-batches deduped against the
  * persisted index, admitted-or-not decisions sunk exactly-once, the
  * index extended per batch — and the whole chain equal to one-shot
  * batch recomputation for BOTH artifacts, replay included. */
class CurationPipelineSpec extends SparkSpec {

  private def oneFileInto(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-cp-part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("streamed decisions + index equal one-shot batch recomputation; replay is idempotent") {
    val dir = sf("sf0.001")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val p0 = docs.filter(col("doc_id") % 3 === 0)
    val p1Base = docs.filter(col("doc_id") % 3 === 1)
    // batch 1 carries: corpus near-copies (must reject via index match)
    // and TWO near-copies of a non-corpus batch-mate (the larger id must
    // reject via the batch-local keep-first rule with NO corpus match)
    val p1 = p1Base
      .unionByName(p0.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
      .unionByName(p1Base.filter(col("doc_id") % 30 === 1)
        .select((col("doc_id") + 12000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
    // batch 2 carries near-copies of batch-1 docs: by now those are in
    // the index, so they must reject as CROSS-BATCH corpus matches
    val p2 = docs.filter(col("doc_id") % 3 === 2).unionByName(
      p1Base.filter(col("doc_id") % 30 === 1)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))

    val root = Files.createTempDirectory("graft-cp-root").toString
    val out = Files.createTempDirectory("graft-cp-out").toString + "/decisions"
    DedupIndex.write(DedupIndex.buildFrames(spark, p0),
      StreamingIngestDedup.versionDir(root, 0))

    val streamDir = Files.createTempDirectory("graft-cp-stream").toString
    oneFileInto(p1, streamDir, "batch-0001.parquet")
    oneFileInto(p2, streamDir, "batch-0002.parquet")
    val stream = spark.readStream
      .schema(p1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    CurationPipeline.start(root, out, stream).awaitTermination(180000)

    def decisionMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        r.getLong(0) -> (r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) "" else r.getDouble(3).toString)
      }.toMap

    // one decision row per streamed doc, across exactly two partitions
    val sunk = spark.read.parquet(out)
      .select(col("doc_id"), col("admitted"), col("match_id"), col("match_jac"))
    val sunkCount = sunk.count()
    assert(sunkCount === p1.count() + p2.count())
    assert(sunk.select("doc_id").distinct().count() === sunkCount)

    // ORACLE: recompute each batch's decisions against a FROM-SCRATCH
    // index build over everything seen so far (the one-shot replay)
    val ix0 = DedupIndex.buildFrames(spark, p0)
    val ix1 = DedupIndex.buildFrames(spark, p0.unionByName(p1))
    val expected =
      decisionMap(CurationPipeline.decisions(spark, ix0, p1)) ++
        decisionMap(CurationPipeline.decisions(spark, ix1, p2))
    val got = decisionMap(sunk)
    assert(got === expected)

    // both rejection paths actually fired
    val p1CorpusRejects = got.filter { case (id, (adm, m, _)) =>
      id >= 10000 && id < 12000 && !adm && m >= 0 }
    assert(p1CorpusRejects.nonEmpty, "no corpus-match rejections in batch 1")
    val batchMateRejects = got.filter { case (id, (adm, m, _)) =>
      id >= 12000 && id < 20000 && !adm && m < 0 }
    assert(batchMateRejects.nonEmpty, "no batch-local keep-first rejections")
    val crossBatchRejects = got.filter { case (id, (adm, m, _)) =>
      id >= 20000 && !adm && m >= 0 }
    assert(crossBatchRejects.nonEmpty, "no cross-batch index-match rejections")
    assert(got.count { case (_, (adm, _, _)) => adm } > 0)

    // final index ≡ full rebuild over everything
    val all = p0.unionByName(p1).unionByName(p2)
    val ids = all.select(col("doc_id"))
    val gotAssign = DedupIndex.assign(ids,
        DedupIndex.load(spark, StreamingIngestDedup.versionDir(root, 2)).labels)
      .orderBy(col("doc_id")).collect().toSeq
    val rebuiltAssign = DedupIndex.assign(ids,
        DedupIndex.buildFrames(spark, all).labels)
      .orderBy(col("doc_id")).collect().toSeq
    assert(gotAssign === rebuiltAssign)

    // REPLAY batch 1 (p2, batchId = 1) as foreachBatch would after a
    // crash: sink and index must land on the identical end state
    CurationPipeline.processBatch(root, out, DedupIndex.defaultJaccard)(p2, 1L)
    // the dynamic overwrite replaced batch 1's files in place — drop the
    // session's cached file listing before re-reading
    spark.catalog.refreshByPath(out)
    val replayed = spark.read.parquet(out)
      .select(col("doc_id"), col("admitted"), col("match_id"), col("match_jac"))
    assert(replayed.count() === sunkCount, "replay duplicated sink rows")
    assert(decisionMap(replayed) === expected)
    val replayAssign = DedupIndex.assign(ids,
        DedupIndex.load(spark, StreamingIngestDedup.versionDir(root, 2)).labels)
      .orderBy(col("doc_id")).collect().toSeq
    assert(replayAssign === rebuiltAssign)
  }

  test("checkpointed restart resumes with the same batch ids — no duplicate decisions, index chain continues") {
    import spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"entirely unique curation document number $i " +
        s"with content token$i filler$i payload$i"))
      .toDF("doc_id", "text")
    val p0 = mk(1L to 20L)
    val p1 = mk(21L to 30L)
    val p2 = mk(31L to 40L)

    val root = Files.createTempDirectory("graft-cp-ck-root").toString
    val out = Files.createTempDirectory("graft-cp-ck-out").toString + "/decisions"
    val ckpt = Files.createTempDirectory("graft-cp-ckpt").toString
    DedupIndex.write(DedupIndex.buildFrames(spark, p0),
      StreamingIngestDedup.versionDir(root, 0))

    val streamDir = Files.createTempDirectory("graft-cp-ck-stream").toString
    def mkStream = spark.readStream
      .schema(p1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)

    // run 1 drains batch file 1 (batchId 0 → index v1), then terminates
    // with its offset committed to the checkpoint
    oneFileInto(p1, streamDir, "batch-0001.parquet")
    CurationPipeline.start(root, out, mkStream,
      checkpointLocation = Some(ckpt), queryName = Some("cp-restart"))
      .awaitTermination(180000)
    assert(spark.read.parquet(out).count() === p1.count())

    // restart from the same checkpoint with one new file: it runs as
    // batchId 1 (reads index v1, writes v2); batch 0 is not re-decided
    oneFileInto(p2, streamDir, "batch-0002.parquet")
    CurationPipeline.start(root, out, mkStream, checkpointLocation = Some(ckpt))
      .awaitTermination(180000)
    spark.catalog.refreshByPath(out)
    val sunk = spark.read.parquet(out)
    assert(sunk.count() === p1.count() + p2.count(),
      "restart duplicated or dropped decision rows")
    assert(sunk.select("doc_id").distinct().count() === sunk.count())
    // all-unique docs: everything admitted; the index chain reached v2
    assert(sunk.filter(!col("admitted")).count() === 0)
    val v2 = DedupIndex.load(spark, StreamingIngestDedup.versionDir(root, 2))
    assert(DedupIndex.assign(
      p0.unionByName(p1).unionByName(p2).select(col("doc_id")), v2.labels)
      .count() === 40L)
  }

  test("one processBatch launches at most 21 Spark jobs") {
    // at this scale a micro-batch costs what its job count costs, so the
    // count is the guard (wall-clock assertions flake under CI load)
    val docs = Tables(spark, sf("sf0.001"), "documents").select(col("doc_id"), col("text"))
    val p0 = docs.filter(col("doc_id") % 3 === 0)
    val p1Base = docs.filter(col("doc_id") % 3 === 1)
    val rows = p1Base
      .unionByName(p0.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
      .unionByName(p1Base.filter(col("doc_id") % 30 === 1)
        .select((col("doc_id") + 12000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
      .collect()
    // driver-built, so it has no input files, like a foreachBatch frame
    val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), docs.schema)
    val root = Files.createTempDirectory("graft-cp-jobs-root").toString
    val out = Files.createTempDirectory("graft-cp-jobs-out").toString + "/decisions"
    DedupIndex.write(DedupIndex.buildFrames(spark, p0),
      StreamingIngestDedup.versionDir(root, 0))

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("cp-jobs") => jobs.incrementAndGet(); ()
          case Some("cp-jobs-drained") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup("cp-jobs", "processBatch under count")
      CurationPipeline.processBatch(root, out, DedupIndex.defaultJaccard)(batch, 0L)
      // the listener bus delivers in order: once it has heard this
      // marker job, it has heard every job of the batch
      sc.setJobGroup("cp-jobs-drained", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
    assert(spark.read.parquet(out).count() === rows.length)
    assert(jobs.get() <= 21,
      s"one micro-batch launched ${jobs.get()} Spark jobs; the per-batch job count regressed")
  }
}
