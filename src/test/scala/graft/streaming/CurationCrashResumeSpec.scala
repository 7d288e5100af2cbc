package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.sys.process._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.DedupIndex

/** Streaming CRASH-RESUME gate (VERDICT r12 item 4). The in-process
  * CurationPipelineSpec proves replay-idempotence by calling
  * processBatch twice; what it cannot prove is the recovery SEMANTICS a
  * production crash exercises: a SIGKILLed query restarted in a fresh
  * JVM from the same checkpoint dir must resume at the first
  * uncommitted batch with the SAME batch ids, lose nothing,
  * double-apply nothing, and land the persisted LSH index on the exact
  * state an uninterrupted run produces.
  *
  * Shape: three forked JVMs over the SAME batch files —
  *  1. run A1, SIGKILLed the moment index version v2's directory
  *     appears (inside batch 1's index write, BEFORE its checkpoint
  *     commit — so v2 is torn on disk and batch 1 must be replayed);
  *  2. run A2, same root/out/checkpoint: resumes from the WAL, replays
  *     batch 1 over its own partial output, finishes the drain;
  *  3. run B, untouched reference against a fresh root/out/checkpoint.
  * Final decisions (including batch-id assignment) and every index
  * frame must be row-identical between A and B.
  */
class CurationCrashResumeSpec extends SparkSpec {

  private def oneFileInto(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String, mtimeMs: Long): Unit = {
    val tmp = Files.createTempDirectory("graft-ccr-part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val dst = Paths.get(dir, name)
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    // distinct ascending mtimes pin the file-source batch order, so the
    // crashed/resumed run and the reference run see identical batches
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
    ()
  }

  private def fork(streamDir: String, root: String, out: String,
      ckpt: String): (Process, StringBuilder) = {
    val cmd = graft.GraftSession.javaCommand("2g", Nil,
      "graft.streaming.CurationCrashMain", streamDir, root, out, ckpt)
    val buf = new StringBuilder
    val proc = Process(cmd).run(ProcessLogger(
      l => buf.synchronized { buf.append(l).append('\n'); () },
      l => buf.synchronized { buf.append(l).append('\n'); () }))
    (proc, buf)
  }

  private def sortedRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  test("SIGKILL mid-batch + restart from the checkpoint = an uninterrupted run, sink and index") {
    val dir = sf("sf0.001")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val s0 = docs.filter(col("doc_id") % 4 === 0) // seed corpus (index v0)
    val s1 = docs.filter(col("doc_id") % 4 === 1)
    // batch 1 carries near-copies of SEED docs (corpus rejects) and
    // batch 2 carries near-copies of BATCH-1 docs (cross-batch rejects),
    // so the replayed batches make real admit/reject decisions
    val b1 = s1.unionByName(
      s0.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
    val b2 = docs.filter(col("doc_id") % 4 === 2).unionByName(
      s1.filter(col("doc_id") % 40 === 1)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
    val b3 = docs.filter(col("doc_id") % 4 === 3)
    val nDocs = b1.count() + b2.count() + b3.count()

    val streamDir = Files.createTempDirectory("graft-ccr-stream").toString
    val t0 = System.currentTimeMillis() - 60000
    oneFileInto(b1, streamDir, "batch-0001.parquet", t0)
    oneFileInto(b2, streamDir, "batch-0002.parquet", t0 + 10000)
    oneFileInto(b3, streamDir, "batch-0003.parquet", t0 + 20000)

    def seedRoot(): String = {
      val root = Files.createTempDirectory("graft-ccr-root").toString
      DedupIndex.write(DedupIndex.buildFrames(spark, s0),
        StreamingIngestDedup.versionDir(root, 0))
      root
    }
    val rootA = seedRoot()
    val outA = Files.createTempDirectory("graft-ccr-outA").toString + "/decisions"
    val ckptA = Files.createTempDirectory("graft-ccr-ckptA").toString

    // ---- run A1: kill the instant v2's directory appears (batch 1 is
    // mid-index-write, not yet committed)
    val (pA1, oA1) = fork(streamDir, rootA, outA, ckptA)
    val v2 = Paths.get(StreamingIngestDedup.versionDir(rootA, 2))
    val v3 = Paths.get(StreamingIngestDedup.versionDir(rootA, 3))
    val deadline = System.currentTimeMillis() + 240000
    while (!Files.exists(v2) && pA1.isAlive() &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(25)
    assert(Files.exists(v2),
      s"run never reached index version v2:\n${oA1.synchronized(oA1.toString)}")
    val pid = "PID=(\\d+)".r
      .findFirstMatchIn(oA1.synchronized(oA1.toString))
      .map(_.group(1)).getOrElse(fail(s"no PID line:\n$oA1"))
    val drainedBeforeKill = Files.exists(v3)
    Process(Seq("kill", "-9", pid)).!
    val cA1 = pA1.exitValue()
    assert(!drainedBeforeKill,
      "v3 already existed at kill time — the kill landed after the " +
        "drain and the resume would be a no-op (vacuous gate)")
    assert(cA1 !== 0, "SIGKILLed run exited 0?")
    assert(!oA1.synchronized(oA1.toString).contains("DONE"),
      "killed run claims it completed")

    // ---- run A2: same stream/root/out/CHECKPOINT — resumes from the
    // WAL at the first uncommitted batch, replays it over the torn v2 /
    // already-written sink partition, finishes
    val (pA2, oA2) = fork(streamDir, rootA, outA, ckptA)
    assert(pA2.exitValue() === 0,
      s"resumed run failed:\n${oA2.synchronized(oA2.toString)}")
    assert(oA2.synchronized(oA2.toString).contains("DONE"))

    // ---- run B: uninterrupted reference, fresh everything
    val rootB = seedRoot()
    val outB = Files.createTempDirectory("graft-ccr-outB").toString + "/decisions"
    val ckptB = Files.createTempDirectory("graft-ccr-ckptB").toString
    val (pB, oB) = fork(streamDir, rootB, outB, ckptB)
    assert(pB.exitValue() === 0,
      s"reference run failed:\n${oB.synchronized(oB.toString)}")

    // (a) IdempotentSink: no batch lost, none double-applied — one
    // decision row per streamed doc, batch assignment identical to the
    // uninterrupted run's (batch ids survived the restart)
    val sunkA = spark.read.parquet(outA)
    assert(sunkA.count() === nDocs, "decision rows lost or duplicated")
    assert(sunkA.select("doc_id").distinct().count() === nDocs,
      "a replayed batch double-applied some doc's decision")
    assert(sortedRows(outA) === sortedRows(outB),
      "decisions (incl. batch ids) diverged from the uninterrupted run")
    // non-vacuous decisions: both verdicts occur
    assert(sunkA.filter(col("admitted")).count() > 0)
    assert(sunkA.filter(!col("admitted")).count() > 0,
      "no rejections — the near-dup injections did not fire")

    // (b) the persisted LSH index: every frame of the final version is
    // row-identical to the uninterrupted run's
    for (frame <- Seq("bands", "toksets", "labels")) {
      assert(
        sortedRows(s"${StreamingIngestDedup.versionDir(rootA, 3)}/$frame") ===
          sortedRows(s"${StreamingIngestDedup.versionDir(rootB, 3)}/$frame"),
        s"index frame $frame diverged after crash-resume")
    }
    assert(!Files.exists(Paths.get(StreamingIngestDedup.versionDir(rootA, 4))),
      "resumed run overran the input (extra index version)")
  }
}
