package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.DedupIndex

/** The streaming curation capstone — the production ingest story in one
  * foreachBatch pipeline, composing the three individually-proven
  * pieces: per micro-batch of new documents,
  *
  *  1. ADMIT/REJECT against the persisted near-dup index
  *     ([[decisions]]: a doc is rejected iff it has a verified corpus
  *     match in the index, or a verified near-dup batch-mate with a
  *     smaller doc_id — the keep-first rule, decided on DIRECT verified
  *     pairs, not transitive components, so the decision for a doc
  *     depends only on already-seen documents and is exactly
  *     reproducible by a one-shot batch replay);
  *  2. EXTEND the index with the whole batch — admitted AND rejected
  *     docs both enter the index (a rejected dup must still block
  *     future copies of itself), via [[DedupIndex.update]]'s
  *     broadcast probe and driver-side label repair, written as the
  *     next index VERSION ([[StreamingIngestDedup]]'s discipline);
  *  3. SINK the per-doc decisions exactly-once via
  *     [[IdempotentSink.replaceBatch]].
  *
  * Exactly-once under at-least-once replay: a replayed batch re-reads
  * its input index version v{b} (never mutated), re-derives the SAME
  * decisions, dynamically overwrites only its own sink partition, and
  * idempotently rewrites index version v{b+1}. A crash at any point
  * between the three writes re-runs the batch to the identical end
  * state — CurationPipelineSpec proves batch-chain ≡ one-shot rebuild
  * for BOTH artifacts, with a mid-chain replay included.
  *
  * Scale shape per micro-batch: one signature/band pass over the batch,
  * a map-side probe of the corpus band table, a batch-local self-join,
  * and a union-find on the driver over the batch docs and the corpus
  * labels they touch. The corpus is never re-paired, but it is read:
  * the label repair joins the corpus labels, and writing version v{b+1}
  * copies all of v{b}'s bands, token sets and labels, so that copy
  * grows with the corpus on every micro-batch. The admit stream grows
  * append-only.
  */
object CurationPipeline {

  /** Admit/reject decisions for one batch against the CURRENT index:
    * (doc_id, admitted, match_id, match_jac). `match_id`/`match_jac` =
    * the best verified corpus match (null for docs new to the corpus);
    * `admitted` = no corpus match AND no verified batch-mate with a
    * smaller doc_id. Lazy, batch-sized. */
  def decisions(spark: SparkSession, ix: DedupIndex.Index, batch: DataFrame,
      threshold: Double = DedupIndex.defaultJaccard): DataFrame = {
    // verified batch-local pairs come out as (doc_a < doc_b): the larger
    // id of every pair is the duplicate under keep-first
    val bBands = DedupIndex.bandTable(DedupIndex.signatures(batch))
    val bDups = DedupIndex.verifyPairs(
        DedupIndex.candidatePairs(bBands), DedupIndex.hashedTokset(batch))
      .filter(col("jac") >= threshold)
      .select(col("doc_b").as("doc_id"))
      .distinct()
    decide(batch, DedupIndex.corpusMatches(spark, ix, batch, threshold), bDups)
  }

  /** The keep-first decision frame from a batch's best corpus matches
    * (bid, match_id, match_jac) and its batch-local duplicates (doc_id). */
  private def decide(batch: DataFrame, matches: DataFrame, dups: DataFrame): DataFrame =
    batch.select(col("doc_id"))
      .join(matches.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left")
      .join(dups.withColumn("dup_in_batch", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("match_id").isNull && col("dup_in_batch").isNull).as("admitted"),
        col("match_id"), col("match_jac"))

  /** One micro-batch, start to finish: decisions → sink → extended
    * index version. Factored out of the stream so a spec (or a manual
    * recovery) can replay a batch id directly.
    *
    * The decision frame derives from [[DedupIndex.update]]'s OWN
    * results (its corpus matches and the batch duplicates its label
    * repair already read) rather than calling [[decisions]] — which
    * would probe the corpus band table and re-verify every pair a
    * second time per micro-batch. [[decisions]] remains the standalone
    * (and spec-oracle) form; both produce identical rows because
    * `Update.corpusMatches` is exactly `corpusMatches(ix, batch)` and
    * `Update.batchDups` is exactly the larger ids of the verified batch
    * pairs. */
  def processBatch(root: String, outPath: String, threshold: Double)
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val ix = DedupIndex.load(spark, StreamingIngestDedup.versionDir(root, batchId))
    val upd = DedupIndex.update(spark, ix, batch, threshold)
    IdempotentSink.replaceBatch(decide(batch, upd.corpusMatches, upd.batchDups),
      batchId, outPath)
    DedupIndex.write(DedupIndex.extended(upd, ix),
      StreamingIngestDedup.versionDir(root, batchId + 1))
  }

  /** Start the pipeline: `stream` must carry (doc_id, text). The caller
    * seeds index version v0 under `root` (see [[StreamingIngestDedup]]);
    * per-doc decisions land under `outPath` partitioned by batch id.
    *
    * Exactly-once across JVM CRASHES requires `checkpointLocation`: the
    * checkpoint persists source offsets, so a restarted query resumes
    * at the first uncommitted batch with the SAME batch ids, and
    * [[processBatch]]'s idempotent writes (sink partition overwrite,
    * index version rewrite) land on the same targets — the class-doc
    * replay argument then covers crash recovery end to end. Without it
    * (None — ad-hoc/test runs) offsets are in-memory only: replay-
    * idempotence holds within one run, but a crashed query restarts
    * from scratch with fresh batch ids; that contract is the CALLER's. */
  def start(root: String, outPath: String, stream: DataFrame,
      threshold: Double = DedupIndex.defaultJaccard,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpointLocation: Option[String] = None,
      queryName: Option[String] = None): StreamingQuery = {
    val w0 = stream.writeStream
      .foreachBatch(processBatch(root, outPath, threshold) _)
      .trigger(trigger)
    val w1 = checkpointLocation.fold(w0)(w0.option("checkpointLocation", _))
    queryName.fold(w1)(w1.queryName).start()
  }
}
