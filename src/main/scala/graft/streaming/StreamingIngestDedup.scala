package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.DedupIndex

/** Streaming ingest dedup — the nightly-ingest shape of the persisted
  * near-dup index run CONTINUOUSLY: each micro-batch of new documents
  * extends the index via [[DedupIndex.update]] (batch bands broadcast
  * against corpus bands, driver union-find label repair — never
  * corpus×corpus), and the extended index is written as the next
  * VERSION under `root`.
  *
  * Versioning gives exactly-once semantics under at-least-once replay
  * (the same discipline as [[IdempotentSink]]): micro-batch b always
  * reads `v{b}` and overwrites `v{b+1}`, so a replayed batch re-reads
  * the unchanged input version and idempotently rewrites its output
  * version — a crash between write and commit cannot corrupt state or
  * double-apply a batch. The caller seeds `v0` with the initial corpus
  * index (possibly a fresh [[DedupIndex.buildPersisted]], possibly
  * empty frames).
  *
  * Scale shape per micro-batch: one batch-sized signature/band pass, a
  * map-side broadcast probe of the corpus band table, a batch-local
  * self-join, and a union-find on the driver over the batch docs and
  * the corpus labels they touch. The corpus is never re-paired or
  * shuffled, but each version write reads and rewrites all of v{b}'s
  * bands, token sets and labels: that copy grows with the corpus on
  * every micro-batch.
  * StreamingIngestDedupSpec proves that chaining per-micro-batch
  * updates over a document stream lands on EXACTLY the labels a full
  * rebuild over everything produces.
  */
object StreamingIngestDedup {

  def versionDir(root: String, v: Long): String = s"$root/v$v"

  /** Start the ingest: `stream` must carry (doc_id, text). Each
    * micro-batch b extends version b into version b+1 under `root`. */
  def start(root: String, stream: DataFrame,
      threshold: Double = DedupIndex.defaultJaccard,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ix = DedupIndex.load(spark, versionDir(root, batchId))
        val upd = DedupIndex.update(spark, ix, batch, threshold)
        DedupIndex.write(DedupIndex.extended(upd, ix), versionDir(root, batchId + 1))
      }
      .trigger(trigger)
      .start()
}
