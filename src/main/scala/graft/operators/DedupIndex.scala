package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialize.CutSyntax

import graft.QueryKit.r6
import graft.expressions.GraftExtensions
import graft.functions.TextAnalytics._

/** Persisted, incrementally-updatable near-duplicate index — the
  * production form of the MinHash-LSH dedup family.
  *
  * The ad-hoc queries (q_dedup_components / q_leakage_split /
  * q_dedup_keep_best) each need the same three artifacts: the per-doc
  * LSH BAND table, the per-doc sorted TOKEN-HASH sets, and the
  * connected-component CLUSTER LABELS. At 100 TB those are not
  * per-query throwaways — they are a maintained corpus asset: built
  * once, persisted as parquet, read back by every consumer, and
  * EXTENDED per ingest batch without ever rescanning (or re-pairing)
  * the corpus. This object is that asset:
  *
  *  - [[buildFrames]]/[[write]]/[[load]] — full build → three parquet
  *    tables (`bands/`, `toksets/`, `labels/`);
  *  - [[ensure]] — build-once-per-JVM cache keyed by caller key, so a
  *    suite of consumers pays the signatures→pairs→components chain
  *    once (the read-back parquet is what consumers actually scan,
  *    proving the persisted form is sufficient);
  *  - [[update]] — incremental ingest: the new batch's bands BROADCAST
  *    against the indexed corpus bands (batch ≪ corpus — the candidate
  *    join is map-side and the corpus band table never shuffles),
  *    batch-batch candidates come from a batch-local band self-join,
  *    and cluster labels are repaired with a MINI connected components
  *    over {batch ids} ∪ {touched corpus cluster labels} — never the
  *    corpus graph. A batch doc that bridges two corpus clusters merges
  *    them through the label-remap (broadcast-sized) — exactly what a
  *    full rebuild would produce. DedupIndexSpec proves
  *    update ≡ rebuild on a crafted bridge case and on real data, and
  *    q_dedup_index_update's DuckDB oracle re-proves it cross-engine
  *    at every SF (the oracle IS the full rebuild).
  *
  * Label semantics: `component` = min doc_id of the cluster (the
  * [[ConnectedComponents]] contract). Minimality is what makes the
  * incremental merge exact: a corpus cluster label is already the min
  * of its members, so the mini-CC min over {batch ids, cluster labels}
  * equals the full-rebuild min over all member docs.
  *
  * Id-space contract: batch doc_ids must be disjoint from corpus
  * doc_ids (ingest batches always are; the label-remap keys on corpus
  * cluster ids, so a colliding batch id would alias a corpus cluster).
  *
  * Reference scope: the reference keeps no such index (it re-reads
  * whole CSVs per run — e.g. cleaners.py re-deriving every frame); the
  * operator exists for the 100 TB training-data pipeline this engine
  * targets.
  */
object DedupIndex {

  val nMinhash = 8
  val nBands = 4 // 2 minhash rows per band
  val defaultJaccard = 0.3

  /** The three persisted frames. `bands`: (doc_id, band, bkey);
    * `toksets`: (doc_id, tset sorted-distinct token hashes);
    * `labels`: (doc_id, component) for docs with ≥1 verified pair. */
  final case class Index(bands: DataFrame, toksets: DataFrame, labels: DataFrame)

  // ---- kernel (single source of truth for the LSH dedup family) ------

  /** Signature table: doc_id, text, mh0..mh7. The repartition between
    * the shingle array and the 8 minhash projections is a deliberate
    * pipeline barrier: without it CollapseProject inlines the shingle
    * expression into every minhash (8× recompute per row). At scale
    * doc_id is the natural partition key anyway. The [[Spread]] ahead
    * of the tokenize+shingle front parallelizes the kernel work when
    * the input's parquet layout cannot (round-15 F1 fix; identity at
    * production row-group counts). */
  def signatures(docs: DataFrame): DataFrame = {
    val mh = (0 until nMinhash).map(i => expr(minhashSpark("sh", i)).as(s"mh$i"))
    Spread.byKey(docs, col("doc_id"))
      .withColumn("th", expr(tokenHashesSpark("text")))
      .withColumn("sh", expr(shingleHashesSpark("th")))
      .select(col("doc_id"), col("text"), col("sh"))
      .repartition(col("doc_id"))
      .select(col("doc_id") +: col("text") +: mh: _*)
  }

  /** Banded signature: (doc_id, band, bkey) — nBands rows per doc. */
  def bandTable(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        (col(s"mh${2 * b}") * lit(PM) + col(s"mh${2 * b + 1}")).as("bkey"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** Sorted distinct token-hash set per doc (exact-Jaccard input).
    * Spread for the same reason as [[signatures]]. */
  def hashedTokset(docs: DataFrame): DataFrame =
    Spread.byKey(docs, col("doc_id")).select(col("doc_id"),
      expr(s"array_sort(array_distinct(${tokenHashesSpark("text")}))").as("tset"))

  /** Band self-join → distinct candidate (doc_a < doc_b) pairs. */
  def candidatePairs(bands: DataFrame): DataFrame =
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Exact-Jaccard verification via the sorted-merge kernel; requires
    * GraftExtensions.register to have run on the owning session. */
  def verifyPairs(pairs: DataFrame, toksets: DataFrame): DataFrame =
    pairs
      .join(toksets.select(col("doc_id").as("doc_a"), col("tset").as("ta")), "doc_a")
      .join(toksets.select(col("doc_id").as("doc_b"), col("tset").as("tb")), "doc_b")
      .withColumn("jac", r6(expr("graft_jaccard_sorted(ta, tb)")))

  // ---- full build -----------------------------------------------------

  /** Full build over (doc_id, text): bands + toksets + labels. */
  def buildFrames(spark: SparkSession, docs: DataFrame,
      threshold: Double = defaultJaccard): Index = {
    GraftExtensions.register(spark)
    val bands = bandTable(signatures(docs))
    val toksets = hashedTokset(docs)
    val pairs = verifyPairs(candidatePairs(bands), toksets)
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val (labels, _) = ConnectedComponents.run(pairs, "doc_a", "doc_b")
    Index(bands, toksets,
      labels.select(col("id").as("doc_id"), col("component")))
  }

  def write(ix: Index, dir: String): Unit = {
    ix.bands.write.mode("overwrite").parquet(s"$dir/bands")
    ix.toksets.write.mode("overwrite").parquet(s"$dir/toksets")
    ix.labels.write.mode("overwrite").parquet(s"$dir/labels")
  }

  def load(spark: SparkSession, dir: String): Index = Index(
    spark.read.parquet(s"$dir/bands"),
    spark.read.parquet(s"$dir/toksets"),
    spark.read.parquet(s"$dir/labels"))

  /** Build + persist + read back (consumers scan the parquet form). */
  def buildPersisted(spark: SparkSession, docs: DataFrame, dir: String,
      threshold: Double = defaultJaccard): Index = {
    write(buildFrames(spark, docs, threshold), dir)
    load(spark, dir)
  }

  // ---- build-once cache -------------------------------------------------

  /** Build-once: the first caller for `key` — across all processes
    * sharing the warehouse root — builds + persists; everyone
    * (including the builder) consumes the parquet read-back. Paths
    * (not DataFrames) are cached so a later caller's own session does
    * the read — DataFrames must not outlive the session that created
    * them. Freshness is carried by the asset identity itself
    * ([[FrameCache]]'s source stamp + build token): regenerated
    * testdata or rebuilt library code yields a new asset id, so a
    * stale index can never be served. Dir allocation and the
    * SPARK_GRAFT_INDEX_DIR root live in the ONE shared implementation,
    * [[FrameCache.ensureDir]]. */
  def ensure(spark: SparkSession, key: String, docs: => DataFrame,
      threshold: Double = defaultJaccard): Index = {
    val dir = FrameCache.ensureDir(key) { d =>
      write(buildFrames(spark, docs, threshold), d)
    }
    load(spark, dir)
  }

  /** Cluster assignment for a doc universe: every doc gets
    * cluster_id = its component label, or itself if singleton. */
  def assign(docIds: DataFrame, labels: DataFrame): DataFrame =
    docIds.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))

  // ---- incremental update ---------------------------------------------

  /** Verified batch→corpus near-dup pairs (bid, cid, jac ≥ threshold):
    * batch bands + token sets BROADCAST (batch ≪ corpus); the corpus
    * participates only through its persisted bands/toksets — never
    * shuffled, text never read. Lazy. */
  private def batchCorpusVerified(ix: Index, bBands: DataFrame,
      bTok: DataFrame, threshold: Double): DataFrame = {
    val bc = ix.bands
      .join(broadcast(bBands.withColumnRenamed("doc_id", "bid")), Seq("band", "bkey"))
      .select(col("bid"), col("doc_id").as("cid"))
      .distinct()
    bc
      .join(broadcast(bTok.select(col("doc_id").as("bid"), col("tset").as("ta"))), "bid")
      .join(ix.toksets.select(col("doc_id").as("cid"), col("tset").as("tb")), "cid")
      .withColumn("jac", r6(expr("graft_jaccard_sorted(ta, tb)")))
      .filter(col("jac") >= threshold)
  }

  /** Best verified corpus match per batch doc (bid, match_id,
    * match_jac) — ties by highest jac then lowest corpus id. */
  private def bestMatch(bcVerified: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bid")).orderBy(col("jac").desc, col("cid"))
    bcVerified
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("bid"), col("cid").as("match_id"), col("jac").as("match_jac"))
  }

  /** Admit/reject frame only — per batch doc its best verified corpus
    * match, one lazy pass over the persisted index with no label
    * repair: the nightly-ingest fast path. */
  def corpusMatches(spark: SparkSession, ix: Index, batch: DataFrame,
      threshold: Double = defaultJaccard): DataFrame = {
    GraftExtensions.register(spark)
    bestMatch(batchCorpusVerified(
      ix, bandTable(signatures(batch)), hashedTokset(batch), threshold))
  }

  /** `assignment`: (doc_id, cluster_id) over corpus ∪ batch after the
    * update — identical to a full rebuild. `corpusMatches`: per batch
    * doc its best verified CORPUS match (bid, match_id, match_jac) —
    * the admit/reject frame an ingest pipeline acts on. */
  final case class Update(assignment: DataFrame, corpusMatches: DataFrame,
      batchBands: DataFrame, batchToksets: DataFrame)

  /** The index AFTER an update: corpus artifacts plus the batch's, with
    * labels rebuilt from the update's final assignment. Labels keep the
    * full-build row contract — every member of a ≥2-doc cluster, nobody
    * else — so an extended index is indistinguishable from a fresh build
    * to every consumer (assign, the cluster queries, the next update). */
  def extended(upd: Update, ix: Index): Index = {
    val clustered = upd.assignment
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("cluster_id"))
    // plain (AQE-sized) semi-shaped join: the multi-member cluster-id set
    // is corpus-scale at 100 TB, so no broadcast hint here
    val labels = upd.assignment
      .join(clustered, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id").as("component"))
    Index(ix.bands.unionByName(upd.batchBands),
      ix.toksets.unionByName(upd.batchToksets), labels)
  }

  /** Extend the index with a new batch (doc_id, text) without pairing
    * corpus×corpus or rescanning corpus text — the corpus participates
    * only through its persisted bands/toksets/labels. */
  def update(spark: SparkSession, ix: Index, batch: DataFrame,
      threshold: Double = defaultJaccard): Update = {
    GraftExtensions.register(spark)
    val bBands = bandTable(signatures(batch))
    val bTok = hashedTokset(batch)

    // checkpointed: each feeds the eager mini-CC AND a later consumer
    val bcVerified = batchCorpusVerified(ix, bBands, bTok, threshold)
      .cut(true)
    // batch-batch candidates: batch-local band self-join
    val bbVerified = verifyPairs(candidatePairs(bBands), bTok)
      .filter(col("jac") >= threshold)
      .cut(true)

    // mini component repair over {batch ids} ∪ {touched corpus cluster
    // labels} — a corpus member is represented by its (minimal) label,
    // so the mini-CC min equals the full-rebuild min over member docs
    val bcEdges = bcVerified.select(col("bid"), col("cid"))
      .join(ix.labels.select(col("doc_id").as("cid"), col("component")),
        Seq("cid"), "left")
      .select(col("bid").as("s"),
        coalesce(col("component"), col("cid")).as("d"))
    val bbEdges = bbVerified.select(col("doc_a").as("s"), col("doc_b").as("d"))
    val (mini, _) = ConnectedComponents.run(bcEdges.unionByName(bbEdges), "s", "d")
    val remap = broadcast(
      mini.select(col("id").as("old_lbl"), col("component").as("lbl_new")))

    // corpus assignment: old cluster ids remapped where the mini graph
    // touched them (merges included); batch assignment from the mini-CC
    val corpusAssign = assign(ix.toksets.select(col("doc_id")), ix.labels)
      .join(remap, col("cluster_id") === col("old_lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl_new"), col("cluster_id")).as("cluster_id"))
    val batchAssign = batch.select(col("doc_id"))
      .join(remap, col("doc_id") === col("old_lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl_new"), col("doc_id")).as("cluster_id"))

    Update(corpusAssign.unionByName(batchAssign), bestMatch(bcVerified),
      bBands, bTok)
  }
}
