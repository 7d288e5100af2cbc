package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, GlobalRowNumber, ShardedExport}

/** Training-data curation capstone — the batch analogue of [[EtlRun]]:
  * ONE program chaining the engine's curation operators over a raw
  * document corpus into the physical training export, with a persisted
  * per-stage manifest so the run is auditable after the fact.
  *
  *   ingest → quality gate → exact dedup → near-dup dedup (persisted
  *   LSH index) → per-language rebalance → deterministic shuffle →
  *   sorted sharded parquet + manifest
  *
  * Every stage is the library operator the query surface already proves
  * (q_curation_pipeline / q_dedup_* / q_lang_rebalance /
  * q_corpus_shuffle oracles; DedupIndex / GlobalRowNumber /
  * ShardedExport specs) — this runner owns only the composition, the
  * artifact layout, and the stage accounting.
  *
  * Scale shape, stage by stage: the gates are map-only; exact dedup
  * keys on a content hash (skew-immune by construction); the near-dup
  * index is the banded LSH build (never all-pairs) persisted under
  * `outDir/dedup_index` exactly as a 100 TB corpus would maintain it;
  * the rebalance rank and the shuffle rank both go through
  * [[GlobalRowNumber]]'s bucketed decomposition (no whole-language
  * window, no single-task global sort); the export lays out
  * already-ranked rows with one hash repartition. Per-stage counts are
  * the only driver-side values.
  *
  * Overwrite-idempotent: every artifact (index, shards, manifest) is
  * written mode=overwrite, and every stage is deterministic (content
  * hashes, portable multiplicative-hash shuffle), so re-running over
  * the same input reproduces byte-identical decisions.
  */
object CurateRun {

  final case class Params(
      nShards: Int = 8,
      minChars: Int = 150,
      maxChars: Int = 10000,
      minTokens: Int = 20,
      langs: Seq[String] = Seq("en", "de", "fr", "es"),
      jaccard: Double = DedupIndex.defaultJaccard)

  final case class Result(
      shardsPath: String, manifestPath: String, indexDir: String,
      counts: Seq[(String, Long)])

  /** The full chain. `sfDir` holds the raw `documents` table (TESTDATA
    * layout); artifacts land under `outDir`. Returns the stage counts it
    * also persists as the manifest. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      params: Params = Params(),
      log: String => Unit = m => System.err.println(s"[curate] $m")): Result = {
    import params._

    log(s"Curating $sfDir -> $outDir ...")
    val counts = scala.collection.mutable.ListBuffer[(String, Long)]()
    val cached = scala.collection.mutable.ListBuffer[DataFrame]()
    // Each stage is PERSISTED before its audit count: every stage frame
    // has 2-3 consumers (its count, the next stage, and for `exact` the
    // index build too), and an uncached lineage would re-run the whole
    // upstream chain per consumer — O(stages²) corpus passes. Spill-safe
    // memory-and-disk, released in the finally below. (At true corpus
    // scale you would checkpoint stages to storage instead; the shape —
    // one materialization per stage — is the same.)
    def stage(name: String, df: DataFrame, persist: Boolean = true): DataFrame = {
      val out = if (persist) {
        val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached += c
        c
      } else df
      val n = out.count()
      counts += name -> n
      log(f"$name%-12s $n%d docs")
      out
    }
    try {

    // ---- ingest + quality gate (the q_curation_pipeline rules) --------
    // (raw not persisted: it IS the parquet scan)
    val raw = stage("ingested", Tables(spark, sfDir, "documents"),
      persist = false)
    val quality = stage("quality", raw
      .filter(col("n_chars") >= minChars && col("n_chars") <= maxChars &&
        size(split(col("text"), " ")) >= minTokens)
      .filter(col("lang").isin(langs: _*)))

    // ---- exact dedup: content-hash keep-first (skew-immune keys) ------
    val exact = stage("exact_dedup", quality
      .withColumn("fp", md5(col("text")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("fp", "__rn"))

    // ---- near-dup dedup off the PERSISTED banded-LSH index ------------
    // Build + persist under outDir (the corpus-asset shape: consumers —
    // this run included — scan the parquet read-back); keep one doc per
    // near-dup component (the canonical min-id member; singletons keep
    // themselves because they never enter the label table).
    val indexDir = s"$outDir/dedup_index"
    val ix = DedupIndex.buildPersisted(spark,
      exact.select(col("doc_id"), col("text")), indexDir, jaccard)
    val nonCanonical = ix.labels
      .filter(col("component") =!= col("doc_id")).select(col("doc_id"))
    val deduped = stage("near_dedup",
      exact.join(nonCanonical, Seq("doc_id"), "left_anti"))

    // ---- per-language rebalance to the smallest language ---------------
    // Equal-size mixture via the decomposed per-key rank: hash-order each
    // language, keep the first m of every language where m = min lang
    // count. No whole-language window (GlobalRowNumber.withKeyedRowNumber).
    val m = deduped.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .agg(min(col("cnt")).as("m"))
    val withH = deduped
      .withColumn("h", expr(QueryKit.idHash()))
    val balanced = stage("rebalanced", GlobalRowNumber
      .withKeyedRowNumber(withH, Seq("lang"), "h", "__rn", Seq("doc_id"))
      .crossJoin(broadcast(m))
      .filter(col("__rn") <= col("m"))
      .drop("__rn", "m"))

    // ---- deterministic shuffle → balanced shards → sorted export ------
    // The q_corpus_shuffle permutation (portable multiplicative hash is a
    // bijection mod the prime), ranked without a single-task sort, laid
    // out as shard=K/part-*.parquet with in-file order = shuffle order.
    val shardsPath = s"$outDir/shards"
    // `balanced` still carries the rebalance stage's `h` — the SAME
    // idHash(doc_id) this rank needs — so rank on it directly rather
    // than recomputing the hash into a second column
    val ranked = GlobalRowNumber.withRowNumber(
      balanced, "h", "__rn", Seq("doc_id"))
      .withColumn("shard", ((col("__rn") - 1) % nShards).cast("int"))
      .withColumn("pos", expr(s"(__rn - 1) div $nShards"))
      .drop("__rn", "h")
    ShardedExport.write(ranked, shardsPath, nShards)
    stage("exported", spark.read.parquet(shardsPath), persist = false)

    // ---- manifest -------------------------------------------------------
    val manifestPath = s"$outDir/manifest"
    val manifest = spark.createDataFrame(
      counts.toSeq.zipWithIndex.map { case ((s0, n), i) => (i, s0, n) })
      .toDF("stage_idx", "stage", "docs")
    manifest.coalesce(1).write.mode("overwrite").parquet(manifestPath)
    log("...curation complete")
    Result(shardsPath, manifestPath, indexDir, counts.toSeq)

    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** CLI: CurateRun <sfDir> <outDir> [nShards] */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: CurateRun <sfDir> <outDir> [nShards]")
      sys.exit(2)
    }
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val params =
      if (args.length >= 3) Params(nShards = args(2).toInt) else Params()
    try run(spark, args(0), args(1), params)
    catch {
      case e: Throwable =>
        System.err.println(s"[curate] Error: ${e.getMessage}. Cancelling.")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
