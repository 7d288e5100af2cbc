package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract of the persisted near-dup index: the parquet round-trip is
  * lossless, the build-once cache serves every consumer, and — the
  * load-bearing invariant — [[DedupIndex.update]] over (persisted
  * corpus index + batch) produces EXACTLY the clustering a full rebuild
  * over corpus ∪ batch produces, including the hard case where one
  * batch doc BRIDGES two previously-separate corpus clusters (the
  * label-remap must merge them to the global min label). */
class DedupIndexSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def assignOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def fullRebuildAssign(u: DataFrame, threshold: Double): Set[(Long, Long)] = {
    val ix = DedupIndex.buildFrames(spark, u, threshold)
    assignOf(DedupIndex.assign(u.select(col("doc_id")), ix.labels))
  }

  /** Label rows, sorted, duplicates kept. `assign` cannot check the
    * labels row contract: a (d, d) row assigns d to itself whether it is
    * there or not. */
  private def labelRows(labels: DataFrame): Seq[(Long, Long)] =
    labels.select(col("doc_id"), col("component")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The extended index's labels row for row against a full build over
    * corpus ∪ batch. */
  private def assertLabelsAreRebuild(upd: DedupIndex.Update, ix: DedupIndex.Index,
      u: DataFrame, threshold: Double): Unit =
    assert(labelRows(DedupIndex.extended(upd, ix).labels) ===
      labelRows(DedupIndex.buildFrames(spark, u, threshold).labels))

  // 50 shared tokens; A and B differ by one trailing token (jaccard
  // 50/52 ≈ 0.9615 — BELOW the 0.97 threshold, so A‖B stay separate
  // clusters), while M carries both tails (jaccard to each 51/52 ≈
  // 0.9808 — above threshold: M bridges A and B). Near-identical texts
  // guarantee shared LSH bands, so candidates exist deterministically;
  // the threshold does the separating.
  private val base = (0 until 50).map(i => s"w$i").mkString(" ")
  private val tA = s"$base alpha"
  private val tB = s"$base beta"
  private val tM = s"$base alpha beta"
  private val bridgeThreshold = 0.97

  test("persisted parquet round-trip is lossless") {
    val corpus = docs(1L -> tA, 2L -> tA, 10L -> tB, 11L -> tB)
    val dir = java.nio.file.Files.createTempDirectory("dedup-ix-rt").toString
    val built = DedupIndex.buildFrames(spark, corpus, bridgeThreshold)
    DedupIndex.write(built, dir)
    val loaded = DedupIndex.load(spark, dir)
    assert(assignOf(DedupIndex.assign(corpus.select(col("doc_id")), loaded.labels)) ===
      assignOf(DedupIndex.assign(corpus.select(col("doc_id")), built.labels)))
    assert(loaded.bands.count() === built.bands.count())
    assert(loaded.toksets.count() === corpus.count())
  }

  test("crafted bridge: batch doc merges two corpus clusters to the global min label") {
    val corpus = docs(1L -> tA, 2L -> tA, 10L -> tB, 11L -> tB)
    // corpus build: exactly two clusters {1,2} and {10,11}
    val ix = DedupIndex.buildFrames(spark, corpus, bridgeThreshold)
    val corpusAssign = assignOf(DedupIndex.assign(corpus.select(col("doc_id")), ix.labels))
    assert(corpusAssign === Set(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      s"corpus clustering wrong: $corpusAssign")

    // batch doc 100 is near-dup of BOTH clusters → everything merges to 1
    val batch = docs(100L -> tM)
    val upd = DedupIndex.update(spark, ix, batch, bridgeThreshold)
    val updated = assignOf(upd.assignment)
    assert(updated === Set(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 100L -> 1L),
      s"bridge merge wrong: $updated")

    // and that is exactly the full rebuild over corpus ∪ batch
    assert(updated === fullRebuildAssign(corpus.unionByName(batch), bridgeThreshold))
    assertLabelsAreRebuild(upd, ix, corpus.unionByName(batch), bridgeThreshold)
  }

  test("batch doc near-dup of a corpus SINGLETON: both join the labels, smaller id wins") {
    // 10 has no corpus near-dup, so it is absent from ix.labels; batch
    // doc 5 copies it and becomes the new cluster's label
    val corpus = docs(1L -> tA, 2L -> tA, 10L -> tB)
    val ix = DedupIndex.buildFrames(spark, corpus, bridgeThreshold)
    assert(labelRows(ix.labels) === Seq(1L -> 1L, 2L -> 1L))
    val batch = docs(5L -> tB)
    val upd = DedupIndex.update(spark, ix, batch, bridgeThreshold)
    assert(labelRows(upd.labels) === Seq(1L -> 1L, 2L -> 1L, 5L -> 5L, 10L -> 5L))
    assert(assignOf(upd.assignment) ===
      fullRebuildAssign(corpus.unionByName(batch), bridgeThreshold))
    assertLabelsAreRebuild(upd, ix, corpus.unionByName(batch), bridgeThreshold)
  }

  test("64-doc batch chain, fed shuffled, bridges into a corpus cluster with a larger label") {
    // chain doc i = 100 shared tokens + c_i c_{i+1}: neighbours score
    // 101/103 ≈ 0.981 (above 0.97), next-but-one 100/104 ≈ 0.962 (below),
    // so only the path connects them. Corpus docs 900/901 carry c64 c65:
    // they neighbour chain doc 63 alone. Every doc must end at the
    // chain's min id 100 — the union-find's min-root invariant over a
    // long path, whatever order its edges arrive in.
    val chainBase = (0 until 100).map(i => s"v$i").mkString(" ")
    def link(i: Int) = s"$chainBase c$i c${i + 1}"
    val corpus = docs(1L -> tA, 2L -> tA, 900L -> link(64), 901L -> link(64))
    val ix = DedupIndex.buildFrames(spark, corpus, bridgeThreshold)
    assert(labelRows(ix.labels) === Seq(1L -> 1L, 2L -> 1L, 900L -> 900L, 901L -> 900L))
    val batch = docs(new scala.util.Random(7).shuffle((0 until 64).toList)
      .map(i => (100L + i) -> link(i)): _*)
    val upd = DedupIndex.update(spark, ix, batch, bridgeThreshold)
    val expected = (Seq(1L -> 1L, 2L -> 1L, 900L -> 100L, 901L -> 100L) ++
      (0 until 64).map(i => (100L + i) -> 100L)).sorted
    assert(labelRows(upd.labels) === expected)
    assert(assignOf(upd.assignment) ===
      fullRebuildAssign(corpus.unionByName(batch), bridgeThreshold))
    assertLabelsAreRebuild(upd, ix, corpus.unionByName(batch), bridgeThreshold)
  }

  test("batch with no corpus match stays a singleton; corpus labels untouched") {
    val corpus = docs(1L -> tA, 2L -> tA, 10L -> tB, 11L -> tB)
    val ix = DedupIndex.buildFrames(spark, corpus, bridgeThreshold)
    val loner = (100 until 150).map(i => s"z$i").mkString(" ")
    val upd = DedupIndex.update(spark, ix, docs(200L -> loner), bridgeThreshold)
    assert(assignOf(upd.assignment) ===
      Set(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 200L -> 200L))
    assert(upd.corpusMatches.isEmpty)
  }

  test("update ≡ full rebuild on real data (sf0.001, default threshold)") {
    val all = graft.Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = all.filter(col("doc_id") % 10 =!= 0)
    val injected = all.filter(col("doc_id") % 40 === 1)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val batch = all.filter(col("doc_id") % 10 === 0).unionByName(injected)

    val ix = DedupIndex.buildFrames(spark, corpus)
    val upd = DedupIndex.update(spark, ix, batch)
    val incremental = assignOf(upd.assignment)
    assert(incremental === fullRebuildAssign(all.unionByName(injected),
      DedupIndex.defaultJaccard))
    assertLabelsAreRebuild(upd, ix, corpus.unionByName(batch), DedupIndex.defaultJaccard)
  }

  test("ensure() caches per key: second call reads the same persisted index") {
    val key = s"spec-ensure-${System.nanoTime()}"
    val corpus = docs(1L -> tA, 2L -> tA)
    val a = DedupIndex.ensure(spark, key, corpus, bridgeThreshold)
    // the by-name docs argument must not be re-evaluated on a cache hit:
    // pass a frame that would THROW if the cache missed
    val b = DedupIndex.ensure(spark, key,
      sys.error("cache miss: ensure rebuilt for a cached key"), bridgeThreshold)
    assert(assignOf(DedupIndex.assign(corpus.select(col("doc_id")), b.labels)) ===
      assignOf(DedupIndex.assign(corpus.select(col("doc_id")), a.labels)))
  }
}
