package graft

import org.apache.spark.sql.functions._

/** Guards on the TESTDATA.md id-space assumptions that queries bake in
  * as constants (ADVICE r6). Several dedup queries inject synthetic
  * near-duplicates at `doc_id + OFFSET` and classify membership with
  * `doc_id >= OFFSET` (100000 in q_dedup_exact, 200000 in
  * q_simhash_pairs / q_jaccard_topk_lsh, 500000 in q_dedup_incremental
  * / q_dedup_index_update). If the documents table ever grew past the
  * smallest offset, corpus docs would silently misclassify as batch and
  * injected ids could collide with real ones — and the DuckDB oracles
  * share the same constants, so cross-engine parity could NOT catch it.
  * This spec is the tripwire: it fails naming the drifted assumption
  * before any query silently degrades. (TESTDATA.md: doc_id is a dense
  * 0-based index — 5,000 rows at sf0.1.)
  */
class TestDataContractSpec extends SparkSpec {

  private val smallestInjectionOffset = 100000L

  for (dir <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"$dir: max(doc_id) stays below every injection offset") {
      val mx = Tables(spark, sf(dir), "documents")
        .agg(max(col("doc_id"))).head.getLong(0)
      assert(mx < smallestInjectionOffset,
        s"documents.doc_id reaches $mx ≥ $smallestInjectionOffset: the " +
          "injected-duplicate offsets in q_dedup_exact / q_simhash_pairs / " +
          "q_jaccard_topk_lsh / q_dedup_incremental / q_dedup_index_update " +
          "(and their DuckDB oracle twins) must be raised together")
    }

  // q_pagerank's r14 constraint-saturation filter (`c/p isNotNull` on
  // the shared `pairs` subtree) is vacuous ONLY while o_custkey and
  // l_suppkey carry no nulls (VERDICT r14 what's-wrong #5): on data
  // with null keys the filter would DROP rows the unsaturated plan
  // kept. TPC-H declares both columns non-null; this is the tripwire
  // if the generator ever drifts.
  for (dir <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"$dir: pagerank saturation keys are null-free") {
      val nulls = Tables(spark, sf(dir), "lineitem")
        .agg(sum(col("l_suppkey").isNull.cast("long"))).head.getLong(0) +
        Tables(spark, sf(dir), "orders")
          .agg(sum(col("o_custkey").isNull.cast("long"))).head.getLong(0)
      assert(nulls == 0L,
        s"$nulls null l_suppkey/o_custkey rows: q_pagerank's saturation " +
          "filter (PipelineQueries) is no longer vacuous — it would drop " +
          "these rows; remove the filter or handle nulls explicitly")
    }

  // q_mad_outlier's value histogram drops null cents, so its `n` matches
  // the oracle's COUNT(*) only while l_extendedprice carries no nulls.
  // TPC-H declares the column non-null; this is the tripwire if the
  // generator ever drifts.
  for (dir <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"$dir: l_extendedprice is null-free") {
      val nulls = Tables(spark, sf(dir), "lineitem")
        .agg(sum(col("l_extendedprice").isNull.cast("long"))).head().getLong(0)
      assert(nulls == 0L,
        s"$nulls null l_extendedprice rows: q_mad_outlier's n " +
          "(PipelineQueries) no longer counts every row — count the nulls " +
          "back in or handle them explicitly")
    }
}
