package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.CutSyntax
import graft.Tables
import graft.QueryKit._

/** Training-mixture design operators — the allocation step that sits
  * between corpus curation (dedup / quality / rebalance, PipelineQueries)
  * and training: how many examples of each language/source does the run
  * actually consume?
  *
  * Three published strategies, each deterministic and oracle-checked:
  *  - temperature sampling (XLM-R, Conneau et al. 2020): p_l ∝ (n_l/N)^α;
  *  - UniMax (Chung et al. 2023): epoch-capped waterfilling — every
  *    language gets an equal share of the token budget unless that would
  *    exceed `cap` epochs of its corpus, in which case it is capped and
  *    the leftover budget is re-spread over the rest;
  *  - mixture materialization: turn a UniMax allocation into per-document
  *    repeat counts (full epochs + a hash-ranked fractional remainder).
  *
  * Scale shape: every query is ONE aggregate shuffle over the corpus
  * (per-language counts) followed by window arithmetic over the
  * language dimension (bounded, ~200 rows at web scale) and — for the
  * materialization — one broadcast join back to the docs plus one
  * per-language rank window. Nothing else touches the full corpus.
  *
  * UniMax here is the closed form of the paper's iterative loop: with
  * languages ascending by size, a language is capped iff its cap is below
  * the fair share of the budget left after all smaller (necessarily
  * capped) languages — so the capped set is a prefix, found with one
  * cumulative-sum window instead of a driver loop. All arithmetic is
  * integer (cap = 3/2 epochs in fixed-point, budget = 6/5 of the corpus,
  * integer div/mod with the remainder spread over the first `rem`
  * uncapped languages), so Spark and DuckDB agree bit-for-bit.
  */
object MixtureQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Portable overflow-safe doc hash (same as q_stratified_sample). */
  private val docHash = idHash()

  // UniMax allocation over a per-language size frame: input has columns
  // (lang, n); output adds (i, l_total, alloc, capped). Shared by the
  // char-budget allocation query and the doc-repeat materialization.
  private def unimax(sizes: DataFrame): DataFrame = {
    val byN = Window.orderBy(col("n"), col("lang"))
    val all = Window.partitionBy()
    sizes
      .withColumn("i", row_number().over(byN))
      .withColumn("l_total", count(lit(1)).over(all))
      .withColumn("cn", expr("(3 * n) div 2")) // cap = 1.5 epochs, fixed-point
      .withColumn("t_pre", coalesce(
        sum(col("cn")).over(byN.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("budget",
        expr("(6 * sum(n) over ()) div 5")) // budget = 1.2 epochs of corpus
      // capped iff cap < fair share of what's left after the (all-capped)
      // smaller languages; the set is a prefix so "first failure" closes it
      .withColumn("cond", col("cn") * (col("l_total") - col("i") + 1)
        < col("budget") - col("t_pre"))
      .withColumn("ff", min(when(!col("cond"), col("i"))).over(all))
      .withColumn("k", coalesce(col("ff"), col("l_total") + 1) - 1)
      .withColumn("capped", col("i") <= col("k"))
      .withColumn("t_k", coalesce(
        max(when(col("capped"), col("t_pre") + col("cn"))).over(all), lit(0L)))
      .withColumn("n_unc", col("l_total") - col("k"))
      .withColumn("share", expr("(budget - t_k) div nullif(n_unc, 0)"))
      .withColumn("rem", expr("(budget - t_k) % nullif(n_unc, 0)"))
      .withColumn("alloc", when(col("capped"), col("cn"))
        .otherwise(col("share") +
          when(col("i") - col("k") <= col("rem"), 1L).otherwise(0L)))
  }

  /** Oracle twin of [[unimax]] as a DuckDB CTE chain over `sizes(lang, n)`. */
  private def unimaxSql: String =
    """u1 AS (
      |  SELECT lang, n,
      |    row_number() OVER (ORDER BY n, lang) AS i,
      |    COUNT(*) OVER () AS l_total,
      |    (3 * n) // 2 AS cn,
      |    CAST(COALESCE(SUM((3 * n) // 2) OVER (ORDER BY n, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS t_pre,
      |    CAST((6 * SUM(n) OVER ()) // 5 AS BIGINT) AS budget
      |  FROM sizes
      |), u2 AS (
      |  SELECT *, cn * (l_total - i + 1) < budget - t_pre AS cond FROM u1
      |), u3 AS (
      |  SELECT *,
      |    COALESCE(MIN(CASE WHEN NOT cond THEN i END) OVER (), l_total + 1) - 1 AS k
      |  FROM u2
      |), u4 AS (
      |  SELECT *, i <= k AS capped,
      |    COALESCE(MAX(CASE WHEN i <= k THEN t_pre + cn END) OVER (), 0) AS t_k,
      |    l_total - k AS n_unc
      |  FROM u3
      |), alloc AS (
      |  SELECT lang, n, i, k, capped,
      |    CASE WHEN capped THEN cn
      |         ELSE (budget - t_k) // NULLIF(n_unc, 0)
      |              + CASE WHEN i - k <= (budget - t_k) % NULLIF(n_unc, 0)
      |                     THEN 1 ELSE 0 END
      |    END AS alloc
      |  FROM u4
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Temperature sampling — p_l ∝ (n_l/N)^α with α = 0.3 (the XLM-R
    // low-resource-boosting setting). `rate` is the sampling probability;
    // `target` is the per-language draw count for a budget of N total
    // docs, capped at the corpus size (no-replacement regime; small
    // languages saturate, the head language downsamples). pow() is the
    // one float in the family, so the rate is pinned at 6 dp and the
    // count floors the ROUNDED product — both engines see the same
    // decimal before the floor.
    "q_temperature_mix" -> ((s, dir) => {
      val all = Window.partitionBy()
      t(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", pow(col("n_docs").cast("double"), lit(0.3)))
        .withColumn("rate", round(col("w") / sum(col("w")).over(all), 6))
        .withColumn("target", least(col("n_docs"),
          floor(round(sum(col("n_docs")).over(all) * col("rate"), 6)).cast("long")))
        .select(col("lang"), col("n_docs"), col("rate"), col("target"))
        .orderBy(col("lang"))
    }),

    // UniMax over the character budget: which languages are epoch-capped,
    // what does each one get, and how many epochs is that? The closed-form
    // waterfilling (header comment) — exact integers end to end; only the
    // reported epochs ratio is float, pinned at 6 dp.
    "q_unimax_alloc" -> ((s, dir) => {
      val sizes = t(s, dir, "documents")
        .groupBy(col("lang")).agg(sum(col("n_chars")).as("n"))
      unimax(sizes)
        .select(col("lang"), col("n").as("n_chars"), col("alloc"),
          col("capped"), r6(col("alloc").cast("double") / col("n")).as("epochs"))
        .orderBy(col("lang"))
    }),

    // Materialize a doc-count UniMax allocation as per-document repeat
    // counts: alloc div n full epochs for everyone, plus one extra pass
    // for the first (alloc mod n) docs in portable-hash order — the
    // deterministic stand-in for "sample the fractional epoch uniformly".
    // The allocation frame broadcasts; the only corpus-sized work is the
    // count agg and the per-language rank. That rank does NOT use a
    // per-lang window over document rows — at 100 TB the head language
    // would be ONE window task; GlobalRowNumber.withKeyedRowNumber
    // decomposes it per (lang, bucket), same exact rank (hash order is
    // total), every task ~n/64 rows regardless of language skew.
    "q_mix_materialize" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val sizes = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val alloc = unimax(sizes)
        .select(col("lang"), expr("alloc div n").as("full"),
          expr("alloc % n").as("extra"))
      graft.operators.GlobalRowNumber
        .withKeyedRowNumber(docs.withColumn("h", expr(docHash)),
          Seq("lang"), "h", "rn", Seq("doc_id"))
        .join(broadcast(alloc), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          (col("full") + when(col("rn") <= col("extra"), 1L).otherwise(0L))
            .cast("long").as("n_repeats"))
        .orderBy(col("doc_id"))
    }),

    // Distributional distance diagnostic: KL(source ‖ corpus) over
    // Laplace-smoothed unigram token distributions — the number a
    // mixture designer reads to see WHICH source is far from the blend
    // (high KL = distinct vocabulary/frequency profile; reweighting or
    // a dedicated quota is warranted). Support = the full corpus
    // vocabulary for every source (absent terms carry the smoothed
    // 1/(T_s+V) mass — skipping them underestimates KL). Scale shape:
    // two token-keyed count aggregations; the per-source support frame
    // is |sources|×|vocab| (vocabulary-bounded, never corpus-sized) —
    // a cross of the vocab table with the broadcast source-totals dim;
    // each KL term rounds at 6 dp into a DECIMAL sum.
    "q_corpus_kl" -> ((s, dir) => {
      import graft.functions.TextAnalytics.tokenHashesSpark
      // dictionary-encode source BEFORE the explode: the token-level
      // exchange is corpus-sized, and a repeated source STRING on every
      // token row is pure payload (VERDICT r13 item 1 — the payload, not
      // the partitioning, is the exchange cost at 10x). The dim is
      // |sources| rows (distinct → the global row_number window runs
      // over an aggregated frame, the PlanSpec-swept bounded shape) and
      // sid assignment is collision-free by construction; a broadcast
      // join restores the string for the output.
      val dim = t(s, dir, "documents").select(col("source")).distinct()
        .withColumn("sid", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("source"))))
      // Spread ahead of the tokenize front (r15 F1 fix; the broadcast
      // dim join is map-side, so the spread partitioning carries through)
      val toks = graft.operators.Spread
        .byKey(t(s, dir, "documents"), col("doc_id"))
        .join(broadcast(dim), Seq("source"))
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("sid"), explode(col("th")).as("h"))
        // ONE corpus-sized exchange, consumed once: cst (co-partitioned —
        // hash(h) clusters (sid,h)) is the finest count table and every
        // other distribution DERIVES from it. The r13 shape aggregated
        // `toks` three ways and per-consumer pruning under the
        // repartition silently split the "shared" exchange into three
        // full scan+tokenize pipelines at 10x (r14 finding).
        .repartition(col("h"))
      val cst = toks.groupBy(col("sid"), col("h"))
        .agg(count(lit(1)).as("cst"))
        .cut() // |sources|×|vocab|-bounded; four consumers below
      val corpus = cst.groupBy(col("h")).agg(sum(col("cst")).as("ct"))
      val cTot = corpus.agg(sum(col("ct")).as("tc"), count(lit(1)).as("vv"))
      val srcTot = cst.groupBy(col("sid")).agg(sum(col("cst")).as("ts"))
      corpus.crossJoin(broadcast(srcTot))
        .join(cst, Seq("sid", "h"), "left")
        .crossJoin(broadcast(cTot))
        .withColumn("ps", (coalesce(col("cst"), lit(0L)) + 1).cast("double") /
          (col("ts") + col("vv")).cast("double"))
        .withColumn("pc", (col("ct") + 1).cast("double") /
          (col("tc") + col("vv")).cast("double"))
        .withColumn("term", round(col("ps") * log(col("ps") / col("pc")), 6))
        .groupBy(col("sid"))
        .agg(max(col("ts")).as("n_tokens"),
          sum(col("term").cast("decimal(18,6)")).as("klsum"))
        .join(broadcast(dim), Seq("sid")) // restore the source string
        .select(col("source"), col("n_tokens"),
          col("klsum").cast("double").as("kl"))
        .orderBy(col("source"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_corpus_kl" -> {
      import graft.functions.TextAnalytics.tokenHashesDuck
      s"""WITH t0 AS (
         |  SELECT source, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT source, unnest(th) AS h FROM t0
         |), corpus AS (
         |  SELECT h, COUNT(*) AS ct FROM p GROUP BY 1
         |), ctot AS (
         |  SELECT SUM(ct) AS tc, COUNT(*) AS vv FROM corpus
         |), stot AS (
         |  SELECT source, COUNT(*) AS ts FROM p GROUP BY 1
         |), cst AS (
         |  SELECT source, h, COUNT(*) AS cst FROM p GROUP BY 1, 2
         |), sup AS (
         |  SELECT s.source, s.ts, c.ct, COALESCE(x.cst, 0) AS cst, tc, vv
         |  FROM corpus c CROSS JOIN stot s
         |  LEFT JOIN cst x ON x.source = s.source AND x.h = c.h
         |  CROSS JOIN ctot
         |), term AS (
         |  SELECT source, ts,
         |    ROUND((CAST(cst + 1 AS DOUBLE) / CAST(ts + vv AS DOUBLE)) *
         |      ln((CAST(cst + 1 AS DOUBLE) / CAST(ts + vv AS DOUBLE)) /
         |         (CAST(ct + 1 AS DOUBLE) / CAST(tc + vv AS DOUBLE))), 6) AS term
         |  FROM sup
         |)
         |SELECT source, CAST(MAX(ts) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS kl
         |FROM term GROUP BY source ORDER BY source""".stripMargin
    },

    "q_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        |), w AS (
        |  SELECT lang, n_docs, POW(CAST(n_docs AS DOUBLE), 0.3) AS w FROM c
        |), r AS (
        |  SELECT lang, n_docs, ROUND(w / SUM(w) OVER (), 6) AS rate,
        |    SUM(n_docs) OVER () AS total
        |  FROM w
        |)
        |SELECT lang, n_docs, rate,
        |  LEAST(n_docs, CAST(FLOOR(ROUND(total * rate, 6)) AS BIGINT)) AS target
        |FROM r ORDER BY lang""".stripMargin,

    "q_unimax_alloc" ->
      s"""WITH sizes AS (
         |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n FROM documents GROUP BY lang
         |), $unimaxSql
         |SELECT lang, n AS n_chars, alloc, capped,
         |  ROUND(CAST(alloc AS DOUBLE) / n, 6) AS epochs
         |FROM alloc ORDER BY lang""".stripMargin,

    "q_mix_materialize" ->
      s"""WITH sizes AS (
         |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
         |), $unimaxSql, fr AS (
         |  SELECT lang, alloc // n AS fullp, alloc % n AS extra FROM alloc
         |), d AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY doc_id % 1000000007 * 2654435761 % 1000000007, doc_id) AS rn
         |  FROM documents
         |)
         |SELECT d.doc_id, d.lang,
         |  CAST(fr.fullp + CASE WHEN d.rn <= fr.extra THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_repeats
         |FROM d JOIN fr ON d.lang = fr.lang
         |ORDER BY d.doc_id""".stripMargin
  )
}
