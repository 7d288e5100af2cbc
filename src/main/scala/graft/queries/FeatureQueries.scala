package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.QueryKit._
import graft.features.{Features, Impute}
import graft.functions.TextAnalytics.{tokenHashesSpark, tokenHashesDuck}

/** Feature-engineering coverage (SURVEY.md §3.3): multi-column lag
  * features and per-group quantile-bucket assignment, oracle-checked.
  */
object FeatureQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W1×N — lag features at offsets 1 and 2 over two columns.
    "q_lag_features" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          Tables.tsMicros.as("tkey"), col("value"), col("event_type"))
      Features.lagFeatures(e, "user_id", Seq("tkey", "event_id"),
        Seq("value", "event_type"), offsets = Seq(1, 2))
        .select(col("event_id"), col("user_id"), col("value"),
          col("prev1_value"), col("prev2_value"),
          col("prev1_event_type"), col("prev2_event_type"))
        .orderBy(col("event_id"))
    }),

    // EWMA feature (pandas ewm(span).mean shape, adjust=True): per-user
    // exponentially weighted value over the event series, with the decay
    // DEFINED as 64-term. The truncated form is the semantics BOTH
    // engines compute (parity-exact between Spark and the DuckDB
    // oracle); versus untruncated pandas it carries ~(0.75)^63 ≈ 1e-8
    // relative error, which is the accepted contract here, not a claim
    // of bit-exact pandas parity. The numerator is a
    // Horner fold over the last-64 sliding frame (acc·p + x, oldest →
    // newest — bit-identical left-fold in Spark's `aggregate` and
    // DuckDB's `list_reduce`); the denominator is the closed-form
    // geometric sum from row_number. Scale shape: ONE shuffle on the
    // high-cardinality user key; the frame is rows-bounded (64), so no
    // whole-partition state and no per-row frame rescan beyond O(64).
    "q_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = 0.75 // decay = 1 - α, α = 0.25
      val w = Window.partitionBy("user_id")
        .orderBy(col("tkey"), col("event_id"))
      val e = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          Tables.tsMicros.as("tkey"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("xs", collect_list(col("value"))
          .over(w.rowsBetween(-63, 0)))
      // all three uses of the decay derive from `p`, so the constant
      // cannot drift between numerator fold and denominator sum
      e.withColumn("num",
          expr(s"aggregate(xs, 0.0D, (acc, x) -> acc * ${p}D + x)"))
        .withColumn("den",
          (lit(1.0) - pow(lit(p), least(col("rn"), lit(64)))) / lit(1.0 - p))
        .select(col("event_id"), col("user_id"),
          r6(col("num") / col("den")).as("ewma"))
        .orderBy(col("event_id"))
    }),

    // A4 — per-segment decile buckets of customer balance.
    "q_quantile_buckets" -> ((s, dir) => {
      Features.quantileBuckets(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal")),
        "c_mktsegment", "c_acctbal")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("bucket"))
        .orderBy(col("c_custkey"))
    }),

    // Winsorization: clip per-segment outliers at the exact p05/p95
    // quantiles (data-cleaning staple). Quantiles come from the
    // (segment, balance) value histogram (HistogramQuantiles — balances
    // are two-decimal money, so the histogram is domain-bounded; no
    // whole-group percentile buffer, identical quantile_cont
    // interpolation); the dim-sized quantile frame broadcasts back;
    // thresholds rounded to 4 dp so the clip boundary is engine-portable
    // (same mechanism as q_grouped_quantiles).
    "q_winsorize" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val qs = graft.operators.HistogramQuantiles
        .exact(c, "c_mktsegment", "c_acctbal",
          Seq(("p05r", 0.05), ("p95r", 0.95)))
        .select(col("c_mktsegment"),
          r4(col("p05r")).as("p05"), r4(col("p95r")).as("p95"))
      c.join(broadcast(qs), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          greatest(col("p05"), least(col("p95"), col("c_acctbal"))).as("clipped"),
          (col("c_acctbal") < col("p05") || col("c_acctbal") > col("p95"))
            .cast("int").as("was_clipped"))
        .orderBy(col("c_custkey"))
    }),

    // Z-score outlier flags per group. Mean and variance come from EXACT
    // DECIMAL sums (sum, sum-of-squares) so sigma — and therefore every
    // z and every |z|>2 flag — is bit-identical across engines and
    // partitionings; plain stddev_samp doubles would make boundary rows
    // engine-dependent.
    "q_zscore_outlier" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val stats = o.groupBy(col("o_orderpriority")).agg(
        (dsum(col("o_totalprice")) / count(lit(1))).as("mu"),
        sum(expr("CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))"))
          .cast("double").as("sumsq"),
        count(lit(1)).as("n"))
        .withColumn("sigma",
          sqrt((col("sumsq") - col("mu") * col("mu") * col("n")) / (col("n") - 1)))
        .select(col("o_orderpriority"), col("mu"), col("sigma"))
      o.join(broadcast(stats), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          r6((col("o_totalprice") - col("mu")) / col("sigma")).as("z"),
          (abs((col("o_totalprice") - col("mu")) / col("sigma")) > 2)
            .cast("int").as("is_outlier"))
        .orderBy(col("o_orderkey"))
    }),

    // Deterministic hash-based stratified sampling — reproducible
    // train/test selection with per-stratum rates (urgent 50%, high 25%,
    // rest 10%). Seeded RNG sampling is run- and partitioning-dependent;
    // a key-hash threshold is stable across engines, runs and cluster
    // sizes, which is what a 100 TB split actually requires. The key is
    // reduced mod p BEFORE the multiply: (p−1)·2654435761 < 2⁶³, so the
    // hash never overflows LONG for any key (the unreduced form wrapped
    // negative past orderkey ≈ 3.5e9 — silently in Spark, an error in
    // DuckDB); for keys < p the value is unchanged.
    "q_stratified_sample" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("h",
          expr(s"${idHash("o_orderkey")} % 100"))
        .withColumn("rate",
          when(col("o_orderpriority") === "1-URGENT", 50)
            .when(col("o_orderpriority") === "2-HIGH", 25)
            .otherwise(10))
        .filter(col("h") < col("rate"))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES): key =
    // ln(u)/w with u a portable pseudo-random from the row key — top-k by
    // key is a weight-proportional sample, computed as one distributed
    // TakeOrderedAndProject pass (mergeable per-partition top-k, no
    // shuffle of the corpus). Deterministic across engines, runs and
    // partitionings — seeded RNG sampling is none of those. Keys are
    // rounded to 6 dp and tie-broken by doc_id so ranking can't flip
    // between engines; the overflow-safe reduced hash (see
    // q_stratified_sample) feeds u ∈ (0, 1].
    "q_weighted_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("w", length(col("text")).cast("double"))
        .withColumn("u",
          (expr(idHash()) + lit(1))
            .cast("double") / lit(1000000008.0))
        // + 0.0 normalizes IEEE −0.0 (u=1 → ln 0, sign depends on the
        // engine's rounding path) to +0.0 on both engines
        .withColumn("skey", r6(log(col("u")) / col("w")) + lit(0.0))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("w").cast("long").as("w"), col("skey"))
    }),

    // Log-log OLS imputation (ref: EDA cells 50-59 — release_clause from
    // value; stand-in: retail price from size, nulls injected). Closed-form
    // slope/intercept match DuckDB regr_slope/regr_intercept.
    "q_linreg_impute" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("maybe_price",
          when(col("p_partkey") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("p_retailprice")))
      Impute.logLogImpute(p, "p_size", "maybe_price", "price_filled")
        .select(col("p_partkey"), col("p_size"), col("maybe_price"),
          col("price_filled"), col("was_imputed"), col("slope"), col("intercept"))
        .orderBy(col("p_partkey"))
    }),

    // The hashing trick (signed feature hashing) — fixed-dimensional text
    // featurization with NO global vocabulary state: bucket = hash % 1024,
    // sign from the next hash bit so collisions cancel in expectation.
    // This is the featurizer that survives 100 TB where CountVectorizer
    // can't: no fit pass, no broadcast vocab, just one explode + one
    // doc_id-keyed aggregation. Output is the sparse (doc, bucket, weight)
    // triplet layout.
    "q_feature_hash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr(tokenHashesSpark("text"))).as("h"))
        .select(col("doc_id"), (col("h") % 1024).as("bucket"),
          when(shiftright(col("h"), 10) % 2 === 0, lit(1)).otherwise(lit(-1))
            .as("sign"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sign")).as("weight"))
        .orderBy(col("doc_id"), col("bucket"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_ewma" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS tkey, value
        |  FROM events WHERE value IS NOT NULL
        |), f AS (
        |  SELECT event_id, user_id,
        |    row_number() OVER w AS rn,
        |    list(value) OVER (PARTITION BY user_id ORDER BY tkey, event_id
        |      ROWS BETWEEN 63 PRECEDING AND CURRENT ROW) AS xs
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tkey, event_id)
        |)
        |SELECT event_id, user_id,
        |  round(list_reduce(xs, (acc, x) -> acc * CAST(0.75 AS DOUBLE) + x)
        |    / ((1 - power(CAST(0.75 AS DOUBLE), least(rn, 64))) / 0.25), 6) AS ewma
        |FROM f ORDER BY event_id""".stripMargin,

    "q_lag_features" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS tkey, value, event_type FROM events
        |)
        |SELECT event_id, user_id, value,
        |  lag(value, 1) OVER w AS prev1_value,
        |  lag(value, 2) OVER w AS prev2_value,
        |  lag(event_type, 1) OVER w AS prev1_event_type,
        |  lag(event_type, 2) OVER w AS prev2_event_type
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tkey, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_quantile_buckets" ->
      """WITH b0 AS (
        |  SELECT c_mktsegment,
        |    quantile_cont(c_acctbal, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
        |  FROM customer GROUP BY c_mktsegment
        |), b1 AS (
        |  SELECT c_mktsegment,
        |    unnest(generate_series(0, 9)) AS bucket,
        |    unnest(qs) AS lower
        |  FROM b0
        |), b2 AS (
        |  SELECT c_mktsegment, CAST(bucket AS INT) AS bucket, lower,
        |    lead(lower, 1, 9999999.0) OVER (PARTITION BY c_mktsegment ORDER BY bucket) AS upper
        |  FROM b1
        |)
        |SELECT c_custkey, c.c_mktsegment, c_acctbal, bucket
        |FROM customer c JOIN b2 b
        |  ON c.c_mktsegment = b.c_mktsegment
        | AND c_acctbal >= b.lower AND c_acctbal < b.upper
        |ORDER BY c_custkey""".stripMargin,

    "q_winsorize" ->
      """WITH q AS (
        |  SELECT c_mktsegment,
        |    ROUND(quantile_cont(c_acctbal, 0.05), 4) AS p05,
        |    ROUND(quantile_cont(c_acctbal, 0.95), 4) AS p95
        |  FROM customer GROUP BY c_mktsegment
        |)
        |SELECT c_custkey, c.c_mktsegment AS c_mktsegment, c_acctbal,
        |  greatest(p05, least(p95, c_acctbal)) AS clipped,
        |  CAST(c_acctbal < p05 OR c_acctbal > p95 AS INT) AS was_clipped
        |FROM customer c JOIN q ON c.c_mktsegment = q.c_mktsegment
        |ORDER BY c_custkey""".stripMargin,

    "q_zscore_outlier" ->
      """WITH s AS (
        |  SELECT o_orderpriority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
        |      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sumsq,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY o_orderpriority
        |), st AS (
        |  SELECT o_orderpriority, mu,
        |    sqrt((sumsq - mu * mu * n) / (n - 1)) AS sigma
        |  FROM s
        |)
        |SELECT o_orderkey, o.o_orderpriority AS o_orderpriority,
        |  ROUND((o_totalprice - mu) / sigma, 6) AS z,
        |  CAST(abs((o_totalprice - mu) / sigma) > 2 AS INT) AS is_outlier
        |FROM orders o JOIN st ON o.o_orderpriority = st.o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,

    "q_stratified_sample" ->
      """SELECT o_orderkey, o_orderpriority FROM (
        |  SELECT o_orderkey, o_orderpriority,
        |    o_orderkey % 1000000007 * 2654435761 % 1000000007 % 100 AS h,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 50
        |         WHEN o_orderpriority = '2-HIGH' THEN 25
        |         ELSE 10 END AS rate
        |  FROM orders
        |) WHERE h < rate ORDER BY o_orderkey""".stripMargin,

    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
        |    CAST(doc_id % 1000000007 * 2654435761 % 1000000007 + 1 AS DOUBLE)
        |      / 1000000008.0 AS u
        |  FROM documents
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS w,
        |  ROUND(ln(u) / w, 6) + 0.0 AS skey
        |FROM d ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin,

    "q_linreg_impute" ->
      """WITH p AS (
        |  SELECT p_partkey, p_size,
        |    CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_retailprice END AS maybe_price
        |  FROM part
        |), c AS (
        |  SELECT ROUND(regr_slope(ln(maybe_price), ln(p_size)), 6) AS slope,
        |    ROUND(avg(ln(maybe_price))
        |      - ROUND(regr_slope(ln(maybe_price), ln(p_size)), 6) * avg(ln(p_size)),
        |      6) AS intercept
        |  FROM p WHERE maybe_price IS NOT NULL
        |)
        |SELECT p_partkey, p_size, maybe_price,
        |  CASE WHEN maybe_price IS NOT NULL THEN maybe_price
        |       ELSE ROUND(exp(intercept + slope * ln(p_size)), 6) END AS price_filled,
        |  CAST(maybe_price IS NULL AS INT) AS was_imputed,
        |  slope, intercept
        |FROM p CROSS JOIN c
        |ORDER BY p_partkey""".stripMargin,

    "q_feature_hash" ->
      s"""WITH u AS (
         |  SELECT doc_id, unnest(${tokenHashesDuck("text")}) AS h FROM documents
         |)
         |SELECT doc_id, h % 1024 AS bucket,
         |  CAST(SUM(CASE WHEN (h // 1024) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
         |FROM u GROUP BY doc_id, bucket
         |ORDER BY doc_id, bucket""".stripMargin
  )
}
