package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.QueryKit._
import graft.quality.Checks

/** Aggregation + validation coverage (SURVEY.md §2.6 A2–A12, §2.9 V1–V4,
  * §2.8 O5/O7, §2.3 P19/P21).
  *
  * Scale notes: all aggregates are hash aggregates with map-side partial
  * combine; countDistinct expands to a two-phase aggregate Catalyst plans
  * automatically. Validation checks are expressed as aggregations (not
  * collect-based loops) so they run distributed.
  */
object AggregateQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A2 — scalar max with conditional cast (ref: max finished gameweek +1,
    // etl/run_load.py:34-39).
    "q_scalar_max" -> ((s, dir) => {
      t(s, dir, "orders")
        .agg(
          (max(when(col("o_orderstatus") === "F", year(col("o_orderdate")))) + 1)
            .as("next_year"),
          min(col("o_totalprice")).as("min_price"),
          count(lit(1)).as("n"))
    }),

    // A3 — countDistinct (ref: nunique, etl/run_transform.py:330-331).
    "q_count_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // A4 — grouped exact quantiles with linear interpolation (ref:
    // per-gameweek deciles, EDA cell 26; pandas interpolation semantics →
    // Spark `percentile`, not percentile_approx).
    "q_grouped_quantiles" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          r4(percentile(col("c_acctbal"), lit(0.25))).as("q25"),
          r4(percentile(col("c_acctbal"), lit(0.5))).as("q50"),
          r4(percentile(col("c_acctbal"), lit(0.75))).as("q75"))
        .orderBy(col("c_mktsegment"))
    }),

    // The EXACT-median SCALE path: one HistogramQuantiles.exact call on
    // the raw two-decimal prices. The (flag, price) value histogram is
    // what shuffles — bounded by the price domain, never the rows — and
    // no group is ever buffered whole (Spark's `percentile` keeps every
    // value of a group in its aggregation state, an executor OOM when
    // one group holds billions of rows). At p = 0.5 the interpolation
    // is the mean of the two middle values, as in the oracle's MEDIAN.
    "q_median_scalable" -> ((s, dir) => {
      graft.operators.HistogramQuantiles
        .exact(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          Seq(("med", 0.5)))
        .select(col("l_returnflag"), r6(col("med")).as("median_price"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // The grouped-quantile SCALE path: all three quartiles per return
    // flag from ONE (flag, cents) value histogram (HistogramQuantiles —
    // peak task state is one group's distinct cents, never the group's
    // rows, vs the whole-group buffer Spark's `percentile` builds).
    // Integer cents make the p·(n−1) interpolation (frac ∈ {0, ¼, ½, ¾})
    // exact in doubles, so the result is bit-identical to DuckDB's
    // quantile_cont.
    "q_quantiles_scalable" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      graft.operators.HistogramQuantiles
        .exact(li, "l_returnflag", "cents",
          Seq(("c25", 0.25), ("c50", 0.5), ("c75", 0.75)))
        .select(col("l_returnflag"), col("n"),
          r6(col("c25") / 100).as("q25"),
          r6(col("c50") / 100).as("q50"),
          r6(col("c75") / 100).as("q75"))
        .orderBy(col("l_returnflag"))
    }),

    // Ordered grouped concatenation (beyond-reference — the pandas
    // groupby.apply(list) staple): per-user event-type sequence in strict
    // (time, id) order. collect_list is unordered by contract, so the
    // deterministic form sorts a struct array whose leading fields are
    // the sort key — one shuffle, no window.
    "q_group_concat" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"), Tables.tsMicros.as("tkey"),
          col("event_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", expr(
            "transform(array_sort(collect_list(struct(tkey, event_id, event_type))), " +
              "x -> x.event_type)")).as("events_seq"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }),

    // A9 — value_counts (ref: modelling_1 cell 20).
    "q_value_counts" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("event_type"))
    }),

    // A10/P21 — column stats + null-rate profiling (ref: EDA cells 6-10).
    "q_col_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("maybe_null",
          when(col("l_linenumber") === 2, lit(null).cast("double"))
            .otherwise(col("l_tax")))
        .agg(
          r4(davg(col("l_extendedprice"))).as("mean_price"),
          r4(var_samp(col("l_extendedprice")) / 1000).as("var_price_k"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          r6(avg(col("maybe_null").isNull.cast("int"))).as("null_rate"))
    }),

    // A11 — correlation (ref: df.corr(), EDA cell 51).
    "q_corr" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // A11 matrix form — the full NxN Pearson correlation matrix of a
    // feature frame (ref: df.corr() heatmaps, EDA cells 51/81/83,
    // modelling_1 cell 32), in tidy long output (col_x, col_y, r). ALL
    // N·(N+1)/2 coefficients come from ONE aggregation pass (each corr is
    // a mergeable co-moment triple; Catalyst partial-aggregates them
    // together), so the cost is one scan + one 1-row shuffle no matter
    // how many columns — never N² passes over the data.
    "q_corr_matrix" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val idx = for { i <- cols.indices; j <- cols.indices if j >= i } yield (i, j)
      val aggs = idx.map { case (i, j) =>
        r6(corr(col(cols(i)), col(cols(j)))).as(s"r_${i}_$j")
      }
      val pairs = idx.map { case (i, j) =>
        struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
          col(s"r_${i}_$j").as("r"))
      }
      t(s, dir, "lineitem")
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(pairs: _*)).as("p"))
        .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
          col("p.r").as("r"))
        .orderBy(col("col_x"), col("col_y"))
    }),

    // A12 — row-wise max/sum (ref: etl/additional_fifa.py:154 greatest of
    // two match scores).
    "q_rowwise_max" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          r4(col("l_tax") + col("l_discount")).as("sum_rate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P19 — one-hot encoding via conditional flags, aggregated per nation
    // (ref: pd.get_dummies, EDA cell 78; drop_first ≙ no AUTOMOBILE col).
    "q_onehot" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val flags = Seq("BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val aggs = flags.map(f => sum((col("c_mktsegment") === f).cast("long"))
        .as(s"seg_${f.toLowerCase}")) :+ count(lit(1)).as("n")
      c.groupBy(col("c_nationkey"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("c_nationkey"))
    }),

    // O5 — union with column alignment, missing → null (ref:
    // pd.concat(sort=False), etl/run_transform.py:353).
    "q_union_align" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val past = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
      val future = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderpriority"))
      past.unionByName(future, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    }),

    // O7 — whole-row distinct (ref: drop_duplicates,
    // etl/additional_fifa.py:300).
    "q_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // O8/W5 — keyed dedup keep-earliest (ref: drop_duplicates keep-first
    // after sort, etl/additional_fifa.py:165-172).
    "q_dedup_keyed" -> ((s, dir) => {
      Checks.dedupKeepFirst(
        t(s, dir, "events"),
        keys = Seq("user_id", "event_type"),
        orderCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // V1 — unique-PK validation: emit violating keys (ref:
    // dval_unique_index, etl/transform.py:14-15). Dup rows injected.
    "q_unique_pk_check" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val withDups = o.unionByName(o.filter(col("o_orderkey") % 500 === 0))
      Checks.duplicateKeys(withDups, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // V2 — non-null-PK validation (ref: etl/transform.py:19-30). Nulls
    // injected on a composite key.
    "q_nonnull_pk_check" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("pk1",
          when(col("l_linenumber") === 5, lit(null).cast("long"))
            .otherwise(col("l_orderkey")))
      Checks.nullKeyCounts(li, Seq("pk1", "l_linenumber"))
    }),

    // V4 — referential-integrity check as left_anti (ref: FK DDL,
    // etl/load.py:251-258). Orphans = lineitems whose supplier is not in
    // the filtered dim.
    "q_fk_check" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier").filter(col("s_suppkey") <= 7)
      Checks.fkOrphans(li, sup, "l_suppkey", "s_suppkey")
        .orderBy(col("l_suppkey"))
    }),

    // Grouped APPROX quantiles with an oracle-checked error band — the
    // 100 TB substitute for q_grouped_quantiles: exact `percentile`
    // buffers every value of a group in one aggregation buffer, which a
    // trillion-row group cannot do; `approx_percentile` (KLL-ish, GK) is
    // bounded-memory and mergeable. The sketch itself is engine-specific,
    // so the declared output carries EXACT quantiles (oracle-computable)
    // plus in-band booleans: accuracy=10000 bounds the rank error at
    // n/10000, far inside the exact [p49, p51] / [p94, p96] bands, so the
    // oracle asserts the flags as TRUE — a broken sketch hash-mismatches
    // instead of hiding behind rows-only.
    "q_group_quantile_approx" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          // array forms: ONE exact buffer and ONE sketch per group, not
          // one full-value buffer per requested percentile
          percentile(col("l_extendedprice"),
            array(lit(0.49), lit(0.5), lit(0.51), lit(0.94), lit(0.95), lit(0.96)))
            .as("ex"),
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(10000)).as("ap"))
        .select(col("l_returnflag"), col("n"),
          r4(col("ex").getItem(1)).as("p50_exact"),
          r4(col("ex").getItem(4)).as("p95_exact"),
          (col("ap").getItem(0) >= col("ex").getItem(0) &&
            col("ap").getItem(0) <= col("ex").getItem(2)).as("p50_in_band"),
          (col("ap").getItem(1) >= col("ex").getItem(3) &&
            col("ap").getItem(1) <= col("ex").getItem(5)).as("p95_in_band"))
        .orderBy(col("l_returnflag"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_scalar_max" ->
      """SELECT max(CASE WHEN o_orderstatus = 'F' THEN year(o_orderdate) END) + 1 AS next_year,
        |  min(o_totalprice) AS min_price, COUNT(*) AS n FROM orders""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_group_quantile_approx" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
        |  TRUE AS p50_in_band, TRUE AS p95_in_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_grouped_quantiles" ->
      """SELECT c_mktsegment,
        |  ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q25,
        |  ROUND(quantile_cont(c_acctbal, 0.5), 4) AS q50,
        |  ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q75
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // quantile_cont interpolates the two middle values; the two-pass
    // selection averages them — identical up to an ulp, absorbed by r6
    "q_median_scalable" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_quantiles_scalable" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem
        |)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(quantile_cont(cents, 0.25) / 100, 6) AS q25,
        |  ROUND(quantile_cont(cents, 0.5) / 100, 6) AS q50,
        |  ROUND(quantile_cont(cents, 0.75) / 100, 6) AS q75
        |FROM li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_group_concat" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts)//1000 AS tkey, event_id, event_type FROM events
        |)
        |SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY tkey, event_id) AS events_seq,
        |  COUNT(*) AS n
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_value_counts" ->
      """SELECT event_type, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin,

    "q_col_stats" ->
      s"""SELECT
         |  ROUND(${sql.davg("l_extendedprice")}, 4) AS mean_price,
         |  ROUND(var_samp(l_extendedprice) / 1000, 4) AS var_price_k,
         |  min(l_extendedprice) AS min_price,
         |  max(l_extendedprice) AS max_price,
         |  ROUND(AVG(CAST(CASE WHEN l_linenumber = 2 THEN NULL ELSE l_tax END
         |    IS NULL AS INT)), 6) AS null_rate
         |FROM lineitem""".stripMargin,

    "q_corr" ->
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val idx = for { i <- cols.indices; j <- cols.indices if j >= i } yield (i, j)
      val aggSel = idx.map { case (i, j) =>
        s"ROUND(corr(${cols(i)}, ${cols(j)}), 6) AS r_${i}_$j"
      }.mkString(",\n  ")
      val rows = idx.map { case (i, j) =>
        s"SELECT '${cols(i)}' AS col_x, '${cols(j)}' AS col_y, r_${i}_$j AS r FROM m"
      }.mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |  SELECT $aggSel
         |  FROM lineitem
         |)
         |$rows
         |ORDER BY col_x, col_y""".stripMargin
    },

    "q_rowwise_max" ->
      """SELECT l_orderkey, l_linenumber,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  ROUND(l_tax + l_discount, 4) AS sum_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_onehot" ->
      """SELECT c_nationkey,
        |  CAST(SUM(CAST(c_mktsegment = 'BUILDING' AS BIGINT)) AS BIGINT) AS seg_building,
        |  CAST(SUM(CAST(c_mktsegment = 'FURNITURE' AS BIGINT)) AS BIGINT) AS seg_furniture,
        |  CAST(SUM(CAST(c_mktsegment = 'HOUSEHOLD' AS BIGINT)) AS BIGINT) AS seg_household,
        |  CAST(SUM(CAST(c_mktsegment = 'MACHINERY' AS BIGINT)) AS BIGINT) AS seg_machinery,
        |  COUNT(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_union_align" ->
      """SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, NULL, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_dedup_keyed" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT user_id, event_type, event_id FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q_unique_pk_check" ->
      """WITH u AS (
        |  SELECT * FROM orders
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 500 = 0
        |)
        |SELECT o_orderkey, COUNT(*) AS dup_count FROM u
        |GROUP BY o_orderkey HAVING COUNT(*) > 1 ORDER BY o_orderkey""".stripMargin,

    "q_nonnull_pk_check" ->
      """SELECT
        |  CAST(SUM(CAST(CASE WHEN l_linenumber = 5 THEN NULL ELSE l_orderkey END
        |    IS NULL AS BIGINT)) AS BIGINT) AS null_pk1,
        |  CAST(SUM(CAST(l_linenumber IS NULL AS BIGINT)) AS BIGINT) AS null_l_linenumber,
        |  COUNT(*) AS n_rows
        |FROM lineitem""".stripMargin,

    "q_fk_check" ->
      """SELECT l_suppkey, COUNT(*) AS n_orphans FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM supplier
        |  WHERE s_suppkey = l_suppkey AND s_suppkey <= 7)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin
  )
}
