package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** HistogramQuantiles must be BIT-IDENTICAL to the quantile_cont contract
  * it declares: value at rank p·(n−1) as `v[k1]·(1−frac) + v[k2]·frac`
  * (the exact expression DuckDB evaluates — Spark's own `percentile` uses
  * the algebraically-equal but ulp-different `v1 + frac·(v2−v1)`, so the
  * reference here is a whole-group sorted-array twin evaluating the
  * DECLARED shape, not the Percentile aggregate). Both entry points are
  * pinned: `exact` on raw rows, and `quantiles` on a (group, value,
  * weight) histogram of the same rows. The operator changes the access
  * path, never the answer (four declared queries' oracle hashes ride on
  * it). */
class HistogramQuantilesSpec extends SparkSpec {

  /** Whole-group reference: sort the group's non-null values into an
    * array and interpolate with the identical expression shape (test-only
    * — this IS the buffer the operator exists to avoid). One row per
    * group: `group`, `n` and one column per quantile. */
  private def reference(df: DataFrame, group: String, value: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val aggs = ps.map { case (nm, p) =>
      // CAST(... AS DOUBLE): a bare 0.05 literal parses as DECIMAL in
      // Spark SQL and would change the arithmetic
      val pos = s"(CAST($p AS DOUBLE) * CAST(size(vs) - 1 AS DOUBLE))"
      expr(
        s"""CASE WHEN size(vs) = 1 THEN element_at(vs, 1) ELSE
           |  element_at(vs, CAST(floor($pos) AS INT) + 1)
           |    * (CAST(1.0 AS DOUBLE) - ($pos - floor($pos)))
           |  + element_at(vs, CAST(ceil($pos) AS INT) + 1)
           |    * ($pos - floor($pos))
           |END""".stripMargin).as(nm)
    }
    df.filter(col(value).isNotNull)
      .groupBy(col(group))
      .agg(sort_array(collect_list(col(value).cast("double"))).as("vs"))
      .select(col(group) +: size(col("vs")).cast("long").as("n") +: aggs: _*)
  }

  /** `out` (one row per group: group, n, quantiles) equals the reference
    * bit-exactly, in values and in `n`, with no group missing. */
  private def assertMatches(out: DataFrame, rows: DataFrame, group: String,
      value: String, ps: Seq[(String, Double)]): Unit = {
    val ref = reference(rows, group, value, ps)
    val refCols = col(group) +: col("n").as("n_ref") +:
      ps.map { case (nm, _) => col(nm).as(s"${nm}_ref") }
    val mismatch = out.join(ref.select(refCols: _*), Seq(group), "full")
      .filter(ps.map { case (nm, _) =>
        // bit-exact; inputs are NaN-free, so null-safe equality is the test
        !(col(nm) <=> col(s"${nm}_ref"))
      }.reduceLeft(_ || _) || !(col("n") <=> col("n_ref")))
    assert(mismatch.count() === 0,
      s"quantile selection diverged from the sorted-array reference for $ps:\n" +
        mismatch.collect().take(5).mkString("\n"))
  }

  private def compareExact(rows: DataFrame, group: String, value: String,
      ps: Seq[(String, Double)]): Unit =
    assertMatches(HistogramQuantiles.exact(rows, group, value, ps),
      rows, group, value, ps)

  private def compareHistogram(rows: DataFrame, group: String, value: String,
      ps: Seq[(String, Double)]): Unit = {
    val vc = rows.filter(col(value).isNotNull)
      .groupBy(col(group), col(value)).agg(count(lit(1)).as("w"))
    assertMatches(HistogramQuantiles.quantiles(vc, group, value, "w", ps),
      rows, group, value, ps)
  }

  private val edgeRows: Seq[(String, Option[Double])] = Seq(
    ("solo", Some(42.0)),
    ("ties", Some(7.0)), ("ties", Some(7.0)), ("ties", Some(7.0)),
    ("mix", Some(1.0)), ("mix", Some(2.0)), ("mix", None),
    ("mix", Some(3.0)), ("mix", Some(4.0)))

  private def p25ByGroup(out: DataFrame): Map[String, (Long, Double)] =
    out.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  test("exact: lineitem price quartiles per return flag") {
    val li = Tables(spark, sf("sf0.001"), "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    compareExact(li, "l_returnflag", "l_extendedprice",
      Seq(("q25", 0.25), ("q50", 0.5), ("q75", 0.75)))
  }

  test("exact: customer balances incl. tail quantiles") {
    val c = Tables(spark, sf("sf0.001"), "customer")
      .select(col("c_mktsegment"), col("c_acctbal"))
    compareExact(c, "c_mktsegment", "c_acctbal",
      Seq(("p05", 0.05), ("p50", 0.5), ("p95", 0.95), ("p0", 0.0), ("p1", 1.0)))
  }

  test("exact: single-row groups, ties, nulls ignored") {
    import spark.implicits._
    val df = edgeRows.toDF("g", "v")
    compareExact(df, "g", "v", Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
    // spot-check the interpolation against hand-computed values
    val out = p25ByGroup(HistogramQuantiles.exact(df, "g", "v", Seq(("p25", 0.25))))
    assert(out("solo") === ((1L, 42.0)))
    assert(out("ties") === ((3L, 7.0)))
    assert(out("mix") === ((4L, 1.75))) // pos = 0.25·3 = 0.75 → 1 + 0.75·(2−1)
  }

  test("exact: n column counts non-null rows per group") {
    val li = Tables(spark, sf("sf0.001"), "lineitem")
    val n = HistogramQuantiles.exact(li, "l_returnflag", "l_quantity",
      Seq(("m", 0.5))).select(sum(col("n"))).head().getLong(0)
    assert(n === li.filter(col("l_quantity").isNotNull).count())
  }

  test("quantiles: integer cents per return flag") {
    val li = Tables(spark, sf("sf0.001"), "lineitem")
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    compareHistogram(li, "l_returnflag", "cents",
      Seq(("p05", 0.05), ("med", 0.5), ("p95", 0.95), ("p0", 0.0), ("p1", 1.0)))
  }

  test("quantiles: randomized heavy-tie weighted values") {
    import spark.implicits._
    // deterministic pseudo-random rows with heavy ties (small value
    // domain) — the histogram regime the operator exists for
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 7}"
      val v = ((i * 2654435761L) % 97 + 13).toDouble
      (g, v)
    }.toDF("g", "v")
    compareHistogram(rows, "g", "v", Seq(("q25", 0.25), ("med", 0.5), ("q75", 0.75)))
  }

  test("edge cases: single-value groups, all-ties, null values ignored") {
    import spark.implicits._
    val df = edgeRows.toDF("g", "v")
    compareHistogram(df, "g", "v", Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
    val vc = df.filter(col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("w"))
    val out = p25ByGroup(
      HistogramQuantiles.quantiles(vc, "g", "v", "w", Seq(("p25", 0.25))))
    assert(out("solo") === ((1L, 42.0)))
    assert(out("ties") === ((3L, 7.0)))
    assert(out("mix") === ((4L, 1.75))) // pos = 0.25·3 = 0.75 → 1 + 0.75·(2−1)
  }
}
