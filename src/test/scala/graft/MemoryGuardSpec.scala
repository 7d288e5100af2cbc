package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.sys.process._

import org.apache.spark.sql.functions._

/** Execution-level memory guard (VERDICT r6 #6): the 100 TB claims rest
  * on BOUNDED task state — HistogramQuantiles' domain-bounded value
  * histograms,
  * SpaceSaving's O(k) heavy hitters, bucketed two-pass global windows,
  * spillable window/sort state. PlanSpec pins those shapes in the PLAN;
  * this spec turns them into an EXECUTION fact:
  *
  *  - the fact tables are replicated 16× (key-offset perturbed, ~10M
  *    lineitem rows) so data-proportional state is far larger than the
  *    heap headroom;
  *  - the state-heavy queries run in a FORKED JVM with 512m heap (16×
  *    below the dev default) and only 2 shuffle partitions (per-task
  *    state maximized) and must complete;
  *  - a deliberately UNBOUNDED control (whole-group collect_list — a
  *    non-spillable aggregation buffer) must FAIL in the same harness,
  *    proving the green path is not vacuous.
  */
class MemoryGuardSpec extends SparkSpec {

  private val stateHeavy = Seq(
    // HistogramQuantiles family (the no-percentile-buffer claim)
    "q_mad_outlier", "q_winsorize", "q_quantiles_scalable", "q_median_scalable",
    // bucketed two-pass global windows (no single-task global sort)
    "q_global_rownum", "q_seq_packing",
    // per-key event windows (spillable frames) + SpaceSaving sketch.
    // The retrieval/DSIR family is deliberately NOT here: their
    // doc-/pair-keyed hash-agg state is corpus-proportional PER TASK by
    // design (standard shuffle aggregation — spillable at sane page
    // sizes, verified sub-linear in wall by the scaling probe, but not
    // a BOUNDED-task-state claim, and this harness's 512m/2-partition
    // setting denies even the aggregation's initial page)
    "q_sessionize", "q_rolling_1h", "q_token_topk")

  private val K = 16

  // 16×-replicated fact tables: keys offset per replica (joins/groups
  // grow linearly, no manufactured hot keys), document text
  // Caesar-shifted so the token universe grows too.
  private lazy val bigDir: String = {
    val dir = Files.createTempDirectory("graft-memguard-16x").toString
    val src = sf("sf0.1")
    def rep(name: String)(f: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit =
      (0 until K).map(i => f(Tables(spark, src, name), i))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    rep("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
    rep("events")((df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * 100000000L))
      .withColumn("user_id", col("user_id") + lit(i * 100000000L)))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    rep("documents")((df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(i * 100000L))
      .withColumn("text", translate(col("text"), alpha,
        alpha.drop(i % 26) + alpha.take(i % 26))))
    // remaining tables verbatim (loaders resolve per-table lazily)
    for (t <- Tables.all if !Set("lineitem", "events", "documents").contains(t))
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  private def runGuard(names: Seq[String]): (Int, String) = {
    val cmd = GraftSession.javaCommand("512m", Seq("-XX:+ExitOnOutOfMemoryError"),
      "graft.MemoryGuardMain", bigDir, names.mkString(","))
    val out = new StringBuilder
    val code = cmd.!(ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n')))
    (code, out.toString)
  }

  test("state-heavy queries complete on 16x data in a 512m-heap forked JVM") {
    val (code, out) = runGuard(stateHeavy)
    assert(code === 0,
      s"memory guard failed under -Xmx512m (bounded-state regression?):\n$out")
  }

  test("control: a whole-group non-spillable buffer FAILS the same harness") {
    val (code, out) = runGuard(Seq("__unbounded_buffer"))
    assert(code !== 0,
      "the unbounded-control query survived 512m on 16x data — the guard " +
        s"has lost its teeth (heap too large or data too small):\n$out")
  }
}
