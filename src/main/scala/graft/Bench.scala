package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver's BENCH_r{N}.json.
  *
  * Queries are forced through the noop sink (full materialization of
  * every output column — `count()` would let Catalyst prune the compute
  * we are trying to measure). Deterministic name order so per-query
  * timings are comparable across rounds.
  *
  * Measurement: one untimed warmup pass over the whole suite (JIT /
  * codegen-cache / parquet footers), then 3 timed SUITE passes and the
  * per-query MIN across passes. Single-run timings at sub-second query
  * cost are dominated by JIT, GC and scheduler noise (identical plans read
  * 2-4× apart between runs in round 1/2 experiments); the min is the
  * statistic that converges to the plan's actual cost, and the passes are
  * interleaved rather than per-query back-to-back so a transient stall
  * lands on different queries in different passes. The recorded
  * BASELINE.md numbers use this same methodology, so baseline and driver
  * runs are comparable.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    // 3 passes is the recorded-baseline methodology; the sf1 decade
    // rehearsal runs 1 (at 10x data per-pass noise is amortized by the
    // queries themselves, and 3 passes would triple an hour-long run)
    val timedPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // zero-codegen-fallback gate: an interpreted projection is a silent
    // perf regression — surface it in the record and in the exit code
    graft.quality.CodegenGuard.install()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // spill/peak-memory telemetry: proves constrained-memory runs really
    // exercised the spill paths, and documents that ordinary runs didn't
    val spill = new graft.quality.SpillMeter()
    spark.sparkContext.addSparkListener(spill)
    // Session warmup: JVM/codegen/parquet-footer costs are not query costs.
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    val errors = scala.collection.mutable.ListBuffer[String]()
    // optional comma-separated subset, for targeted perf iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          // record the failure: a broken query must not read as a fast one
          if (!errors.contains(name)) {
            errors += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          false
      }
    val ok = selected.filter { case (n, fn) => run(n, fn) } // warmup pass
    // a failed run records NO timing: its fast time-to-failure must not
    // enter the min, and a query with no successful pass must be absent
    // from the queries map (errors[] is its only record) — a broken query
    // must never read as a fast one
    val timings = Seq.fill(timedPasses) {
      ok.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        if (run(name, fn)) Some(name -> (System.nanoTime() - t0) / 1e9)
        else None
      }.toMap
    }
    val results = selected.flatMap { case (name, _) =>
      val ts = timings.flatMap(_.get(name))
      ts.minOption.map(name -> _)
    }
    // per-query spread across the timed passes: min is the headline
    // statistic, but recording max alongside it lets a later reader
    // separate run-to-run noise (wide spread) from a real plan
    // regression (tight spread at a higher level) without re-running
    val spreads = selected.flatMap { case (name, _) =>
      val ts = timings.flatMap(_.get(name))
      if (ts.isEmpty) None
      else Some(name -> (ts.min, ts.max))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spans = spreads.map { case (k, (lo, hi)) =>
      "\"" + k + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Capstone wall-times (VERDICT r10 item 3): the composed pipelines,
    // timed end-to-end so a regression in EtlRun/CurateRun — not just in
    // a per-query plan — shows in bench/results. min of 2 runs, same
    // noise rationale as the query passes. Off for targeted subsets
    // (SPARK_GRAFT_ONLY) and opt-out runs.
    // Capstones not run are RECORDED, not just stderr'd: a targeted or
    // opt-out record must be distinguishable from full coverage when a
    // later round diffs the JSON (ADVICE r13). Since round 14 the etl
    // fixture loads through ProxyJdbcServer (a loopback TCP endpoint over
    // in-memory Derby), so it runs under multi-JVM masters too — the old
    // non-local skip is gone.
    val skippedCapstones = scala.collection.mutable.ArrayBuffer[String]()
    val capstones =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_CAPSTONES").contains("off")) {
        skippedCapstones ++= Seq("curate", "etl")
        Map.empty[String, Double]
      } else {
        def minOf2(f: => Double, label: String): Option[Double] =
          try { val a = f; val b = f; Some(math.min(a, b)) }
          catch {
            case scala.util.control.NonFatal(e) =>
              errors += s"capstone_$label"
              System.err.println(s"[bench] capstone $label failed: ${e.getMessage}")
              None
          }
        (minOf2(BenchCapstones.curateSeconds(spark, sfDir), "curate")
          .map("curate" -> _) ++
         minOf2(BenchCapstones.etlSeconds(spark), "etl").map("etl" -> _)).toMap
      }
    val caps = capstones.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val skippedCaps = skippedCapstones.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cgf = graft.quality.CodegenGuard.count
    // listener bus is async: give straggler task-end events a beat to
    // land before reading the run totals (whole-run rounding error only)
    Thread.sleep(1000)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spans,"capstones":$caps,"skipped_capstones":$skippedCaps,"errors":$errs,"n_errors":${errors.size},"codegen_fallbacks":$cgf,${spill.reportJson},"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json keeps only the LAST ~2000 chars of
    // stdout and json-parses what it kept — the full line above is ~12 KB
    // (195 queries + spreads), so for 10 rounds the parsed field was
    // null and per-query history survived only in bench/results/. Print
    // a compact SUMMARY as the final line so the driver artifact parses:
    // headline total, error list, capstones, the slowest queries (2 dp),
    // and a pointer to the committed full record.
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 100) / 100.0) }
      .mkString("{", ",", "}")
    // errors truncated to 10 here (n_errors carries the true count): a
    // mass-DNF run would otherwise push this line past the ~2000-char
    // tail budget exactly when the parsed error list matters most
    val errsShort = errors.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val summary =
      s"""{"metric":"total","value":${math.round(total * 10) / 10.0},"unit":"sec","n_queries":${results.size},"capstones":$caps,"skipped_capstones":$skippedCaps,"errors":$errsShort,"n_errors":${errors.size},"codegen_fallbacks":$cgf,${spill.reportJson},"slowest":$slowest,"full_record":"bench/results/bench-latest.json","sf":"$sfDir"}"""
    // durable full per-query record (the driver's BENCH artifact keeps
    // only a tail — per-query history was being lost between rounds),
    // plus a fixed-path twin of the final stdout line, for any consumer
    // that prefers a file over tailing stdout
    BenchRecord.write("bench", line)
    BenchRecord.write("summary", summary)
    spark.stop()
    if (graft.quality.CodegenGuard.count > 0) {
      System.err.println(
        s"[bench] CODEGEN GUARD TRIPPED (${graft.quality.CodegenGuard.count} events):")
      graft.quality.CodegenGuard.captured.take(10)
        .foreach(l => System.err.println(s"[bench]   $l"))
    }
    // the compact summary is the ABSOLUTE FINAL stdout line: the driver
    // keeps the last ~2000 chars of stdout and json-parses the final line
    // — build.sbt routes forked run output straight to stdout and hides
    // sbt's own [success] trailer, and the root logger is switched OFF
    // here so a stray WARN from a JVM shutdown hook can't print after it
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    println(summary)
    // a DNF'd query or a codegen fallback is a red run — automation
    // keying on the exit code must not read it as green (the JSON lines
    // above are still printed)
    if (errors.nonEmpty || graft.quality.CodegenGuard.count > 0) sys.exit(2)
  }
}
