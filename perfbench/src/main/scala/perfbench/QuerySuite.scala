package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_suite`: the listed `SparkEntry.queries` (`queries.txt`, or all
  * of them with `--queries all`), one at a time, each into the checksum
  * sink (read-only; plans like the noop sink).
  *
  * A run does one cold pass (empty FrameCache root, empty codegen cache)
  * and then three warm passes.
  * `cold_s` is the cold pass's wall; `warm_s` sums each query's fastest
  * warm execution; the median warm pass wall is printed as `suite_s`.
  * The seed permutes the query order of every warm pass. The cold pass
  * keeps the file order: which code the JIT compiler sees first then
  * does not differ between seeds, and warm passes vary much less. Every execution is
  * checked against the expected row count and content hash; a mismatch or
  * an exception counts as a failed operation.
  *
  * A traced run does two warm passes, the first untraced and the second
  * traced; the ratio of their sums over queries is the tracing overhead. */
final class QuerySuite extends Workload {
  private var dir: String = _
  private var names: Seq[String] = _
  private var expected: Map[String, (Long, Long)] = _
  private val fns: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  def setup(ctx: Ctx): Unit = {
    expected = Inputs.lines(ctx.opts.expectedDir.resolve("query_suite.tsv")).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash.toLong)
    }.toMap
    names = if (ctx.opts.queries == "all") fns.keys.toSeq.sorted
      else Inputs.lines(java.nio.file.Path.of(ctx.opts.queries))
    val unknown = names.filterNot(n => fns.contains(n) && expected.contains(n))
    require(unknown.isEmpty, s"queries without a function or expected value: $unknown")
    dir = Inputs.stageTables(ctx, "tables")
    graft.Tables.all.foreach(t => graft.Tables(ctx.spark, dir, t).count())
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val rng = new scala.util.Random(ctx.opts.seed)
    var attempted = 0
    val errors = scala.collection.mutable.ArrayBuffer[String]()

    /** FrameCache assets and codegen ms of each execution, by operation. */
    val built = scala.collection.mutable.Map[String, (Int, Double)]()

    /** One query execution; returns its wall ms, or None when it failed. */
    def execute(pass: String, name: String): Option[Double] = {
      val op = s"$pass/$name"
      attempted += 1
      val assets0 = Inputs.frameCacheAssets()
      val compile0 = Tracer.compileMs
      try {
        tr.span(op) {
          val df = tr.span("construct")(fns(name)(ctx.spark, dir))
          tr.span("execute") {
            df.write.format(ChecksumSink.format).mode("overwrite").option("id", op).save()
          }
        }
        built(op) = (Inputs.frameCacheAssets() - assets0, Tracer.compileMs - compile0)
        val got = ChecksumSink.take(op)
        if (got.contains(expected(name))) Some(tr.lastMs(op))
        else {
          errors += s"$op: checksum $got, expected ${expected(name)}"
          None
        }
      } catch {
        case NonFatal(e) =>
          errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    final case class Pass(label: String, traced: Boolean, wallMs: Double,
        queryMs: Map[String, Double], fallbacks: Int) {
      private def sum(f: ((Int, Double)) => Double) =
        names.flatMap(n => built.get(s"$label/$n")).map(f).sum
      def assets: Int = sum(_._1.toDouble).toInt
      def compileMs: Double = sum(_._2)
    }

    def pass(label: String, traced: Boolean): Pass = {
      tr.listen(traced)
      val fallbacks0 = graft.quality.CodegenGuard.count
      val t0 = System.nanoTime()
      val order = if (label == "cold") names else rng.shuffle(names)
      val ms = order.flatMap(n => execute(label, n).map(n -> _)).toMap
      val wall = (System.nanoTime() - t0) / 1e6
      Pass(label, traced, wall, ms, graft.quality.CodegenGuard.count - fallbacks0)
    }

    val cold = pass("cold", traced = tr.enabled)
    ctx.sampleHeap()
    val warm = if (tr.enabled) Seq(pass("warm1", traced = false), pass("warm2", traced = true))
      else (1 to 3).map(i => pass(s"warm$i", traced = false))
    tr.listen(false)
    ctx.sampleHeap()

    val timed = warm.filter(!_.traced)
    val queryMs = timed.flatMap(_.queryMs.values)
    val (tailP, tailMs) = Stats.tail(queryMs)
    val suiteS = Stats.median(timed.map(_.wallMs)) / 1000
    // the gated warm figure: per query the fastest warm execution, summed.
    // Interference on a shared host only ever slows a run down, and it
    // rarely hits one query in every pass, so the minimum is the statistic
    // it moves least (graft.Bench records per-query minimums too)
    def best(ps: Seq[Pass]) = names.map(n => n -> ps.flatMap(_.queryMs.get(n)).minOption).toMap
    val bestMs = best(timed)
    val warmS = bestMs.values.flatten.sum / 1000
    val e2e = Map("cold_s" -> cold.wallMs / 1000, "warm_s" -> warmS)
    val named = Seq(
      ("suite_s", suiteS, "s", timed.size),
      ("suite_best_s", warmS, "s", timed.size),
      ("suite_cold_s", cold.wallMs / 1000, "s", 1),
      ("query_p50_ms", Stats.median(queryMs), "ms", queryMs.size),
      (s"query_tail_ms(p$tailP)", tailMs, "ms", queryMs.size))

    val docs = java.nio.file.Path.of(dir, "documents.parquet").toString
    val rowGroups = Inputs.rowGroups(docs)
    val sides = Map(
      "frame_cache" -> s"cold pass built ${cold.assets} assets; warm passes built ${warm.map(_.assets).sum}",
      "spread_gate" -> (s"scans of single files with $rowGroups row group(s) on ${ctx.opts.cores} cores: " +
        (if (rowGroups * 2 <= ctx.opts.cores) "the gate fires" else "the gate stays shut")))

    val (layers, counts) =
      if (!tr.enabled) (Map.empty[String, Double],
        Map("pass_s" -> (cold +: warm).map(_.wallMs / 1000),
          "best_ms" -> bestMs.collect { case (k, Some(v)) => k -> v },
          "cold_ms" -> cold.queryMs))
      else {
        val tracedWarm = warm.filter(_.traced)
        val last = tracedWarm.last
        val ops = names.map(n => s"${last.label}/$n").toSet
        val jobs = tr.jobsOf(ops)
        val spans = tr.spansOf(ops)
        val construct = spans.filter(_.name == "construct")
        def within(ss: Seq[Span], t: Long) = ss.exists(s => s.startMs <= t && t <= s.endMs)
        val opSpans = spans.filter(s => s.parent == -1)
        // construct + execute spans against each query's traced wall
        val coverage = opSpans.map { o =>
          val kids = spans.filter(_.parent == o.id).map(k => (k.startMs, k.endMs))
          Tracer.covered(kids) / o.ms
        }
        val l = Tracer.execLayer(jobs, tr.qesOf(ops), last.wallMs, ctx.opts.cores) ++ Map(
          "queries.construct_ms" -> construct.map(_.ms).sum,
          "queries.construct_jobs" -> jobs.count(j => within(construct, j.startMs)).toDouble,
          "queries.cold_construct_ms" -> tr.spansOf(names.map(n => s"cold/$n").toSet)
            .filter(_.name == "construct").map(_.ms).sum,
          "codegen.compile_ms" -> last.compileMs,
          "codegen.cold_compile_ms" -> cold.compileMs,
          "codegen.fallbacks" -> (cold.fallbacks + warm.map(_.fallbacks).sum).toDouble,
          "operators.FrameCache.assets_built" -> last.assets.toDouble,
          "operators.FrameCache.cold_assets_built" -> cold.assets.toDouble,
          // the traced pass over the untraced one before it
          "trace.overhead_ratio" -> best(tracedWarm).values.flatten.sum / 1000 / warmS,
          "trace.span_coverage" -> coverage.minOption.getOrElse(0.0))
        val qes = tr.qesOf(ops)
        // one row per query: its layers in the last traced warm pass and
        // the cold pass (compare_subset.py reads these)
        def perQuery(n: String) = {
          val op = s"${last.label}/$n"
          val js = jobs.filter(_.op == op)
          val q = qes.filter(_.op == op)
          Map("warm_ms" -> spans.find(s => s.op == op && s.parent == -1).map(_.ms).getOrElse(0.0),
            "construct_ms" -> construct.filter(_.op == op).map(_.ms).sum,
            "jobs" -> js.size,
            "catalyst_ms" -> Seq("analysis", "optimization", "planning").map(Tracer.phaseMs(q, _)).sum,
            "exchanges" -> q.map(x => x.shuffles + x.broadcasts).sum,
            "run_ms" -> js.map(_.runMs).sum,
            "operator_jobs" -> js.flatMap(_.operatorFile).groupBy(identity).view.mapValues(_.size).toMap,
            "cold_ms" -> cold.queryMs.getOrElse(n, 0.0),
            "cold_jobs" -> tr.jobsOf(Set(s"cold/$n")).size,
            "cold_assets" -> built.get(s"cold/$n").map(_._1).getOrElse(0),
            "cold_compile_ms" -> built.get(s"cold/$n").map(_._2).getOrElse(0.0))
        }
        val c = Map(
          "jobs_per_query" -> names.sorted.map(n =>
            n -> jobs.count(_.op == s"${last.label}/$n")).toMap,
          "cold_jobs_per_query" -> names.sorted.map(n =>
            n -> tr.jobsOf(Set(s"cold/$n")).size).toMap,
          "frame_cache_assets_built" -> cold.assets,
          "per_query" -> names.sorted.map(n => n -> perQuery(n)).toMap)
        (l, c)
      }
    Outcome(attempted, errors.size, errors.toSeq, e2e, named, layers, counts, sides)
  }
}
