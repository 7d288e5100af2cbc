package perfbench

import java.sql.{DriverManager, SQLException, Timestamp}
import java.util.Properties

import scala.util.control.NonFatal

import graft.{CurateRun, EtlRun, Tables}
import graft.load.{JdbcSink, ProxyJdbcDriver, ProxyJdbcServer}
import graft.sources.JdkHttpFetcher

/** `batch_pipelines`: rounds of one `EtlRun.run` and one `CurateRun.run`.
  *
  * EtlRun extracts a seeded, season-sized FPL API from an in-JVM endpoint
  * (one bulk call, the fixtures call and a ~600-call per-player fan-out),
  * transforms and validates it (`raiseErrors = true`) and loads it through
  * `ProxyJdbcServer` into a fresh in-memory Derby database. CurateRun
  * curates the snapshot's `documents` into a fresh directory, which
  * persists a new LSH index. A round passes only if every loaded table
  * holds the row count the generator implies and CurateRun's manifest
  * equals the expected stage counts.
  *
  * The first round is the cold one and two warm rounds follow; in a
  * traced run the second warm round is traced. Stage times come from the
  * pipelines' own log callbacks. */
final class BatchPipelines extends Workload {
  import BatchPipelines.Round
  private var season: FplSeason = _
  private var dir: String = _
  private var expectedCurate: Seq[(String, Long)] = _
  private val loadTime = Timestamp.valueOf("2024-12-28 10:00:00")

  def setup(ctx: Ctx): Unit = {
    season = new FplSeason(ctx.opts.seed)
    expectedCurate = Inputs.lines(ctx.opts.expectedDir.resolve("curate_run.tsv")).map { l =>
      val Array(stage, n) = l.split("\t")
      stage -> n.toLong
    }
    dir = Inputs.stageTables(ctx, "tables")
    Tables(ctx.spark, dir, "documents").count()
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    ProxyJdbcDriver.ensureRegistered()
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val api = new FplApi(season, ctx.opts.cores)
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    var attempted = 0

    /** Log callback turning a pipeline's progress lines into stage spans. */
    final class Stages(first: String) {
      private var last = tr.nowMs
      private var stage = first
      val ms = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      def close(next: String): Unit = {
        val now = tr.nowMs
        tr.mark(stage, last, now)
        ms += stage -> (now - last)
        last = now
        stage = next
      }
    }

    def etl(label: String): (Double, Seq[(String, Double)], Map[String, Long]) = {
      val db = s"etl_$label"
      val backend = new Properties()
      backend.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val proxy = new ProxyJdbcServer(s"jdbc:derby:memory:$db;create=true", backend)
      attempted += 1
      try {
        val op = s"$label/etl"
        val st = new Stages("extract")
        tr.span(op) {
          EtlRun.run(ctx.spark, new JdkHttpFetcher(),
            s"${api.base}/api/bootstrap-static/", s"${api.base}/api/fixtures/",
            s"${api.base}/api/element-summary/%d/", ctx.dir(s"landing-$label"),
            proxy.url, proxy.clientProps, JdbcSink.Derby, username = "perfbench",
            raiseErrors = true, loadDatetime = loadTime,
            log = {
              case "Extract complete" => st.close("transform")
              case "Transform complete" => st.close("load")
              case "Load complete" => st.close("done")
              case _ => ()
            })
        }
        val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
        val rows = try season.expected.keys.map { t =>
          val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
          rs.next()
          t -> rs.getLong(1)
        }.toMap finally conn.close()
        if (rows != season.expected) errors += s"$op: loaded rows $rows, expected ${season.expected}"
        (tr.lastMs(op), st.ms.toSeq, rows)
      } catch {
        case NonFatal(e) =>
          errors += s"$label/etl: ${e.getClass.getSimpleName}: ${e.getMessage}"
          (0.0, Nil, Map.empty)
      } finally {
        proxy.stop()
        try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
        catch { case _: SQLException => () } // 08006: dropped
      }
    }

    def curate(label: String): (Double, Seq[(String, Double)]) = {
      attempted += 1
      val op = s"$label/curate"
      try {
        val st = new Stages(Layers.curateStages.head)
        val stageNames = Layers.curateStages.iterator.drop(1)
        val res = tr.span(op) {
          CurateRun.run(ctx.spark, dir, ctx.dir(s"curate-$label"), log = line => {
            val name = line.takeWhile(_ != ' ')
            if (Layers.curateStages.contains(name))
              st.close(if (stageNames.hasNext) stageNames.next() else "done")
          })
        }
        val manifest = ctx.spark.read.parquet(res.manifestPath).orderBy("stage_idx")
          .collect().map(r => r.getString(1) -> r.getLong(2)).toSeq
        if (manifest != expectedCurate || res.counts != expectedCurate)
          errors += s"$op: manifest $manifest, expected $expectedCurate"
        (tr.lastMs(op), st.ms.toSeq)
      } catch {
        case NonFatal(e) =>
          errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
          (0.0, Nil)
      }
    }

    def round(label: String, traced: Boolean): Round = {
      tr.listen(traced)
      val req0 = api.requests.get
      val bytes0 = api.bytes.get
      val compile0 = Tracer.compileMs
      val (etlMs, etlStages, rows) = etl(label)
      val req = api.requests.get - req0
      val bytes = api.bytes.get - bytes0
      val (curateMs, curateStages) = curate(label)
      val r = Round(label, traced, etlMs, curateMs, etlStages ++ curateStages,
        req, bytes, rows, Tracer.compileMs - compile0)
      ctx.sampleHeap()
      r
    }

    val rounds =
      try {
        val cold = round("cold", traced = tr.enabled)
        val warm = Seq(round("warm1", traced = false), round("warm2", traced = tr.enabled))
        tr.listen(false)
        cold +: warm
      } finally api.stop()
    val cold = rounds.head
    val timed = rounds.tail.filter(!_.traced)
    val e2e = Map(
      "cold_s" -> cold.wallMs / 1000,
      // the fastest warm EtlRun plus the fastest warm CurateRun:
      // interference on a shared host only ever slows a run down
      "warm_s" -> (timed.map(_.etlMs).min + timed.map(_.curateMs).min) / 1000)
    val named = Seq(
      ("etl_s", Stats.median(timed.map(_.etlMs)) / 1000, "s", timed.size),
      ("curate_s", Stats.median(timed.map(_.curateMs)) / 1000, "s", timed.size),
      ("etl_cold_s", cold.etlMs / 1000, "s", 1),
      ("curate_cold_s", cold.curateMs / 1000, "s", 1),
    ) ++ timed.head.stageMs.map(_._1).map { st =>
      (s"stage_ms.$st", Stats.median(timed.flatMap(_.stageMs.filter(_._1 == st).map(_._2))), "ms", timed.size)
    }
    val sides = Map(
      "frame_cache" -> "not used: CurateRun persists its LSH index under its own output directory",
      "spread_gate" -> "CurateRun's DedupIndex build scans a single-row-group documents file: the gate fires")

    val (layers, counts) =
      if (!tr.enabled) (Map.empty[String, Double], Map[String, Any](
        "http_requests" -> cold.requests, "load_rows" -> cold.rows.values.sum))
      else {
        val last = rounds.filter(_.traced).last
        val etlOp = s"${last.label}/etl"
        val curateOp = s"${last.label}/curate"
        val ops = Set(etlOp, curateOp)
        val jobs = tr.jobsOf(ops)
        val spans = tr.spansOf(ops)
        def stage(op: String, name: String) = spans.find(s => s.op == op && s.name == name)
        def stageMs(op: String, name: String) = stage(op, name).map(_.ms).getOrElse(0.0)
        def stageJobs(op: String, name: String) = stage(op, name).map(s =>
          jobs.count(j => j.op == op && s.startMs <= j.startMs && j.startMs <= s.endMs)).getOrElse(0)
        val coverage = spans.filter(_.parent == -1).map { o =>
          Tracer.covered(spans.filter(_.parent == o.id).map(k => (k.startMs, k.endMs))) / o.ms
        }
        val l = Tracer.execLayer(jobs, tr.qesOf(ops), last.wallMs, ctx.opts.cores) ++ Map(
          "codegen.compile_ms" -> last.compileMs,
          "codegen.cold_compile_ms" -> cold.compileMs,
          "codegen.fallbacks" -> graft.quality.CodegenGuard.count.toDouble,
          "sources.extract_ms" -> stageMs(etlOp, "extract"),
          "sources.http_requests" -> last.requests.toDouble,
          "sources.http_bytes" -> last.bytes.toDouble,
          "transform.ms" -> stageMs(etlOp, "transform"),
          "transform.jobs" -> stageJobs(etlOp, "transform").toDouble,
          "load.ms" -> stageMs(etlOp, "load"),
          "load.jobs" -> stageJobs(etlOp, "load").toDouble,
          "load.rows" -> last.rows.values.sum.toDouble,
          "curate.jobs" -> jobs.count(_.op == curateOp).toDouble,
          "trace.overhead_ratio" -> last.wallMs / Stats.median(timed.map(_.wallMs)),
          "trace.span_coverage" -> coverage.minOption.getOrElse(0.0)) ++
          Layers.curateStages.map(s => s"curate.stage_ms.$s" -> stageMs(curateOp, s))
        val c = Map[String, Any](
          "http_requests" -> last.requests,
          "load_rows" -> last.rows,
          "jobs_per_op" -> Map("etl" -> jobs.count(_.op == etlOp), "curate" -> jobs.count(_.op == curateOp)))
        (l, c)
      }
    Outcome(attempted, errors.size, errors.toSeq, e2e, named, layers, counts, sides)
  }
}

object BatchPipelines {
  private final case class Round(label: String, traced: Boolean, etlMs: Double,
      curateMs: Double, stageMs: Seq[(String, Double)],
      requests: Long, bytes: Long, rows: Map[String, Long], compileMs: Double) {
    def wallMs: Double = etlMs + curateMs
  }
}
