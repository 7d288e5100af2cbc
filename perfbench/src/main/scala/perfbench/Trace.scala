package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds with sub-ms digits. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, op: String) {
  def ms: Double = endMs - startMs
}

/** What the listeners learned about one Spark job. */
final class JobRec(val id: Int, val op: String, val callShort: String,
    val callLong: String, val streamBatch: Long, val startMs: Long,
    val execIds: Seq[Long]) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L

  /** First library frame of the job's call site, e.g.
    * `graft.operators.DedupIndex$.update(DedupIndex.scala:120)`. */
  lazy val graftFrame: Option[String] =
    callLong.linesIterator.map(_.trim).find(_.startsWith("graft."))

  /** Library package the job was submitted from (`operators`, `queries`,
    * `streaming`, ..., `graft` for the top-level objects), or `harness`
    * when no library frame is on its call site: the benchmark's own
    * calls, and stages AQE submits from its own threads. */
  lazy val module: String =
    graftFrame.map(_.split('.')(1)).map(p => if (p.head.isLower) p else "graft")
      .getOrElse("harness")

  /** File of the call site when it is in `graft/operators`. */
  lazy val operatorFile: Option[String] =
    graftFrame.filter(_.startsWith("graft.operators.")).map(
      _.stripPrefix("graft.operators.").takeWhile(c => c != '$' && c != '.'))
}

/** One finished QueryExecution, as the QueryExecutionListener saw it. */
final case class QeRec(op: String,
    phases: Map[String, (Long, Long)], shuffles: Int, broadcasts: Int,
    repartitions: Int)

/** One streaming progress event. */
final case class Progress(query: String, batchId: Long, rows: Long,
    durations: Map[String, Long])

/** Records spans, jobs, planning phases and streaming progress for a run.
  *
  * Everything is observed from outside the library: the harness opens an
  * operation span around each call into a public entry point and tags the
  * call's Spark jobs with a job group; a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener registered on the
  * session supply the rest. Records stay in memory until the run ends.
  *
  * With `enabled = false` only the operation spans and job groups are
  * kept, so untraced runs follow the same code path without listeners. */
final class Tracer(val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble

  def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  /** Output path of each SQL execution that wrote files, by execution id. */
  private val writes = new ConcurrentHashMap[Long, String]()

  /** Where the SQL execution that ran `j` wrote its files, if it did. */
  def writePath(j: JobRec): Option[String] = j.execIds.flatMap(id => Option(writes.get(id))).headOption
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  @volatile private var currentOp: String = "setup"
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var session: SparkSession = _

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val group = prop("spark.jobGroup.id").getOrElse("")
      val op = if (group.startsWith("pb:")) group.stripPrefix("pb:") else currentOp
      // the call site Spark computed for the job is its stages' name and
      // details; a stream overrides it with the local properties
      val last = e.stageInfos.maxByOption(_.stageId)
      val rec = new JobRec(e.jobId, op,
        prop("callSite.short").orElse(last.map(_.name)).getOrElse(""),
        prop("callSite.long").orElse(last.map(_.details)).getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time,
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id").flatMap(prop).map(_.toLong))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageToJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Tracer.writePath(end).foreach(p => writes.put(end.executionId, p))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
          }
        }
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val plan = qe.executedPlan
      val shuffles = Plans.collectWithSubqueries(plan) { case s: ShuffleExchangeLike => s }
      val broadcasts = Plans.collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }
      qes.add(QeRec(currentOp, phases, shuffles.size, broadcasts.size,
        shuffles.count(_.shuffleOrigin == REPARTITION_BY_NUM)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(Option(p.name).getOrElse(""), p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  @volatile private var listening = false

  /** Bind to `spark`; in a traced run also register the listeners. */
  def attach(spark: SparkSession): Unit = {
    session = spark
    listen(enabled)
  }

  /** Register (`on`) or remove the listeners. A traced run removes them
    * for the passes it times as untraced, to measure tracing overhead. */
  def listen(on: Boolean): Unit = if (enabled && on != listening) {
    if (on) {
      session.sparkContext.addSparkListener(jobListener)
      session.listenerManager.register(qeListener)
      session.streams.addListener(streamListener)
    } else {
      drain()
      session.sparkContext.removeSparkListener(jobListener)
      session.listenerManager.unregister(qeListener)
      session.streams.removeListener(streamListener)
    }
    listening = on
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (listening) {
    val bus = session.sparkContext.getClass.getMethod("listenerBus").invoke(session.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run `body` as a span named `name`. A top-level span is an operation:
    * its jobs carry the job group `pb:<name>`. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val top = stack.isEmpty
    val op = if (top) name else currentOp
    if (top) {
      currentOp = name
      session.sparkContext.setJobGroup("pb:" + name, name, interruptOnCancel = false)
    }
    stack = id :: stack
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      spans.synchronized(spans += Span(id, parent, name, start, end, op))
      if (top) {
        // every event of this operation is delivered before the next one
        // starts, so QueryExecutionListener records attribute exactly
        drain()
        session.sparkContext.clearJobGroup()
        currentOp = "-"
      }
    }
  }

  /** Record a child span of the innermost open span, for an interval
    * the harness learned from a callback (a pipeline's stage log). */
  def mark(name: String, startMs: Double, endMs: Double): Unit = {
    val id = nextId
    nextId += 1
    spans.synchronized(spans += Span(id, stack.headOption.getOrElse(-1), name, startMs, endMs, currentOp))
  }

  /** Wall milliseconds of the most recent span called `name`. */
  def lastMs(name: String): Double =
    spans.synchronized(spans.reverseIterator.find(_.name == name).map(_.ms).getOrElse(0.0))

  def jobsOf(ops: Set[String]): Seq[JobRec] =
    jobs.values.asScala.filter(j => ops.contains(j.op)).toSeq.sortBy(_.id)

  def qesOf(ops: Set[String]): Seq[QeRec] = qes.asScala.filter(q => ops.contains(q.op)).toSeq

  def spansOf(ops: Set[String]): Seq[Span] =
    spans.synchronized(spans.filter(s => ops.contains(s.op)).toSeq)

  /** The span tree of `ops` with planning phases and jobs attached under
    * the innermost harness span that contains them, and each span's self
    * time (its duration minus the part its children cover). */
  def tree(ops: Set[String]): Seq[Map[String, Any]] = {
    val own = spansOf(ops)
    var id = own.map(_.id).maxOption.getOrElse(0) + 1
    def innermost(op: String, at: Double): Int =
      own.filter(s => s.op == op && s.startMs <= at && at <= s.endMs)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(-1)
    val phases = qesOf(ops).flatMap { q =>
      q.phases.toSeq.map { case (k, (s, e)) =>
        val sp = Span(id, innermost(q.op, s.toDouble), "catalyst." + k, s.toDouble, e.toDouble, q.op)
        id += 1
        sp
      }
    }
    val jobAttrs = mutable.Map[Int, Map[String, Any]]()
    val jobSpans = jobsOf(ops).map { j =>
      val end = if (j.endMs < 0) j.startMs else j.endMs
      val sp = Span(id, innermost(j.op, j.startMs.toDouble), s"job.${j.id}",
        j.startMs.toDouble, end.toDouble, j.op)
      jobAttrs(id) = Map("call_site" -> j.callShort, "module" -> j.module,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "stream_batch" -> j.streamBatch)
      id += 1
      sp
    }
    val all = own ++ phases ++ jobSpans
    val children = all.groupBy(_.parent)
    all.sortBy(s => (s.startMs, s.id)).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))).filter(x => x._2 > x._1)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> math.max(0.0, s.ms - Tracer.covered(kids))) ++
        jobAttrs.getOrElse(s.id, Map.empty)
    }
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def covered(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Output path of a finished file-writing SQL execution. The event's
    * QueryExecution is package-private to Spark, hence the reflection. */
  def writePath(end: SparkListenerSQLExecutionEnd): Option[String] =
    try {
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      Option(qe).flatMap(_.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Wall clock in epoch microseconds. */
  def epochUs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Janino compile time so far in this JVM, in milliseconds. */
  def compileMs: Double = CodeGenerator.compileTime / 1e6

  /** Totals over a set of jobs and query executions, named by layer. */
  def execLayer(jobs: Seq[JobRec], qes: Seq[QeRec], wallMs: Double, cores: Int): Map[String, Double] = {
    val run = jobs.map(_.runMs).sum.toDouble
    Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> jobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "exec.exchanges" -> qes.map(q => q.shuffles + q.broadcasts).sum.toDouble,
      "exec.repartition_exchanges" -> qes.map(_.repartitions).sum.toDouble,
      "exec.run_ms" -> run,
      "exec.cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> jobs.map(_.gcMs).sum.toDouble,
      "exec.busy_ratio" -> (if (wallMs > 0) run / (wallMs * cores) else 0.0),
      "exec.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "exec.peak_task_mem_mb" -> jobs.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
      "catalyst.analysis_ms" -> phaseMs(qes, "analysis"),
      "catalyst.optimizer_ms" -> phaseMs(qes, "optimization"),
      "catalyst.planning_ms" -> phaseMs(qes, "planning")) ++
      operatorJobs(jobs)
  }

  /** Milliseconds spent in one planning phase over `qes`. */
  def phaseMs(qes: Seq[QeRec], phase: String): Double =
    qes.flatMap(_.phases.get(phase)).map { case (s, e) => (e - s).toDouble }.sum

  /** Operator files whose job counts are reported by name. */
  val operatorFiles: Seq[String] = Seq("ConnectedComponents", "DedupIndex",
    "FrameCache", "GlobalRowNumber", "HistogramQuantiles", "GroupQuantiles",
    "IvfIndex", "Materialize", "ShardedExport", "VectorIndex")

  def operatorJobs(jobs: Seq[JobRec]): Map[String, Double] = {
    val byFile = jobs.flatMap(_.operatorFile).groupBy(identity).view.mapValues(_.size).toMap
    operatorFiles.map(f => s"operators.jobs.$f" -> byFile.getOrElse(f, 0).toDouble).toMap +
      ("operators.jobs.other" -> byFile.filter { case (f, _) => !operatorFiles.contains(f) }
        .values.sum.toDouble)
  }
}
