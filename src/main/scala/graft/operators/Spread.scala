package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-gated pipeline spread for CPU-dense post-scan work (round 15,
  * VERDICT r14 items 1/9 — the per-pipeline form of the fix the blanket
  * `Tables`-level redistribution could not be).
  *
  * Parquet scan parallelism is row-group bounded: a table written as one
  * file × one row group scans as ONE task however many cores the session
  * has, and whole-stage codegen fuses the tokenize/shingle/explode front
  * onto that serial task (round-14 finding F1 — the three ~1.1 s
  * single-task jobs in q_dsir_select). Where the post-scan work is heavy
  * per input byte, an explicit exchange right after the scan moves it
  * onto every core for one cheap pass of the raw bytes.
  *
  * The gate makes this scale-adaptive rather than a local[32] constant
  * (optimization-guide §2.5 "input skew → repartition after the read",
  * §6 split sizing): the spread fires ONLY when the input's parquet
  * row-group count cannot feed at least half the cores — at production
  * scale a 100 TB table has orders of magnitude more row groups than the
  * cluster has cores, the gate reads false from the same footers the
  * scan planner uses, and the query keeps its unspread shape (no extra
  * corpus-sized exchange). The partition count is
  * `defaultParallelism`-derived — FIXED, because AQE's coalescing
  * decides by shuffle BYTES and would re-serialize a byte-light but
  * CPU-dense stage (the round-14 minPartitionSize experiment measured
  * exactly that failure mode from the config side).
  *
  * Values are unchanged by construction: a deterministic hash
  * repartition neither adds, drops, nor reweights rows, and every
  * downstream sampled decomposition in this library is
  * partitioning-consistent (RangeBuckets: boundary-independent answers;
  * shared boundary frames are pinned by their existing cuts).
  */
object Spread {

  /** Parquet row-group counts are stable per file VERSION — footer reads
    * are cached for the JVM (bench reruns the same fixture paths 4×),
    * keyed by (path, length, modification time) so a rewritten file is
    * re-read. */
  private val rgCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Integer]()

  private def rowGroups(df: DataFrame, file: String): Long =
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val path = new org.apache.hadoop.fs.Path(file)
      val st = path.getFileSystem(conf).getFileStatus(path)
      rgCache.computeIfAbsent((file, st.getLen, st.getModificationTime), { _ =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try Int.box(r.getFooter.getBlocks.size())
        finally r.close()
      }).longValue
    } catch {
      // non-parquet / unreadable input: assume splittable (no spread);
      // not cached — a transient read failure must not pin the decision
      case scala.util.control.NonFatal(_) => Int.MaxValue
    }

  /** Max useful scan parallelism for `df`'s input files, row-group
    * bounded; Int.MaxValue when it cannot be estimated. Short-circuits
    * file-count-first so a production table with thousands of files
    * never reads a footer. Long, so callers' arithmetic cannot wrap. */
  private def estScanTasks(df: DataFrame, cores: Int): Long = {
    val files = df.inputFiles
    if (files.length >= cores) files.length
    else if (files.isEmpty) Int.MaxValue // derived frame: cannot estimate
    else {
      var est = 0L
      files.foreach { f =>
        if (est < cores) est += rowGroups(df, f)
      }
      est
    }
  }

  /** `df` hash-repartitioned on `key` across all cores IFF its scan
    * cannot feed at least half of them; identity otherwise. Place it
    * between a scan and a CPU-dense front (tokenize/shingle/minhash/
    * gram-explode), never above partial aggregations — the round-14
    * blanket A/B proved an exchange after agg-shaped fronts costs more
    * than it recovers (§2.3 "aggregate before you shuffle"). */
  def byKey(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (estScanTasks(df, cores) * 2 <= cores) df.repartition(cores, key)
    else df
  }
}
