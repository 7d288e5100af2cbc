package perfbench

import java.nio.file.{Files, Paths}

/** Writes `expected/query_suite.tsv`: row count and content hash of every
  * `SparkEntry.queries` query (all of them, so that any query list can be
  * checked) over the table snapshot, through the same checksum sink
  * the benchmark times. Run it only on code whose outputs have been
  * compared with the DuckDB oracle (see perfbench/README.md), twice, and
  * keep the file only if both runs agree.
  *
  * Usage: RecordExpected <bench-dir> <run-dir> <out.tsv> */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val Array(bench, run, out) = args
    val opts = Opts("record", 0L, trace = false, Paths.get(run).toAbsolutePath,
      Paths.get(bench).toAbsolutePath, Paths.get(run).toAbsolutePath)
    val ctx = new Ctx(opts, new Tracer(false))
    ctx.spark = Main.session(opts)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.attach(ctx.spark)
    val dir = Inputs.stageTables(ctx, "tables")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { n =>
      graft.SparkEntry.queries(n)(ctx.spark, dir)
        .write.format(ChecksumSink.format).mode("overwrite").option("id", n).save()
      val (r, h) = ChecksumSink.take(n).get
      s"$n\t$r\t$h"
    }
    Files.writeString(Paths.get(out),
      "# query\trows\txxhash64 sum of UnsafeRow bytes (order-insensitive)\n" +
        rows.mkString("", "\n", "\n"))
    ctx.spark.stop()
  }
}
