package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Input staging shared by the workloads. */
object Inputs {

  /** Copy the table snapshot into a fresh directory of the run. The
    * copies get new modification times, so FrameCache keys built from
    * the source stamp never match assets of an earlier run. */
  def stageTables(ctx: Ctx, name: String): String = {
    val dst = Path.of(ctx.dir(name))
    val files = Files.list(ctx.opts.dataDir)
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
    dst.toString
  }

  /** Lines of a benchmark data file, without `#` comments and blank lines. */
  def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSeq

  /** Number of `asset-*` directories published in the FrameCache root. */
  def frameCacheAssets(): Int = {
    val root = Path.of(graft.operators.FrameCache.root)
    val s = Files.list(root)
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("asset-"))
    finally s.close()
  }

  /** Parquet row groups of `file`: the input of the Spread gate. */
  def rowGroups(file: String): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.size() finally r.close()
  }
}
