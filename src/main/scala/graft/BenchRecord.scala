package graft

import java.nio.file.{Files, Paths}

/** Durable run records: the driver keeps only a tail of stdout, so every
  * bench main also writes its JSON line to `<prefix>-<stamp>.json` plus a
  * fixed-path `<prefix>-latest.json` twin.
  *
  * SPARK_GRAFT_BENCH_OUT redirects the directory (default `bench/results`,
  * relative to the working directory); `off` writes nothing.
  */
object BenchRecord {

  private val configured = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/results")

  /** Never throws: a record that cannot be written is reported on stderr
    * and the run's stdout line still stands. */
  def write(prefix: String, line: String, out: String = configured): Unit =
    if (out != "off") try {
      val dir = Paths.get(out)
      Files.createDirectories(dir)
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd-HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      Files.writeString(dir.resolve(s"$prefix-$stamp.json"), line)
      Files.writeString(dir.resolve(s"$prefix-latest.json"), line)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[$prefix] durable record skipped: ${e.getMessage}")
    }
}
