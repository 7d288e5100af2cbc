package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session builder, one forked-JVM command line, one record writer:
  * the shared conf reaches the session `GraftSession.builder` builds,
  * records land in a directory that did not exist yet, and no second
  * builder chain or JDK-opens list creeps back in. */
class GraftSessionSpec extends SparkSpec {

  test("a GraftSession.builder(4) session carries every shared conf value") {
    // SparkSpec.session is built by GraftSession.builder(4)
    val conf = spark.sparkContext.getConf
    val expected = Map(
      "spark.master" -> GraftSession.master(4),
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.checkpoint.compress" -> "true",
      "spark.sql.files.openCostInBytes" -> "131072",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    expected.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k = ${conf.getOption(k)}, want $v")
    }
  }

  private def listed(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("BenchRecord.write creates its directory and the stamped + latest files") {
    val root = Files.createTempDirectory("graft-record")
    val out = root.resolve("not/yet/there")
    BenchRecord.write("stream", """{"metric":"stream"}""", out.toString)
    val files = listed(out)
    assert(files.size == 2, files)
    assert(files.contains("stream-latest.json"), files)
    assert(files.exists(_.matches("""stream-\d{8}-\d{6}\.json""")), files)
    assert(Files.readString(out.resolve("stream-latest.json")) == """{"metric":"stream"}""")
    BenchCapstones.deleteRecursively(root.toFile)
  }

  test("BenchRecord.write with out=off writes nothing") {
    val default = Paths.get("bench/results")
    def records = if (Files.isDirectory(default)) listed(default) else Nil
    val before = records
    BenchRecord.write("stream", "{}", "off")
    assert(!Files.exists(Paths.get("off")))
    assert(records == before)
  }

  /** Scala sources under `src/` other than GraftSession.scala that
    * match `pattern`. */
  private def outsideGraftSession(pattern: scala.util.matching.Regex): Seq[Path] = {
    assert(Files.isDirectory(Paths.get("src/main/scala/graft")),
      s"scan must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
  }

  test("no SparkSession builder chain outside GraftSession.scala") {
    // assembled so this file does not match its own scan
    val offenders = outsideGraftSession(
      ("SparkSession" + """\s*\.\s*""" + "builder").r)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder instead: ${offenders.mkString(", ")}")
  }

  test("no --add-opens list outside GraftSession.scala") {
    // assembled so this file does not match its own scan
    val offenders = outsideGraftSession(("\"--add-" + "opens\"").r)
    assert(offenders.isEmpty,
      s"fork JVMs through GraftSession.javaCommand instead: ${offenders.mkString(", ")}")
  }
}
