package graft.operators

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

import graft.{BenchCapstones, SparkSpec}

/** The Spread gate: spread a scan only when its row groups cannot feed
  * half the cores (SparkSpec runs local[4], so ≤ 2 row groups spread). */
class SpreadSpec extends SparkSpec {

  private def spreads(df: DataFrame): Boolean =
    Spread.byKey(df, col("k")).queryExecution.logical
      .collect { case r: RepartitionByExpression => r }.nonEmpty

  test("a frame with no input files passes through unspread") {
    // streaming micro-batches and createDataFrame frames have no input
    // files: the gate cannot estimate them and must not fire
    val df = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v")
    assert(df.inputFiles.isEmpty)
    assert(!spreads(df))
  }

  test("rewriting a parquet file with more row groups changes the decision") {
    val root = Files.createTempDirectory("graft-spread")
    val fixture = root.resolve("fixture.parquet")
    // one part file moved onto a fixed path, so both versions share it
    def writeFixture(rows: Int, blockBytes: Long): Unit = {
      val stage = root.resolve(s"stage-$rows").toString
      spark.range(rows).select(col("id").as("k"), sha2(col("id").cast("string"), 256).as("v"))
        .coalesce(1).write.option("parquet.block.size", blockBytes).parquet(stage)
      val part: Path = Files.list(java.nio.file.Paths.get(stage))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, fixture, StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      writeFixture(100, 128L * 1024 * 1024)
      assert(spreads(spark.read.parquet(fixture.toString)), "1 row group must spread")
      writeFixture(20000, 64L * 1024)
      assert(!spreads(spark.read.parquet(fixture.toString)),
        "the rewritten many-row-group file must not spread")
    } finally BenchCapstones.deleteRecursively(root.toFile)
  }
}
