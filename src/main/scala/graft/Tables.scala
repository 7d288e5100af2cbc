package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the benchmark tables (TESTDATA.md).
  *
  * Scale notes: each table is a plain parquet scan — at cluster scale these
  * would be partitioned/bucketed datasets; all queries below are written so
  * Catalyst can push filters + prune columns into this scan (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") normalizeEvents(spark, path)
    else spark.read.parquet(path)
  }

  /** events.ts → canonical nanoseconds-since-epoch LongType, whatever
    * physical type the parquet carries. Testdata generations have shipped
    * `ts` as TIMESTAMP(NANOS) (Spark 4 refuses it unless read as a raw
    * long) and as TIMESTAMP_MICROS with isAdjustedToUTC=false (loads as
    * TIMESTAMP_NTZ). Downstream code and every DuckDB oracle assume the
    * nanos-long form (`ts DIV 1000` == DuckDB `epoch_ns(ts)//1000`), so
    * the drift is absorbed here, once. The NTZ→long conversion uses
    * `timestampdiff` against an NTZ epoch literal: timezone-free, exact
    * to the microsecond, and matches DuckDB's `epoch_ns` on the same
    * file bit-for-bit.
    */
  private def normalizeEvents(spark: SparkSession, path: String): DataFrame = {
    val df =
      try spark.read.parquet(path)
      catch {
        case e: Exception if isNanosParquetError(e) =>
          // Legacy TIMESTAMP(NANOS) data: only readable as a raw long
          // under spark.sql.legacy.parquet.nanosAsLong. The conf is
          // consulted at scan EXECUTION, not at read() — so the frame is
          // materialized (Materialize.cut) while the conf is scoped, and
          // the session conf is restored before returning: no later read
          // in the session can silently inherit nanos-as-long semantics
          // (that would mask exactly the drift TableSchemaSpec exists to
          // catch). The materialization cost is confined to this legacy
          // escape hatch; at cluster scale, legacy nanos data should be
          // converted once by a dedicated job instead.
          val key = "spark.sql.legacy.parquet.nanosAsLong"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, "true")
          try graft.operators.Materialize.cut(spark.read.parquet(path))
          finally prev match {
            case Some(v) => spark.conf.set(key, v)
            case None    => spark.conf.unset(key)
          }
      }
    df.schema("ts").dataType match {
      case LongType => df // already nanos-since-epoch
      case TimestampNTZType =>
        df.withColumn(
          "ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
      case TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other; expected long nanos, " +
            "TIMESTAMP_NTZ, or TIMESTAMP — update Tables.normalizeEvents")
    }
  }

  /** True when the failure is Spark refusing a TIMESTAMP(NANOS) parquet
    * column. Primary match is the Spark error condition
    * (ILLEGAL_PARQUET_TYPE — stable across versions, per ADVICE r6);
    * the message-substring check is kept as a fallback for versions
    * that wrap the error without the condition. */
  private def isNanosParquetError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5).exists { t =>
      val condition = t match {
        case st: org.apache.spark.SparkThrowable => Option(st.getCondition)
        case _ => None
      }
      (condition.contains("ILLEGAL_PARQUET_TYPE") &&
        Option(t.getMessage).exists(_.contains("NANOS"))) ||
        Option(t.getMessage).exists(_.contains("TIMESTAMP(NANOS"))
    }

  /** events.ts (canonical nanos long) → microseconds-since-epoch (the
    * precision DuckDB and Spark share; oracle side is `epoch_ns(ts)//1000`,
    * which DuckDB evaluates identically on both nanos and micros parquet). */
  def tsMicros: Column = expr("ts DIV 1000")
}
