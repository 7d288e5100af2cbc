package graft

import java.sql.{DriverManager, SQLException, Timestamp}
import java.util.Properties

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.load.{FplDdl, JdbcSink}
import graft.sources.{HttpExtract, HttpFetcher, JdkHttpFetcher, Sources}
import graft.transform.{FplSchemas, FplTransform}

/** §3.1 capstone — the reference's full wrapper
  * (etl/etl_full_wrapper.bash:10-32) as ONE program: extract (HTTP bulk +
  * per-player fan-out → landing JSON) → transform (11 typed tables +
  * validation, run_transform.py's `--raise-errors` switch carried
  * through) → load (constraint DDL + FK-ordered batch overwrite, then
  * the players_statuses/record APPENDS of run_load.py:205-223). Each
  * stage logs start/complete and any failure cancels the rest — the
  * wrapper's `exit 1` chain, surfaced as the exception from [[run]] (and
  * exit code 1 from [[main]]).
  *
  * Differences from the ref worth knowing: overwrite here is drop-ALL
  * (children first), create-ALL, load-ALL in one FK order — the ref
  * interleaves per-table DROP CASCADE + CREATE (etl/load.py:58-63),
  * which silently drops dependent FK constraints mid-sequence; one
  * topological pass needs no CASCADE at all and leaves every declared
  * constraint standing. Loads go through Spark's JDBC writer, so at
  * scale each table's insert parallelizes across executors.
  */
object EtlRun {

  final case class Result(
      mainPath: String, fixturesPath: String, playersPath: String,
      counts: Map[String, Long], gameweekNow: String)

  private def withStatement(url: String, props: Properties)(
      f: java.sql.Statement => Unit): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try { val st = conn.createStatement(); try f(st) finally st.close() }
    finally conn.close()
  }

  private def exec(url: String, props: Properties, sql: String): Unit =
    withStatement(url, props)(_.execute(sql))

  /** Execute, treating the given SQLStates as a no-op — the portable
    * IF EXISTS / IF NOT EXISTS emulation (Derby 42Y55 = no such table,
    * X0Y32 = already exists; Postgres 42P07 = duplicate table). */
  private def execTolerating(url: String, props: Properties, sql: String,
      states: Set[String]): Unit =
    try exec(url, props, sql)
    catch { case e: SQLException if states.contains(e.getSQLState) => () }

  /** The full chain. `raiseErrors` is run_transform's -r/--raise-errors:
    * true aborts on a failed validation check; false logs and continues
    * (the ref's default logs warnings). Returns landing paths + loaded
    * row counts so callers (and the e2e spec) can audit the run. */
  def run(spark: SparkSession, fetcher: HttpFetcher,
      staticUrl: String, fixturesUrl: String, playerUrlTemplate: String,
      landingDir: String, url: String, props: Properties,
      dialect: JdbcSink.Dialect, username: String,
      raiseErrors: Boolean = true,
      loadDatetime: Timestamp = new Timestamp(System.currentTimeMillis()),
      log: String => Unit = m => System.err.println(s"[etl] $m")): Result = {

    log("Performing ETL on fpl data...")

    // ---- extract (wrapper stage 1: run_extract.py) --------------------
    val (mainPath, fixturesPath, playersPath) = HttpExtract.extractAll(
      spark, fetcher, staticUrl, fixturesUrl, playerUrlTemplate,
      landingDir, FplSchemas.mainRaw)
    log("Extract complete")

    // ---- transform (stage 2: run_transform.py) ------------------------
    val tables = FplTransform.run(
      Sources.json(spark, fixturesPath, FplSchemas.fixturesRaw),
      Sources.json(spark, mainPath, FplSchemas.mainRaw),
      Sources.json(spark, playersPath, FplSchemas.playersRaw),
      warn = m => log(s"WARN $m"))
    FplTransform.validate(tables, raiseErrors = raiseErrors,
      warn = m => log(s"WARN $m"))
    log("Transform complete")

    // ---- load (stage 3: run_load.py:100-223) --------------------------
    if (dialect == JdbcSink.Derby) JdbcSink.registerDerbyDialect()
    val ordered = JdbcSink.loadOrder(FplDdl.all)
    // batch_overwrite across the DATA tables only: drop children-first
    // so no CASCADE is needed, then create + load parents-first. The
    // history pair (players_statuses, record) is never dropped — the
    // ref's batch_append contract (run_load.py:205-223)
    ordered.reverse.foreach(s => execTolerating(url, props,
      JdbcSink.dropDdl(s, dialect), Set("42Y55")))
    val counts = ordered.map { spec =>
      exec(url, props, JdbcSink.createTableDdl(spec, dialect))
      // persist around the write + audit-count pair: each table frame is
      // a JSON-parse + multi-join chain, and an uncached lineage would
      // execute it twice (once into JDBC, once for the count)
      val df = tables(spec.name)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        JdbcSink.write(df, url, spec.name,
          spec.schema.fieldNames.toSeq, props)
        spec.name -> df.count()
      } finally df.unpersist(blocking = false)
    }.toMap
    // batch_append pair: statuses history + the one-row audit record
    // (create-if-absent, never dropped by a data overwrite in the ref —
    // dropped above only because this runner owns the whole schema)
    // persisted for the same reason: written to JDBC, then read again
    // for gameweek_now below
    val statuses = JdbcSink.statusSnapshot(
      tables("players_summary"), tables("gameweeks"), loadDatetime)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gwNow =
      try {
        for (spec <- Seq(FplDdl.playersStatuses, FplDdl.record))
          execTolerating(url, props,
            JdbcSink.createTableDdl(spec, dialect), Set("X0Y32", "42P07"))
        JdbcSink.write(statuses, url, FplDdl.playersStatuses.name,
          FplDdl.playersStatuses.schema.fieldNames.toSeq, props,
          SaveMode.Append)
        statuses.select("gameweek_now").head.getString(0)
      } finally statuses.unpersist(blocking = false)
    JdbcSink.write(
      JdbcSink.auditRow(spark, gwNow, username, loadDatetime),
      url, FplDdl.record.name,
      FplDdl.record.schema.fieldNames.toSeq, props, SaveMode.Append)
    log("Load complete")

    log("...ETL on fpl data complete")
    Result(mainPath, fixturesPath, playersPath, counts, gwNow)
  }

  /** CLI shape mirrors the wrapper's three scripts folded into one:
    * EtlRun <staticUrl> <fixturesUrl> <playerUrlTemplate> <landingDir>
    *        <jdbcUrl> <username> [--raise-errors]
    * (run_load.py's host/port/db/user collapse into the JDBC URL). */
  def main(args: Array[String]): Unit = {
    if (args.length < 6) {
      System.err.println("usage: EtlRun <staticUrl> <fixturesUrl> " +
        "<playerUrlTemplate> <landingDir> <jdbcUrl> <username> [--raise-errors]")
      sys.exit(2)
    }
    val Array(staticUrl, fixturesUrl, playerTemplate, landingDir, url,
      username) = args.take(6)
    val raiseErrors = args.drop(6).contains("--raise-errors")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dialect =
      if (url.startsWith("jdbc:derby")) JdbcSink.Derby else JdbcSink.Postgres
    val props = new Properties()
    if (dialect == JdbcSink.Derby)
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    try run(spark, new JdkHttpFetcher(), staticUrl, fixturesUrl,
      playerTemplate, landingDir, url, props, dialect, username, raiseErrors)
    catch {
      case e: Throwable =>
        // the wrapper's "Error in <stage>. Cancelling." → exit 1
        System.err.println(s"[etl] Error: ${e.getMessage}. Cancelling.")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
