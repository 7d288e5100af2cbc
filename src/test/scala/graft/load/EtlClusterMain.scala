package graft.load

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.Properties

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.{EtlRun, GraftSession}
import graft.sources.JdkHttpFetcher
import graft.transform.FplRawFixtures

/** Forked entry point for EtlProxyClusterSpec: boots a `local-cluster`
  * SparkSession (every executor a SEPARATE JVM), a [[ProxyJdbcServer]] over
  * in-memory Derby, and the fixture HTTP endpoint, then runs the full
  * [[EtlRun]] with the PROXY url — so the K4–K6 batched inserts issued by
  * executor-side `df.write.jdbc` tasks cross a real TCP socket into one
  * shared database, the property embedded Derby alone can never exercise.
  * Prints one parseable line per loaded table plus history counts read BACK
  * through the proxy; exit 0 only if the run completed. */
object EtlClusterMain {

  private def respond(ex: HttpExchange, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def main(args: Array[String]): Unit = {
    val master = args.headOption.getOrElse("local-cluster[2,2,1024]")
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/api/bootstrap-static/",
      (ex: HttpExchange) => respond(ex, FplRawFixtures.mainJson))
    http.createContext("/api/fixtures/",
      (ex: HttpExchange) => respond(ex, FplRawFixtures.fixturesJson))
    http.createContext("/api/element-summary/",
      (ex: HttpExchange) => {
        val id = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).last.toLong
        respond(ex, FplRawFixtures.playerDocs.getOrElse(id, "{}"))
      })
    http.start()
    val base = s"http://127.0.0.1:${http.getAddress.getPort}"

    val backend = new Properties()
    backend.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val proxy = new ProxyJdbcServer("jdbc:derby:memory:etlcluster;create=true", backend)
    ProxyJdbcDriver.ensureRegistered()

    val spark = GraftSession.builder(4)
      .master(master)
      .appName("graft-etl-cluster")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val landing = java.nio.file.Files.createTempDirectory("etlcluster").toString
      val result = EtlRun.run(spark, new JdkHttpFetcher(),
        s"$base/api/bootstrap-static/", s"$base/api/fixtures/",
        s"$base/api/element-summary/%d/", landing, proxy.url,
        proxy.clientProps, JdbcSink.Derby, username = "cluster",
        raiseErrors = true,
        loadDatetime = Timestamp.valueOf("2024-08-20 10:00:00"),
        log = m => System.err.println(s"[etl-cluster] $m"))
      result.counts.toSeq.sorted.foreach { case (t, n) => println(s"COUNT $t $n") }
      // history tables audited THROUGH the proxy, not from the result map
      for (t <- Seq("players_statuses", "record")) {
        val n = spark.read.jdbc(proxy.url, t, proxy.clientProps).count()
        println(s"COUNT $t $n")
      }
      println(s"GWNOW ${result.gameweekNow}")
      println("ETL_CLUSTER_OK")
    } finally {
      spark.stop()
      proxy.stop()
      http.stop(0)
    }
  }
}
