package graft.expressions

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec

/** `GraftExtensions.register` is the one registration path and every
  * query build calls it: repeat and concurrent calls must leave exactly
  * one copy of each function and of the fusion rule, and must not
  * re-register (each replacement logs a WARN that buried real signals). */
class GraftExtensionsSpec extends SparkSpec {

  private val names = Seq(
    "graft_fdot", "graft_rpsig", "graft_rpbands", "graft_jaccard",
    "graft_simhash16", "graft_simhash60", "graft_token_set_ratio",
    "graft_jaro_winkler", "graft_damerau", "graft_tokenstats",
    "graft_jaccard_sorted", "graft_heavy_hitters", "graft_jlproj",
    "graft_winhash", "graft_winnow", "graft_bucket", "graft_bloom_contains")

  /** Messages of WARN+ events reaching the root logger while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
      "graft-registration-spec", null, null, false, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        seen.add(String.valueOf(event.getMessage.getFormattedMessage))
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  private def assertRegisteredOnce(): Unit = {
    val reg = spark.sessionState.functionRegistry
    val missing = names.filterNot(n => reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"unresolved: $missing")
    assert(spark.experimental.extraOptimizations.count(_ eq JaccardFusionRule) == 1)
  }

  test("repeat register calls resolve every function and re-register nothing") {
    GraftExtensions.register(spark)
    val logged = warnings {
      GraftExtensions.register(spark)
      GraftExtensions.register(spark)
    }
    assertRegisteredOnce()
    assert(spark.sql("SELECT graft_jaccard(array('a', 'b'), array('b'))")
      .head().getDouble(0) == 0.5)
    val replaced = logged.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.take(3).mkString("\n"))
  }

  test("8 concurrent register calls install one rule and log no replacement") {
    val start = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val logged = warnings {
      val threads = (1 to 8).map { _ =>
        val t = new Thread(() =>
          try { start.await(); GraftExtensions.register(spark) }
          catch { case e: Throwable => failures.add(e) })
        t.start()
        t
      }
      start.countDown()
      threads.foreach(_.join())
    }
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
    assertRegisteredOnce()
    assert(!logged.exists(_.contains("replaced a previously registered function")))
  }
}
