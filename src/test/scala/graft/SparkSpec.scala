package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
