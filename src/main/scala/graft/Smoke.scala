package graft

/** Local smoke runner mirroring the driver's t1 check: `entry` must return
  * rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(30, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
