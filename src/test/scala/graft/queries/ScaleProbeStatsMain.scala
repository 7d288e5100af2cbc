package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Occupancy evidence for the scale probe (test-scope tooling): the
  * adaptive knobs CLAIM constant bucket/cell occupancy at any corpus
  * size — band width r grows with log n (SimilarityQueries.bandWidth),
  * IVF/SemDeDup k grows as ceil(n/64) — and the decade/32x probes check
  * WALL time. This main prints the occupancy itself at one scale:
  * actual rp-band bucket sizes (avg/p99/max over (band, key) groups)
  * and the IVF cell-size target, so two runs at 1x and 32x show the
  * distributions flat where a fixed-parameter scheme would grow 32x.
  *
  * Usage: graft.queries.ScaleProbeStatsMain <sfDir>  → one JSON line.
  */
object ScaleProbeStatsMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftExtensions.register(spark)

    val e = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val r = SimilarityQueries.bandWidth(n)
    // same 4-band signature the dedup/ANN family plans; a bucket is one
    // (band position, band key) group
    val occ = e
      .select(posexplode(expr(s"graft_rpbands(embedding, 4, $r)"))
        .as(Seq("band", "k")))
      .groupBy(col("band"), col("k"))
      .agg(count(lit(1)).as("c"))
      .agg(avg(col("c")).as("avg"),
        expr("percentile(c, 0.99)").as("p99"),
        max(col("c")).as("mx"),
        count(lit(1)).as("buckets"))
      .head()
    val ivfK = graft.operators.IvfIndex.adaptiveK(n)
    def r2(x: Double) = math.round(x * 100) / 100.0
    println(s"""{"sf":"$sfDir","n_vectors":$n,"band_width_r":$r,""" +
      s""""bucket_avg":${r2(occ.getDouble(0))},""" +
      s""""bucket_p99":${r2(occ.getDouble(1))},"bucket_max":${occ.getLong(2)},""" +
      s""""n_buckets":${occ.getLong(3)},""" +
      s""""ivf_k":$ivfK,"ivf_avg_cell":${r2(n.toDouble / ivfK)}}""")
    spark.stop()
  }
}
