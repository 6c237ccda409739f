package graft.tools

import graft.Engine

/** Dev utility: build Soak's N× key-offset replica of a dataset into a
  * KEPT directory (Soak itself builds into a temp dir it deletes), so the
  * per-family cost census ([[CostCensus]]) can run against the same
  * scaled data the soak timings used.
  *
  * Usage: `sbt "runMain graft.tools.ScaleBuild <N> <outDir>"` (env
  * SPARK_GRAFT_SF_DIR overrides the 1× source, default /root/testdata/sf0.1).
  */
object ScaleBuild {
  def main(args: Array[String]): Unit = {
    val n   = args(0).toInt
    val out = args(1)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Soak.buildScaled(spark, src, out, n)
    println(s"[scale-build] built ${n}x replica of $src at $out")
    spark.stop()
  }
}
