package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's fixed per-call costs: the input-table schema cache and the
  * size of the generated-code cache.
  */
class EngineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val tmp = Files.createTempDirectory("graft_engine_spec").toString

  /** Writes `df` as one parquet file at `$dir/$name.parquet`, the layout of
    * the harness tables, replacing any file already there.
    */
  private def putTable(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$tmp/staging-${java.util.UUID.randomUUID()}"
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("Engine.table infers a table's schema once and reads it again without a Spark job") {
    import spark.implicits._
    val dir = s"$tmp/once"
    putTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "t")
    val first = Engine.table(spark, dir, "t")
    assert(first.columns.toSeq == Seq("id", "v"))
    var second: DataFrame = null
    assert(jobsOf { second = Engine.table(spark, dir, "t") } == 0)
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("Engine.table reads a file replaced at the same path with its new schema") {
    import spark.implicits._
    val dir = s"$tmp/replaced"
    putTable(Seq((1L, "a")).toDF("id", "v"), dir, "t")
    assert(Engine.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    putTable(Seq((3, 4.5, true), (5, 6.5, false)).toDF("k", "x", "flag"), dir, "t")
    val back = Engine.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("k", "x", "flag"))
    assert(back.as[(Int, Double, Boolean)].collect().toSet == Set((3, 4.5, true), (5, 6.5, false)))
  }

  test("the generated-code cache holds 150 distinct projections: a second round compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    // each projection inlines its own literals, so each is a distinct class
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach { i =>
        spark.range(4).select((col("id") * lit(i.toLong) + lit(1000003L * i)).as("x")).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = round()
    // more than Spark's default 100-entry cache holds
    assert(first >= 150, first)
    assert(round() == 0)
  }
}
