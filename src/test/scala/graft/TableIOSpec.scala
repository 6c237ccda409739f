package graft

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TableIO

/** Roundtrip tests for the I/O layer in a fresh temp dir per suite run. */
class TableIOSpec extends AnyFunSuite with SparkTestBase {

  private lazy val tmp = Files.createTempDirectory("graft_io_spec").toString

  test("parquet sink returns the committed row count and roundtrips") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val n  = TableIO.writeParquet(df, s"$tmp/p1")
    assert(n == 3)
    val back = spark.read.parquet(s"$tmp/p1").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("overwrite replaces prior contents (reset semantics)") {
    import spark.implicits._
    TableIO.writeParquet(Seq((1L, "old")).toDF("id", "v"), s"$tmp/p2")
    val n = TableIO.writeParquet(Seq((9L, "new")).toDF("id", "v"), s"$tmp/p2")
    assert(n == 1)
    assert(spark.read.parquet(s"$tmp/p2").head.getLong(0) == 9L)
  }

  test("the footer row count equals a Spark count: empty, three files, overwrite") {
    import spark.implicits._
    def sparkCount(p: String) = spark.read.parquet(p).count()
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    assert(TableIO.writeParquet(empty, s"$tmp/f0") == sparkCount(s"$tmp/f0"))
    assert(sparkCount(s"$tmp/f0") == 0)

    val three = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    assert(TableIO.writeParquet(three, s"$tmp/f3") == 10)
    assert(sparkCount(s"$tmp/f3") == 10)
    val parts = new java.io.File(s"$tmp/f3").list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.length == 3, parts.toSeq)

    val n = TableIO.writeParquet(Seq((7L, "x"), (8L, "y")).toDF("id", "v").repartition(2), s"$tmp/f3")
    assert(n == 2 && sparkCount(s"$tmp/f3") == 2)
  }

  test("the staged write starts no more Spark jobs than a plain parquet write") {
    import spark.implicits._
    val df     = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    val plain  = jobsOf(df.write.mode("overwrite").parquet(s"$tmp/plain"))
    val staged = jobsOf(TableIO.writeParquet(df, s"$tmp/staged"))
    assert(staged <= plain, s"staged $staged vs plain $plain")
  }

  test("sparse JSONL drops null fields on disk but schema'd read restores them") {
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "opt")
    TableIO.writeJsonl(df, s"$tmp/j1")
    val raw = spark.read.text(s"$tmp/j1").collect().map(_.getString(0)).sorted
    assert(raw.exists(_.contains("\"opt\"")) && raw.exists(!_.contains("\"opt\"")))
    val schema =
      StructType(Seq(StructField("id", LongType), StructField("opt", StringType)))
    val back = TableIO.readJsonl(spark, schema, s"$tmp/j1")
    assert(back.count() == 2)
    assert(back.filter("opt IS NULL").count() == 1)
  }

  test("missing parquet path falls back to an empty frame with the declared schema") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val df     = TableIO.readParquet(spark, schema, s"$tmp/does_not_exist")
    assert(df.schema == schema && df.count() == 0)
  }

  test("partially-missing multi-path read drops quietly by default, throws in strict mode") {
    import spark.implicits._
    val schema =
      StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    TableIO.writeParquet(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$tmp/p3")
    // default: the existing path's data comes back, the missing one is logged
    val loose = TableIO.readParquet(spark, schema, s"$tmp/p3", s"$tmp/absent")
    assert(loose.count() == 2)
    // strict: a typo'd path is an error, not silent partial data
    intercept[java.io.FileNotFoundException] {
      TableIO.readParquetStrictly(spark, schema, strict = true, s"$tmp/p3", s"$tmp/absent")
    }
  }

  test("compact merges a fragmented table without changing its contents") {
    import spark.implicits._
    val frag = (0L until 500L).map(i => (i, s"v$i")).toDF("id", "v").repartition(50)
    frag.write.mode("overwrite").parquet(s"$tmp/frag")
    val (before, after, rows) = TableIO.compact(spark, s"$tmp/frag", targetRowsPerFile = 100)
    assert(before == 50 && after == 5 && rows == 500)
    val back = spark.read.parquet(s"$tmp/frag")
    assert(back.count() == 500)
    assert(back.select("id").as[Long].collect().sorted.sameElements(0L until 500L))
  }

  test("compact on a Hive-partitioned table works per partition and skips compact ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // partition a: 40 rows in 8 files (fragmented); partition b: 10 rows in
    // 1 file (already compact — must be left byte-identical)
    val a = (0L until 40L).map(i => (i, "a")).toDF("id", "part").repartition(8)
    val b = (100L until 110L).map(i => (i, "b")).toDF("id", "part")
    a.write.mode("overwrite").partitionBy("part").parquet(s"$tmp/hive")
    b.coalesce(1).write.mode("append").partitionBy("part").parquet(s"$tmp/hive")
    def files(p: String): Map[String, Long] = {
      val d = new java.io.File(s"$tmp/hive/part=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = files("b")
    assert(files("a").size == 8 && bBefore.size == 1)
    val (before, after, rows) = TableIO.compact(spark, s"$tmp/hive", targetRowsPerFile = 20)
    assert(before == 9 && after == 3 && rows == 50) // a: 8→2, b: 1→1 untouched
    // untouched partition is byte-identical (same file names, same mtimes)
    assert(files("b") == bBefore)
    // layout survived: partition column still in schema, pruning still works
    val back = spark.read.parquet(s"$tmp/hive")
    assert(back.count() == 50 && back.columns.contains("part"))
    assert(back.filter(col("part") === "a").count() == 40)
    assert(
      back.filter(col("part") === "a").select("id").as[Long].collect().sorted
        .sameElements(0L until 40L)
    )
    val pruned = back.filter(col("part") === "b").queryExecution.executedPlan.toString()
    assert(pruned.contains("part=b") || !pruned.contains("part=a"))
  }

  test("compact aborts and leaves data intact when a writer races it") {
    import spark.implicits._
    // simulate the race: a FileSystem wrapper can't intercept mid-call, so
    // instead assert the guard's OBSERVABLE contract on the non-racing path
    // (listing unchanged → swap proceeds) and exercise the abort branch by
    // appending between snapshot and staging via a subclassed listing…
    // simplest honest form: run compact concurrently with an append loop
    // and assert EITHER outcome is consistent (all rows present, or the
    // documented exception) — never silent row loss.
    val dir = s"$tmp/race"
    (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(20)
      .write.mode("overwrite").parquet(dir)
    @volatile var appended = 0L
    val writer = new Thread(() => {
      (0 until 3).foreach { k =>
        (1000L + k until 1001L + k).map(i => (i, s"x$i")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(dir)
        appended += 1
        Thread.sleep(30)
      }
    })
    writer.start()
    val outcome =
      try { TableIO.compact(spark, dir, targetRowsPerFile = 50); "ok" }
      catch { case _: java.util.ConcurrentModificationException => "aborted" }
    writer.join()
    val n = spark.read.parquet(dir).count()
    if (outcome == "aborted")
      assert(n == 200 + appended, s"abort must leave every row in place ($n vs ${200 + appended})")
    else
      // compact won the race window: its snapshot-recheck saw a stable set;
      // appends after the swap still land — nothing may be lost silently
      assert(n >= 200, s"compact lost rows: $n")
  }

  test("vacuum removes crash leftovers and never touches live data") {
    import spark.implicits._
    val base = s"$tmp/vac"
    val df   = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    TableIO.writeParquet(df, s"$base/t.parquet")
    // plant the two crash shapes: a dead staging dir and a dead parked dir
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.parquet(s"$base/t.parquet._tmp")
    df.write.parquet(s"$base/t.parquet._old")
    val (nTmp, nOld) = TableIO.vacuum(spark, base)
    assert(nTmp == 1 && nOld == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/t.parquet._tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/t.parquet._old")))
    val back = spark.read.parquet(s"$base/t.parquet").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b")))
    // second pass finds nothing
    assert(TableIO.vacuum(spark, base) == ((0, 0)))
  }

  test("generation writes + snapshot read: as-of prunes newer gens, keep-last resolves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = s"$tmp/timetravel"
    TableIO.writeGeneration(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), base, 1)
    TableIO.writeGeneration(Seq((2L, "b2")).toDF("k", "v"), base, 2)
    TableIO.writeGeneration(Seq((1L, "a3"), (4L, "d3")).toDF("k", "v"), base, 3)

    def resolved(asOf: Int): Map[Long, String] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k"))
        .orderBy(col("gen").desc)
      TableIO
        .readSnapshot(spark, base, asOf)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("k").as[Long], col("v").as[String])
        .collect()
        .toMap
    }
    assert(resolved(1) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(resolved(2) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(resolved(3) == Map(1L -> "a3", 2L -> "b2", 3L -> "c", 4L -> "d3"))
    // the as-of-2 scan must never open a generation-3 file: the gen<=asOf
    // predicate must reach the scan as a PARTITION filter (pruned at
    // planning time), not a post-scan row filter
    val p = TableIO
      .readSnapshot(spark, base, 2)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("gen") && pf.contains("<= 2"), p)
    // re-running a generation write is idempotent (staged swap per gen)
    TableIO.writeGeneration(Seq((2L, "b2")).toDF("k", "v"), base, 2)
    assert(resolved(2) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("incremental read returns exactly the delta generations and prunes both bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = s"$tmp/incremental"
    TableIO.writeGeneration(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), base, 1)
    TableIO.writeGeneration(Seq((2L, "b2")).toDF("k", "v"), base, 2)
    TableIO.writeGeneration(Seq((3L, "c3")).toDF("k", "v"), base, 3)
    TableIO.writeGeneration(Seq((1L, "a4")).toDF("k", "v"), base, 4)
    val delta = TableIO.readIncremental(spark, base, fromExclusive = 1, toInclusive = 3)
    assert(
      delta.select(col("k").as[Long], col("v").as[String]).collect().toSet ==
        Set(2L -> "b2", 3L -> "c3"),
      "delta must carry gens 2..3 only — not the base snapshot, not gen 4"
    )
    // O(delta) is a PLAN property: both bounds must prune at planning time
    val p  = delta.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("> 1") && pf.contains("<= 3"), p)
  }

  test("evolved snapshot read: adds backfill null, int widens to long, as-of never lists newer gens, incompatible throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = s"$tmp/evolved"
    // gen 1: (k int, v) — the narrow original schema
    TableIO.writeGeneration(
      Seq((1, "a"), (2, "b")).toDF("k", "v").select(col("k").cast("int").as("k"), col("v")),
      base, 1)
    // gen 2: k widened to long, new column q
    TableIO.writeGeneration(
      Seq((3L, "c", 30L)).toDF("k", "v", "q"),
      base, 2)

    val asOf1 = TableIO.readSnapshotEvolved(spark, base, asOf = 1)
    assert(!asOf1.columns.contains("q"), "as-of 1 must not see generation 2's added column")
    assert(
      asOf1.schema("k").dataType == org.apache.spark.sql.types.IntegerType,
      "as-of 1 must keep the original narrow type — gen 2 was never listed")

    val asOf2 = TableIO.readSnapshotEvolved(spark, base, asOf = 2)
    assert(
      asOf2.schema("k").dataType == org.apache.spark.sql.types.LongType,
      "int must widen to the widest declared type")
    val got = asOf2
      .select(col("k").as[Long], col("v").as[String],
        coalesce(col("q"), lit(-1L)).as[Long], col("gen").as[Int])
      .collect().toSet
    assert(got == Set((1L, "a", -1L, 1), (2L, "b", -1L, 1), (3L, "c", 30L, 2)),
      "old rows must backfill the added column as null (censused via the -1 sentinel here)")

    // only add + widen are safe: a string-vs-long conflict must throw, not coerce
    val bad = s"$tmp/evolved_bad"
    TableIO.writeGeneration(Seq((1L, "a")).toDF("k", "v"), bad, 1)
    TableIO.writeGeneration(Seq(("oops", "b")).toDF("k", "v"), bad, 2)
    val ex = intercept[IllegalArgumentException] {
      TableIO.readSnapshotEvolved(spark, bad, asOf = 2)
    }
    assert(ex.getMessage.contains("incompatible schema evolution"))
  }

  test("partition routing convention and partitioned write/read") {
    import spark.implicits._
    assert(
      TableIO.partitionPath("/b", "asset", "decade", Some("1990s")) == "/b/asset/decade=1990s"
    )
    assert(TableIO.partitionPath("/b", "asset", "decade", None) == "/b/asset")
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "part")
    TableIO.writePartitioned(df, tmp, "pt", "part")
    val back = TableIO.readPartitions(
      spark, tmp, "pt", Seq(TableIO.partitionPath(tmp, "pt", "part", Some("x"))))
    assert(back.count() == 2)
    assert(back.columns.contains("part"))
  }
}
