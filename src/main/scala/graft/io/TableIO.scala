package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

/** Library-level sinks/scans — SURVEY.md §2.1 S1–S5 (+S16 overwrite
  * semantics), the Spark-native form of the reference's I/O managers.
  *
  * Reference semantics (citations into /root/reference):
  *   - S1 Parquet sink with atomic commit + row-count metadata:
  *     defs/io_managers.py:84-120 (temp file + rename; Spark's
  *     FileOutputCommitter provides the same atomicity per job)
  *   - S2 Parquet scan with empty-relation fallback: defs/io_managers.py:122-140
  *   - S3 sparse JSONL sink (None fields dropped): defs/io_managers.py:151-212
  *     (Spark's JSON writer has ignoreNullFields=true by default; set
  *     explicitly here as declared behavior)
  *   - S4 schema'd JSONL scan: defs/io_managers.py:214-232 (explicit schema —
  *     never sampling inference, which is nondeterministic at scale)
  *   - S5 partition-path routing: defs/io_managers.py:48-73 (decade files →
  *     Hive `col=value/` layout here, giving Catalyst partition pruning)
  *   - S16 graph reset: utils/neo4j_helpers.py:103-189 → mode("overwrite")
  *
  * Scale notes: every writer goes through Spark's commit protocol (task
  * attempts + job commit → readers never see partial output — the moral
  * equivalent of the reference's temp-file+rename, but correct under
  * distributed retries). Row counts are summed on the driver from the
  * footers of the committed part files, one footer read per file; no
  * Spark job and no data page is read.
  */
object TableIO {

  /** S1 — overwrite Parquet sink; returns the committed row count, as the
    * reference records row_count metadata: the sum of the row counts in
    * the footers of the committed part files, read on the driver (one
    * footer per file, no Spark job). The job writes to a sibling `._tmp`
    * staging path and only then swaps it into place, mirroring the
    * reference io_manager's temp-file+rename: a mid-job failure leaves the
    * previous data intact
    * (plain `mode("overwrite")` deletes the target before the job runs, so
    * a crash would leave the path empty). The swap parks the previous data
    * at a `._old` sibling rather than deleting it up front, so the target
    * path holds either the old or the new committed data at every instant —
    * a crash mid-swap can no longer leave the path absent (which the
    * declared-schema fallback in [[readParquet]] would otherwise turn into
    * a silent empty frame). `._old` is dropped only after the promote
    * succeeds; if the promote fails the old data is restored.
    */
  def writeParquet(df: DataFrame, path: String): Long = {
    val conf    = df.sparkSession.sparkContext.hadoopConfiguration
    val target  = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + "._tmp")
    val fs      = target.getFileSystem(conf)
    df.write.mode("overwrite").parquet(staging.toString)
    promote(fs, staging, target)
    footerRowCount(fs, conf, target)
  }

  /** Rows in a flat parquet table dir, summed from the part-file footers.
    * Hidden files (`_SUCCESS`, `.crc` checksums) are skipped, as Spark's
    * listing skips them.
    */
  private def footerRowCount(
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path
  ): Long =
    fs.listStatus(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount
        finally reader.close()
      }
      .sum

  /** The swap leg of the staged write: park the previous data at a `._old`
    * sibling, promote the staging dir, drop the parked copy only once the
    * promote succeeded (restore it if the promote failed). The target path
    * holds either the old or the new committed data at every instant.
    */
  private def promote(
      fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path
  ): Unit = {
    val parked = new org.apache.hadoop.fs.Path(target.toString + "._old")
    if (fs.exists(parked)) {
      // Two distinct crash leftovers share this path. A parked copy NEXT
      // TO a live target is the post-promote cleanup that never ran —
      // safe to drop. A parked copy with NO target is the window BETWEEN
      // the park and promote renames: the park is the only committed
      // data (for an accumulating sink like cmSketchSink, the only copy
      // anywhere) — restoring it here both repairs readers and keeps
      // this promote's own park step from destroying it (r16 ADVICE:
      // the old unconditional delete silently lost the accumulator).
      if (fs.exists(target)) fs.delete(parked, true)
      else if (!fs.rename(parked, target))
        throw new java.io.IOException(s"recover $parked -> $target failed")
    }
    val hadOld = fs.exists(target) && {
      if (!fs.rename(target, parked))
        throw new java.io.IOException(s"park $target -> $parked failed")
      true
    }
    if (!fs.rename(staging, target)) {
      if (hadOld) fs.rename(parked, target) // promote failed: put the old data back
      throw new java.io.IOException(s"rename $staging -> $target failed")
    }
    if (hadOld) fs.delete(parked, true)
  }

  /** Small-file compaction: rewrite a parquet table into ceil(rows /
    * targetRowsPerFile) files through the same staged atomic swap as
    * [[writeParquet]] — readers see either the fragmented or the compacted
    * table, never a partial mix. Returns (files before, files after, rows).
    *
    * Hive-partitioned layouts (the exact layout `upsertSinkPartitioned` and
    * partitioned streaming appends produce) are handled PER PARTITION: the
    * walk recurses into `col=value/` directories (any nesting depth) and
    * compacts each leaf independently through its own staged swap, so the
    * partition columns stay in the directory layout (a flat read+rewrite
    * would flatten them out) and partition pruning is untouched. A leaf
    * that is already at-or-below its target file count is SKIPPED — its
    * files are left byte-identical, so a nightly pass over a mostly-cold
    * partitioned collection costs only the hot partitions.
    *
    * Concurrency guard: compaction must not race a live writer (a file
    * appended between the read and the swap would be deleted by the swap).
    * Each leaf's file listing (name, length) is snapshotted before the
    * read and re-checked after the staging write; on any change the leaf
    * ABORTS (staging dropped, live data untouched) with an exception — the
    * contract is that the writing stream is stopped or the pass is re-run.
    *
    * At 100 TB this is the nightly maintenance pass that keeps streaming
    * appends (upsertSink / dedupIngest grow a file per micro-batch) from
    * degrading scan parallelism into open-file overhead: many kilobyte
    * files → few target-sized files, row-group min/max skipping restored.
    * The file counts come from driver-side listings (cheap metadata); the
    * data path is one distributed read + repartition + write per leaf, no
    * collect.
    */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): (Int, Int, Long) = {
    val conf   = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(conf)

    def partitionDirs(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(dir)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath)
        .toSeq

    def listing(dir: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      fs.listStatus(dir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen))
        .toSeq
        .sorted

    /** Compact one leaf dir in place; (before, after, rows). */
    def compactLeaf(dir: org.apache.hadoop.fs.Path): (Int, Int, Long) = {
      val snap   = listing(dir)
      val before = snap.size
      if (before == 0) return (0, 0, 0L)
      val df     = spark.read.parquet(dir.toString)
      val rows   = df.count()
      val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
      if (before <= nFiles) return (before, before, rows) // already compact: byte-identical
      val staging = new org.apache.hadoop.fs.Path(dir.toString + "._tmp")
      df.repartition(nFiles).write.mode("overwrite").parquet(staging.toString)
      if (listing(dir) != snap) {
        fs.delete(staging, true)
        throw new java.util.ConcurrentModificationException(
          s"compact: $dir changed during compaction (live writer?) — aborted, data untouched"
        )
      }
      promote(fs, staging, dir)
      (before, listing(dir).size, rows)
    }

    def walk(dir: org.apache.hadoop.fs.Path): (Int, Int, Long) = {
      val parts = partitionDirs(dir)
      if (parts.isEmpty) compactLeaf(dir)
      else
        parts.map(walk).foldLeft((0, 0, 0L)) { case ((b, a, r), (b2, a2, r2)) =>
          (b + b2, a + a2, r + r2)
        }
    }

    walk(target)
  }

  /** Crash-leftover VACUUM, compact's storage-side sibling: walks the tree
    * under `path` and removes the two reserved write-protocol suffixes —
    * `._tmp` staging dirs (a write that died before its promote) and
    * `._old` parked dirs (a promote that died between swap and cleanup;
    * the next write re-parks safely, but the copy pays storage until
    * removed). Returns (staging dirs removed, parked dirs removed). Live
    * table data is never a candidate: only the reserved suffixes match,
    * and the walk does not descend into them. Run in the same maintenance
    * window as compact — a live writer's in-flight staging dir is
    * indistinguishable from a crashed one.
    *
    * At 100 TB this is driver-side listing metadata only (the compact
    * budget); nothing reads data files.
    */
  def vacuum(spark: SparkSession, path: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs   = root.getFileSystem(conf)
    var nTmp = 0
    var nOld = 0
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { s =>
        if (s.isDirectory) {
          val n = s.getPath.getName
          if (n.endsWith("._tmp")) { fs.delete(s.getPath, true); nTmp += 1 }
          else if (n.endsWith("._old")) { fs.delete(s.getPath, true); nOld += 1 }
          else walk(s.getPath)
        }
      }
    if (fs.exists(root)) walk(root)
    (nTmp, nOld)
  }

  /** Generation-stamped append — the write half of snapshot (time-travel)
    * reads: each call lands a whole generation as a `gen=N` Hive partition
    * through the staged atomic swap, so a crashed generation write leaves
    * prior generations untouched and re-running generation N is
    * idempotent (its partition is swapped, the others never opened).
    * Generations are the coarse-grained commit log a lakehouse table
    * keeps: the table's state AS OF generation k is a pure function of
    * the `gen<=k` partitions.
    */
  def writeGeneration(df: DataFrame, path: String, gen: Int): Unit = {
    val conf    = df.sparkSession.sparkContext.hadoopConfiguration
    val target  = new org.apache.hadoop.fs.Path(s"$path/gen=$gen")
    val staging = new org.apache.hadoop.fs.Path(target.toString + "._tmp")
    val fs      = target.getFileSystem(conf)
    df.write.mode("overwrite").parquet(staging.toString)
    promote(fs, staging, target)
  }

  /** Snapshot (time-travel) read: every row of every generation `<= asOf`,
    * with the `gen` column available for keep-last conflict resolution
    * (which stays with the CALLER — a log table unions generations, an
    * upsert table resolves max-gen per key; [[graft.queries.IOQueries]]'s
    * s29 shows the latter). The `gen <= asOf` predicate is a partition
    * filter, so Catalyst prunes newer generations at planning time — a
    * snapshot read never opens a file written after its as-of point
    * (TableIOSpec asserts the predicate lands in PartitionFilters).
    */
  def readSnapshot(spark: SparkSession, path: String, asOf: Int): DataFrame =
    spark.read
      .parquet(path)
      .filter(org.apache.spark.sql.functions.col("gen") <= asOf)

  /** Snapshot read across EVOLVED generation schemas — the read half of
    * lakehouse schema evolution for the two always-safe changes (the
    * Iceberg/Delta rule): ADD a column (older generations read it as
    * null) and WIDEN a primitive (int → long, float → double). Spark's
    * parquet `mergeSchema` REFUSES conflicting primitive types, so
    * widening cannot ride the file-level merge: each `gen<=asOf`
    * partition is read with its own file schema, every column is cast to
    * the WIDEST type any generation declares for that name, and the
    * frames combine with `unionByName(allowMissingColumns = true)` —
    * added columns backfill as null, which the caller censuses rather
    * than hides (IOQueries s36). Column order follows first appearance
    * across generations; the `gen` column is appended for keep-last /
    * census use, exactly as [[readSnapshot]] exposes it.
    *
    * Pruning: generations beyond `asOf` are never LISTED, let alone read
    * — the as-of filter is applied to the directory names before any
    * reader opens a footer, the same no-late-files guarantee
    * [[readSnapshot]] gets from its partition filter. Incompatible
    * evolutions (string → int, …) throw loudly instead of silently
    * coercing.
    */
  def readSnapshotEvolved(spark: SparkSession, path: String, asOf: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs
      .listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") => n.stripPrefix("gen=").toInt }
      .filter(_ <= asOf)
      .sorted
    require(gens.nonEmpty, s"no gen<=$asOf partitions under $path")
    val frames = gens.map(g => g -> spark.read.parquet(s"$path/gen=$g"))
    def intRank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3; case LongType => 4
      case _        => 0
    }
    def wider(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y                             => x
      case (x, y) if intRank(x) > 0 && intRank(y) > 0   => if (intRank(x) >= intRank(y)) x else y
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case _ =>
        throw new IllegalArgumentException(
          s"incompatible schema evolution: $a vs $b (only add + widen are safe)")
    }
    val target = frames.foldLeft(Seq.empty[(String, DataType)]) { case (acc, (_, df)) =>
      df.schema.fields.foldLeft(acc) { (a, f) =>
        a.indexWhere(_._1 == f.name) match {
          case -1 => a :+ (f.name -> f.dataType)
          case i  => a.updated(i, f.name -> wider(a(i)._2, f.dataType))
        }
      }
    }
    frames
      .map { case (g, df) =>
        val have = df.columns.toSet
        val cols = target.collect { case (n, t) if have(n) => col(n).cast(t) }
        df.select(cols: _*).withColumn("gen", lit(g))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** INCREMENTAL (CDC-style) read: only the rows committed in generations
    * `fromExclusive < gen <= toInclusive` — the "what changed since my
    * last run" scan every downstream incremental pipeline issues against
    * a lakehouse table (Iceberg's incremental scan, Delta's CDF read at
    * table-version granularity). Both bounds land as PARTITION filters,
    * so the scan opens exactly the delta generations' files: the cost of
    * consuming a day's changes is proportional to the day's changes, not
    * to table history (the property that makes incremental downstream
    * jobs O(delta) at 100 TB). Keep-last conflict resolution inside the
    * delta stays with the caller, exactly as for [[readSnapshot]].
    */
  def readIncremental(
      spark: SparkSession,
      path: String,
      fromExclusive: Int,
      toInclusive: Int
  ): DataFrame =
    spark.read
      .parquet(path)
      .filter(
        org.apache.spark.sql.functions.col("gen") > fromExclusive &&
          org.apache.spark.sql.functions.col("gen") <= toInclusive
      )

  /** S2 — Parquet scan with declared-schema empty fallback when missing.
    * Existence goes through the Hadoop FileSystem for the path's scheme —
    * `java.io.File` would report false for every hdfs://, s3a://, … URI and
    * silently turn real data into an empty frame. A multi-path read where
    * only SOME paths are missing is suspicious (typo'd path → silently
    * partial data): with `strict=true` it throws; by default each dropped
    * path is logged so partial reads stay visible.
    */
  /** Reader-side crash-recovery heal for staged-swap tables: if `path` is
    * missing but its `._old` park exists, the writer crashed between the
    * park and promote renames of [[writeParquet]]'s swap and the park is
    * the only committed copy — rename it back before reading. Sinks whose
    * table IS their accumulated state (cmSketchSink's registers,
    * upsertSink collections) call this on load so the crash window can
    * never read as a fresh/empty table (r16 ADVICE: cmSketchSink would
    * refold a replayed batch into an empty table AND delete the park).
    * Returns true when a recovery happened. No-op when the target exists.
    */
  def healParked(spark: SparkSession, path: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parked = new org.apache.hadoop.fs.Path(path + "._old")
    if (!fs.exists(target) && fs.exists(parked)) {
      if (!fs.rename(parked, target))
        throw new java.io.IOException(s"recover $parked -> $target failed")
      true
    } else false
  }

  def readParquet(
      spark: SparkSession,
      schema: StructType,
      paths: String*
  ): DataFrame = readParquetStrictly(spark, schema, strict = false, paths: _*)

  def readParquetStrictly(
      spark: SparkSession,
      schema: StructType,
      strict: Boolean,
      paths: String*
  ): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (existing, missing) = paths.partition { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
    if (missing.nonEmpty && existing.nonEmpty) {
      if (strict)
        throw new java.io.FileNotFoundException(
          s"readParquet: ${missing.size}/${paths.size} paths missing: ${missing.mkString(", ")}"
        )
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(s"readParquet: dropping missing paths: ${missing.mkString(", ")}")
    }
    if (existing.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(existing: _*)
  }

  /** S3 — sparse JSONL sink: null fields are omitted per record. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("ignoreNullFields", "true").json(path)

  /** S4 — JSONL scan with explicit schema (no sampling inference). */
  def readJsonl(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** S5 — partition-path convention: `base/asset/part=<pk>` or `base/asset`. */
  def partitionPath(base: String, asset: String, partCol: String, pk: Option[String]): String =
    pk.fold(s"$base/$asset")(v => s"$base/$asset/$partCol=$v")

  /** S5 — Hive-layout partitioned Parquet write (pruning-friendly). */
  def writePartitioned(df: DataFrame, base: String, asset: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(s"$base/$asset")

  /** U2 — multi-path union read of selected partitions; `basePath` keeps the
    * partition column in the schema.
    */
  def readPartitions(spark: SparkSession, base: String, asset: String, paths: Seq[String]): DataFrame =
    spark.read.option("basePath", s"$base/$asset").parquet(paths: _*)
}
