package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session + table helpers shared by Verify/Bench/tests.
  *
  * Tuned for the harness's single-JVM `local[N]` run but configured the way a
  * real cluster job would be: AQE on (runtime partition coalescing + skew-join
  * splitting), shuffle partition count sized to the executor core count rather
  * than the 200 default, UTC session time zone for oracle parity. A
  * long-lived driver that runs the same DAG or query set again should pay
  * for its data, not for its fixed costs: the generated-code cache holds a
  * whole op's working set, and [[table]] infers each input's schema once.
  */
object Engine {

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      // Shuffle partitions equal the core count; AQE coalesces below it.
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // MEASURED AND REJECTED (r20): spark.sql.join.preferSortMergeJoin=
      // false (the tuning guide's batch-ETL baseline) was A/B'd with two
      // full back-to-back sf0.1 suite invocations — total 311.2 s → 318.7 s
      // (+2.4%). The d-family pair joins improved slightly but the
      // iterative graph family regressed hard (g8b +1.6 s, g2c +1.0 s,
      // g2/g16/g17/g21 +0.5-0.7 s each): per-pass hash-table builds on
      // small checkpoint-leaf partitions cost more than the sorts they
      // replace, and each pass re-pays it. Spark's sort-merge default
      // stays; revisit only with a per-query hint if a single join ever
      // dominates.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Reliable-checkpoint mode (Lineage): let the ContextCleaner delete
      // checkpoint files once their RDD is GC'd — iterative ops checkpoint
      // every pass, and without this the files accumulate for the session
      // lifetime. Must be set at context build time; a no-op in the default
      // localCheckpoint mode.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as epoch-nanos long and convert explicitly
      // (Events module owns the conversion).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Whole-stage codegen compiles each distinct generated class with
      // Janino and caches it in an LRU of this many entries (Spark's
      // default: 100). Measured on a 4-vCPU box with the benchmark's
      // workloads: one pipeline op (the DAG plus one funnel micro-batch)
      // generates about 250 distinct classes and one queries pass about
      // 165, so at 100 each class is evicted before its next use and
      // every op recompiles 246-268 (pipeline) or 159-163 (queries) of
      // them, at 20-25 ms each. At 1000 the ops after the cold one
      // compile 1-28 and 0-16 classes, for 2-3% more retained heap
      // (pipeline 112 -> 115 MB, queries 77 -> 80 MB).
      // Static: Spark's code cache is JVM-global and reads this value
      // once, at the JVM's first codegen, so the first session built in
      // the JVM fixes it.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Load one of the harness tables (`region nation customer supplier part
    * orders lineitem events documents embeddings`) from a scale-factor dir.
    *
    * `events.ts` has shipped as both TIMESTAMP(NANOS) (read as epoch-nanos
    * long under `nanosAsLong`) and plain TIMESTAMP(MICROS) (read as a
    * timestamp) across testdata generations. Downstream event-time code is
    * written against epoch-nanos longs, so normalize here — the ONE place
    * the table enters the engine — rather than branching in every query:
    * long passes through; timestamp/timestamp_ntz becomes
    * `unix_micros(ts) * 1000` (session TZ is UTC, so the cast is
    * deterministic). Pure projection — pushdown/pruning are unaffected.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  private final case class Resolved(stamp: Seq[(String, Long, Long)], nanosAsLong: String,
      schema: StructType)

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, Resolved]

  /** `spark.read.parquet(path)` with the schema inferred once per file
    * version: inference is a one-task Spark job (87-110 ms per call on a
    * 4-vCPU box, against 13-15 ms for a read with a given schema), and
    * the harness reads the same tables on every query. Keyed by the
    * qualified path; an entry holds while the listing (name, length,
    * modification time of the file, or of each entry of a directory) and
    * `nanosAsLong`, the one conf the engine sets that changes an inferred
    * type, are unchanged, so a file replaced in place is inferred again.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val hp    = new org.apache.hadoop.fs.Path(path)
    val fs    = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key   = fs.makeQualified(hp).toString
    val stamp = fs.listStatus(hp).toSeq.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val known = schemas.get(key)
    if (known != null && known.stamp == stamp && known.nanosAsLong == nanos)
      spark.read.schema(known.schema).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemas.put(key, Resolved(stamp, nanos, df.schema))
      df
    }
  }

  /** Rewrite a timestamp-typed `ts` column to epoch-nanos long; leave a
    * long-typed `ts` (old NANOS testdata under nanosAsLong) untouched.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
          Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn(
          "ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000L"))
      case _ => df
    }
}
