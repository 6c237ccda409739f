package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{Engine, Memo, SparkEntry}
import graft.io.TableIO
import graft.pipeline.{Assets, Checks}
import graft.sources.Fixtures
import graft.streaming.StreamOps

/** JVM side of the benchmark: sets up a `local[4]` session over generated
  * inputs, runs one workload as a closed loop with one client thread, and
  * writes every measurement as one JSON object per line. The Python
  * front end (`run.py`) turns these records into metrics and checks the
  * outputs.
  *
  * Args: workload dataDir tmpDir outFile seconds trace seed [opts]
  *
  * Records: `setup` (JVM start to ready, and its parts), `op` (wall time per
  * operation, with its phase: cold or timed), `result` (outputs to
  * verify), `memo` (Memo entries after a query pass), `heap`, `oracle`
  * (the DuckDB oracle statements) and `done`; the pipeline adds `io`
  * (bytes an op committed), `funnel` (the streaming funnel's totals after
  * each op), `compact`, `dedup` and `progress`, and a traced run adds
  * `span` (name, start, end, parent, op) and `job` (one per Spark job,
  * with its stage/task counters).
  */
object Driver {

  // ---------------------------------------------------------------- output

  private val out = new StringBuilder

  private def q(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  private def js(v: Any): String = v match {
    case s: String     => q(s)
    case b: Boolean    => b.toString
    case d: Double     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int        => n.toString
    case n: Long       => n.toString
    case m: Map[_, _]  => m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Seq[_]    => xs.map(js).mkString("[", ",", "]")
    case None | null   => "null"
    case Some(x)       => js(x)
    case x             => q(x.toString)
  }

  private def emit(kind: String, fields: (String, Any)*): Unit =
    out.synchronized { out.append(js(Map(("kind" -> kind) +: fields: _*))).append('\n') }

  // ------------------------------------------------------------- clock/spans

  /** Epoch microseconds from the monotonic clock, comparable with the
    * epoch-millisecond times Spark stamps on listener events.
    */
  private val epochOffsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  private def nowUs(): Long = epochOffsetUs + System.nanoTime() / 1000L

  final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

  /** In-memory span store; written out once at exit. Spans nest as
    * workload → op → layer call; Spark jobs are attached afterwards by
    * time, since calls are serial and AQE submits from pool threads.
    */
  final class Tracer(var on: Boolean) {
    val spans  = ArrayBuffer.empty[Span]
    private var stack = List(-1)
    var op            = -1

    def apply[T](name: String)(f: => T): T =
      if (!on) f
      else {
        val id = spans.size
        spans += Span(name, nowUs(), -1L, stack.head, op)
        stack = id :: stack
        try f
        finally {
          stack = stack.tail
          spans(id) = spans(id).copy(end = nowUs())
        }
      }
  }

  /** Spark job/stage/task counters, one record per job. */
  final class JobListener extends SparkListener {
    final class Job(val id: Int, val start: Long) {
      @volatile var end    = -1L
      val stages, tasks    = new AtomicLong
      val taskMs, shuffleB = new AtomicLong
      val spillB, gcMs     = new AtomicLong
    }
    val jobs         = new ConcurrentHashMap[Int, Job]()
    private val byStage = new ConcurrentHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new Job(e.jobId, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => byStage.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs.addAndGet(m.executorRunTime)
          j.shuffleB.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          j.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          j.gcMs.addAndGet(m.jvmGCTime)
        }
      }
  }

  /** Per-stage streaming progress, from a StreamingQueryListener. */
  final class StreamListener extends StreamingQueryListener {
    val progress = ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val rec = Map[String, Any](
          "query_id"   -> p.id.toString,
          "ts_ms"      -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows_in"    -> p.numInputRows,
          "ran"        -> d.contains("addBatch"),
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "commit_ms"  -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum
      )
      progress.synchronized(progress += rec)
    }
  }

  // ------------------------------------------------------------------ setup

  private val Tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings")

  private def buildSession(tmp: String): SparkSession = {
    val s = Engine
      .builder("4")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Opens every input table: resolves its schema and footers. */
  private def openInputs(s: SparkSession, data: String): Unit =
    Tables.foreach(t => Engine.table(s, data, t).schema)

  // -------------------------------------------------------------- workloads

  /** One workload: `op(i)` runs operation i (timed; a failure throws),
    * `afterOp(i)` records its outputs outside the timing, `afterWarmup`
    * runs once between the cold op and the first timed one, and `close`
    * runs after the loop.
    */
  trait Workload {
    def op(i: Int): Unit
    def afterOp(i: Int): Unit = ()
    def afterWarmup(): Unit   = ()
    def close(): Unit         = ()
    def maxOps: Int           = Int.MaxValue
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** The paper's system: one op is a run of the batch DAG followed by one
    * incremental-ingest micro-batch through the streaming funnel.
    *
    * The DAG is `graft.pipeline.Pipeline.run` call for call up to, not
    * including, the community hierarchy: the 12 other written assets
    * through `TableIO.writeParquet`'s staged write and read-back, then the
    * quality checks, into a fresh output directory, with a span around
    * each asset write and the checks. Neither part calls a GraphOps pass
    * loop or Memo.
    */
  final class PipelineWorkload(s: SparkSession, d: String, tmp: String, t: Tracer, seed: Long)
      extends Workload {
    private val funnel       = new Funnel(s, d, tmp, t, seed)
    override def maxOps: Int = funnel.batches

    def op(i: Int): Unit = {
      dag(i)
      funnel.feed()
    }

    private def dag(i: Int): Unit = {
      val o = s"$tmp/dag/op$i"
      def asset(name: String)(df: => DataFrame): Long =
        t(s"pipeline.asset.$name")(TableIO.writeParquet(df, s"$o/$name"))
      def read(name: String) = s.read.parquet(s"$o/$name")

      val nIndex = asset("artist_index")(Assets.buildArtistIndex(Fixtures.artistIndexRaw(s, d)))
      val index  = read("artist_index")
      val nArtists = asset("artists")(Assets.extractArtists(index, Fixtures.entityFixture(s, d)))
      val artists  = read("artists")
      val resolved = Engine
        .table(s, d, "nation")
        .select(concat(lit("QC"), col("n_nationkey").cast("string")).as("id"), col("n_name").as("name"))
      var nUnresolved = 0L
      val nCountries = asset("countries") {
        val (countries, unresolved) = Assets.extractCountries(artists, resolved)
        nUnresolved = unresolved.count()
        countries
      }
      val countries = read("countries")
      val nArticles = asset("articles")(Assets.extractArticles(artists, Fixtures.articleFixture(s, d)))
      val articles  = read("articles")
      val nReleases = asset("releases")(Assets.extractReleases(artists, Fixtures.releaseGroupFixture(s, d)))
      val releases  = read("releases")
      val nTracks = asset("tracks")(
        Assets.extractTracks(releases, Fixtures.releaseCandidatesFixture(s, d), Fixtures.trackFixture(s, d))
      )
      val nGenres = asset("genres")(Assets.extractGenres(artists))
      val genres  = read("genres")
      val nGenreArticles =
        asset("genres_articles")(Assets.genreArticleChunks(genres, Engine.table(s, d, "documents")))
      val nMerged = asset("wikipedia_articles")(
        Assets.mergeArticles(articles.withColumn("entity_type", lit("artist")), read("genres_articles"))
      )
      val nVector = asset("vector_db")(Assets.vectorIngest(read("wikipedia_articles")))
      val (nodesL, edgesL) = Assets.graphTables(artists, countries)
      val nNodes = asset("graph_nodes")(nodesL)
      val nEdges = asset("graph_edges")(edgesL)
      val checks = t("pipeline.checks")(Checks.artistIndexReport(read("artist_index")).collect())
      emit(
        "result",
        "op"     -> i,
        "counts" -> Map(
          "artist_index" -> nIndex, "artists" -> nArtists, "countries" -> nCountries,
          "unresolved_countries" -> nUnresolved, "articles" -> nArticles, "releases" -> nReleases,
          "tracks" -> nTracks, "genres" -> nGenres, "genres_articles" -> nGenreArticles,
          "wikipedia_articles" -> nMerged, "vector_db" -> nVector, "graph_nodes" -> nNodes,
          "graph_edges" -> nEdges
        ),
        "checks" -> checks.map(r => Map("check" -> r.getString(0), "value" -> r.getDouble(1),
          "passed" -> r.getBoolean(2))).toSeq
      )
    }

    override def afterOp(i: Int): Unit = {
      val dir = new File(s"$tmp/dag/op$i")
      emit("io", "op" -> i, "committed_bytes" -> dirBytes(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      funnel.record(i)
    }

    override def afterWarmup(): Unit = funnel.compact()
    override def close(): Unit       = funnel.close()
  }

  /** The five-stage streaming ingest funnel: gate → dedup ingest → packer →
    * windowed counts + top-k → transition pairs, long-running queries
    * connected by parquet handoffs and fed a seeded permutation of the
    * documents table in fixed-size micro-batches.
    */
  final class Funnel(s: SparkSession, d: String, tmp: String, t: Tracer, seed: Long) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    import s.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    private val b = s"$tmp/funnel"

    private val docs = new scala.util.Random(seed).shuffle(
      Engine.table(s, d, "documents")
        .select(col("doc_id"), coalesce(col("lang"), lit("und")), col("text"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    )
    private val batch = 256
    /** Micro-batches the documents table holds. */
    val batches = docs.size / batch
    private var fed = 0

    private val stageNames = Seq("gate", "dedup", "packer", "window_topk", "transitions")
    private val listener   = new StreamListener
    s.streams.addListener(listener)

    private val inF = MemoryStream[(Long, String, String)]
    private val keepSchema =
      new StructType().add("doc_id", LongType).add("lang", StringType).add("text", StringType)
    private val packedSchema = new StructType()
      .add("lang", StringType).add("doc_id", LongType).add("n_tokens", LongType)
      .add("start_off", LongType).add("pack_id", LongType).add("straddles", IntegerType)

    private var queries: Seq[StreamingQuery] = Nil
    private def start(): Seq[StreamingQuery] = {
      // each stage's source directory must exist before its reader starts,
      // so the chain is started stage by stage behind the first batch
      val q1 = StreamOps.gateAndQuarantine(
        inF.toDF().toDF("doc_id", "lang", "text"), s"$b/keep", s"$b/quar", s"$b/ck1")
      q1.processAllAvailable()
      val q2 = StreamOps.dedupIngest(
        s.readStream.schema(keepSchema).parquet(s"$b/keep"), s"$b/index", s"$b/out", s"$b/ck2")
      q2.processAllAvailable()
      import StreamOps.{PackIn, TransIn}
      val q3 = StreamOps
        .sequencePacker(
          s.readStream.schema(keepSchema.add("verdict", StringType)).parquet(s"$b/out")
            .filter(col("verdict") === "new")
            .select(col("lang"), col("doc_id"),
              greatest(lit(1L), (length(col("text")) / 4).cast("long")).as("n_tokens"))
            .as[PackIn])
        .writeStream.option("checkpointLocation", s"$b/ck3")
        .format("parquet").option("path", s"$b/packed").outputMode("append").start()
      q3.processAllAvailable()
      val events = s.readStream.schema(packedSchema).parquet(s"$b/packed").select(
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 30).as("t"),
        col("lang").as("event_type"),
        col("n_tokens").cast("double").as("value"))
      val q4 = StreamOps
        .windowTypeCounts(events, "1 hour")
        .writeStream.option("checkpointLocation", s"$b/ck4")
        .outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          StreamOps.topKPerWindow(df, 3).write.mode("append").parquet(s"$b/topk")
        }
        .start()
      val q5 = StreamOps
        .transitionPairs(
          s.readStream.schema(packedSchema).parquet(s"$b/packed").select(
            (col("doc_id") % 64).as("user_id"),
            (lit(1704067200000000L) + col("doc_id") * 30000000L).as("us"),
            col("doc_id").as("event_id"),
            col("lang").as("event_type")).as[TransIn])
        .writeStream.option("checkpointLocation", s"$b/ck5")
        .format("parquet").option("path", s"$b/pairs").outputMode("append").start()
      Seq(q1, q2, q3, q4, q5)
    }

    /** Feeds the next micro-batch and waits until every stage has drained it. */
    def feed(): Unit = {
      inF.addData(docs.slice(fed, fed + batch): _*)
      fed += batch
      // the stages run on their own trigger threads, so one span covers
      // the micro-batch; per-stage figures come from the listener
      t("stream.funnel") {
        if (queries.isEmpty) queries = start()
        queries.foreach(_.processAllAvailable())
      }
    }

    private def rows(p: String) = s.read.parquet(s"$b/$p").count()

    /** The funnel's totals after op i, for the invariant checks. */
    def record(i: Int): Unit = {
      val users = s.read.parquet(s"$b/packed").select((col("doc_id") % 64).as("u")).distinct().count()
      emit("funnel", "op" -> i, "fed" -> fed.toLong, "kept" -> rows("keep"), "quarantined" -> rows("quar"),
        "packed" -> rows("packed"), "users" -> users, "pairs" -> rows("pairs"))
    }

    /** TableIO.compact of the signature index, an ingest maintenance window
      * between two micro-batches; row counts must survive.
      */
    def compact(): Unit = {
      val before = Seq("shingles", "bands").map(p => rows(s"index/$p"))
      val t0     = nowUs()
      val after = Seq("shingles", "bands").zip(before).map { case (p, n) =>
        TableIO.compact(s, s"$b/index/$p", n)._3
      }
      emit("compact", "seconds" -> (nowUs() - t0) / 1e6, "rows_before" -> before, "rows_after" -> after)
    }

    def close(): Unit = {
      queries.reverse.foreach(_.stop())
      s.streams.removeListener(listener)
      val verdicts = s.read.parquet(s"$b/out").groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      emit("dedup", "new" -> verdicts.getOrElse("new", 0L), "probed" -> verdicts.values.sum)
      val stageOf = queries.zip(stageNames).map { case (q, n) => q.id.toString -> n }.toMap
      listener.progress.foreach { p =>
        emit("progress", (("stage" -> stageOf.getOrElse(p("query_id").toString, "other")) +: p.toSeq): _*)
      }
    }
  }

  /** One pass over a fixed list of oracled queries; each result is written
    * to parquet so the front end can check it against the DuckDB oracle.
    */
  final class QueriesWorkload(s: SparkSession, d: String, tmp: String, t: Tracer, names: Seq[String])
      extends Workload {
    private val fns = SparkEntry.queries
    def op(i: Int): Unit = {
      names.foreach { n =>
        t(s"query.$n")(fns(n)(s, d).write.mode("overwrite").parquet(s"$tmp/queries/op$i/$n"))
      }
      emit("memo", "op" -> i, "entries" -> Memo.totalEntries)
      Memo.clearAll()
    }
    override def afterOp(i: Int): Unit = emit("result", "op" -> i, "dir" -> s"$tmp/queries/op$i")
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(workload, data, tmp, outFile, secondsS, traceS, seedS) = args.take(7)
    val opts    = args.drop(7).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val seconds = secondsS.toDouble
    val trace   = traceS == "1"
    val minOps  = opts.getOrElse("min_ops", "2").toInt

    // setup: from JVM start until the session is ready with every input
    // opened; the session build and the table opens are its two layer calls
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val t0         = nowUs()
    val spark      = buildSession(tmp)
    val t1         = nowUs()
    openInputs(spark, data)
    val t2 = nowUs()
    emit("setup", "seconds" -> (t2 - jvmStartUs) / 1e6, "jvm_s" -> (t0 - jvmStartUs) / 1e6,
      "session_s" -> (t1 - t0) / 1e6, "open_s" -> (t2 - t1) / 1e6)

    val tracer = new Tracer(false)
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(spark, data, tmp, tracer, seedS.toLong)
      case "queries"  => new QueriesWorkload(spark, data, tmp, tracer, opts("queries").split(",").toSeq)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // In a traced run the job listener is attached, and spans recorded,
    // for the cold op and for every other timed op, starting with the
    // first (traced, bare, ...); the run thereby measures its own tracing
    // overhead.
    val jobs      = new JobListener
    var listening = false
    def traced(on: Boolean): Unit = {
      if (on != listening) {
        if (on) spark.sparkContext.addSparkListener(jobs)
        else {
          org.apache.spark.perfbench.BusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(jobs)
        }
        listening = on
      }
      tracer.on = on
    }

    // closed loop, one client: the first op runs cold and is the warm-up;
    // the ops after it are timed until `seconds` have passed and at least
    // `minOps` ran
    tracer.on = trace
    tracer(s"workload.$workload") {
      var i          = 0
      var timed      = 0
      var timedStart = 0L
      def timedSoFar = if (timedStart == 0L) 0.0 else (nowUs() - timedStart) / 1e6
      while (i < w.maxOps && (i == 0 || timedSoFar < seconds || timed < minOps)) {
        if (i == 1) w.afterWarmup()
        val phase = if (i == 0) "cold" else "timed"
        if (phase == "timed" && timedStart == 0L) timedStart = nowUs()
        traced(trace && (phase != "timed" || timed % 2 == 0))
        // start every op from a collected heap, so garbage and cleaner work
        // left by the previous op do not land in this one's time
        java.lang.management.ManagementFactory.getMemoryMXBean.gc()
        tracer.op = i
        val t0 = nowUs()
        val err =
          try { tracer("op")(w.op(i)); None }
          catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
        val t1 = nowUs()
        tracer.op = -1
        emit("op", "i" -> i, "phase" -> phase, "traced" -> tracer.on, "start_us" -> t0, "end_us" -> t1,
          "seconds" -> (t1 - t0) / 1e6, "error" -> err)
        if (err.isEmpty) w.afterOp(i)
        if (phase == "timed") timed += 1
        i += 1
      }
    }
    traced(false)

    // retained heap: used heap after a full collection, with the session
    // and the workload's state (streaming queries, state stores) still
    // live; the least of three collections, since the ContextCleaner frees
    // unreferenced blocks and checkpoints asynchronously after each one
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { _ =>
      mem.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    emit("heap", "used_mb" -> used.min)
    w.close()
    emit("oracle", "sql" -> SparkEntry.oracleSql)
    spark.stop()

    tracer.spans.zipWithIndex.foreach { case (sp, id) =>
      emit("span", "id" -> id, "name" -> sp.name, "start_us" -> sp.start, "end_us" -> sp.end,
        "parent" -> sp.parent, "op" -> sp.op)
    }
    jobs.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      emit("job", "id" -> j.id, "start_us" -> j.start * 1000L, "end_us" -> j.end * 1000L,
        "stages" -> j.stages.get, "tasks" -> j.tasks.get, "task_ms" -> j.taskMs.get,
        "shuffle_bytes" -> j.shuffleB.get, "spill_bytes" -> j.spillB.get, "gc_ms" -> j.gcMs.get)
    }
    emit("done")
    Files.write(Paths.get(outFile), out.toString.getBytes(UTF_8))
  }
}
