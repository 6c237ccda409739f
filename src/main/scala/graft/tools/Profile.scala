package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{Engine, Lineage, Memo, SparkEntry}

/** Dev profiler: where a query's or substrate's time goes. Splits wall time
  * into Spark-job time and driver time, and counts the pass units (the
  * [[Lineage.truncate]]/[[Lineage.cachePin]] executions captured by the
  * Lineage hook) with their Catalyst planning time, so a slow line reads as
  * pass count × per-pass planning or as executor work. `compiles` counts
  * the generated classes Janino compiled during the call (JVM-wide, from
  * Spark's codegen metrics): classes the codegen cache already held cost
  * nothing, the rest cost driver time outside the tracked plan phases.
  *
  * Usage: `sbt "runMain graft.tools.Profile <sfDir> <name>..."`, each name a
  * `SparkEntry.queries` key or a `SparkEntry.substrates` `_sub_*` name. Each
  * runs two rounds, after `Memo.clearAll()` and through the `noop` sink as
  * Bench does, one JSON line per round; read the second, JIT-warm one. To
  * profile a fragment, wrap it in [[measure]].
  */
object Profile {

  final case class Stats(
      wallS: Double, jobs: Long, stages: Long, tasks: Long, jobS: Double, taskS: Double,
      shuffleMb: Double, spillMb: Double, peakStorageMb: Double, passUnits: Int, planMs: Long,
      compiles: Long) {
    def driverS: Double = wallS - jobS

    def json(name: String, round: Int): String =
      f"""{"name":"$name","round":$round,"wall_s":$wallS%.3f,"jobs":$jobs,"stages":$stages,""" +
        f""""tasks":$tasks,"job_s":$jobS%.3f,"driver_s":$driverS%.3f,"task_s":$taskS%.3f,""" +
        f""""shuffle_mb":$shuffleMb%.1f,"spill_mb":$spillMb%.1f,"peak_storage_mb":$peakStorageMb%.1f,""" +
        s""""pass_units":$passUnits,"plan_ms":$planMs,"compiles":$compiles}"""
  }

  private val MB = 1048576.0

  /** Job, stage and task counters, job intervals, and the MemoryStore
    * high-water: live bytes per block id, summed, and the max of the sum.
    */
  private final class Recorder extends SparkListener {
    val jobs, stages, tasks, taskMs, shuffleB, spillB, peakStored = new AtomicLong
    private val stored    = new AtomicLong
    private val jobStart  = new ConcurrentHashMap[Int, java.lang.Long]
    private val intervals = new ConcurrentLinkedQueue[(Long, Long)]
    private val live      = new ConcurrentHashMap[String, java.lang.Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      stages.addAndGet(e.stageInfos.size)
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t0 => intervals.add((t0.longValue, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        shuffleB.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b    = e.blockUpdatedInfo
      val next = b.memSize // 0 when dropped or disk-only
      val prev = Option(if (next <= 0L) live.remove(b.blockId.name) else live.put(b.blockId.name, next))
      peakStored.accumulateAndGet(stored.addAndGet(next - prev.fold(0L)(_.longValue)), math.max)
    }

    /** Length of the union of the job intervals, in seconds. */
    def jobSeconds: Double = {
      var end, total = 0L
      intervals.asScala.toSeq.sorted.foreach { case (s, t) =>
        total += math.max(0L, t - math.max(s, end))
        end = math.max(end, t)
      }
      total / 1e3
    }
  }

  /** Runs `f` with one listener attached and the Lineage capture armed.
    * Leaves no listener attached, capture disarmed and its buffer empty.
    */
  def measure(spark: SparkSession)(f: => Any): Stats = {
    val sc  = spark.sparkContext
    val rec = new Recorder
    ListenerBusDrain(sc)
    sc.addSparkListener(rec)
    Lineage.captureClear()
    Lineage.captureStart("profile")
    var units = Seq.empty[org.apache.spark.sql.execution.QueryExecution]
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0       = compiled.getCount
    val t0       = System.nanoTime()
    val wallS =
      try { f; (System.nanoTime() - t0) / 1e9 }
      finally {
        Lineage.captureStop()
        units = Lineage.capturedPlans().map(_._2)
        Lineage.captureClear()
        ListenerBusDrain(sc)
        sc.removeSparkListener(rec)
      }
    val compiles = compiled.getCount - c0
    val planMs   = units.map(_.tracker.phases.values.map(_.durationMs).sum).sum
    Stats(wallS, rec.jobs.get, rec.stages.get, rec.tasks.get, rec.jobSeconds, rec.taskMs.get / 1e3,
      rec.shuffleB.get / MB, rec.spillB.get / MB, rec.peakStored.get / MB, units.size, planMs,
      compiles)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <name>...")
    val entries = SparkEntry.queries ++ SparkEntry.substrates
    val runs = args.toSeq.tail.map(n =>
      n -> entries.getOrElse(n, throw new IllegalArgumentException(s"no query or substrate named $n")))
    val spark = Engine.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for ((name, fn) <- runs; round <- 1 to 2) {
      Memo.clearAll()
      val s = measure(spark)(fn(spark, args(0)).write.format("noop").mode("overwrite").save())
      println(s.json(name, round))
    }
    spark.stop()
  }
}
