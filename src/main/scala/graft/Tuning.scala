package graft

import org.apache.spark.sql.SparkSession

/** Scoped execution-profile helpers.
  *
  * Spark's default machinery — whole-stage codegen, adaptive query
  * execution, a per-core shuffle partition count — is sized for data that
  * scales with the input. A few operators in this engine run on
  * DIMENSION-BOUNDED graphs instead: the nation-harness community ladders
  * (g8c/g8d/g8e) iterate over a 25-vertex graph that is 25 vertices at
  * every TPC-H scale factor, including the 100 TB target. For those, the
  * per-pass cost is pure fixed overhead, and the dominant term is CODEGEN
  * COMPILATION: every pass's plan hangs off a fresh checkpoint leaf, so
  * each of its ~15 stages Janino-compiles anew (~40 ms/stage, measured on
  * the g8d ladder in commit 0234a7b, which added this profile:
  * refineWithin 2.9 s → 1.6 s with interpreted execution).
  */
object Tuning {

  private val ProfileConfs = Seq(
    "spark.sql.adaptive.enabled"       -> "false",
    "spark.sql.shuffle.partitions"     -> "1",
    "spark.sql.codegen.wholeStage"     -> "false",
    "spark.sql.codegen.factoryMode"    -> "NO_CODEGEN"
    // MEASURED AND REJECTED (r20): autoBroadcastJoinThreshold=-1 here cuts
    // the per-pass broadcast-build jobs (48→37 jobs on the g4 sweep
    // prefix) but the replacement single-partition SMJs add interpreted
    // sort+exchange stages (105→113) and the warm chain got SLOWER
    // (5.67 s → 6.41 s, warm round 2; receipts/OPTIMIZATION_r20.md:150-162).
    // Broadcasts stay.
  )

  /** The beam/frontier variant of the profile: every EXCHANGE inside a
    * beam-pass job moves a frame bounded by query constants (beam width ×
    * (degree bound + 1) × #tagged chains ≤ ~250 rows at ANY scale factor —
    * the s19j family's contract), so 32 shuffle partitions + an AQE
    * re-optimization loop per pass is pure driver overhead. Unlike
    * [[ProfileConfs]], CODEGEN STAYS ON: each pass also contains a
    * scale-bearing scan (the corpus-side of the broadcast score join),
    * which is shuffle-free — its parallelism comes from input splits,
    * untouched by `shuffle.partitions` — but needs compiled evaluation at
    * real scale.
    */
  private val FrontierConfs = Seq(
    "spark.sql.adaptive.enabled"   -> "false",
    "spark.sql.shuffle.partitions" -> "1"
  )

  /** Run `f` with interpreted (no-codegen), non-adaptive, single-partition
    * execution — correct ONLY for computations whose every frame is bounded
    * by a fixed dimension table. Results are identical (the flags change
    * evaluation strategy, never semantics); the profile is restored in a
    * finally block, and any lazy tail planned after restore just uses the
    * normal confs.
    *
    * Do NOT wrap scale-bearing work: a billion-edge graph needs AQE and
    * codegen. Callers are the nation-harness ladders (25 vertices at any
    * scale factor); the SF-scaled graph queries (g8b's co-supply fixed
    * point, g9's supplies PageRank) deliberately stay on the default
    * profile and are soak-covered at 32×.
    *
    * Session-global conf, so the scope is EXCLUSIVE: the whole
    * save/set/run/restore sequence holds a JVM monitor. Without it, two
    * threads racing the same cold [[Memo]] key (get/putIfAbsent does not
    * serialize computes) could interleave their save/restore and one
    * thread's "saved" values would be the other's IN-PROFILE values —
    * permanently leaving shuffle.partitions=1 and codegen off for the
    * session. The monitor is reentrant, so a profiled compute may call
    * another profiled compute on the same thread (the g8c→g8e chains): a
    * nested profile overrides its confs and restores them on exit. No caller
    * runs concurrent queries UNDER the profile anymore (the g8d
    * future-based overlap was replaced by the batched disjoint-union
    * ladder in r12), so serializing profiled sections costs nothing.
    */
  private val profileLock = new Object

  def dimensionGraphProfile[T](spark: SparkSession)(f: => T): T =
    withConfs(spark, ProfileConfs)(f)

  /** Scoped profile for BOUNDED-FRONTIER loops (the s19j/l/m/n/o beam
    * passes): single-partition shuffles + no AQE, codegen kept on — see
    * [[FrontierConfs]] for why this is scale-safe for exactly these loops.
    * Same exclusive save/set/run/restore monitor as
    * [[dimensionGraphProfile]] (reentrant; a nested profile overrides its
    * confs and restores them on exit).
    */
  def boundedFrontierProfile[T](spark: SparkSession)(f: => T): T =
    withConfs(spark, FrontierConfs)(f)

  private def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(f: => T): T =
    profileLock.synchronized {
      val conf  = spark.conf
      val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
      confs.foreach { case (k, v) => conf.set(k, v) }
      try f
      finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
}
