package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Plan-lineage truncation for iterative / reused intermediates.
  *
  * Iterative operators (connected components, label propagation) and
  * twice-joined signature tables must cut their logical plan between passes
  * or lineage grows with the iteration count. Two modes:
  *
  *   - default: `localCheckpoint(eager)` — executor-local block storage, no
  *     configuration, fastest. Correct in `local[N]` and on healthy
  *     clusters, but the blocks die with their executor: at the 100 TB /
  *     1000-executor scale an executor loss mid-iteration kills the job.
  *   - `spark.graft.checkpointDir=<path>`: reliable `checkpoint()` to the
  *     configured (HDFS/object-store) directory — survives executor loss,
  *     the cluster-grade mode a production pipeline sets. One conf flag, no
  *     code change.
  *
  * Both are EAGER, so callers can treat the result as materialized (e.g.
  * count it cheaply, join it twice without recompute).
  */
object Lineage {

  val CheckpointDirConf = "spark.graft.checkpointDir"

  /** TEST-MODE pre-truncate plan capture (PlanSweepSpec's anti-pattern
    * floor). [[truncate]] and [[cachePin]] materialize EAGERLY, so every
    * stage built before one of them executes at query-CONSTRUCTION time
    * and never appears in the final frame's compile-time plan — the r15
    * verdict's structural blind spot (d21's seed broadcast executed
    * without ever being swept). When a label is armed, each
    * truncate/cachePin call records its `QueryExecution` BEFORE
    * materializing; the sweep then walks those captured plans with the
    * same CartesianProduct / BNLJ / global-window checks as the final
    * plan, and — because the captured executions have already run — reads
    * their executed-plan SQL metrics to verify declared row bounds
    * without re-executing anything. Off (label = None) outside tests:
    * zero overhead beyond one volatile read per truncate.
    */
  private val captureBuf =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, org.apache.spark.sql.execution.QueryExecution)]
  @volatile private var captureLabel: Option[String] = None

  def captureStart(label: String): Unit = captureLabel = Some(label)
  def captureStop(): Unit = captureLabel = None
  def captureClear(): Unit = captureBuf.clear()
  def capturedPlans(): Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    val b = Seq.newBuilder[(String, org.apache.spark.sql.execution.QueryExecution)]
    captureBuf.forEach(e => b += e)
    b.result()
  }

  private def captureIfEnabled(df: DataFrame): Unit =
    captureLabel.foreach(l => captureBuf.add((l, df.queryExecution)))

  /** [[truncate]] + STATS RESET — for frames that feed back into their own
    * computation across many passes. `localCheckpoint`/`checkpoint` cut the
    * logical plan but PRESERVE the source plan's size-in-bytes estimate,
    * and Catalyst's join-stats visitor multiplies child sizes — so a loop
    * that feeds pass k's (truncated) output into pass k+1 compounds the
    * estimate multiplicatively per join, i.e. DOUBLY-exponentially in the
    * pass count. At ~5 joins per pass the estimate is a BigInt of 63·5^k
    * bits by pass k: harmless for the 2–3-factor passes of LPA/CC/PageRank,
    * but a measured multi-minute optimizer hang in BigInteger.multiply by
    * pass ~10 of the refinement fixed point. Re-materializing through an
    * RDD boundary resets the leaf estimate each pass, bounding every
    * pass's internal product at its own handful of factors. Costs one
    * extern/re-encode of the frame — the fixed-point loops apply it to
    * COMMUNITY-sized frames, never the full graph.
    */
  private def truncateFresh(df: DataFrame): DataFrame = {
    val cp = truncate(df)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** The boolean column a probed pass flags its changed rows with. */
  val Changed = "chg"

  /** The pass loop every iterative operator runs: up to `passes`
    * applications of `step(state, pass)` (pass counts from 1) to `init`,
    * which is returned as is when `passes <= 0`. The combinator owns the
    * per-pass policy, so call sites only write the pass body:
    *
    *   - materialization: each pass output is [[truncate]]d, or with
    *     `fresh` [[truncateFresh]]d (frames that feed back into their own
    *     joins across many passes, see its stats note);
    *   - cadence: `every = 1` materializes every pass, the result
    *     included. `every = k > 1` materializes only every k-th pass and
    *     never the last one: for loops whose state is consumed once per
    *     pass, where a checkpoint only bounds plan depth and would be a
    *     pure extra job (PageRank), so the result stays lazy;
    *   - early stop: with `converged`, `step` must flag each changed row in
    *     a boolean [[Changed]] column. After each pass the flagged rows of
    *     the materialized output go to `converged` (the site keeps its own
    *     action: `isEmpty` or `count() == 0`), the flag is dropped, and the
    *     loop ends on `true`. The final budgeted pass is never probed: its
    *     answer cannot change anything, so its flag is dropped before
    *     materialization and the probe job is saved.
    */
  def iterate(
      init: DataFrame,
      passes: Int,
      every: Int = 1,
      fresh: Boolean = false,
      converged: Option[DataFrame => Boolean] = None
  )(step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur  = init
    var pass = 0
    var done = false
    while (!done && pass < passes) {
      pass += 1
      val last = pass == passes
      val out  = if (converged.isDefined && last) step(cur, pass).drop(Changed) else step(cur, pass)
      val next =
        if (every > 1 && (last || pass % every != 0)) out
        else if (fresh) truncateFresh(out)
        else truncate(out)
      converged.filter(_ => !last) match {
        case Some(stop) =>
          done = stop(next.filter(col(Changed)))
          cur = next.drop(Changed)
        case None => cur = next
      }
    }
    cur
  }

  /** Cache-based plan pin for loop frames that the caller FORCES
    * immediately with a single-row aggregate (the HITS half-step shape:
    * materialize the keyed sum, then collect its max): `persist()` +
    * capture, no separate materialization job — the caller's collect
    * fills the cache, so the half-step costs ONE job where
    * checkpoint-then-aggregate costs two. Downstream plans see an
    * InMemoryRelation leaf (Spark substitutes cached subtrees before
    * optimization), which bounds plan depth exactly like a checkpoint
    * does; blocks are MEMORY_AND_DISK and reclaimed by the
    * ContextCleaner when the frame is garbage-collected, like
    * localCheckpoint blocks. NOT a [[truncate]] replacement: a frame
    * nobody forces promptly stays lazy, and a reliable-checkpoint
    * deployment (`spark.graft.checkpointDir`) gets no durability from a
    * cache — use it only for forced-next-line loop state.
    */
  def cachePin(df: DataFrame): DataFrame = {
    captureIfEnabled(df)
    pinned.add(df)
    df.persist()
  }

  /** Dataset cache entries are NOT reclaimed by the ContextCleaner (it
    * cleans RDD blocks, not CacheManager registrations), so every pin is
    * tracked and dropped here — called from [[Memo.clearAll]] at the same
    * dataset/pass boundaries that release the memoized checkpoints, which
    * keeps a 300-query bench from accumulating dead cache entries.
    */
  private val pinned = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  def releasePins(): Unit = {
    var df = pinned.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = pinned.poll()
    }
  }

  /** True when `df` is nothing but an attribute-only projection (column
    * pruning/reordering, no computed expressions) over an ALREADY
    * materialized leaf (a prior checkpoint's LogicalRDD or an in-memory
    * LocalRelation). Truncating such a frame again would pay a full
    * re-encode job to cut a two-node plan that has no lineage to cut —
    * the memoized-substrate consumers (coSupply → resolutionHierarchy,
    * suppliesBipartite → pageRank/HITS) hit exactly this shape, one
    * wasted job per query per pass. The frame already satisfies the
    * eager-materialization contract in spirit: re-consuming it re-runs
    * only a narrow projection over stored rows, never upstream compute.
    */
  private def alreadyMaterialized(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    def walk(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD     => true
      case _: LocalRelation  => true
      case pr: Project =>
        pr.projectList.forall {
          case _: AttributeReference          => true
          case Alias(_: AttributeReference, _) => true
          case _                               => false
        } && walk(pr.child)
      case sa: SubqueryAlias => walk(sa.child)
      // a UNION of materialized branches (the PPR mirror shape): every
      // consumer re-reads stored rows through narrow projections only —
      // nothing upstream of a leaf can re-execute
      case u: Union => u.children.forall(walk)
      case _        => false
    }
    walk(df.queryExecution.analyzed)
  }

  def truncate(df: DataFrame): DataFrame = {
    if (alreadyMaterialized(df)) return df
    captureIfEnabled(df)
    val spark = df.sparkSession
    spark.conf.getOption(CheckpointDirConf) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir appends a per-call UUID subdirectory, so compare
        // against the parent: re-point only when the conf value actually
        // changed (the first-writer-wins pinning the r4 advice flagged).
        val pointsAtDir = sc.getCheckpointDir.exists { current =>
          val parent = new org.apache.hadoop.fs.Path(current).getParent
          parent != null && parent.toString == new org.apache.hadoop.fs.Path(dir).toString
        }
        if (!pointsAtDir) sc.setCheckpointDir(dir)
        // Superseded checkpoints are reclaimed by the ContextCleaner
        // (spark.cleaner.referenceTracking.cleanCheckpoints, set in
        // Engine.builder) once the RDD they back is garbage-collected.
        df.checkpoint()
      case None =>
        df.localCheckpoint(true)
    }
  }
}
