package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps

/** The [[Lineage.iterate]] pass-loop contract, and the Spark job counts of
  * the GraphOps loops that run on it.
  */
class LineageSpec extends AnyFunSuite with SparkTestBase {

  private def start: DataFrame = {
    import spark.implicits._
    Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("id", "v")
  }

  // v climbs by one per pass up to 2; the flag marks the rows that moved
  private def climb(state: DataFrame): DataFrame =
    state.select(
      col("id"),
      least(col("v") + 1, lit(2L)).as("v"),
      (col("v") < 2).as(Lineage.Changed))

  test("iterate: zero passes returns the input without running the step") {
    val init  = start
    var steps = 0
    val out = Lineage.iterate(init, 0, converged = Some(_.isEmpty)) { (s, _) =>
      steps += 1
      climb(s)
    }
    assert(out eq init)
    assert(steps == 0)
  }

  test("iterate: the loop stops after the first pass whose probe is empty") {
    var steps  = 0
    var probes = 0
    val out = Lineage.iterate(start, 10, converged = Some { changed =>
      probes += 1
      changed.isEmpty
    }) { (s, pass) =>
      steps += 1
      assert(pass == steps, "passes count from 1")
      climb(s)
    }
    // passes 1 and 2 move every row, pass 3 moves none and ends the loop
    assert(steps == 3 && probes == 3)
    assert(out.columns.toSeq == Seq("id", "v"), "the flag column is dropped")
    assert(out.collect().map(_.getLong(1)).toSet == Set(2L))
  }

  test("iterate: no probe runs on the last budgeted pass") {
    var steps  = 0
    var probes = 0
    val out = Lineage.iterate(start, 2, converged = Some { changed =>
      probes += 1
      changed.isEmpty
    }) { (s, _) =>
      steps += 1
      climb(s)
    }
    assert(steps == 2 && probes == 1)
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.collect().map(_.getLong(1)).toSet == Set(2L))
  }

  test("iterate: every = k materializes every k-th pass and leaves the last one lazy") {
    val out = Lineage.iterate(start, 4, every = 2) { (s, _) =>
      s.select(col("id"), (col("v") + 1).as("v"))
    }
    val plan = out.queryExecution.analyzed
    // pass 2 is a checkpoint; passes 3 and 4 are two projections over it
    assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), plan.treeString)
    assert(plan.collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }.size == 2)
    assert(out.collect().map(_.getLong(1)).toSet == Set(4L))
  }

  // two 4-cliques joined through vertex 4–5, a tail 8–9–10, a detached
  // pair 20–21 and an isolate 30
  private val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
    (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L), (8L, 9L), (9L, 10L), (20L, 21L))

  private def edges: DataFrame = {
    import spark.implicits._
    und.toDF("src", "dst")
  }

  private def verts: DataFrame = {
    import spark.implicits._
    (und.flatMap { case (a, b) => Seq(a, b) }.distinct :+ 30L).toDF("id")
  }

  test("GraphOps pass loops keep their Spark job counts on a fixed small graph") {
    import spark.implicits._
    val undW = und.map { case (a, b) => (a, b, 1L + (a + b) % 3) }.toDF("a", "b", "w")
    val singletons = verts.select(col("id"), col("id").as("lbl"))
    // measured on the hand-rolled loops this combinator replaced
    assert(jobsOf(GraphOps.labelPropagation(verts, edges, 3).collect()) == 20)
    assert(jobsOf(GraphOps.connectedComponents(verts, edges).collect()) == 24)
    assert(jobsOf(GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(undW), singletons, 4).collect()) == 42)
  }

  test("the Leiden ladder keeps its Spark job counts on a fixed small graph") {
    import spark.implicits._
    val undDf      = und.toDF("a", "b")
    val singletons = verts.select(col("id"), col("id").as("lbl"))
    // Each count includes building the edge frame. Measured with this
    // probe on the commit before the ladder shared one edge frame and one
    // gain kernel, with the entries that took a raw (a, b) edge list.
    var merged: DataFrame = null
    assert(jobsOf {
      merged = GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(undDf), singletons, 4)
      merged.collect()
    } == 41)
    // With adaptive execution on, this count moved between 54 and 57 over
    // runs of unchanged code, with the order in which query stages
    // finished; with it off the count is exact: 17 in each of 25 runs on
    // the commit before this pin.
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    val within =
      try jobsOf(GraphOps.refineWithinFixedPoint(GraphOps.edgeFrame(undDf), merged, 6).collect())
      finally spark.conf.set(aqe, was)
    assert(within == 17, within)
    // 32 on that commit, where the pass had its own gain code: the shared
    // kernel labels the edges with the state frame, and on in-memory
    // edges adaptive execution broadcasts the edge side once more
    assert(jobsOf(GraphOps.refineMerge(undDf, singletons).collect()) == 33)
  }

  test("Profile.measure counts the jobs and pass units of a loop and leaves capture disarmed") {
    val stats = graft.tools.Profile.measure(spark)(GraphOps.labelPropagation(verts, edges, 3).collect())
    assert(stats.jobs == 20, stats)
    // the Lineage capture hook's truncation count for this call, measured
    // on the commit before the profiler existed
    assert(stats.passUnits == 4, stats)
    assert(stats.planMs > 0, stats)
    assert(Lineage.capturedPlans().isEmpty)
    Lineage.truncate(start.select(col("id"), (col("v") + 1).as("v")))
    assert(Lineage.capturedPlans().isEmpty, "capture is still armed")
  }
}
