package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cross-query memo registry's contract (Memo.scala): materialize-once
  * sharing, explicit invalidation, and the measurement bypass a plan
  * census depends on.
  */
class MemoSpec extends AnyFunSuite with SparkTestBase {

  private def frame(): DataFrame = {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("v").filter(col("v") > 1).select((col("v") * 2).as("w"))
  }

  test("cached computes once per (session, path) and shares the materialized frame") {
    val m     = Memo.newMap()
    var calls = 0
    def get() = Memo.cached(m, spark, "/k1") { calls += 1; frame() }
    val a = get()
    val b = get()
    assert(calls == 1)
    assert(a eq b) // the SAME materialized frame instance, not a recompute
    assert(a.collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 6L))
  }

  test("clearAll drops entries so the next call recomputes") {
    val m     = Memo.newMap()
    var calls = 0
    def get() = Memo.cached(m, spark, "/k2") { calls += 1; frame() }
    get()
    Memo.clearAll()
    get()
    assert(calls == 2)
  }

  test("bypass returns the RAW plan at the outermost call and memoizes nothing") {
    val m     = Memo.newMap()
    var calls = 0
    def get() = Memo.cached(m, spark, "/k3") { calls += 1; frame() }
    val cachedFrame = get() // memoized + truncated: plan is a scan leaf
    assert(cachedFrame.queryExecution.optimizedPlan.children.isEmpty)
    val raw = Memo.bypass(get())
    assert(calls == 2) // bypass did not read the memo...
    // ...and kept the real plan (analyzed, pre-optimizer: local relations
    // constant-fold to a leaf in the optimized plan, hiding the shape)
    assert(raw.queryExecution.analyzed.children.nonEmpty)
    assert(raw.collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 6L))
    assert(get() eq cachedFrame) // the memo entry survived the bypass untouched
    assert(calls == 2)
  }

  test("under bypass, NESTED cached calls truncate without memoizing (bounded plans)") {
    val outer = Memo.newMap()
    val inner = Memo.newMap()
    var innerCalls = 0
    def getInner() = Memo.cached(inner, spark, "/k4i") { innerCalls += 1; frame() }
    def getOuter() = Memo.cached(outer, spark, "/k4o") {
      getInner().select((col("w") + 1).as("x"))
    }
    val raw = Memo.bypass(getOuter())
    assert(innerCalls == 1)
    assert(inner.isEmpty && outer.isEmpty) // nothing memoized under bypass
    // outermost kept its own node (the +1 projection over the truncated inner)
    assert(raw.queryExecution.analyzed.children.nonEmpty)
    assert(raw.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 7L))
  }
}
