package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps

/** Unit tests for the graph operators on tiny in-memory graphs. */
class GraphOpsSpec extends AnyFunSuite with SparkTestBase {

  test("connectedComponents labels each component with its min vertex id") {
    import spark.implicits._
    // two chains {1-2-3-4} and {10-11}, one isolate {20}
    val edges    = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val got = GraphOps
      .connectedComponents(vertices, edges)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedComponents matches brute-force union-find on seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(100 + seed)
      val n   = 10
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.15
      } yield (a.toLong, b.toLong)).toVector
      // brute force union-find with min-id labels
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(v => v.toLong -> find(v).toLong).toMap
      val got = GraphOps
        .connectedComponents((0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got == want, s"seed $seed edges=$edges")
    }
  }

  test("connectedComponents is identical under reliable-checkpoint mode") {
    import spark.implicits._
    val edges    = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val expected =
      GraphOps.connectedComponents(vertices, edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_chk").toString
    spark.conf.set(graft.Lineage.CheckpointDirConf, dir)
    try {
      val got = GraphOps
        .connectedComponents(vertices, edges)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got == expected)
      // reliable mode actually wrote checkpoint data to the configured dir
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally spark.conf.unset(graft.Lineage.CheckpointDirConf)
  }

  test("validEdges drops edges with a missing endpoint") {
    import spark.implicits._
    val edges = Seq((1L, 100L, "R"), (1L, 999L, "R"), (7L, 100L, "R"))
      .toDF("src", "dst", "rel")
    val srcIds = Seq(1L, 2L).toDF("id")
    val dstIds = Seq(100L, 101L).toDF("id")
    val got = GraphOps
      .validEdges(edges, srcIds, dstIds)
      .select("src", "dst")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == Set((1L, 100L)))
  }

  /** Two 5-cliques bridged by one edge: canonical planted community
    * structure. m = 21 (10 + 10 + 1 bridge); the planted partition has
    * intra = 20, per-community degree sums 21 and 21, so
    * Q = 20/21 − 2·(21/42)² = 0.4524. SURVEY §7.4's quality bar.
    */
  private def twoCliques(implicit s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val und = (clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 11L)).toDF("a", "b")
    val verts = ((1L to 5L) ++ (11L to 15L)).toDF("id")
    (verts, und)
  }

  test("modularity: exact value on the planted two-clique partition") {
    import spark.implicits._
    val (_, und) = twoCliques(spark)
    val planted = ((1L to 5L).map(_ -> 1L) ++ (11L to 15L).map(_ -> 11L)).toDF("id", "lbl")
    val comp = GraphOps.modularityComponents(und, planted).head()
    assert(comp.getAs[Long]("n_edges") == 21L)
    assert(comp.getAs[Long]("intra_edges") == 20L)
    assert(comp.getAs[Long]("sum_comm_deg_sq") == 21L * 21 + 21L * 21)
    // Q = num / (4m²) = (4·21·20 − 882) / 1764 = 798/1764 ≈ 0.4524
    assert(comp.getAs[Long]("modularity_num") == 798L)
    val q = GraphOps.modularity(und, planted)
    assert(math.abs(q - 798.0 / 1764.0) < 1e-12)
  }

  test("modularity quality floor: 3-pass LPA recovers planted two-clique structure") {
    val (verts, und) = twoCliques(spark)
    import org.apache.spark.sql.functions.col
    val labels = GraphOps.labelPropagation(
      verts,
      und.select(col("a").as("src"), col("b").as("dst")),
      3
    )
    val q = GraphOps.modularity(und, labels)
    // planted-partition Q is 0.4524; the deterministic LPA substitution for
    // the reference's seeded Leiden must land within ε of it (SURVEY §7.4)
    assert(q >= 0.40, s"LPA modularity $q below the 0.40 quality floor (planted = 0.4524)")
  }

  test("refineMerge folds a positive-gain singleton back in, raising Q") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4-3; partition splits the pendant off:
    // merge gain for {4}→{1,2,3} is 2·4·1 − 7·1 = 1 > 0 ⇒ merged, Q −2/64 → 0
    val und    = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L).toDF("id", "lbl")
    val before = GraphOps.modularity(und, labels)
    val refined = GraphOps.refineMerge(und, labels)
    val after   = GraphOps.modularity(und, refined)
    assert(math.abs(before - (-2.0 / 64.0)) < 1e-12)
    assert(after == 0.0)
    assert(refined.select("lbl").distinct().count() == 1)
  }

  test("refineMerge is a no-op when no merge has positive gain") {
    import spark.implicits._
    // two cliques + bridge, planted partition: merging costs 2·21·1 − 21·21 < 0
    val (_, und) = twoCliques(spark)
    val planted = ((1L to 5L).map(_ -> 1L) ++ (11L to 15L).map(_ -> 11L)).toDF("id", "lbl")
    val refined = GraphOps.refineMerge(und, planted)
    val got = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == planted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** The chained-nation harness shape: 5 disjoint 5-vertex paths (m = 20).
    * Planted partition = one community per chain: intra = 20,
    * Σd_c² = 5·8² = 320, num = 4·20·20 − 320 = 1280, Q = 1280/1600 = 0.800.
    */
  private def fiveChains(implicit s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val und = (for { c <- 0 until 5; i <- 0 until 4 } yield {
      val base = 5L * c
      (base + i, base + i + 1)
    }).toDF("a", "b")
    val verts = (0L until 25L).toDF("id")
    (verts, und)
  }

  test("refineMergeFixedPoint reaches the planted Q=0.800 on the chained-nation shape") {
    import org.apache.spark.sql.functions.col
    val (verts, und) = fiveChains(spark)
    val labels = GraphOps.labelPropagation(
      verts,
      und.select(col("a").as("src"), col("b").as("dst")),
      3
    )
    val qLpa   = GraphOps.modularity(und, labels)
    val pass1  = GraphOps.refineMerge(und, labels)
    val qPass1 = GraphOps.modularity(und, pass1)
    val fixed  = GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(und), labels, maxPasses = 4)
    val qFixed = GraphOps.modularity(und, fixed)
    // the CNM fixed point must fold every chain whole: within a chain any
    // adjacent fragment pair has gain 2·20·1 − d1·d2 with d1+d2 ≤ 8 ⇒
    // d1·d2 ≤ 16 < 40, always positive — the planted partition is the
    // unique fixed point reachable by intra-chain merges
    assert(qFixed >= qPass1 - 1e-12, s"fixed point Q $qFixed regressed below single-pass $qPass1")
    assert(qFixed >= qLpa - 1e-12)
    assert(math.abs(qFixed - 0.8) < 1e-12, s"fixed point Q $qFixed != planted 0.800 (LPA $qLpa, pass1 $qPass1)")
    assert(fixed.select("lbl").distinct().count() == 5)
  }

  test("resolution gamma prices merges: pendant folds at low gamma, holds at high") {
    import spark.implicits._
    // pendant-triangle (see the refineMerge test): Newman gain is +1, so at
    // γ=2 the gain 2·4·1·1 − 2·7·1 = −6 blocks the merge, and at γ=1/10 the
    // gain 10·8 − 7 = 73 folds it — the RB knob doing its one job
    val und    = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L).toDF("id", "lbl")
    val high = GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(und), labels, 3, gammaNum = 2L, gammaDen = 1L)
    assert(high.select("lbl").distinct().count() == 2, "γ=2.0 must keep the pendant split")
    val low = GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(und), labels, 3, gammaNum = 1L, gammaDen = 10L)
    assert(low.select("lbl").distinct().count() == 1, "γ=0.1 must fold the pendant in")
  }

  test("resolutionHierarchy levels coarsen and every refined community is connected") {
    import spark.implicits._
    // bridged five-chain path (the g8c graph shape): chains 0-4..20-24 plus
    // bridges 4-5, 9-10, 14-15, 19-20 ⇒ one 25-vertex path, m = 24
    val chains = (for { c <- 0 until 5; i <- 0 until 4 } yield {
      val base = 5L * c
      (base + i, base + i + 1)
    })
    val bridges = (0 until 4).map(c => (5L * c + 4, 5L * c + 5))
    val und     = (chains ++ bridges).toDF("a", "b")
    val verts   = (0L until 25L).toDF("id")
    val h = GraphOps
      .resolutionHierarchy(verts, und, Seq((2L, 1L), (1L, 2L), (1L, 10L)), 3, 4)
      .collect()
    assert(h.length == 25)
    def nDistinct(i: Int) = h.map(_.getLong(i + 1)).distinct.length
    val (n20, n05, n01) = (nDistinct(0), nDistinct(1), nDistinct(2))
    assert(n20 >= n05 && n05 >= n01, s"levels must coarsen: $n20 >= $n05 >= $n01")
    // the deterministic sweep lands each γ on a DISTINCT level (pinned
    // measured values — every stage is tie-broken, so they are stable).
    // NOTE the integrated sweep (merge → refine per level, r12) does NOT
    // promise nesting across levels — the reference's independent
    // per-resolution leidenalg runs don't either; what it DOES promise is
    // the next assertion.
    assert((n20, n05, n01) == ((16, 12, 9)), s"sweep moved: ($n20, $n05, $n01)")
    // THE Leiden guarantee (Traag–Waltman–van Eck 2019, the paper's
    // headline fix over Louvain): every community at every level is
    // CONNECTED, because each level's partition is re-formed from
    // singletons by edge-backed merges in the refinement phase.
    val adj = (chains ++ bridges).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    for (lvl <- 1 to 3) {
      h.groupBy(_.getLong(lvl)).foreach { case (lbl, rows) =>
        val members = rows.map(_.getLong(0)).toSet
        var seen    = Set(members.head)
        var grow    = true
        while (grow) {
          val next = seen ++ seen.flatMap(v => adj.getOrElse(v, Set.empty)).intersect(members)
          grow = next.size > seen.size; seen = next
        }
        assert(seen == members, s"level $lvl community $lbl is disconnected: $members")
      }
    }
  }

  test("integrated sweep holds the dumbbell split at every level; merge-only never splits") {
    import spark.implicits._
    // the g8d ballast dumbbell: K4 {0,1,2,3} + tail 3-8-9 + 12-edge path
    // 13..24 (m = 20, inflating m until the cross-bridge re-merge gain is
    // POSITIVE at low γ — only the well-connectedness gate holds the split)
    val k4   = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val tail = Seq((3L, 8L), (8L, 9L))
    val path = (13L to 24L).map(k => (k - 1, k))
    val und  = (k4 ++ tail ++ path).toDF("a", "b")
    val verts = (0L until 25L).toDF("id")
    val res   = Seq((2L, 1L), (1L, 2L), (1L, 10L))
    def comms(df: org.apache.spark.sql.DataFrame, lvl: Int): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(lvl)).toMap
    val mergeOnly  = GraphOps.resolutionHierarchy(verts, und, res, 3, 3, 0)
    val integrated = GraphOps.resolutionHierarchy(verts, und, res, 3, 3, 4)
    for (lvl <- 1 to 3) {
      val m = comms(mergeOnly, lvl)
      val i = comms(integrated, lvl)
      // LPA floods one label across the bridge; merge-only can only keep
      // or coarsen the trapped dumbbell at every level...
      assert(m(8L) == m(0L) && m(9L) == m(0L), s"merge-only lvl $lvl should keep the dumbbell")
      // ...while the per-level refinement phase re-splits it each time —
      // by the gain test at γ=2.0, by the connectivity gate at γ≤0.5
      // (where the re-merge gain is positive: 2·2·20·1 > 13·3).
      assert(i(8L) != i(0L), s"integrated lvl $lvl should split the dumbbell")
      assert(i(9L) == i(8L), s"integrated lvl $lvl should keep {8,9} together")
      assert(i(0L) == i(1L) && i(1L) == i(2L) && i(2L) == i(3L), s"K4 intact at lvl $lvl")
    }
  }

  test("personalizedPageRankQuantized epsilon prunes the sub-threshold frontier") {
    import spark.implicits._
    // 1→2, 1→3, 2→3, seed {1} (the exact-arithmetic graph above): pass-2
    // rank of vertex 2 is 63750, so ε = 100000 prunes it while 1 and 3
    // (150000 / 425000) survive with IDENTICAL ranks — head exactness
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps
      .personalizedPageRankQuantized(seeds, edges, 2, epsilon = 100000L)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("r"))
      .toMap
    assert(got == Map(1L -> 150000L, 3L -> 425000L))
  }

  test("modularity of the all-one-community partition is 0") {
    import spark.implicits._
    val (_, und) = twoCliques(spark)
    val one = ((1L to 5L) ++ (11L to 15L)).map(_ -> 0L).toDF("id", "lbl")
    // intra = m and Σd_c² = (2m)² cancel exactly: num = 4m² − 4m² = 0
    assert(GraphOps.modularity(und, one) == 0.0)
  }

  test("orientByDegree: a low-id hub can no longer keep its edges outgoing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // star: hub 0 (the SMALLEST id) with 50 leaves — under id-orientation
    // the hub's out-degree is 50 (one task owns every wedge); under
    // (degree, id) orientation all edges point leaf → hub
    val und = (1L to 50L).map(l => (0L, l)).toDF("a", "b")
    val oriented = GraphOps.orientByDegree(und)
    val outDeg = oriented.groupBy(col("src")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!outDeg.contains(0L), s"hub kept outgoing edges: $outDeg")
    assert(outDeg.values.max == 1L)
    // orientation never loses or duplicates an edge
    assert(oriented.count() == 50)
    assert(oriented.select("src", "dst").distinct().count() == 50)
  }

  test("pageRankQuantized: exact integer scores on a hand-computed graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 1 → 2, 1 → 3, 2 → 3; scale 10⁶, 1 iteration:
    //   r(1) = 150000 (no in-edges)
    //   r(2) = 150000 + 85·(10⁶ div 2) div 100 = 150000 + 425000 = 575000
    //   r(3) = 150000 + 85·(10⁶ div 2 + 10⁶ div 1) div 100 = 150000 + 1275000
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = GraphOps
      .pageRankQuantized(verts, edges, 1)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("r"))
      .toMap
    assert(got == Map(1L -> 150000L, 2L -> 575000L, 3L -> 1425000L))
    // second iteration feeds the quantized ranks forward deterministically:
    //   r(2) = 150000 + 85·(150000 div 2) div 100 = 213750
    val got2 = GraphOps
      .pageRankQuantized(verts, edges, 2)
      .filter(col("id") === 2L)
      .head()
      .getAs[Long]("r")
    assert(got2 == 213750L)
  }

  test("degrees counts both endpoints of every edge") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val got = GraphOps
      .degrees(edges)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("kCorePeel strips a pendant path off a triangle, two hops per pass") {
    import spark.implicits._
    // triangle {1,2,3} with a tail 3-4-5-6: the 2-core is the triangle.
    // Pass 1 peels 6 (deg 1); pass 2 peels 5; pass 3 peels 4; the
    // triangle's degrees never drop below 2.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    def survivors(passes: Int): Set[(Long, Long)] =
      GraphOps
        .kCorePeel(und, 2, passes)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    val triangle = Set((1L, 2L), (1L, 3L), (2L, 3L))
    // one pass: only the edge whose BOTH endpoints fell below k is gone
    assert(survivors(1) == triangle + ((3L, 4L)) + ((4L, 5L)))
    // converged: exactly the 2-core, and further passes are a fixed point
    assert(survivors(3) == triangle)
    assert(survivors(4) == triangle)
  }

  test("kCorePeel converges to the brute-force 2-core on seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n   = 8
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toVector
      // brute force: drop sub-k vertices until fixpoint
      var core = edges
      var stable = false
      while (!stable) {
        val deg  = core.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
        val keep = deg.filter(_._2 >= 2).keySet
        val next = core.filter(e => keep(e._1) && keep(e._2))
        stable = next == core
        core = next
      }
      if (edges.nonEmpty) {
        // n passes always suffice: each non-converged pass removes ≥1 vertex
        val got = GraphOps
          .kCorePeel(edges.toDF("a", "b"), 2, n)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        assert(got == core.toSet, s"seed $seed: got $got want ${core.toSet}")
      }
    }
  }

  test("seededHops keeps per-seed distances separate and exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    val n   = 10
    val und = (for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.3
    } yield (a.toLong, b.toLong)).toVector
    val adj =
      (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def bfs(s: Long): Map[Long, Long] = {
      var dist     = Map(s -> 0L)
      var frontier = Set(s)
      var lvl      = 0L
      while (frontier.nonEmpty) {
        lvl += 1
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty[Long])) -- dist.keySet
        dist ++= next.map(_ -> lvl)
        frontier = next
      }
      dist
    }
    val seedsV = Seq(0L, 3L, 7L)
    val want   = (for { s <- seedsV; (v, h) <- bfs(s) } yield (s, v, h)).toSet
    val edges  = und.toDF("src", "dst")
    val sym    = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val seeds  = seedsV.map(s => (s, s, 0L)).toDF("seed", "id", "hop")
    val got = GraphOps
      .seededHops(seeds, sym, n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
  }

  test("bfsHops matches brute-force distances on seeded random graphs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- 10 to 13) {
      val rnd = new scala.util.Random(seed)
      val n   = 8
      val und = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toVector
      if (und.nonEmpty) {
        val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        // brute-force BFS from vertex 0
        var dist    = Map(0L -> 0L)
        var frontier = Seq(0L)
        while (frontier.nonEmpty) {
          val next = frontier
            .flatMap(v => adj.getOrElse(v, Nil))
            .filterNot(dist.contains)
            .distinct
          dist = dist ++ next.map(_ -> (dist(frontier.head) + 1))
          frontier = next
        }
        val edges = und.toDF("src", "dst")
        val sym   = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        val got = GraphOps
          .bfsHops(Seq((0L, 0L)).toDF("id", "hop"), sym, n)
          .collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        assert(got == dist, s"seed $seed: got $got want $dist")
      }
    }
  }

  test("personalizedPageRankQuantized pins teleport to the seed set, quantized") {
    import spark.implicits._
    // directed 1→2, 1→3, 2→3; seed {1}; scale 10⁶.
    //   pass 1: r = {1: 150000, 2: 425000, 3: 425000}
    //     (contrib to 2 and 3 = 10⁶ div 2 = 500000; 85% of it = 425000)
    //   pass 2: contribs from pass-1 ranks: 2 gets 75000, 3 gets 500000 →
    //     r = {1: 150000, 2: 63750, 3: 425000}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    def run(iters: Int): Map[Long, Long] =
      GraphOps
        .personalizedPageRankQuantized(seeds, edges, iters)
        .collect()
        .map(r => r.getLong(0) -> r.getAs[Long]("r"))
        .toMap
    assert(run(1) == Map(1L -> 150000L, 2L -> 425000L, 3L -> 425000L))
    assert(run(2) == Map(1L -> 150000L, 2L -> 63750L, 3L -> 425000L))
  }

  test("bfsHops settles exact hop counts and omits unreachable vertices") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // path 1-2-3-4 plus isolate 9; seed at 1, symmetrized edges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val sym   = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq((1L, 0L)).toDF("id", "hop")
    val got = GraphOps
      .bfsHops(seeds, sym, 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // two seeds: every vertex takes the NEARER seed's distance
    val twoSeeds = Seq((1L, 0L), (4L, 0L)).toDF("id", "hop")
    val got2 = GraphOps
      .bfsHops(twoSeeds, sym, 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got2 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("refineWithinFixedPoint invariants hold on seeded random graphs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(300 + seed)
      val n   = 12
      val und = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toVector
      val undDf = und.toDF("a", "b")
      val verts = (0L until n.toLong).toDF("id")
      val parent = GraphOps.refineMergeFixedPoint(
        GraphOps.edgeFrame(undDf),
        GraphOps.labelPropagation(
          verts, undDf.select(col("a").as("src"), col("b").as("dst")), 3),
        maxPasses = 4)
      val parentMap =
        parent.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val refined = GraphOps.refineWithinFixedPoint(GraphOps.edgeFrame(undDf), parent, maxPasses = 6)
      val refinedMap =
        refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // 1. the refined partition REFINES the parent: same refined label ⇒
      //    same parent label (Leiden's structural contract)
      for (Seq(x, y) <- refinedMap.keys.toSeq.combinations(2))
        if (refinedMap(x) == refinedMap(y))
          assert(parentMap(x) == parentMap(y), s"seed $seed: $x,$y merged across parents")

      // 2. every refined community induces a CONNECTED subgraph (the
      //    guarantee refinement exists to provide): union-find per label
      val byLabel = refinedMap.keys.groupBy(refinedMap)
      byLabel.foreach { case (lbl, members) =>
        val ms = members.toSet
        if (ms.size > 1) {
          var reach = Set(ms.head)
          var grown = true
          while (grown) {
            val next = reach ++ und.collect {
              case (a, b) if reach(a) && ms(b) => b
              case (a, b) if reach(b) && ms(a) => a
            }
            grown = next.size > reach.size
            reach = next
          }
          assert(reach == ms, s"seed $seed: community $lbl disconnected ($ms vs $reach)")
        }
      }

      // 3. deterministic: a second run reproduces the partition exactly
      val again = GraphOps
        .refineWithinFixedPoint(GraphOps.edgeFrame(undDf), parent, maxPasses = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again == refinedMap, s"seed $seed: nondeterministic refinement")
    }
  }

  test("Leiden refinement splits the bridge-trapped dumbbell that the merge ladder cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The g8d planted graph: K4 {0,1,2,3} + tail 3-8-9. LPA floods label 0
    // across the bridge (dumbbell = one community); the merge-only fixed
    // point provably leaves it merged; refinement-from-singletons splits it
    // and modularity strictly improves.
    val und = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 8L), (8L, 9L)
    ).toDF("a", "b")
    val verts = Seq(0L, 1L, 2L, 3L, 8L, 9L).toDF("id")
    val lpa = GraphOps.labelPropagation(
      verts, und.select(col("a").as("src"), col("b").as("dst")), 3)
    val fixed = GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(und), lpa, maxPasses = 4)
    val fixedMap =
      fixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // g8b's ladder keeps the dumbbell as ONE community (merge-only)
    assert(fixedMap.values.toSet.size == 1, s"expected one merged community, got $fixedMap")
    val refined = GraphOps.refineWithinFixedPoint(GraphOps.edgeFrame(und), fixed, maxPasses = 6)
    val refinedMap =
      refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // refinement re-forms the clique and the tail as separate communities
    assert(Set(0L, 1L, 2L, 3L).map(refinedMap) == Set(0L))
    assert(Set(8L, 9L).map(refinedMap) == Set(8L))
    // and the split strictly improves modularity (merged Q = 0)
    val qFixed   = GraphOps.modularity(und, fixed)
    val qRefined = GraphOps.modularity(und, refined)
    assert(qFixed == 0.0)
    assert(qRefined > qFixed)
  }

  test("the well-connectedness gate holds a split even against a positive-gain re-merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Ballast variant: adding a separate 12-edge path inflates m to 20, so
    // gluing {8,9} back onto the clique has POSITIVE gain
    // (2m·E − d1·d2 = 40 − 39 = +1). A pure greedy re-merge would take it;
    // the gate (E({8,9}, rest) = 1 < (1/6)·2·4) must freeze it.
    val ballast = (13L to 24L).map(k => (k - 1, k))
    val und = (Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 8L), (8L, 9L)
    ) ++ ballast).toDF("a", "b")
    val dumbbellIds = Seq(0L, 1L, 2L, 3L, 8L, 9L)
    val verts       = (dumbbellIds ++ (12L to 24L)).toDF("id")
    val lpa = GraphOps.labelPropagation(
      verts, und.select(col("a").as("src"), col("b").as("dst")), 3)
    val fixed   = GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(und), lpa, maxPasses = 4)
    val refined = GraphOps.refineWithinFixedPoint(GraphOps.edgeFrame(und), fixed, maxPasses = 6)
    val refinedMap =
      refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the split held: clique and tail carry different labels
    assert(Set(0L, 1L, 2L, 3L).map(refinedMap) == Set(0L))
    assert(Set(8L, 9L).map(refinedMap) == Set(8L))
    // and it held AGAINST the gain: manually gluing {8,9} back onto the
    // clique scores strictly higher — proof the gate, not the gain test,
    // kept the split
    val glued = refined.select(
      col("id"),
      org.apache.spark.sql.functions
        .when(col("lbl") === 8L, 0L).otherwise(col("lbl")).as("lbl"))
    assert(GraphOps.modularity(und, glued) > GraphOps.modularity(und, refined))
  }

  test("a disjoint union batched through both fixed points matches each graph's solo run") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    // two triangles joined by a bridge (m = 7; the g20 plant) and the
    // g8d ballast dumbbell (m = 20). Each graph's gains must use its own
    // gm: priced with the union's 27, the triangles would glue
    // (2·27·1 − 7·7 > 0) where their own m keeps them apart (14 − 49 < 0).
    val triangles = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
    val ballast = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 8L), (8L, 9L)) ++
      (13L to 24L).map(k => (k - 1, k))
    def ids(und: Seq[(Long, Long)]): Seq[Long] = und.flatMap { case (a, b) => Seq(a, b) }.distinct
    def ladder(u: DataFrame, verts: Seq[Long]): Map[Long, Long] = {
      val lpa = GraphOps.labelPropagation(
        verts.toDF("id"), u.select(col("a").as("src"), col("b").as("dst")), 3)
      val merged = GraphOps.refineMergeFixedPoint(u, lpa, maxPasses = 4)
      GraphOps.refineWithinFixedPoint(u, merged, maxPasses = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val solo1 = ladder(GraphOps.edgeFrame(triangles.toDF("a", "b")), ids(triangles))
    val solo2 = ladder(GraphOps.edgeFrame(ballast.toDF("a", "b")), ids(ballast))
    assert(solo1(2L) != solo1(3L), s"the triangles stay apart solo: $solo1")
    assert(solo2(8L) != solo2(0L), s"the gate holds the ballast split solo: $solo2")
    val batch = (triangles.map { case (a, b) => (a, b, 1L, 7L) } ++
      ballast.map { case (a, b) => (a + 1000, b + 1000, 1L, 20L) }).toDF("a", "b", "w", "gm")
    val both = ladder(batch, ids(triangles) ++ ids(ballast).map(_ + 1000))
    assert(both.filter(_._1 < 1000) == solo1)
    assert(both.collect { case (v, l) if v >= 1000 => (v - 1000, l - 1000) } == solo2)
  }

  test("edge weights flip the cross-bridge merge the unweighted ladder refuses") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two unit-weight triangles joined by one weight-20 bridge (2, 3):
    // unweighted gain 2m·E12 − d·d = 14 − 49 < 0 (stay split); weighted
    // gain 2W·E12w − s2·s3 = 1040 − 676 > 0 (glue) — the g20 plant.
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
      .toDF("a", "b")
    val undW = und.withColumn(
      "w",
      when(col("a") === 2L && col("b") === 3L, 20L).otherwise(1L)
    )
    val verts = (0L to 5L).toDF("id")
    val lpa = GraphOps.labelPropagation(
      verts,
      und.select(col("a").as("src"), col("b").as("dst")),
      3
    )
    def comms(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("lbl")).toMap
    val unw = comms(GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(und), lpa, 4, 1L, 1L))
    val wtd = comms(GraphOps.refineMergeFixedPoint(GraphOps.edgeFrame(undW), lpa, 4, 1L, 1L))
    assert(unw(2L) != unw(3L), "unweighted must keep the triangles separate")
    assert(unw.values.toSet.size == 2)
    assert(wtd(2L) == wtd(3L), "the weight-20 bridge must glue the triangles")
    assert(wtd.values.toSet.size == 1)
  }

  test("seededPaths: σ counts shortest paths exactly on a hand-built diamond, and level-sync never revisits") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A—B, A—C, B—D, C—D (undirected diamond) plus tail D—E:
    // from A: d(B)=d(C)=1 σ=1; d(D)=2 σ=2 (both arms); d(E)=3 σ=2.
    val und   = Seq(("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"), ("D", "E")).toDF("src", "dst")
    val edges = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq("A").toDF("seed").select(col("seed"), col("seed").as("id"))
    val got = graph.GraphOps
      .seededPaths(seeds, edges, 4)
      .collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[Long]("dist"), r.getAs[Long]("sigma")))
      .toMap
    assert(got == Map(
      "A" -> (0L, 1L), "B" -> (1L, 1L), "C" -> (1L, 1L), "D" -> (2L, 2L), "E" -> (3L, 2L)
    ), s"got $got")
  }
}
