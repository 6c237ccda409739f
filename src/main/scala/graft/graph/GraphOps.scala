package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Lineage

/** Vertex/edge DataFrame operators — the Spark-native form of the reference's
  * property-graph layer (Neo4j node/edge ingestion,
  * defs/assets/ingest_graph_db.py:126-296; igraph analytic graph,
  * utils/neo4j_helpers.py:196-234). A graph here is just two DataFrames:
  * vertices `(id, …attrs)` and edges `(src, dst, rel)` — Parquet-friendly,
  * partition-parallel, no driver materialization.
  *
  * Scale notes (100 TB):
  *   - [[validEdges]] is two LEFT SEMI joins against the vertex id set —
  *     exactly the reference's "edge endpoints must exist" filter
  *     (neo4j_helpers.py:215-223) with no collected id map. Semi joins
  *     shuffle only the join keys and short-circuit per match; with a dim
  *     vertex table Catalyst broadcasts it.
  *   - [[degrees]] is one union + one hash aggregate — map-side partial
  *     aggregation keeps the shuffle at one row per (vertex, partition).
  *   - [[connectedComponents]] is iterative min-label propagation (the
  *     standard distributed CC; Leiden/Louvain's coarse first pass). Each
  *     pass is ONE equi-join + ONE aggregate: the convergence signal rides
  *     along as an `old` column through the same aggregate, so detecting a
  *     fixed point costs a cheap scan of the materialized pass output — no
  *     extra join per iteration. [[graft.Lineage.truncate]] cuts the plan
  *     between passes (localCheckpoint by default; reliable `checkpoint()`
  *     when `spark.graft.checkpointDir` is set — the cluster-grade mode
  *     where truncated state must survive executor loss). The driver only
  *     ever sees a convergence count, never the graph.
  */
object GraphOps {

  /** Keep edges whose src AND dst both exist in `vertexIds` (a single-column
    * `id` DataFrame) — two semi-joins, never a collected id set.
    */
  def validEdges(edges: DataFrame, vertexSrcIds: DataFrame, vertexDstIds: DataFrame): DataFrame =
    edges
      .join(vertexSrcIds.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(vertexDstIds.select(col("id").as("dst")), Seq("dst"), "left_semi")

  /** Per-vertex degree over an undirected view of the edge list. */
  def degrees(edges: DataFrame): DataFrame =
    edges
      .select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("degree"))

  /** Orient a canonical undirected edge list (a < b, distinct) by the total
    * order (degree, id): every edge points from the lower-(degree, id)
    * endpoint to the higher. Out-degree under this orientation is bounded
    * by O(√m) (the arboricity bound), so a wedge join over the oriented
    * edges can never be dominated by one hub — unlike id-orientation,
    * where a high-degree vertex holding a small id keeps ALL its edges
    * outgoing (the round-5 g6 pathology; see GraphOpsSpec's star-graph
    * case). Ties in degree break by id, so the output is deterministic.
    */
  def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und
      .select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v")
      .agg(count(lit(1)).as("deg"))
    val aFirst = // a ≺ b in (degree, id)? und is canonical a < b, so id breaks ties
      col("da") < col("db") || (col("da") === col("db"))
    und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst")
      )
  }

  /** Modularity components of a vertex partition over an undirected graph —
    * the quality measure the reference optimizes via seeded Leiden
    * (utils/neo4j_helpers.py:237-268, leidenalg's default objective) and the
    * quality bar SURVEY §7.4 declares for this rebuild's deterministic LPA
    * substitution ("modularity within ε").
    *
    * Newman modularity Q = Σ_c [ L_c/m − (d_c/2m)² ] for undirected graphs,
    * kept in PURE INTEGER components so the value is bit-identical across
    * engines (the x9 playbook): with num = 4·m·Σ L_c − Σ d_c², Q = num/(4m²).
    *
    * Input: `und` = canonical undirected edge list (a, b) with a < b,
    * distinct; `labels` = (id, lbl) partition. Shape: one equi-join pair to
    * label endpoints, one degree aggregate, one per-community sum — every
    * step key-partitioned, the three scalar aggregates combined by
    * broadcast; no driver loop, holds at any graph size.
    */
  def modularityComponents(und: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("id").as("a"), col("lbl").as("la"))
    val lb = labels.select(col("id").as("b"), col("lbl").as("lb"))
    val mRow = und.agg(count(lit(1)).as("n_edges"))
    val intraRow = und
      .join(la, "a")
      .join(lb, "b")
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = und
      .select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("deg"))
    val sumD2Row = deg
      .join(labels, "id")
      .groupBy(col("lbl"))
      .agg(sum(col("deg")).as("dsum"))
      .agg(sum(col("dsum") * col("dsum")).as("sum_comm_deg_sq"))
    mRow
      .crossJoin(broadcast(intraRow))
      .crossJoin(broadcast(sumD2Row))
      .select(
        col("n_edges"),
        col("intra_edges"),
        col("sum_comm_deg_sq"),
        (lit(4) * col("n_edges") * col("intra_edges") - col("sum_comm_deg_sq"))
          .as("modularity_num")
      )
  }

  /** Scalar modularity Q ∈ [−0.5, 1] of a partition — the spec-floor form
    * (one collected aggregate row; the distributed components are
    * [[modularityComponents]]).
    */
  def modularity(und: DataFrame, labels: DataFrame): Double = {
    val r  = modularityComponents(und, labels).head()
    val m  = r.getAs[Long]("n_edges").toDouble
    val nm = r.getAs[Long]("modularity_num").toDouble
    if (m == 0) 0.0 else nm / (4.0 * m * m)
  }

  /** One deterministic greedy modularity-merge pass — the Leiden-ward
    * refinement over an LPA partition (the aggregation move of
    * CNM/Louvain, kept synchronous and tie-broken so it is
    * run-reproducible, which seeded Leiden itself is not):
    *
    *   1. coarsen: per-community degree sums d_c and inter-community edge
    *      counts E_{c1,c2};
    *   2. each community picks its best merge partner by the CNM gain
    *      ΔQ·2m² = 2m·E_{c1,c2} − d_{c1}·d_{c2}, kept in integers (the
    *      g7 playbook); only strictly-positive gains merge, ties break by
    *      (gain desc, partner label asc);
    *   3. chains of picks (A→B while B→C) resolve by connected components
    *      over the picked merge edges — every community in a merge chain
    *      lands in one final community, deterministically labeled by the
    *      min community label.
    *
    * The gains come from [[pairGains]], the kernel the fixed points share;
    * around it a pass adds one top-1 window and a CC run over the
    * COMMUNITY graph (strictly smaller than the input), so the refinement
    * costs a fraction of the LPA that precedes it. Every applied merge
    * edge has positive gain in isolation; resolving pick CHAINS in one
    * synchronous step is the standard parallel-agglomeration heuristic
    * (sequential CNM would re-evaluate after each merge) — so a pass is
    * not formally monotone in Q, which is why g8 reports the before/after
    * numerators and the spec asserts the improvement rather than assuming
    * it. A fixed point means no adjacent pair has positive gain — the CNM
    * stopping rule.
    */
  def refineMerge(
      und: DataFrame,
      labels: DataFrame,
      gammaNum: Long = 1L,
      gammaDen: Long = 1L
  ): DataFrame = {
    // The edge frame built lazily (no truncate, no scalar job): w ≡ 1 and
    // gm = the edge count as a broadcast single-row cross join.
    val e = und.select(col("a"), col("b"), lit(1L).as("w"))
    val u = e.crossJoin(broadcast(und.agg(count(lit(1)).as("gm"))))
    val state = withCommDeg(withDeg(labels, strength(e)))
    applyMerge(labels, picksFromGains(pairGains(u, state, gammaNum, gammaDen)))
  }

  /** The gain kernel both merge paths share: every adjacent community
    * pair's RB-configuration merge gain at resolution γ = gammaNum/gammaDen,
    *
    *   gain · 2m²·γden = γden·2m·E_{c1,c2} − γnum·d_{c1}·d_{c2}
    *
    * (Reichardt–Bornholdt modularity; γ=1 is the Newman/CNM gain above),
    * with E the inter-community edge-weight sum, d the community strength
    * and m = gm, the owning graph's total weight. Kept as a rational so the
    * arithmetic stays integer-exact — the same reason g7's modularity is a
    * numerator, never a float. Higher γ prices degree mass up, so only
    * densely-connected pairs merge (finer partitions); lower γ merges
    * toward connectivity — the knob the reference sweeps as Leiden
    * resolutions [2.0, 0.5, 0.1] (utils/neo4j_helpers.py:237-268,
    * settings.py:137).
    *
    * `u` is an edge frame (a, b, w, gm); `state` carries (id, lbl, cd),
    * cd = the vertex's community strength. Returns SYMMETRIC (c1, c2,
    * gain) rows. The pair aggregates on the canonical (least, greatest)
    * pair FIRST and mirrors the aggregated frame after — both union
    * branches then share the aggregate's shuffle (ReusedExchange), so the
    * edge-labeling join runs once, not once per direction. gm rides the
    * aggregate: both communities of an inter pair live in one graph, so
    * min() just reads it through; dx/dy align the carried community
    * strengths to the canonical orientation.
    */
  private def pairGains(u: DataFrame, state: DataFrame, gammaNum: Long, gammaDen: Long): DataFrame = {
    val xa = state.select(col("id").as("a"), col("lbl").as("ca"), col("cd").as("da"))
    val xb = state.select(col("id").as("b"), col("lbl").as("cb"), col("cd").as("db"))
    val half = u
      .join(xa, "a")
      .join(xb, "b")
      .filter(col("ca") =!= col("cb"))
      .groupBy(least(col("ca"), col("cb")).as("cx"), greatest(col("ca"), col("cb")).as("cy"))
      .agg(
        sum(col("w")).as("e12"),
        min(col("gm")).as("gm"),
        min(when(col("ca") <= col("cb"), col("da")).otherwise(col("db"))).as("dx"),
        min(when(col("ca") <= col("cb"), col("db")).otherwise(col("da"))).as("dy")
      )
      // the gain is symmetric in (x, y), so it is computed ONCE on the
      // canonical pair and mirrored with the frame
      .withColumn("gain", gain(gammaNum, gammaDen, "dx", "dy"))
    half
      .select(col("cx").as("c1"), col("cy").as("c2"), col("gain"))
      .unionAll(half.select(col("cy").as("c1"), col("cx").as("c2"), col("gain")))
  }

  /** γden·2·gm·e12 − γnum·d1·d2 over a pair row's columns. */
  private def gain(gammaNum: Long, gammaDen: Long, d1: String, d2: String): org.apache.spark.sql.Column =
    lit(gammaDen * 2) * col("gm") * col("e12") - lit(gammaNum) * col(d1) * col(d2)

  /** (id, lbl, deg): `labels` with each vertex's strength from `deg`;
    * edgeless vertices coalesce to 0 (they never appear in a pair row).
    */
  private def withDeg(labels: DataFrame, deg: DataFrame): DataFrame =
    labels
      .select(col("id"), col("lbl"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), col("lbl"), coalesce(col("deg"), lit(0L)).as("deg"))

  /** `state` plus cd = its community's strength, as one window by lbl. */
  private def withCommDeg(state: DataFrame): DataFrame =
    state.withColumn(
      "cd",
      sum(col("deg")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("lbl")))
    )

  /** Positive-gain top-1 picks per community: gain desc, partner asc. */
  private def picksFromGains(gains: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c1"))
      .orderBy(col("gain").desc, col("c2").asc)
    gains
      .filter(col("gain") > 0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c1").as("src"), col("c2").as("dst"))
  }

  /** MUTUAL best-partner pairs from a picks frame, via ONE keyed aggregate:
    * picks carry one row per c1, so an unordered pair appearing twice is
    * exactly "A picked B and B picked A". Replaces the picks-with-picks
    * self-join — which forced a materialization of picks to avoid computing
    * the gains window twice — so the whole pass collapses into a single
    * job. Output (src, dst) with src < dst; pairs are disjoint.
    */
  private def mutualPairs(picks: DataFrame): DataFrame =
    picks
      .groupBy(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === 2)
      .select(col("src"), col("dst"))

  /** The apply stage: chains of picks (A→B while B→C) resolve by connected
    * components over the picked merge edges — every community in a merge
    * chain lands in one final community, deterministically labeled by the
    * min community label.
    */
  private def applyMerge(labels: DataFrame, picks: DataFrame): DataFrame = {
    val comms  = labels.select(col("lbl").as("id")).distinct()
    val merged = connectedComponents(comms, picks)
    labels
      .join(merged.select(col("comp").as("new_lbl"), col("id").as("lbl")), Seq("lbl"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** Greedy merging iterated to the CNM FIXED POINT — the stopping rule
    * the single [[refineMerge]] pass stops short of: repeat until no
    * adjacent community pair has positive gain (or `maxPasses`, the
    * lineage-bounding cap).
    *
    * Each pass merges the MUTUAL best-partner pairs — A merges B only when
    * B also picks A — rather than refineMerge's CC-resolved pick chains.
    * That choice is what makes the loop correct to iterate:
    *
    *   - MONOTONE: mutual pairs are disjoint, and the Q-change of
    *     simultaneous disjoint merges is exactly the sum of their
    *     (strictly positive) pairwise gains — so Q rises every pass, where
    *     chain resolution can overshoot (the r7 non-monotonicity note).
    *     On a path graph one chain-resolved pass can collapse nearly
    *     everything regardless of γ (measured: 25-path → 2 communities at
    *     γ=2), erasing the resolution semantics the sweep exists for.
    *   - PROGRESSING: the maximum-gain pair is always mutual (follow
    *     best-partner picks upward: gains are non-decreasing along the
    *     chain and the deterministic tie-break — gain desc, partner asc —
    *     forbids >2-cycles at the top), so every non-converged pass
    *     applies ≥1 merge and the loop terminates.
    *
    * The fixed point is where the agglomeration matches sequential CNM's
    * termination — the remaining distance to Leiden-grade partitions
    * (VERDICT r7 #1). The emptiness probe on the pick frame is a limit-1
    * scan of a materialized pass output; each pass runs over the COMMUNITY
    * graph (strictly shrinking), so later passes cost less than earlier
    * ones; per-pass [[graft.Lineage.truncate]] keeps plan depth flat.
    *
    * Deterministic and SQL-unrollable: a pass at the fixed point is a
    * no-op in both engines, so an unrolled twin with ≥ as many passes
    * computes the identical partition.
    *
    * `u` is an [[edgeFrame]] (or a disjoint union of them), never
    * re-truncated here. `deg` is a hoisted [[vertexStrength]] table for
    * callers that run many calls over one frame; `probe = false` runs
    * exactly `maxPasses` passes with no convergence scans (the
    * unrolled-oracle discipline).
    */
  def refineMergeFixedPoint(
      u: DataFrame,
      labels: DataFrame,
      maxPasses: Int = 8,
      gammaNum: Long = 1L,
      gammaDen: Long = 1L,
      deg: Option[DataFrame] = None,
      probe: Boolean = true
  ): DataFrame = {
    // Loop state carries the pass-invariant vertex strength so the community
    // strength is ONE window per pass, not an aggregate + two joins.
    val init = Lineage.truncate(withDeg(labels, deg.getOrElse(vertexStrength(u))))
    // One materializing job per pass: gains → picks → mutual pairs (one
    // keyed aggregate, see mutualPairs — no self-join, so picks needs no
    // separate materialization) → relabel → new labels. Mutual pairs are
    // DISJOINT edges with src < dst, so only the dst side relabels (the
    // src side's least() is the identity) and the chain resolution that
    // needs a CC run in applyMerge degenerates to one broadcastable
    // relabel frame.
    //
    // Community strength rides the state frame as a window sum and is
    // CARRIED through the endpoint-labeling join into the canonical-pair
    // aggregate (see pairGains), so a pass costs 1 exchange for it where a
    // separate aggregate joined back onto the mirrored pair frame cost 5.
    def onePass(state: DataFrame, withChg: Boolean): DataFrame = {
      val curD = withCommDeg(state)
      val relabel = mutualPairs(picksFromGains(pairGains(u, curD, gammaNum, gammaDen)))
        .select(col("dst").as("lbl"), col("src").as("new_lbl"))
      // The relabel joins onto curD (the window output, already clustered
      // by lbl) so the state side of the join reuses the window's exchange.
      curD
        .join(relabel, Seq("lbl"), "left")
        .select(
          Seq(
            col("id"),
            coalesce(col("new_lbl"), col("lbl")).as("lbl"),
            col("deg")
          ) ++ (if (withChg) Seq(col("new_lbl").isNotNull.as(Lineage.Changed)) else Nil): _*
        )
    }
    // Convergence rides the relabel flag: no mutual pair ⇔ no
    // positive-gain pick (the max-gain pick is always mutual — see the
    // PROGRESSING note above).
    labelFixedPoint(init, maxPasses, probe)(onePass)
  }

  /** The EDGE FRAME both fixed points take: one graph's canonical
    * undirected edge list (a, b[, w]) materialized as (a, b, w, gm), with
    * w = 1 when absent and gm = the graph's total weight Σw (the edge count
    * when unweighted) — the one global the gain formula needs. Costs one
    * truncate (skipped when the input is already materialized) and one
    * scalar job; build it once and pass it to every call over the graph.
    *
    * w must be integral so the gain arithmetic stays engine-exact. The
    * weighted form is the igraph-with-weights substitution (Newman 2004 §V,
    * weighted RB form): edge counts become edge-weight sums, degrees become
    * strengths and m becomes W, so the unweighted ladder is exactly the
    * weighted one at w ≡ 1.
    *
    * A DISJOINT UNION of graphs batches into one pass chain when the
    * caller builds the frame itself with per-edge gm = the OWNING graph's
    * Σw: degrees, labels, picks and mutual pairs are already
    * per-component, so with disjoint vertex-id spaces each component's
    * result is identical to its solo run with the same pass budget (a
    * converged component no-ops through the remaining passes). Per-pass
    * cost is driver fixed overhead, so k batched graphs cost ~1× the
    * passes, not k×.
    */
  def edgeFrame(und: DataFrame): DataFrame = {
    val cols = if (und.columns.contains("w")) Seq("a", "b", "w") else Seq("a", "b")
    val e    = Lineage.truncate(und.select(cols.map(col): _*))
    val u    = if (cols.size == 3) e else e.withColumn("w", lit(1L))
    val gm   = u.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
    u.withColumn("gm", lit(gm))
  }

  /** Vertex STRENGTH table (id, deg = Σ incident w) of an edge frame,
    * materialized. Public so multi-call chains over one edge frame (the
    * family sweep) can compute it once and pass it to every fixed-point
    * call instead of paying the aggregate per call.
    */
  def vertexStrength(u: DataFrame): DataFrame = Lineage.truncate(strength(u))

  private def strength(u: DataFrame): DataFrame =
    u.select(col("a").as("id"), col("w"))
      .unionAll(u.select(col("b").as("id"), col("w")))
      .groupBy("id")
      .agg(sum(col("w")).as("deg"))

  /** The pass driver both label fixed points share ([[refineMergeFixedPoint]]
    * and [[refineWithinFixedPoint]]): `onePass(state, withChg)` applied up to
    * `maxPasses` times, stopping at the first pass that relabels nothing.
    *
    * Every pass is truncateFresh'd, not truncated: the label frame feeds
    * back into the next pass, and plain checkpoints carry the source
    * plan's size-in-bytes forward — compounding doubly-exponentially
    * across passes until the OPTIMIZER hangs in BigInteger math (see
    * Lineage.truncateFresh). The stats reset costs one re-encode of a
    * community-sized frame per pass. (Composing several passes into one
    * planned job was MEASURED and rejected: each pass references its state
    * plan several times — xa, xb, the relabel join — so a k-pass plan tree
    * grows ~5^k; 4 unrolled refine passes produced 2341-stage jobs. The
    * checkpoint-per-pass discipline is the floor.)
    *
    * Convergence is a limit-1 scan (`isEmpty`) of the relabel flag on the
    * frame the pass materialized anyway, instead of the old separate picks
    * materialization + emptiness probe (4 actions/pass → 2, r11 #2). The
    * probe is skipped on the FINAL budgeted pass (its answer cannot change
    * anything) and entirely under probe=false — callers whose pass budget
    * is pinned to an unrolled oracle run exactly maxPasses passes either
    * way (a converged pass is a no-op), and each skipped probe saves one
    * driver-planned job.
    */
  private def labelFixedPoint(init: DataFrame, maxPasses: Int, probe: Boolean)(
      onePass: (DataFrame, Boolean) => DataFrame): DataFrame =
    Lineage
      .iterate(init, maxPasses, fresh = true, converged = if (probe) Some(_.isEmpty) else None) {
        (state, _) => onePass(state, probe)
      }
      .select(col("id"), col("lbl"))

  /** The LEIDEN REFINEMENT PHASE (Traag–Waltman–van Eck 2019, the step
    * that makes Leiden ≠ Louvain; reference utils/neo4j_helpers.py:237-268
    * runs leidenalg, whose refinement splits badly-connected communities
    * the merge ladder cannot): within each community of `parent`, restart
    * from SINGLETONS and re-merge under the same deterministic
    * mutual-best-partner passes as [[refineMergeFixedPoint]], with two
    * constraints that define refinement:
    *
    *   1. merges stay INSIDE the parent community — the refined partition
    *      always refines `parent`;
    *   2. the WELL-CONNECTEDNESS gate: a sub-community R ⊆ C may take part
    *      in a merge only while 6·E(R, C∖R) ≥ ‖R‖·(‖C‖−‖R‖)
    *      (vertex-count form of the paper's γ-connectivity bound). A
    *      badly-connected R — e.g. a blob attached to the rest of its
    *      community by a single bridge edge — fails the gate and is FROZEN,
    *      even when re-merging it would raise modularity: the gate is a
    *      connectivity guarantee, not a quality heuristic, which is exactly
    *      how Leiden escapes the merge ladder's trapped dumbbells.
    *
    * A community the ladder inherited as a dumbbell (LPA label flooding
    * across a bridge) therefore SPLITS here: the sides re-form from
    * singletons (high intra gain), and the cross-bridge merge either has
    * negative gain at full community degrees or is blocked by the gate.
    * Merge gains are the same integer RB form as [[refineMergeFixedPoint]]
    * (γ = gammaNum/gammaDen over the WHOLE graph's m and degrees), so the
    * arithmetic stays engine-exact.
    *
    * Scale shape: per pass one endpoint-labeling join + keyed aggregates
    * (sizes, cuts, sub-community degrees) + one top-1 window + a
    * broadcastable disjoint relabel — everything keyed on sub-community or
    * parent, nothing driver-side; [[Lineage.truncateFresh]] between passes
    * (the label frame feeds back into itself — see that method's stats
    * note). Passes run over sub-community frames that only coarsen, and the
    * loop stops at the first pass with no mutual merge.
    *
    * Input: `u` an [[edgeFrame]] (or a disjoint union of them; `deg` and
    * `probe` as in [[refineMergeFixedPoint]]), `parent` = (id, lbl). With
    * weights, E is the edge-weight sum and degrees are strengths.
    * Returns (id, lbl): the refined partition (labels = min member id per
    * sub-community; parent communities with no internal structure return
    * intact).
    */
  def refineWithinFixedPoint(
      u: DataFrame,
      parent: DataFrame,
      maxPasses: Int = 6,
      gammaNum: Long = 1L,
      gammaDen: Long = 1L,
      deg: Option[DataFrame] = None,
      probe: Boolean = true
  ): DataFrame = {
    val par = parent.select(col("id"), col("lbl").as("parent"))
    val psz = par.groupBy("parent").agg(count(lit(1)).as("psz"))
    // Loop state carries the PASS-INVARIANT per-vertex columns (vertex
    // degree, parent size) alongside (id, lbl, parent): the old shape
    // re-joined `deg` and `psz` every pass, which cost two more exchange
    // materializations per pass under AQE. An edgeless vertex has no deg
    // row — coalesce to 0 (its singleton sub-community never appears in
    // the inter frame, so it can never merge either way).
    val init = Lineage.truncate(
      par
        .join(deg.getOrElse(vertexStrength(u)), Seq("id"), "left")
        .join(psz, "parent")
        .select(
          col("id"),
          col("id").as("lbl"),
          col("parent"),
          coalesce(col("deg"), lit(0L)).as("deg"),
          col("psz")
        )
    )
    // Sub-community size and degree sum ride the state frame as ONE
    // window (by lbl) and are CARRIED through the endpoint-labeling join
    // into the canonical-pair aggregate — min() reads the per-pair
    // constants through — instead of the old separate stats aggregate
    // joined back onto the mirrored pair frame (an agg + two two-sided
    // joins = 5 exchanges per pass where the carry costs 1). Values are
    // identical integers, so the partition is unchanged. psz is already
    // a per-vertex state column.
    def onePass(state: DataFrame, withChg: Boolean): DataFrame = {
      val wLbl = org.apache.spark.sql.expressions.Window.partitionBy(col("lbl"))
      val curS = state
        .withColumn("csz", count(lit(1)).over(wLbl))
        .withColumn("cd", sum(col("deg")).over(wLbl))
      val xa = curS.select(
        col("id").as("a"),
        col("lbl").as("ca"),
        col("parent").as("pa"),
        col("csz").as("sza"),
        col("cd").as("da"),
        col("psz").as("psza")
      )
      val xb = curS.select(
        col("id").as("b"),
        col("lbl").as("cb"),
        col("parent").as("pb"),
        col("csz").as("szb"),
        col("cd").as("db")
      )
      // intra-parent, inter-sub-community edges; counts aggregate on the
      // canonical (least, greatest) pair FIRST and mirror the aggregated
      // frame after — both union branches share the aggregate's shuffle
      // (ReusedExchange), so the edge-labeling join runs once per pass
      // instead of once per direction. psz is constant within a parent and
      // both sides share the parent, so min() reads it through.
      val half = u
        .join(xa, "a")
        .join(xb, "b")
        .filter(col("pa") === col("pb") && col("ca") =!= col("cb"))
        .groupBy(
          least(col("ca"), col("cb")).as("cx"),
          greatest(col("ca"), col("cb")).as("cy"),
          col("pa").as("parent")
        )
        .agg(
          sum(col("w")).as("e12"),
          min(col("gm")).as("gm"),
          min(when(col("ca") <= col("cb"), col("sza")).otherwise(col("szb"))).as("szx"),
          min(when(col("ca") <= col("cb"), col("szb")).otherwise(col("sza"))).as("szy"),
          min(when(col("ca") <= col("cb"), col("da")).otherwise(col("db"))).as("dx"),
          min(when(col("ca") <= col("cb"), col("db")).otherwise(col("da"))).as("dy"),
          min(col("psza")).as("psz")
        )
      val inter = half
        .select(
          col("cx").as("c1"), col("cy").as("c2"), col("parent"), col("e12"), col("gm"),
          col("szx").as("sz1"), col("szy").as("sz2"), col("dx").as("d1"), col("dy").as("d2"),
          col("psz")
        )
        .unionAll(
          half.select(
            col("cy").as("c1"), col("cx").as("c2"), col("parent"), col("e12"), col("gm"),
            col("szy").as("sz1"), col("szx").as("sz2"), col("dy").as("d1"), col("dx").as("d2"),
            col("psz")
          )
        )
      // LINEAR pipeline from here — no cut/eligibility diamond: cut(R) =
      // E(R, C∖R) rides the mirrored frame as two window sums (the c1-side
      // window runs last so the picks window below reuses its
      // partitioning), and the well-connectedness gate
      // (6·cut ≥ sz·(psz−sz)) filters rows directly. A
      // sub-community with no intra-parent neighbors has no inter rows —
      // eligible but partnerless under both shapes.
      val wc1 = org.apache.spark.sql.expressions.Window.partitionBy(col("c1"))
      val wc2 = org.apache.spark.sql.expressions.Window.partitionBy(col("c2"))
      val gains = inter
        .withColumn("cut2", sum(col("e12")).over(wc2))
        .withColumn("cut1", sum(col("e12")).over(wc1))
        .filter(
          lit(6L) * col("cut1") >= col("sz1") * (col("psz") - col("sz1"))
        )
        .filter(
          lit(6L) * col("cut2") >= col("sz2") * (col("psz") - col("sz2"))
        )
        .withColumn("gain", gain(gammaNum, gammaDen, "d1", "d2"))
      // mutual pairs only (disjoint, src < dst — so only the dst side
      // relabels); derived by ONE keyed aggregate over the picks
      // ([[mutualPairs]]), so the pass needs no separate picks
      // materialization and the whole relabel is one job
      val relabel = mutualPairs(picksFromGains(gains))
        .select(col("dst").as("lbl"), col("src").as("new_lbl"))
      // The relabel joins onto curS (the window output, already clustered
      // by lbl) so the state side reuses the window's exchange.
      curS
        .join(relabel, Seq("lbl"), "left")
        .select(
          Seq(
            col("id"),
            coalesce(col("new_lbl"), col("lbl")).as("lbl"),
            col("parent"),
            col("deg"),
            col("psz")
          ) ++ (if (withChg) Seq(col("new_lbl").isNotNull.as(Lineage.Changed)) else Nil): _*
        )
    }
    // Convergence rides the relabel flag: the loop ends at the first pass
    // that applied NO mutual pair — under the gate the max-gain pick is
    // still mutual whenever any gain survives, but reading the applied
    // frame directly is the guard that cannot hang.
    labelFixedPoint(init, maxPasses, probe)(onePass)
  }

  /** Resolution-parameterized community hierarchy — the Spark-native form
    * of the reference's 3-resolution Leiden sweep
    * (defs/assets/detect_communities.py:218-246, resolutions [2.0, 0.5,
    * 0.1]; utils/neo4j_helpers.py:237-268): per resolution, the FULL
    * Leiden shape — local-move merging to the fixed point
    * ([[refineMergeFixedPoint]]) followed by the REFINEMENT PHASE
    * ([[refineWithinFixedPoint]], the within-community singleton re-merge
    * under the well-connectedness gate) — exactly what the reference's
    * per-resolution `leidenalg` call runs. Each level is SEEDED from the
    * previous (finer) level's REFINED partition: without the per-level
    * refinement (refinePassesPerLevel = 0, the pre-r12 behavior) a level
    * that inherits a bridge-trapped community can only coarsen the
    * trapped merge at every later level — the exact artifact the
    * refinement phase exists to prevent (r11 verdict #1; measured
    * divergence pinned by g8e on the planted dumbbells). Level 0 starts
    * from synchronous LPA (the deterministic substitution SURVEY §7.4
    * declares for seeded Leiden).
    *
    * With refinement on, consecutive levels need NOT nest (level k+1's
    * refinement can split a community level k kept whole) — the
    * reference's independent per-resolution leidenalg runs do not nest
    * either; the decreasing-γ ordering still drives each level's merge
    * phase toward coarser partitions.
    *
    * `und` is the canonical undirected edge list (a < b, distinct);
    * `resolutions` are rationals (γnum, γden), ordered finest first
    * (decreasing γ). Returns (id, community_0, …, community_{k−1}), one
    * row per vertex. Per-level cost: LPA-sized passes over ever-coarser
    * community graphs — the Louvain scaling argument.
    */
  def resolutionHierarchy(
      vertexIds: DataFrame,
      und: DataFrame,
      resolutions: Seq[(Long, Long)],
      lpaIters: Int = 3,
      passesPerLevel: Int = 3,
      refinePassesPerLevel: Int = 4
  ): DataFrame = {
    // one edge frame and one strength table serve every level
    val u   = edgeFrame(und)
    val deg = Some(vertexStrength(u))
    val lpa = Lineage.truncate(
      labelPropagation(vertexIds, u.select(col("a").as("src"), col("b").as("dst")), lpaIters)
    )
    val levels = resolutions
      .scanLeft(lpa) { case (prev, (gn, gd)) =>
        val merged = refineMergeFixedPoint(u, prev, passesPerLevel, gn, gd, deg)
        if (refinePassesPerLevel <= 0) merged
        else refineWithinFixedPoint(u, merged, refinePassesPerLevel, gn, gd, deg = deg)
      }
      .drop(1)
    levels.zipWithIndex
      .map { case (l, i) => l.select(col("id"), col("lbl").as(s"community_$i")) }
      .reduce(_.join(_, "id"))
  }

  /** Fixed-iteration PageRank with INTEGER-QUANTIZED arithmetic, so the
    * scores are bit-identical across engines (the g7 playbook applied to
    * the one place float PageRank can never hash-match: double addition is
    * not associative, so partition merge order changes the low bits):
    *
    *   r₀(v) = scale;  rₜ(v) = (15·scale) div 100 + (85·Σᵤ→ᵥ (rₜ₋₁(u) div
    *   outdeg(u))) div 100
    *
    * Every operation is integer floor division — deterministic regardless
    * of aggregation order. Dangling nodes (no out-edges) contribute
    * nothing — their mass leaks, the declared semantic (redistribution
    * would need a per-pass global aggregate; the RANKING is what consumers
    * use and leak affects all nodes' shared teleport floor equally).
    *
    * Per pass: one equi-join onto the edge list + one aggregate on dst —
    * both key-partitioned; lineage truncated between passes. The classic
    * iterative-analytics shape that holds at any graph size.
    */
  def pageRankQuantized(
      vertexIds: DataFrame,
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000L
  ): DataFrame = {
    // materialize the edge list FIRST: callers pass distinct()/union-heavy
    // plans, and both the degree aggregate and the degree-annotated join
    // consume it — untruncated, that plan runs twice.
    val ed = Lineage.truncate(edges.select(col("src"), col("dst")))
    rankPasses(ed, "1", vertexIds.select(col("id"), lit(scale).as("r")), iterations)(
      globalTeleport(vertexIds, scale))
  }

  /** The pass loop every quantized PageRank shares: `iterations` rounds of
    *
    *   rₜ = teleport(Σᵤ→ᵥ (rₜ₋₁(u)·w) div strength(u))
    *
    * over the materialized edges `ed`, with w = the SQL expression
    * `weight` over an edge row and strength = Σ out-weights. The
    * unweighted forms pass the literal "1", for which (r·1) div Σ1 = r div
    * outdeg — the same integers, with no weight column stored.
    * `teleport` turns the per-vertex sum frame (id, s) into the next rank
    * frame (id, r).
    */
  private def rankPasses(ed: DataFrame, weight: String, r0: DataFrame, iterations: Int)(
      teleport: DataFrame => DataFrame): DataFrame = {
    // Strength is consumed exactly once (the annotation join below), so it
    // stays LAZY over the checkpointed edge frame — a second checkpoint of
    // a one-consumer aggregate is a pure extra job (r16 fold).
    val strength = ed.groupBy(col("src")).agg(sum(expr(weight)).as("sw"))
    // Pre-partition the strength-annotated edge frame by src BEFORE the
    // truncation: checkpointed frames keep their partitioning, so when the
    // rank side outgrows broadcast (the cluster-scale regime) each pass's
    // contrib join finds the invariant edge bulk already hash-distributed
    // on the join key and redistributes only the rank frame. While the
    // rank side still broadcasts (measured at ≤16× sf0.1) the edge side
    // streams shuffle-free either way — the pre-partition is the shape
    // that stays right past that point.
    val e = Lineage.truncate(ed.join(strength, "src").repartition(col("src")))
    // Each pass consumes the previous rank frame exactly ONCE (the contrib
    // join), so per-pass truncation would only pay a materialization job
    // without preventing any recompute — shuffle-stage boundaries already
    // bound retry cost. (Contrast labelPropagation, whose labels fan out
    // 3× per pass and MUST truncate.) Truncate every 5th pass purely to
    // bound plan depth for deep iteration counts.
    Lineage.iterate(r0, iterations, every = 5) { (r, _) =>
      teleport(
        e.join(r, e("src") === r("id"))
          .select(e("dst").as("id"), expr(s"(r * $weight) div sw").as("c"))
          .groupBy("id")
          .agg(sum(col("c")).as("s")))
    }
  }

  /** Global PageRank's rank update: every vertex gets the teleport floor
    * plus the damped contribution sum (absent sum = 0).
    */
  private def globalTeleport(vertexIds: DataFrame, scale: Long)(contrib: DataFrame): DataFrame =
    vertexIds
      .join(contrib, Seq("id"), "left")
      .select(
        col("id"),
        (lit(15L * scale / 100) + expr("(85 * coalesce(s, 0)) div 100")).as("r"))

  /** Fixed-iteration HITS (Kleinberg 1999) with INTEGER-QUANTIZED
    * arithmetic and per-pass L∞ normalization, so hub/authority scores are
    * bit-identical across engines (the [[pageRankQuantized]] playbook):
    *
    *   a_t(v) = (scale · Σ_{u→v} h_{t−1}(u)) div max_v(Σ h)
    *   h_t(u) = (scale · Σ_{u→v} a_t(v))     div max_u(Σ a)
    *
    * Every step is an integer sum (order-independent) and one global max —
    * the standard power-iteration rescale that keeps the lattice in
    * [0, scale] at any depth. The raw sum frames are cache-pinned per
    * half-step ([[graft.Lineage.cachePin]] — the max collect on the next
    * line fills the cache, one job per half-step where
    * checkpoint-then-aggregate paid two) because each is consumed twice
    * (the max aggregate and the normalize projection); the max itself —
    * one row by construction — is
    * COLLECTED to the driver and folded into the consuming half-step's
    * projection as a literal (the Dedup single-row-census pattern), not
    * broadcast-joined: the r14/r15 verdicts measured this family as
    * driver-floor-bound, and a literal divisor removes one broadcast
    * exchange build plus one BroadcastNestedLoopJoin stage from every
    * half-step while producing bit-identical scores (same integer
    * arithmetic, the divisor is the same single value either way). At
    * cluster scale the collect stays a one-row tree-reduce over the
    * already-checkpointed sum frame — the same data movement the
    * broadcast build paid, minus the re-publish to every executor.
    *
    * Per half-step: one equi-join onto the edge list + one keyed hash
    * aggregate — the same iterative-analytics shape as PageRank. The
    * score frames are vertex-bounded, so AQE broadcasts them against the
    * streamed edge scan at every measured scale; past the broadcast
    * regime a cluster deployment materializes src- and dst-partitioned
    * edge copies once (the [[pageRankQuantized]] discipline, one per join
    * orientation) — not done here because each extra upfront
    * materialization is a full job the measured regime never recoups.
    * Returns (hubs, authorities) as (id, score) frames.
    *
    * CONTRACT: `iterations >= 1` (enforced — the authorities frame only
    * exists after the first half-step). Zero-score vertices are ABSENT
    * rows, not score-0 rows: a vertex with no in-edges never appears in
    * the authority frame, and a dst-only vertex never appears in the hub
    * frame — callers ranking top-k (g21) are unaffected, but a caller
    * needing the full vertex domain must left-join these frames onto its
    * vertex table and coalesce to 0.
    */
  def hitsQuantized(
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000L
  ): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"hitsQuantized needs iterations >= 1, got $iterations")
    val e = Lineage.truncate(edges.select(col("src"), col("dst")))
    // max of an empty half-step frame is null (no edges reached) — any
    // divisor works then, the normalize projects an empty frame either way
    def maxOf(raw: DataFrame): Long = {
      val r = raw.agg(max(col("s"))).head()
      if (r.isNullAt(0)) 1L else r.getLong(0)
    }
    var h = e.select(col("src").as("id")).distinct().select(col("id"), lit(scale).as("s"))
    var a: DataFrame = null
    (1 to iterations).foreach { _ =>
      val araw = Lineage.cachePin(
        e.join(h, e("src") === h("id"))
          .groupBy(e("dst").as("id"))
          .agg(sum(col("s")).as("s"))
      )
      a = araw.select(col("id"), expr(s"($scale * s) div ${maxOf(araw)}").as("s"))
      val hraw = Lineage.cachePin(
        e.join(a, e("dst") === a("id"))
          .groupBy(e("src").as("id"))
          .agg(sum(col("s")).as("s"))
      )
      h = hraw.select(col("id"), expr(s"($scale * s) div ${maxOf(hraw)}").as("s"))
    }
    (h, a)
  }

  /** WEIGHTED PageRank, integer-quantized: [[pageRankQuantized]] with edge
    * weights (`src`, `dst`, `w`) — each vertex splits its rank
    * proportionally to w instead of uniformly, contribution = (r·w) div
    * strength with strength = Σ out-weights (the g20 substitution, degree →
    * strength, applied to the rank recursion). Same damping lattice, same
    * per-term floor division so any aggregation order gives the same sums;
    * the unweighted form is exactly w ≡ 1. Plan shape is identical: the
    * strength-annotated edge frame is truncated and pre-partitioned by src
    * once, each pass is one keyed join + hash aggregate + left merge.
    */
  def pageRankQuantizedWeighted(
      vertexIds: DataFrame,
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000L
  ): DataFrame = {
    val ed = Lineage.truncate(edges.select(col("src"), col("dst"), col("w")))
    rankPasses(ed, "w", vertexIds.select(col("id"), lit(scale).as("r")), iterations)(
      globalTeleport(vertexIds, scale))
  }

  /** Personalized PageRank, integer-quantized, SPARSE: teleport mass goes
    * only to `seeds`, so r₀ lives on the seed set and each pass touches
    * only vertices within one more hop — the frontier-sparse form that
    * makes per-seed-set ranking affordable on a 100 TB graph (global
    * [[pageRankQuantized]] must carry every vertex every pass; this
    * carries only the reached ones, and absent rows mean rank 0 by
    * construction in both engines):
    *
    *   rₜ(v) = [v ∈ S]·(15·scale) div 100 + (85·Σᵤ→ᵥ rₜ₋₁(u) div od(u)) div 100
    *
    * All integer floor division (the g9 playbook) — deterministic under
    * any aggregation order. Dangling mass leaks, as in g9 (the declared
    * semantic). Per pass: one equi-join + one aggregate + one full-outer
    * merge with the (small, broadcastable) seed teleport — key-partitioned
    * throughout.
    */
  def personalizedPageRankQuantized(
      seeds: DataFrame,
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000L,
      epsilon: Long = 0L
  ): DataFrame = {
    // see pageRankQuantized: truncate the edge plan once, consume it twice;
    // rankPasses pre-partitions it by src so that past the broadcast
    // regime each pass redistributes only the rank frame — which for the
    // ε-truncated variant is the FRONTIER-BOUNDED side
    val ed = Lineage.truncate(edges.select(col("src"), col("dst")))
    val tp = Lineage.truncate(seeds.select(col("id"), lit(15L * scale / 100).as("tp")))
    rankPasses(ed, "1", tp.select(col("id"), lit(scale).as("r")), iterations) { contrib =>
      val merged = tp
        .join(contrib, Seq("id"), "full_outer")
        .select(
          col("id"),
          (coalesce(col("tp"), lit(0L)) +
            expr("(85 * coalesce(s, 0)) div 100")).as("r")
        )
      // Frontier truncation (ε > 0): drop ranks below the integer threshold
      // after every pass — the standard sparse-PPR pruning (Andersen et al.'s
      // push keeps residual ≥ ε·deg; this is the bulk-synchronous analogue).
      // The frontier stops growing with hop count once per-hop mass decays
      // under ε, bounding per-pass cost on a high-degree graph. A DECLARED
      // APPROXIMATION: a pruned vertex's downstream contribution is lost,
      // biasing tail ranks low — seeds and near-seed mass (≥ teleport floor)
      // always survive, so head ranks are exact for any ε below it. ε = 0
      // (default) is the exact frontier-sparse form.
      if (epsilon > 0L) merged.filter(col("r") >= epsilon) else merged
    }
  }

  /** Synchronous label propagation (fixed iteration count, fully
    * deterministic): label₀(v) = v; each pass every vertex adopts the most
    * frequent label among its neighbors PLUS ITS OWN current label (one
    * self-vote), ties broken by the smallest label; isolated vertices keep
    * theirs. The deterministic community baseline one step up from
    * connected components (async LPA — and seeded Leiden, reference
    * utils/neo4j_helpers.py:237-268 — are not run-reproducible across
    * engines; SURVEY §7.4 declares this substitution).
    *
    * The self-vote is the inertia term of Raghavan et al.'s original LPA:
    * without it, SYNCHRONOUS updates oscillate on bipartite structures
    * (on a path graph every vertex swaps labels with its neighbors each
    * pass — measured Q ≈ 0 on the chained-nation harness graph in round
    * 5). With it, updates are sticky and the measured modularity on
    * structured graphs recovers (see g7 and GraphOpsSpec's quality floor).
    *
    * Per pass: one equi-join + one count aggregate + one top-1 window +
    * one left join — all key-partitioned, `localCheckpoint` truncating
    * lineage between passes.
    */
  def labelPropagation(vertexIds: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    val sym = Lineage.truncate(
      edges
        .select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    )

    val labels0 = Lineage.truncate(vertexIds.select(col("id"), col("id").as("lbl")))
    Lineage.iterate(labels0, iterations) { (labels, _) =>
      val neigh = sym
        .join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("lbl"))
      val votes = neigh.unionByName(labels.select(col("id"), col("lbl")))
      val cnt   = votes.groupBy(col("id"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
        .orderBy(col("c").desc, col("lbl").asc)
      val picked = cnt
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("lbl").as("new_lbl"))
      labels
        .join(picked, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }
  }

  /** Deterministic multi-level community hierarchy — the Spark-native form
    * of the reference's 3-resolution Leiden run
    * (defs/assets/detect_communities.py:218-246, resolutions [2.0, 0.5,
    * 0.1]; exact Leiden parity is declared out of scope, SURVEY §7.4):
    *
    *   - level 0 (finest): synchronous LPA on the input graph;
    *   - level 1: the graph COARSENED by level-0 communities
    *     (communities become vertices, deduplicated inter-community edges
    *     become edges — the Louvain/Leiden aggregation step), then LPA
    *     again on the coarse graph;
    *   - level 2 (coarsest): connected components — the connectivity limit
    *     every resolution sequence bottoms out at.
    *
    * Returns `(id, community_l0, community_l1, community_l2)`, one row per
    * vertex, all labels drawn from the vertex-id namespace. Each level is
    * join+aggregate passes over key-partitioned frames; the coarse graph is
    * strictly smaller than the input, so level cost decreases — the same
    * reason Louvain scales.
    */
  def communityHierarchy(vertexIds: DataFrame, edges: DataFrame, iterations: Int = 3): DataFrame = {
    // The LPA→coarsen→LPA chain and the connected-components run are
    // independent chains of eager truncate actions — submit them from two
    // threads so their jobs overlap (deterministic either way).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fLpa = Future {
      val l0 = Lineage.truncate(labelPropagation(vertexIds, edges, iterations))
      val coarseEdges = edges
        .join(l0.select(col("id").as("src"), col("lbl").as("csrc")), "src")
        .join(l0.select(col("id").as("dst"), col("lbl").as("cdst")), "dst")
        .filter(col("csrc") =!= col("cdst"))
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .distinct()
      val coarseVerts = l0.select(col("lbl").as("id")).distinct()
      (l0, labelPropagation(coarseVerts, coarseEdges, iterations))
    }
    val fCc      = Future(connectedComponents(vertexIds, edges))
    val (l0, l1) = Await.result(fLpa, Duration.Inf)
    val l2       = Await.result(fCc, Duration.Inf)
    l0.select(col("id"), col("lbl").as("community_l0"))
      .join(
        l1.select(col("id").as("community_l0"), col("lbl").as("community_l1")),
        "community_l0"
      )
      .join(l2.select(col("id"), col("comp").as("community_l2")), "id")
      .select(col("id"), col("community_l0"), col("community_l1"), col("community_l2"))
  }

  /** Fixed-pass k-core peeling over a canonical undirected edge list
    * `(a, b)`: each pass drops every vertex whose CURRENT degree is below
    * `k` (and the edges touching it), the textbook iterative peel whose
    * fixed point is the k-core (Seidman; the reference's analytic layer
    * stops at connectivity, utils/neo4j_helpers.py:196-234 — the core
    * decomposition is the next densest-substructure rung a graph-quality
    * pipeline reaches for). A FIXED pass count keeps the operator
    * deterministic and SQL-unrollable (the g2b playbook): after `passes`
    * rounds the survivors are exactly the vertices the same number of
    * synchronous peel rounds leaves in any engine, converged or not.
    *
    * Per pass: one degree aggregate + two semi-joins — all key-partitioned,
    * lineage truncated between passes; edge set only ever shrinks, so pass
    * cost is non-increasing. Returns the surviving edge list.
    */
  def kCorePeel(und: DataFrame, k: Int, passes: Int): DataFrame = {
    Lineage.iterate(Lineage.truncate(und.select(col("a"), col("b"))), passes) { (e, _) =>
      val keep = e
        .select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("v")
      e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
  }

  /** Multi-source BFS hop counts: `seeds` is `(id, hop)` (hop 0 at the
    * sources); each pass the frontier relaxes one edge — a vertex's hop is
    * the min over (its current hop, any in-neighbor's hop + 1). After
    * `passes` rounds every vertex within that distance of a seed carries
    * its exact hop count; unreached vertices are absent (no sentinel rows).
    * The Bellman-Ford/Pregel shape with unit weights: per pass one
    * equi-join + one min aggregate, key-partitioned, lineage truncated —
    * the reference's path-style traversals (Neo4j MATCH paths) re-expressed
    * as bulk-synchronous relational passes that hold at any graph size.
    *
    * `edges` is directed `(src, dst)`; pass a symmetrized list for
    * undirected reachability.
    */
  def bfsHops(seeds: DataFrame, edges: DataFrame, passes: Int): DataFrame = {
    Lineage.iterate(Lineage.truncate(seeds.select(col("id"), col("hop"))), passes) { (hops, _) =>
      val relaxed = edges
        .join(hops, edges("src") === hops("id"))
        .select(edges("dst").as("id"), (col("hop") + 1).as("hop"))
      hops.unionByName(relaxed).groupBy("id").agg(min("hop").as("hop"))
    }
  }

  /** Per-seed BFS hop counts — [[bfsHops]] with seed identity: `seeds` is
    * `(seed, id, hop)` and the frontier key is the (seed, id) PAIR, so after
    * `passes` rounds every (seed, vertex) pair within that distance carries
    * the exact hop count from THAT seed (bfsHops collapses the seed set to
    * one min — this keeps the per-landmark distances centrality estimators
    * need). State is |seeds| × |reach| rows: the Eppstein–Wang landmark
    * trade — centralities are estimated from a bounded seed sample exactly
    * so the state stays |S|-bounded and never becomes all-pairs. Per pass
    * one equi-join on src + one (seed, id) min aggregate, lineage truncated.
    */
  def seededHops(seeds: DataFrame, edges: DataFrame, passes: Int): DataFrame = {
    val hops0 = Lineage.truncate(seeds.select(col("seed"), col("id"), col("hop")))
    Lineage.iterate(hops0, passes) { (hops, _) =>
      val relaxed = edges
        .join(hops, edges("src") === hops("id"))
        .select(col("seed"), edges("dst").as("id"), (col("hop") + 1).as("hop"))
      hops.unionByName(relaxed).groupBy("seed", "id").agg(min("hop").as("hop"))
    }
  }

  /** Per-seed BFS with SHORTEST-PATH COUNTS — [[seededHops]] extended with
    * the σ (sigma) multiplicities Brandes-style betweenness needs (Brandes
    * 2001 §3: σ_sv = the number of distinct shortest s→v paths; the pivot
    * estimator in Brandes–Pich 2007 consumes exactly these per-landmark
    * counts), executed as MULTI-SOURCE BFS (Then et al., VLDB 2014 "The
    * More the Merrier: Efficient Multi-Source BFS"): all K landmarks ride
    * ONE K-slot state vector per vertex — per pass the edge relaxation
    * joins |E| rows ONCE and ships K scalar message columns per edge
    * instead of the K·|E| exploded (seed, vertex) rows the row-per-seed
    * form shuffles (measured on g23 at sf0.1: the row form's relaxations
    * peaked at 9.6M shuffled rows and ~6 s per pass; the packed form cut
    * the query ~2×). Messages fold as K plain `sum`s (whole-stage codegen,
    * map-side combinable — a typed vector-sum UDAF was measured slower on
    * |E| rows from per-row encoder cost and dropped); a slot is finalized
    * the first pass it arrives — level-synchronous "first reached" with σ
    * = the sum over pass-(t−1) predecessors, no anti-join needed because
    * finalized slots simply refuse later arrivals.
    *
    * `seeds` is `(seed: string, id)` (distance 0, σ = 1 — conventionally
    * seed = id's own label); `edges` is directed `(src, dst)` — pass a
    * symmetrized list for undirected graphs. Returns `(seed, id, dist,
    * sigma)` for every pair within `passes` hops; unreached pairs are
    * absent. The seed LABELS are collected to the driver to fix the slot
    * order — bounded BY CONTRACT at K rows (landmark estimators sample a
    * small pivot set; that is the entire Eppstein–Wang/Brandes–Pich
    * design), never data-scale. σ rides a plain long: path counts at
    * `passes` hops are bounded by (max degree)^passes, so 63 bits hold to
    * degree ~55k at 4 hops (declared boundary; an extreme-hub deployment
    * widens the slots to decimal). Consumers forming σ·σ PRODUCTS must
    * cast to decimal(38,0) first (the a30 discipline — g23 does).
    *
    * Scale shape: per pass ONE equi-join on src + one |V|-group vector
    * aggregate + one |V|-row full-outer state merge, all keyed; state is
    * |reach| rows × K slots. States are [[Lineage.cachePin]]ned (loop
    * state consumed by the next pass and the final explode — the r16
    * job-count discipline), each pass FORCES its cache and releases the
    * previous generation's blocks (bounded two-generation memory window;
    * the r16 256× soak spilled with every generation pinned to the
    * releasePins boundary), and the pass count keeps the compounded
    * stats estimate bounded.
    */
  def seededPaths(seeds: DataFrame, edges: DataFrame, passes: Int): DataFrame = {
    val slots = seeds
      .select(col("seed"))
      .distinct()
      .orderBy(col("seed"))
      .collect()
      .map(_.get(0).toString)
    val seedArr = "array(" + slots
      .map(s => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString(",") + ")"
    var state = Lineage.cachePin(
      seeds
        .groupBy(col("id"))
        .agg(collect_set(col("seed")).as("ss"))
        .select(
          col("id"),
          expr(
            s"""transform($seedArr, s -> IF(array_contains(ss, s),
                  named_struct('dist', 0L, 'sigma', 1L),
                  named_struct('dist', -1L, 'sigma', 0L)))"""
          ).as("st")
        )
    )
    // Bounded TWO-GENERATION memory window (r16 soak: all `passes`+1
    // pinned states stayed cached simultaneously and spilled at the 256×
    // rung): each pass FORCES its state's cache with a count — pass k's
    // cached rows no longer need pass k−1's — and releases the previous
    // generation's blocks. The count is one cheap driver job per pass;
    // blocks freed here would otherwise survive to the releasePins()
    // boundary. The LAST state stays pinned: the caller's explode (and a
    // memoizing caller's truncate) still reads it.
    var prevGen: DataFrame = state
    (1 to passes).foreach { t =>
      val live = state.filter(expr(s"exists(st, s -> s.dist = ${t - 1})"))
      // K scalar message columns, not one array: plain long sums stay
      // inside whole-stage codegen with map-side partial aggregation —
      // the measured reason this beats both the row-per-seed form and a
      // typed vector-sum UDAF (per-row encoder cost on |E| rows).
      val msgCols = slots.indices.map(i =>
        expr(s"IF(st[$i].dist = ${t - 1}, st[$i].sigma, 0L)").as(s"m$i")
      )
      val msgs = edges
        .join(live, edges("src") === live("id"))
        .select(edges("dst").as("id") +: msgCols: _*)
      val sums = slots.indices.map(i => sum(col(s"m$i")).as(s"m$i"))
      val arrivals = msgs
        .groupBy(col("id"))
        .agg(sums.head, sums.tail: _*)
        .select(
          col("id"),
          expr(s"array(${slots.indices.map(i => s"m$i").mkString(",")})").as("m")
        )
        .filter(expr("exists(m, x -> x > 0)"))
      state = Lineage.cachePin(
        state
          .join(arrivals, Seq("id"), "full_outer")
          .select(
            col("id"),
            expr(
              s"""CASE
                    WHEN st IS NULL THEN transform(m, x ->
                      IF(x > 0, named_struct('dist', ${t}L, 'sigma', x),
                                named_struct('dist', -1L, 'sigma', 0L)))
                    WHEN m IS NULL THEN st
                    ELSE zip_with(st, m, (s, x) ->
                      IF(s.dist >= 0, s,
                        IF(x > 0, named_struct('dist', ${t}L, 'sigma', x),
                                  named_struct('dist', -1L, 'sigma', 0L))))
                  END"""
            ).as("st")
          )
      )
      state.count() // fill pass t's cache so pass t−1's blocks can go
      prevGen.unpersist(blocking = false)
      prevGen = state
    }
    state
      .select(col("id"), posexplode(col("st")))
      .filter(col("col.dist") >= 0)
      .select(
        expr(s"element_at($seedArr, pos + 1)").as("seed"),
        col("id"),
        col("col.dist").as("dist"),
        col("col.sigma").as("sigma")
      )
  }

  /** Connected components by min-label propagation with pointer jumping:
    * every vertex starts labelled with its own id; each pass every vertex
    * takes the min label in its closed neighborhood, then resolves that
    * label through the label OF its label (`comp := comp(comp)` — path
    * doubling). Returns `(id, component)` with component = min vertex id.
    *
    * Propagation alone needs diameter-many passes (a chain of length d
    * drags the min one hop per pass); the jump halves every label chain
    * each pass, so convergence is O(log d) passes — the hash-to-min bound.
    * The jump is safe: `comp(x) <= x` and both live in x's component, so
    * labels stay monotone non-increasing within the component, and a pass
    * with zero changes is a propagation fixed point, which for min-labels
    * is globally correct. The jump's self-join is |V|-sized — cheap next
    * to the |E|-sized message join it saves passes of. At the 100 TB scale
    * pass count IS the cost (each pass is a full shuffle barrier + job
    * launch; the sf1 soak measured the CC family's growth as per-pass
    * overhead at a deeper effective diameter), so log d beats d directly.
    *
    * The reference collects its (small) graph to the driver for igraph/Leiden
    * (neo4j_helpers.py:196-268); this is the distributed form that holds at
    * 100 TB — per-pass cost is one shuffle join + one aggregate + one
    * vertex-sized self-join.
    */
  def connectedComponents(vertexIds: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val sym = Lineage.truncate(
      edges
        .select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    )

    // Convergence: a pass with zero changed labels. The probe keeps
    // count(), not isEmpty: on an all-false converged pass the limit-1
    // scan scales up partition by partition and can cost two jobs.
    val labels0 = Lineage.truncate(vertexIds.select(col("id"), col("id").as("comp")))
    Lineage.iterate(labels0, maxIter, converged = Some(_.count() == 0)) { (labels, _) =>
      val msgs = sym
        .join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("comp"))
      // fused convergence: each vertex's previous label rides along as `old`
      // (exactly one non-null per id — min ignores nulls), so the changed
      // flag is a scan of the materialized pass output, not a second join
      val prop = labels
        .select(col("id"), col("comp"), col("comp").as("old"))
        .unionByName(msgs.withColumn("old", lit(null).cast(msgs.schema("comp").dataType)))
        .groupBy("id")
        .agg(min("comp").as("comp"), min("old").as("old"))
      // pointer jump: comp := comp(comp). Every comp value is a vertex id
      // present in `prop` (labels covers all ids; min only ever picks ids),
      // so the inner equi-join is total.
      val parents = prop.select(col("comp").as("pcomp"), col("id").as("comp"))
      prop
        .join(parents, Seq("comp"))
        .select(col("id"), col("pcomp").as("comp"), (col("pcomp") =!= col("old")).as(Lineage.Changed))
    }
  }
}
