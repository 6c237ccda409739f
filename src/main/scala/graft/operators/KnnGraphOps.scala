package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** The banded degree-bounded kNN-graph machinery behind the graph-ANN
  * family ([[graft.queries.Vectors]] s19j/s19l/s19m) and the streaming
  * index-maintenance face ([[graft.streaming.StreamOps.knnGraphIngest]])
  * — factored out so the batch index build and its incremental ingest
  * share ONE construction (a batch-built graph and its stream-maintained
  * twin must agree bit-for-bit on the first batch or the index is
  * useless; the MinHashOps precedent).
  *
  * Construction (Malkov–Yashunin 2016's NSW/HNSW family, de-randomized):
  * candidates share any of [[Bands]] independent LSH band buckets
  * (occupancy-capped at [[Cap]] — the m9/m10 banding discipline), each
  * node keeps its top-[[Deg]] by exact integer-lattice cosine, links are
  * symmetrized. All hashes md5-derived; the DuckDB oracle regenerates
  * every plane and bucket key exactly.
  *
  * Scale: pairs ≤ bands·buckets·cap² regardless of corpus size; the
  * similarity is computed in the join projection so embedding arrays
  * never shuffle; top-M is a window partitioned by source node.
  */
object KnnGraphOps {

  val Bands  = 6   // independent LSH band views (cross-cluster navigability)
  val Planes = 3   // planes per band → 8 buckets per view
  val Deg    = 8   // degree bound M: top-M out-neighbors kept per node
  val Cap    = 256 // bucket occupancy cap

  /** Integer-lattice quantization: floor(e·1024), exact in both engines. */
  def quantArr(c: Column): Column =
    transform(c.cast("array<double>"), x => floor(x * lit(1024)))

  /** Band `b`'s hyperplanes: plane indices 100+3b+k (seed space disjoint
    * from s19b's planes 0..3); the oracle regenerates plane p via
    * [[VF.duckdbPlaneSql]] with the same index.
    */
  def bandPlanes(b: Int): Seq[Seq[Double]] =
    Seq.tabulate(Planes)(k =>
      Seq.tabulate(64)(j => VF.hashUnit(s"${100 + 3 * b + k}_${j}")))

  /** All [[Bands]] band views of a (vec_id, embedding, qa) frame —
    * (band, vec_id, qa, bk) rows, the key space both the graph BUILD and
    * the insert PROBE hash into.
    */
  def bandKeyed(base: DataFrame): DataFrame =
    (0 until Bands)
      .map(b =>
        base.select(
          lit(b).as("band"),
          col("vec_id"),
          col("qa"),
          VF.signBits(col("embedding"), bandPlanes(b)).as("bk")
        ))
      .reduce(_ unionByName _)

  /** The md5-rank occupancy cap applied to a band-keyed frame, leaving
    * `headroom(band, bk)` slots free (0 rows when absent) — the
    * incremental form: a batch appending into existing buckets caps
    * against the occupancy ALREADY on disk, so a bucket never exceeds
    * [[Cap]] across the index's lifetime.
    */
  def capAgainst(keyed: DataFrame, occupied: DataFrame): DataFrame =
    keyed
      .join(broadcast(occupied), Seq("band", "bk"), "left")
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy(col("band"), col("bk"))
            .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc))
      )
      .filter(col("rn") + coalesce(col("n_occ"), lit(0L)) <= Cap)
      .drop("rn", "n_occ")

  /** [[bandKeyed]] with the occupancy cap applied to empty buckets — the
    * batch-build form (rn + 0 ≤ Cap; same result as [[capAgainst]] with
    * no occupancy, without the join).
    */
  def bandCapped(base: DataFrame): DataFrame =
    bandKeyed(base)
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy(col("band"), col("bk"))
            .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc))
      )
      .filter(col("rn") <= Cap)
      .drop("rn")

  /** Pair join + top-M + symmetrize over an already-capped bucket frame.
    *
    * The self-join is SYMMETRIC and the exact sim is symmetric (a_i·b_i =
    * b_i·a_i exactly in IEEE, same strict fold order), so candidate pairs
    * are generated ONCE per unordered pair (vec_id < v2) and mirrored
    * AFTER the max-over-bands aggregate — half the pair-join output, half
    * the dot evaluations, half the (u, v2) aggregate shuffle of the
    * both-directions join this replaces (guide §2.3: shuffle fewer
    * bytes). The mirrored frame contains exactly the rows the
    * both-directions form produced (max-then-mirror = mirror-then-max),
    * so topMLinks/symmetrize see identical input. [[bucketPairs]] keeps
    * the general probe≠target form for the s19m/stream ingest path, where
    * the two sides are disjoint and no mirror exists.
    */
  def graphFromCapped(capped: DataFrame): DataFrame = {
    val half = capped
      .join(
        capped.select(col("band"), col("bk"), col("vec_id").as("v2"), col("qa").as("qa2")),
        Seq("band", "bk"))
      .filter(col("vec_id") < col("v2"))
      .select(
        col("vec_id").as("u"),
        col("v2"),
        VF.dot(col("qa"), col("qa2")).cast("long").as("sim_uv"))
      .groupBy(col("u"), col("v2"))
      .agg(max(col("sim_uv")).as("sim_uv"))
    val pairs = half.unionByName(
      half.select(col("v2").as("u"), col("u").as("v2"), col("sim_uv")))
    symmetrize(topMLinks(pairs))
  }

  /** Bucket-mate candidate pairs between a probe side and a target side
    * (equi-join on (band, bk), self-pairs dropped, exact sim computed in
    * the join projection, max over multi-band meetings).
    */
  def bucketPairs(probe: DataFrame, target: DataFrame): DataFrame =
    probe
      .join(target, Seq("band", "bk"))
      .filter(col("vec_id") =!= col("v2"))
      .select(
        col("vec_id").as("u"),
        col("v2"),
        VF.dot(col("qa"), col("qa2")).cast("long").as("sim_uv"))
      .groupBy(col("u"), col("v2"))
      .agg(max(col("sim_uv")).as("sim_uv"))

  /** Keep each source node's top-[[Deg]] links (sim desc, id asc). */
  def topMLinks(pairs: DataFrame): DataFrame =
    pairs
      .withColumn(
        "nrn",
        row_number().over(Window.partitionBy(col("u")).orderBy(col("sim_uv").desc, col("v2").asc)))
      .filter(col("nrn") <= Deg)
      .select(col("u"), col("v2").as("v"), col("sim_uv"))

  /** NSW/HNSW links are undirected: add each edge's reverse (max-sim on
    * dups — a pair met in several bands carries the same exact sim).
    */
  def symmetrize(directed: DataFrame): DataFrame =
    directed
      .unionByName(directed.select(col("v").as("u"), col("u").as("v"), col("sim_uv")))
      .groupBy(col("u"), col("v"))
      .agg(max(col("sim_uv")).as("sim_uv"))

  /** Fixed-depth beam search over an edge frame: entry = minimal
    * md5(vec_id) (the derandomized HNSW entry analog), then `passes`
    * truncated expand-score-cut rounds at width `k` against the stored
    * vector `queryVecId`. Each pass scores ≤ k·(M+1) ids via a broadcast
    * semi-join — never a corpus-wide ranking. Returns the final beam
    * (vec_id, sim_q).
    */
  def beamTopK(
      emb: DataFrame,
      edges: DataFrame,
      queryVecId: Long,
      k: Int,
      passes: Int): DataFrame = {
    val qa = emb.select(col("vec_id"), col("embedding"), quantArr(col("embedding")).as("qa"))
    // query vector collected ONCE (bounded by contract: one row, 64 lattice
    // longs) and folded into every pass as a literal — the batch side's
    // Vectors.queryQq discipline; the old per-pass crossJoin(broadcast(qq))
    // re-planned a vector-table scan + broadcast build each pass. Identical
    // scores: VF.dot casts the literal exactly as it cast the qq column.
    val qq = qa
      .filter(col("vec_id") === queryVecId)
      .select(col("qa"))
      .head(1)
      .headOption
      .getOrElse(throw new NoSuchElementException(
        s"beamTopK: query vector (vec_id=$queryVecId) missing"))
      .getSeq[Long](0)
    def score(ids: DataFrame): DataFrame =
      qa.join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"))
        .select(col("vec_id"), VF.dot(col("qa"), typedlit(qq)).cast("long").as("sim_q"))
    val entry = qa
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc)
      .limit(1)
    beamSearch(graft.Lineage.truncate(score(entry)), edges, k, passes, score)
  }

  /** `passes` beam passes from the scored start beam (vec_id, sim_q), each
    * materialized: expand the beam's neighbors in `nbrs` (u, v), score
    * beam ∪ neighbors via `scorer` (ids → (vec_id, sim_q)), keep the
    * top-`width` by (sim_q desc, vec_id asc). `passes = 0` returns `beam`.
    */
  def beamSearch(
      beam: DataFrame,
      nbrs: DataFrame,
      width: Int,
      passes: Int,
      scorer: DataFrame => DataFrame): DataFrame =
    graft.Lineage.iterate(beam, passes) { (b, _) =>
      val cand = b
        .select(col("vec_id"))
        .unionByName(
          nbrs
            .join(broadcast(b.select(col("vec_id").as("u"))), Seq("u"))
            .select(col("v").as("vec_id")))
        .distinct()
      scorer(cand).orderBy(col("sim_q").desc, col("vec_id").asc).limit(width)
    }
}
