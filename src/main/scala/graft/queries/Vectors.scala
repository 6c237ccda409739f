package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.functions.{VectorFunctions => VF}
import graft.operators.KnnGraphOps

/** SURVEY.md §2.1 S19/S20 + §2.10 G3 — the vector-store surface, Spark-first.
  *
  * Reference semantics (citations into /root/reference):
  *   - S19 kNN query: scripts/query_embeddings.py:39-93 — embed the query,
  *     cosine top-8 with metadata; utils/chroma_helpers.py:83-108 (normalized
  *     vectors, cosine space per README.md:459).
  *   - S20 vector dump: scripts/generate_embedding_vis.py:21-48 — batched
  *     full-collection scan of embeddings + metadata.
  *   - G3 embedding function: utils/chroma_helpers.py:36-81 — the model is
  *     not available offline, so the declared deterministic stub derives each
  *     component from md5 (FIXTURES.md pattern); the Spark-side plumbing
  *     (schema, column shapes, codegen'd arithmetic) is the real deliverable.
  *
  * Scale notes (100 TB):
  *   - `s19_knn_cosine` is the correctness baseline: one narrow scan of
  *     (vec_id, embedding), a broadcast of the single-row query vector, and a
  *     global top-k that Spark executes as TakeOrderedAndProject — O(k) state
  *     per partition, one O(k·parts) driver merge, no full sort, no wide
  *     shuffle. This plan survives arbitrary table growth.
  *   - `s19b_knn_bucketed` is the scale path: random-hyperplane LSH sign
  *     bits give each vector a compact bucket key; the query probes only its
  *     own bucket (expected candidates = n / 2^planes), so the rerank touches
  *     a tiny fraction of rows. The bucket join is a broadcast equi-join on
  *     the key — no all-pairs comparison anywhere. Recall < 1 by design;
  *     the oracle pins the exact same candidate set deterministically.
  */
object Vectors extends QueryModule {

  private val K       = 8
  // 4 planes = 16 buckets: the expected candidate set (n/16) stays well above
  // k at every test scale factor, so the rerank genuinely selects. At real
  // scale you'd raise planes with log2(n) to hold candidates ~constant.
  private val NPlanes = 4
  private val Dim     = 64

  /** Query = the stored vector with vec_id 0 (a self-contained, deterministic
    * stand-in for an embedded free-text query).
    */
  private def queryVec(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))

  private def scored(df: DataFrame): DataFrame =
    df.withColumn("score_raw", VF.cosine(col("embedding"), col("qe")))
      .orderBy(col("score_raw").desc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), round(col("score_raw"), 4).as("score"))

  /** S19 — brute-force cosine top-k (the exact answer). */
  private def s19_knn_cosine(s: SparkSession, d: String): DataFrame = {
    val e = table(s, d, "embeddings")
    scored(e.crossJoin(broadcast(queryVec(e))))
  }

  /** S19b — LSH-bucketed candidate pruning + exact rerank (the scale path). */
  private def s19b_knn_bucketed(s: SparkSession, d: String): DataFrame = {
    val pls   = VF.planes(NPlanes, Dim)
    val e     = table(s, d, "embeddings")
    val keyed = e.withColumn("bk", VF.signBits(col("embedding"), pls))
    val q = keyed
      .filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("bk").as("qbk"))
    scored(keyed.join(broadcast(q), col("bk") === col("qbk")))
  }

  /** S19d — metadata-FILTERED kNN: a predicate on the metadata column
    * restricts the candidate set BEFORE the exact top-k (the vector-store
    * `where`-filter form of the reference's collection.query,
    * scripts/query_embeddings.py:54-58 / Chroma query API). The filter is
    * a plain Catalyst predicate, so at scale it rides partition pruning /
    * row-group skipping on the metadata column rather than post-filtering
    * scored results — which would under-fill k.
    */
  private def s19d_knn_filtered(s: SparkSession, d: String): DataFrame = {
    val e = table(s, d, "embeddings")
    scored(e.filter(col("label").isin(2, 5, 7)).crossJoin(broadcast(queryVec(e))))
  }

  /** S20 — full-collection dump with derived metadata. */
  private def s20_vector_dump(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .select(
        col("vec_id"),
        col("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(VF.l2norm(col("embedding")), 4).as("norm")
      )

  /** G3 — deterministic embedding stub: component j of a document's vector is
    * an md5-derived value in [-0.5, 0.5), quantized ×10000 to integers so the
    * output is engine-portable (double→string rendering differs per engine).
    */
  private def g3_embed_stub(s: SparkSession, d: String): DataFrame = {
    val dim = 8
    val comps: Seq[Column] = (0 until dim).map { j =>
      val h = conv(substring(md5(concat(col("text"), lit(s"_$j"))), 1, 6), 16, 10)
        .cast("double")
      round(((h / 16777216.0) - 0.5) * 10000, 0).cast("long").cast("string")
    }
    table(s, d, "documents")
      .select(col("doc_id"), array_join(array(comps: _*), ",").as("emb_q"))
  }

  /** S19c — IVF-style ANN: one centroid per stored cluster label (per-dim
    * mean), the query probes only its nearest centroid's cluster, exact
    * rerank inside it. The third scale path next to brute force and LSH:
    * at 100 TB the centroid table is tiny (k × dim), the probe is a
    * broadcast, and the rerank touches n/k rows. Recall < 1 by design —
    * deterministic given the stored labels.
    */
  private def s19c_knn_ivf(s: SparkSession, d: String): DataFrame = {
    val e = table(s, d, "embeddings")
    val dims = e.select(col("label"), posexplode(col("embedding").cast("array<double>")))
    val cent = dims.groupBy(col("label"), col("pos")).agg(avg(col("col")).as("c"))
    val qdims = e
      .filter(col("vec_id") === 0)
      .select(posexplode(col("embedding").cast("array<double>")))
      .select(col("pos"), col("col").as("q"))
    val dist = cent
      .join(broadcast(qdims), Seq("pos"))
      .groupBy(col("label"))
      .agg(sum((col("c") - col("q")) * (col("c") - col("q"))).as("d2"))
    val probe = dist
      .orderBy(col("d2").asc, col("label").asc)
      .limit(1)
      .select(col("label").as("plabel"))
    scored(
      e.join(broadcast(probe), col("label") === col("plabel"))
        .crossJoin(broadcast(queryVec(e)))
    )
  }

  /** S27 — IVF codebook TRAINING step (one deterministic Lloyd iteration):
    * the half of the IVF story s19c consumes. Seeds = the first 8 stored
    * vectors; every vector is assigned to its nearest seed by squared L2,
    * then the per-cluster per-dim mean is the next codebook. Output = the
    * trained codebook as a (cluster, pos) table — exactly the centroid
    * frame an IVF probe broadcasts.
    *
    * Everything crosses the engine boundary as integers: components are
    * quantized once (floor(e·1024) — ·1024 is a power of two so the double
    * product is exact and floor is engine-identical), distances are bigint
    * sums (order-independent, so plain aggregation is safe — no float
    * parenthesization contract needed), ties go to the smaller seed id via
    * min(struct(d2, seed)), and the mean is positive-operand integer
    * division (q shifted by +1024 ≥ 0, then shifted back).
    *
    * Scale: the seed table is 8×dim rows — a broadcast hash join on pos,
    * never all-pairs over vectors. The distance aggregate keys on
    * (vec_id, seed) = 8 rows per vector with map-side partial sums; the
    * codebook aggregate keys on (cluster, pos) = k·dim cells. Two scans of
    * the quantized frame (assignment + re-centering) is the Lloyd-step
    * minimum; a k-means RUN repeats this whole job per iteration with the
    * codebook swapped in for the seeds — each iteration this same shape.
    */
  private def s27_ivf_train(s: SparkSession, d: String): DataFrame = {
    val vq = table(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .select(
        col("vec_id"),
        (col("pos") + 1).cast("long").as("pos"),
        floor(col("col") * 1024).cast("long").as("q")
      )
    val seeds = vq
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed"), col("pos"), col("q").as("cq"))
    val assign = vq
      .join(broadcast(seeds), Seq("pos"))
      .groupBy(col("vec_id"), col("seed"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("seed"))).as("m"))
      .select(col("vec_id"), col("m.seed").as("cluster"))
    vq.join(assign, "vec_id")
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).as("n_members"), sum(col("q") + lit(1024L)).as("sp"))
      .select(
        col("cluster"),
        col("pos"),
        col("n_members"),
        (expr("sp div n_members") - 1024L).as("mean_q")
      )
  }

  /** X23 — embedding-space outlier gate: c11's exact-integer 3σ discipline
    * applied where a vector pipeline needs it — per label, each vector's
    * squared distance to its own label centroid, flagged when
    * (n·d² − Σd²)² > 9·(n·Σ(d²)² − (Σd²)²). Corrupt/mislabeled embeddings
    * surface as distance outliers BEFORE they pollute an ANN index or a
    * codebook (s27 trains on whatever it is given). Quantization is s27's
    * floor(x·1024) per dim with the non-negative shift for the integer
    * centroid mean; the sufficient statistics are decimal(38,0) so the
    * squared products can't overflow longs at any realistic corpus size.
    * Shapes: one posexplode → (label, dim) hash agg for centroids
    * (broadcast: labels × 64 rows), one keyed agg back to vectors, one
    * label-level stats broadcast — no pair joins anywhere.
    */
  private def x23_embedding_outliers(s: SparkSession, d: String): DataFrame = {
    val dims = table(s, d, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding").cast("array<double>")))
      .select(
        col("vec_id"),
        col("label"),
        col("pos"),
        floor(col("col") * 1024).cast("long").as("q")
      )
    val cent = dims
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("cn"), sum(col("q") + lit(4096L)).as("sp"))
      .select(col("label"), col("pos"), (expr("sp div cn") - 4096L).as("cq"))
    val d2 = dims
      .join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2q"))
    val st = d2
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("d2q").cast("decimal(38,0)")).as("sm"),
        sum((col("d2q").cast("decimal(38,0)") * col("d2q").cast("decimal(38,0)"))).as("ss")
      )
    d2.join(broadcast(st), "label")
      .select(
        col("vec_id"),
        col("label").cast("long").as("label"),
        col("d2q"),
        expr(
          """CAST((CAST(n AS DECIMAL(38,0)) * CAST(d2q AS DECIMAL(38,0)) - sm)
                  * (CAST(n AS DECIMAL(38,0)) * CAST(d2q AS DECIMAL(38,0)) - sm)
                  > 9 * (CAST(n AS DECIMAL(38,0)) * ss - sm * sm) AS INT)"""
        ).as("is_outlier")
      )
  }

  /** S17 — vector-collection upsert sink: multiple versions per doc_id in
    * the batch, keep-last wins (the reference's `collection.upsert`
    * semantics, ingest_vector_db.py:181-204), then the collection is
    * written through the parquet sink and read back.
    */
  private def s17_vector_upsert(s: SparkSession, d: String): DataFrame = {
    val batch = table(s, d, "embeddings").select(
      (col("vec_id") % 300).as("doc_id"),
      col("vec_id"),
      col("label")
    )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("vec_id").desc)
    val upserted = batch
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("vec_id").as("kept_vec_id"), col("label"))
    val out = s"${sys.props("java.io.tmpdir")}/graft_io/s17_collection"
    graft.io.TableIO.writeParquet(upserted, out)
    s.read.parquet(out)
  }

  /** S18 — dedup-aware append (the reference's community-summary ingest
    * skips doc_ids already present, ingest_community_summaries.py:90-201):
    * existing ∪ (new LEFT ANTI existing), tagged by provenance.
    */
  private def s18_dedup_aware_append(s: SparkSession, d: String): DataFrame = {
    val all      = table(s, d, "embeddings").select(col("vec_id"), col("label"))
    val existing = all.filter(col("vec_id") % 2 === 0)
    val fresh    = all.join(existing.select("vec_id"), Seq("vec_id"), "left_anti")
    existing
      .select(col("vec_id"), col("label"), lit("existing").as("src"))
      .unionByName(fresh.select(col("vec_id"), col("label"), lit("appended").as("src")))
  }

  /** S24 — int8 scalar quantization of the embedding collection: per-dimension
    * min/max over the corpus, each component mapped to a 0–255 code, and the
    * per-component reconstruction error reported quantized — the compression
    * pass a vector store runs before building an index at scale (4× smaller
    * vectors, cache-resident distance tables). Emits (vec_id, dim, code,
    * err_q) rows.
    *
    * Cross-engine exactness: every float step is IEEE-double with IDENTICAL
    * parenthesization in the Spark and DuckDB formulations —
    * floor((255·(v−mn))/(mx−mn)) then mn + (code·(mx−mn))/255 — and floor
    * (never round: round's tie rule differs between engines) makes the codes
    * integer-stable. Constant dimensions (mx = mn) quantize to code 0.
    *
    * Scale: one narrow scan exploded to (dim, v), a 64-row stats aggregate
    * broadcast back, zero wide shuffles.
    */
  private def s24_scalar_quantize(s: SparkSession, d: String): DataFrame = {
    val exploded = table(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(
        col("vec_id"),
        (col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("v")
      )
    val stats = exploded.groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
    val coded = exploded
      .join(broadcast(stats), "dim")
      .withColumn(
        "code",
        when(col("mx") === col("mn"), 0L)
          .otherwise(
            floor((lit(255.0) * (col("v") - col("mn"))) / (col("mx") - col("mn")))
          )
          .cast("long")
      )
    coded.select(
      col("vec_id"),
      col("dim"),
      col("code"),
      floor(
        lit(1000000000.0) *
          abs(col("v") - (col("mn") + (col("code").cast("double") * (col("mx") - col("mn"))) / lit(255.0)))
      ).cast("long").as("err_q")
    )
  }

  /** S19e — PRODUCT QUANTIZATION codebook + encoding (Jégou–Douze–Schmid
    * 2011, the compression rung between s24's scalar quantization and
    * s19c's IVF routing): the 64-dim vector splits into M = 4 subvectors
    * of 16 dims; each SUBSPACE trains its own 8-centroid codebook by one
    * deterministic Lloyd iteration (s27's discipline transplanted per
    * subspace — vec_id < 8 seeds, integer-quantized L2, smaller-seed
    * tiebreak, integer centroid means), then every vector ENCODES as 4
    * one-byte codes — 256 B of floats to 4 B per vector, the 64×
    * compression that lets a 100 TB corpus keep its whole index in
    * executor memory for ADC scanning. Output: the (subspace, code) CELL
    * CENSUS — membership and integer SSE — the distortion-vs-balance
    * table an ANN run reads before committing to PQ (dead codes and fat
    * cells surface here, d15's pricing discipline for the PQ knob).
    *
    * Scale shape: one posexplode → per-subspace seed broadcast (8×64
    * rows) → two keyed argmin aggregates (train-assign, then encode
    * against the trained centroids, each min(struct(d2, id)) — never a
    * pairwise vector join); the codebook that encodes is itself a
    * broadcast (M·K·16 = 512 rows at any corpus size).
    */
  private def s19e_pq_encode(s: SparkSession, d: String): DataFrame = {
    val (_, _, encoded) = pqEncoded(s, d)
    encoded
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("sse")).as("sse_q"))
      .select(
        col("sub"),
        col("code").cast("long").as("code"),
        col("n_vectors").cast("long").as("n_vectors"),
        col("sse_q").cast("long").as("sse_q")
      )
  }

  /** The shared PQ training + encoding chain behind s19e/s19f: returns
    * (dims, cents, encoded) = the quantized per-(sub, pos) components, the
    * trained per-subspace codebook (sub, cluster, pos, mean_q — M·K·16 =
    * 512 rows at any corpus size), and each vector's code assignment
    * (vec_id, sub, code, sse). See [[s19e_pq_encode]] for the training
    * discipline.
    */
  private def pqEncoded(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val sw = Dim / 4 // 4 subspaces × 16 dims
    val dims = graft.Lineage.truncate(
      table(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
        .select(
          col("vec_id"),
          expr(s"pos div $sw").cast("long").as("sub"),
          col("pos").cast("long").as("pos"),
          floor(col("col") * 1024).cast("long").as("q")
        )
    )
    val seeds = dims
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed"), col("sub"), col("pos"), col("q").as("cq"))
    val assign1 = dims
      .join(broadcast(seeds), Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("sub"), col("seed"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("seed"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.seed").as("cluster"))
    val cents = dims
      .join(assign1, Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("cluster"), col("pos"))
      .agg(count(lit(1)).as("cn"), sum(col("q") + lit(1024L)).as("sp"))
      .select(col("sub"), col("cluster"), col("pos"), (expr("sp div cn") - 1024L).as("mean_q"))
    val encoded = dims
      .join(broadcast(cents), Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("sub"), col("cluster"))
      .agg(sum((col("q") - col("mean_q")) * (col("q") - col("mean_q"))).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cluster").as("code"), col("m.d2").as("sse"))
    (dims, cents, encoded)
  }

  /** S19f — PQ ASYMMETRIC-DISTANCE top-k (the ADC scan of
    * Jégou–Douze–Schmid 2011 §IV, the query path s19e's codebook exists
    * for): the query subvectors are NOT quantized; instead a 32-row
    * LOOKUP TABLE lut(sub, code) = ‖q_sub − centroid(sub, code)‖² is
    * precomputed once per query, and every stored vector's approximate
    * distance is the sum of its 4 codes' table entries. Per-vector scan
    * cost collapses from 64 multiply-adds to 4 table lookups + 3 adds —
    * with the 4-byte codes of s19e, the scan that makes billion-vector
    * exhaustive search affordable (the FAISS IndexPQ shape).
    *
    * Scale shape: the lut is a (≤M·K)-row broadcast built from the
    * query's 64 components joined to the 512-row codebook; the ADC pass
    * is one broadcast-hash equi-join on (sub, code) + one vec_id-keyed
    * sum; the top-k is TakeOrderedAndProject (O(k) per partition, no
    * global sort). Approximate by construction — rank error vs s19's
    * exact cosine is the quantization distortion s19e's census prices.
    */
  private def s19f_pq_adc(s: SparkSession, d: String): DataFrame = {
    val (dims, cents, encoded) = pqEncoded(s, d)
    val qdims = dims.filter(col("vec_id") === 0).select(col("sub"), col("pos"), col("q"))
    val lut = qdims
      .join(cents, Seq("sub", "pos"))
      .groupBy(col("sub"), col("cluster").as("code"))
      .agg(sum((col("q") - col("mean_q")) * (col("q") - col("mean_q"))).as("qd2"))
    encoded
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qd2")).as("adc_q"))
      .orderBy(col("adc_q").asc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("adc_q").cast("long").as("adc_q"))
  }

  /** S19g — IVFADC (Jégou–Douze–Schmid 2011 §V, the composition of s19c's
    * coarse routing with s19f's ADC scanning that production
    * billion-vector search actually runs): vectors coarse-assign to their
    * stored cell (label), PQ encodes the RESIDUAL to the cell centroid
    * (4 subspaces × 8 codes, one deterministic Lloyd iteration seeded by
    * vec_id < 8 — s19e's discipline on residuals), the query probes its
    * nprobe = 2 nearest coarse cells, builds one 32-row LUT per probed
    * cell from ITS residual (residuals are cell-relative, so the LUT is
    * per-cell where s19f's flat scan had one), and ADC-ranks ONLY the
    * probed cells' members: 4 lookups + a sum per candidate. Output: the
    * top-k with the PROBED-FRACTION CENSUS (cells_probed / cells_total,
    * n_candidates / n_corpus — the knob an operator reads before trusting
    * the recall) and the RANK-ERROR AUDIT vs s19's exact top-k
    * (in_exact_topk per returned row).
    *
    * Scale shape: coarse centroids and the PQ codebook are fixed-size
    * broadcasts (cells × 64 and 512 rows at any corpus size); the
    * candidate set arrives via a broadcast equi-join on (label, sub,
    * code) against the ≤ nprobe·M·K-row LUT — the label key IS the probe
    * filter, so unprobed cells never leave the scan; never an all-pairs
    * vector join. The exact-top-k audit is one extra single-pass scan
    * (s19's plan) — the one-shot recall audit, not the query path.
    */
  /** The IVFADC candidate scaffold s19g and s19i share, memoized per
    * (session, dataset): every probed-cell member's ADC score plus the
    * probe census constants riding as columns — (vec_id, adc_q,
    * cells_probed, cells_total). Candidate-set-sized (n/cells · nprobe).
    */
  private val ivfadcMemo = graft.Memo.newMap()

  private def ivfadcCand(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(ivfadcMemo, s, d)(ivfadcCandCompute(s, d))

  private def ivfadcCandCompute(s: SparkSession, d: String): DataFrame = {
    val sw = Dim / 4
    val e  = table(s, d, "embeddings")
    val vq = graft.Lineage.truncate(
      e.select(col("vec_id"), col("label"), posexplode(col("embedding").cast("array<double>")))
        .select(
          col("vec_id"),
          col("label").cast("long").as("label"),
          expr(s"pos div $sw").cast("long").as("sub"),
          col("pos").cast("long").as("pos"),
          floor(col("col") * 1024).cast("long").as("q")
        )
    )
    val ccent = graft.Lineage.truncate(
      vq.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("cn"), sum(col("q") + 4096L).as("sp"))
        .select(col("label"), col("pos"), (expr("sp div cn") - 4096L).as("cq"))
    )
    // Residuals to the coarse centroid — what PQ quantizes under IVF.
    val res = graft.Lineage.truncate(
      vq.join(broadcast(ccent), Seq("label", "pos"))
        .select(
          col("vec_id"),
          col("label"),
          col("sub"),
          col("pos"),
          (col("q") - col("cq")).as("r")
        )
    )
    val seeds = res
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed"), col("sub"), col("pos"), col("r").as("cr"))
    val assign1 = res
      .join(broadcast(seeds), Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("sub"), col("seed"))
      .agg(sum((col("r") - col("cr")) * (col("r") - col("cr"))).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("seed"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.seed").as("cluster"))
    val cents = graft.Lineage.truncate(
      res
        .join(assign1, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("cluster"), col("pos"))
        .agg(count(lit(1)).as("cn"), sum(col("r") + 4096L).as("sp"))
        .select(col("sub"), col("cluster"), col("pos"), (expr("sp div cn") - 4096L).as("mean_q"))
    )
    val encoded = res
      .join(broadcast(cents), Seq("sub", "pos"))
      .groupBy(col("vec_id"), col("label"), col("sub"), col("cluster"))
      .agg(sum((col("r") - col("mean_q")) * (col("r") - col("mean_q"))).as("d2"))
      .groupBy(col("vec_id"), col("label"), col("sub"))
      .agg(min(struct(col("d2"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("label"), col("sub"), col("m.cluster").as("code"))
    // Query side: coarse distances → nprobe = 2 cells → per-cell LUT.
    val qd = vq.filter(col("vec_id") === 0).select(col("pos"), col("q").as("qv"))
    val cdist = ccent
      .join(broadcast(qd), Seq("pos"))
      .groupBy(col("label"))
      .agg(sum((col("cq") - col("qv")) * (col("cq") - col("qv"))).as("d2"))
    val probe = cdist.orderBy(col("d2").asc, col("label").asc).limit(2).select(col("label"))
    val qres = ccent
      .join(broadcast(probe), Seq("label"))
      .join(broadcast(qd), Seq("pos"))
      .select(col("label"), expr(s"pos div $sw").cast("long").as("sub"), col("pos"),
        (col("qv") - col("cq")).as("qr"))
    val lut = qres
      .join(cents, Seq("sub", "pos"))
      .groupBy(col("label"), col("sub"), col("cluster"))
      .agg(sum((col("qr") - col("mean_q")) * (col("qr") - col("mean_q"))).as("qd2"))
      .select(col("label"), col("sub"), col("cluster").as("code"), col("qd2"))
    encoded
      .join(broadcast(lut), Seq("label", "sub", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qd2")).as("adc_q"))
      .crossJoin(broadcast(probe.agg(count(lit(1)).as("cells_probed"))))
      .crossJoin(broadcast(cdist.agg(count(lit(1)).as("cells_total"))))
  }

  private def s19g_ivfadc(s: SparkSession, d: String): DataFrame = {
    val e     = table(s, d, "embeddings")
    val cand  = ivfadcCand(s, d)
    val exact = s19_knn_cosine(s, d).select(col("vec_id").as("evid"), lit(1L).as("hit"))
    cand
      .orderBy(col("adc_q").asc, col("vec_id").asc)
      .limit(K)
      .join(broadcast(exact), col("vec_id") === col("evid"), "left")
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_corpus"))))
      .select(
        col("vec_id"),
        col("adc_q").cast("long").as("adc_q"),
        coalesce(col("hit"), lit(0L)).as("in_exact_topk"),
        col("cells_probed").cast("long").as("cells_probed"),
        col("cells_total").cast("long").as("cells_total"),
        col("n_candidates").cast("long").as("n_candidates"),
        col("n_corpus").cast("long").as("n_corpus")
      )
  }

  /** S19i — IVFADC RE-RANKING (the FAISS refine step, Jégou–Douze–Schmid
    * 2011 §V.D / the IndexRefineFlat composition): take the top-R = 4·k
    * ADC candidates and re-rank them by EXACT cosine against the raw
    * vectors — ONE keyed join back to the embeddings table, bounded at R
    * rows — then emit the final top-k with both ranks and the
    * recall-vs-exact census for BOTH rankings (rerank recall ≥ raw ADC
    * recall by construction whenever the exact top-k survives the ADC
    * top-R cut; the spec pins it, the census shows it).
    *
    * Scale shape: the scaffold is [[ivfadcCand]]'s (shared with s19g —
    * fixed-size codebook broadcasts, probe-filtered candidates); the
    * refine adds a broadcast semi-join of R=32 ids against the vector
    * table and two windows over the 32-row frame (bounded global windows).
    * The exact-top-k audit is the same one-shot s19 scan s19g already
    * pays.
    */
  private def s19i_ivfadc_rerank(s: SparkSession, d: String): DataFrame = {
    val r     = 4 * K
    val e     = table(s, d, "embeddings")
    val topR = ivfadcCand(s, d)
      .orderBy(col("adc_q").asc, col("vec_id").asc)
      .limit(r)
      .withColumn("adc_rank", row_number().over(Window.orderBy(col("adc_q").asc, col("vec_id").asc)))
    val rr = topR
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(queryVec(e)))
      .select(
        col("vec_id"),
        col("adc_rank"),
        VF.cosine(col("embedding"), col("qe")).as("sc")
      )
      .withColumn("exact_rank", row_number().over(Window.orderBy(col("sc").desc, col("vec_id").asc)))
    val exact = s19_knn_cosine(s, d).select(col("vec_id").as("evid"), lit(1L).as("hit"))
    val flagged = rr.join(broadcast(exact), col("vec_id") === col("evid"), "left")
      .select(
        col("vec_id"),
        col("sc"),
        col("adc_rank").cast("long").as("adc_rank"),
        col("exact_rank").cast("long").as("exact_rank"),
        coalesce(col("hit"), lit(0L)).as("in_exact_topk")
      )
    val census = flagged.agg(
      sum(when(col("exact_rank") <= K, col("in_exact_topk"))).as("hits_rerank"),
      sum(when(col("adc_rank") <= K, col("in_exact_topk"))).as("hits_adc"),
      count(lit(1)).as("n_reranked")
    )
    flagged
      .filter(col("exact_rank") <= K)
      .crossJoin(broadcast(census))
      .select(
        col("vec_id"),
        round(col("sc"), 4).as("score"),
        col("adc_rank"),
        col("exact_rank"),
        col("in_exact_topk"),
        expr(s"1000 * hits_rerank div $K").as("recall_rerank_pm"),
        expr(s"1000 * hits_adc div $K").as("recall_adc_pm"),
        col("n_reranked").cast("long").as("n_reranked")
      )
  }

  // ---- S19j: graph-routed ANN (the NSW/HNSW family) -------------------

  // Graph-index machinery shared with the streaming ingest face — ONE
  // construction for the batch build and its incremental maintenance
  // (the MinHashOps precedent): [[graft.operators.KnnGraphOps]].
  private val JBands  = KnnGraphOps.Bands
  private val JPlanes = KnnGraphOps.Planes
  private val JDeg    = KnnGraphOps.Deg
  private val JCap    = KnnGraphOps.Cap
  private val JPasses = 5 // fixed beam-search depth (measured convergence point)

  /** The DEGREE-BOUNDED kNN neighbor graph substrate s19j routes over —
    * the index-build half of an NSW/HNSW-family ANN structure (Malkov–
    * Yashunin 2016's navigable small-world graph, degree-bounded like
    * HNSW's M): each vector keeps its top-M=8 neighbors by exact
    * quantized cosine (integer dot on the ×1024 lattice) among candidates
    * that share ANY of 6 independent LSH band buckets with it — never an
    * all-pairs join — and links are then SYMMETRIZED (NSW/HNSW links are
    * undirected; the directed graph left 3 of the exact top-8 with zero
    * in-edges from the query's neighborhood, capping measured recall at
    * 0 — symmetrization + 6 views lifted it to 7/8 at BOTH test scales).
    * Multiple band views are what make the graph NAVIGABLE across bucket
    * boundaries (a single bucketing would leave the search stuck in the
    * entry's bucket).
    *
    * Scale shape: candidate pairs are 6 equi-joins on (band, bucket) with
    * a per-bucket occupancy cap of 256 (rank by md5(vec_id) — the
    * m9/m10 banding discipline), so pairs ≤ bands·buckets·cap²
    * regardless of corpus size; at real scale planes grow with log n to
    * hold occupancy constant. Arrays are dropped before the pair shuffle
    * (sim computed in the join projection); the top-M cut is a window
    * PARTITIONED by source node; symmetrization is one union + re-group.
    * |E| ≤ 2·M·n by construction — the n_edges census column proves it
    * per run.
    */
  private val knnGraphMemo = graft.Memo.newMap()

  private def knnGraph(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(knnGraphMemo, s, d) {
      knnGraphOver(
        table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), KnnGraphOps.quantArr(col("embedding")).as("qa")))
    }

  /** s19l's COARSE layer: the same construction over the 1-in-8
    * md5-sampled node subset — the HNSW level assignment (P(level ≥ 1) =
    * 1/M with M = 8), derandomized on the id hash.
    */
  private val knnL1Memo = graft.Memo.newMap()

  private def knnGraphL1(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(knnL1Memo, s, d) {
      knnGraphOver(
        table(s, d, "embeddings")
          .filter(expr("conv(substr(md5(cast(vec_id as string)), 1, 6), 16, 10) % 8 = 0"))
          .select(col("vec_id"), col("embedding"), KnnGraphOps.quantArr(col("embedding")).as("qa")))
    }

  /** The banded degree-bounded symmetric kNN graph over any
    * (vec_id, embedding, qa) base — see [[knnGraph]]'s scaladoc for the
    * construction and its bounds.
    */
  private def knnGraphOver(base: DataFrame): DataFrame =
    knnGraphFromCapped(KnnGraphOps.bandCapped(base))

  /** Pair join + top-M + symmetrize over an already-capped bucket frame
    * (split from [[knnGraphOver]] so s19m can reuse the capped buckets as
    * the probe target).
    */
  private def knnGraphFromCapped(capped: DataFrame): DataFrame =
    KnnGraphOps.graphFromCapped(capped)

  /** S19j — GRAPH-ROUTED ANN: fixed-depth beam search over the
    * degree-bounded kNN graph ([[knnGraph]]) — the NSW/HNSW-family query
    * path (Malkov–Yashunin 2016) that beats IVF at high recall in
    * production vector stores, and the one ANN family the s19 ladder
    * (brute → LSH → IVF → PQ → IVFADC → rerank → hybrid) lacked.
    * Reference anchor: the kNN query path, scripts/query_embeddings.py:39-93.
    *
    * Search: entry point = the vector with the minimal md5(vec_id) prefix
    * (derandomized — the HNSW top-layer entry analog), then 5 unrolled
    * beam passes at beam width 8: expand the beam's graph neighbors,
    * score beam ∪ neighbors against the query on the exact integer
    * lattice, keep the top-8 (sim desc, vec_id asc). Beam quality is
    * monotone (the beam is always a candidate); 5 passes is the measured
    * convergence point (recall 7/8 at both test scales; pass 6 changes
    * nothing — the remaining miss is a true graph blind spot on
    * near-random vectors, reported honestly by the census). Output: the
    * final beam with rank, the in-exact-topk flag per row, the
    * recall-vs-exact census (the x40/s19i audit discipline), and the |E|
    * census proving the degree bound.
    *
    * Scale shape: each pass scores ≤ beam·(M+1) = 72 candidate ids via a
    * BROADCAST semi-join of the id set against the vector table (the
    * s19i refine discipline — a point-lookup in a real store, a
    * broadcast-filtered narrow scan here), never a corpus-wide ranking;
    * the per-pass state is an 8-row truncated frame (the seededPaths
    * frontier discipline). The exact-top-k audit is the same one-shot s19
    * scan s19g/s19i already pay — the audit, not the query path.
    */
  /** Exact integer-lattice score of a BOUNDED id set against query
    * vector 0 — the per-pass scorer of the graph searches (a point-lookup
    * in a real store; a broadcast-filtered narrow scan here, the s19i
    * refine discipline).
    */
  /** Same, against an arbitrary single-row (qq = quantized query) frame —
    * s19m's self-recall beam queries an INSERTED vector, not vector 0.
    */
  private def scoreAgainstVec(s: SparkSession, d: String, qq: Seq[Long])(
      ids: DataFrame): DataFrame =
    table(s, d, "embeddings")
      .join(broadcast(ids), Seq("vec_id"))
      .select(
        col("vec_id"),
        VF.dot(KnnGraphOps.quantArr(col("embedding")), typedlit(qq)).cast("long").as("sim_q"))

  /** The ×1024-quantized query vector (vec 0), collected ONCE per query
    * construction — bounded by contract (one row, 64 lattice longs; the
    * GraphOps K=8 seed-collect discipline) — and folded into every beam
    * pass as a LITERAL. Before this, each pass re-planned the qq subquery:
    * one extra vector-table scan plus one broadcast build per pass, ~2
    * driver-scheduled jobs of pure overhead × every pass of every beam
    * chain (s19j 5, s19l 6, s19m 12, s19n 15, s19o 10). The scored values
    * are identical: VF.dot cast the broadcast array<bigint> qq column to
    * array<double> exactly as it casts this literal.
    */
  private def queryQq(s: SparkSession, d: String): Seq[Long] =
    table(s, d, "embeddings")
      .filter(col("vec_id") === 0)
      .select(KnnGraphOps.quantArr(col("embedding")).as("qq"))
      .head(1)
      .headOption
      // NOTE the eager-collect side effect: query CONSTRUCTION runs one
      // bounded Spark job; a corpus missing vec_id 0 fails here with an
      // explicit error instead of an empty result (r19 ADVICE).
      .getOrElse(throw new NoSuchElementException(
        "query vector (vec_id=0) missing from embeddings"))
      .getSeq[Long](0)

  private def scoreAgainstQuery(s: SparkSession, d: String): DataFrame => DataFrame =
    scoreAgainstVec(s, d, queryQq(s, d))

  /** `passes` batched beam passes over a TAG-PARTITIONED frontier frame
    * (tag, vec_id, sim_q), each materialized: expand every tag's beam
    * through `nbrs`, score the tagged candidate union in ONE broadcast join
    * against the corpus (`sim` = the per-row score expression, which may
    * branch on col("tag")), keep each tag's top-`width` by (sim_q desc,
    * vec_id asc).
    * Exactly equivalent to running the per-tag chains separately — tags
    * never interact (cand, window rank and cut are all per-tag), and the
    * per-tag window cut equals the solo chain's orderBy+limit because
    * vec_id is unique, so the order is total — but the whole pass is ONE
    * driver-scheduled materialization instead of one per tag (the r20
    * "fold passes into tagged union frames" batching; cuts s19o's pass
    * jobs 10→5 and s19m's 12→7).
    */
  private def taggedBeamSearch(
      emb: DataFrame,
      nbrs: DataFrame,
      sim: Column,
      width: Int,
      passes: Int)(init: DataFrame): DataFrame =
    graft.Lineage.iterate(init, passes) { (state, _) =>
      val cand = state
        .select(col("tag"), col("vec_id"))
        .unionByName(
          nbrs
            .join(broadcast(state.select(col("tag"), col("vec_id").as("u"))), Seq("u"))
            .select(col("tag"), col("v").as("vec_id")))
        .distinct()
      emb
        .join(broadcast(cand), Seq("vec_id"))
        .select(col("tag"), col("vec_id"), sim.as("sim_q"))
        .withColumn(
          "rn",
          row_number().over(
            Window.partitionBy(col("tag")).orderBy(col("sim_q").desc, col("vec_id").asc)))
        .filter(col("rn") <= width)
        .drop("rn")
    }

  private def s19j_graph_beam(s: SparkSession, d: String): DataFrame = {
    val e    = table(s, d, "embeddings")
    val nbrs = knnGraph(s, d)
    val entry = e
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc)
      .limit(1)
    // scorer built ONCE per query (see queryQq) — every pass reuses the
    // literal-folded query vector instead of re-planning its subquery.
    // The pass loop runs under the bounded-frontier profile: every
    // exchange in a pass moves ≤ K·(Deg+1) rows by construction, so
    // 32-way shuffles + per-pass AQE re-planning were pure driver
    // overhead (the r19 anti-scaling diagnosis).
    val scorer = scoreAgainstQuery(s, d)
    val beam = graft.Tuning.boundedFrontierProfile(s) {
      KnnGraphOps
        .beamSearch(graft.Lineage.truncate(scorer(entry)), nbrs, K, JPasses, scorer)
    }
    val exact = s19_knn_cosine(s, d).select(col("vec_id").as("evid"), lit(1L).as("hit"))
    val flagged = beam
      .withColumn("rank", row_number().over(Window.orderBy(col("sim_q").desc, col("vec_id").asc)))
      .join(broadcast(exact), col("vec_id") === col("evid"), "left")
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank").cast("long").as("rank"),
        coalesce(col("hit"), lit(0L)).as("in_exact_topk"))
    val census = flagged.agg(sum(col("in_exact_topk")).as("hits"))
    flagged
      .crossJoin(broadcast(census))
      .crossJoin(broadcast(nbrs.agg(count(lit(1)).as("n_edges"))))
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank"),
        col("in_exact_topk"),
        expr(s"1000 * hits div $K").as("recall_pm"),
        col("n_edges").cast("long").as("n_edges")
      )
  }

  /** S19l — HIERARCHICAL graph search (HNSW's actual structure, Malkov–
    * Yashunin 2016 §4 — the LAYERED refinement of s19j's flat NSW: a
    * coarse layer over the 1-in-8 md5-sampled node subset — the level
    * assignment P(level ≥ 1) = 1/M, derandomized — descends to a good
    * layer-0 entry in cheap passes over a graph 8× smaller, then the full
    * graph finishes): 2 beam passes on the coarse graph from the coarse
    * entry, the surviving beam seeds 4 passes on the full graph.
    * Measured: recall ties flat s19j (7/8 at both test scales) with 4
    * full-graph passes instead of 5 — the hierarchy moves traversal work
    * onto the small layer, the property that makes HNSW log-depth at real
    * scale (more layers at larger n; two suffice for the test corpus).
    * Output: s19j's census shape plus the layer-1 node count.
    *
    * Scale shape: both graphs are [[knnGraphOver]]'s bounded banded
    * build (the coarse one over n/8 nodes); every pass is a ≤72-id
    * broadcast-scored frame (the seededPaths frontier discipline).
    */
  private def s19l_hnsw_layers(s: SparkSession, d: String): DataFrame = {
    val e      = table(s, d, "embeddings")
    val nbrs0  = knnGraph(s, d)
    val nbrs1  = knnGraphL1(s, d)
    val l1Base = e.filter(expr("conv(substr(md5(cast(vec_id as string)), 1, 6), 16, 10) % 8 = 0"))
    val entry = l1Base
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc)
      .limit(1)
    val scorer = scoreAgainstQuery(s, d) // one literal-folded qq for all 6 passes
    val beam = graft.Tuning.boundedFrontierProfile(s) { // bounded passes — see s19j
      val coarse = KnnGraphOps // coarse descent
        .beamSearch(graft.Lineage.truncate(scorer(entry)), nbrs1, K, 2, scorer)
      KnnGraphOps.beamSearch(coarse, nbrs0, K, 4, scorer) // fine search
    }
    val exact = s19_knn_cosine(s, d).select(col("vec_id").as("evid"), lit(1L).as("hit"))
    val flagged = beam
      .withColumn("rank", row_number().over(Window.orderBy(col("sim_q").desc, col("vec_id").asc)))
      .join(broadcast(exact), col("vec_id") === col("evid"), "left")
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank").cast("long").as("rank"),
        coalesce(col("hit"), lit(0L)).as("in_exact_topk"))
    val census = flagged.agg(sum(col("in_exact_topk")).as("hits"))
    flagged
      .crossJoin(broadcast(census))
      .crossJoin(broadcast(l1Base.agg(count(lit(1)).as("n_layer1"))))
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank"),
        col("in_exact_topk"),
        expr(s"1000 * hits div $K").as("recall_pm"),
        col("n_layer1").cast("long").as("n_layer1")
      )
  }

  // ---- s19m: incremental index maintenance ----------------------------
  // The insert batch is the 1-in-16 md5-sampled vec_id slice (residue 3 —
  // vector 0, the query, hashes to residue 0 and stays in the base).
  private val JInsMod    = 16
  private val JInsRes    = 3
  // The query beam needs 7 passes here vs s19j's 5: insertion attaches new
  // nodes but never rewires base↔base shortcuts a full rebuild would
  // create, so paths from the entry run slightly longer. Measured (DuckDB
  // twin, both SFs): 5 passes = 250‰ recall at sf0.1, 6+ = 875‰ (ties the
  // full rebuild), converged through 12; 7 = convergence + 1 margin.
  private val JInsPasses = 7

  private def insertBatchPred: Column =
    expr(s"conv(substr(md5(cast(vec_id as string)), 1, 6), 16, 10) % $JInsMod = $JInsRes")

  private def embQa(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), KnnGraphOps.quantArr(col("embedding")).as("qa"))

  /** The BASE corpus's capped band buckets — the persistent "bucket index"
    * the insert path probes (memo-shared with the base graph build).
    */
  private val baseCapMemo = graft.Memo.newMap()

  private def baseCapped(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(baseCapMemo, s, d) {
      KnnGraphOps.bandCapped(embQa(s, d).filter(!insertBatchPred))
    }

  /** The kNN graph over the BASE corpus only — the "existing index" state
    * s19m starts from (its own bench substrate, like [[knnGraph]]).
    */
  private val knnBaseMemo = graft.Memo.newMap()

  private def knnGraphBase(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(knnBaseMemo, s, d) {
      knnGraphFromCapped(baseCapped(s, d))
    }

  /** S19m — INCREMENTAL ANN-INDEX MAINTENANCE: insert a delta batch into
    * the existing kNN graph WITHOUT a rebuild — the operation that makes a
    * graph index production-viable (vector stores are insert-heavy;
    * reference anchor: the upsert path, defs/assets/ingest_vector_db.py:
    * 181-204). HNSW's own insert (Malkov–Yashunin 2016 §4 INSERT) works
    * exactly this way: search for the new node's neighbors, link both
    * directions. Here the d13/dedupIngest asymmetric-probe discipline
    * supplies the candidate search: the batch's band keys probe the
    * EXISTING capped buckets ([[baseCapped]] — cost ∝ batch × occupancy,
    * never index-wide), each inserted node links to its top-M candidates
    * by exact lattice sim, links are symmetrized (new→old AND old→new),
    * and the merged graph = base edges ∪ new edges (max-sim on dups).
    * The degree invariant |E| ≤ 2·M·n survives: inserts add ≤ 2·M·Δn.
    *
    * Verification census (both halves of "insert worked"):
    *   - query 0's beam on the MERGED graph: recall vs the full-corpus
    *     exact top-8 ties the full rebuild's 875‰ (at [[JInsPasses]]=7 —
    *     see the constant's measured ladder);
    *   - SELF-RECALL: a beam searching for the minimum-id INSERTED
    *     vector must retrieve that node itself (self_found — an
    *     unreachable insert is data loss in a vector store), plus
    *     attach_pm (‰ of inserted nodes that found ≥1 link) and the
    *     n_inserted / n_new_edges sizes.
    *
    * Scale shape: the probe is [[JBands]] equi-joins of the batch's keys
    * against capped buckets (≤ bands·|Δ|·cap pairs — batch-proportional,
    * the whole point); top-M is a window partitioned by inserted node;
    * the merged graph is truncated ONCE and each beam pass is the same
    * ≤72-id broadcast-scored frame as s19j. Nothing rescans the base
    * corpus except the one memo-shared base index build.
    */
  private def s19m_graph_insert(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{KnnGraphOps => KG}
    val delta = embQa(s, d).filter(insertBatchPred)
    val probed = KG.bucketPairs(
      KnnGraphOps.bandKeyed(delta),
      baseCapped(s, d).select(col("band"), col("bk"), col("vec_id").as("v2"), col("qa").as("qa2")))
    val newDirected = KG.topMLinks(probed)
    val newEdges    = graft.Lineage.truncate(KG.symmetrize(newDirected))
    val nbrs = graft.Lineage.truncate(
      knnGraphBase(s, d)
        .unionByName(newEdges)
        .groupBy(col("u"), col("v"))
        .agg(max(col("sim_uv")).as("sim_uv")))
    val entry = table(s, d, "embeddings")
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc)
      .limit(1)
    // self-recall query = the minimum-id inserted vector (5 passes
    // suffice — measured self_found = 1 at both SFs); its qa is collected
    // once like queryQq (bounded: one row)
    val dqid = delta.select(col("vec_id")).orderBy(col("vec_id").asc).limit(1)
    val dq = delta
      .orderBy(col("vec_id").asc)
      .limit(1)
      .select(col("qa"))
      .head(1)
      .headOption
      .getOrElse(throw new NoSuchElementException("s19m: insert delta batch is empty"))
      .getSeq[Long](0)
    // The query-0 beam (7 passes) and the self-recall beam (5) ride ONE
    // tag-partitioned frame for the shared 5 passes — each pass scores
    // the tag's own query vector via the `when(tag)` branch — then the
    // query tag alone runs its 2 extra passes: 7 (+1 entry)
    // materializations instead of 12 (+2), per-tag results identical
    // (see taggedBeamSearch). The literal qq/dq folds are unchanged.
    val e    = table(s, d, "embeddings")
    val qq   = queryQq(s, d)
    val simQ = VF.dot(KnnGraphOps.quantArr(col("embedding")), typedlit(qq)).cast("long")
    val simS = VF.dot(KnnGraphOps.quantArr(col("embedding")), typedlit(dq)).cast("long")
    val sim  = when(col("tag") === "q", simQ).otherwise(simS)
    val (beam, selfBeam) = graft.Tuning.boundedFrontierProfile(s) {
      val e0 = e.join(broadcast(entry), Seq("vec_id"))
      val state = taggedBeamSearch(e, nbrs, sim, K, JPasses)(graft.Lineage.truncate(
        e0.select(lit("q").as("tag"), col("vec_id"), simQ.as("sim_q"))
          .unionByName(e0.select(lit("s").as("tag"), col("vec_id"), simS.as("sim_q")))))
      val sBeam = state.filter(col("tag") === "s") // frozen at its 5-pass budget
      val qBeam = taggedBeamSearch(e, nbrs, sim, K, JInsPasses - JPasses)(
        state.filter(col("tag") === "q"))
      (qBeam, sBeam)
    }
    val exact = s19_knn_cosine(s, d).select(col("vec_id").as("evid"), lit(1L).as("hit"))
    val flagged = beam
      .withColumn("rank", row_number().over(Window.orderBy(col("sim_q").desc, col("vec_id").asc)))
      .join(broadcast(exact), col("vec_id") === col("evid"), "left")
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank").cast("long").as("rank"),
        coalesce(col("hit"), lit(0L)).as("in_exact_topk"))
    val census    = flagged.agg(sum(col("in_exact_topk")).as("hits"))
    val insCensus = delta.agg(count(lit(1)).as("n_inserted"))
    val edgCensus = newEdges.agg(count(lit(1)).as("n_new_edges"))
    val attCensus = newDirected.agg(countDistinct(col("u")).as("n_attached"))
    val sfCensus = selfBeam
      .join(broadcast(dqid), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("sf_cnt"))
    flagged
      .crossJoin(broadcast(census))
      .crossJoin(broadcast(insCensus))
      .crossJoin(broadcast(edgCensus))
      .crossJoin(broadcast(attCensus))
      .crossJoin(broadcast(sfCensus))
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank"),
        col("in_exact_topk"),
        expr(s"1000 * hits div $K").as("recall_pm"),
        col("n_inserted").cast("long").as("n_inserted"),
        col("n_new_edges").cast("long").as("n_new_edges"),
        expr("1000 * n_attached div n_inserted").as("attach_pm"),
        when(col("sf_cnt") > 0, 1L).otherwise(0L).as("self_found")
      )
  }

  /** S19n — graph-search OPERATING-CURVE audit: sweep beam width
    * {4, 8, 16} × passes {3, 5} over s19j's kNN graph and price
    * recall-vs-candidates — the d15/d17/m11 knob-pricing discipline
    * applied to the two knobs s19j fixed by fiat (an ANN deployment
    * chooses its efSearch-style operating point from exactly this curve;
    * Malkov–Yashunin 2016 fig. 10 publishes it as recall vs. scan cost).
    * One row per operating point: (beam_w, n_passes, n_scored = total
    * candidate ids scored across the passes — the cost axis, a
    * point-lookup count in a real store), recall_pm vs the exact top-8.
    *
    * Measured curve (both engines agree by hash): wider beams never lose
    * recall at fixed passes (spec-pinned weak monotonicity), beam 4 is
    * too narrow to converge, and the r18 question "does beam 16 buy the
    * 8th hit?" prices out as yes at sf0.01 (recall 1000‰ for +61%
    * candidates over beam 8) but no at sf0.1 — the residual miss there
    * is a genuine graph blind spot no beam width under 17 repairs, which
    * is the honest answer the audit exists to surface.
    *
    * Scale shape: the 3-width sweep shares one memoized graph build and
    * one 5-pass chain per width (the pass-3 row snapshots the prefix —
    * nothing runs twice); every pass is the same ≤ w·(M+1)-id broadcast-
    * scored frame as s19j, and each census row is single-row arithmetic.
    */
  private def s19n_operating_curve(s: SparkSession, d: String): DataFrame = {
    val nbrs = knnGraph(s, d)
    val entry = table(s, d, "embeddings")
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc)
      .limit(1)
    val exact = s19_knn_cosine(s, d).select(col("vec_id"), lit(1L).as("hit"))
    val e     = table(s, d, "embeddings")
    val qq    = queryQq(s, d) // one literal-folded qq for all passes
    val sim   = VF.dot(KnnGraphOps.quantArr(col("embedding")), typedlit(qq)).cast("long")
    // The 3-width sweep rides ONE width-tagged frame: 5 batched passes
    // (+1 entry materialization) instead of 15 (+3). Each pass expands,
    // scores and cuts every width in one materialization — widths never
    // interact (cand, window rank and the rn ≤ beam_w cut are all
    // per-width, and the cut equals the solo chain's orderBy+limit under
    // the same total order). The per-pass candidate count rides the state
    // as a CUMULATIVE column (nsc), so each snapshot row reads off the
    // already-materialized checkpoint instead of re-executing a lazy
    // per-pass count plan at result time. pc counts the candidates AFTER
    // the join with embeddings, so nsc equals the scored candidate-id count
    // only because every kNN-graph neighbor id exists in `embeddings` (the
    // graph is built from that table); a graph source with dangling ids
    // would under-count n_scored.
    val widths = Seq(4L, 8L, 16L)
    val wPart  = Window.partitionBy(col("beam_w"))
    val wRank  = wPart.orderBy(col("sim_q").desc, col("vec_id").asc)
    val snaps = graft.Tuning.boundedFrontierProfile(s) {
      val pass: (DataFrame, Int) => DataFrame = { (state, _) =>
        val cand = state
          .select(col("beam_w"), col("vec_id"))
          .unionByName(
            nbrs
              .join(broadcast(state.select(col("beam_w"), col("vec_id").as("u"))), Seq("u"))
              .select(col("beam_w"), col("v").as("vec_id")))
          .distinct()
        val nsPrev = state.groupBy(col("beam_w")).agg(min(col("nsc")).as("nsc0"))
        e.join(broadcast(cand), Seq("vec_id"))
          .select(col("beam_w"), col("vec_id"), sim.as("sim_q"))
          .withColumn("pc", count(lit(1)).over(wPart))
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= col("beam_w"))
          .join(broadcast(nsPrev), Seq("beam_w"))
          .select(
            col("beam_w"),
            col("vec_id"),
            col("sim_q"),
            (col("nsc0") + col("pc")).as("nsc"))
      }
      val at3 = graft.Lineage.iterate(
        graft.Lineage.truncate(
          e.join(broadcast(entry), Seq("vec_id"))
            .select(col("vec_id"), sim.as("sim_q"), explode(typedlit(widths)).as("beam_w"))
            .withColumn("nsc", lit(0L))),
        3)(pass)
      Seq(3 -> at3, 5 -> graft.Lineage.iterate(at3, 2)(pass))
    }
    snaps
      .map { case (t, snap) =>
        snap
          .join(broadcast(exact), Seq("vec_id"), "left")
          .groupBy(col("beam_w"))
          .agg(
            min(col("nsc")).as("n_scored"),
            coalesce(sum(col("hit")), lit(0L)).as("hits"))
          .select(
            col("beam_w"),
            lit(t.toLong).as("n_passes"),
            col("n_scored").cast("long").as("n_scored"),
            expr(s"1000 * hits div $K").as("recall_pm"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("beam_w").asc, col("n_passes").asc)
  }

  /** S19o — MULTI-ENTRY graph beam search (the standard production answer
    * to a navigability blind spot — HNSW implementations restart from
    * several entry candidates; Malkov–Yashunin 2016 §4's ef>1 entries —
    * and exactly the fix s19n's operating-curve audit motivates: the
    * sf0.1 miss resists ANY single-entry beam width ≤ 16, but a SECOND
    * entry explores a different graph region): two independent 5-pass
    * beam-8 chains from derandomized antipodal entries (entry A = s19j's
    * minimal-md5 node, entry B = the MAXIMAL-md5 node), fused by global
    * top-8 on the exact lattice score. Measured: recall 1000‰ at
    * sf0.001/sf0.01 (the 8th hit s19j's single entry never finds) and
    * 875‰ at sf0.1 (entry B contributes nothing there — the blind spot
    * s19n priced is a graph-structure property, reported honestly, and
    * the per-row from_a/from_b flags show which beam earned each hit).
    * Fusion needs no rank normalization: both beams score on the SAME
    * integer lattice, so the union's top-8 is exact.
    *
    * Scale shape: 2× s19j's bounded passes (each a ≤72-id broadcast-
    * scored frame); the fusion is an 8+8-row union. The audit→fix pair
    * (s19n prices the knobs, s19o spends the budget where it works) is
    * the d15→d16 discipline on the graph family.
    */
  /** Memo-shared: s19k's 5_fused row reads the same frame — without the
    * memo it would re-run both 5-pass chains (bench-measured +2.9 s of
    * pure duplicate work on its line).
    */
  private val s19oMemo = graft.Memo.newMap()

  private def s19o_multi_entry(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s19oMemo, s, d)(s19oCompute(s, d))

  private def s19oCompute(s: SparkSession, d: String): DataFrame = {
    val e    = table(s, d, "embeddings")
    val nbrs = knnGraph(s, d)
    val entryA = e
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).asc, col("vec_id").asc)
      .limit(1)
    val entryB = e
      .select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8).desc, col("vec_id").desc)
      .limit(1)
    // one literal-folded qq shared by BOTH entry chains (see queryQq).
    // Both chains ride ONE tag-partitioned frame: 5 batched passes
    // (+1 entry materialization) instead of 10 (+2) — per-tag results
    // identical (see taggedBeamSearch).
    val qq  = queryQq(s, d)
    val sim = VF.dot(KnnGraphOps.quantArr(col("embedding")), typedlit(qq)).cast("long")
    val beams = graft.Tuning.boundedFrontierProfile(s) {
      taggedBeamSearch(e, nbrs, sim, K, JPasses)(graft.Lineage.truncate(
        e.join(broadcast(entryA), Seq("vec_id"))
          .select(lit("a").as("tag"), col("vec_id"), sim.as("sim_q"))
          .unionByName(
            e.join(broadcast(entryB), Seq("vec_id"))
              .select(lit("b").as("tag"), col("vec_id"), sim.as("sim_q")))))
    }
    val fused = beams
      .select(
        col("vec_id"),
        col("sim_q"),
        when(col("tag") === "a", 1L).otherwise(0L).as("from_a"),
        when(col("tag") === "b", 1L).otherwise(0L).as("from_b"))
      .groupBy(col("vec_id"), col("sim_q"))
      .agg(max(col("from_a")).as("from_a"), max(col("from_b")).as("from_b"))
      .orderBy(col("sim_q").desc, col("vec_id").asc)
      .limit(K)
    val exact = s19_knn_cosine(s, d).select(col("vec_id").as("evid"), lit(1L).as("hit"))
    val flagged = fused
      .withColumn("rank", row_number().over(Window.orderBy(col("sim_q").desc, col("vec_id").asc)))
      .join(broadcast(exact), col("vec_id") === col("evid"), "left")
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank").cast("long").as("rank"),
        coalesce(col("hit"), lit(0L)).as("in_exact_topk"),
        col("from_a"),
        col("from_b"))
    val census = flagged.agg(sum(col("in_exact_topk")).as("hits"))
    flagged
      .crossJoin(broadcast(census))
      .select(
        col("vec_id"),
        col("sim_q"),
        col("rank"),
        col("in_exact_topk"),
        col("from_a"),
        col("from_b"),
        expr(s"1000 * hits div $K").as("recall_pm"))
  }

  /** S19k — RETRIEVAL-QUALITY metrics rollup across the ANN ladder (the
    * standard IR eval harness — Manning–Raghavan–Schütze IR ch.8 — a
    * vector-store operator runs before trusting an approximate index in
    * production; the per-query twin of x40's recall census): each
    * method's top-8 (exact s19 as the sanity row, LSH s19b, IVF s19c,
    * graph-beam s19j, multi-entry fusion s19o) is re-ranked
    * deterministically (score desc, vec_id
    * asc — identical in both engines because the scores themselves are
    * oracle-hash-equal) and scored against binary relevance = membership
    * in the exact top-8:
    *   recall@8 ‰, MRR ×10⁶ (10⁶ div first-relevant rank — exact
    *   rational), precision@4 ‰, plus n_returned (an LSH bucket may
    *   under-fill k — reported, not hidden).
    * The exact row pins the harness itself: recall 1000, MRR 10⁶, P@4
    * 1000, or the metric arithmetic is wrong.
    *
    * Scale shape: every input is an already-bounded top-8 frame; the rank
    * window is PARTITIONED by method (never global); relevance joins
    * against a broadcast 8-row set; the rollup is a 4-group aggregate.
    * The underlying retrieval scans are the ladder members' own plans,
    * each already proven.
    */
  private def s19k_retrieval_metrics(s: SparkSession, d: String): DataFrame = {
    val scored3 = Seq(
      "1_exact" -> s19_knn_cosine(s, d),
      "2_lsh"   -> s19b_knn_bucketed(s, d),
      "3_ivf"   -> s19c_knn_ivf(s, d)
    ).map { case (m, df) => df.select(lit(m).as("method"), col("vec_id"), col("score")) }
      .reduce(_ unionByName _)
    val rankedAll = scored3
      .withColumn(
        "rank",
        row_number()
          .over(Window.partitionBy(col("method")).orderBy(col("score").desc, col("vec_id").asc))
          .cast("long"))
      .drop("score")
      .unionByName(
        s19j_graph_beam(s, d).select(lit("4_graph").as("method"), col("vec_id"), col("rank")))
      .unionByName(
        s19o_multi_entry(s, d).select(lit("5_fused").as("method"), col("vec_id"), col("rank")))
    val rel = s19_knn_cosine(s, d).select(col("vec_id"), lit(1L).as("rel"))
    rankedAll
      .join(broadcast(rel), Seq("vec_id"), "left")
      .select(col("method"), col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
      .groupBy(col("method"))
      .agg(
        count(lit(1)).as("n_returned"),
        sum(col("rel")).as("hits"),
        min(when(col("rel") === 1L, col("rank"))).as("fr"),
        sum(when(col("rank") <= 4L && col("rel") === 1L, 1L).otherwise(0L)).as("h4"))
      .select(
        col("method"),
        col("n_returned").cast("long").as("n_returned"),
        col("hits").cast("long").as("hits"),
        expr(s"1000 * hits div $K").as("recall_pm"),
        coalesce(expr("1000000 div fr"), lit(0L)).as("mrr_q"),
        expr("1000 * h4 div 4").as("p_at_4_pm")
      )
  }

  /** S19h — HYBRID retrieval with reciprocal-rank fusion (Cormack–
    * Clarke–Büttcher 2009, the dense+sparse composition every production
    * RAG stack runs — a GraphRAG query hits BOTH the vector index and the
    * keyword index and fuses the rankings): the dense list is the exact
    * cosine top-50 against query vector 0 (s19's scan at a deeper cut),
    * the sparse list is the BM25 top-50 for the fixed 3-term query
    * ([[TextAnalysis.bm25Scored]] — doc_id and vec_id share the id
    * space), and each document's fused score is Σ_lists 10⁶ div
    * (60 + rank) — RRF's k = 60, integer-exact, no score normalization
    * needed (the whole point of fusing RANKS: cosine and BM25 live on
    * incomparable scales). Output: fused top-10 with both source ranks
    * (0 = absent from that list's top-50).
    *
    * Scale shape: each list is a TakeOrderedAndProject top-50; the two
    * rank windows run over those 50-row frames only (bounded global
    * windows, PlanSweepSpec-declared); the fusion is a 50∪50-row
    * full-outer join. The expensive parts are exactly the two underlying
    * retrieval scans, each already proven (s19 / x26).
    */
  private def s19h_hybrid_rrf(s: SparkSession, d: String): DataFrame = {
    val e = table(s, d, "embeddings")
    val dtop = e
      .crossJoin(broadcast(queryVec(e)))
      .withColumn("cs", VF.cosine(col("embedding"), col("qe")))
      .orderBy(col("cs").desc, col("vec_id").asc)
      .limit(50)
      .select(col("vec_id").as("doc_id"), col("cs"))
    val dRank = dtop
      .withColumn(
        "r_dense",
        row_number().over(Window.orderBy(col("cs").desc, col("doc_id").asc))
      )
      .select(col("doc_id"), col("r_dense"))
    val sRank = TextAnalysis
      .bm25Scored(s, d)
      .orderBy(col("score_q").desc, col("doc_id").asc)
      .limit(50)
      .withColumn(
        "r_sparse",
        row_number().over(Window.orderBy(col("score_q").desc, col("doc_id").asc))
      )
      .select(col("doc_id"), col("r_sparse"))
    dRank
      .join(sRank, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        (coalesce(expr("1000000 div (60 + r_dense)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_sparse)"), lit(0L))).as("rrf_q"),
        coalesce(col("r_dense"), lit(0)).cast("long").as("dense_rank"),
        coalesce(col("r_sparse"), lit(0)).cast("long").as("sparse_rank")
      )
      .orderBy(col("rrf_q").desc, col("doc_id").asc)
      .limit(10)
      .select(
        col("doc_id").cast("long").as("doc_id"),
        col("rrf_q").cast("long").as("rrf_q"),
        col("dense_rank"),
        col("sparse_rank")
      )
  }

  /** X35 — MMR DIVERSITY RE-RANK (Carbonell–Goldstein 1998 "The use of
    * MMR, diversity-based reranking": the retrieval diversification the
    * reference's raw cosine top-8 lacks — its query path returns the top-k
    * by similarity alone, reference scripts/query_embeddings.py:39-93, so
    * near-duplicate passages crowd out coverage): greedy λ-MMR over the
    * bounded top-R = 32 relevance cut,
    *
    *   pick_t = argmax_{c ∉ S} [ λ·rel(c) − (1−λ)·max_{s ∈ S} sim(c, s) ]
    *
    * with λ = 0.7 kept as the integer pair (7, 3) over ×10⁴-quantized
    * cosines (s24's quantization discipline), so every score and every
    * argmax tiebreak (score desc, vec_id asc) is engine-exact. Step 1 has
    * no selected set: maxsim = 0 and the pick is the relevance argmax.
    * Output: the K = 8 picks in selection order with their relevance,
    * redundancy penalty, and MMR score — X35MmrSpec censuses that the
    * MMR set's mean pairwise similarity lands strictly below the raw
    * top-8's (the diversity the operator exists to buy).
    *
    * Scale shape: the only corpus-touching work is s19's brute-force
    * relevance scan (one narrow pass + TakeOrdered top-R); everything
    * after — the R×R similarity matrix (crossJoin of a broadcast 32-row
    * frame, ≤992 pairs) and the K-step greedy loop — is bounded by the
    * R = 32 / K = 8 CONSTANTS at any corpus size, so the loop runs under
    * [[graft.Tuning.dimensionGraphProfile]] (pair work ≤ R², never
    * corpus-dependent). At production R (hundreds), the same shape holds:
    * MMR cost is a function of the cut, not the corpus.
    */
  private def x35_mmr_rerank(s: SparkSession, d: String): DataFrame = {
    val R   = 32
    val e   = table(s, d, "embeddings")
    val cand = graft.Lineage.truncate(
      e.crossJoin(broadcast(queryVec(e)))
        .select(
          col("vec_id"),
          col("embedding"),
          round(VF.cosine(col("embedding"), col("qe")) * 10000, 0).cast("long").as("rel_q")
        )
        .orderBy(col("rel_q").desc, col("vec_id").asc)
        .limit(R)
    )
    graft.Tuning.dimensionGraphProfile(s) {
      val ca = cand.select(col("vec_id").as("i"), col("embedding").as("ei"))
      val cb = cand.select(col("vec_id").as("j"), col("embedding").as("ej"))
      val sim = graft.Lineage.truncate(
        ca.crossJoin(broadcast(cb))
          .filter(col("i") =!= col("j"))
          .select(
            col("i"),
            col("j"),
            round(VF.cosine(col("ei"), col("ej")) * 10000, 0).cast("long").as("sim_q")
          )
      )
      val first = graft.Lineage.truncate(
        cand
          .select(
            lit(1L).as("step"),
            col("vec_id"),
            col("rel_q"),
            lit(0L).as("maxsim_q"),
            (lit(7L) * col("rel_q")).as("score_q")
          )
          .orderBy(col("score_q").desc, col("vec_id").asc)
          .limit(1)
      )
      // pass p picks step p + 1
      graft.Lineage.iterate(first, K - 1) { (sel, p) =>
        val ms = sim
          .join(sel.select(col("vec_id").as("j")), "j")
          .groupBy(col("i"))
          .agg(max(col("sim_q")).as("maxsim_q"))
        val pick = cand
          .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .join(ms, cand("vec_id") === ms("i"))
          .select(
            lit(p + 1L).as("step"),
            col("vec_id"),
            col("rel_q"),
            col("maxsim_q"),
            (lit(7L) * col("rel_q") - lit(3L) * col("maxsim_q")).as("score_q")
          )
          .orderBy(col("score_q").desc, col("vec_id").asc)
          .limit(1)
        sel.unionByName(pick)
      }.orderBy(col("step"))
    }
  }

  /** The ±1 JL projection of a 64-dim embedding column onto 16 dims, as an
    * expression string parameterized on the input column (the BloomOps
    * column-contract discipline): y_i = Σ_p q(x_p)·s(i,p) on the
    * floor(x·1024) lattice, with the sign matrix s(i,p) = 2·(md5('jl'i'#'p)
    * mod 2) − 1 derived per cell — derandomized, so both engines regenerate
    * the identical matrix and no matrix table needs to exist anywhere.
    */
  private def jlExpr(c: String): String = {
    // The 64×16 ±1 sign matrix is a CONSTANT — md5 of literal 'jl{i}#{p}'
    // seeds — so it is folded to literal arrays at plan-construction time
    // (the scaladoc above always declared this the production build; the
    // VF.hashUnit/Md5Seed plane discipline applied to the JL matrix). The
    // per-row work drops from 1024 interpreted md5+lambda evaluations to 16
    // codegen'd 64-step integer dots (graft_qdot_long = the
    // aggregate(zip_with(...)) fold, QuantVec.scala). Cell values are
    // bit-identical: Md5Seed.prefixLong IS conv(substr(md5(s),1,6),16,10),
    // and the oracle keeps regenerating the matrix in SQL.
    val signRows = Seq.tabulate(16) { i =>
      Seq.tabulate(64) { p =>
        2L * (graft.functions.Md5Seed.prefixLong(s"jl$i#$p", 6) % 2L) - 1L
      }.mkString("array(", "L, ", "L)")
    }
    signRows
      .map(row => s"graft_qdot_long($c, $row)")
      .mkString("array(", ", ", ")")
  }

  /** X39 — Johnson–Lindenstrauss RANDOM-SIGN PROJECTION with a distortion
    * audit (Achlioptas 2003's database-friendly ±1 matrix — the
    * dimensionality-reduction rung the ANN family sits on: project 64-dim
    * embeddings to 16 dims, then verify on real pairs that squared
    * distances survive ×m): each vector's projection is y_i = Σ_p
    * q_p·s(i,p) over the quantized components (d21's floor(x·1024)
    * lattice), signs md5-derandomized per (i, p) cell so the matrix is
    * REGENERATED identically by both engines instead of stored. The audit
    * pairs every vector against the vec_id-0 anchor (s19's query-vector
    * pattern): d²_orig on 64 dims, d²_proj on 16, and ratio_pm =
    * 1000·d²_proj / (16·d²_orig) — E[ratio_pm] = 1000 under the JL lemma
    * (E[y_i²] = ‖x‖² for ±1 signs), so the column clustering around 1000
    * is the lemma made measurable; identical-to-anchor rows ride the
    * nullif lane.
    *
    * Scale shape: the projection is a NARROW PER-ROW MAP — zero shuffle,
    * no matrix join, nothing to broadcast but the single-row anchor; at
    * 1000 executors it scans and writes. The 1024 md5s per row trade
    * recompute for state, the right trade at 100 TB where any shared
    * matrix table would be a broadcast dependency; a production build
    * would fold the 64×16 sign matrix into a literal array constant.
    */
  private def x39_jl_projection(s: SparkSession, d: String): DataFrame =
    jlDistancesShared(s, d)
      .select(
        col("vec_id"),
        col("d2_orig_q"),
        col("d2_proj_q"),
        expr("(1000 * d2_proj_q) div nullif(16 * d2_orig_q, 0)").as("ratio_pm")
      )

  /** x39/x40's shared anchor-distance frame, Memo-materialized once per
    * (session, dataset): both consumers pay the 1024-md5-per-row
    * projection through ONE build (the d2-pairs substrate discipline —
    * each query separately paid ~2.5 s at sf0.1 for the identical frame).
    * The SIGN MATRIX stays regenerated-not-stored (the scaladoc trade
    * above); what's shared is the per-dataset distance TABLE, ordinary
    * columnar state.
    */
  private val jlDistMemo = graft.Memo.newMap()

  private def jlDistancesShared(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(jlDistMemo, s, d) {
      val e  = table(s, d, "embeddings")
      val pe = e.select(col("vec_id"), col("embedding"), expr(jlExpr("embedding")).as("y"))
      val anchor = broadcast(
        pe.filter(col("vec_id") === 0)
          .select(col("embedding").as("ae"), col("y").as("ay"))
      )
      jlDistances(pe, anchor)
    }

  /** (vec_id, d2_orig_q, d2_proj_q) of every non-anchor vector against the
    * broadcast single-row anchor — the distance frame x39 and x40 share.
    */
  private def jlDistances(pe: DataFrame, anchor: DataFrame): DataFrame =
    pe.filter(col("vec_id") > 0)
      .crossJoin(anchor)
      .select(
        col("vec_id"),
        // native kernels for the two aggregate(zip_with(...)) folds —
        // identical long arithmetic + NULL semantics (QuantVec.scala), one
        // codegen'd loop per row instead of the interpreted per-element
        // lambda; the oracle keeps the spelled-out SQL.
        expr("graft_qd2(embedding, ae)").as("d2_orig_q"),
        expr("graft_l2sq_long(y, ay)").as("d2_proj_q")
      )

  /** X40 — kNN RECALL IN THE PROJECTED SPACE (the audit that makes x39's
    * projection a search structure, not just a compression trick: JL-style
    * reduction is the standard first stage of a billion-vector ANN stack —
    * search the 16-dim space, re-rank survivors in the original space —
    * and the question that decides whether that stack is sound is "how
    * much of the TRUE top-k does the projected top-k retain?"): exact
    * top-8 by quantized L2 against the vec-0 anchor in the ORIGINAL
    * 64-dim space next to the top-8 in the 16-dim PROJECTED space, full
    * outer join on the union (≤ 16 rows), each row carrying both ranks
    * (null = outside that list) and both distances; `in_both` marks the
    * retained set, so recall@8 is the in_both count over 8. Ranks are
    * deterministic ((d², vec_id) tiebreak) and the oracle regenerates the
    * identical lists, so the measured recall itself is cross-engine
    * pinned — the declared-approximation discipline (g13b, d22).
    *
    * Scale shape: one narrow projection scan, two TakeOrderedAndProject
    * top-8s, rank windows over ≤ 8 rows each (the s19h bounded-window
    * pattern), one ≤16-row join. At 10⁹ vectors the projected scan reads
    * 4× less and the re-rank touches k rows — the recall measured here is
    * the price tag on that speedup.
    */
  private def x40_jl_recall(s: SparkSession, d: String): DataFrame = {
    // The distance frame is the Memo-shared checkpoint (r17 — previously
    // a per-query cachePin here, 4.8 → ~2 s for x40's three consumers;
    // the memo additionally shares the build with x39, ~2.5 s more):
    // every consumer below re-reads stored rows, never the projection.
    val dd = jlDistancesShared(s, d)
    def top8(by: String, rank: String) = dd
      .orderBy(col(by).asc, col("vec_id").asc)
      .limit(K)
      .withColumn(
        rank,
        row_number()
          .over(Window.orderBy(col(by).asc, col("vec_id").asc))
          .cast("long")
      )
      .select(col("vec_id"), col(rank))
    top8("d2_orig_q", "rank_exact")
      .join(top8("d2_proj_q", "rank_proj"), Seq("vec_id"), "full_outer")
      .join(dd, Seq("vec_id"))
      .select(
        col("vec_id"),
        col("rank_exact"),
        col("rank_proj"),
        col("d2_orig_q"),
        col("d2_proj_q"),
        (col("rank_exact").isNotNull && col("rank_proj").isNotNull).as("in_both")
      )
  }

  /** Memo-shared substrate (see [[QueryModule.substrates]]): the IVFADC
    * candidate frame s19g/s19h read.
    */
  override def substrates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "_sub_vector_ivfadc" -> ((s, d) => ivfadcCand(s, d)),
    "_sub_vector_jl_distances" -> ((s, d) => jlDistancesShared(s, d)),
    "_sub_vector_knn_graph" -> ((s, d) => knnGraph(s, d)),
    "_sub_vector_knn_graph_base" -> ((s, d) => knnGraphBase(s, d)),
    "_sub_vector_knn_graph_l1" -> ((s, d) => knnGraphL1(s, d)),
    // runs AFTER the graph substrates by name sort — it consumes knnGraph
    "_sub_vector_multi_entry" -> ((s, d) => s19o_multi_entry(s, d))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x39_jl_projection" -> (x39_jl_projection _),
    "x40_jl_recall" -> (x40_jl_recall _),
    "x35_mmr_rerank" -> (x35_mmr_rerank _),
    "s19h_hybrid_rrf" -> (s19h_hybrid_rrf _),
    "s19g_ivfadc" -> (s19g_ivfadc _),
    "s19i_ivfadc_rerank" -> (s19i_ivfadc_rerank _),
    "s19j_graph_beam" -> (s19j_graph_beam _),
    "s19k_retrieval_metrics" -> (s19k_retrieval_metrics _),
    "s19l_hnsw_layers" -> (s19l_hnsw_layers _),
    "s19m_graph_insert" -> (s19m_graph_insert _),
    "s19n_operating_curve" -> (s19n_operating_curve _),
    "s19o_multi_entry" -> (s19o_multi_entry _),
    "s19e_pq_encode" -> (s19e_pq_encode _),
    "s19f_pq_adc" -> (s19f_pq_adc _),
    "s24_scalar_quantize" -> (s24_scalar_quantize _),
    "s19_knn_cosine" -> (s19_knn_cosine _),
    "s19b_knn_bucketed" -> (s19b_knn_bucketed _),
    "s19c_knn_ivf" -> (s19c_knn_ivf _),
    "s27_ivf_train" -> (s27_ivf_train _),
    "x23_embedding_outliers" -> (x23_embedding_outliers _),
    "s19d_knn_filtered" -> (s19d_knn_filtered _),
    "s20_vector_dump" -> (s20_vector_dump _),
    "s17_vector_upsert" -> (s17_vector_upsert _),
    "s18_dedup_aware_append" -> (s18_dedup_aware_append _),
    "g3_embed_stub" -> (g3_embed_stub _)
  )

  private val cosSql =
    """list_dot_product(e, qe) /
       (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))"""

  /** The IVFADC candidate chain both s19g and s19i oracles share (the SQL
    * twin of [[ivfadcCandCompute]]): coarse centroids, residual PQ, the
    * nprobe=2 probe, per-cell LUTs, and every probed-cell member's ADC
    * score in `cand`.
    */
  private val ivfadcPrefixSql =
    s"""v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                            embedding::DOUBLE[] AS e FROM embeddings),
          vq AS (SELECT vec_id, label, CAST((i - 1) // ${Dim / 4} AS BIGINT) AS sub,
                        CAST(i - 1 AS BIGINT) AS pos,
                        CAST(floor(e[i] * 1024) AS BIGINT) AS q
                 FROM v, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          ccent AS (SELECT label, pos, (sum(q + 4096) // count(*)) - 4096 AS cq
                    FROM vq GROUP BY 1, 2),
          res AS (SELECT vec_id, vq.label, sub, vq.pos, q - cq AS r
                  FROM vq JOIN ccent ON ccent.label = vq.label AND ccent.pos = vq.pos),
          seeds AS (SELECT vec_id AS seed, sub, pos, r AS cr FROM res WHERE vec_id < 8),
          d1 AS (SELECT res.vec_id, res.sub, seeds.seed,
                        sum((r - cr) * (r - cr)) AS d2
                 FROM res JOIN seeds USING (sub, pos) GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, sub, seed AS cluster,
                        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, seed) AS rn
                 FROM d1),
          m1 AS (SELECT vec_id, sub, cluster FROM a1 WHERE rn = 1),
          cents AS (SELECT res.sub, m1.cluster, res.pos,
                           (sum(r + 4096) // count(*)) - 4096 AS mean_q
                    FROM res JOIN m1 USING (vec_id, sub) GROUP BY 1, 2, 3),
          d2s AS (SELECT res.vec_id, res.label, res.sub, cents.cluster,
                         sum((r - mean_q) * (r - mean_q)) AS d2
                  FROM res JOIN cents USING (sub, pos) GROUP BY 1, 2, 3, 4),
          a2 AS (SELECT vec_id, label, sub, cluster AS code,
                        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cluster) AS rn
                 FROM d2s),
          enc AS (SELECT vec_id, label, sub, code FROM a2 WHERE rn = 1),
          qd AS (SELECT pos, q AS qv FROM vq WHERE vec_id = 0),
          cdist AS (SELECT label, sum((cq - qv) * (cq - qv)) AS d2
                    FROM ccent JOIN qd USING (pos) GROUP BY 1),
          probe AS (SELECT label FROM cdist ORDER BY d2, label LIMIT 2),
          qres AS (SELECT ccent.label, CAST(pos // ${Dim / 4} AS BIGINT) AS sub,
                          pos, qv - cq AS qr
                   FROM ccent JOIN probe USING (label) JOIN qd USING (pos)),
          lut AS (SELECT qres.label, qres.sub, cents.cluster AS code,
                         sum((qr - mean_q) * (qr - mean_q)) AS qd2
                  FROM qres JOIN cents ON cents.sub = qres.sub AND cents.pos = qres.pos
                  GROUP BY 1, 2, 3),
          cand AS (SELECT vec_id, sum(qd2) AS adc_q
                   FROM enc JOIN lut USING (label, sub, code) GROUP BY 1)"""

  /** Band `b`'s bucket key in DuckDB — the SQL twin of
    * `signBits(embedding, jBandPlanes(b))` (plane indices 100+3b+k).
    */
  private def jBandKeySql(b: Int): String =
    (0 until JPlanes)
      .map { k =>
        val p = 100 + 3 * b + k
        s"""CASE WHEN list_dot_product(e, ${VF.duckdbPlaneSql(p, Dim)}) >= 0
            THEN '1' ELSE '0' END"""
      }
      .mkString(" || ")

  /** One unrolled beam pass for the s19j oracle: candidates = beam ∪ its
    * graph neighbors, re-scored from the full scoring table, top-K kept —
    * the g8e iterated-function-equality pattern.
    */
  private def jBeamPassSql(t: Int): String =
    s"""c$t AS (SELECT vec_id FROM b${t - 1}
              UNION SELECT n.v FROM b${t - 1} JOIN nbrs n ON n.u = b${t - 1}.vec_id),
        b$t AS MATERIALIZED (
          SELECT qs.vec_id, qs.sim_q FROM qs JOIN c$t USING (vec_id)
          ORDER BY sim_q DESC, vec_id LIMIT $K)"""

  /** The s19j beam-lattice CTE chain (index build + 5 beam passes + the
    * exact set) — shared by the s19j oracle and s19k's graph-method rows.
    * Defines CTEs v, keyed, capped, prs, nb0, nbrs, q, qs, entry,
    * b0..b$JPasses, exact.
    */
  private val s19jLatticeSql: String = {
    val bands = (0 until JBands)
      .map(b => s"SELECT $b AS band, vec_id, qa, ${jBandKeySql(b)} AS bk FROM v")
      .mkString(" UNION ALL ")
    val passes = (1 to JPasses).map(jBeamPassSql).mkString(",\n        ")
    s"""v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_transform(embedding::DOUBLE[], x -> floor(x * 1024)) AS qa
            FROM embeddings),
        keyed AS ($bands),
        capped AS MATERIALIZED (
          SELECT band, bk, vec_id, qa FROM (
            SELECT *, row_number() OVER (PARTITION BY band, bk
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rn
            FROM keyed) WHERE rn <= $JCap),
        prs AS MATERIALIZED (
          SELECT a.vec_id AS u, b.vec_id AS v2,
                 max(CAST(list_dot_product(a.qa, b.qa) AS BIGINT)) AS sim_uv
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bk = b.bk AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        nb0 AS (
          SELECT u, v2 AS v, sim_uv FROM (
            SELECT *, row_number() OVER (PARTITION BY u ORDER BY sim_uv DESC, v2) AS rn
            FROM prs) WHERE rn <= $JDeg),
        nbrs AS MATERIALIZED (
          SELECT u, v, max(sim_uv) AS sim_uv FROM (
            SELECT u, v, sim_uv FROM nb0
            UNION ALL SELECT v, u, sim_uv FROM nb0) GROUP BY 1, 2),
        q AS (SELECT qa AS qq FROM v WHERE vec_id = 0),
        qs AS MATERIALIZED (
          SELECT vec_id, CAST(list_dot_product(v.qa, q.qq) AS BIGINT) AS sim_q FROM v, q),
        entry AS (SELECT vec_id FROM v
                  ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT 1),
        b0 AS MATERIALIZED (SELECT qs.vec_id, qs.sim_q FROM qs JOIN entry USING (vec_id)),
        $passes,
        exact AS MATERIALIZED (
          SELECT vec_id FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) q2
          ORDER BY $cosSql DESC, vec_id LIMIT $K)"""
  }

  private val s19jOracleSql: String =
    s"""WITH $s19jLatticeSql,
        flags AS (SELECT vec_id, sim_q,
                         CAST(row_number() OVER (ORDER BY sim_q DESC, vec_id) AS BIGINT) AS rank,
                         CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                              THEN 1 ELSE 0 END AS BIGINT) AS in_exact_topk
                  FROM b$JPasses),
        cens AS (SELECT sum(in_exact_topk) AS hits FROM flags)
        SELECT vec_id, sim_q, rank, in_exact_topk,
               CAST(1000 * hits // $K AS BIGINT) AS recall_pm,
               CAST((SELECT count(*) FROM nbrs) AS BIGINT) AS n_edges
        FROM flags, cens"""

  /** The s19o oracle: the s19j lattice's entry-A chain plus a second
    * chain from the maximal-md5 entry, fused by global top-K on the
    * shared lattice score, with per-row beam-provenance flags.
    */
  /** The entry-B (maximal-md5) beam chain on top of [[s19jLatticeSql]] —
    * shared by the s19o oracle and s19k's fused-method row.
    */
  private val s19oBChainSql: String = {
    def passB(t: Int): String = {
      val prev = s"bb${t - 1}"
      s"""cb$t AS (SELECT vec_id FROM $prev
              UNION SELECT n.v FROM $prev JOIN nbrs n ON n.u = $prev.vec_id),
        bb$t AS MATERIALIZED (
          SELECT qs.vec_id, qs.sim_q FROM qs JOIN cb$t USING (vec_id)
          ORDER BY sim_q DESC, vec_id LIMIT $K)"""
    }
    val passesB = (1 to JPasses).map(passB).mkString(",\n        ")
    s"""entryb AS (SELECT vec_id FROM v
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) DESC, vec_id DESC LIMIT 1),
        bb0 AS MATERIALIZED (SELECT qs.vec_id, qs.sim_q FROM qs JOIN entryb USING (vec_id)),
        $passesB"""
  }

  private val s19oOracleSql: String = {
    s"""WITH $s19jLatticeSql,
        $s19oBChainSql,
        fused AS (
          SELECT vec_id, sim_q, max(from_a) AS from_a, max(from_b) AS from_b FROM (
            SELECT vec_id, sim_q, 1 AS from_a, 0 AS from_b FROM b$JPasses
            UNION ALL SELECT vec_id, sim_q, 0, 1 FROM bb$JPasses)
          GROUP BY 1, 2 ORDER BY sim_q DESC, vec_id LIMIT $K),
        flags AS (SELECT vec_id, sim_q,
                         CAST(row_number() OVER (ORDER BY sim_q DESC, vec_id) AS BIGINT) AS rank,
                         CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                              THEN 1 ELSE 0 END AS BIGINT) AS in_exact_topk,
                         CAST(from_a AS BIGINT) AS from_a,
                         CAST(from_b AS BIGINT) AS from_b
                  FROM fused),
        cens AS (SELECT sum(in_exact_topk) AS hits FROM flags)
        SELECT vec_id, sim_q, rank, in_exact_topk, from_a, from_b,
               CAST(1000 * hits // $K AS BIGINT) AS recall_pm
        FROM flags, cens"""
  }

  /** The s19m oracle: base graph over the 15-in-16 md5 slice, the delta
    * batch probed against the base's capped buckets, symmetrized new
    * links merged in, then TWO beams on the merged graph — query 0 at 7
    * passes (the measured convergence ladder on
    * [[s19m_graph_insert]]'s JInsPasses) and the self-recall beam for the
    * minimum-id inserted vector at 5.
    */
  private val s19mOracleSql: String = {
    val bandsB = (0 until JBands)
      .map(b => s"SELECT $b AS band, vec_id, qa, ${jBandKeySql(b)} AS bk FROM vb")
      .mkString(" UNION ALL ")
    val bandsD = (0 until JBands)
      .map(b => s"SELECT $b AS band, vec_id, qa, ${jBandKeySql(b)} AS bk FROM vd")
      .mkString(" UNION ALL ")
    def passSql(tag: String, t: Int, qstab: String): String = {
      val prev = s"b$tag${t - 1}"
      s"""c$tag$t AS (SELECT vec_id FROM $prev
              UNION SELECT n.v FROM $prev JOIN nbrs n ON n.u = $prev.vec_id),
        b$tag$t AS MATERIALIZED (
          SELECT $qstab.vec_id, $qstab.sim_q FROM $qstab JOIN c$tag$t USING (vec_id)
          ORDER BY sim_q DESC, vec_id LIMIT $K)"""
    }
    val passesQ = (1 to JInsPasses).map(passSql("q", _, "qs")).mkString(",\n        ")
    val passesS = (1 to JPasses).map(passSql("s", _, "qs2")).mkString(",\n        ")
    s"""WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_transform(embedding::DOUBLE[], x -> floor(x * 1024)) AS qa
            FROM embeddings),
        vb AS MATERIALIZED (SELECT * FROM v
          WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6))::BIGINT % $JInsMod <> $JInsRes),
        vd AS MATERIALIZED (SELECT * FROM v
          WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6))::BIGINT % $JInsMod = $JInsRes),
        kb AS ($bandsB),
        capb AS MATERIALIZED (
          SELECT band, bk, vec_id, qa FROM (
            SELECT *, row_number() OVER (PARTITION BY band, bk
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rn
            FROM kb) WHERE rn <= $JCap),
        prsb AS MATERIALIZED (
          SELECT a.vec_id AS u, b.vec_id AS v2,
                 max(CAST(list_dot_product(a.qa, b.qa) AS BIGINT)) AS sim_uv
          FROM capb a JOIN capb b
            ON a.band = b.band AND a.bk = b.bk AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        nbzb AS (
          SELECT u, v2 AS v, sim_uv FROM (
            SELECT *, row_number() OVER (PARTITION BY u ORDER BY sim_uv DESC, v2) AS rn
            FROM prsb) WHERE rn <= $JDeg),
        nbrsb AS MATERIALIZED (
          SELECT u, v, max(sim_uv) AS sim_uv FROM (
            SELECT u, v, sim_uv FROM nbzb
            UNION ALL SELECT v, u, sim_uv FROM nbzb) GROUP BY 1, 2),
        kd AS ($bandsD),
        prsd AS MATERIALIZED (
          SELECT d.vec_id AS u, c.vec_id AS v2,
                 max(CAST(list_dot_product(d.qa, c.qa) AS BIGINT)) AS sim_uv
          FROM kd d JOIN capb c ON d.band = c.band AND d.bk = c.bk
          GROUP BY 1, 2),
        newd AS (
          SELECT u, v2 AS v, sim_uv FROM (
            SELECT *, row_number() OVER (PARTITION BY u ORDER BY sim_uv DESC, v2) AS rn
            FROM prsd) WHERE rn <= $JDeg),
        newe AS MATERIALIZED (
          SELECT u, v, max(sim_uv) AS sim_uv FROM (
            SELECT u, v, sim_uv FROM newd
            UNION ALL SELECT v, u, sim_uv FROM newd) GROUP BY 1, 2),
        nbrs AS MATERIALIZED (
          SELECT u, v, max(sim_uv) AS sim_uv FROM (
            SELECT * FROM nbrsb UNION ALL SELECT * FROM newe) GROUP BY 1, 2),
        q AS (SELECT qa AS qq FROM v WHERE vec_id = 0),
        qs AS MATERIALIZED (
          SELECT vec_id, CAST(list_dot_product(v.qa, q.qq) AS BIGINT) AS sim_q FROM v, q),
        entry AS (SELECT vec_id FROM v
                  ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT 1),
        bq0 AS MATERIALIZED (SELECT qs.vec_id, qs.sim_q FROM qs JOIN entry USING (vec_id)),
        $passesQ,
        dq AS (SELECT vec_id AS dqid, qa AS dqa FROM vd ORDER BY vec_id LIMIT 1),
        qs2 AS MATERIALIZED (
          SELECT v.vec_id, CAST(list_dot_product(v.qa, dq.dqa) AS BIGINT) AS sim_q FROM v, dq),
        bs0 AS MATERIALIZED (SELECT qs2.vec_id, qs2.sim_q FROM qs2 JOIN entry USING (vec_id)),
        $passesS,
        exact AS MATERIALIZED (
          SELECT vec_id FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) q2
          ORDER BY $cosSql DESC, vec_id LIMIT $K),
        flags AS (SELECT vec_id, sim_q,
                         CAST(row_number() OVER (ORDER BY sim_q DESC, vec_id) AS BIGINT) AS rank,
                         CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                              THEN 1 ELSE 0 END AS BIGINT) AS in_exact_topk
                  FROM bq$JInsPasses),
        cens AS (SELECT sum(in_exact_topk) AS hits FROM flags),
        icens AS (SELECT count(*) AS n_inserted FROM vd),
        ecens AS (SELECT count(*) AS n_new_edges FROM newe),
        acens AS (SELECT count(DISTINCT u) AS n_attached FROM newd),
        scens AS (SELECT CAST(CASE WHEN EXISTS (
                    SELECT 1 FROM bs$JPasses JOIN dq ON bs$JPasses.vec_id = dq.dqid)
                    THEN 1 ELSE 0 END AS BIGINT) AS self_found)
        SELECT vec_id, sim_q, rank, in_exact_topk,
               CAST(1000 * hits // $K AS BIGINT) AS recall_pm,
               CAST(n_inserted AS BIGINT) AS n_inserted,
               CAST(n_new_edges AS BIGINT) AS n_new_edges,
               CAST(1000 * n_attached // n_inserted AS BIGINT) AS attach_pm,
               self_found
        FROM flags, cens, icens, ecens, acens, scens"""
  }

  /** The s19n oracle: s19j's lattice (graph + scoring table + entry +
    * exact), then one unrolled 5-pass chain per beam width with pass-3
    * and pass-5 snapshot rows counting the per-pass candidate sets.
    */
  private val s19nOracleSql: String = {
    val widths = Seq(4, 8, 16)
    val chains = widths.flatMap { w =>
      (1 to 5).map { t =>
        val prev = s"b${w}_${t - 1}"
        s"""c${w}_$t AS (SELECT vec_id FROM $prev
              UNION SELECT n.v FROM $prev JOIN nbrs n ON n.u = $prev.vec_id),
        b${w}_$t AS MATERIALIZED (
          SELECT qs.vec_id, qs.sim_q FROM qs JOIN c${w}_$t USING (vec_id)
          ORDER BY sim_q DESC, vec_id LIMIT $w)"""
      }
    }
    val seeds = widths.map(w =>
      s"b${w}_0 AS MATERIALIZED (SELECT qs.vec_id, qs.sim_q FROM qs JOIN entry USING (vec_id))")
    val snaps = widths.flatMap { w =>
      Seq(3, 5).map { p =>
        val cnt = (1 to p).map(t => s"(SELECT count(*) FROM c${w}_$t)").mkString(" + ")
        s"""SELECT CAST($w AS BIGINT) AS beam_w, CAST($p AS BIGINT) AS n_passes,
               CAST($cnt AS BIGINT) AS n_scored,
               CAST(1000 * (SELECT count(*) FROM b${w}_$p
                            WHERE vec_id IN (SELECT vec_id FROM exact)) // $K AS BIGINT)
                 AS recall_pm"""
      }
    }
    s"""WITH $s19jLatticeSql,
        ${seeds.mkString(",\n        ")},
        ${chains.mkString(",\n        ")}
        ${snaps.mkString(" UNION ALL ")}
        ORDER BY beam_w, n_passes"""
  }

  /** The s19l oracle: BOTH graphs (full + 1-in-8 coarse layer) built by
    * the same banded SQL, 2 coarse + 4 fine unrolled beam passes, s19j's
    * census shape plus the layer-1 node count.
    */
  private val s19lOracleSql: String = {
    def graphSql(tag: String, src: String): String = {
      val bands = (0 until JBands)
        .map(b => s"SELECT $b AS band, vec_id, qa, ${jBandKeySql(b)} AS bk FROM $src")
        .mkString(" UNION ALL ")
      s"""k$tag AS ($bands),
        cap$tag AS MATERIALIZED (
          SELECT band, bk, vec_id, qa FROM (
            SELECT *, row_number() OVER (PARTITION BY band, bk
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rn
            FROM k$tag) WHERE rn <= $JCap),
        prs$tag AS MATERIALIZED (
          SELECT a.vec_id AS u, b.vec_id AS v2,
                 max(CAST(list_dot_product(a.qa, b.qa) AS BIGINT)) AS sim_uv
          FROM cap$tag a JOIN cap$tag b
            ON a.band = b.band AND a.bk = b.bk AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        nbz$tag AS (
          SELECT u, v2 AS v, sim_uv FROM (
            SELECT *, row_number() OVER (PARTITION BY u ORDER BY sim_uv DESC, v2) AS rn
            FROM prs$tag) WHERE rn <= $JDeg),
        nbrs$tag AS MATERIALIZED (
          SELECT u, v, max(sim_uv) AS sim_uv FROM (
            SELECT u, v, sim_uv FROM nbz$tag
            UNION ALL SELECT v, u, sim_uv FROM nbz$tag) GROUP BY 1, 2)"""
    }
    def passSql(layer: String, t: Int, prev: String): String =
      s"""c$layer$t AS (SELECT vec_id FROM $prev
              UNION SELECT n.v FROM $prev JOIN nbrs$layer n ON n.u = $prev.vec_id),
        b$layer$t AS MATERIALIZED (
          SELECT qs.vec_id, qs.sim_q FROM qs JOIN c$layer$t USING (vec_id)
          ORDER BY sim_q DESC, vec_id LIMIT $K)"""
    val coarse = (1 to 2)
      .map(t => passSql("f", t, if (t == 1) "e1" else s"bf${t - 1}"))
      .mkString(",\n        ")
    val fine = (1 to 4)
      .map(t => passSql("g", t, if (t == 1) "bf2" else s"bg${t - 1}"))
      .mkString(",\n        ")
    s"""WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_transform(embedding::DOUBLE[], x -> floor(x * 1024)) AS qa
            FROM embeddings),
        v1 AS MATERIALIZED (
            SELECT * FROM v
            WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6))::BIGINT % 8 = 0),
        ${graphSql("g", "v")},
        ${graphSql("f", "v1")},
        q AS (SELECT qa AS qq FROM v WHERE vec_id = 0),
        qs AS MATERIALIZED (
          SELECT vec_id, CAST(list_dot_product(v.qa, q.qq) AS BIGINT) AS sim_q FROM v, q),
        entry AS (SELECT vec_id FROM v1
                  ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id LIMIT 1),
        e1 AS MATERIALIZED (SELECT qs.vec_id, qs.sim_q FROM qs JOIN entry USING (vec_id)),
        $coarse,
        $fine,
        exact AS (SELECT vec_id FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) q2
                  ORDER BY $cosSql DESC, vec_id LIMIT $K),
        flags AS (SELECT vec_id, sim_q,
                         CAST(row_number() OVER (ORDER BY sim_q DESC, vec_id) AS BIGINT) AS rank,
                         CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                              THEN 1 ELSE 0 END AS BIGINT) AS in_exact_topk
                  FROM bg4),
        cens AS (SELECT sum(in_exact_topk) AS hits FROM flags)
        SELECT vec_id, sim_q, rank, in_exact_topk,
               CAST(1000 * hits // $K AS BIGINT) AS recall_pm,
               CAST((SELECT count(*) FROM v1) AS BIGINT) AS n_layer1
        FROM flags, cens"""
  }

  private val bucketKeySql: String =
    (0 until NPlanes)
      .map(p =>
        s"""CASE WHEN list_dot_product(embedding::DOUBLE[], ${VF.duckdbPlaneSql(p, Dim)}) >= 0
            THEN '1' ELSE '0' END"""
      )
      .mkString(" || ")

  /** One unrolled MMR greedy step for the x35 oracle: pick t from the
    * candidates not yet in sel(t−1), scoring 7·rel − 3·max-sim-to-selected
    * with the (score desc, vec_id) tiebreak — the same integer arithmetic
    * the engine runs, so any k agrees by iterated-function equality (the
    * g8e pattern).
    */
  private def mmrStepSql(t: Int): String =
    s"""s$t AS MATERIALIZED (
          SELECT $t AS step, c.vec_id, c.rel_q, m.ms AS maxsim_q,
                 7 * c.rel_q - 3 * m.ms AS score_q
          FROM cand c
          JOIN (SELECT i, max(sim_q) AS ms FROM sim
                WHERE j IN (SELECT vec_id FROM sel${t - 1}) GROUP BY i) m
            ON m.i = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
          ORDER BY score_q DESC, c.vec_id LIMIT 1),
        sel$t AS MATERIALIZED (
          SELECT vec_id FROM sel${t - 1} UNION ALL SELECT vec_id FROM s$t)"""

  private val x35OracleSql: String = {
    val pairCos =
      """list_dot_product(a.e, b.e) /
         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"""
    val steps = (2 to K).map(mmrStepSql).mkString(",\n        ")
    val union = (1 to K).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
        cand AS MATERIALIZED (
                 SELECT vec_id, e,
                        CAST(round(10000 * ($cosSql), 0) AS BIGINT) AS rel_q
                 FROM v, q ORDER BY rel_q DESC, vec_id LIMIT 32),
        sim AS MATERIALIZED (
                SELECT a.vec_id AS i, b.vec_id AS j,
                       CAST(round(10000 * ($pairCos), 0) AS BIGINT) AS sim_q
                FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
        s1 AS MATERIALIZED (
               SELECT 1 AS step, vec_id, rel_q, CAST(0 AS BIGINT) AS maxsim_q,
                      7 * rel_q AS score_q
               FROM cand ORDER BY score_q DESC, vec_id LIMIT 1),
        sel1 AS (SELECT vec_id FROM s1),
        $steps
        SELECT CAST(step AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
               rel_q, maxsim_q, CAST(score_q AS BIGINT) AS score_q
        FROM ($union) ORDER BY step"""
  }

  /** The JL projection + anchor-distance CTE chain x39 and x40 share (the
    * SQL twin of [[jlExpr]] + [[jlDistances]]).
    */
  private val jlDdSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       pe AS MATERIALIZED (
         SELECT vec_id, e,
                list_transform(generate_series(0, 15), i ->
                  CAST(list_sum(list_transform(generate_series(0, 63), p ->
                    CAST(floor(e[p + 1] * 1024) AS BIGINT) *
                    (2 * (('0x' || substr(md5('jl' || i || '#' || p), 1, 6))::BIGINT % 2) - 1)))
                    AS BIGINT)) AS y
         FROM v),
       an AS (SELECT e AS ae, y AS ay FROM pe WHERE vec_id = 0),
       dd AS MATERIALIZED (
         SELECT p.vec_id,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CAST((floor(p.e[i] * 1024) - floor(a.ae[i] * 1024)) *
                       (floor(p.e[i] * 1024) - floor(a.ae[i] * 1024)) AS BIGINT)))
                  AS BIGINT) AS d2_orig_q,
                CAST(list_sum(list_transform(generate_series(1, 16), i ->
                  (p.y[i] - a.ay[i]) * (p.y[i] - a.ay[i])))
                  AS BIGINT) AS d2_proj_q
         FROM pe p, an a
         WHERE p.vec_id > 0)"""

  val oracles: Map[String, String] = Map(
    "x39_jl_projection" ->
      s"""$jlDdSql
         SELECT vec_id, d2_orig_q, d2_proj_q,
                CAST((1000 * d2_proj_q) // nullif(16 * d2_orig_q, 0) AS BIGINT) AS ratio_pm
         FROM dd""",
    "x40_jl_recall" ->
      s"""$jlDdSql,
         ex AS (SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY d2_orig_q, vec_id) AS BIGINT) AS rank_exact
                FROM dd ORDER BY d2_orig_q, vec_id LIMIT 8),
         pj AS (SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY d2_proj_q, vec_id) AS BIGINT) AS rank_proj
                FROM dd ORDER BY d2_proj_q, vec_id LIMIT 8)
         SELECT vec_id, rank_exact, rank_proj, d.d2_orig_q, d.d2_proj_q,
                (rank_exact IS NOT NULL AND rank_proj IS NOT NULL) AS in_both
         FROM ex FULL JOIN pj USING (vec_id) JOIN dd d USING (vec_id)""",
    "x35_mmr_rerank" -> x35OracleSql,
    "s19j_graph_beam" -> s19jOracleSql,
    "s19l_hnsw_layers" -> s19lOracleSql,
    "s19m_graph_insert" -> s19mOracleSql,
    "s19n_operating_curve" -> s19nOracleSql,
    "s19o_multi_entry" -> s19oOracleSql,
    "s19k_retrieval_metrics" ->
      s"""WITH $s19jLatticeSql,
          $s19oBChainSql,
          lshv AS (SELECT vec_id, e, $bucketKeySql AS bk
                   FROM (SELECT vec_id, embedding::DOUBLE[] AS e, embedding FROM embeddings)),
          lq AS (SELECT e AS qe, bk AS qbk FROM lshv WHERE vec_id = 0),
          lshtop AS (SELECT vec_id, round($cosSql, 4) AS score
                     FROM lshv, lq WHERE bk = qbk
                     ORDER BY $cosSql DESC, vec_id LIMIT $K),
          ivfv AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
          idims AS (SELECT label, i AS pos, e[i] AS val
                    FROM ivfv, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          icent AS (SELECT label, pos, avg(val) AS c FROM idims GROUP BY 1, 2),
          iq AS (SELECT e AS qe FROM ivfv WHERE vec_id = 0),
          iqd AS (SELECT i AS pos, qe[i] AS qv
                  FROM iq, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          idist AS (SELECT label, sum((c - qv) * (c - qv)) AS d2
                    FROM icent JOIN iqd USING (pos) GROUP BY label),
          iprobe AS (SELECT label FROM idist ORDER BY d2, label LIMIT 1),
          ivftop AS (SELECT vec_id, round($cosSql, 4) AS score
                     FROM ivfv, iq WHERE ivfv.label = (SELECT label FROM iprobe)
                     ORDER BY $cosSql DESC, vec_id LIMIT $K),
          extop AS (SELECT vec_id, round($cosSql, 4) AS score
                    FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) qx
                    ORDER BY $cosSql DESC, vec_id LIMIT $K),
          ranked AS MATERIALIZED (
            SELECT method, vec_id,
                   CAST(row_number() OVER (PARTITION BY method
                        ORDER BY score DESC, vec_id) AS BIGINT) AS rank
            FROM (SELECT '1_exact' AS method, * FROM extop
                  UNION ALL SELECT '2_lsh', * FROM lshtop
                  UNION ALL SELECT '3_ivf', * FROM ivftop)
            UNION ALL
            SELECT '4_graph', vec_id,
                   CAST(row_number() OVER (ORDER BY sim_q DESC, vec_id) AS BIGINT)
            FROM b$JPasses
            UNION ALL
            SELECT '5_fused', vec_id,
                   CAST(row_number() OVER (ORDER BY sim_q DESC, vec_id) AS BIGINT)
            FROM (SELECT vec_id, sim_q FROM (
                    SELECT vec_id, sim_q FROM b$JPasses
                    UNION SELECT vec_id, sim_q FROM bb$JPasses)
                  ORDER BY sim_q DESC, vec_id LIMIT $K)),
          flagged AS (
            SELECT method, rank,
                   CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                        THEN 1 ELSE 0 END AS BIGINT) AS rel
            FROM ranked)
          SELECT method,
                 CAST(count(*) AS BIGINT) AS n_returned,
                 CAST(sum(rel) AS BIGINT) AS hits,
                 CAST(1000 * sum(rel) // $K AS BIGINT) AS recall_pm,
                 CAST(coalesce(1000000 // min(CASE WHEN rel = 1 THEN rank END), 0)
                      AS BIGINT) AS mrr_q,
                 CAST(1000 * sum(CASE WHEN rank <= 4 AND rel = 1 THEN 1 ELSE 0 END) // 4
                      AS BIGINT) AS p_at_4_pm
          FROM flagged GROUP BY 1""",
    "x23_embedding_outliers" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
          vq AS (SELECT vec_id, label, CAST(i AS BIGINT) AS pos,
                        CAST(floor(e[i] * 1024) AS BIGINT) AS q
                 FROM v, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          cent AS (SELECT label, pos,
                          (sum(q + 4096) // count(*)) - 4096 AS cq
                   FROM vq GROUP BY 1, 2),
          d2 AS (SELECT vec_id, vq.label,
                        sum((q - cq) * (q - cq)) AS d2q
                 FROM vq JOIN cent ON cent.label = vq.label AND cent.pos = vq.pos
                 GROUP BY 1, 2),
          st AS (SELECT label, count(*) AS n, sum(d2q) AS sm,
                        sum(d2q * d2q) AS ss
                 FROM d2 GROUP BY 1)
          SELECT d2.vec_id, CAST(d2.label AS BIGINT) AS label,
                 CAST(d2q AS BIGINT) AS d2q,
                 CAST((n * d2q - sm) * (n * d2q - sm) > 9 * (n * ss - sm * sm)
                      AS INT) AS is_outlier
          FROM d2 JOIN st USING (label)""",
    "s19h_hybrid_rrf" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
          dtop AS (SELECT vec_id AS doc_id, $cosSql AS cs
                   FROM v, q ORDER BY $cosSql DESC, vec_id LIMIT 50),
          dr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY cs DESC, doc_id) AS r_dense
                 FROM dtop),
          st AS (SELECT count(*) AS nn,
                        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ll
                 FROM documents),
          tf AS (SELECT doc_id, len, w, count(*) AS tf FROM (
                   SELECT doc_id,
                          CAST(len(string_split(text, ' '))  AS BIGINT) AS len,
                          unnest(string_split(text, ' ')) AS w
                   FROM documents)
                 WHERE w IN ('spark', 'vector', 'hash')
                 GROUP BY 1, 2, 3),
          dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT doc_id,
                        10000 * (nn - df + 1) // (df + 1) AS idf_q,
                        2200000 * tf // (1000 * tf + 12 * (25 + 75 * len * nn // ll)) AS tfn_q
                 FROM tf JOIN dfr USING (w) CROSS JOIN st),
          bm AS (SELECT doc_id, sum(idf_q * tfn_q // 1000) AS score_q
                 FROM sc GROUP BY 1),
          stop AS (SELECT doc_id, score_q FROM bm
                   ORDER BY score_q DESC, doc_id LIMIT 50),
          sr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY score_q DESC, doc_id) AS r_sparse
                 FROM stop),
          fused AS (
            SELECT coalesce(dr.doc_id, sr.doc_id) AS doc_id,
                   coalesce(1000000 // (60 + r_dense), 0) +
                   coalesce(1000000 // (60 + r_sparse), 0) AS rrf_q,
                   coalesce(r_dense, 0) AS dense_rank,
                   coalesce(r_sparse, 0) AS sparse_rank
            FROM dr FULL OUTER JOIN sr ON dr.doc_id = sr.doc_id)
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(rrf_q AS BIGINT) AS rrf_q,
                 CAST(dense_rank AS BIGINT) AS dense_rank,
                 CAST(sparse_rank AS BIGINT) AS sparse_rank
          FROM fused
          ORDER BY rrf_q DESC, doc_id LIMIT 10""",
    "s19i_ivfadc_rerank" ->
      s"""WITH $ivfadcPrefixSql,
          topr AS (SELECT vec_id, adc_q,
                          row_number() OVER (ORDER BY adc_q, vec_id) AS adc_rank
                   FROM cand ORDER BY adc_q, vec_id LIMIT ${4 * K}),
          rr AS (SELECT t.vec_id, t.adc_rank, $cosSql AS sc
                 FROM topr t JOIN v ON v.vec_id = t.vec_id,
                      (SELECT e AS qe FROM v WHERE vec_id = 0) q),
          rr2 AS (SELECT vec_id, adc_rank, sc,
                         row_number() OVER (ORDER BY sc DESC, vec_id) AS exact_rank
                  FROM rr),
          exact AS (SELECT vec_id FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) q
                    ORDER BY $cosSql DESC, vec_id LIMIT $K),
          flags AS (SELECT rr2.*,
                           CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                                THEN 1 ELSE 0 END AS BIGINT) AS hit
                    FROM rr2),
          cens AS (SELECT sum(CASE WHEN exact_rank <= $K THEN hit END) AS hits_rerank,
                          sum(CASE WHEN adc_rank <= $K THEN hit END) AS hits_adc,
                          count(*) AS n_reranked
                   FROM flags)
          SELECT vec_id, round(sc, 4) AS score,
                 CAST(adc_rank AS BIGINT) AS adc_rank,
                 CAST(exact_rank AS BIGINT) AS exact_rank,
                 hit AS in_exact_topk,
                 CAST(1000 * hits_rerank // $K AS BIGINT) AS recall_rerank_pm,
                 CAST(1000 * hits_adc // $K AS BIGINT) AS recall_adc_pm,
                 CAST(n_reranked AS BIGINT) AS n_reranked
          FROM flags, cens WHERE exact_rank <= $K""",
    "s19g_ivfadc" ->
      s"""WITH $ivfadcPrefixSql,
          exact AS (SELECT vec_id FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) q
                    ORDER BY $cosSql DESC, vec_id LIMIT $K),
          topk AS (SELECT vec_id, adc_q FROM cand ORDER BY adc_q, vec_id LIMIT $K)
          SELECT t.vec_id, CAST(t.adc_q AS BIGINT) AS adc_q,
                 CAST(CASE WHEN t.vec_id IN (SELECT vec_id FROM exact)
                      THEN 1 ELSE 0 END AS BIGINT) AS in_exact_topk,
                 CAST((SELECT count(*) FROM probe) AS BIGINT) AS cells_probed,
                 CAST((SELECT count(*) FROM cdist) AS BIGINT) AS cells_total,
                 CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
                 CAST((SELECT count(*) FROM v) AS BIGINT) AS n_corpus
          FROM topk t""",
    "s19e_pq_encode" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          vq AS (SELECT vec_id, CAST((i - 1) // ${Dim / 4} AS BIGINT) AS sub,
                        CAST(i - 1 AS BIGINT) AS pos,
                        CAST(floor(e[i] * 1024) AS BIGINT) AS q
                 FROM v, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          seeds AS (SELECT vec_id AS seed, sub, pos, q AS cq FROM vq WHERE vec_id < 8),
          d1 AS (SELECT vq.vec_id, vq.sub, seeds.seed,
                        sum((q - cq) * (q - cq)) AS d2
                 FROM vq JOIN seeds USING (sub, pos) GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, sub, seed AS cluster,
                        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, seed) AS rn
                 FROM d1),
          m1 AS (SELECT vec_id, sub, cluster FROM a1 WHERE rn = 1),
          cents AS (SELECT vq.sub, m1.cluster, vq.pos,
                           CAST((sum(q + 1024) // count(*)) - 1024 AS BIGINT) AS mean_q
                    FROM vq JOIN m1 USING (vec_id, sub) GROUP BY 1, 2, 3),
          d2s AS (SELECT vq.vec_id, vq.sub, cents.cluster,
                         sum((q - mean_q) * (q - mean_q)) AS d2
                  FROM vq JOIN cents USING (sub, pos) GROUP BY 1, 2, 3),
          a2 AS (SELECT vec_id, sub, cluster AS code, d2,
                        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cluster) AS rn
                 FROM d2s),
          m2 AS (SELECT vec_id, sub, code, d2 FROM a2 WHERE rn = 1)
          SELECT sub, CAST(code AS BIGINT) AS code,
                 CAST(count(*) AS BIGINT) AS n_vectors,
                 CAST(sum(d2) AS BIGINT) AS sse_q
          FROM m2 GROUP BY 1, 2""",
    "s19f_pq_adc" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          vq AS (SELECT vec_id, CAST((i - 1) // ${Dim / 4} AS BIGINT) AS sub,
                        CAST(i - 1 AS BIGINT) AS pos,
                        CAST(floor(e[i] * 1024) AS BIGINT) AS q
                 FROM v, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          seeds AS (SELECT vec_id AS seed, sub, pos, q AS cq FROM vq WHERE vec_id < 8),
          d1 AS (SELECT vq.vec_id, vq.sub, seeds.seed,
                        sum((q - cq) * (q - cq)) AS d2
                 FROM vq JOIN seeds USING (sub, pos) GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, sub, seed AS cluster,
                        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, seed) AS rn
                 FROM d1),
          m1 AS (SELECT vec_id, sub, cluster FROM a1 WHERE rn = 1),
          cents AS (SELECT vq.sub, m1.cluster, vq.pos,
                           CAST((sum(q + 1024) // count(*)) - 1024 AS BIGINT) AS mean_q
                    FROM vq JOIN m1 USING (vec_id, sub) GROUP BY 1, 2, 3),
          d2s AS (SELECT vq.vec_id, vq.sub, cents.cluster,
                         sum((q - mean_q) * (q - mean_q)) AS d2
                  FROM vq JOIN cents USING (sub, pos) GROUP BY 1, 2, 3),
          a2 AS (SELECT vec_id, sub, cluster AS code, d2,
                        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cluster) AS rn
                 FROM d2s),
          m2 AS (SELECT vec_id, sub, code, d2 FROM a2 WHERE rn = 1),
          lut AS (SELECT vq.sub, cents.cluster AS code,
                         sum((q - mean_q) * (q - mean_q)) AS qd2
                  FROM vq JOIN cents USING (sub, pos)
                  WHERE vq.vec_id = 0 GROUP BY 1, 2),
          adc AS (SELECT m2.vec_id, sum(qd2) AS adc_q
                  FROM m2 JOIN lut ON m2.sub = lut.sub AND m2.code = lut.code
                  GROUP BY 1)
          SELECT vec_id, CAST(adc_q AS BIGINT) AS adc_q
          FROM adc ORDER BY adc_q, vec_id LIMIT $K""",
    "s27_ivf_train" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          vq AS (SELECT vec_id, CAST(i AS BIGINT) AS pos,
                        CAST(floor(e[i] * 1024) AS BIGINT) AS q
                 FROM v, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
          seeds AS (SELECT vec_id AS seed, pos, q AS cq FROM vq WHERE vec_id < 8),
          dist AS (SELECT vq.vec_id, seeds.seed,
                          sum((q - cq) * (q - cq)) AS d2
                   FROM vq JOIN seeds USING (pos) GROUP BY 1, 2),
          a AS (SELECT vec_id, seed AS cluster,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d2, seed) AS rn
                FROM dist),
          m AS (SELECT vec_id, cluster FROM a WHERE rn = 1)
          SELECT cluster, pos, CAST(count(*) AS BIGINT) AS n_members,
                 CAST((sum(q + 1024) // count(*)) - 1024 AS BIGINT) AS mean_q
          FROM vq JOIN m USING (vec_id)
          GROUP BY 1, 2""",
    "s24_scalar_quantize" ->
      """WITH w0 AS (SELECT vec_id,
                unnest(list_transform(range(1, len(embedding) + 1),
                       i -> struct_pack(dim := i, v := embedding[i]))) AS s
         FROM embeddings),
         w AS (SELECT vec_id, CAST(s.dim AS BIGINT) AS dim, CAST(s.v AS DOUBLE) AS v FROM w0),
         st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM w GROUP BY 1),
         c AS (SELECT vec_id, dim, v, mn, mx,
                      CAST(CASE WHEN mx = mn THEN 0
                                ELSE floor((255.0 * (v - mn)) / (mx - mn)) END AS BIGINT) AS code
               FROM w JOIN st USING (dim))
         SELECT vec_id, dim, code,
                CAST(floor(1000000000.0 * abs(v - (mn + (CAST(code AS DOUBLE) * (mx - mn)) / 255.0))) AS BIGINT) AS err_q
         FROM c""",
    "s19_knn_cosine" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
              q AS (SELECT e AS qe FROM v WHERE vec_id = 0)
          SELECT vec_id, round($cosSql, 4) AS score
          FROM v, q
          ORDER BY $cosSql DESC, vec_id
          LIMIT $K""",
    "s19b_knn_bucketed" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, $bucketKeySql AS bk
                     FROM embeddings),
              q AS (SELECT e AS qe, bk AS qbk FROM v WHERE vec_id = 0)
          SELECT vec_id, round($cosSql, 4) AS score
          FROM v, q WHERE bk = qbk
          ORDER BY $cosSql DESC, vec_id
          LIMIT $K""",
    "s19c_knn_ivf" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
              dims AS (SELECT label, i AS pos, e[i] AS val
                       FROM v, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
              cent AS (SELECT label, pos, avg(val) AS c FROM dims GROUP BY 1, 2),
              q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
              qd AS (SELECT i AS pos, qe[i] AS q
                     FROM q, (SELECT unnest(range(1, ${Dim + 1})) AS i)),
              dist AS (SELECT label, sum((c - q) * (c - q)) AS d2
                       FROM cent JOIN qd USING (pos) GROUP BY label),
              probe AS (SELECT label FROM dist ORDER BY d2, label LIMIT 1)
          SELECT vec_id, round($cosSql, 4) AS score
          FROM v, q WHERE v.label = (SELECT label FROM probe)
          ORDER BY $cosSql DESC, vec_id
          LIMIT $K""",
    "s19d_knn_filtered" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
              q AS (SELECT e AS qe FROM v WHERE vec_id = 0)
          SELECT vec_id, round($cosSql, 4) AS score
          FROM v, q WHERE label IN (2, 5, 7)
          ORDER BY $cosSql DESC, vec_id
          LIMIT $K""",
    "s17_vector_upsert" ->
      """SELECT doc_id, kept_vec_id, label FROM (
           SELECT vec_id % 300 AS doc_id, vec_id AS kept_vec_id, label,
                  row_number() OVER (PARTITION BY vec_id % 300 ORDER BY vec_id DESC) AS rn
           FROM embeddings) WHERE rn = 1""",
    "s18_dedup_aware_append" ->
      """SELECT vec_id, label,
                CASE WHEN vec_id % 2 = 0 THEN 'existing' ELSE 'appended' END AS src
         FROM embeddings""",
    "s20_vector_dump" ->
      """SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
                round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm
         FROM embeddings""",
    "g3_embed_stub" ->
      """SELECT doc_id,
                array_to_string(list_transform(generate_series(0, 7),
                  j -> CAST(CAST(round(((('0x' || substr(md5(text || '_' || CAST(j AS VARCHAR)), 1, 6))::BIGINT / 16777216.0) - 0.5) * 10000, 0) AS BIGINT) AS VARCHAR)),
                  ',') AS emb_q
         FROM documents"""
  )
}
