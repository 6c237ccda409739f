package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.functions.{VectorFunctions => VF}

/** Near-duplicate detection — the flagship LLM-training-pipeline operators
  * the reference's corpus build implies (its ChromaDB ingest dedups exact ids,
  * utils/chroma_helpers.py:111-124; at 100 TB the required form is MinHash/LSH
  * banding, SimHash, and embedding-cosine near-dup, built here Spark-first).
  *
  * All hashes are md5-derived so the DuckDB oracle regenerates every
  * signature bit-identically — the only randomness is the seed strings.
  *
  * Scale notes (100 TB):
  *   - MinHash/LSH (`d1`/`d2`): per-row signature computation is a narrow
  *     codegen'd projection (no shuffle); candidate generation is an
  *     equi-join on the band key — cost ∝ Σ bucket², never all-pairs. The
  *     band-key shuffle carries (doc_id, 32-byte key) only. Verification
  *     joins shingle sets back for candidates only (a tiny fraction of rows).
  *   - SimHash (`d3`): one pass, per-row arithmetic over the token array,
  *     zero shuffle — each doc gets a 16-bit fingerprint; equal fingerprints
  *     are near-dup buckets.
  *   - n-gram Jaccard (`d4`): exact verification primitive, evaluated here on
  *     a linear pair set (consecutive ids), not all-pairs.
  *   - Embedding near-dup (`d5`): LSH sign-bit buckets (shared with
  *     s19b_knn_bucketed) bound the pair join to within-bucket candidates.
  *
  * Test-corpus note: the synthetic `documents` table has no planted
  * duplicates, so d1/d2 run against `corpus` = documents ∪ a perturbed copy
  * (planted at −id−1 — negation keeps copy ids disjoint from any
  * non-negative corpus id at any corpus size, unlike the former fixed
  * +100000 offset; two appended tokens) — near-dup pairs exist by
  * construction and every derived pair is deterministic.
  */
object Dedup extends QueryModule {

  // Signature machinery shared with the stream surface lives in
  // graft.operators.MinHashOps (one definition for batch corpus builds and
  // incremental ingest); call it as MH.*. The constant aliases keep the
  // oracle SQL's constants in one import.
  import graft.operators.{MinHashOps => MH}
  private val ShingleN  = MH.ShingleN
  private val NumHashes = MH.NumHashes
  private val BandR     = MH.BandR
  private val NumBands  = MH.NumBands
  private val ModP      = MH.ModP

  private def words(c: Column): Column = split(c, " ")

  /** documents ∪ perturbed copy — the dedup test corpus (see scaladoc). */
  private def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
    docs
      .select(col("doc_id"), col("text"))
      .unionAll(
        docs.select(
          (-col("doc_id") - 1).as("doc_id"),
          concat(col("text"), lit(" zz tail")).as("text")
        )
      )
  }

  /** LSH candidate pairs from a band-key table (d1's join body). */
  private def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(
        b,
        col("a.bkey") === col("b.bkey") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
  }

  /** D1 — MinHash + LSH banding candidate pairs. The band-key table is
    * materialized once ([[graft.Lineage.truncate]] — localCheckpoint by
    * default, reliable checkpoint under `spark.graft.checkpointDir`; the
    * single-job analog of persisting the signature table, which is what a
    * 100 TB pipeline does) so the self-join's two sides don't each
    * recompute the signatures.
    */
  private def d1_minhash_candidates(s: SparkSession, d: String): DataFrame =
    candidatePairs(graft.Lineage.truncate(MH.bandKeys(corpus(s, d))))

  /** D15 — LSH banding-parameter AUDIT: for every (rows-per-band, bands)
    * split of the 12-hash signature — (1,12) loosest … (12,1) strictest —
    * the candidate-join cost the configuration would commit to, measured
    * from BUCKET OCCUPANCY ALONE: raw_pairs = Σ C(occupancy, 2) is
    * exactly the equi-join's output size, so the audit prices every
    * banding BEFORE paying for any pair materialization (the tuning read
    * a dedup run does before launching d1 at 100 TB; cf. the S-curve
    * P(candidate) = 1−(1−j^r)^b this trades recall against). One shared
    * truncated signature table; per config one narrow projection + two
    * hash aggregates — no pair join anywhere.
    */
  private def d15_band_tuning(s: SparkSession, d: String): DataFrame = {
    val sig = graft.Lineage.truncate(MH.signatures(corpus(s, d)))
    Seq(1, 2, 3, 4, 6, 12)
      .map { r =>
        val nb = MH.NumHashes / r
        val keys = (0 until nb).map { b =>
          concat_ws("|", (0 until r).map(i => col(s"m${b * r + i}").cast("string")): _*)
        }
        sig
          .select(posexplode(array(keys: _*)))
          .select(col("pos").as("band"), col("col").as("bkey"))
          .groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("n"))
          .agg(
            sum(expr("n * (n - 1) div 2")).as("rp"),
            sum(when(col("n") > 1, 1L).otherwise(0L)).as("hot"),
            max(col("n")).as("mx")
          )
          .select(
            lit(r.toLong).as("rows_per_band"),
            lit(nb.toLong).as("n_bands"),
            coalesce(col("rp"), lit(0L)).as("raw_pairs"),
            col("hot").as("n_hot_buckets"),
            col("mx").as("max_bucket")
          )
      }
      .reduce(_ unionByName _)
  }

  /** D2 — exact-Jaccard verification of the MinHash candidates (τ = 0.8).
    * The shingle-set table is materialized once (joined twice below, s1/s2
    * sides); the candidate table brings its own materialization via d1.
    * Both are plain eager stages — any job-overlap scheduling belongs to
    * the harness, not the query definition.
    */
  /** d2's verified pair set feeds d7's clustering, d11's survivor pick and
    * d14's leak audit on top of standing alone — four queries, one
    * deterministic pair table. Memoized per (session, dataset) like the
    * graph substrates (GraphQueries.coSupplyMemo): the first consumer pays
    * for signature + verify, the rest start from the materialized
    * pair-count-sized frame.
    */
  private val d2PairsMemo = graft.Memo.newMap()

  private def d2_verified_pairs(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(d2PairsMemo, s, d)(d2VerifiedPairsCompute(s, d))

  private def d2VerifiedPairsCompute(s: SparkSession, d: String): DataFrame = {
    val sh = graft.Lineage.truncate(
      corpus(s, d).select(col("doc_id"), MH.shingles(col("text")).as("sh"))
    )
    val cand = d1_minhash_candidates(s, d)
    val j = cand
      .join(sh.select(col("doc_id").as("doc1"), col("sh").as("s1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("sh").as("s2")), "doc2")
      .withColumn(
        "inter",
        call_function("graft_sorted_intersect_size", col("s1"), col("s2")).cast("double")
      )
      .withColumn(
        "jac",
        col("inter") / (size(col("s1")) + size(col("s2")) - col("inter"))
      )
    j.filter(col("jac") >= 0.8)
      .select(col("doc1"), col("doc2"), round(col("jac"), 4).as("jaccard"))
  }

  /** D3 — 16-bit SimHash fingerprint per document (token-frequency weighted:
    * each occurrence votes ±1 per bit; bit = sign of the vote sum). One md5
    * per word; the 16 bit-votes are bit extractions of that single hash —
    * the standard SimHash construction.
    */
  private def d3_simhash(s: SparkSession, d: String): DataFrame = {
    val wx = table(s, d, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .select(col("doc_id"), MH.hash24(col("w")).as("x"))
    val votes = (0 until 16).map(b =>
      sum(shiftright(col("x"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b")
    )
    wx.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(
        col("doc_id"),
        concat((0 until 16).map(b =>
          when(col(s"v$b") > 0, lit("1")).otherwise(lit("0"))
        ): _*).as("simhash")
      )
  }

  /** D4 — exact character-4-gram Jaccard over a linear pair set (consecutive
    * ids) — the verification primitive without an all-pairs join. Each
    * side's set size is computed once per document BEFORE the pair join, not
    * once per pair. (Hashing grams to ints first was measured slower at this
    * gram size: the md5 per gram costs more than the string intersect saves.)
    */
  private def d4_ngram_jaccard(s: SparkSession, d: String): DataFrame = {
    val grams = call_function("graft_char_ngrams", col("text"), lit(4))
    val g = table(s, d, "documents")
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"), col("g"), size(col("g")).cast("double").as("n"))
    val a = g.select(col("doc_id").as("doc1"), col("g").as("g1"), col("n").as("n1"))
    val b = g.select(col("doc_id").as("doc2"), col("g").as("g2"), col("n").as("n2"))
    a.join(b, col("doc2") === col("doc1") + 1)
      .withColumn(
        "inter",
        call_function("graft_sorted_intersect_size", col("g1"), col("g2")).cast("double")
      )
      .select(
        col("doc1"),
        col("doc2"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 4).as("jaccard")
      )
  }

  /** D7 — dedup cluster assignment: the LAST stage of the MinHash pipeline.
    * Verified near-dup pairs (d2) form an undirected graph over the corpus;
    * connected components assign every document a cluster id (min doc id),
    * and the canonical representative per cluster (the row a dedup'd
    * training set keeps) is the one whose id IS the cluster label. Runs the
    * distributed CC from [[graft.graph.GraphOps]] — the same code path that
    * holds when the pair graph has billions of edges — never a driver-side
    * union-find.
    */
  private val d7ClustersMemo = graft.Memo.newMap()

  /** Memoized like d2 (consumers: d7 itself, d11, d14) — the CC label
    * table is corpus-row-sized but the iterative pointer-jumping that
    * produces it is the cost worth paying once.
    */
  private def d7_dedup_clusters(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(d7ClustersMemo, s, d)(d7DedupClustersCompute(s, d))

  private def d7DedupClustersCompute(s: SparkSession, d: String): DataFrame = {
    val pairs = d2_verified_pairs(s, d).select(col("doc1").as("src"), col("doc2").as("dst"))
    val ids   = corpus(s, d).select(col("doc_id").as("id"))
    graft.graph.GraphOps
      .connectedComponents(ids, pairs)
      .select(
        col("id").cast("long").as("doc_id"),
        col("comp").cast("long").as("cluster"),
        (col("id") === col("comp")).as("is_canonical")
      )
  }

  /** D11 — cluster survivor selection: the dedup pipeline's actual OUTPUT
    * artifact. d7 labels clusters; this picks the row a training set KEEPS
    * per cluster — by QUALITY policy (longest text, ties by lowest id),
    * not by arbitrary id, which is how production dedup chooses among
    * near-duplicates (keep the most complete variant, drop truncations) —
    * plus the per-cluster accounting (members, dropped) an audit trail
    * requires. One extra shuffle on the cluster key; the rank and the
    * member count share its partitioning. Singleton clusters pass through
    * as their own survivor with zero drops — dedup must never lose
    * non-duplicated rows.
    */
  private def d11_cluster_survivors(s: SparkSession, d: String): DataFrame = {
    val cl = d7_dedup_clusters(s, d).select(col("doc_id"), col("cluster"))
    val len = corpus(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      length(col("text")).cast("long").as("tlen")
    )
    // Survivor selection as ONE hash aggregate, not a window: max_by with
    // the (tlen, -doc_id) tiebreak key picks the same row row_number over
    // (tlen desc, doc_id asc) would, but partial aggregation collapses each
    // cluster to one row MAP-SIDE — the shuffle carries ~|clusters| rows
    // instead of every (doc, cluster, len) row into a per-cluster sort.
    // At 100 TB that's the difference between shuffling the corpus and
    // shuffling the cluster directory.
    cl.join(len, "doc_id")
      .groupBy(col("cluster"))
      .agg(
        max_by(
          struct(col("doc_id"), col("tlen")),
          struct(col("tlen"), (-col("doc_id")).as("neg_id"))
        ).as("kept"),
        count(lit(1)).as("n_members")
      )
      .select(
        col("cluster"),
        col("kept.doc_id").as("kept_doc_id"),
        col("kept.tlen").as("kept_len"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped")
      )
  }

  /** D6 — benchmark-contamination check: flag training documents sharing
    * any 5-word shingle with a held-out benchmark set (docs 1-10) — the
    * eval-leakage gate every serious training-data pipeline runs. Planted
    * contamination (prefixed copies of benchmark docs at −id−1 — negation
    * keeps planted ids disjoint from ANY non-negative corpus id, however
    * large the corpus; a fixed +200000 offset collided once real ids
    * crossed it, r10 advice) guarantees the detector has real work. Scale shape: the benchmark
    * gram set is tiny → broadcast; the train side is one narrow
    * explode + semi join — never an all-pairs document comparison.
    */
  private def d6_contamination(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
    val benchGrams = docs
      .filter(col("doc_id") <= 10)
      .select(explode(call_function("graft_word_shingles", col("text"), lit(5))).as("g"))
      .distinct()
    val train = docs
      .filter(col("doc_id") > 10)
      .select(col("doc_id"), col("text"))
      .unionAll(
        docs
          .filter(col("doc_id") <= 5)
          .select(
            (-col("doc_id") - 1).as("doc_id"),
            concat(lit("prefix "), col("text")).as("text")
          )
      )
    train
      .select(col("doc_id"), explode(call_function("graft_word_shingles", col("text"), lit(5))).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id"))
      .distinct()
  }

  /** D19 — NORMALIZED benchmark decontamination (r12 verdict #3; the
    * production form of d6's raw 5-gram overlap): real decontamination —
    * GPT-3 appendix C, PaLM §C — NORMALIZES before matching (lowercase,
    * punctuation/whitespace collapse) so cased or re-punctuated copies of
    * benchmark text still flag, and uses LONGER grams (13) so natural
    * short-gram collisions don't: on this corpus's ~30-word vocabulary,
    * organic 5-gram collisions are expected (the d6 rows prove it) while
    * an organic 13-gram collision is ~30⁻¹³ — only real contamination
    * matches. Normalization REUSES [[TF.cleanText]] (the engine's ftfy
    * pipeline — identity on this ASCII corpus, the F1-oracle precondition
    * TextFunctionsSpec enforces) followed by lowercase + one
    * non-alphanumeric collapse, so engine and oracle share the pipeline.
    *
    * Planted contaminants: each benchmark doc ≤ 5 re-enters the train
    * side at −doc_id−1 as its UPPERCASED, comma-repunctuated copy — zero
    * raw 5-gram overlap (d6-blind, proven by n_raw5_planted = 0 in the
    * output) but full normalized 13-gram overlap (n_norm13_planted = 1
    * per benchmark row ≤ 5). Output: the per-benchmark census — for each
    * benchmark doc, distinct contaminated train docs under the normalized
    * 13-gram rule and under the raw 5-gram rule, each split by planted.
    *
    * Scale shape (the GPT-3 discipline): benchmark suites are tiny vs the
    * corpus, so the bench gram set is a BROADCAST; the train side is one
    * explode + broadcast equi-join on the gram key + a (doc, bench)
    * distinct — never a doc×doc join, and the corpus scan happens once
    * per gram rule.
    */
  private def d19_normalized_decontamination(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    def norm(c: Column): Column =
      trim(regexp_replace(lower(TF.cleanText(c)), "[^a-z0-9]+", " "))
    val docs  = table(s, d, "documents")
    val bench = docs.filter(col("doc_id") <= 10)
    val train = docs
      .filter(col("doc_id") > 10)
      .select(col("doc_id"), col("text"))
      .unionAll(
        bench
          .filter(col("doc_id") <= 5)
          .select(
            (-col("doc_id") - 1).as("doc_id"),
            upper(regexp_replace(col("text"), " ", ", ")).as("text")
          )
      )
    def hits(expr13: Column => Column, n: Int, tag: String): DataFrame = {
      val bg = bench
        .select(
          col("doc_id").as("bid"),
          explode(call_function("graft_word_shingles", expr13(col("text")), lit(n))).as("g")
        )
        .distinct()
      train
        .select(
          col("doc_id"),
          explode(call_function("graft_word_shingles", expr13(col("text")), lit(n))).as("g")
        )
        .join(broadcast(bg), Seq("g"))
        .select(col("doc_id"), col("bid"))
        .distinct()
        .withColumn("w", lit(tag))
    }
    val all = hits(norm, 13, "n13").unionByName(hits(c => c, 5, "r5"))
    val census = all
      .groupBy(col("bid"))
      .agg(
        countDistinct(when(col("w") === "n13", col("doc_id"))).as("n_norm13"),
        countDistinct(when(col("w") === "n13" && col("doc_id") < 0, col("doc_id")))
          .as("n_norm13_planted"),
        countDistinct(when(col("w") === "r5", col("doc_id"))).as("n_raw5"),
        countDistinct(when(col("w") === "r5" && col("doc_id") < 0, col("doc_id")))
          .as("n_raw5_planted")
      )
    bench
      .select(col("doc_id").as("bid"))
      .join(census, Seq("bid"), "left")
      .select(
        col("bid"),
        coalesce(col("n_norm13"), lit(0L)).cast("long").as("n_norm13"),
        coalesce(col("n_norm13_planted"), lit(0L)).cast("long").as("n_norm13_planted"),
        coalesce(col("n_raw5"), lit(0L)).cast("long").as("n_raw5"),
        coalesce(col("n_raw5_planted"), lit(0L)).cast("long").as("n_raw5_planted")
      )
  }

  /** D5 — embedding-cosine near-dup pairs, LSH-bucketed: pairs are generated
    * only within a sign-bit bucket (shared plane family with s19b), then
    * exact-cosine filtered.
    */
  /** Memoized (consumers: d5 itself + d12's clustering) — the bucketed
    * pair join with per-pair cosine is the dominant embedding-dedup cost;
    * the surviving pair set is small.
    */
  private val d5PairsMemo = graft.Memo.newMap()

  private def d5_embed_neardup(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(d5PairsMemo, s, d)(d5EmbedNeardupCompute(s, d))

  private def d5EmbedNeardupCompute(s: SparkSession, d: String): DataFrame = {
    val pls = VF.planes(4, 64)
    // norm precomputed per row (not per pair — the pair join would otherwise
    // recompute each side's norm candidate-count times)
    val v = table(s, d, "embeddings")
      .select(
        col("vec_id"),
        col("embedding"),
        VF.signBits(col("embedding"), pls).as("bk"),
        VF.l2norm(col("embedding")).as("nrm")
      )
    val a = v.select(col("vec_id").as("vec1"), col("embedding").as("e1"), col("bk"), col("nrm").as("n1"))
    val b = v.select(col("vec_id").as("vec2"), col("embedding").as("e2"), col("bk").as("bk2"), col("nrm").as("n2"))
    a.join(b, col("bk") === col("bk2") && col("vec1") < col("vec2"))
      .withColumn("cos", VF.dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.25)
      .select(col("vec1"), col("vec2"), round(col("cos"), 4).as("cos_sim"))
  }

  /** D12 — SEMANTIC dedup clusters: connected components over the
    * embedding-cosine near-dup pairs (d5) — the modern dedup rung textual
    * MinHash can't reach (paraphrases, translations, re-renders of the
    * same content embed close but share few shingles; SemDeDup-style
    * pipelines cluster in embedding space for exactly this reason). Same
    * distributed-CC discipline as d7: pairs only ever come from the
    * sign-bit LSH buckets, the cluster label is the min member id, and
    * singletons stay visible (a vector with no near-dup is its own
    * cluster — dropping it would misreport corpus size). Output is the
    * cluster census: label + member count.
    */
  private def d12_semantic_clusters(s: SparkSession, d: String): DataFrame = {
    val pairs = d5_embed_neardup(s, d).select(col("vec1").as("src"), col("vec2").as("dst"))
    val ids   = table(s, d, "embeddings").select(col("vec_id").as("id"))
    graft.graph.GraphOps
      .connectedComponents(ids, pairs)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("comp").cast("long").as("cluster"), col("n_members"))
  }

  /** D8 — URL-normalized exact dedup (the crawl-pipeline first pass: group
    * syntactic URL variants under one canonical key BEFORE any content
    * hashing). The messy variants are generated deterministically — four
    * syntactic spellings (mixed-case scheme/host, default port, fragment,
    * trailing-slash/empty-query noise) of one canonical URL per group of 4
    * doc_ids — then collapsed via [[graft.functions.TextFunctions.normalizeUrl]].
    * Shape: narrow projection + one groupBy on the canonical key (map-side
    * partial counts); at 100 TB this is the cheapest dedup pass there is.
    */
  private def d8_url_dedup(s: SparkSession, d: String): DataFrame = {
    val pid = expr("doc_id div 4").cast("string")
    val url = when(col("doc_id") % 4 === 0, concat(lit("HTTP://Example.COM:80/docs/"), pid, lit("/")))
      .when(col("doc_id") % 4 === 1, concat(lit("http://example.com/docs/"), pid))
      .when(
        col("doc_id") % 4 === 2,
        concat(lit("http://example.com:80/docs/"), pid, lit("#sec-"), col("doc_id").cast("string"))
      )
      .otherwise(concat(lit("http://EXAMPLE.com/docs/"), pid, lit("/?")))
    table(s, d, "documents")
      .select(col("doc_id"), url.as("url"))
      .withColumn("canonical_url", graft.functions.TextFunctions.normalizeUrl(col("url")))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("first_doc_id"), count(lit(1)).as("n_variants"))
  }

  /** D9 — entity-resolution blocking: fuzzy-match the part-name VOCABULARY
    * within edit distance 4, with candidate generation BLOCKED on (first
    * word, exact length) so the comparison set is Σ block² pairs over
    * DISTINCT names, never the n² all-pairs a row-level fuzzy join would
    * scan — the same cost discipline as d1's LSH bands, applied to edit
    * distance. Matching the vocabulary first is the load-bearing scale
    * decision: entity name dictionaries grow orders of magnitude slower
    * than row counts (64 names under 20k rows here), and the row support
    * rides along as a grouped count, so the expensive residual
    * (`levenshtein ≤ 4`; both engines implement standard unit-cost
    * Levenshtein) runs on the small frame. A row-pair formulation measured
    * 15.8s at sf0.1 where this one is sub-second — and at 100 TB the gap
    * is the difference between feasible and not.
    */
  private def d9_fuzzy_blocking(s: SparkSession, d: String): DataFrame = {
    val names = table(s, d, "part")
      .groupBy(col("p_name").as("nm"))
      .agg(count(lit(1)).as("support"))
      .select(
        col("nm"),
        col("support"),
        element_at(split(col("nm"), " "), 1).as("blk_word"),
        length(col("nm")).as("blk_len")
      )
    val a = names.select(
      col("nm").as("a_name"), col("support").as("a_rows"), col("blk_word"), col("blk_len"))
    val b = names.select(
      col("nm").as("b_name"), col("support").as("b_rows"), col("blk_word"), col("blk_len"))
    a.join(b, Seq("blk_word", "blk_len"))
      .filter(col("a_name") < col("b_name"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= 4)
      .select(col("a_name"), col("b_name"), col("dist"), col("a_rows"), col("b_rows"))
  }

  /** D10 — MinHash estimator calibration: for every LSH candidate pair,
    * the number of agreeing signature components (the unbiased Jaccard
    * estimator's numerator, n_match/12 ≈ J) NEXT TO the exact quantized
    * Jaccard over the true shingle sets. This is the QA query a dedup
    * pipeline runs when tuning bands/rows: it makes the estimator's error
    * observable per pair instead of trusting the theory. Cost: the
    * signature table is lineage-truncated once and joined twice (24
    * integers per doc), and the exact check runs only on the (already
    * banded, bounded) candidate set — the d2 discipline; nothing touches
    * all pairs. Integer end-to-end, so cross-engine exact.
    */
  private def d10_minhash_estimate(s: SparkSession, d: String): DataFrame = {
    val c   = corpus(s, d)
    val sig = graft.Lineage.truncate(MH.signatures(c))
    // candidates derive from the SAME truncated signature table (band
    // keys are a narrow projection of it) — one signature build total
    val cand = candidatePairs(MH.bandKeysFromSig(sig))
    val sh = graft.Lineage.truncate(
      c.select(col("doc_id"), MH.shingles(col("text")).as("sh"))
    )
    val a = sig.select(
      col("doc_id").as("doc1") +: (0 until NumHashes).map(h => col(s"m$h").as(s"a$h")): _*
    )
    val b = sig.select(
      col("doc_id").as("doc2") +: (0 until NumHashes).map(h => col(s"m$h").as(s"b$h")): _*
    )
    val nMatch = (0 until NumHashes)
      .map(h => when(col(s"a$h") === col(s"b$h"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(a, "doc1")
      .join(b, "doc2")
      .withColumn("n_match", nMatch)
      .join(sh.select(col("doc_id").as("doc1"), col("sh").as("s1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("sh").as("s2")), "doc2")
      .withColumn(
        "inter",
        call_function("graft_sorted_intersect_size", col("s1"), col("s2"))
      )
      .select(
        col("doc1"),
        col("doc2"),
        col("n_match"),
        expr("(CAST(1000000 AS BIGINT) * inter) div (size(s1) + size(s2) - inter)")
          .as("jaccard_q")
      )
  }

  /** D13 — INCREMENTAL near-dup: a new batch probed against the indexed
    * corpus, the shape a production ingest actually runs (daily crawl vs
    * persisted signature store) — d1/d2 deduplicate a corpus against
    * itself; this is the asymmetric face. A deterministic hash splits the
    * corpus 80/20 into index/batch; band keys are built ONCE (one
    * truncated table standing in for the persisted index), the candidate
    * join is batch-side × index-side only (cost ∝ batch size × bucket
    * occupancy, independent of corpus size), and every batch document gets
    * a verdict row — zero-candidate docs report 'new', never vanish
    * (m4's no-silent-row-loss contract).
    */
  /** D20 — b-bit minwise hashing audit (Li–König 2010, the signature-
    * compression result production dedup stores rest on: keep only the
    * lowest b bits of each minhash component — at b = 2 the 12-component
    * signature shrinks from 96 to 3 bytes, 32×, which at 100 TB is the
    * difference between a signature store that fits in memory and one
    * that doesn't — and correct the estimator for the collisions the
    * dropped bits introduce: E[agree_b] = 1/2^b + (1 − 1/2^b)·J, so
    * Ĵ_b = (2^b·A − n) div ((2^b − 1)·n), clamped at 0): for every d1
    * banding candidate pair, the full-signature agreement next to the
    * 2-bit agreement and both quantized Jaccard estimates — d10's
    * calibration discipline applied to the compressed form, so the table
    * shows directly what 32× compression costs in estimator noise (the
    * clamp makes the divergent-negative region agree cross-engine even
    * though Spark div truncates and DuckDB // floors: any negative
    * quotient clamps to 0 in both).
    *
    * Scale shape: identical to d10 — one truncated signature build, band
    * keys as a projection of it, candidates only via the banded equi-join
    * (never all pairs), then two 12-term codegen'd comparison sums; no
    * shingle-set join at all (the POINT of b-bit storage: the verify pass
    * reads 3-byte rows).
    */
  private def d20_bbit_minhash(s: SparkSession, d: String): DataFrame = {
    val c    = corpus(s, d)
    val sig  = graft.Lineage.truncate(MH.signatures(c))
    val cand = candidatePairs(MH.bandKeysFromSig(sig))
    val a = sig.select(
      col("doc_id").as("doc1") +: (0 until NumHashes).map(h => col(s"m$h").as(s"a$h")): _*
    )
    val b = sig.select(
      col("doc_id").as("doc2") +: (0 until NumHashes).map(h => col(s"m$h").as(s"b$h")): _*
    )
    val nFull = (0 until NumHashes)
      .map(h => when(col(s"a$h") === col(s"b$h"), 1L).otherwise(0L))
      .reduce(_ + _)
    val nB2 = (0 until NumHashes)
      .map(h => when(col(s"a$h") % 4 === col(s"b$h") % 4, 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(a, "doc1")
      .join(b, "doc2")
      .withColumn("agree_full", nFull)
      .withColumn("agree_b2", nB2)
      .select(
        col("doc1"),
        col("doc2"),
        col("agree_full"),
        col("agree_b2"),
        expr(s"1000 * agree_full div $NumHashes").as("j_full_pm"),
        expr(s"greatest(0, 1000 * (4 * agree_b2 - $NumHashes) div (3 * $NumHashes))")
          .cast("long")
          .as("j_b2_pm")
      )
  }

  private def d13_incremental_neardup(s: SparkSession, d: String): DataFrame = {
    def isBatch(c: Column): Column =
      (conv(substring(md5(concat(c.cast("string"), lit("|inc"))), 1, 6), 16, 10)
        .cast("long") % 10) >= 8
    val all   = corpus(s, d)
    val bands = graft.Lineage.truncate(MH.bandKeys(all).withColumn("is_batch", isBatch(col("doc_id"))))
    val cand = bands
      .filter(col("is_batch"))
      .as("a")
      .join(
        bands.filter(!col("is_batch")).as("b"),
        col("a.bkey") === col("b.bkey") && col("a.band") === col("b.band")
      )
      .select(col("a.doc_id").as("bid"), col("b.doc_id").as("iid"))
      .distinct()
    val sh = graft.Lineage.truncate(
      all.select(col("doc_id"), MH.shingles(col("text")).as("sh"))
    )
    val verified = cand
      .join(sh.select(col("doc_id").as("bid"), col("sh").as("s1")), "bid")
      .join(sh.select(col("doc_id").as("iid"), col("sh").as("s2")), "iid")
      .withColumn(
        "inter",
        call_function("graft_sorted_intersect_size", col("s1"), col("s2")).cast("double")
      )
      .withColumn("jac", col("inter") / (size(col("s1")) + size(col("s2")) - col("inter")))
    val perBatch = verified
      .groupBy("bid")
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= 0.8, 1L).otherwise(0L)).as("n_neardup")
      )
    all
      .filter(isBatch(col("doc_id")))
      .select(col("doc_id").as("bid"))
      .join(perBatch, Seq("bid"), "left")
      .na.fill(0L, Seq("n_candidates", "n_neardup"))
      .select(
        col("bid").as("doc_id"),
        col("n_candidates"),
        col("n_neardup"),
        when(col("n_neardup") > 0, "dup").otherwise("new").as("verdict")
      )
  }

  /** D14 — dedup-consistent train/test split: every d7 near-dup cluster is
    * assigned WHOLLY to one split by hashing its cluster label (the
    * component's minimum doc_id), so no verified near-duplicate pair ever
    * straddles the train/test boundary — the contamination channel x5's
    * i.i.d. row-hash split leaves open (a test doc whose near-twin sits in
    * train measures memorization, not generalization). Output is the
    * per-split audit a pipeline records: docs, clusters, and the
    * cross-split verified-pair count — zero by construction, and MEASURED
    * here rather than asserted (d10's estimator-QA discipline).
    *
    * Scale: the split is one hash on the already-computed cluster label;
    * the leak audit re-joins the banded verified-pair set (≪ |docs| rows
    * after LSH) against the assignment and collapses to a single audit row
    * broadcast onto the ≤2-row split summary.
    */
  private def d14_cluster_safe_split(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.Lineage.truncate(
      d2_verified_pairs(s, d).select(col("doc1"), col("doc2"))
    )
    val ids = corpus(s, d).select(col("doc_id").as("id"))
    val cl = graft.graph.GraphOps
      .connectedComponents(ids, pairs.select(col("doc1").as("src"), col("doc2").as("dst")))
      .select(col("id").cast("long").as("doc_id"), col("comp").cast("long").as("cluster"))
    val assigned = cl.withColumn(
      "split",
      when(
        conv(substring(md5(concat(col("cluster").cast("string"), lit("|d14"))), 1, 6), 16, 10)
          .cast("long") % 100 < 90,
        "train"
      ).otherwise("test")
    )
    val leaks = broadcast(
      pairs
        .join(assigned.select(col("doc_id").as("doc1"), col("split").as("sp1")), "doc1")
        .join(assigned.select(col("doc_id").as("doc2"), col("split").as("sp2")), "doc2")
        .agg(sum(when(col("sp1") =!= col("sp2"), 1L).otherwise(0L)).as("leak_pairs"))
    )
    assigned
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cluster")).as("n_clusters"))
      .crossJoin(leaks)
      .select(
        col("split"),
        col("n_docs"),
        col("n_clusters"),
        coalesce(col("leak_pairs"), lit(0L)).as("leak_pairs")
      )
  }

  /** D16 — asymmetric CONTAINMENT near-dup: catches the excerpt/quotation/
    * truncation duplicates that symmetric Jaccard (d1/d4) structurally
    * misses — a 10-word excerpt of a 200-word source has Jaccard ≈ 0.05
    * but containment |S(a)∩S(b)| / min(|S(a)|,|S(b)|) = 1.0. The test
    * corpus plants exactly that shape: documents ∪ a first-10-words
    * excerpt per document (planted at −id−1: negation keeps excerpt ids
    * disjoint from any non-negative corpus id at ANY corpus size, where a
    * fixed +200000 offset silently collided once real ids crossed it —
    * r10 advice; a prefix's word shingles are a subset of the source's by
    * construction). Shingles are the d1 word
    * n-grams, NOT char-4-grams — on a natural-vocabulary corpus char
    * grams are so common the df cap would starve anchor generation
    * (measured: 4 candidate pairs from 500 planted ones).
    *
    * Scale design (the all-pairs trap is worse here than for Jaccard,
    * because candidate pairs with very different sizes are the SIGNAL):
    *   1. rare-gram postings — drop grams with document frequency > 16
    *      (stop-gram removal; a ubiquitous gram would be a quadratic hot
    *      bucket and carries no identity anyway);
    *   2. each doc ANCHORS on its 3 lowest-md5 rare grams (bottom-k
    *      sketch) and probes the FULL rare-postings list — anchor-to-
    *      posting, not anchor-to-anchor, so a contained excerpt finds its
    *      source even when the source's own bottom-3 lie outside the
    *      excerpt. Join output ≤ Σ_gram anchors(g)·df(g) ≤ 16·Σ anchors —
    *      linear in docs with a bounded constant, never n².
    *   3. exact verification (sorted-intersect of the full gram sets) runs
    *      on candidates only; keep containment ≥ 0.9 (basis points,
    *      integer — hash-stable).
    */
  private def d16_containment(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
    val c16 = docs
      .select(col("doc_id"), col("text"))
      .unionAll(
        docs.select(
          (-col("doc_id") - 1).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 10), " ").as("text")
        )
      )
    // shingle frame referenced three times (postings explode + both verify
    // sides) — materialize once or the per-row shingle expression runs 3×
    val g = graft.Lineage.truncate(
      c16.select(
        col("doc_id"),
        call_function("graft_word_shingles", col("text"), lit(ShingleN)).as("g")
      )
    )
    val posts = g.select(col("doc_id"), explode(col("g")).as("gr"))
    val dfOk  = posts.groupBy(col("gr")).agg(count(lit(1)).as("df")).filter(col("df") <= 16)
    val rare  = posts.join(dfOk.select("gr"), "gr")
    val wA    = Window.partitionBy(col("doc_id")).orderBy(md5(col("gr")), col("gr"))
    val anchors = rare
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("da"), col("gr"))
    val cand = anchors
      .join(rare.select(col("doc_id").as("db"), col("gr")), "gr")
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc1"), greatest(col("da"), col("db")).as("doc2"))
      .distinct()
    val g1 = g.select(col("doc_id").as("doc1"), col("g").as("g1"), size(col("g")).as("n1"))
    val g2 = g.select(col("doc_id").as("doc2"), col("g").as("g2"), size(col("g")).as("n2"))
    cand
      .join(g1, "doc1")
      .join(g2, "doc2")
      .withColumn(
        "inter",
        call_function("graft_sorted_intersect_size", col("g1"), col("g2")).cast("long")
      )
      .withColumn("containment_bp", expr("inter * 10000 div least(n1, n2)"))
      .filter(col("containment_bp") >= 9000)
      .select(
        col("doc1"),
        col("doc2"),
        col("containment_bp"),
        expr("inter * 10000 div (n1 + n2 - inter)").as("jaccard_bp")
      )
  }

  /** D17 — hyperplane-count audit for the EMBEDDING LSH (d15's discipline
    * applied to d5/d12's sign-bit buckets): for k = 2..6 planes, the
    * bucket census and the raw candidate-pair cost Σ C(occupancy, 2) that
    * k sign bits commit the pair join to. This is the one number behind
    * the d5/d12 scale ratios (within-bucket candidates grow with corpus
    * size at fixed k) — a 100 TB run reads this curve and picks the k
    * where pair cost crosses its budget, BEFORE paying for the join; each
    * halving of expected bucket occupancy costs one plane's recall. One
    * 6-bit signature per vector computed once; each k is a census over
    * the key PREFIX (hyperplane LSH keys nest), so the audit is 5 hash
    * aggregates over (vec, 6-char key) — no pairs materialized.
    */
  private def d17_plane_tuning(s: SparkSession, d: String): DataFrame = {
    val pls = VF.planes(6, 64)
    val b = graft.Lineage.truncate(
      table(s, d, "embeddings").select(VF.signBits(col("embedding"), pls).as("bits"))
    )
    (2 to 6)
      .map { k =>
        b.select(substring(col("bits"), 1, k).as("bk"))
          .groupBy("bk")
          .agg(count(lit(1)).as("n"))
          .agg(
            count(lit(1)).as("n_buckets"),
            coalesce(sum(when(col("n") > 1, 1L).otherwise(0L)), lit(0L)).as("hot_buckets"),
            coalesce(max(col("n")), lit(0L)).as("max_bucket"),
            coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("raw_pairs")
          )
          .select(lit(k.toLong).as("n_planes"), col("n_buckets"), col("hot_buckets"),
            col("max_bucket"), col("raw_pairs"))
      }
      .reduce(_ unionAll _)
  }

  /** D18 — LSH RECALL audit, d15's missing half: d15 prices what a
    * banding configuration COSTS (candidate-join output from bucket
    * occupancy); this measures what it CATCHES. The audit corpus plants
    * one known near-dup pair per document — (doc, −doc−1), a GRADED
    * truncation keeping (30 + 10·(doc_id mod 8))% of the words — so the
    * planted truth sweeps the whole similarity range by construction
    * (30%-prefix pairs sit near J ≈ 0.25, full-copy pairs near 1.0). The
    * audit joins the truth against the same 12-hash/4-band MinHash
    * candidate generation d1 runs and reports recall per
    * Jaccard-per-mille decade — the empirical S-curve
    * P(candidate) = 1−(1−J^r)^b that the banding math promises, measured
    * instead of assumed: low-J pairs must mostly MISS (that is the
    * banding doing its pruning job), high-J pairs must be caught. A
    * production run reads d15 and d18 together: cost per configuration,
    * recall per similarity band, pick the banding that clears both.
    *
    * Scale shape: planted truth is a zero-join projection of `documents`;
    * exact Jaccard is computed for the |docs| planted pairs ONLY (never
    * all pairs — the truth set is what bounds the audit); candidate
    * generation is the standard band-key equi-join; one left join onto
    * the candidate table (keyed on the pair), one ≤11-row aggregate.
    */
  private def d18_lsh_recall(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
    val keepN = expr(
      "greatest(1, (size(split(text, ' ')) * (3 + doc_id % 8)) div 10)"
    )
    val audit = docs
      .select(col("doc_id"), col("text"))
      .unionAll(
        docs.select(
          (-col("doc_id") - 1).as("doc_id"),
          array_join(slice(split(col("text"), " "), lit(1), keepN.cast("int")), " ").as("text")
        )
      )
    val sh = graft.Lineage.truncate(
      audit.select(col("doc_id"), MH.shingles(col("text")).as("sh"))
    )
    val cands = candidatePairs(graft.Lineage.truncate(MH.bandKeys(audit)))
    val planted = docs
      .select((-col("doc_id") - 1).as("doc1"), col("doc_id").as("doc2"))
    val truth = planted
      .join(sh.select(col("doc_id").as("doc1"), col("sh").as("s1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("sh").as("s2")), "doc2")
      .withColumn(
        "inter",
        call_function("graft_sorted_intersect_size", col("s1"), col("s2")).cast("long")
      )
      .withColumn(
        "jac_pm",
        expr("1000 * inter div (size(s1) + size(s2) - inter)")
      )
      .select(col("doc1"), col("doc2"), col("jac_pm"))
    val cand = cands.withColumn("caught", lit(1L))
    truth
      .join(cand, Seq("doc1", "doc2"), "left")
      .groupBy(expr("jac_pm div 100").as("jac_bucket"))
      .agg(
        count(lit(1)).as("n_planted"),
        coalesce(sum(col("caught")), lit(0L)).as("n_caught")
      )
      .select(
        col("jac_bucket"),
        col("n_planted"),
        col("n_caught"),
        expr("10000 * n_caught div n_planted").as("recall_bp")
      )
  }

  /** D21 — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): the k-means-clustered
    * embedding dedup that made within-cluster pairwise comparison tractable
    * for LAION/web corpora — cluster first so candidate pairs are Σ occ²
    * instead of n², then prune each ε-duplicate group down to ONE keeper,
    * chosen as the member FARTHEST from its cluster centroid (the paper's
    * §3.2 keep rule: edge-of-cluster examples preserve diversity; the
    * near-centroid redundancy is what gets dropped). d5/d12 cluster by LSH
    * sign-bit buckets; d21 is the centroid-based rung — k-means cells from
    * s27's quantized-Lloyd lane (seeds = the first 8 stored vectors, one
    * nearest-seed assignment), integer centroids, and an integer squared-L2
    * duplicate gate (pd2 ≤ 1000 on the floor(x·1024) lattice — on
    * near-normalized embeddings small L2 IS high cosine, the paper's
    * normalized-embedding setting, with no float crossing the engine
    * boundary).
    *
    * Planted fixtures: each vec_id < 20 re-enters at −vec_id−1 with dim 1
    * shifted +0.003 (a 3–4 lattice-step perturbation ⇒ pd2 ≤ 16, far under
    * the gate; organic quantized distances here are ~10⁷). Duplicate groups
    * are connected components over the within-cluster ε-pairs; per group the
    * output row carries the cluster, component label (min member id), size,
    * the kept member (max centroid-distance, min-id tiebreak), and how many
    * planted ids it captured.
    *
    * Scale shape: assignment is n×k rows against a k×dim broadcast (k is
    * the paper's hyperparameter — production sets k ∝ n/target-occupancy so
    * Σ occ² stays ≈ n·occ, the clustering's whole purpose; here k = 8 is a
    * fixed dimension of the harness). Centroids and centroid-distances are
    * keyed aggregates on (cluster, pos); the pair join is CLUSTER-KEYED
    * equi-join — never all-pairs; components come from the shared
    * pointer-jumping CC on pair endpoints only (dup groups, not the corpus).
    * Reference anchor: the corpus ingest dedups exact ids only
    * (utils/chroma_helpers.py:111-124) — this is its semantic upgrade.
    */
  private def d21_semdedup(s: SparkSession, d: String): DataFrame =
    semDedup(s, d, k = 8)

  /** [[d21_semdedup]] with the SemDeDup cluster count as a real parameter
    * (r15 verdict #3): seeds are the first `k` stored vectors, so the
    * registered query's k = 8 stays byte-identical while the soak ladder
    * can run k ∝ replica-factor — constant target occupancy, the paper's
    * production configuration where Σ occ² ≈ n·occ keeps the
    * within-cluster pair stage LINEAR in the corpus instead of quadratic.
    */
  /** The quantized squared-L2 expression template shared by the d21
    * family (brute and IVF-routed assignment).
    */
  // graft_qd2 is the native codegen'd kernel for the template
  //   aggregate(zip_with(a, b, (x, y) -> (floor(x * 1024) - floor(y * 1024))
  //     * (floor(x * 1024) - floor(y * 1024))), 0L, (acc, v) -> acc + v)
  // — identical long arithmetic and NULL semantics (QuantVec.scala), so the
  // oracle SQL keeps the spelled-out form while Spark runs one tight loop
  // per pair instead of an interpreted per-element lambda (the DotProduct
  // rationale; the d21 pair gate evaluates this over every candidate pair).
  private val qd2 = "graft_qd2(%s, %s)"

  /** The d21 family's fixture frame: every stored vector plus, for
    * vec_id < 20, a planted near-copy at −vec_id−1 with dim 1 shifted
    * +0.003 (a 3–4 lattice-step perturbation, far under the ε gate).
    */
  private def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val base = table(s, d, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    graft.Lineage.truncate(
      base.unionByName(
        base
          .filter(col("vec_id") < 20)
          .select(
            (-col("vec_id") - 1).as("vec_id"),
            expr("transform(e, (x, i) -> CASE WHEN i = 0 THEN x + CAST(0.003 AS DOUBLE) ELSE x END)").as("e")
          )
      )
    )
  }

  def semDedup(s: SparkSession, d: String, k: Int): DataFrame = {
    require(k >= 1, s"semDedup needs k >= 1, got $k")
    val ve = plantedEmbeddings(s, d)
    val seeds = ve.filter(col("vec_id").between(0, k - 1)).select(col("vec_id").as("seed"), col("e").as("se"))
    val assign = graft.Lineage.truncate(
      ve.crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("seed"), expr(qd2.format("e", "se")).as("sd2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("sd2"), col("seed"))).as("m"))
        .select(col("vec_id"), col("m.seed").as("cluster"))
    )
    semDedupPipeline(ve, assign)
  }

  /** Everything in SemDeDup AFTER cluster assignment — integer centroids,
    * centroid distances, the gated within-cluster pair join, CC over pair
    * endpoints, and the edge-of-cluster keep rule — shared verbatim by the
    * brute-force assignment ([[semDedup]]) and the IVF-routed one
    * ([[semDedupIvf]]), so the two variants differ ONLY in how a vector
    * finds its cluster.
    */
  private def semDedupPipeline(ve: DataFrame, assign: DataFrame): DataFrame = {
    val vq = ve.select(col("vec_id"), posexplode(col("e")))
      .select(col("vec_id"), col("pos"), floor(col("col") * 1024).cast("long").as("q"))
    val cent = vq
      .join(assign, "vec_id")
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q") + 1024L).as("sp"))
      .select(col("cluster"), col("pos"), (expr("sp div n") - 1024L).as("cq"))
    val cd2 = vq
      .join(assign, "vec_id")
      .join(cent, Seq("cluster", "pos"))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("cd2"))
    val mem = ve.join(assign, "vec_id")
    val a   = mem.select(col("cluster"), col("vec_id").as("v1"), col("e").as("e1"))
    val b   = mem.select(col("cluster").as("cl2"), col("vec_id").as("v2"), col("e").as("e2"))
    // Two-stage distance gate, result-identical: the 8-dim prefix distance
    // is a LOWER BOUND on pd2 (every term is non-negative), so filtering
    // prefix > 1000 first discards nothing the exact gate would keep —
    // and it cuts the per-pair lambda work ~8× on the overwhelming
    // majority of pairs, which sit at quantized distances ~10⁷ (measured:
    // 8.8 → ~4 s at sf0.1). The oracle keeps the single-stage form; the
    // optimization is invisible in the result by construction.
    val pairs = graft.Lineage.truncate(
      a.join(b, col("cluster") === col("cl2") && col("v1") < col("v2"))
        .filter(expr(qd2.format("slice(e1, 1, 8)", "slice(e2, 1, 8)")) <= 1000L)
        .withColumn("pd2", expr(qd2.format("e1", "e2")))
        .filter(col("pd2") <= 1000L)
        .select(col("v1"), col("v2"))
    )
    val ids = pairs.select(col("v1").as("id")).unionAll(pairs.select(col("v2").as("id"))).distinct()
    val comps = graft.graph.GraphOps
      .connectedComponents(ids, pairs.select(col("v1").as("src"), col("v2").as("dst")))
    val rows = comps
      .join(cd2, comps("id") === cd2("vec_id"))
      .select(col("comp"), col("cluster"), col("vec_id"), col("cd2"))
    val w = Window.partitionBy(col("comp")).orderBy(col("cd2").desc, col("vec_id").asc)
    rows
      .withColumn("rn", row_number().over(w))
      .groupBy(col("comp"), col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("vec_id"))).as("kept_vec"),
        sum(when(col("vec_id") < 0, 1L).otherwise(0L)).as("n_planted")
      )
      .select(
        col("cluster").cast("long").as("cluster"),
        col("comp").cast("long").as("comp"),
        col("n_members").cast("long").as("n_members"),
        col("kept_vec").cast("long").as("kept_vec"),
        col("n_planted").cast("long").as("n_planted")
      )
  }

  /** D21b — SemDeDup with IVF-ROUTED ASSIGNMENT (Abbas et al. 2023 run
    * the way a production system actually assigns when k ∝ n: Jégou–
    * Douze–Schmid 2011's coarse-quantizer routing applied to the
    * CLUSTERING side of the house, closing the caveat
    * receipts/SOAK_DELTA_r16_16x.md declares on d21's brute-force assignment).
    * Brute assignment is Θ(n·k) distance evaluations — itself quadratic
    * once k scales with n for constant occupancy. Here a vector first
    * picks the nearest of c COARSE seeds, then refines only among the
    * fine seeds ROUTED to that coarse cell: expected evaluations per
    * vector drop from k to c + k/c — Θ(√k) at the c ≈ √k sweet spot. A
    * DECLARED approximation: a vector whose true nearest fine seed lives
    * in a different coarse cell mis-assigns (the standard IVF recall
    * trade, priced in d22 for search); the oracle runs the identical
    * two-level rule, so the approximation itself is cross-engine-exact,
    * and the spec pins that all 20 planted pairs still land together
    * (identical-to-3-lattice-steps vectors take the same route).
    *
    * Everything AFTER assignment — centroids, the gated within-cluster
    * pair join, CC, the edge-of-cluster keeper — is [[semDedupPipeline]],
    * shared verbatim with d21. Argmins are min(struct(d2, id)): the
    * lexicographic (distance, id) tiebreak both engines share. Fine seeds
    * are the first k stored vectors, coarse the first c — so every coarse
    * cell is non-empty (seed i < c routes to itself at distance 0).
    */
  private def d21b_semdedup_ivf(s: SparkSession, d: String): DataFrame =
    semDedupIvf(s, d, k = 16, c = 4)

  def semDedupIvf(s: SparkSession, d: String, k: Int, c: Int): DataFrame = {
    require(k >= c && c >= 1, s"semDedupIvf needs k >= c >= 1, got k=$k c=$c")
    val ve     = plantedEmbeddings(s, d)
    val fines  = ve.filter(col("vec_id").between(0, k - 1)).select(col("vec_id").as("seed"), col("e").as("se"))
    val coarse = ve.filter(col("vec_id").between(0, c - 1)).select(col("vec_id").as("cs"), col("e").as("ce"))
    // route each fine seed to its coarse cell (k×c — codebook-sized work)
    val routed = fines
      .crossJoin(broadcast(coarse))
      .select(col("seed"), col("cs"), expr(qd2.format("se", "ce")).as("d2"))
      .groupBy(col("seed"))
      .agg(min(struct(col("d2"), col("cs"))).as("m"))
      .select(col("seed"), col("m.cs").as("cs"))
      .join(fines, "seed")
    // stage 1: nearest coarse cell per vector (n×c evaluations)
    val vc = ve
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("cs"), expr(qd2.format("e", "ce")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cs"))).as("mc"))
      .select(col("vec_id"), col("mc.cs").as("cs"))
    // stage 2: refine only among the routed cell's fine seeds (n×(k/c) expected)
    val assign = graft.Lineage.truncate(
      ve.join(vc, "vec_id")
        .join(broadcast(routed), "cs")
        .select(col("vec_id"), col("seed"), expr(qd2.format("e", "se")).as("sd2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("sd2"), col("seed"))).as("m"))
        .select(col("vec_id"), col("m.seed").as("cluster"))
    )
    semDedupPipeline(ve, assign)
  }

  /** D22 — MULTI-PROBE LSH recall/cost trade (Lv–Josephson–Wang–Charikar–Li
    * 2007 "Multi-probe LSH": instead of paying more hash tables for recall,
    * probe the buckets that differ from the query's own in ONE bit — the
    * near-boundary buckets where a near-neighbor lands when a single
    * hyperplane decision flips). d5/d12/d18 measure exact-bucket LSH; this
    * is the standard production lever when recall at a fixed table budget
    * is short, measured with d18's graded-truth discipline on the
    * EMBEDDING side of the house.
    *
    * Graded truth: every natural vector re-enters as query −vec_id−1 with
    * every 4th dimension shifted by 0.004·(vec_id mod 8) — grade 0 is an
    * identical copy, grade 7 a 0.028 shift across 16 dims, so the planted
    * pairs sweep from same-bucket to several-bits-flipped by construction
    * (all arithmetic double-exact in both engines: correctly-rounded
    * double multiply, no decimal/double mixing). Each query emits its
    * exact 6-bit sign key plus the 6 single-bit flips (probe id 0 = exact);
    * candidates come from ONE equi-join of the 7n probe keys onto the
    * natural index keys. Output per grade: planted-pair recall for the
    * exact-bucket probe and for multi-probe, and the per-query candidate
    * counts — the recall gain AND its ~7× candidate-cost price on one row,
    * which is exactly the trade the paper's Figure 5 plots.
    *
    * Scale shape: probing is a keyed equi-join (7 keys per query, never a
    * scan of the index); candidate volume is Σ_bucket probes·occupancy —
    * bounded by bucket occupancy exactly like d5, with the 7× probe
    * multiplier priced in-output. Soaked at 16× under d21's declared N²
    * bar (identical-copy embedding replication makes every bucket's
    * occupancy grow N×, candidate pairs N² by construction), with the
    * census columns carrying the cost honestly alongside.
    */
  private def d22_multiprobe_lsh(s: SparkSession, d: String): DataFrame = {
    val pls = VF.planes(6, 64)
    val nat = table(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val idx = graft.Lineage.truncate(
      nat.select(col("vec_id").as("vid"), VF.signBits(col("e"), pls).as("ibits"))
    )
    val qv = nat.select(
      (-col("vec_id") - 1).as("qid"),
      (col("vec_id") % 8).cast("long").as("grade"),
      VF.signBits(
        expr(
          "transform(e, (x, i) -> CASE WHEN i % 4 = 0 " +
            "THEN x + 0.004D * CAST(vec_id % 8 AS DOUBLE) ELSE x END)"
        ),
        pls
      ).as("bits")
    )
    val probes = qv.select(
      col("qid"),
      col("grade"),
      posexplode(
        expr(
          """transform(sequence(0, 6), j -> CASE WHEN j = 0 THEN bits
             ELSE concat(substring(bits, 1, j - 1),
                         CASE WHEN substring(bits, j, 1) = '1' THEN '0' ELSE '1' END,
                         substring(bits, j + 1)) END)"""
        )
      )
    ).select(col("qid"), col("grade"), col("pos").as("j"), col("col").as("pkey"))
    val cand = probes.join(idx, probes("pkey") === idx("ibits"))
    val perQ = cand
      .groupBy(col("qid"), col("grade"))
      .agg(
        countDistinct(col("vid")).as("cand_mp"),
        countDistinct(when(col("j") === 0, col("vid"))).as("cand_ex"),
        max(when(col("vid") === -col("qid") - 1, 1L).otherwise(0L)).as("hit_mp"),
        max(when(col("vid") === -col("qid") - 1 && col("j") === 0, 1L).otherwise(0L)).as("hit_ex")
      )
    qv.select(col("qid"), col("grade"))
      .join(perQ, Seq("qid", "grade"), "left")
      .groupBy(col("grade"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit_ex"), lit(0L))).as("caught_exact"),
        sum(coalesce(col("hit_mp"), lit(0L))).as("caught_mp"),
        sum(coalesce(col("cand_ex"), lit(0L))).as("ce"),
        sum(coalesce(col("cand_mp"), lit(0L))).as("cm")
      )
      .select(
        col("grade"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("caught_exact").cast("long").as("caught_exact"),
        col("caught_mp").cast("long").as("caught_mp"),
        expr("1000 * caught_exact div n_pairs").as("recall_exact_pm"),
        expr("1000 * caught_mp div n_pairs").as("recall_mp_pm"),
        expr("ce div n_pairs").as("cand_per_q_exact"),
        expr("cm div n_pairs").as("cand_per_q_mp")
      )
  }

  /** Memo-shared substrates (see [[QueryModule.substrates]]): the MinHash
    * candidate-pair frame and its CC clusters feed the d2→d7→d11/d12/d16
    * chain; the embedding near-dup pairs feed d5's consumers.
    */
  override def substrates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // numbered so a name sort runs dependencies first (clusters read pairs)
    "_sub_dedup_1_minhash_pairs" -> ((s, d) => d2_verified_pairs(s, d)),
    "_sub_dedup_2_clusters" -> ((s, d) => d7_dedup_clusters(s, d)),
    "_sub_dedup_3_embed_pairs" -> ((s, d) => d5_embed_neardup(s, d))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d22_multiprobe_lsh" -> (d22_multiprobe_lsh _),
    "d21b_semdedup_ivf" -> (d21b_semdedup_ivf _),
    "d21_semdedup" -> (d21_semdedup _),
    "d18_lsh_recall" -> (d18_lsh_recall _),
    "d17_plane_tuning" -> (d17_plane_tuning _),
    "d16_containment" -> (d16_containment _),
    "d13_incremental_neardup" -> (d13_incremental_neardup _),
    "d14_cluster_safe_split" -> (d14_cluster_safe_split _),
    "d1_minhash_candidates" -> (d1_minhash_candidates _),
    "d15_band_tuning" -> (d15_band_tuning _),
    "d2_verified_pairs" -> (d2_verified_pairs _),
    "d3_simhash" -> (d3_simhash _),
    "d4_ngram_jaccard" -> (d4_ngram_jaccard _),
    "d5_embed_neardup" -> (d5_embed_neardup _),
    "d6_contamination" -> (d6_contamination _),
    "d20_bbit_minhash" -> (d20_bbit_minhash _),
    "d19_normalized_decontamination" -> (d19_normalized_decontamination _),
    "d7_dedup_clusters" -> (d7_dedup_clusters _),
    "d8_url_dedup" -> (d8_url_dedup _),
    "d9_fuzzy_blocking" -> (d9_fuzzy_blocking _),
    "d10_minhash_estimate" -> (d10_minhash_estimate _),
    "d11_cluster_survivors" -> (d11_cluster_survivors _),
    "d12_semantic_clusters" -> (d12_semantic_clusters _)
  )

  // ---- oracles ----

  private val corpusSql =
    """corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT -doc_id - 1 AS doc_id, text || ' zz tail' AS text FROM documents
       )"""

  private val shinglesSql =
    s"""sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(0, greatest(len(string_split(text, ' ')) - $ShingleN, 0)),
                   i -> array_to_string(string_split(text, ' ')[i+1:i+$ShingleN], ' '))) AS s
          FROM corpus
        ),
        shx AS (
          SELECT doc_id, s,
                 list_transform(s, x -> ('0x' || substr(md5(x), 1, 6))::BIGINT) AS xs
          FROM sh
        )"""

  private val sigSql = {
    val cols = (0 until NumHashes)
      .map(h =>
        s"list_min(list_transform(xs, x -> (x * ${MH.affineA(h)} + ${MH.affineB(h)}) % $ModP)) AS m$h"
      )
      .mkString(", ")
    s"sig AS (SELECT doc_id, $cols FROM shx)"
  }

  private val bandsSql = {
    val unions = (0 until NumBands)
      .map { b =>
        val cat = (0 until BandR)
          .map(r => s"CAST(m${b * BandR + r} AS VARCHAR)")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, $cat AS bkey FROM sig"
      }
      .mkString(" UNION ALL ")
    s"bands AS ($unions)"
  }

  private val candSql =
    """cand AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2
         FROM bands a JOIN bands b
           ON a.bkey = b.bkey AND a.band = b.band AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )"""

  private val simhashBitsSql = (0 until 16)
    .map(b =>
      s"""CASE WHEN list_sum(list_transform(xs, x -> ((x >> $b) & 1) * 2 - 1)) > 0
          THEN '1' ELSE '0' END"""
    )
    .mkString(" || ")

  private val planeBkSql = (0 until 4)
    .map(p =>
      s"""CASE WHEN list_dot_product(embedding::DOUBLE[], ${VF.duckdbPlaneSql(p, 64)}) >= 0
          THEN '1' ELSE '0' END"""
    )
    .mkString(" || ")

  private val planeBk6Sql = (0 until 6)
    .map(p =>
      s"""CASE WHEN list_dot_product(embedding::DOUBLE[], ${VF.duckdbPlaneSql(p, 64)}) >= 0
          THEN '1' ELSE '0' END"""
    )
    .mkString(" || ")

  /** Word n-grams of a text column in DuckDB (the d6 formulation,
    * parameterized): distinct n-word windows joined by one space.
    */
  private def gramSql(txt: String, n: Int): String =
    s"""unnest(list_distinct(list_transform(
          generate_series(0, greatest(len(string_split($txt, ' ')) - $n, 0)),
          i -> array_to_string(string_split($txt, ' ')[i+1:i+$n], ' '))))"""

  /** The d19 normalization in DuckDB — lowercase + non-alphanumeric
    * collapse; [[graft.functions.TextFunctions.cleanText]]'s ftfy stages
    * are identity on this ASCII corpus (TextFunctionsSpec pins it).
    */
  private def normSql(txt: String): String =
    s"trim(regexp_replace(lower($txt), '[^a-z0-9]+', ' ', 'g'))"

  val oracles: Map[String, String] = Map(
    "d22_multiprobe_lsh" -> {
      def bk(c: String): String = (0 until 6)
        .map(p =>
          s"CASE WHEN list_dot_product($c, ${VF.duckdbPlaneSql(p, 64)}) >= 0 THEN '1' ELSE '0' END"
        )
        .mkString(" || ")
      def flip(j: Int): String =
        if (j == 0) "bits"
        else
          s"substr(bits, 1, ${j - 1}) || (CASE WHEN substr(bits, $j, 1) = '1' THEN '0' ELSE '1' END) || substr(bits, ${j + 1}, 6)"
      val probeArms =
        (0 to 6).map(j => s"SELECT qid, grade, $j AS j, ${flip(j)} AS pkey FROM qv").mkString(" UNION ALL ")
      s"""WITH nat AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         idx AS (SELECT vec_id AS vid, ${bk("e")} AS ibits FROM nat),
         qe AS (SELECT -vec_id - 1 AS qid, vec_id % 8 AS grade,
                       list_transform(generate_series(1, 64),
                         i -> CASE WHEN (i - 1) % 4 = 0
                              THEN e[i] + 0.004::DOUBLE * (vec_id % 8)
                              ELSE e[i] END) AS pe
                FROM nat),
         qv AS (SELECT qid, grade, ${bk("pe")} AS bits FROM qe),
         probes AS ($probeArms),
         cand AS (SELECT p.qid, p.grade, p.j, i.vid
                  FROM probes p JOIN idx i ON i.ibits = p.pkey),
         perq AS (SELECT qid, grade,
                         count(DISTINCT vid) AS cand_mp,
                         count(DISTINCT CASE WHEN j = 0 THEN vid END) AS cand_ex,
                         max(CASE WHEN vid = -qid - 1 THEN 1 ELSE 0 END) AS hit_mp,
                         max(CASE WHEN vid = -qid - 1 AND j = 0 THEN 1 ELSE 0 END) AS hit_ex
                  FROM cand GROUP BY 1, 2)
         SELECT CAST(grade AS BIGINT) AS grade,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(coalesce(hit_ex, 0)) AS BIGINT) AS caught_exact,
                CAST(sum(coalesce(hit_mp, 0)) AS BIGINT) AS caught_mp,
                CAST(1000 * sum(coalesce(hit_ex, 0)) // count(*) AS BIGINT) AS recall_exact_pm,
                CAST(1000 * sum(coalesce(hit_mp, 0)) // count(*) AS BIGINT) AS recall_mp_pm,
                CAST(sum(coalesce(cand_ex, 0)) // count(*) AS BIGINT) AS cand_per_q_exact,
                CAST(sum(coalesce(cand_mp, 0)) // count(*) AS BIGINT) AS cand_per_q_mp
         FROM qv LEFT JOIN perq USING (qid, grade) GROUP BY 1"""
    },
    "d21b_semdedup_ivf" ->
      """WITH RECURSIVE vb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ve AS (SELECT vec_id, e FROM vb
                UNION ALL
                SELECT -vec_id - 1, [e[1] + 0.003::DOUBLE] || e[2:] FROM vb WHERE vec_id < 20),
         fines AS (SELECT vec_id AS seed, e AS se FROM ve WHERE vec_id BETWEEN 0 AND 15),
         coarse AS (SELECT vec_id AS cs, e AS ce FROM ve WHERE vec_id BETWEEN 0 AND 3),
         fr AS (SELECT seed, cs FROM (
                  SELECT f.seed, c.cs,
                         row_number() OVER (PARTITION BY f.seed ORDER BY
                           CAST(list_sum(list_transform(generate_series(1, len(f.se)), i ->
                             (floor(f.se[i] * 1024) - floor(c.ce[i] * 1024)) *
                             (floor(f.se[i] * 1024) - floor(c.ce[i] * 1024)))) AS BIGINT), c.cs) AS rn
                  FROM fines f CROSS JOIN coarse c) WHERE rn = 1),
         vc AS (SELECT vec_id, cs FROM (
                  SELECT v.vec_id, c.cs,
                         row_number() OVER (PARTITION BY v.vec_id ORDER BY
                           CAST(list_sum(list_transform(generate_series(1, len(v.e)), i ->
                             (floor(v.e[i] * 1024) - floor(c.ce[i] * 1024)) *
                             (floor(v.e[i] * 1024) - floor(c.ce[i] * 1024)))) AS BIGINT), c.cs) AS rn
                  FROM ve v CROSS JOIN coarse c) WHERE rn = 1),
         asg AS (SELECT vec_id, cluster FROM (
                  SELECT v.vec_id, f.seed AS cluster,
                         row_number() OVER (PARTITION BY v.vec_id ORDER BY
                           CAST(list_sum(list_transform(generate_series(1, len(v.e)), i ->
                             (floor(v.e[i] * 1024) - floor(f.se[i] * 1024)) *
                             (floor(v.e[i] * 1024) - floor(f.se[i] * 1024)))) AS BIGINT), f.seed) AS rn
                  FROM ve v
                  JOIN vc ON vc.vec_id = v.vec_id
                  JOIN fr ON fr.cs = vc.cs
                  JOIN fines f ON f.seed = fr.seed) WHERE rn = 1),
         vq AS (SELECT vec_id, i AS pos, CAST(floor(e[i] * 1024) AS BIGINT) AS q
                FROM ve, (SELECT unnest(range(1, 65)) AS i)),
         cent AS (SELECT cluster, pos,
                         CAST((sum(q + 1024) // count(*)) - 1024 AS BIGINT) AS cq
                  FROM vq JOIN asg USING (vec_id) GROUP BY 1, 2),
         cdist AS (SELECT vec_id, cluster, sum((q - cq) * (q - cq)) AS cd2
                   FROM vq JOIN asg USING (vec_id) JOIN cent USING (cluster, pos)
                   GROUP BY 1, 2),
         vme AS (SELECT m.vec_id, m.cluster, v.e FROM asg m JOIN ve v USING (vec_id)),
         pr AS (SELECT a.vec_id AS v1, b.vec_id AS v2
                FROM vme a JOIN vme b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE CAST(list_sum(list_transform(generate_series(1, len(a.e)), i ->
                        (floor(a.e[i] * 1024) - floor(b.e[i] * 1024)) *
                        (floor(a.e[i] * 1024) - floor(b.e[i] * 1024)))) AS BIGINT) <= 1000),
         pe AS (SELECT v1, v2 FROM pr UNION SELECT v2, v1 FROM pr),
         pids AS (SELECT DISTINCT v1 AS id FROM pe),
         reach(id, comp) AS (SELECT id, id FROM pids
                             UNION
                             SELECT e.v2, r.comp FROM reach r JOIN pe e ON r.id = e.v1),
         cc AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         mem AS (SELECT c.comp, t.cluster, t.vec_id, t.cd2,
                        row_number() OVER (PARTITION BY c.comp
                                           ORDER BY t.cd2 DESC, t.vec_id) AS rn
                 FROM cc c JOIN cdist t ON t.vec_id = c.id)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(comp AS BIGINT) AS comp,
                CAST(count(*) AS BIGINT) AS n_members,
                CAST(max(CASE WHEN rn = 1 THEN vec_id END) AS BIGINT) AS kept_vec,
                CAST(sum(CASE WHEN vec_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
         FROM mem GROUP BY 1, 2""",
    "d21_semdedup" ->
      """WITH RECURSIVE vb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ve AS (SELECT vec_id, e FROM vb
                UNION ALL
                SELECT -vec_id - 1, [e[1] + 0.003::DOUBLE] || e[2:] FROM vb WHERE vec_id < 20),
         seeds AS (SELECT vec_id AS seed, e AS se FROM ve WHERE vec_id BETWEEN 0 AND 7),
         sdist AS (SELECT v.vec_id, s.seed,
                      CAST(list_sum(list_transform(generate_series(1, len(v.e)), i ->
                        (floor(v.e[i] * 1024) - floor(s.se[i] * 1024)) *
                        (floor(v.e[i] * 1024) - floor(s.se[i] * 1024)))) AS BIGINT) AS sd2
                   FROM ve v CROSS JOIN seeds s),
         ar AS (SELECT vec_id, seed AS cluster,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sd2, seed) AS rn
                FROM sdist),
         asg AS (SELECT vec_id, cluster FROM ar WHERE rn = 1),
         vq AS (SELECT vec_id, i AS pos, CAST(floor(e[i] * 1024) AS BIGINT) AS q
                FROM ve, (SELECT unnest(range(1, 65)) AS i)),
         cent AS (SELECT cluster, pos,
                         CAST((sum(q + 1024) // count(*)) - 1024 AS BIGINT) AS cq
                  FROM vq JOIN asg USING (vec_id) GROUP BY 1, 2),
         cdist AS (SELECT vec_id, cluster, sum((q - cq) * (q - cq)) AS cd2
                   FROM vq JOIN asg USING (vec_id) JOIN cent USING (cluster, pos)
                   GROUP BY 1, 2),
         vme AS (SELECT m.vec_id, m.cluster, v.e FROM asg m JOIN ve v USING (vec_id)),
         pr AS (SELECT a.vec_id AS v1, b.vec_id AS v2
                FROM vme a JOIN vme b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE CAST(list_sum(list_transform(generate_series(1, len(a.e)), i ->
                        (floor(a.e[i] * 1024) - floor(b.e[i] * 1024)) *
                        (floor(a.e[i] * 1024) - floor(b.e[i] * 1024)))) AS BIGINT) <= 1000),
         pe AS (SELECT v1, v2 FROM pr UNION SELECT v2, v1 FROM pr),
         pids AS (SELECT DISTINCT v1 AS id FROM pe),
         reach(id, comp) AS (SELECT id, id FROM pids
                             UNION
                             SELECT e.v2, r.comp FROM reach r JOIN pe e ON r.id = e.v1),
         cc AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         mem AS (SELECT c.comp, t.cluster, t.vec_id, t.cd2,
                        row_number() OVER (PARTITION BY c.comp
                                           ORDER BY t.cd2 DESC, t.vec_id) AS rn
                 FROM cc c JOIN cdist t ON t.vec_id = c.id)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(comp AS BIGINT) AS comp,
                CAST(count(*) AS BIGINT) AS n_members,
                CAST(max(CASE WHEN rn = 1 THEN vec_id END) AS BIGINT) AS kept_vec,
                CAST(sum(CASE WHEN vec_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
         FROM mem GROUP BY 1, 2""",
    "d19_normalized_decontamination" ->
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id <= 10),
          train AS (
            SELECT doc_id, text FROM documents WHERE doc_id > 10
            UNION ALL
            SELECT -doc_id - 1 AS doc_id, upper(replace(text, ' ', ', ')) AS text
            FROM documents WHERE doc_id <= 5),
          bg13 AS (SELECT DISTINCT doc_id AS bid, g FROM (
            SELECT doc_id, ${gramSql(normSql("text"), 13)} AS g FROM bench)),
          tg13 AS (SELECT DISTINCT t.doc_id, bid FROM (
            SELECT doc_id, ${gramSql(normSql("text"), 13)} AS g FROM train) t
            JOIN bg13 USING (g)),
          bg5 AS (SELECT DISTINCT doc_id AS bid, g FROM (
            SELECT doc_id, ${gramSql("text", 5)} AS g FROM bench)),
          tg5 AS (SELECT DISTINCT t.doc_id, bid FROM (
            SELECT doc_id, ${gramSql("text", 5)} AS g FROM train) t
            JOIN bg5 USING (g)),
          allh AS (
            SELECT doc_id, bid, 'n13' AS w FROM tg13
            UNION ALL
            SELECT doc_id, bid, 'r5' AS w FROM tg5),
          census AS (
            SELECT bid,
                   count(DISTINCT CASE WHEN w = 'n13' THEN doc_id END) AS n_norm13,
                   count(DISTINCT CASE WHEN w = 'n13' AND doc_id < 0 THEN doc_id END)
                     AS n_norm13_planted,
                   count(DISTINCT CASE WHEN w = 'r5' THEN doc_id END) AS n_raw5,
                   count(DISTINCT CASE WHEN w = 'r5' AND doc_id < 0 THEN doc_id END)
                     AS n_raw5_planted
            FROM allh GROUP BY bid)
          SELECT b.doc_id AS bid,
                 CAST(coalesce(n_norm13, 0) AS BIGINT) AS n_norm13,
                 CAST(coalesce(n_norm13_planted, 0) AS BIGINT) AS n_norm13_planted,
                 CAST(coalesce(n_raw5, 0) AS BIGINT) AS n_raw5,
                 CAST(coalesce(n_raw5_planted, 0) AS BIGINT) AS n_raw5_planted
          FROM bench b LEFT JOIN census ON census.bid = b.doc_id""",
    "d18_lsh_recall" ->
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT -doc_id - 1,
                   array_to_string(string_split(text, ' ')[1:greatest(1,
                     (len(string_split(text, ' ')) * (3 + doc_id % 8)) // 10)], ' ')
            FROM documents),
          $shinglesSql, $sigSql, $bandsSql, $candSql,
          pl AS (SELECT -doc_id - 1 AS doc1, doc_id AS doc2 FROM documents),
          tr AS (SELECT pl.doc1, pl.doc2,
                        1000 * len(list_intersect(s1.s, s2.s))
                          // (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) AS jac_pm
                 FROM pl
                 JOIN sh s1 ON s1.doc_id = pl.doc1
                 JOIN sh s2 ON s2.doc_id = pl.doc2),
          ct AS (SELECT doc1, doc2, 1 AS caught FROM cand)
          SELECT CAST(jac_pm // 100 AS BIGINT) AS jac_bucket,
                 CAST(count(*) AS BIGINT) AS n_planted,
                 CAST(coalesce(sum(caught), 0) AS BIGINT) AS n_caught,
                 CAST(10000 * coalesce(sum(caught), 0) // count(*) AS BIGINT) AS recall_bp
          FROM tr LEFT JOIN ct USING (doc1, doc2)
          GROUP BY 1""",
    "d17_plane_tuning" -> {
      val perK = (2 to 6)
        .map(k => s"""SELECT CAST($k AS BIGINT) AS n_planes,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS hot_buckets,
                 CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket,
                 CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS raw_pairs
          FROM (SELECT substr(bits, 1, $k) AS bk, count(*) AS n
                FROM b GROUP BY 1)""")
        .mkString("\n UNION ALL\n ")
      s"""WITH b AS (SELECT $planeBk6Sql AS bits FROM embeddings)
          $perK"""
    },
    "d16_containment" ->
      """WITH c AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -doc_id - 1,
                  array_to_string(string_split(text, ' ')[1:10], ' ')
           FROM documents),
         g0 AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(0, greatest(len(string_split(text, ' ')) - 3, 0)),
                    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS g
           FROM c),
         e AS (SELECT doc_id, unnest(g) AS gr FROM g0),
         dft AS (SELECT gr, count(*) AS df FROM e GROUP BY 1),
         rare AS (SELECT e.doc_id, e.gr
                  FROM e JOIN dft USING (gr) WHERE dft.df <= 16),
         anch AS (SELECT doc_id, gr FROM (
                    SELECT doc_id, gr,
                           row_number() OVER (PARTITION BY doc_id
                             ORDER BY md5(gr), gr) AS rn
                    FROM rare) WHERE rn <= 3),
         cand AS (SELECT DISTINCT least(a.doc_id, p.doc_id) AS doc1,
                         greatest(a.doc_id, p.doc_id) AS doc2
                  FROM anch a JOIN rare p ON a.gr = p.gr
                  WHERE a.doc_id <> p.doc_id),
         v AS (SELECT doc1, doc2,
                      CAST(len(list_intersect(g1.g, g2.g)) AS BIGINT) AS inter,
                      CAST(len(g1.g) AS BIGINT) AS n1,
                      CAST(len(g2.g) AS BIGINT) AS n2
               FROM cand
               JOIN g0 g1 ON g1.doc_id = cand.doc1
               JOIN g0 g2 ON g2.doc_id = cand.doc2)
         SELECT doc1, doc2,
                CAST(inter * 10000 // least(n1, n2) AS BIGINT) AS containment_bp,
                CAST(inter * 10000 // (n1 + n2 - inter) AS BIGINT) AS jaccard_bp
         FROM v WHERE inter * 10000 // least(n1, n2) >= 9000""",
    "d15_band_tuning" -> {
      val cfgs = Seq(1, 2, 3, 4, 6, 12)
        .map { r =>
          val nb = NumHashes / r
          val unions = (0 until nb)
            .map { b =>
              val cat = (0 until r)
                .map(i => s"CAST(m${b * r + i} AS VARCHAR)")
                .mkString(" || '|' || ")
              s"SELECT $b AS band, $cat AS bkey FROM sig"
            }
            .mkString(" UNION ALL ")
          s"""SELECT CAST($r AS BIGINT) AS rows_per_band,
                     CAST($nb AS BIGINT) AS n_bands,
                     CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS raw_pairs,
                     CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets,
                     CAST(max(n) AS BIGINT) AS max_bucket
              FROM (SELECT band, bkey, count(*) AS n FROM ($unions) GROUP BY 1, 2)"""
        }
        .mkString(" UNION ALL ")
      s"WITH $corpusSql, $shinglesSql, $sigSql $cfgs"
    },
    "d13_incremental_neardup" ->
      s"""WITH $corpusSql, $shinglesSql, $sigSql, $bandsSql,
          fb AS (SELECT doc_id,
                        (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|inc'), 1, 6))::BIGINT % 10 >= 8) AS is_batch
                 FROM corpus),
          cand AS (SELECT a.doc_id AS bid, b.doc_id AS iid
                   FROM bands a
                   JOIN fb fa ON a.doc_id = fa.doc_id AND fa.is_batch
                   JOIN bands b ON a.bkey = b.bkey AND a.band = b.band
                   JOIN fb fi ON b.doc_id = fi.doc_id AND NOT fi.is_batch
                   GROUP BY 1, 2),
          v AS (SELECT bid,
                       CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) /
                       (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) AS jac
                FROM cand
                JOIN sh s1 ON s1.doc_id = bid
                JOIN sh s2 ON s2.doc_id = iid),
          pb AS (SELECT bid, count(*) AS n_candidates,
                        sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS n_neardup
                 FROM v GROUP BY 1)
          SELECT c.doc_id,
                 CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
                 CAST(coalesce(n_neardup, 0) AS BIGINT) AS n_neardup,
                 CASE WHEN coalesce(n_neardup, 0) > 0 THEN 'dup' ELSE 'new' END AS verdict
          FROM corpus c
          JOIN fb ON c.doc_id = fb.doc_id AND fb.is_batch
          LEFT JOIN pb ON pb.bid = c.doc_id""",
    "d1_minhash_candidates" ->
      s"WITH $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql SELECT doc1, doc2 FROM cand",
    "d20_bbit_minhash" -> {
      val nFull = (0 until NumHashes)
        .map(h => s"CASE WHEN sa.m$h = sb.m$h THEN 1 ELSE 0 END")
        .mkString(" + ")
      val nB2 = (0 until NumHashes)
        .map(h => s"CASE WHEN sa.m$h % 4 = sb.m$h % 4 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql
          SELECT c.doc1, c.doc2,
                 CAST($nFull AS BIGINT) AS agree_full,
                 CAST($nB2 AS BIGINT) AS agree_b2,
                 CAST(1000 * ($nFull) // $NumHashes AS BIGINT) AS j_full_pm,
                 CAST(greatest(0, 1000 * (4 * ($nB2) - $NumHashes)
                                  // (3 * $NumHashes)) AS BIGINT) AS j_b2_pm
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.doc1
          JOIN sig sb ON sb.doc_id = c.doc2"""
    },
    "d10_minhash_estimate" -> {
      val nMatch = (0 until NumHashes)
        .map(h => s"CASE WHEN sa.m$h = sb.m$h THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql
          SELECT c.doc1, c.doc2,
                 CAST($nMatch AS BIGINT) AS n_match,
                 CAST((CAST(1000000 AS BIGINT) * len(list_intersect(s1.s, s2.s))) //
                      (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s)))
                   AS BIGINT) AS jaccard_q
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.doc1
          JOIN sig sb ON sb.doc_id = c.doc2
          JOIN sh s1 ON s1.doc_id = c.doc1
          JOIN sh s2 ON s2.doc_id = c.doc2"""
    },
    "d2_verified_pairs" ->
      s"""WITH $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql
          SELECT doc1, doc2,
                 round(CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) /
                       (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))), 4) AS jaccard
          FROM cand
          JOIN sh s1 ON s1.doc_id = doc1
          JOIN sh s2 ON s2.doc_id = doc2
          WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) /
                (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8""",
    "d3_simhash" ->
      s"""WITH wx AS (
            SELECT doc_id,
                   list_transform(string_split(text, ' '),
                                  w -> ('0x' || substr(md5(w), 1, 6))::BIGINT) AS xs
            FROM documents)
          SELECT doc_id, $simhashBitsSql AS simhash FROM wx""",
    "d4_ngram_jaccard" ->
      """WITH g0 AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(1, greatest(length(text) - 3, 1)),
                    i -> substr(text, CAST(i AS INTEGER), 4))) AS g
           FROM documents),
         gn AS (SELECT doc_id, g, CAST(len(g) AS DOUBLE) AS n FROM g0)
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                      (a.n + b.n - len(list_intersect(a.g, b.g))), 4) AS jaccard
         FROM gn a JOIN gn b ON b.doc_id = a.doc_id + 1""",
    "d5_embed_neardup" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, $planeBkSql AS bk FROM embeddings)
          SELECT a.vec_id AS vec1, b.vec_id AS vec2,
                 round(list_dot_product(a.e, b.e) /
                       (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos_sim
          FROM v a JOIN v b ON a.bk = b.bk AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.25""",
    "d12_semantic_clusters" ->
      s"""WITH RECURSIVE v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e, $planeBkSql AS bk FROM embeddings),
          p AS (
            SELECT a.vec_id AS v1, b.vec_id AS v2
            FROM v a JOIN v b ON a.bk = b.bk AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e) /
                  (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.25),
          pe AS (SELECT v1, v2 FROM p UNION SELECT v2, v1 FROM p),
          reach(id, comp) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.v2, r.comp FROM reach r JOIN pe e ON r.id = e.v1),
          c AS (SELECT id, min(comp) AS cluster FROM reach GROUP BY id)
          SELECT CAST(cluster AS BIGINT) AS cluster,
                 CAST(count(*) AS BIGINT) AS n_members
          FROM c GROUP BY cluster""",
    "d6_contamination" ->
      """WITH bg AS (
           SELECT DISTINCT g FROM (
             SELECT unnest(list_distinct(list_transform(
                      generate_series(0, greatest(len(string_split(text, ' ')) - 5, 0)),
                      i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' ')))) AS g
             FROM documents WHERE doc_id <= 10)),
         tr AS (
           SELECT doc_id, text FROM documents WHERE doc_id > 10
           UNION ALL
           SELECT -doc_id - 1 AS doc_id, 'prefix ' || text AS text
           FROM documents WHERE doc_id <= 5),
         tg AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(0, greatest(len(string_split(text, ' ')) - 5, 0)),
                    i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' ')))) AS g
           FROM tr)
         SELECT DISTINCT doc_id FROM tg WHERE g IN (SELECT g FROM bg)""",
    "d14_cluster_safe_split" ->
      s"""WITH RECURSIVE $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql,
          vp AS (
            SELECT doc1, doc2
            FROM cand
            JOIN sh s1 ON s1.doc_id = doc1
            JOIN sh s2 ON s2.doc_id = doc2
            WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) /
                  (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8),
          pedges AS (
            SELECT doc1 AS src, doc2 AS dst FROM vp
            UNION
            SELECT doc2 AS src, doc1 AS dst FROM vp),
          reach(id, comp) AS (
            SELECT doc_id, doc_id FROM corpus
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN pedges e ON r.id = e.src),
          cls AS (SELECT id AS doc_id, min(comp) AS cluster FROM reach GROUP BY id),
          asg AS (
            SELECT doc_id, cluster,
                   CASE WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR) || '|d14'), 1, 6))::BIGINT
                             % 100 < 90
                        THEN 'train' ELSE 'test' END AS split
            FROM cls),
          lk AS (
            SELECT coalesce(sum(CASE WHEN a1.split <> a2.split THEN 1 ELSE 0 END), 0) AS leak_pairs
            FROM vp
            JOIN asg a1 ON a1.doc_id = vp.doc1
            JOIN asg a2 ON a2.doc_id = vp.doc2)
          SELECT split,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
                 CAST(lk.leak_pairs AS BIGINT) AS leak_pairs
          FROM asg, lk
          GROUP BY split, lk.leak_pairs""",
    "d7_dedup_clusters" ->
      s"""WITH RECURSIVE $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql,
          vp AS (
            SELECT doc1, doc2
            FROM cand
            JOIN sh s1 ON s1.doc_id = doc1
            JOIN sh s2 ON s2.doc_id = doc2
            WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) /
                  (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8),
          pedges AS (
            SELECT doc1 AS src, doc2 AS dst FROM vp
            UNION
            SELECT doc2 AS src, doc1 AS dst FROM vp),
          reach(id, comp) AS (
            SELECT doc_id, doc_id FROM corpus
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN pedges e ON r.id = e.src)
          SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS cluster,
                 CAST(id AS BIGINT) = CAST(min(comp) AS BIGINT) AS is_canonical
          FROM reach GROUP BY id""",
    "d11_cluster_survivors" ->
      s"""WITH RECURSIVE $corpusSql, $shinglesSql, $sigSql, $bandsSql, $candSql,
          vp AS (
            SELECT doc1, doc2
            FROM cand
            JOIN sh s1 ON s1.doc_id = doc1
            JOIN sh s2 ON s2.doc_id = doc2
            WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) /
                  (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8),
          pedges AS (
            SELECT doc1 AS src, doc2 AS dst FROM vp
            UNION
            SELECT doc2 AS src, doc1 AS dst FROM vp),
          reach(id, comp) AS (
            SELECT doc_id, doc_id FROM corpus
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN pedges e ON r.id = e.src),
          cls AS (SELECT id AS doc_id, min(comp) AS cluster FROM reach GROUP BY id),
          wl AS (
            SELECT c.doc_id, c.cluster, length(co.text) AS tlen
            FROM cls c JOIN corpus co ON co.doc_id = c.doc_id),
          r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY tlen DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY cluster) AS n_members
            FROM wl)
          SELECT CAST(cluster AS BIGINT) AS cluster,
                 CAST(doc_id AS BIGINT) AS kept_doc_id,
                 CAST(tlen AS BIGINT) AS kept_len,
                 CAST(n_members AS BIGINT) AS n_members,
                 CAST(n_members - 1 AS BIGINT) AS n_dropped
          FROM r WHERE rn = 1""",
    "d8_url_dedup" ->
      """WITH u AS (
           SELECT doc_id,
                  CASE doc_id % 4
                    WHEN 0 THEN 'HTTP://Example.COM:80/docs/' || CAST(doc_id // 4 AS VARCHAR) || '/'
                    WHEN 1 THEN 'http://example.com/docs/' || CAST(doc_id // 4 AS VARCHAR)
                    WHEN 2 THEN 'http://example.com:80/docs/' || CAST(doc_id // 4 AS VARCHAR)
                                || '#sec-' || CAST(doc_id AS VARCHAR)
                    ELSE 'http://EXAMPLE.com/docs/' || CAST(doc_id // 4 AS VARCHAR) || '/?'
                  END AS url
           FROM documents),
         n AS (
           SELECT doc_id,
                  lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) AS auth,
                  regexp_replace(regexp_replace(url, '#.*$', ''),
                                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
           FROM u),
         c AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(auth, '^(http://[^:]*):80$', '\1'),
                                 '^(https://[^:]*):443$', '\1')
                  || regexp_replace(rest, '[/?]+$', '') AS canonical_url
           FROM n)
         SELECT canonical_url, min(doc_id) AS first_doc_id,
                CAST(count(*) AS BIGINT) AS n_variants
         FROM c GROUP BY 1""",
    "d9_fuzzy_blocking" ->
      """WITH names AS (
           SELECT p_name AS nm, CAST(count(*) AS BIGINT) AS support
           FROM part GROUP BY p_name)
         SELECT a.nm AS a_name, b.nm AS b_name,
                CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
                a.support AS a_rows, b.support AS b_rows
         FROM names a
         JOIN names b
           ON split_part(a.nm, ' ', 1) = split_part(b.nm, ' ', 1)
          AND length(a.nm) = length(b.nm)
          AND a.nm < b.nm
         WHERE levenshtein(a.nm, b.nm) <= 4"""
  )
}
