package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-16 additions — the properties the row-hash
  * oracle proves equal but can't explain.
  */
class Round16QueriesSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("x35: MMR picks are distinct, step-1 is the relevance argmax, and the selected set is measurably more diverse than raw top-k") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("x35_mmr_rerank")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("step")).toSeq == (1L to 8L), "one pick per step, in order")
    val picked = rows.map(_.getAs[Long]("vec_id"))
    assert(picked.distinct.length == 8, "a candidate must never be picked twice")
    assert(rows.head.getAs[Long]("maxsim_q") == 0L, "step 1 has no selected set")
    // every later pick pays a real redundancy penalty and the score is the
    // declared integer combination
    rows.drop(1).foreach { r =>
      assert(
        r.getAs[Long]("score_q") ==
          7L * r.getAs[Long]("rel_q") - 3L * r.getAs[Long]("maxsim_q"))
    }

    // DIVERSITY CENSUS (the operator's reason to exist): mean pairwise
    // similarity of the MMR set must land strictly below the raw cosine
    // top-8's — computed from the same embeddings with the same quantizer
    val e = Engine.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val topRaw = e
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        round(graft.functions.VectorFunctions.cosine(col("embedding"), col("qe")) * 10000, 0)
          .cast("long").as("rel_q")
      )
      .orderBy(col("rel_q").desc, col("vec_id").asc)
      .limit(8)
      .collect()
      .map(_.getAs[Long]("vec_id"))
    def meanPairSim(ids: Seq[Long]): Double = {
      val sel = e.filter(col("vec_id").isin(ids: _*)).select(col("vec_id").as("i"), col("embedding").as("ei"))
      val sims = sel
        .crossJoin(sel.select(col("i").as("j"), col("ei").as("ej")))
        .filter(col("i") < col("j"))
        .select(
          round(graft.functions.VectorFunctions.cosine(col("ei"), col("ej")) * 10000, 0)
            .cast("long").as("s"))
        .collect()
        .map(_.getLong(0))
      sims.sum.toDouble / sims.length
    }
    val mmrSim = meanPairSim(picked.toSeq)
    val rawSim = meanPairSim(topRaw.toSeq)
    assert(
      mmrSim < rawSim,
      s"MMR must diversify: mean pairwise sim_q $mmrSim !< raw top-k's $rawSim")
  }

  test("x36: 16 distinct merges, tokens-per-word monotone non-increasing, savings equal the symbol-mass deltas") {
    val rows = SparkEntry.queries("x36_bpe_schedule")(spark, sf).collect().sortBy(_.getAs[Long]("step"))
    assert(rows.length == 16)
    assert(
      rows.map(_.getAs[String]("merge_pair")).distinct.length == 16,
      "a pair, once merged, can never win again — its occurrences were rewritten away")
    rows.foreach { r =>
      assert(r.getAs[Long]("pair_count") >= 1L)
      assert(r.getAs[Long]("symbols_saved") >= 1L, "an applied merge must collapse at least one occurrence")
      // greedy non-overlapping replace: can never save more than the raw
      // pair count (overlaps only reduce the collapse count)
      assert(r.getAs[Long]("symbols_saved") <= r.getAs[Long]("pair_count"))
    }
    val tpw = rows.map(_.getAs[Long]("tpw_pm")).toSeq
    assert(tpw.zip(tpw.tail).forall { case (a, b) => b <= a }, s"tpw must be monotone non-increasing: $tpw")
    val totals = rows.map(_.getAs[Long]("total_symbols")).toSeq
    assert(totals.zip(totals.tail).forall { case (a, b) => b < a }, "total symbol mass strictly decreases")
    // the compression curve flattens: the best merge was taken first, so
    // the first step saves at least as much as the last
    val saved = rows.map(_.getAs[Long]("symbols_saved")).toSeq
    assert(saved.head >= saved.last, s"greedy order violated: $saved")
  }

  test("x37: Viterbi segmentation is feasible, piece-bounded, and actually uses multi-char pieces") {
    val rows = SparkEntry.queries("x37_unigram_viterbi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val len = r.getAs[String]("word").length
      val nt  = r.getAs[Long]("n_tokens")
      assert(nt >= 1 && nt <= len, s"token count must be a real segmentation: $r")
      // pieces are <= 4 chars, so a length-L word needs >= ceil(L/4) tokens
      assert(nt >= (len + 3) / 4, s"impossible segmentation (pieces are <= 4 chars): $r")
      assert(r.getAs[Long]("cost_q") >= 0L)
    }
    // the DP must beat the trivial all-single-chars segmentation somewhere,
    // or the piece inventory did nothing
    assert(
      rows.exists(r => r.getAs[Long]("n_tokens") < r.getAs[String]("word").length),
      "no word used a multi-char piece — the unigram inventory is dead")
    // every vocab word (2..16 chars) got exactly one row
    val vocabCount = Engine.table(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(org.apache.spark.sql.functions.col("text"), " ")).as("w"))
      .filter("length(w) between 2 and 16")
      .select("w").distinct().count()
    assert(rows.length.toLong == vocabCount, s"${rows.length} rows vs $vocabCount vocab words")
  }

  test("d21b: IVF-routed assignment still pairs every planted copy with its source; keep rule stays distance-driven") {
    val rows = SparkEntry.queries("d21b_semdedup_ivf")(spark, sf).collect()
    assert(rows.length == 20, s"expected the 20 planted groups, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") >= 2)
      assert(r.getAs[Long]("n_planted") == 1,
        "a planted copy and its source are 3-4 lattice steps apart — they must take the same two-level route")
    }
    assert(rows.map(_.getAs[Long]("n_planted")).sum == 20)
    val keptPlanted = rows.count(_.getAs[Long]("kept_vec") < 0)
    assert(keptPlanted > 0 && keptPlanted < 20, s"keep rule degenerate: $keptPlanted/20 planted keepers")
    // the fine inventory is k = 16: clusters must span beyond d21's k = 8
    // range somewhere, or the routing collapsed to the coarse cells
    assert(rows.map(_.getAs[Long]("cluster")).distinct.length > 1)
  }

  test("s36: evolved snapshot censuses old-generation nulls instead of hiding them") {
    val rows = SparkEntry.queries("s36_schema_evolution")(spark, sf).collect()
    val byGen = rows.map(r => r.getAs[Long]("gen") -> r).toMap
    assert(byGen.keySet == Set(1L, 2L))
    assert(
      byGen(1L).getAs[Long]("null_quality") == byGen(1L).getAs[Long]("n_rows"),
      "every generation-1 row predates the added column — all null")
    assert(byGen(2L).getAs[Long]("null_quality") == 0L)
    assert(byGen(2L).getAs[Long]("sum_quality") > 0L)
    assert(byGen(1L).getAs[Long]("n_rows") > byGen(2L).getAs[Long]("n_rows"), "gen 2 is a partial refresh")
  }

  test("g23: pair-dependency terms respect the σ subset bound and the ranking is the declared tiebreak") {
    val rows = SparkEntry.queries("g23_sampled_betweenness")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val bc = r.getAs[Long]("bc_q")
      val np = r.getAs[Long]("n_pairs")
      assert(np >= 1L)
      // each term is 10⁶·σ_sv·σ_vt/σ_st with σ_sv·σ_vt ≤ σ_st (paths
      // through v are a subset of all s↔t shortest paths), so the sum
      // over n_pairs sampled pairs is capped at 10⁶·n_pairs
      assert(bc >= 0L && bc <= 1000000L * np, s"bc_q $bc outside [0, 1e6·$np]")
    }
    val scores = rows.map(_.getAs[Long]("bc_q")).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => b <= a }, "descending by bc_q")
  }

  test("x38: count-min estimates are one-sided (est ≥ true, the CM guarantee) and heads are near-exact at width 1024") {
    val rows = SparkEntry.queries("x38_countmin_hitters")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 32)
    rows.foreach { r =>
      assert(r.getAs[Long]("est_c") >= r.getAs[Long]("true_c"), s"CM underestimated ${r.getAs[String]("w")}")
      assert(r.getAs[Long]("overest") == r.getAs[Long]("est_c") - r.getAs[Long]("true_c"))
    }
    // ε = e/1024 of the token mass bounds every overestimate w.h.p.; at
    // the harness vocabulary the heads should be exact or nearly so —
    // a large overestimate means the hash rows collapsed
    val worst = rows.map(_.getAs[Long]("overest")).max
    val mass  = rows.map(_.getAs[Long]("true_c")).sum
    assert(worst * 100 <= mass, s"worst overestimate $worst implausible vs head mass $mass")
  }

  test("x39: the JL ratio column clusters at 1000 per the lemma, and distances are nonnegative") {
    val rows = SparkEntry.queries("x39_jl_projection")(spark, sf).collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      assert(r.getAs[Long]("d2_orig_q") >= 0L && r.getAs[Long]("d2_proj_q") >= 0L)
    }
    val ratios = rows.flatMap(r => Option(r.getAs[Any]("ratio_pm")).map(_.asInstanceOf[Long]))
    assert(ratios.length > 100, "nearly every pair has a nonzero original distance")
    val mean = ratios.sum.toDouble / ratios.length
    // E[ratio_pm] = 1000 exactly (E[y_i²] = ‖x‖² for ±1 signs); the mean
    // over hundreds of pairs concentrates — a band this wide only breaks
    // if the sign matrix or the quantizer is wrong in kind, not in noise
    assert(mean > 800 && mean < 1200, s"mean JL ratio $mean ∉ (800, 1200)")
  }

  test("x40: both rank lists are full top-8 permutations and in_both marks exactly the retained set") {
    val rows = SparkEntry.queries("x40_jl_recall")(spark, sf).collect()
    def ranks(c: String) =
      rows.flatMap(r => Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])).sorted.toSeq
    assert(ranks("rank_exact") == (1L to 8L), "exact list must be a full top-8")
    assert(ranks("rank_proj") == (1L to 8L), "projected list must be a full top-8")
    val retained = rows.count(_.getAs[Boolean]("in_both"))
    assert(rows.length == 16 - retained, "the union row count IS the recall identity")
    rows.foreach { r =>
      assert(
        r.getAs[Boolean]("in_both") ==
          (r.getAs[Any]("rank_exact") != null && r.getAs[Any]("rank_proj") != null))
      assert(r.getAs[Long]("d2_orig_q") >= 0L && r.getAs[Long]("d2_proj_q") >= 0L)
    }
    // rank 1 exists on both sides and distances are consistent with rank
    val exact = rows.filter(_.getAs[Any]("rank_exact") != null)
      .sortBy(_.getAs[Long]("rank_exact")).map(_.getAs[Long]("d2_orig_q")).toSeq
    assert(exact.zip(exact.tail).forall { case (a, b) => a <= b }, "exact ranks follow d2_orig")
  }

  test("a32: the reliability bins partition the eval set and junk mass sits strictly below clean mass") {
    val rows = SparkEntry.queries("a32_score_reliability")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0L && bin <= 9L)
      assert(r.getAs[Long]("n_junk") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("junk_rate_bp") <= 10000L)
      // the bin's mean score must lie inside the bin's value range (clamped ends excepted)
      val m = r.getAs[Long]("mean_score_q")
      if (bin > 0L && bin < 9L)
        assert(m >= bin * 12800L - 64000L && m < (bin + 1) * 12800L - 64000L, s"bin $bin mean $m")
    }
    val junkDocs  = rows.map(_.getAs[Long]("n_junk")).sum
    assert(junkDocs == 10L, "the eval population plants exactly 10 junk docs")
    // calibration direction: the junk-weighted mean bin sits strictly below
    // the clean-weighted mean bin — scores MEAN something, not just rank
    def wmean(f: org.apache.spark.sql.Row => Long): Double = {
      val ws = rows.map(r => (r.getAs[Long]("bin"), f(r)))
      ws.map { case (b, w) => b.toDouble * w }.sum / ws.map(_._2).sum.max(1L)
    }
    val junkMean  = wmean(_.getAs[Long]("n_junk"))
    val cleanMean = wmean(r => r.getAs[Long]("n_docs") - r.getAs[Long]("n_junk"))
    assert(junkMean < cleanMean, s"junk mean bin $junkMean !< clean mean bin $cleanMean")
  }

  test("g24: hop-bounded eccentricities stay within the hop cap and the diameter bound IS their max") {
    val rows = SparkEntry.queries("g24_eccentricity")(spark, sf).collect()
    assert(rows.length == 8, "one row per landmark pivot")
    val eccs = rows.map(_.getAs[Long]("ecc_h"))
    val lbs  = rows.map(_.getAs[Long]("diameter_lb")).distinct
    assert(lbs.length == 1 && lbs.head == eccs.max,
      "diameter_lb must be the max landmark eccentricity (every ecc is a diameter lower bound)")
    rows.foreach { r =>
      assert(r.getAs[Long]("ecc_h") >= 1L && r.getAs[Long]("ecc_h") <= 4L, "4-hop BFS bounds ecc_h")
      assert(r.getAs[Long]("n_reached") >= 2L, "a pivot reaches at least itself and one neighbor")
      assert(r.getAs[Long]("mean_dist_pm") <= r.getAs[Long]("ecc_h") * 1000L,
        "mean distance can never exceed the eccentricity")
    }
  }

  test("e20: day-0 retention is 1000 permille for every cohort and no cell exceeds its cohort") {
    val rows = SparkEntry.queries("e20_retention_cohorts")(spark, sf).collect()
    assert(rows.nonEmpty)
    val cohorts = rows.map(_.getAs[Long]("cohort_day")).distinct
    cohorts.foreach { c =>
      val day0 = rows.find(r => r.getAs[Long]("cohort_day") == c && r.getAs[Long]("day_n") == 0L)
      assert(day0.isDefined, s"cohort $c lost its own day-0 row")
      assert(day0.get.getAs[Long]("retention_pm") == 1000L,
        "day 0 IS the cohort definition — everyone in it was active that day")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("day_n") >= 0L && r.getAs[Long]("day_n") <= 14L)
      assert(r.getAs[Long]("active_users") <= r.getAs[Long]("cohort_users"),
        "a cohort can never have more returners than members")
      assert(r.getAs[Long]("retention_pm") <= 1000L)
    }
  }

  test("x41: segments = boundaries + 1, a valley needs at least 4 blocks, and the rule actually fires somewhere") {
    val rows = SparkEntry.queries("x41_texttiling")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_blocks") >= 3L, "the 3w-token gate admits only >= 3-block docs")
      assert(r.getAs[Long]("n_segments") == r.getAs[Long]("n_boundaries") + 1L)
      // an interior valley needs >= 3 gaps, i.e. >= 4 blocks; and there are
      // at most (gaps - 2) interior gaps
      val gaps = r.getAs[Long]("n_blocks") - 1L
      if (r.getAs[Long]("n_boundaries") > 0L) assert(gaps >= 3L)
      assert(r.getAs[Long]("n_boundaries") <= math.max(0L, gaps - 2L))
      assert(r.getAs[Long]("mean_cohesion_q") >= 0L)
    }
    assert(rows.exists(_.getAs[Long]("n_boundaries") > 0L),
      "no document has a cohesion valley — the segmenter is dead")
  }

  test("c30: allocation conserves the budget, respects the 4-epoch cap, and redistributes to uncapped sources") {
    val rows = SparkEntry.queries("c30_capped_mixture")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc_docs") <= r.getAs[Long]("cap_docs"))
      assert(r.getAs[Long]("epochs_bp") <= 40000L, "the cap IS the 4-epoch bound")
      assert(
        r.getAs[Boolean]("capped") == (r.getAs[Long]("alloc_docs") == r.getAs[Long]("cap_docs")))
    }
    val residue = rows.head.getAs[Long]("residue_docs")
    assert(residue >= 0L, "water-filling can never over-allocate")
    val budget = rows.map(_.getAs[Long]("n_docs")).sum
    assert(
      rows.map(_.getAs[Long]("alloc_docs")).sum + residue == budget,
      "every budgeted draw is either allocated or reported in the residue")
  }
}
