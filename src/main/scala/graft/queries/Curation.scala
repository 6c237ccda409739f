package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine.table

/** Corpus-curation operators: the document-stream transformations that sit
  * between raw crawl and training shards — sequence packing, span-level
  * cleaning, exact substring dedup, weighted sampling, Bloom-filter
  * membership pruning, and Gopher-style gate batteries. The reference's
  * per-row quality gates (extract_artists.py:42-63) are the seed; these are
  * the corpus-scale generalizations a 100 TB pipeline runs after them.
  *
  * Scale notes, per query:
  *   - c1 packs within per-language streams — the running sum is a window
  *     PARTITIONED by lang, never a single-partition global cumsum (the
  *     global-order variant is o7's two-level rank; packing doesn't need it
  *     because shard boundaries only have to be consistent per stream).
  *   - c3 shuffles 56-bit md5-prefix gram keys, not 5-word strings — the
  *     gram text never leaves the map side. Any md5 collision merges the
  *     same two grams in Spark and DuckDB alike, so the oracle still
  *     matches bit-for-bit.
  *   - c5 is the runtime-filter pattern: the Bloom registers collapse to a
  *     single broadcast row (128 words), the probe side stays a narrow
  *     zero-shuffle projection, and the only Exchange is the final 4-row
  *     confusion-matrix aggregate.
  *   - c7/c12 reuse c3's hashed-key discipline (intra-doc windows and
  *     anchored prefixes respectively); c8/c9/c11 gate or score against
  *     single-row or ≤64-row broadcast statistics — per-row tests, never a
  *     second wide pass; c10 is a tiny bucket aggregate; c2/c6 are pure
  *     narrow projections (c6 doubles as the stream surface's
  *     gateAndQuarantine transform).
  */
object Curation extends QueryModule {

  private val StopEn = Seq("the", "a", "of", "and", "to", "in", "is")

  private def words(c: Column): Column = split(c, " ")

  /** First-6-hex-digits of md5 as a long in [0, 16^6) — the deterministic
    * uniform hash both engines compute identically (x5/x11's trick).
    */
  private def h6(c: Column, salt: String): Column =
    conv(substring(md5(concat(c.cast("string"), lit(salt))), 1, 6), 16, 10)
      .cast("long")

  // ---------------------------------------------------------------------
  // c1 — sequence packing (concat-then-chunk)
  // ---------------------------------------------------------------------

  /** Greedy sequential packing of documents into fixed 4096-token training
    * windows: concatenate the per-language document stream in doc_id order,
    * then cut every 4096 tokens. Each document gets its start offset in the
    * stream, its pack id (the window its first token lands in), and a
    * boundary-straddle flag (the packing loss metric: a straddling doc is
    * split across two training sequences).
    *
    * One shuffle (the per-lang window); token counts are a narrow
    * projection. At 100 TB each language stream still packs independently
    * and in parallel.
    */
  private def c1_sequence_pack(s: SparkSession, d: String): DataFrame = {
    val nTok = size(words(col("text"))).cast("long")
    val w = Window
      .partitionBy("lang")
      .orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, d, "documents")
      .select(col("doc_id"), col("lang"), nTok.as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_off"),
        floor((col("cum") - col("n_tokens")) / 4096).cast("long").as("pack_id"),
        (floor((col("cum") - col("n_tokens")) / 4096) =!=
          floor((col("cum") - 1) / 4096)).cast("int").as("straddles")
      )
  }

  // ---------------------------------------------------------------------
  // c2 — span-level cleaning (the C4 line-filter shape)
  // ---------------------------------------------------------------------

  /** Span-level cleaning: split each document into consecutive 10-word
    * spans, drop spans that are low-diversity (< 5 distinct words) or
    * contain a banned token, and reassemble the survivors in order. The
    * C4 line-filter shape (split → per-segment predicate → ordered
    * reassembly) over the harness's newline-free fixtures, with retention
    * accounting per document.
    *
    * Zero shuffle — one narrow projection; the higher-order functions are
    * CodegenFallback but the plan stays scan-speed (TextAnalysis scaladoc
    * has the standing note).
    */
  private def c2_span_clean(s: SparkSession, d: String): DataFrame = {
    val w      = words(col("text"))
    val nSpans = ceil(size(w) / lit(10.0)).cast("int")
    val spans  = transform(sequence(lit(0), nSpans - 1), i => slice(w, i * 10 + 1, lit(10)))
    val kept = filter(
      spans,
      sp => size(array_distinct(sp)) >= 5 && !array_contains(sp, "slow")
    )
    table(s, d, "documents")
      .select(col("doc_id"), spans.as("spans"), kept.as("kept"))
      .select(
        col("doc_id"),
        size(col("spans")).cast("long").as("n_spans"),
        size(col("kept")).cast("long").as("kept_spans"),
        array_join(flatten(col("kept")), " ").as("clean_text")
      )
  }

  // ---------------------------------------------------------------------
  // c3 — exact substring dedup (cross-document repeated 5-gram windows)
  // ---------------------------------------------------------------------

  /** Exact substring duplication census, the word-window form of "train on
    * each substring once": every 5-word window position in every document,
    * counted as duplicated when its gram also appears in at least one OTHER
    * document. Per document: total windows, duplicated windows, distinct
    * shared grams, and the quantized duplicated fraction.
    *
    * Grams are reduced to 56-bit md5-prefix keys before the shuffle — the
    * two aggregations and the join move longs, never 5-word strings. A
    * collision merges identically in both engines (same md5), so the oracle
    * comparison is unaffected.
    */
  private def c3_substring_dedup(s: SparkSession, d: String): DataFrame = {
    val gramKey =
      conv(substring(md5(col("g")), 1, 14), 16, 10).cast("long").as("gk")
    val byDoc = table(s, d, "documents")
      .select(
        col("doc_id"),
        explode(call_function("graft_word_ngrams", col("text"), lit(5))).as("g")
      )
      .select(col("doc_id"), gramKey)
      .groupBy("doc_id", "gk")
      .agg(count(lit(1)).as("c"))
    // byDoc rows are distinct (doc, gram) pairs, so counting them per gram
    // IS the number of documents containing the gram — no second corpus pass.
    val docsPerGram = byDoc.groupBy("gk").agg(count(lit(1)).as("n_docs"))
    byDoc
      .join(docsPerGram, "gk")
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_windows"),
        sum(when(col("n_docs") >= 2, col("c")).otherwise(0L)).as("dup_windows"),
        count(when(col("n_docs") >= 2, lit(1))).as("dup_grams")
      )
      .select(
        col("doc_id"),
        col("n_windows"),
        col("dup_windows"),
        col("dup_grams"),
        expr("10000 * dup_windows DIV n_windows").as("dup_frac_q")
      )
  }

  // ---------------------------------------------------------------------
  // c4 — deterministic weighted sampling
  // ---------------------------------------------------------------------

  /** Weighted priority sampling, deterministic: each document draws a
    * uniform hash and competes with priority hash ÷ weight (weight =
    * n_chars), so longer documents win proportionally more seats — the
    * integer-exact cousin of Efraimidis–Spirakis u^(1/w) sampling, with
    * md5 standing in for the RNG (reproducible across engines and runs,
    * x5/x11's discipline). Top 10 seats per language stratum.
    *
    * One shuffle (the per-lang window); the rank prunes to 10 rows per
    * stratum before anything wide happens.
    */
  private def c4_weighted_sample(s: SparkSession, d: String): DataFrame = {
    val pri = expr("hv DIV n_chars")
    val w   = Window.partitionBy("lang").orderBy(col("priority"), col("doc_id"))
    table(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), h6(col("doc_id"), "|wsample").as("hv"))
      .select(col("doc_id"), col("lang"), col("n_chars"), pri.as("priority"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
  }

  // ---------------------------------------------------------------------
  // c5 — Bloom-filter membership pruning
  // ---------------------------------------------------------------------

  private val BloomBits  = 4096 // 128 × 32-bit words
  private val BloomSeeds = 0 to 3

  private def bloomPos(key: Column, seed: Int): Column =
    conv(
      substring(md5(concat(key.cast("string"), lit(s"|b$seed"))), 1, 6),
      16,
      10
    ).cast("long") % BloomBits

  /** Bloom-filter join pruning with false-positive accounting — the
    * runtime-filter pattern built by hand: hash the build side (BUILDING
    * customers) into a 4096-bit / 4-hash Bloom sketch held as 128 32-bit
    * words, collapse the words to ONE broadcast row, and probe every order
    * with four narrow bit tests. The result is the confusion matrix of
    * bloom verdict × exact membership (a Bloom filter must never produce a
    * false negative; the false-positive row sizes the pruning error).
    *
    * The probe side never shuffles and never fans out: the four probes are
    * unrolled columns against the broadcast register map, exactly how an
    * injected runtime Bloom filter evaluates inside the scan stage. The
    * only Exchange is the ≤4-row final aggregate.
    */
  private def c5_bloom_prune(s: SparkSession, d: String): DataFrame = {
    val build = table(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val regs = build
      .select(
        explode(
          array(BloomSeeds.map(k => bloomPos(col("c_custkey"), k)): _*)
        ).as("pos")
      )
      .select(
        expr("pos DIV 32").as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 32).cast("int")).as("contrib")
      )
      .groupBy("word")
      .agg(call_function("bit_or", col("contrib")).as("reg"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("reg")))).as("regmap"))
    val probed = table(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .crossJoin(broadcast(regs))
    val passAll = BloomSeeds
      .map { k =>
        val pos  = bloomPos(col("o_custkey"), k)
        val word = floor(pos / 32).cast("long")
        val reg  = coalesce(call_function("element_at", col("regmap"), word), lit(0L))
        call_function("shiftright", reg, (pos % 32).cast("int")).bitwiseAND(lit(1L)) === 1L
      }
      .reduce(_ && _)
    val members = broadcast(build.withColumn("member", lit(1)))
    probed
      .withColumn("bloom_pass", passAll.cast("int"))
      .join(members, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("bloom_pass"), coalesce(col("member"), lit(0)).as("exact_member"))
      .agg(count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------------
  // c6 — Gopher-style document gate battery
  // ---------------------------------------------------------------------

  /** Gopher-style quality gates with per-gate accounting: word count,
    * mean word length, stopword presence, and distinct-word fraction, each
    * as an explicit pass/fail column plus the first-failing-gate reject
    * reason (the audit column a curation run reports per shard). x2 scores;
    * c6 GATES — the keep/drop decision with its reasons, integer-quantized
    * so both engines agree exactly.
    *
    * Zero shuffle — one narrow projection. Shared transform: the same
    * function gates a `spark.read` table (c6) and a `readStream` source
    * ([[graft.streaming.StreamOps.gateAndQuarantine]]) — it is stateless
    * row-wise arithmetic, so batch and stream verdicts agree by
    * construction.
    */
  def gateBattery(docs: DataFrame): DataFrame = {
    val w      = words(col("text"))
    val nWords = size(w).cast("long")
    // Single-space-joined text: total word chars = length - (n_words - 1).
    val mwlQ      = expr("100 * (length(text) - (n_words - 1)) DIV n_words")
    val distinctQ = expr("10000 * n_distinct DIV n_words")
    val base = docs.select(
      col("doc_id"),
      col("text"),
      nWords.as("n_words"),
      size(array_distinct(w)).cast("long").as("n_distinct"),
      size(filter(w, x => x.isin(StopEn: _*))).cast("long").as("n_stop")
    )
    base
      .select(
        col("doc_id"),
        col("n_words"),
        mwlQ.as("mwl_q"),
        distinctQ.as("distinct_q"),
        col("n_stop")
      )
      .select(
        col("doc_id"),
        col("n_words"),
        col("mwl_q"),
        col("distinct_q"),
        col("n_stop"),
        (col("n_words") >= 20 && col("n_words") <= 100000).cast("int").as("g_len"),
        (col("mwl_q") >= 300 && col("mwl_q") <= 800).cast("int").as("g_mwl"),
        (col("n_stop") >= 2).cast("int").as("g_stop"),
        (col("distinct_q") >= 3000).cast("int").as("g_distinct")
      )
      .withColumn(
        "keep",
        (col("g_len") === 1 && col("g_mwl") === 1 && col("g_stop") === 1 &&
          col("g_distinct") === 1).cast("int")
      )
      .withColumn(
        "reject_reason",
        when(col("g_len") === 0, "len")
          .when(col("g_mwl") === 0, "mwl")
          .when(col("g_stop") === 0, "stop")
          .when(col("g_distinct") === 0, "distinct")
          .otherwise("pass")
      )
  }

  private def c6_gopher_gates(s: SparkSession, d: String): DataFrame =
    gateBattery(table(s, d, "documents").select(col("doc_id"), col("text")))

  // ---------------------------------------------------------------------
  // c7 — intra-document repetition accounting
  // ---------------------------------------------------------------------

  /** Intra-document exact window dedup accounting: for every 5-word window
    * WITHIN a document, count the occurrences beyond the first of each
    * distinct gram — the "keep first occurrence" self-repetition metric
    * (c3 counts cross-document duplication; c7 counts a document repeating
    * itself). Same 56-bit md5 gram keys, one groupBy pair + one per-doc
    * rollup, no join at all.
    */
  private def c7_self_dedup(s: SparkSession, d: String): DataFrame = {
    val gramKey =
      conv(substring(md5(col("g")), 1, 14), 16, 10).cast("long").as("gk")
    table(s, d, "documents")
      .select(
        col("doc_id"),
        explode(call_function("graft_word_ngrams", col("text"), lit(5))).as("g")
      )
      .select(col("doc_id"), gramKey)
      .groupBy("doc_id", "gk")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_windows"),
        sum(col("c") - 1).as("self_dup"),
        count(lit(1)).as("distinct_grams")
      )
      .select(
        col("doc_id"),
        col("n_windows"),
        col("self_dup"),
        col("distinct_grams"),
        expr("10000 * self_dup DIV n_windows").as("self_dup_frac_q")
      )
  }

  // ---------------------------------------------------------------------
  // c8 — corpus mixture rebalancing
  // ---------------------------------------------------------------------

  /** Deterministic down-sampling to a uniform source mixture: each source's
    * keep-rate is min-source-count / source-count (the smallest source keeps
    * everything, larger sources are thinned to match), and the keep decision
    * is the usual md5 hash gate — reproducible, no RNG state. Output is the
    * per-source audit row: corpus count, quantized rate, surviving count.
    *
    * Two narrow scans of `documents`; the rate table is ≤ |sources| rows and
    * arrives at the second scan by broadcast. The global min is a single-row
    * broadcast (never a global sort).
    */
  private def c8_mixture_rebalance(s: SparkSession, d: String): DataFrame = {
    val counts = table(s, d, "documents").groupBy("source").agg(count(lit(1)).as("n_docs"))
    val minRow = broadcast(counts.agg(min("n_docs").as("min_docs")))
    val rates = counts
      .crossJoin(minRow)
      .select(col("source"), col("n_docs"), expr("10000 * min_docs DIV n_docs").as("rate_q"))
    table(s, d, "documents")
      .select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .filter(h6(col("doc_id"), "|mix") % 10000 < col("rate_q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"))
      .join(broadcast(rates), "source")
      .select(col("source"), col("n_docs"), col("rate_q"), col("n_kept"))
  }

  // ---------------------------------------------------------------------
  // c9 — importance weighting against a target distribution
  // ---------------------------------------------------------------------

  /** DSIR-shaped importance scoring: hash every word occurrence into 64
    * feature buckets, estimate the target distribution (lang = 'en' docs)
    * and the corpus distribution over those buckets, and score each document
    * by the mean quantized likelihood ratio of its words — the
    * data-selection signal "looks like the target domain". All integer
    * arithmetic (ratio of proportions × 10000, integer division) so both
    * engines agree exactly; the intermediate product tcnt × c_tot needs
    * headroom — fine to ~2^31 words a side at this quantization, beyond
    * that rescale the quantization constant.
    *
    * The weight table is 64 rows (broadcast); the per-doc score is one
    * keyed aggregation over the exploded words. Nothing global, nothing
    * wide.
    */
  private def c9_importance_weights(s: SparkSession, d: String): DataFrame = {
    // materialized ONCE (the d13 pattern): three consumers below — corpus
    // counts, target counts, final scoring join — would otherwise each
    // re-scan and re-explode the documents table
    val wordBuckets = graft.Lineage.truncate(
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
        .select(
          col("doc_id"),
          col("lang"),
          (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long") % 64).as("bk")
        )
    )
    val corpus = wordBuckets.groupBy("bk").agg(count(lit(1)).as("ccnt"))
    val target =
      wordBuckets.filter(col("lang") === "en").groupBy("bk").agg(count(lit(1)).as("tcnt"))
    val totals = broadcast(
      corpus
        .agg(sum("ccnt").as("c_tot"))
        .crossJoin(target.agg(sum("tcnt").as("t_tot")))
    )
    val weights = corpus
      .join(target, Seq("bk"), "left")
      .na.fill(0L, Seq("tcnt"))
      .crossJoin(totals)
      .select(col("bk"), expr("10000 * tcnt * c_tot DIV (ccnt * t_tot)").as("weight_q"))
    wordBuckets
      .join(broadcast(weights), "bk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("weight_q").as("wsum"))
      .select(col("doc_id"), col("n_words"), expr("wsum DIV n_words").as("score_q"))
  }

  // ---------------------------------------------------------------------
  // c10 — padded-batching waste audit
  // ---------------------------------------------------------------------

  /** Length-bucketed batching audit — the padding counterpart of c1's
    * packing: round each document's token count up to the next power of
    * two (the classic padded-batch bucket), and report per bucket how many
    * tokens the padding wastes (quantized fraction). The c1-vs-c10 pair is
    * the measurement a pipeline uses to decide between sequence packing
    * and padded batching.
    *
    * Integer-exact bucket: for n ≥ 2, ceil(log2(n)) is the bit-length of
    * n−1 (both engines spell it length(bin(n−1))); n ≤ 1 pins bucket 1.
    * Zero shuffle until the ≤ ~16-row bucket aggregate.
    */
  private def c10_batch_padding(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(size(words(col("text"))).cast("long").as("n"))
      .select(
        when(col("n") <= 1, 1L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(n - 1)) AS INT))"))
          .as("bucket"),
        col("n")
      )
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"))
      .select(
        col("bucket"),
        col("n_docs"),
        col("sum_tokens"),
        expr("10000 * (n_docs * bucket - sum_tokens) DIV (n_docs * bucket)").as("waste_q")
      )

  // ---------------------------------------------------------------------
  // c11 — integer-exact 3σ outlier gate
  // ---------------------------------------------------------------------

  /** Length-outlier gate without a float ever crossing the engine boundary:
    * |x − μ| > 3σ rewritten in sufficient statistics —
    * (n·x − s)² > 9·(n·ss − s²), with s = Σx, ss = Σx² — so the flag is
    * exact integer arithmetic in both engines (the a17/g14 discipline
    * applied to an inequality instead of a report). The corpus-length
    * outlier cut is the standard pre-training gate for truncated/concatenated
    * crawl artifacts.
    *
    * Scale: one single-row stats broadcast + a narrow per-row test.
    * Integer headroom: n·x and n·ss must fit 63 bits — at ~10¹¹ docs
    * rescale x (e.g. kilochars) or gate per shard; the inequality form is
    * unchanged.
    */
  private def c11_outlier_gate(s: SparkSession, d: String): DataFrame = {
    val stats = broadcast(
      table(s, d, "documents").agg(
        count(lit(1)).as("n"),
        sum("n_chars").as("sm"),
        sum(expr("n_chars * n_chars")).as("ss")
      )
    )
    table(s, d, "documents")
      .select(col("doc_id"), col("n_chars"))
      .crossJoin(stats)
      .select(
        col("doc_id"),
        col("n_chars"),
        expr(
          "CAST((n * n_chars - sm) * (n * n_chars - sm) > 9 * (n * ss - sm * sm) AS INT)"
        ).as("is_outlier")
      )
  }

  // ---------------------------------------------------------------------
  // c12 — boilerplate prefix detection
  // ---------------------------------------------------------------------

  /** Shared-prefix (boilerplate header) census: group documents of a source
    * by their first-2-word prefix and report, per source, how many prefix
    * groups exist, how many are SHARED (≥ 2 docs — the boilerplate
    * candidates a header-stripping pass would target), how many documents
    * sit in shared groups, and the quantized fraction. Anchored at position
    * 0, per source — the complement of c3's position-free cross-corpus
    * windows (a crawl's repeated page chrome is anchored, not floating).
    *
    * Prefixes shuffle as 56-bit md5 keys (c3's discipline); two keyed
    * aggregates, nothing wide.
    */
  private def c12_boilerplate_prefix(s: SparkSession, d: String): DataFrame = {
    val prefix = concat_ws(" ", slice(words(col("text")), 1, 2))
    val groups = table(s, d, "documents")
      .select(
        col("source"),
        conv(substring(md5(prefix), 1, 14), 16, 10).cast("long").as("pk")
      )
      .groupBy("source", "pk")
      .agg(count(lit(1)).as("n_docs"))
    groups
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_prefix_groups"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("shared_groups"),
        sum(when(col("n_docs") >= 2, col("n_docs")).otherwise(0L)).as("shared_docs"),
        sum("n_docs").as("total_docs")
      )
      .select(
        col("source"),
        col("n_prefix_groups"),
        col("shared_groups"),
        col("shared_docs"),
        expr("10000 * shared_docs DIV total_docs").as("shared_frac_q")
      )
  }

  // ---------------------------------------------------------------------
  // c13 — bigram-LM quality score (perplexity proxy)
  // ---------------------------------------------------------------------

  /** CCNet/KenLM-style LM quality filter, integer-exact: score each
    * document by how well its word bigrams are explained by a tiny corpus
    * language model — the top-256 bigrams by corpus frequency. A covered
    * bigram contributes its frequency's integer log₂ (`length(bin(cnt))`,
    * bit-identical in both engines — no float log crosses the boundary);
    * an OOV bigram contributes 0. Low coverage flags the gibberish /
    * boilerplate / wrong-language docs a float-perplexity gate would
    * catch, without a float.
    *
    * Scale shape: the exploded bigram frame is materialized ONCE
    * (c9's lineage-truncation pattern) and feeds both the LM build and
    * the probe; the LM itself is a TakeOrdered top-256 collapsed to a
    * BROADCAST, so scoring is a map-side join — the only wide shuffles
    * are the LM count and the per-doc re-aggregation, both on keys that
    * shrink with grouping. Sub-2-word docs carry no bigram and are out
    * of an LM score's scope (c6's min-length gate owns them); both
    * engines drop them identically.
    */
  private def c13_lm_quality(s: SparkSession, d: String): DataFrame = {
    val bi = graft.Lineage.truncate(
      table(s, d, "documents")
        .select(
          col("doc_id"), col("lang"), col("source"),
          explode(call_function("graft_word_ngrams", col("text"), lit(2))).as("gram")
        )
    )
    val lm = bi
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(256)
    bi.join(broadcast(lm), Seq("gram"), "left")
      .groupBy("doc_id", "lang", "source")
      .agg(
        count(lit(1)).as("n_bi"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("covered"),
        sum(when(col("cnt").isNotNull, length(bin(col("cnt"))).cast("long")).otherwise(0L))
          .as("score_q")
      )
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bi").as("n_bigrams"),
        sum("covered").as("n_covered"),
        sum("score_q").as("sum_score_q"),
        sum(when(col("covered") * 100 < col("n_bi") * 60, 1L).otherwise(0L)).as("n_gated")
      )
  }

  // ---------------------------------------------------------------------
  // c14 — temporal embargo split (leakage-safe train/test cut)
  // ---------------------------------------------------------------------

  /** Time-based train/embargo/test split: train is everything before 70%
    * of the observed time span, test everything after 80%, and the 10%
    * between is EMBARGOED — dropped from both sides so that no
    * train-adjacent information leaks across the boundary (the
    * forecasting/decontamination discipline; x5's hash split is the
    * i.i.d. counterpart, this is the autocorrelated-data one). The
    * embargo rows stay visible in the census — dropped with accounting,
    * never silently (m4).
    *
    * All boundary arithmetic is integer epoch-microseconds — no float
    * and no timezone-dependent date math crosses the engine boundary.
    *
    * Scale: the span is a single-row min/max aggregate broadcast to a
    * scan-local labeling pass (c8/c11's sufficient-statistics shape);
    * per-row cost is two long compares, and the split column exists
    * before any shuffle so shard writers filter it at the scan.
    */
  private def c14_embargo_split(s: SparkSession, d: String): DataFrame = {
    val ev = table(s, d, "events")
      // ts is TIMESTAMP(NANOS) parquet, read as raw nanos — micros via
      // `div 1000`, matching the oracle's epoch_us (Events.scala's idiom)
      .select(col("event_type"), col("user_id"), expr("ts div 1000").as("us"))
    val span = ev.agg(min("us").as("t0"), max("us").as("t1"))
    ev.crossJoin(broadcast(span))
      .withColumn(
        "split",
        when(col("us") < expr("t0 + ((t1 - t0) * 70) div 100"), "train")
          .when(col("us") < expr("t0 + ((t1 - t0) * 80) div 100"), "embargo")
          .otherwise("test")
      )
      .groupBy("event_type", "split")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users")
      )
  }

  // ---------------------------------------------------------------------
  // c15 — content-defined chunking (rolling-hash boundaries)
  // ---------------------------------------------------------------------

  /** LBFS/rsync-style content-defined chunking: a chunk boundary falls
    * after word i exactly when the hash of the 5-gram ENDING at i is
    * ≡ 0 mod 16 (expected chunk ≈ 16 words) — the boundary is a function
    * of local CONTENT, not position. That is the property c3's fixed
    * sliding windows lack: inserting one word into a document reshuffles
    * every downstream fixed window, but moves only the one CDC chunk
    * containing the edit — so chunk-level dedup stays stable under edits,
    * at ~1/16 of c3's candidate volume. The census counts chunks shared
    * across documents per source (the dedup opportunity CDC exists to
    * expose).
    *
    * Scale shape: boundary detection, chunk cutting, and chunk hashing
    * are ALL row-local array lambdas (c2's higher-order-function
    * discipline) — zero shuffle until 8-byte chunk hashes explode into
    * the two-level census, and the gram/chunk text never leaves the map
    * side (c3's hashed-key rule).
    */
  private def c15_cdc_chunks(s: SparkSession, d: String): DataFrame = {
    // boundary after word i (1-based, i ≥ 5) when h6(gram(i-4..i)) % 16 == 0.
    // The per-word gram hashing rides the native graft_gram_h6 kernel
    // (one byte-walk + digest per gram; value-pinned vs the old
    // slice/join/md5 lambda by GramHashSpec) — gram ENDING at word i is
    // array position i-4 of the start-indexed gram-hash array. The chunk
    // re-hash below touches ~n/16 chunks, so it keeps the lambda form but
    // reuses the already-split `ws` instead of re-splitting text per chunk.
    val bounds = when(
      col("n") >= 5,
      filter(
        sequence(lit(5), col("n")),
        i => element_at(col("gh"), i - 4) % 16 === 0
      )
    ).otherwise(array().cast("array<int>"))
    val starts = concat(array(lit(1)), transform(col("bounds"), b => b + 1))
    val ends   = concat(col("bounds"), array(col("n")))
    // a boundary on the last word makes an empty tail span — drop it
    val chunkHashes = filter(
      zip_with(
        starts, ends,
        (st, en) =>
          when(en >= st, h6(array_join(slice(col("ws"), st, en - st + 1), " "), "|cdcch"))
      ),
      x => x.isNotNull
    )
    table(s, d, "documents")
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("gh", expr("graft_gram_h6(ws, 5, '|cdc')"))
      .select(col("doc_id"), col("source"), col("ws"), col("n"), bounds.as("bounds"))
      .select(col("doc_id"), col("source"), explode(chunkHashes).as("ch"))
      .groupBy(col("source"), col("ch"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("n_docs_with"))
      .groupBy("source")
      .agg(
        sum("occ").as("n_chunk_instances"),
        count(lit(1)).as("distinct_chunks"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L)).as("shared_chunks"),
        sum(when(col("n_docs_with") >= 2, col("occ")).otherwise(0L)).as("shared_instances")
      )
  }

  // ---------------------------------------------------------------------
  // c16 — corpus-level line dedup (CCNet-style)
  // ---------------------------------------------------------------------

  /** Cross-document line deduplication, the CCNet/C4 boilerplate filter:
    * cut each document into its non-overlapping 10-word spans (the
    * pseudo-lines of this newline-free harness corpus — c2's span
    * structure), count how many DISTINCT documents each span occurs in
    * corpus-wide, and drop every span shared by ≥ 2 documents. Out: per
    * document, span count, dropped count, and the cleaned text reassembled
    * from the surviving spans in order. Complements c7 (intra-document
    * repetition) and c12 (anchored prefix census): this filter strips
    * boilerplate wherever it sits in the document, not just at the head.
    *
    * Scale shape: span text is hashed to a 56-bit md5 prefix on the map
    * side, and BOTH the corpus-frequency aggregate and the probe join key
    * on that 8-byte hash (c3's rule — the span string itself never enters
    * a shuffle for counting; it rides the doc-keyed path only for the
    * rebuild). The join reuses the aggregate's hash partitioning on `sk`,
    * so the plan is two narrow shuffles plus the final per-doc regroup.
    * The clean-text rebuild sorts only each document's own spans — bounded
    * by document length, never a global order.
    */
  private def c16_line_dedup(s: SparkSession, d: String): DataFrame = {
    val w      = words(col("text"))
    val nSpans = ceil(size(w) / lit(10.0)).cast("int")
    val spanTexts = transform(
      sequence(lit(0), nSpans - 1),
      i => array_join(slice(w, i * 10 + 1, lit(10)), " ")
    )
    val spans = table(s, d, "documents")
      .select(col("doc_id"), posexplode(spanTexts).as(Seq("idx", "txt")))
      .select(
        col("doc_id"),
        col("idx"),
        col("txt"),
        conv(substring(md5(col("txt")), 1, 14), 16, 10).cast("long").as("sk")
      )
    val freq = spans.groupBy("sk").agg(countDistinct("doc_id").as("n_docs"))
    spans
      .join(freq, "sk")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("dropped_spans"),
        array_join(
          transform(
            array_sort(collect_list(when(col("n_docs") < 2, struct(col("idx"), col("txt"))))),
            x => x.getField("txt")
          ),
          " "
        ).as("clean_text")
      )
  }

  /** C17 — exact-quota stratified split: x5's hash split hits 80/10/10
    * only in expectation (a Bernoulli coin per row); this one RANKS each
    * language stratum by a salted doc hash (doc_id tiebreak — total order,
    * no coin) and cuts at the integer quota boundaries, so every stratum's
    * split sizes are exactly ⌊0.8n⌋ / ⌊0.9n⌋−⌊0.8n⌋ / rest, run after run.
    * The guarantee matters when a stratum is SMALL (a rare language with
    * 30 docs can lose its whole test set to Bernoulli variance) and when a
    * contract pins byte-exact set sizes (benchmark reproducibility).
    * Output is the per-(lang, split) census the quota contract is checked
    * against.
    *
    * Scale: one window per stratum (partitioned — never global), carrying
    * an 8-byte hash; same shuffle budget as any per-key rank. Re-running
    * with a new salt re-deals the split without re-reading text.
    */
  private def c17_exact_quota_split(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn(
        "h",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit("|c17"))), 1, 8), 16, 10)
          .cast("long")
      )
    val w  = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    val wc = Window.partitionBy("lang")
    docs
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .select(
        col("lang"),
        when(col("rk") * 10 <= col("n") * 8, "train")
          .when(col("rk") * 10 <= col("n") * 9, "val")
          .otherwise("test")
          .as("split")
      )
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** PL9 — the corpus-build FUNNEL, end to end in one query: ingest →
    * quality gate (the c6 battery via the SHARED gateBattery transform —
    * batch, stream, and this funnel gate with one definition) → exact
    * dedup (keep-first by text md5) → sequence packing (c1's per-language
    * 4096-token windows), with the per-stage census a pipeline run
    * reports: docs surviving, tokens surviving, and the per-mille drop at
    * each stage. The `packed` row counts the 4096-token windows the
    * surviving tokens fill per language — the number a training run
    * actually budgets against. This is the integration artifact: every
    * stage is an operator the engine already proves individually
    * (c6/c3-family/c1), composed the way a production corpus build chains
    * them, with drop accounting so no stage can lose rows silently.
    *
    * Scale: each stage's census is one single-row aggregate broadcast
    * into the 4-row summary (registered bounded BNLJ); the stage frames
    * materialize once (Lineage.truncate — the d13 pattern) so the text is
    * scanned once per stage, not once per census.
    */
  private def pl9_corpus_funnel(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("ntok", size(words(col("text"))).cast("long"))
    val keepIds = graft.Lineage.truncate(
      gateBattery(docs).filter(col("keep") === 1).select("doc_id")
    )
    val kept = graft.Lineage.truncate(docs.join(keepIds, "doc_id"))
    val wDup = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = graft.Lineage.truncate(
      kept
        .withColumn("rn", row_number().over(wDup))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("ntok"))
    )
    val a0 = docs.agg(count(lit(1)).as("d0"), sum("ntok").as("t0"))
    val a1 = kept.agg(count(lit(1)).as("d1"), sum("ntok").as("t1"))
    val a2 = deduped.agg(count(lit(1)).as("d2"), sum("ntok").as("t2"))
    val a3 = deduped
      .groupBy("lang")
      .agg(sum("ntok").as("tok"))
      .agg(sum(expr("(tok - 1) DIV 4096 + 1")).as("npacks"))
    val one = broadcast(a0)
      .crossJoin(broadcast(a1))
      .crossJoin(broadcast(a2))
      .crossJoin(broadcast(a3))
    one
      .select(
        lit(0L).as("stage_idx"),
        lit("ingest").as("stage"),
        col("d0").as("n_docs"),
        col("t0").as("n_tokens"),
        lit(0L).as("drop_pm")
      )
      .unionByName(
        one.select(
          lit(1L).as("stage_idx"),
          lit("gate").as("stage"),
          col("d1").as("n_docs"),
          col("t1").as("n_tokens"),
          expr("1000 * (d0 - d1) DIV d0").as("drop_pm")
        )
      )
      .unionByName(
        one.select(
          lit(2L).as("stage_idx"),
          lit("exact_dedup").as("stage"),
          col("d2").as("n_docs"),
          col("t2").as("n_tokens"),
          expr("1000 * (d1 - d2) DIV d1").as("drop_pm")
        )
      )
      .unionByName(
        one.select(
          lit(3L).as("stage_idx"),
          lit("packed").as("stage"),
          col("npacks").as("n_docs"),
          col("t2").as("n_tokens"),
          lit(0L).as("drop_pm")
        )
      )
  }

  /** C18 — k-anonymity census (k = 5) over the release quasi-identifiers:
    * documents grouped by the attribute tuple an adversary could join on
    * — (lang, source, power-of-two length bucket) — and every cell with
    * fewer than k members flagged, with the at-risk doc count. This is
    * the audit a privacy pass runs BEFORE a corpus release: a document
    * alone in its (lang, source, ~length) cell is re-identifiable from
    * metadata even with the text redacted (x6 redacts content; c18
    * measures the metadata side channel). Cells below k are what a
    * release then suppresses or generalizes — the census prices that loss
    * per (lang, source) slice.
    *
    * Scale: two nested keyed aggregations, both map-side combinable; the
    * power-of-two bucket is c10's integer idiom (no float, merges by
    * addition).
    */
  private def c18_k_anonymity(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(
        col("lang"),
        col("source"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(n_chars)) AS INT))").as("len_bucket")
      )
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("cell_n"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("cell_n") < 5, 1L).otherwise(0L)).as("n_small_cells"),
        sum(when(col("cell_n") < 5, col("cell_n")).otherwise(0L)).as("n_docs_at_risk")
      )

  /** C21 — k-anonymity ENFORCEMENT (c18 audits, this applies): the release
    * pipeline's iterative generalize-then-suppress ladder over the same
    * quasi-identifiers. Each document tries to release its full
    * (lang, source, len_bucket) tuple; tuples whose cell holds < 5 docs
    * generalize to (lang, source), then to (lang), and whatever still
    * can't reach k = 5 is suppressed — the standard Samarati-style
    * full-domain ladder with the crucial subtlety that each level's
    * counts run over the SURVIVORS of the previous level only (a cell
    * that released at level 0 must not prop up the anonymity of the rest).
    * Output: per-doc released tuple with generalized fields nulled, plus
    * the level — 0/1/2 released, 3 suppressed.
    *
    * Scale: three keyed aggregates over strictly shrinking frames and
    * broadcast cell tables (cells are bounded by the QI domain, not by
    * rows); the anti-join ladder is how this runs at 100 TB — never a
    * per-doc loop.
    */
  private def c21_k_anonymity_enforce(s: SparkSession, d: String): DataFrame = {
    val k = 5L
    val base = table(s, d, "documents").select(
      col("doc_id"),
      col("lang"),
      col("source"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(n_chars)) AS INT))").as("len_bucket")
    )
    def releasable(df: DataFrame, qi: Seq[String]): DataFrame = {
      val ok = df.groupBy(qi.map(col): _*).agg(count(lit(1)).as("cn")).filter(col("cn") >= k)
      df.join(broadcast(ok.select(qi.map(col): _*)), qi, "left_semi")
    }
    val l0    = releasable(base, Seq("lang", "source", "len_bucket"))
    val rest1 = base.join(l0.select("doc_id"), Seq("doc_id"), "left_anti")
    val l1    = releasable(rest1, Seq("lang", "source"))
    val rest2 = rest1.join(l1.select("doc_id"), Seq("doc_id"), "left_anti")
    val l2    = releasable(rest2, Seq("lang"))
    val l3    = rest2.join(l2.select("doc_id"), Seq("doc_id"), "left_anti")
    l0.select(col("doc_id"), lit(0L).as("level"), col("lang"), col("source"), col("len_bucket"))
      .unionAll(l1.select(col("doc_id"), lit(1L).as("level"), col("lang"), col("source"),
        lit(null).cast("long").as("len_bucket")))
      .unionAll(l2.select(col("doc_id"), lit(2L).as("level"), col("lang"),
        lit(null).cast("string").as("source"), lit(null).cast("long").as("len_bucket")))
      .unionAll(l3.select(col("doc_id"), lit(3L).as("level"),
        lit(null).cast("string").as("lang"), lit(null).cast("string").as("source"),
        lit(null).cast("long").as("len_bucket")))
  }

  /** C19 — token-budget FILL: per language, documents are ranked by an
    * integer type-token-ratio quality score (distinct words per mille of
    * words, ties by doc_id) and greedily admitted while the tokens
    * admitted BEFORE the document stay under a 20k budget — the
    * "best-first until the budget is spent" selection a fixed-size
    * training mix runs per stratum (c8 balances BETWEEN strata; c19
    * spends WITHIN one). First-overshoot is admitted by construction
    * (prefix-greedy), so the fill can exceed 1000 per-mille by at most
    * one document — the standard knapsack-free approximation. One
    * per-language window (sort within stratum partitions — never a
    * global sort), then a 5-row aggregate.
    */
  private def c19_token_budget_fill(s: SparkSession, d: String): DataFrame = {
    val budget = 20000L
    val w      = words(col("text"))
    val scored = table(s, d, "documents").select(
      col("doc_id"),
      col("lang"),
      size(w).cast("long").as("n_tokens"),
      expr("1000 * size(array_distinct(split(text, ' '))) div size(split(text, ' '))")
        .as("ttr_pm")
    )
    val win = Window
      .partitionBy(col("lang"))
      .orderBy(col("ttr_pm").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    scored
      .withColumn("before", coalesce(sum(col("n_tokens")).over(win), lit(0L)))
      .filter(col("before") < budget)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_used"),
        min(col("ttr_pm")).as("worst_kept_ttr_pm")
      )
      .select(
        col("lang"),
        col("n_kept"),
        col("tokens_used"),
        expr("1000 * tokens_used div 20000").as("fill_pm"),
        col("worst_kept_ttr_pm")
      )
  }

  /** C20 — domain-blocklist gate: the first filter a web-scale crawl
    * pipeline applies (drop documents whose source domain sits under a
    * blocked suffix — ads/tracker/spam hosts — before any text work runs).
    * Domains are synthesized deterministically from doc_id (the harness
    * tables carry no URL; same convention as d8's canonicalization corpus).
    *
    * Scale design: suffix matching is done by exploding each domain into
    * its ≤k label-suffixes and EQUI-joining the broadcast blocklist on the
    * suffix — the per-row work is bounded by label depth, and the match is
    * a hash lookup. The naive alternative (one LIKE '%.suffix' predicate
    * per rule) is a |docs|×|rules| scan that can't use a join and grows
    * with every rule added; real blocklists carry 10⁵⁺ entries, which only
    * the equi-join form survives. Longest (most specific) matched rule is
    * kept, so an allow-vs-block tie at different depths is deterministic.
    */
  private def c20_domain_blocklist(s: SparkSession, d: String): DataFrame = {
    val m = col("doc_id") % 8
    val domain =
      when(m === 0, lit("cdn.ads.example.com"))
        .when(m === 1, lit("news.example.org"))
        .when(m === 2, lit("tracker.net"))
        .when(m === 3, concat(lit("u"), expr("doc_id div 8"), lit(".blog.example.net")))
        .when(m === 4, lit("ads.example.com"))
        .when(m === 5, lit("mirror.spam-site.io"))
        .when(m === 6, lit("docs.example.com"))
        .otherwise(lit("api.spam-site.io"))
    val blocklist = Seq("ads.example.com", "tracker.net", "spam-site.io")
    val rules = s.createDataFrame(
      s.sparkContext.parallelize(blocklist.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rule", org.apache.spark.sql.types.StringType)
      ))
    )
    val docs = table(s, d, "documents").select(col("doc_id"), domain.as("domain"))
    val suffixes = docs.select(
      col("doc_id"),
      col("domain"),
      explode(expr(
        """transform(sequence(1, size(split(domain, '\\.'))),
           i -> array_join(slice(split(domain, '\\.'), i,
                           size(split(domain, '\\.')) - i + 1), '.'))"""
      )).as("sfx")
    )
    val matched = suffixes
      .join(broadcast(rules), col("sfx") === col("rule"))
      .groupBy(col("doc_id"))
      .agg(expr("max_by(rule, length(rule))").as("rule"))
    docs
      .join(matched, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("domain"),
        col("rule").isNotNull.as("blocked"),
        col("rule")
      )
  }

  /** C22 — CURRICULUM batch audit: curriculum training orders data
    * easy→hard, but a 100 TB pipeline cannot afford a global
    * difficulty sort, and a strict sort is not even wanted — each batch
    * should keep a stable mix while the PHASE schedule advances. The
    * scale-safe construction audited here:
    *
    *   - difficulty phase by FIXED integer thresholds on a per-row score
    *     (word count — the standard length proxy; the thresholds are the
    *     FROZEN output of the c25 phase census — [[c25_phase_census]]
    *     derives tercile cuts from the live length histogram, and a
    *     training run freezes them the way d15/d17 freeze banding
    *     parameters — never a run-time global sort);
    *   - within a phase, batch assignment by md5 bucket — a deterministic
    *     shuffle, embarrassingly parallel, reproducible across reruns
    *     (o9's epoch-shuffle discipline);
    *   - the AUDIT (this query's output): per (phase, batch) the document
    *     count and the score envelope — the evenness a curriculum
    *     scheduler needs to trust the bucketing, priced in one keyed
    *     aggregate. Bounded output: phases × batches rows.
    *
    * No global window anywhere: one narrow projection + one hash
    * aggregate; the eventual physical ordering is repartitionByRange on
    * (phase, batch) + sortWithinPartitions — metadata here, not a sort.
    */
  private def c22_curriculum_batches(s: SparkSession, d: String): DataFrame = {
    val nBatches = 8L
    val scored = table(s, d, "documents").select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("difficulty_q")
    )
    val phased = scored.select(
      col("doc_id"),
      col("difficulty_q"),
      when(col("difficulty_q") < 40, 0L)
        .when(col("difficulty_q") < 70, 1L)
        .otherwise(2L)
        .as("phase"),
      (h6(col("doc_id"), "|cur") % nBatches).as("batch_id")
    )
    phased
      .groupBy(col("phase"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("difficulty_q")).as("min_q"),
        max(col("difficulty_q")).as("max_q"),
        sum(col("difficulty_q")).as("sum_q")
      )
  }

  /** C23 — PREFERENCE-PAIR mining: the (chosen, rejected) pair
    * construction an RLHF/DPO data build runs over groups of candidate
    * completions. Prompt groups are synthesized as doc_id div 8 (8
    * candidates per prompt — the harness stand-in for a real prompt_id
    * key); the reward proxy is an integer lexical-diversity score
    * (distinct words per mille, the c19 scorer). Per group: chosen =
    * argmax, rejected = argmin (ties broken toward the LOWER doc_id on
    * both sides — deterministic), kept only when the margin clears a
    * threshold (pairs that teach nothing are dropped, the standard DPO
    * filter).
    *
    * Scale shape: ONE hash aggregate on the prompt key — the argmax and
    * argmin ride in the same `max_by`/`min_by` structs, so mining is one
    * shuffle of (prompt, score, id) triples regardless of group fan-out;
    * never a self-join of candidates (the |group|² trap a naive pairwise
    * ranker pays).
    */
  private def c23_preference_pairs(s: SparkSession, d: String): DataFrame = {
    val scored = table(s, d, "documents").select(
      expr("doc_id div 8").as("prompt_id"),
      col("doc_id"),
      expr("1000 * size(array_distinct(split(text, ' '))) div size(split(text, ' '))")
        .as("reward_q")
    )
    scored
      .groupBy(col("prompt_id"))
      .agg(
        expr("max_by(struct(doc_id, reward_q), struct(reward_q, -doc_id))").as("ch"),
        expr("min_by(struct(doc_id, reward_q), struct(reward_q, doc_id))").as("rj"),
        count(lit(1)).as("n_candidates")
      )
      .select(
        col("prompt_id"),
        col("ch.doc_id").as("chosen_doc"),
        col("rj.doc_id").as("rejected_doc"),
        col("ch.reward_q").as("chosen_q"),
        col("rj.reward_q").as("rejected_q"),
        (col("ch.reward_q") - col("rj.reward_q")).as("margin_q"),
        col("n_candidates")
      )
      .filter(col("margin_q") >= 50)
  }

  /** C24 — training-SHARD MANIFEST with content checksums: the artifact a
    * shard publisher writes next to the packed data (c1's layout) so a
    * training job can verify byte-integrity and membership of every shard
    * WITHOUT re-reading payloads — per (lang, pack_id): document count,
    * token sum, id range, and a content checksum = md5 of the in-order
    * "id:tokens" records (order = doc_id, the pack's own order, so two
    * producers of the same shard agree bit-for-bit; s25's table-digest
    * discipline applied per shard instead of per table).
    *
    * Scale shape: one pass reuses c1's per-language cumulative window, the
    * manifest is ONE keyed aggregate on (lang, pack_id) — collect_list is
    * PACK-BOUNDED (≤ 4096 tokens of docs by construction, never a
    * whole-corpus group), and the output is shard-count-sized. Integrity
    * checking then costs one manifest read, not a corpus scan.
    */
  private def c24_shard_manifest(s: SparkSession, d: String): DataFrame = {
    val packed = c1_sequence_pack(s, d)
    packed
      .groupBy(col("lang"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        md5(
          to_binary(
            array_join(
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("n_tokens")))),
                r => concat(r.getField("doc_id"), lit(":"), r.getField("n_tokens"))
              ),
              "|"
            ),
            lit("utf-8")
          )
        ).as("content_md5")
      )
  }

  /** C25 — curriculum PHASE CENSUS: the d15/d17-style PRICING QUERY that
    * produces c22's phase thresholds, so the curriculum audit's inputs are
    * themselves engine output rather than constants asserted in a comment
    * (r11 verdict #7). Integer-exact tercile cuts of the word-count
    * distribution: build the length HISTOGRAM (one hash aggregate — the
    * a18 discipline: quantiles over the collapsed histogram, never a
    * global row sort), run one cumulative-count window over the ≤
    * |distinct lengths| bins, and take qk = the smallest length whose
    * cumulative count reaches ⌈N·k/3⌉ (cum·3 ≥ k·total — pure integer
    * comparison, no percentile approximation). Output: one row per phase
    * with its [lo_incl, hi_excl) boundary, document count, observed
    * length envelope, and per-mille share.
    *
    * Linkage to c22: a real curriculum FREEZES thresholds per training
    * run; c22 audits batches under the frozen values (40/70) and this
    * census is the query that prices the next freeze from the live
    * corpus. The window input is the value-domain-bounded histogram
    * (PlanSweepSpec pins the bound against executed metrics); the totals
    * and cut points ride single-row broadcasts.
    */
  /** C26 — hashed LINEAR quality classifier (r12 verdict #4; the
    * CCNet/fastText-style trained filter production corpora use where
    * c13's bigram LM is only a frequency gate — CCNet §4.2, LLaMA's
    * "trained a linear model to classify pages"): word occurrences hash
    * into 128 feature buckets (c9's md5 discipline), a LABELED SPLIT
    * (doc_id % 5 == 0) trains integer log-odds weights — positives are
    * the natural text, negatives the same docs through a deterministic
    * junk generator (16 md5-derived hex words per doc, the gibberish
    * x21's entropy signal targets) — and every held-out doc scores as
    * the sum of its words' bucket weights. Weight w(bk) =
    * bitlen(pos+1) − bitlen(neg+1) (c13's integer log₂, add-one
    * smoothed): natural-vocabulary buckets go positive, the junk-soup
    * buckets (uniform over all 128) go negative. Gate: keep iff
    * wsum > 0.
    *
    * Planted eval rows prove the separation in-output: each doc ≤ 9
    * re-enters as 'planted_junk' (its junk-generated text, id −2·id−1)
    * and as 'planted_clean' (its natural text, id −2·id−2) — the junk
    * keep-rate is 0‰ and its max score sits strictly below the clean
    * minimum (CurationSpec pins both). Output: per-source census —
    * docs, kept, keep ‰, score range.
    *
    * Score arithmetic: |w| ≤ 63 (bitlen of a long), so wsum + 64·n > 0
    * and the ‰-quantized mean (1000·(wsum+64n)) div n − 64000 divides
    * positives only — truncation == floor in both engines.
    *
    * Scale shape: the weight table is ≤128 rows broadcast at any corpus
    * size; training and scoring are each one explode + keyed aggregate;
    * the census aggregates by source. Nothing all-pairs, nothing global.
    */
  private val c26ScoredMemo = graft.Memo.newMap()

  /** Per-doc scored eval frame `(doc_id, source, n_words, wsum)` shared by
    * c26's census and a31's ROC/AUC audit — the classifier is trained and
    * applied ONCE per (session, dataset); each consumer reads its own
    * reduction of the same scores (the honesty requirement for a
    * metric-vs-census pair: they must audit the same model).
    */
  private def c26ScoredDocs(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(c26ScoredMemo, s, d)(c26ScoredDocsCompute(s, d))

  private def c26ScoredDocsCompute(s: SparkSession, d: String): DataFrame = {
    def junk(c: Column): Column =
      array_join(
        transform(sequence(lit(0), lit(15)), i => md5(concat(c, i.cast("string")))),
        " "
      )
    def bk(w: Column): Column =
      (conv(substring(md5(w), 1, 6), 16, 10).cast("long") % 128).as("bk")
    val docs      = table(s, d, "documents")
    val trainDocs = docs.filter(col("doc_id") % 5 === 0)
    val trainWords = graft.Lineage.truncate(
      trainDocs
        .select(lit(1L).as("y"), explode(words(col("text"))).as("w"))
        .unionAll(trainDocs.select(lit(0L).as("y"), explode(words(junk(col("text")))).as("w")))
        .select(col("y"), bk(col("w")))
    )
    val weights = trainWords
      .groupBy(col("bk"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .select(
        col("bk"),
        (length(bin(col("pos") + 1)).cast("long") - length(bin(col("neg") + 1)).cast("long"))
          .as("w_q")
      )
    val eval0 = docs
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
      .unionAll(
        docs
          .filter(col("doc_id") <= 9)
          .select(
            (-col("doc_id") * 2 - 1).as("doc_id"),
            lit("planted_junk").as("source"),
            junk(col("text")).as("text")
          )
      )
      .unionAll(
        docs
          .filter(col("doc_id") <= 9)
          .select(
            (-col("doc_id") * 2 - 2).as("doc_id"),
            lit("planted_clean").as("source"),
            col("text")
          )
      )
    eval0
      .select(col("doc_id"), col("source"), explode(words(col("text"))).as("w"))
      .select(col("doc_id"), col("source"), bk(col("w")))
      .join(broadcast(weights), Seq("bk"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_words"), sum(coalesce(col("w_q"), lit(0L))).as("wsum"))
  }

  private def c26_quality_classifier(s: SparkSession, d: String): DataFrame = {
    c26ScoredDocs(s, d)
      .select(
        col("source"),
        expr("(1000 * (wsum + 64 * n_words)) div n_words - 64000").as("score_q"),
        (col("wsum") > 0).as("keep")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min(col("score_q")).as("min_score_q"),
        max(col("score_q")).as("max_score_q")
      )
      .select(
        col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_kept").cast("long").as("n_kept"),
        expr("1000 * n_kept div n_docs").cast("long").as("keep_pm"),
        col("min_score_q").cast("long").as("min_score_q"),
        col("max_score_q").cast("long").as("max_score_q")
      )
  }

  /** A31 — classifier ROC/AUC audit via the exact Mann–Whitney U statistic
    * (Mann–Whitney 1947; Hanley–McNeil 1982 established AUC ≡ U/(n₁n₀) —
    * the standard answer to "how good is the quality filter?" that a
    * keep-rate census (c26) cannot give, because keep-rate depends on one
    * threshold while AUC integrates over all of them): positives are the
    * planted junk docs, and TWO detectors are scored side by side on the
    * SAME eval frame — the trained classifier (−wsum, c26's model via the
    * shared [[c26ScoredDocs]] memo) and the naive length baseline
    * (−n_words, "short docs are junk"). The paired rows are the
    * model-vs-baseline lift a production filter team reads before
    * shipping a gate.
    *
    * Tie-exact integer lane: group docs by score value, then
    * U₂ = Σ_s np_s·(2·(#neg below s) + nn_s) — twice the midrank U, so
    * ties contribute exactly ½ without any fraction crossing the engine
    * boundary; auc_bp = 10⁴·U₂ div (2·n₁·n₀). The cumulative window runs
    * over the VALUE-DOMAIN-bounded (scorer, score) histogram (scores are
    * ‰-quantized sums bounded by ±64·max_words — c25's bounded-bin
    * discipline), partitioned by scorer — never a corpus-wide sort.
    * Scale: one keyed aggregate over the scored frame + a two-partition
    * window over the histogram; the scored frame itself is amortized
    * across c26/a31 by the memo.
    */
  private def a31_classifier_auc(s: SparkSession, d: String): DataFrame = {
    val lab = c26ScoredDocs(s, d).select(
      col("doc_id"),
      (col("source") === "planted_junk").cast("long").as("y"),
      col("wsum"),
      col("n_words")
    )
    val scored = lab
      .select(lit("c26_wsum").as("scorer"), (-col("wsum")).as("score"), col("y"))
      .unionByName(lab.select(lit("len_words").as("scorer"), (-col("n_words")).as("score"), col("y")))
    val g = scored
      .groupBy(col("scorer"), col("score"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val w = Window
      .partitionBy(col("scorer"))
      .orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("clt", sum(col("nn")).over(w) - col("nn"))
      .groupBy(col("scorer"))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("clt") + col("nn"))).as("u2")
      )
      .select(
        col("scorer"),
        col("n_pos").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"),
        col("u2").cast("long").as("u2"),
        // decimal lane for the bp product: 10⁴·U₂ wraps 2⁶³ once n₁·n₀
        // passes ~5·10¹⁷ (a 10⁹-doc eval with planted positives) — the
        // same silent-wrap class the r15 advice fixed in a30
        expr("10000 * cast(u2 as decimal(38,0)) div (2 * cast(n_pos as decimal(38,0)) * n_neg)")
          .cast("long")
          .as("auc_bp")
      )
  }

  /** A32 — classifier CALIBRATION audit by reliability binning (the Guo
    * et al. 2017 reliability-diagram discipline on the integer score
    * domain — the complement of a31: AUC measures whether the classifier
    * RANKS junk below clean, this measures whether the score VALUE means
    * what a consumer thresholding on it assumes): c26's per-doc quality
    * score (value-domain-bounded in [−64000, 64000] by construction — the
    * log-odds weights are bit-lengths, so no rank window is ever needed)
    * is cut into 10 FIXED-WIDTH bins, and each bin reports its document
    * count, junk count, observed junk rate in basis points, and mean
    * score. A calibrated scorer shows junk rate falling as the score bin
    * rises; the spec pins the junk mass concentrating in the low bins.
    * Runs on the SHARED memoized scored frame (c26/a31's [[c26ScoredDocs]]
    * — three consumers, one compute). Mean scores shift by +64000 before
    * the integer division so truncation equals floor on both engines (the
    * d20 negative-div discipline).
    *
    * Scale shape: one keyed aggregate over the scored frame into ≤ 10
    * value-domain bins — no sort, no window, no ntile.
    */
  private def a32_score_reliability(s: SparkSession, d: String): DataFrame =
    c26ScoredDocs(s, d)
      .select(
        (col("source") === "planted_junk").cast("long").as("y"),
        expr("(1000 * (wsum + 64 * n_words)) div n_words - 64000").as("score_q")
      )
      .withColumn("bin", expr("least(greatest((score_q + 64000) div 12800, 0), 9)"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_junk"),
        expr("10000 * sum(y) div count(1)").as("junk_rate_bp"),
        expr("sum(score_q + 64000) div count(1) - 64000").as("mean_score_q")
      )
      .select(
        col("bin").cast("long").as("bin"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_junk").cast("long").as("n_junk"),
        col("junk_rate_bp").cast("long").as("junk_rate_bp"),
        col("mean_score_q").cast("long").as("mean_score_q")
      )

  /** A33 — BRADLEY–TERRY strength ratings from pairwise preferences
    * (Bradley–Terry 1952 via Hunter 2005's MM algorithm — the model
    * behind every LLM-arena leaderboard and RLHF reward sanity check:
    * P(i beats j) = r_i/(r_i+r_j), ratings fit by the minorize–maximize
    * update r_i ← W_i / Σ_j n_ij/(r_i+r_j)): "policies" are the 8
    * doc_id-mod-8 residue classes, matches come from c23's preference
    * pairs (chosen's policy beats rejected's; same-policy pairs carry no
    * signal and drop), and THREE unrolled MM passes run on the 10⁶
    * integer lattice — per-term floor division, per-pass L∞
    * normalization to the lattice top (the hitsQuantized discipline) —
    * so every rating is engine-exact and the oracle replays the passes
    * verbatim. Zero-sum denominators ride greatest(·, 1): a zero-win
    * policy's rating hits lattice 0 and stays there, deterministically.
    *
    * Scale shape: the corpus-sized work is c23's pair construction (one
    * grouped aggregate); everything after runs on the POLICY-bounded
    * match table (≤ 8×8 rows at any corpus size — value-domain-bounded
    * by the mod), with the per-pass L∞ max a collected literal folded
    * into the next projection, never a broadcast join. Overflow lane:
    * every product (wins·10¹², g·10⁶, r·10⁶) rides decimal(38,0) — the
    * g23 sufficient-statistic discipline — so no corpus size can wrap
    * it; `div` folds each quotient back to the long lattice (quotients
    * are lattice-bounded by construction: normalization caps r at 10⁶,
    * so r·10⁶ div mx ≤ 10⁶ and wins·10¹² div dq ≲ 2·(r_i+r_j) ≤ 4·10⁶).
    * An EMPTY match table (all pairs same-policy, or no prompt clears
    * the margin) short-circuits to an empty result, matching the
    * oracle, instead of NPE-ing on the collected max.
    */
  /** A34 — EXPECTED CALIBRATION ERROR for c26's classifier (Guo et al.
    * 2017 §2, Naeini et al. 2015's ECE — the fourth leg of the eval-stats
    * family: a31 ranks (AUC), a32 bins the raw score, a33 rates policies;
    * a reward/quality model REPORTS its calibration before anyone
    * thresholds on its probabilities): the integer score is squashed to a
    * junk-probability lattice p_junk_pm = clamp(500 − score_q/8, 0, 1000)
    * (slope matched to the observed ±4000 score mass; computed as
    * 8500 − (score_q+64000) div 8 so every division sees positive
    * operands — the d20 truncate-vs-floor discipline), cut into 5
    * fixed-width probability bins (the a18/c25 value-domain shape), and
    * each bin reports observed junk rate vs mean predicted probability.
    * The rollup census is the ECE proper: Σ_b n_b·|rate_b − p̄_b| div N,
    * in per-mille on every row.
    *
    * What it shows (spec-pinned at every SF): the clean mass sits in bin
    * 0 nearly calibrated (gap < 100‰), while every junk-occupied bin is
    * UNDERCONFIDENT — observed junk rate 1000‰ against predicted
    * 500–960‰ — i.e. the linear squash under-calls junk certainty, the
    * direction a consumer thresholding at 500 must know about.
    *
    * Scale shape: rides the SHARED memoized scored frame ([[c26ScoredDocs]]
    * — fourth consumer, one compute); one keyed aggregate into ≤ 5
    * value-domain bins, one single-row ECE census broadcast. No sort, no
    * window, no per-doc state.
    */
  private def a34_calibration_ece(s: SparkSession, d: String): DataFrame = {
    val binned = c26ScoredDocs(s, d)
      .select(
        (col("source") === "planted_junk").cast("long").as("y"),
        expr("(1000 * (wsum + 64 * n_words)) div n_words - 64000").as("score_q"))
      .select(
        col("y"),
        expr("least(greatest(8500 - (score_q + 64000) div 8, 0), 1000)").as("p_junk_pm"))
      .groupBy(expr("least(p_junk_pm div 200, 4)").as("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_junk"),
        expr("1000 * sum(y) div count(1)").as("junk_rate_pm"),
        expr("sum(p_junk_pm) div count(1)").as("mean_p_pm"))
    binned
      .crossJoin(broadcast(
        binned.agg(
          expr("sum(n_docs * abs(junk_rate_pm - mean_p_pm)) div sum(n_docs)").as("ece_pm"))))
      .select(
        col("bin").cast("long").as("bin"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_junk").cast("long").as("n_junk"),
        col("junk_rate_pm").cast("long").as("junk_rate_pm"),
        col("mean_p_pm").cast("long").as("mean_p_pm"),
        abs(col("junk_rate_pm") - col("mean_p_pm")).cast("long").as("gap_pm"),
        col("ece_pm").cast("long").as("ece_pm"))
  }

  /** A35 — BRIER SCORE with the Murphy decomposition (Brier 1950; Murphy
    * 1973's REL − RES + UNC partition — the proper-scoring-rule audit
    * that complements a34's ECE: ECE prices |gap| alone, the Brier
    * partition says whether the forecaster has SKILL (resolution above
    * reliability) and how far it sits from the no-skill climatology
    * forecast): per-doc squared error (p − 1000·y)² on the per-mille²
    * lattice, decomposed over a34's 5 probability bins —
    *   REL = Σ n_b(p̄_b − ȳ_b)²/N (miscalibration, ≥ 0),
    *   RES = Σ n_b(ȳ_b − ȳ)²/N   (how much the bins separate),
    *   UNC = ȳ(1000 − ȳ)          (corpus climatology, forecaster-free) —
    * plus the within-bin variance residual (Stephenson et al. 2008's
    * generalized terms; nonzero whenever p varies inside a bin, reported
    * honestly instead of pretending the textbook identity closes under
    * binning). Spec pins the skill claims: brier < unc (beats the
    * climatology forecast) and res > rel (separation dominates
    * miscalibration) — c26's classifier is skilled-but-miscalibrated,
    * the same story a31 (AUC high) + a34 (underconfident) tell.
    *
    * Scale shape: rides [[c26ScoredDocs]] (fifth consumer, one compute);
    * one corpus aggregate + one ≤5-bin aggregate + single-row census
    * math. Squared-error sums ride decimal(38,0) (the a33 lane — 10¹²
    * docs × 10⁶ pm² would wrap a long); every division sees positive
    * operands (p and the squash are shifted nonnegative).
    */
  private def a35_brier_decomposition(s: SparkSession, d: String): DataFrame = {
    val pr = c26ScoredDocs(s, d)
      .select(
        (col("source") === "planted_junk").cast("long").as("y"),
        expr("(1000 * (wsum + 64 * n_words)) div n_words - 64000").as("score_q"))
      .select(
        col("y"),
        expr("least(greatest(8500 - (score_q + 64000) div 8, 0), 1000)").as("p"))
    val scal = pr.agg(
      count(lit(1)).as("nt"),
      expr("1000 * sum(y) div count(1)").as("ybar"),
      expr("sum(cast((p - 1000 * y) * (p - 1000 * y) as decimal(38,0)))").as("bnum"))
    val bins = pr
      .groupBy(expr("least(p div 200, 4)").as("bin"))
      .agg(
        count(lit(1)).as("nb"),
        expr("1000 * sum(y) div count(1)").as("yb"),
        expr("sum(p) div count(1)").as("pb"))
    bins
      .crossJoin(broadcast(scal))
      .agg(
        expr("max(bnum) div max(nt)").cast("long").as("brier_pm2"),
        expr("sum(cast(nb as decimal(38,0)) * (pb - yb) * (pb - yb)) div max(nt)")
          .cast("long")
          .as("rel_pm2"),
        expr("sum(cast(nb as decimal(38,0)) * (yb - ybar) * (yb - ybar)) div max(nt)")
          .cast("long")
          .as("res_pm2"),
        expr("max(ybar * (1000 - ybar))").cast("long").as("unc_pm2"))
      .select(
        col("brier_pm2"),
        col("rel_pm2"),
        col("res_pm2"),
        col("unc_pm2"),
        expr("brier_pm2 - (rel_pm2 - res_pm2 + unc_pm2)").as("resid_pm2"))
  }

  private def a33_bradley_terry(s: SparkSession, d: String): DataFrame = {
    val pairs = c23_preference_pairs(s, d)
      .select(expr("chosen_doc % 8").as("w"), expr("rejected_doc % 8").as("l"))
      .filter(col("w") =!= col("l"))
    val m = graft.Lineage.truncate(
      pairs.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n"))
    )
    val wins = m.groupBy(col("w").as("p")).agg(sum(col("n")).as("wins"))
    val gp = m
      .select(least(col("w"), col("l")).as("a"), greatest(col("w"), col("l")).as("b"), col("n"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("n")).as("g"))
    val games = gp
      .select(col("a").as("i"), col("b").as("j"), col("g"))
      .unionByName(gp.select(col("b").as("i"), col("a").as("j"), col("g")))
    val perPlayer = graft.Lineage.truncate(
      games
        .groupBy(col("i").as("p"))
        .agg(sum(col("g")).as("games"))
        .join(wins, Seq("p"), "left")
        .select(col("p"), col("games"), coalesce(col("wins"), lit(0L)).as("wins"))
    )
    val r0 = graft.Lineage.truncate(perPlayer.select(col("p"), lit(1000000L).as("r")))
    val r = graft.Lineage.iterate(r0, 3) { (prev, _) =>
      val denom = games
        .join(prev.select(col("p").as("i"), col("r").as("ri")), "i")
        .join(prev.select(col("p").as("j"), col("r").as("rj")), "j")
        .groupBy(col("i").as("p"))
        .agg(sum(expr(
          "(cast(g as decimal(38,0)) * 1000000) div greatest(ri + rj, 1)")).as("dq"))
      val updated = perPlayer
        .join(denom, "p")
        .select(col("p"), expr(
          "(cast(wins as decimal(38,0)) * 1000000000000) div greatest(dq, 1)").as("r"))
      val raw = graft.Lineage.truncate(updated)
      // per-pass L∞ normalization — the max is a COLLECTED literal folded
      // into the projection (the g21/HITS shape), valid because the frame
      // is policy-bounded (≤ 8 rows by the mod), never data-scale. Read
      // through Option: an empty match table yields a NULL max, and the
      // lattice floor 1 keeps the (empty) projection well-typed.
      val mx = Option(raw.agg(max(col("r"))).head.getAs[java.lang.Long](0))
        .map(_.longValue).getOrElse(1L)
      raw.select(col("p"),
        expr(s"(cast(r as decimal(38,0)) * 1000000) div greatest(${mx}L, 1)").as("r"))
    }
    perPlayer
      .join(r, "p")
      .orderBy(col("r").desc, col("p").asc)
      .select(
        col("p").cast("long").as("player_id"),
        col("r").cast("long").as("rating_q"),
        col("wins").cast("long").as("wins"),
        col("games").cast("long").as("games")
      )
  }

  /** C27 — TEMPERATURE-sampled mixture weights (the multilingual /
    * multi-source sampling standard — mT5 §3.1, PaLM, XLM-R all sample
    * source s with probability ∝ n_s^α, α < 1, so small sources are
    * up-sampled without letting any one source dominate; c8's uniform
    * rebalance is the α → 0 limit, proportional sampling the α = 1
    * limit): α = 1/2 keeps the arithmetic ENGINE-EXACT — n^0.5 =
    * floor(sqrt(n)), and IEEE-754 sqrt is correctly rounded in both
    * engines so the floor agrees bit-for-bit (no pow/log float crosses
    * the boundary; other α need a float pow, declared out of the exact
    * lane). Per source: the mixture share mix_pm = 10⁶·isqrt(n_s) div
    * Σ isqrt, the per-epoch sampled-doc budget share of N total draws,
    * and the effective EPOCH count epochs_bp = 10⁴·planned div n_s — the
    * repetition-rate audit (a small source sampled at temperature
    * repeats; >1 epoch is the overfit-risk flag a mixing loop reads,
    * Muennighoff's repetition-harm threshold).
    *
    * Scale shape: one source-keyed count aggregate (map-side
    * combinable), a single-row Σ isqrt broadcast, pure projection after
    * — the c8 shape with a sub-linear numerator.
    */
  private def c27_temperature_mix(s: SparkSession, d: String): DataFrame = {
    val n = table(s, d, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"), floor(sqrt(col("n_docs"))).cast("long").as("w_q"))
    val tot = n.agg(sum(col("w_q")).as("wsum"), sum(col("n_docs")).as("n_total"))
    n.crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("w_q"),
        expr("1000000 * w_q div wsum").as("mix_pm"),
        expr("(n_total * w_q) div wsum").as("planned_docs"),
        expr("10000 * ((n_total * w_q) div wsum) div n_docs").as("epochs_bp")
      )
  }

  /** C30 — CAPPED mixture allocation by water-filling (the repetition-cap
    * pass a real data recipe runs AFTER c27's temperature weights: Gopher
    * caps any source at a few epochs and Muennighoff et al. 2023 measure
    * why — past ~4 epochs repeated tokens stop helping — so the sampler
    * must clamp small sources at cap_s = 4·n_s draws and REDISTRIBUTE the
    * surplus budget among the uncapped, which plain c27 proportionality
    * cannot express): two unrolled water-filling rounds on the per-source
    * frame — round 1 allocates the corpus-sized budget ∝ isqrt(n_s)
    * clamped at cap_s; round 2 re-divides the leftover among sources
    * still below cap by the same rule. Integer-exact throughout (c27's
    * α = 1/2 isqrt lane; products ride decimal(38,0) so a 10¹²-doc corpus
    * cannot wrap the budget·weight product — the a30 headroom rule).
    * Per source: the cap, the final allocation, epochs_bp = 10⁴·alloc /
    * n_s (≤ 4·10⁴ BY CONSTRUCTION — the spec pins it), the capped flag,
    * and the still-undistributed residue after round 2 (reported, not
    * hidden — more rounds converge it; two is the declared depth).
    *
    * Scale shape: one source-keyed count aggregate, then every round is
    * arithmetic on the |sources|-row frame against single-row scalar
    * broadcasts — the allocation loop never touches corpus rows again.
    */
  private def c30_capped_mixture(s: SparkSession, d: String): DataFrame = {
    val n = table(s, d, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("source"),
        col("n_docs"),
        floor(sqrt(col("n_docs"))).cast("long").as("w_q"),
        (col("n_docs") * 4L).as("cap_docs")
      )
    val t0 = n.agg(sum(col("w_q")).as("wsum0"), sum(col("n_docs")).as("budget0"))
    val r1 = n
      .crossJoin(broadcast(t0))
      .withColumn(
        "alloc1",
        expr("least(cap_docs, cast(budget0 as decimal(38,0)) * w_q div wsum0)")
      )
    val t1 = r1.agg(
      (max(col("budget0")) - sum(col("alloc1"))).as("left1"),
      sum(when(col("alloc1") < col("cap_docs"), col("w_q")).otherwise(0L)).as("wsum1")
    )
    val r2 = r1
      .crossJoin(broadcast(t1))
      .withColumn(
        "alloc2",
        when(
          col("alloc1") < col("cap_docs") && col("wsum1") > 0L,
          expr("least(cap_docs - alloc1, cast(left1 as decimal(38,0)) * w_q div wsum1)")
        ).otherwise(lit(0L))
      )
    val t2 = r2.agg((max(col("left1")) - sum(col("alloc2"))).as("residue"))
    r2.crossJoin(broadcast(t2))
      .select(
        col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("w_q"),
        col("cap_docs").cast("long").as("cap_docs"),
        (col("alloc1") + col("alloc2")).cast("long").as("alloc_docs"),
        (col("alloc1") + col("alloc2") === col("cap_docs")).as("capped"),
        expr("10000 * (alloc1 + alloc2) div n_docs").as("epochs_bp"),
        col("residue").cast("long").as("residue_docs")
      )
  }

  /** C28 — MAXIMAL repeated-substring dedup census (Lee–Ippolito–Nystrom–
    * Zhang–Eck–Callison-Burch–Carlini 2022, "Deduplicating Training Data
    * Makes Language Models Better" §3.1 ExactSubstr: production exact
    * dedup removes every repeated span ≥ k tokens, which requires the
    * MAXIMAL spans, not c3's fixed-window count — suffix-array semantics
    * expressed relationally): a window position is SHARED when its 5-gram
    * occurs in ≥ 1 other document (c3's cross-doc rule on the same 56-bit
    * md5-prefix keys); runs of CONSECUTIVE shared positions coalesce into
    * maximal repeated spans (gaps-and-islands, the c16 span discipline:
    * pos − row_number is constant exactly on a consecutive run), so a
    * span's token length is run_len + k − 1 — the exact length of the
    * repeated substring, which no fixed-k window census can report.
    * Because two maximal runs < k positions apart still overlap in TOKEN
    * coverage, the duplicated-token count merges the runs' token intervals
    * [start, end + k − 1] with a second islands pass (running max of
    * interval ends) before summing — the per-doc duplicated-token
    * fraction is over the interval UNION, never double-counted.
    *
    * Planted contaminants at −id−1 (collision-proof at any corpus size):
    * each source doc with ≥ 40 tokens contributes a clone doc whose first
    * 30 tokens copy the source verbatim and whose tail 10 tokens are
    * salted unique (`~u<doc_id>`), so the clone's maximal repeated span
    * is EXACTLY 30 tokens — windows 1..26 are shared (they also live in
    * the source), window 27 already touches a salted token. The spec pins
    * max_span_tokens = 30 on every planted row; recovery at the exact
    * planted length is the operator's correctness claim.
    *
    * Scale shape: grams shuffle as 56-bit longs (never 5-word strings);
    * docs-per-gram is one distinct + one gram-keyed aggregate; the shared
    * flag arrives via a gram-keyed equi-join; both islands passes are
    * windows PARTITIONED BY doc_id (per-doc state, arbitrarily many docs
    * in parallel — never a global window); output is one row per doc.
    */
  private def c28_repeated_spans(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val base = table(s, d, "documents").select(col("doc_id"), words(col("text")).as("ws"))
    val planted = base
      .filter(size(col("ws")) >= 40)
      .select(
        (-col("doc_id") - 1).as("doc_id"),
        concat(
          slice(col("ws"), 1, 30),
          transform(slice(col("ws"), 31, 10), w => concat(w, lit("~u"), col("doc_id")))
        ).as("ws")
      )
    val corpus = base.unionByName(planted)
    // Per-position gram keys ride the native graft_gram_h14 kernel (one
    // byte-walk + digest per gram, codegen'd) instead of an interpreted
    // slice/concat_ws/md5 lambda per position — same values by the
    // GramHashSpec pin (14 hex digits = conv(substr(md5(gram), 1, 14),
    // 16, 10), gram = space-joined full k-window); array index i ↔
    // position i+1, recovered via posexplode. The oracle keeps the
    // spelled-out SQL.
    val pos = corpus
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(expr(s"graft_gram_h14(ws, $k, '')")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gk"))
    // distinct (doc, gram) rows, so counting them per gram IS docs-per-gram
    val docsPerGram = pos.select(col("doc_id"), col("gk")).distinct()
      .groupBy("gk").agg(count(lit(1)).as("n_docs"))
    val shared = pos
      .join(docsPerGram, "gk")
      .filter(col("n_docs") >= 2)
      .select(col("doc_id"), col("pos"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = shared
      .withColumn("isl", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"))
      .select(col("doc_id"), col("sp"), (col("ep") + (k - 1)).as("et"))
    val wSpan = Window.partitionBy(col("doc_id")).orderBy(col("sp"))
    val merged = spans
      .withColumn(
        "prev_et",
        max(col("et")).over(wSpan.rowsBetween(Window.unboundedPreceding, -1))
      )
      .withColumn(
        "grp",
        sum(when(col("prev_et").isNull || col("sp") > col("prev_et"), 1L).otherwise(0L))
          .over(wSpan.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("sp")).as("cs"), max(col("et")).as("ce"))
    val perDocSpans = spans
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        max(col("et") - col("sp") + 1).as("max_span_tokens")
      )
    val perDocCov = merged
      .groupBy(col("doc_id"))
      .agg(sum(col("ce") - col("cs") + 1).as("dup_tokens"))
    corpus
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(perDocSpans, Seq("doc_id"), "left")
      .join(perDocCov, Seq("doc_id"), "left")
      .select(
        col("doc_id").cast("long").as("doc_id"),
        col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).cast("long").as("max_span_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        expr("1000 * coalesce(dup_tokens, 0) div n_tokens").as("dup_frac_pm"),
        (col("doc_id") < 0).as("planted")
      )
  }

  private def c25_phase_census(s: SparkSession, d: String): DataFrame = {
    val hist = table(s, d, "documents")
      .select(size(words(col("text"))).cast("long").as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n"))
    val wCum =
      Window.orderBy(col("len")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("n")).as("total"), (max(col("len")) + 1).as("hi_end"))
    val cuts = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .crossJoin(broadcast(tot))
      .agg(
        min(when(col("cum") * 3 >= col("total"), col("len"))).as("q1"),
        min(when(col("cum") * 3 >= lit(2) * col("total"), col("len"))).as("q2"),
        min(col("total")).as("total"),
        min(col("hi_end")).as("hi_end")
      )
    hist
      .crossJoin(broadcast(cuts))
      .withColumn(
        "phase",
        when(col("len") < col("q1"), 0L).when(col("len") < col("q2"), 1L).otherwise(2L)
      )
      .groupBy(col("phase"))
      .agg(
        sum(col("n")).as("n_docs"),
        min(col("len")).as("min_len"),
        max(col("len")).as("max_len"),
        min(col("q1")).as("q1"),
        min(col("q2")).as("q2"),
        min(col("total")).as("total"),
        min(col("hi_end")).as("hi_end")
      )
      .select(
        col("phase"),
        when(col("phase") === 0, 0L).when(col("phase") === 1, col("q1")).otherwise(col("q2"))
          .cast("long")
          .as("lo_incl"),
        when(col("phase") === 0, col("q1")).when(col("phase") === 1, col("q2"))
          .otherwise(col("hi_end"))
          .cast("long")
          .as("hi_excl"),
        col("n_docs").cast("long").as("n_docs"),
        col("min_len").cast("long").as("min_len"),
        col("max_len").cast("long").as("max_len"),
        expr("1000 * n_docs div total").as("share_pm")
      )
  }

  /** C29 — DSIR importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the principled
    * successor to c26's binary quality gate that production corpus
    * curation uses to select RAW data that LOOKS LIKE a target domain):
    * hashed word-BIGRAM features (B = 8192 md5 buckets, the paper's hashed
    * n-gram reduction), a bag-of-ngrams model for the TARGET (a PLANTED
    * domain: the doc_id % 7 == 0 slice through a deterministic word→hex
    * domain transform — planted because the synthetic corpus shares one
    * 31-word vocabulary across every lang/source, so no organic domain
    * signal exists; c26/d19's planting discipline) and for the RAW
    * scoring population, and a per-document importance score
    * log ŵ(x) = Σ_features
    * [log p_target(b) − log p_raw(b)] in c26's integer-log₂ discipline:
    * per-bucket weight w_q(b) = bitlen(cnt_t+1) − bitlen(cnt_r+1) +
    * (bitlen(R+B) − bitlen(T+B)) (add-one smoothing; the global
    * normalizer rides the weight table so the per-feature constant is
    * exact, not dropped). Selection = importance score > 0 (the
    * deterministic lane of the paper's Gumbel resampling); the per-mille
    * score is length-normalized with c26's positive-div trick
    * (|w_q| ≤ 126 after the normalizer, so wsum + 2B·n > 0).
    *
    * Scoring population: every natural doc plus 20 planted in-domain docs
    * at −id−1 (raw data that LOOKS LIKE the target — what DSIR exists to
    * find). Output: per-stratum census — docs, selected, sel ‰, score
    * range. The planted stratum selects at 1000‰ with its score range
    * strictly above the natural stratum's (spec-pinned): the importance
    * weights recover the planted domain exactly.
    *
    * Scale shape: two explode + keyed aggregates build the 128-row bucket
    * tables (map-side combinable), the weight table broadcasts at any
    * corpus size, scoring is one explode + broadcast join + doc-keyed
    * aggregate, census by language. Nothing all-pairs, no window.
    */
  private def c29_dsir_importance(s: SparkSession, d: String): DataFrame = {
    // 8192 buckets: the corpus has ~2x961 bigram types (31-word shared
    // vocabulary, natural + domain), so 128 buckets would mix natural and
    // domain mass in EVERY bucket and erase the per-bucket ratio the
    // importance weight reads (measured: selection collapsed to 0). At
    // 8192 most buckets are pure; the weight table is still a trivial
    // broadcast (the paper runs 10^4 hash buckets at web scale).
    val b = 8192
    def bk(w: Column): Column =
      (conv(substring(md5(w), 1, 6), 16, 10).cast("long") % b).as("bk")
    // The deterministic DOMAIN TRANSFORM: every word maps to an 8-hex
    // domain word. The synthetic corpus shares ONE 31-word vocabulary
    // across all langs/sources (measured — no organic domain signal
    // exists to select on), so the target domain is PLANTED, the
    // c26/d19 discipline: distinctive vocabulary, engine-exact.
    def domainText(c: Column): Column =
      array_join(
        transform(words(c), w => substring(md5(concat(w, lit("|dsir"))), 1, 8)),
        " "
      )
    val docs = table(s, d, "documents")
    // Target sample: the doc_id % 7 == 0 slice THROUGH the transform —
    // a held-out in-domain corpus, never scored itself.
    val targetDocs = docs
      .filter(col("doc_id") % 7 === 0)
      .select(domainText(col("text")).as("text"))
    // Scoring population: every natural doc, plus 20 planted in-domain
    // docs at the collision-proof −id−1 keys (raw data that LOOKS LIKE
    // the target — what DSIR exists to find).
    val scored0 = docs
      .select(col("doc_id"), lit("natural").as("stratum"), col("text"))
      .unionAll(
        docs
          .filter(col("doc_id") <= 19)
          .select(
            (-col("doc_id") - 1).as("doc_id"),
            lit("planted_domain").as("stratum"),
            domainText(col("text")).as("text")
          )
      )
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame =
      df.select(
        cols :+ explode(call_function("graft_word_ngrams", col("text"), lit(2))).as("g"): _*
      )
    val target = graft.Lineage.truncate(
      grams(targetDocs, Nil)
        .select(bk(col("g")))
        .groupBy(col("bk"))
        .agg(count(lit(1)).as("cnt_t"))
    )
    val scoredGrams = graft.Lineage.truncate(
      grams(scored0, Seq(col("doc_id"), col("stratum")))
        .select(col("doc_id"), col("stratum"), bk(col("g")))
    )
    // The RAW model is fit on the scoring population (the paper's raw
    // distribution: the crawl you're selecting from).
    val raw = graft.Lineage.truncate(
      scoredGrams.groupBy(col("bk")).agg(count(lit(1)).as("cnt_r"))
    )
    val totals = target
      .agg(sum(col("cnt_t")).as("t"))
      .crossJoin(broadcast(raw.agg(sum(col("cnt_r")).as("r"))))
    val weights = raw
      .join(target, Seq("bk"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("bk"),
        (length(bin(coalesce(col("cnt_t"), lit(0L)) + 1)).cast("long")
          - length(bin(col("cnt_r") + 1)).cast("long")
          + length(bin(col("r") + b)).cast("long")
          - length(bin(col("t") + b)).cast("long")).as("w_q")
      )
    scoredGrams
      .join(broadcast(weights), Seq("bk"))
      .groupBy(col("doc_id"), col("stratum"))
      .agg(count(lit(1)).as("n_grams"), sum(col("w_q")).as("wsum"))
      .select(
        col("stratum"),
        expr(s"(1000 * (wsum + ${2 * b} * n_grams)) div n_grams - ${2000 * b}").as("score_q"),
        (col("wsum") > 0).as("sel")
      )
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_sel"),
        min(col("score_q")).as("min_score_q"),
        max(col("score_q")).as("max_score_q")
      )
      .select(
        col("stratum"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_sel").cast("long").as("n_sel"),
        expr("1000 * n_sel div n_docs").cast("long").as("sel_pm"),
        col("min_score_q").cast("long").as("min_score_q"),
        col("max_score_q").cast("long").as("max_score_q")
      )
  }

  /** Memo-shared substrate (see [[QueryModule.substrates]]): the scored
    * document frame c26/c27/c29 read.
    */
  override def substrates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "_sub_curation_scored_docs" -> ((s, d) => c26ScoredDocs(s, d))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c30_capped_mixture" -> (c30_capped_mixture _),
    "c29_dsir_importance" -> (c29_dsir_importance _),
    "c28_repeated_spans" -> (c28_repeated_spans _),
    "c27_temperature_mix" -> (c27_temperature_mix _),
    "c26_quality_classifier" -> (c26_quality_classifier _),
    "a31_classifier_auc" -> (a31_classifier_auc _),
    "a32_score_reliability" -> (a32_score_reliability _),
    "a33_bradley_terry" -> (a33_bradley_terry _),
    "a34_calibration_ece" -> (a34_calibration_ece _),
    "a35_brier_decomposition" -> (a35_brier_decomposition _),
    "c25_phase_census" -> (c25_phase_census _),
    "c24_shard_manifest" -> (c24_shard_manifest _),
    "c22_curriculum_batches" -> (c22_curriculum_batches _),
    "c23_preference_pairs" -> (c23_preference_pairs _),
    "c21_k_anonymity_enforce" -> (c21_k_anonymity_enforce _),
    "c20_domain_blocklist" -> (c20_domain_blocklist _),
    "c19_token_budget_fill" -> (c19_token_budget_fill _),
    "pl9_corpus_funnel" -> (pl9_corpus_funnel _),
    "c18_k_anonymity" -> (c18_k_anonymity _),
    "c17_exact_quota_split" -> (c17_exact_quota_split _),
    "c16_line_dedup" -> (c16_line_dedup _),
    "c15_cdc_chunks" -> (c15_cdc_chunks _),
    "c13_lm_quality" -> (c13_lm_quality _),
    "c14_embargo_split" -> (c14_embargo_split _),
    "c1_sequence_pack" -> (c1_sequence_pack _),
    "c2_span_clean" -> (c2_span_clean _),
    "c3_substring_dedup" -> (c3_substring_dedup _),
    "c4_weighted_sample" -> (c4_weighted_sample _),
    "c5_bloom_prune" -> (c5_bloom_prune _),
    "c6_gopher_gates" -> (c6_gopher_gates _),
    "c7_self_dedup" -> (c7_self_dedup _),
    "c8_mixture_rebalance" -> (c8_mixture_rebalance _),
    "c9_importance_weights" -> (c9_importance_weights _),
    "c10_batch_padding" -> (c10_batch_padding _),
    "c11_outlier_gate" -> (c11_outlier_gate _),
    "c12_boilerplate_prefix" -> (c12_boilerplate_prefix _)
  )

  private def inList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString(", ")

  /** The c6 gate battery as reusable oracle CTEs (`t`, `q`, `g`) — shared
    * by the c6 oracle and the pl9 funnel oracle so both gate with
    * literally the same SQL, mirroring gateBattery's single definition on
    * the Spark side.
    */
  private val gateCtesSql =
    s"""t AS (SELECT doc_id, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
                 CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(StopEn)}))) AS BIGINT) AS n_stop
          FROM documents),
          q AS (SELECT doc_id, n_words,
                       CAST(100 * (length(text) - (n_words - 1)) // n_words AS BIGINT) AS mwl_q,
                       CAST(10000 * n_distinct // n_words AS BIGINT) AS distinct_q,
                       n_stop
                FROM t),
          g AS (SELECT doc_id, n_words, mwl_q, distinct_q, n_stop,
                       CAST(n_words >= 20 AND n_words <= 100000 AS INT) AS g_len,
                       CAST(mwl_q >= 300 AND mwl_q <= 800 AS INT) AS g_mwl,
                       CAST(n_stop >= 2 AS INT) AS g_stop,
                       CAST(distinct_q >= 3000 AS INT) AS g_distinct
                FROM q)"""

  /** Shared oracle CTE chain ending in `sc(doc_id, source, n_words, wsum)` —
    * the SQL twin of [[c26ScoredDocs]], consumed by the c26 census and the
    * a31 AUC audit so both oracles score the identical model.
    */
  private val c26ScSql =
    """jt AS (
           SELECT doc_id, source,
                  array_to_string(list_transform(generate_series(0, 15),
                    i -> md5(text || CAST(i AS VARCHAR))), ' ') AS jtext,
                  text
           FROM documents),
         trainw AS (
           SELECT 1 AS y, unnest(string_split(text, ' ')) AS w
           FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT 0 AS y, unnest(string_split(jtext, ' ')) AS w
           FROM jt WHERE doc_id % 5 = 0),
         wt AS (
           SELECT ('0x' || substr(md5(w), 1, 6))::BIGINT % 128 AS bk,
                  CAST(length(bin(sum(y) + 1)) - length(bin(sum(1 - y) + 1)) AS BIGINT) AS w_q
           FROM trainw GROUP BY 1),
         ev AS (
           SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 0
           UNION ALL
           SELECT -doc_id * 2 - 1, 'planted_junk', jtext FROM jt WHERE doc_id <= 9
           UNION ALL
           SELECT -doc_id * 2 - 2, 'planted_clean', text FROM jt WHERE doc_id <= 9),
         ew AS (
           SELECT doc_id, source,
                  ('0x' || substr(md5(w), 1, 6))::BIGINT % 128 AS bk
           FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM ev)),
         sc AS (
           SELECT doc_id, source, count(*) AS n_words,
                  sum(coalesce(w_q, 0)) AS wsum
           FROM ew LEFT JOIN wt USING (bk) GROUP BY 1, 2)"""

  /** One unrolled Bradley–Terry MM pass for the a33 oracle: ratings `rin`
    * → `rout`, mirroring the engine's greatest-guarded integer lattice.
    * Products ride HUGEINT, matching the engine's decimal(38,0) lane.
    */
  private def btPassSql(rin: String, rout: String): String =
    s"""d$rout AS (SELECT gm.i AS p,
                    sum((CAST(gm.g AS HUGEINT) * 1000000) // greatest(ri.r + rj.r, 1)) AS dq
             FROM gm JOIN $rin ri ON ri.p = gm.i JOIN $rin rj ON rj.p = gm.j
             GROUP BY 1),
         u$rout AS MATERIALIZED (
           SELECT pp.p,
                  (CAST(pp.wins AS HUGEINT) * 1000000000000) // greatest(d$rout.dq, 1) AS r
           FROM pp JOIN d$rout ON d$rout.p = pp.p),
         $rout AS MATERIALIZED (
           SELECT p,
                  (CAST(r AS HUGEINT) * 1000000)
                    // greatest((SELECT max(r) FROM u$rout), 1) AS r
           FROM u$rout)"""

  val oracles: Map[String, String] = Map(
    "a33_bradley_terry" ->
      s"""WITH sc AS (
           SELECT doc_id // 8 AS prompt_id, doc_id,
                  CAST(1000 * len(list_distinct(string_split(text, ' ')))
                       // len(string_split(text, ' ')) AS BIGINT) AS reward_q
           FROM documents),
         ch AS (SELECT prompt_id, doc_id AS chosen_doc, reward_q AS chosen_q FROM (
                  SELECT *, row_number() OVER (PARTITION BY prompt_id
                         ORDER BY reward_q DESC, doc_id ASC) AS rn FROM sc)
                WHERE rn = 1),
         rj AS (SELECT prompt_id, doc_id AS rejected_doc, reward_q AS rejected_q FROM (
                  SELECT *, row_number() OVER (PARTITION BY prompt_id
                         ORDER BY reward_q ASC, doc_id ASC) AS rn FROM sc)
                WHERE rn = 1),
         prs AS (SELECT c.chosen_doc % 8 AS w, r.rejected_doc % 8 AS l
                 FROM ch c JOIN rj r USING (prompt_id)
                 WHERE c.chosen_q - r.rejected_q >= 50
                   AND c.chosen_doc % 8 <> r.rejected_doc % 8),
         m AS MATERIALIZED (SELECT w, l, count(*) AS n FROM prs GROUP BY 1, 2),
         wn AS (SELECT w AS p, sum(n) AS wins FROM m GROUP BY 1),
         gp AS (SELECT least(w, l) AS a, greatest(w, l) AS b, sum(n) AS g
                FROM m GROUP BY 1, 2),
         gm AS MATERIALIZED (SELECT a AS i, b AS j, g FROM gp
                             UNION ALL SELECT b, a, g FROM gp),
         pp AS MATERIALIZED (
           SELECT g1.p, g1.games, COALESCE(wn.wins, 0) AS wins
           FROM (SELECT i AS p, sum(g) AS games FROM gm GROUP BY 1) g1
           LEFT JOIN wn ON wn.p = g1.p),
         r0 AS MATERIALIZED (SELECT p, CAST(1000000 AS BIGINT) AS r FROM pp),
         ${btPassSql("r0", "r1")},
         ${btPassSql("r1", "r2")},
         ${btPassSql("r2", "r3")}
         SELECT CAST(pp.p AS BIGINT) AS player_id,
                CAST(r3.r AS BIGINT) AS rating_q,
                CAST(pp.wins AS BIGINT) AS wins,
                CAST(pp.games AS BIGINT) AS games
         FROM pp JOIN r3 ON r3.p = pp.p
         ORDER BY rating_q DESC, player_id ASC""",
    "a35_brier_decomposition" ->
      s"""WITH $c26ScSql,
          sq AS (
            SELECT CASE WHEN source = 'planted_junk' THEN 1 ELSE 0 END AS y,
                   (1000 * (wsum + 64 * n_words)) // n_words - 64000 AS score_q
            FROM sc),
          pr AS (
            SELECT y, least(greatest(8500 - (score_q + 64000) // 8, 0), 1000) AS p
            FROM sq),
          n AS (SELECT count(*) AS nt, 1000 * sum(y) // count(*) AS ybar,
                       sum((p - 1000 * y) * (p - 1000 * y)) AS bnum
                FROM pr),
          agg AS (
            SELECT least(p // 200, 4) AS bin, count(*) AS nb,
                   1000 * sum(y) // count(*) AS yb,
                   sum(p) // count(*) AS pb
            FROM pr GROUP BY 1),
          dec AS (
            SELECT sum(nb * (pb - yb) * (pb - yb)) // (SELECT nt FROM n) AS rel,
                   sum(nb * (yb - (SELECT ybar FROM n)) * (yb - (SELECT ybar FROM n)))
                     // (SELECT nt FROM n) AS res
            FROM agg)
          SELECT CAST(bnum // nt AS BIGINT) AS brier_pm2,
                 CAST(rel AS BIGINT) AS rel_pm2,
                 CAST(res AS BIGINT) AS res_pm2,
                 CAST(ybar * (1000 - ybar) AS BIGINT) AS unc_pm2,
                 CAST(bnum // nt - (rel - res + ybar * (1000 - ybar)) AS BIGINT) AS resid_pm2
          FROM n, dec""",
    "a34_calibration_ece" ->
      s"""WITH $c26ScSql,
          sq AS (
            SELECT CASE WHEN source = 'planted_junk' THEN 1 ELSE 0 END AS y,
                   (1000 * (wsum + 64 * n_words)) // n_words - 64000 AS score_q
            FROM sc),
          pr AS (
            SELECT y, least(greatest(8500 - (score_q + 64000) // 8, 0), 1000) AS p_junk_pm
            FROM sq),
          agg AS (
            SELECT least(p_junk_pm // 200, 4) AS bin, count(*) AS n_docs, sum(y) AS n_junk,
                   1000 * sum(y) // count(*) AS junk_rate_pm,
                   sum(p_junk_pm) // count(*) AS mean_p_pm
            FROM pr GROUP BY 1),
          tot AS (SELECT sum(n_docs * abs(junk_rate_pm - mean_p_pm)) // sum(n_docs) AS ece_pm
                  FROM agg)
          SELECT CAST(bin AS BIGINT) AS bin, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(n_junk AS BIGINT) AS n_junk,
                 CAST(junk_rate_pm AS BIGINT) AS junk_rate_pm,
                 CAST(mean_p_pm AS BIGINT) AS mean_p_pm,
                 CAST(abs(junk_rate_pm - mean_p_pm) AS BIGINT) AS gap_pm,
                 CAST(ece_pm AS BIGINT) AS ece_pm
          FROM agg, tot""",
    "a32_score_reliability" ->
      s"""WITH $c26ScSql,
          sq AS (
            SELECT CASE WHEN source = 'planted_junk' THEN 1 ELSE 0 END AS y,
                   (1000 * (wsum + 64 * n_words)) // n_words - 64000 AS score_q
            FROM sc),
          b AS (
            SELECT least(greatest((score_q + 64000) // 12800, 0), 9) AS bin,
                   y, score_q
            FROM sq)
          SELECT CAST(bin AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(y) AS BIGINT) AS n_junk,
                 CAST(10000 * sum(y) // count(*) AS BIGINT) AS junk_rate_bp,
                 CAST(sum(score_q + 64000) // count(*) - 64000 AS BIGINT) AS mean_score_q
          FROM b GROUP BY 1""",
    "c29_dsir_importance" ->
      """WITH tdoc AS (
           SELECT list_transform(string_split(text, ' '),
                    w -> substr(md5(w || '|dsir'), 1, 8)) AS a
           FROM documents WHERE doc_id % 7 = 0),
         sdoc AS (
           SELECT doc_id, 'natural' AS stratum,
                  string_split(text, ' ') AS a
           FROM documents
           UNION ALL
           SELECT -doc_id - 1, 'planted_domain',
                  list_transform(string_split(text, ' '),
                    w -> substr(md5(w || '|dsir'), 1, 8))
           FROM documents WHERE doc_id <= 19),
         tg AS (SELECT ('0x' || substr(md5(gr), 1, 6))::BIGINT % 8192 AS bk
                FROM (SELECT unnest(list_transform(range(1, len(a)),
                               i -> a[i] || ' ' || a[i + 1])) AS gr
                      FROM tdoc)),
         sg AS (SELECT doc_id, stratum,
                       ('0x' || substr(md5(gr), 1, 6))::BIGINT % 8192 AS bk
                FROM (SELECT doc_id, stratum,
                             unnest(list_transform(range(1, len(a)),
                               i -> a[i] || ' ' || a[i + 1])) AS gr
                      FROM sdoc)),
         tgt AS (SELECT bk, count(*) AS cnt_t FROM tg GROUP BY 1),
         rawc AS (SELECT bk, count(*) AS cnt_r FROM sg GROUP BY 1),
         tot AS (SELECT (SELECT sum(cnt_t) FROM tgt) AS t,
                        (SELECT sum(cnt_r) FROM rawc) AS r),
         wt AS (SELECT rawc.bk,
                       CAST(length(bin(coalesce(cnt_t, 0) + 1))
                            - length(bin(cnt_r + 1))
                            + length(bin(r + 8192)) - length(bin(t + 8192))
                            AS BIGINT) AS w_q
                FROM rawc LEFT JOIN tgt USING (bk) CROSS JOIN tot),
         sc AS (SELECT doc_id, stratum, count(*) AS n_grams, sum(w_q) AS wsum
                FROM sg JOIN wt USING (bk) GROUP BY 1, 2),
         scored AS (SELECT stratum,
                           (1000 * (wsum + 16384 * n_grams)) // n_grams - 16384000
                             AS score_q,
                           wsum > 0 AS sel
                    FROM sc)
         SELECT stratum,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
                CAST(1000 * sum(CASE WHEN sel THEN 1 ELSE 0 END) // count(*)
                     AS BIGINT) AS sel_pm,
                CAST(min(score_q) AS BIGINT) AS min_score_q,
                CAST(max(score_q) AS BIGINT) AS max_score_q
         FROM scored GROUP BY 1""",
    "c28_repeated_spans" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         pl AS (SELECT -doc_id - 1 AS doc_id,
                       list_concat(ws[1:30],
                         list_transform(ws[31:40], w -> w || '~u' || doc_id)) AS ws
                FROM b WHERE len(ws) >= 40),
         corpus AS (SELECT doc_id, ws FROM b UNION ALL SELECT doc_id, ws FROM pl),
         pos AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, gk FROM (
                   SELECT doc_id,
                          unnest(generate_series(1, len(ws) - 4)) AS p,
                          unnest(list_transform(generate_series(1, len(ws) - 4),
                            i -> ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 14))::BIGINT))
                            AS gk
                   FROM corpus WHERE len(ws) >= 5)),
         dpg AS (SELECT gk, count(*) AS n_docs
                 FROM (SELECT DISTINCT doc_id, gk FROM pos) GROUP BY 1),
         sh AS (SELECT doc_id, pos FROM pos JOIN dpg USING (gk) WHERE n_docs >= 2),
         isl AS (SELECT doc_id, pos,
                        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
                 FROM sh),
         spans AS (SELECT doc_id, min(pos) AS sp, max(pos) + 4 AS et
                   FROM isl GROUP BY doc_id, g),
         mk AS (SELECT doc_id, sp, et,
                       max(et) OVER (PARTITION BY doc_id ORDER BY sp
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS prev_et
                FROM spans),
         grp AS (SELECT doc_id, sp, et,
                        sum(CASE WHEN prev_et IS NULL OR sp > prev_et THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY sp
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                 FROM mk),
         cov AS (SELECT doc_id, sum(ce - cs + 1) AS dup_tokens FROM (
                   SELECT doc_id, grp, min(sp) AS cs, max(et) AS ce
                   FROM grp GROUP BY 1, 2) GROUP BY 1),
         pds AS (SELECT doc_id, count(*) AS n_spans,
                        max(et - sp + 1) AS max_span_tokens
                 FROM spans GROUP BY 1)
         SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
                CAST(len(ws) AS BIGINT) AS n_tokens,
                CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
                CAST(COALESCE(max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
                CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
                CAST(1000 * COALESCE(dup_tokens, 0) // len(ws) AS BIGINT) AS dup_frac_pm,
                (c.doc_id < 0) AS planted
         FROM corpus c
         LEFT JOIN pds ON pds.doc_id = c.doc_id
         LEFT JOIN cov ON cov.doc_id = c.doc_id""",
    "c30_capped_mixture" ->
      """WITH n AS (
           SELECT source, count(*) AS n_docs,
                  CAST(floor(sqrt(count(*))) AS BIGINT) AS w_q,
                  CAST(count(*) * 4 AS BIGINT) AS cap_docs
           FROM documents GROUP BY 1),
         t0 AS (SELECT sum(w_q) AS wsum0, sum(n_docs) AS budget0 FROM n),
         r1 AS (
           SELECT n.source, n.n_docs, n.w_q, n.cap_docs, t0.budget0,
                  least(cap_docs, budget0 * w_q // wsum0) AS alloc1
           FROM n CROSS JOIN t0),
         t1 AS (
           SELECT max(budget0) - sum(alloc1) AS left1,
                  sum(CASE WHEN alloc1 < cap_docs THEN w_q ELSE 0 END) AS wsum1
           FROM r1),
         r2 AS (
           SELECT r1.source, r1.n_docs, r1.w_q, r1.cap_docs, r1.alloc1, t1.left1,
                  CASE WHEN alloc1 < cap_docs AND wsum1 > 0
                       THEN least(cap_docs - alloc1, left1 * w_q // wsum1)
                       ELSE 0 END AS alloc2
           FROM r1 CROSS JOIN t1),
         t2 AS (SELECT max(left1) - sum(alloc2) AS residue FROM r2)
         SELECT source,
                CAST(n_docs AS BIGINT) AS n_docs,
                w_q,
                CAST(cap_docs AS BIGINT) AS cap_docs,
                CAST(alloc1 + alloc2 AS BIGINT) AS alloc_docs,
                (alloc1 + alloc2 = cap_docs) AS capped,
                CAST(10000 * (alloc1 + alloc2) // n_docs AS BIGINT) AS epochs_bp,
                CAST(residue AS BIGINT) AS residue_docs
         FROM r2 CROSS JOIN t2""",
    "c27_temperature_mix" ->
      """WITH n AS (
           SELECT source, count(*) AS n_docs,
                  CAST(floor(sqrt(count(*))) AS BIGINT) AS w_q
           FROM documents GROUP BY 1),
         tot AS (SELECT sum(w_q) AS wsum, sum(n_docs) AS n_total FROM n)
         SELECT source,
                CAST(n_docs AS BIGINT) AS n_docs,
                w_q,
                CAST(1000000 * w_q // wsum AS BIGINT) AS mix_pm,
                CAST((n_total * w_q) // wsum AS BIGINT) AS planned_docs,
                CAST(10000 * ((n_total * w_q) // wsum) // n_docs AS BIGINT) AS epochs_bp
         FROM n CROSS JOIN tot""",
    "a31_classifier_auc" ->
      s"""WITH $c26ScSql,
         lab AS (SELECT doc_id,
                        CASE WHEN source = 'planted_junk' THEN 1 ELSE 0 END AS y,
                        wsum, n_words
                 FROM sc),
         sc2 AS (SELECT 'c26_wsum' AS scorer, -wsum AS score, y FROM lab
                 UNION ALL
                 SELECT 'len_words', -n_words, y FROM lab),
         gr AS (SELECT scorer, score, sum(y) AS np, sum(1 - y) AS nn
                FROM sc2 GROUP BY 1, 2),
         cw AS (SELECT scorer, np, nn,
                       sum(nn) OVER (PARTITION BY scorer ORDER BY score
                                     ROWS UNBOUNDED PRECEDING) - nn AS clt
                FROM gr)
         SELECT scorer,
                CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * clt + nn)) AS BIGINT) AS u2,
                CAST(10000 * CAST(sum(np * (2 * clt + nn)) AS HUGEINT)
                     // (2 * CAST(sum(np) AS HUGEINT) * sum(nn)) AS BIGINT) AS auc_bp
         FROM cw GROUP BY 1""",
    "c26_quality_classifier" ->
      s"""WITH $c26ScSql,
         scored AS (
           SELECT source,
                  (1000 * (wsum + 64 * n_words)) // n_words - 64000 AS score_q,
                  wsum > 0 AS keep
           FROM sc)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(1000 * sum(CASE WHEN keep THEN 1 ELSE 0 END) // count(*) AS BIGINT)
                  AS keep_pm,
                CAST(min(score_q) AS BIGINT) AS min_score_q,
                CAST(max(score_q) AS BIGINT) AS max_score_q
         FROM scored GROUP BY 1""",
    "c25_phase_census" ->
      """WITH lens AS (
           SELECT len(string_split(text, ' ')) AS l FROM documents),
         hist AS (SELECT l, count(*) AS n FROM lens GROUP BY 1),
         cum AS (SELECT l, n,
                        sum(n) OVER (ORDER BY l ROWS UNBOUNDED PRECEDING) AS c
                 FROM hist),
         tot AS (SELECT sum(n) AS total, max(l) + 1 AS hi_end FROM hist),
         cuts AS (SELECT min(CASE WHEN c * 3 >= total THEN l END) AS q1,
                         min(CASE WHEN c * 3 >= 2 * total THEN l END) AS q2
                  FROM cum, tot),
         ph AS (SELECT CASE WHEN l < q1 THEN 0 WHEN l < q2 THEN 1 ELSE 2 END AS phase,
                       l, n
                FROM hist, cuts)
         SELECT CAST(phase AS BIGINT) AS phase,
                CAST(CASE phase WHEN 0 THEN 0 WHEN 1 THEN q1 ELSE q2 END AS BIGINT) AS lo_incl,
                CAST(CASE phase WHEN 0 THEN q1 WHEN 1 THEN q2 ELSE hi_end END AS BIGINT) AS hi_excl,
                CAST(sum(n) AS BIGINT) AS n_docs,
                CAST(min(l) AS BIGINT) AS min_len,
                CAST(max(l) AS BIGINT) AS max_len,
                CAST(1000 * sum(n) // total AS BIGINT) AS share_pm
         FROM ph, cuts, tot
         GROUP BY phase, q1, q2, hi_end, total""",
    "c24_shard_manifest" ->
      """WITH p AS (
           SELECT doc_id, lang,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                    OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
           FROM documents),
         pk AS (
           SELECT doc_id, lang, n_tokens,
                  CAST(floor((cum - n_tokens) / 4096) AS BIGINT) AS pack_id
           FROM p)
         SELECT lang, pack_id,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                min(doc_id) AS min_doc_id,
                max(doc_id) AS max_doc_id,
                md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR),
                               '|' ORDER BY doc_id)) AS content_md5
         FROM pk GROUP BY 1, 2""",
    "c22_curriculum_batches" ->
      """WITH p AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS difficulty_q,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cur'), 1, 6))::BIGINT % 8
                    AS batch_id
           FROM documents)
         SELECT CASE WHEN difficulty_q < 40 THEN 0
                     WHEN difficulty_q < 70 THEN 1
                     ELSE 2 END AS phase,
                CAST(batch_id AS BIGINT) AS batch_id,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(min(difficulty_q) AS BIGINT) AS min_q,
                CAST(max(difficulty_q) AS BIGINT) AS max_q,
                CAST(sum(difficulty_q) AS BIGINT) AS sum_q
         FROM p GROUP BY 1, 2""",
    "c23_preference_pairs" ->
      """WITH sc AS (
           SELECT doc_id // 8 AS prompt_id, doc_id,
                  CAST(1000 * len(list_distinct(string_split(text, ' ')))
                       // len(string_split(text, ' ')) AS BIGINT) AS reward_q
           FROM documents),
         ch AS (SELECT prompt_id, doc_id AS chosen_doc, reward_q AS chosen_q FROM (
                  SELECT *, row_number() OVER (PARTITION BY prompt_id
                         ORDER BY reward_q DESC, doc_id ASC) AS rn FROM sc)
                WHERE rn = 1),
         rj AS (SELECT prompt_id, doc_id AS rejected_doc, reward_q AS rejected_q FROM (
                  SELECT *, row_number() OVER (PARTITION BY prompt_id
                         ORDER BY reward_q ASC, doc_id ASC) AS rn FROM sc)
                WHERE rn = 1),
         nc AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_candidates
                FROM sc GROUP BY 1)
         SELECT CAST(c.prompt_id AS BIGINT) AS prompt_id,
                c.chosen_doc, r.rejected_doc, c.chosen_q, r.rejected_q,
                c.chosen_q - r.rejected_q AS margin_q, nc.n_candidates
         FROM ch c
         JOIN rj r ON r.prompt_id = c.prompt_id
         JOIN nc ON nc.prompt_id = c.prompt_id
         WHERE c.chosen_q - r.rejected_q >= 50""",
    "c21_k_anonymity_enforce" ->
      """WITH b AS (SELECT doc_id, lang, source,
                CAST(1 << length(bin(n_chars)) AS BIGINT) AS len_bucket
              FROM documents),
         ok0 AS (SELECT lang, source, len_bucket FROM b
                 GROUP BY 1, 2, 3 HAVING count(*) >= 5),
         l0 AS (SELECT b.* FROM b JOIN ok0 USING (lang, source, len_bucket)),
         r1 AS (SELECT * FROM b WHERE doc_id NOT IN (SELECT doc_id FROM l0)),
         ok1 AS (SELECT lang, source FROM r1 GROUP BY 1, 2 HAVING count(*) >= 5),
         l1 AS (SELECT r1.* FROM r1 JOIN ok1 USING (lang, source)),
         r2 AS (SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM l1)),
         ok2 AS (SELECT lang FROM r2 GROUP BY 1 HAVING count(*) >= 5),
         l2 AS (SELECT r2.* FROM r2 JOIN ok2 USING (lang)),
         l3 AS (SELECT * FROM r2 WHERE doc_id NOT IN (SELECT doc_id FROM l2))
         SELECT doc_id, CAST(0 AS BIGINT) AS level, lang, source, len_bucket
         FROM l0
         UNION ALL
         SELECT doc_id, 1, lang, source, NULL FROM l1
         UNION ALL
         SELECT doc_id, 2, lang, NULL, NULL FROM l2
         UNION ALL
         SELECT doc_id, 3, NULL, NULL, NULL FROM l3""",
    // independent formulation: per-rule LIKE suffix tests, most specific
    // (longest) rule first — vs the engine's explode+equi-join
    "c20_domain_blocklist" ->
      """WITH d AS (SELECT doc_id,
                CASE doc_id % 8
                  WHEN 0 THEN 'cdn.ads.example.com'
                  WHEN 1 THEN 'news.example.org'
                  WHEN 2 THEN 'tracker.net'
                  WHEN 3 THEN 'u' || CAST(doc_id // 8 AS VARCHAR)
                              || '.blog.example.net'
                  WHEN 4 THEN 'ads.example.com'
                  WHEN 5 THEN 'mirror.spam-site.io'
                  WHEN 6 THEN 'docs.example.com'
                  ELSE 'api.spam-site.io' END AS domain
              FROM documents)
         SELECT doc_id, domain,
                (domain = 'ads.example.com' OR domain LIKE '%.ads.example.com'
                 OR domain = 'tracker.net' OR domain LIKE '%.tracker.net'
                 OR domain = 'spam-site.io' OR domain LIKE '%.spam-site.io')
                  AS blocked,
                CASE WHEN domain = 'ads.example.com'
                       OR domain LIKE '%.ads.example.com' THEN 'ads.example.com'
                     WHEN domain = 'spam-site.io'
                       OR domain LIKE '%.spam-site.io' THEN 'spam-site.io'
                     WHEN domain = 'tracker.net'
                       OR domain LIKE '%.tracker.net' THEN 'tracker.net'
                END AS rule
         FROM d""",
    "c19_token_budget_fill" ->
      """WITH t AS (
           SELECT doc_id, lang,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  1000 * len(list_distinct(string_split(text, ' ')))
                    // len(string_split(text, ' ')) AS ttr_pm
           FROM documents),
         r AS (
           SELECT *, coalesce(sum(n_tokens) OVER (
                    PARTITION BY lang ORDER BY ttr_pm DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS before
           FROM t)
         SELECT lang,
                CAST(count(*) AS BIGINT) AS n_kept,
                CAST(sum(n_tokens) AS BIGINT) AS tokens_used,
                CAST(1000 * sum(n_tokens) // 20000 AS BIGINT) AS fill_pm,
                CAST(min(ttr_pm) AS BIGINT) AS worst_kept_ttr_pm
         FROM r WHERE before < 20000 GROUP BY 1""",
    "c18_k_anonymity" ->
      """WITH q AS (SELECT lang, source,
                           1 << length(bin(n_chars)) AS len_bucket
                    FROM documents),
         cells AS (SELECT lang, source, len_bucket, count(*) AS cell_n
                   FROM q GROUP BY 1, 2, 3)
         SELECT lang, source,
                CAST(count(*) AS BIGINT) AS n_cells,
                CAST(sum(CASE WHEN cell_n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_cells,
                CAST(sum(CASE WHEN cell_n < 5 THEN cell_n ELSE 0 END) AS BIGINT) AS n_docs_at_risk
         FROM cells GROUP BY 1, 2""",
    "pl9_corpus_funnel" ->
      s"""WITH $gateCtesSql,
          keepids AS (SELECT doc_id FROM g
                      WHERE g_len = 1 AND g_mwl = 1 AND g_stop = 1 AND g_distinct = 1),
          docs AS (SELECT doc_id, lang, text,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
                   FROM documents),
          kept AS (SELECT d.* FROM docs d JOIN keepids USING (doc_id)),
          dd AS (SELECT doc_id, lang, ntok,
                        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                 FROM kept),
          dedup AS (SELECT doc_id, lang, ntok FROM dd WHERE rn = 1),
          s0 AS (SELECT count(*) AS d0, sum(ntok) AS t0 FROM docs),
          s1 AS (SELECT count(*) AS d1, sum(ntok) AS t1 FROM kept),
          s2 AS (SELECT count(*) AS d2, sum(ntok) AS t2 FROM dedup),
          s3 AS (SELECT sum((tok - 1) // 4096 + 1) AS npacks
                 FROM (SELECT lang, sum(ntok) AS tok FROM dedup GROUP BY 1))
          SELECT CAST(0 AS BIGINT) AS stage_idx, 'ingest' AS stage,
                 CAST(d0 AS BIGINT) AS n_docs, CAST(t0 AS BIGINT) AS n_tokens,
                 CAST(0 AS BIGINT) AS drop_pm
          FROM s0
          UNION ALL
          SELECT 1, 'gate', CAST(d1 AS BIGINT), CAST(t1 AS BIGINT),
                 CAST(1000 * (d0 - d1) // d0 AS BIGINT)
          FROM s0, s1
          UNION ALL
          SELECT 2, 'exact_dedup', CAST(d2 AS BIGINT), CAST(t2 AS BIGINT),
                 CAST(1000 * (d1 - d2) // d1 AS BIGINT)
          FROM s1, s2
          UNION ALL
          SELECT 3, 'packed', CAST(npacks AS BIGINT), CAST(t2 AS BIGINT),
                 CAST(0 AS BIGINT)
          FROM s2, s3""",
    "c17_exact_quota_split" ->
      """WITH h AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|c17'), 1, 8))::BIGINT AS h
           FROM documents),
         r AS (SELECT lang,
                      row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
                      count(*) OVER (PARTITION BY lang) AS n
               FROM h)
         SELECT lang,
                CASE WHEN rk * 10 <= n * 8 THEN 'train'
                     WHEN rk * 10 <= n * 9 THEN 'val'
                     ELSE 'test' END AS split,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM r GROUP BY 1, 2""",
    "c16_line_dedup" ->
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         s AS (SELECT doc_id,
                      list_transform(range(0, CAST(ceil(len(a) / 10.0) AS INT)),
                        i -> array_to_string(list_slice(a, i * 10 + 1, i * 10 + 10), ' ')) AS sp
               FROM a),
         e AS (SELECT doc_id, generate_subscripts(sp, 1) - 1 AS idx, unnest(sp) AS txt FROM s),
         r AS (SELECT doc_id, idx, txt, ('0x' || substr(md5(txt), 1, 14))::BIGINT AS sk FROM e),
         f AS (SELECT sk, count(DISTINCT doc_id) AS n_docs FROM r GROUP BY 1)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_spans,
                coalesce(string_agg(CASE WHEN n_docs < 2 THEN txt END, ' ' ORDER BY idx), '') AS clean_text
         FROM r JOIN f USING (sk) GROUP BY 1""",
    "c15_cdc_chunks" ->
      """WITH a AS (SELECT doc_id, source, string_split(text, ' ') AS a,
                           len(string_split(text, ' ')) AS n
                    FROM documents),
         b AS (SELECT doc_id, source, a, n,
                      CASE WHEN n >= 5
                           THEN list_filter(range(5, n + 1),
                                  i -> ('0x' || substr(md5(array_to_string(a[i-4:i], ' ') || '|cdc'), 1, 6))::BIGINT % 16 = 0)
                           ELSE CAST([] AS BIGINT[]) END AS bounds
               FROM a),
         c AS (SELECT doc_id, source, a,
                      list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
                      list_append(bounds, n) AS ends
               FROM b),
         ch AS (SELECT doc_id, source,
                       unnest(list_filter(
                         list_transform(range(1, len(starts) + 1),
                           j -> CASE WHEN ends[j] >= starts[j]
                                     THEN ('0x' || substr(md5(array_to_string(a[starts[j]:ends[j]], ' ') || '|cdcch'), 1, 6))::BIGINT
                                END),
                         x -> x IS NOT NULL)) AS ch
                FROM c),
         g AS (SELECT source, ch, count(*) AS occ, count(DISTINCT doc_id) AS n_docs_with
               FROM ch GROUP BY 1, 2)
         SELECT source,
                CAST(sum(occ) AS BIGINT) AS n_chunk_instances,
                CAST(count(*) AS BIGINT) AS distinct_chunks,
                CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
                CAST(sum(CASE WHEN n_docs_with >= 2 THEN occ ELSE 0 END) AS BIGINT) AS shared_instances
         FROM g GROUP BY source""",
    "c13_lm_quality" ->
      """WITH a AS (SELECT doc_id, lang, source, string_split(text, ' ') AS a FROM documents),
         bg AS (SELECT doc_id, lang, source,
                       unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i + 1])) AS gram
                FROM a),
         lm AS (SELECT gram, count(*) AS cnt FROM bg GROUP BY 1
                ORDER BY cnt DESC, gram ASC LIMIT 256),
         sc AS (SELECT b.doc_id, b.lang, b.source,
                       count(*) AS n_bi,
                       sum(CASE WHEN lm.cnt IS NOT NULL THEN 1 ELSE 0 END) AS covered,
                       sum(CASE WHEN lm.cnt IS NOT NULL THEN length(bin(lm.cnt)) ELSE 0 END) AS score_q
                FROM bg b LEFT JOIN lm ON b.gram = lm.gram
                GROUP BY 1, 2, 3)
         SELECT lang, source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_bi) AS BIGINT) AS n_bigrams,
                CAST(sum(covered) AS BIGINT) AS n_covered,
                CAST(sum(score_q) AS BIGINT) AS sum_score_q,
                CAST(sum(CASE WHEN covered * 100 < n_bi * 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_gated
         FROM sc GROUP BY 1, 2""",
    "c14_embargo_split" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events),
         l AS (SELECT event_type, user_id,
                      CASE WHEN epoch_us(ts) < t0 + ((t1 - t0) * 70) // 100 THEN 'train'
                           WHEN epoch_us(ts) < t0 + ((t1 - t0) * 80) // 100 THEN 'embargo'
                           ELSE 'test' END AS split
               FROM events, b)
         SELECT event_type, split,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM l GROUP BY 1, 2""",
    "c1_sequence_pack" ->
      """WITH t AS (SELECT doc_id, lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
                      sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) AS cum
               FROM t)
         SELECT doc_id, lang, n_tokens,
                CAST(cum - n_tokens AS BIGINT) AS start_off,
                CAST((cum - n_tokens) // 4096 AS BIGINT) AS pack_id,
                CAST((cum - n_tokens) // 4096 != (cum - 1) // 4096 AS INT) AS straddles
         FROM c""",
    "c2_span_clean" ->
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         s AS (SELECT doc_id,
                      list_transform(range(0, CAST(ceil(len(a) / 10.0) AS INT)),
                                     i -> list_slice(a, i * 10 + 1, i * 10 + 10)) AS spans
               FROM a),
         k AS (SELECT doc_id, spans,
                      list_filter(spans, sp -> len(list_distinct(sp)) >= 5
                                               AND NOT list_contains(sp, 'slow')) AS kept
               FROM s)
         SELECT doc_id,
                CAST(len(spans) AS BIGINT) AS n_spans,
                CAST(len(kept) AS BIGINT) AS kept_spans,
                coalesce(array_to_string(flatten(kept), ' '), '') AS clean_text
         FROM k""",
    "c3_substring_dedup" ->
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         g AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(a) - 3),
                        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4])) AS g
               FROM a),
         bd AS (SELECT doc_id,
                       ('0x' || substr(md5(g), 1, 14))::BIGINT AS gk,
                       count(*) AS c
                FROM g GROUP BY doc_id, ('0x' || substr(md5(g), 1, 14))::BIGINT),
         dg AS (SELECT gk, count(*) AS n_docs FROM bd GROUP BY 1)
         SELECT bd.doc_id,
                CAST(sum(c) AS BIGINT) AS n_windows,
                CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_windows,
                CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS BIGINT) AS dup_grams,
                CAST(10000 * sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) // sum(c) AS BIGINT) AS dup_frac_q
         FROM bd JOIN dg USING (gk) GROUP BY 1""",
    "c4_weighted_sample" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|wsample'), 1, 6))::BIGINT AS hv
         FROM documents),
         p AS (SELECT doc_id, lang, n_chars, CAST(hv // n_chars AS BIGINT) AS priority FROM h),
         r AS (SELECT doc_id, lang, n_chars, priority,
                      CAST(row_number() OVER (PARTITION BY lang
                                              ORDER BY priority, doc_id) AS BIGINT) AS rk
               FROM p)
         SELECT doc_id, lang, n_chars, priority, rk FROM r WHERE rk <= 10""",
    "c5_bloom_prune" ->
      """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         bp AS (SELECT (('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|b' || CAST(s AS VARCHAR)), 1, 6))::BIGINT % 4096) AS pos
                FROM b, (SELECT unnest([0, 1, 2, 3]) AS s)),
         r AS (SELECT pos // 32 AS word,
                      bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS reg
               FROM bp GROUP BY 1),
         op AS (SELECT o_orderkey, o_custkey, s,
                       (('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '|b' || CAST(s AS VARCHAR)), 1, 6))::BIGINT % 4096) AS pos
                FROM orders, (SELECT unnest([0, 1, 2, 3]) AS s)),
         oj AS (SELECT o_orderkey, any_value(o_custkey) AS ck,
                       bool_and(((coalesce(reg, 0) >> CAST(pos % 32 AS INT)) & 1) = 1) AS bp
                FROM op LEFT JOIN r ON op.pos // 32 = r.word
                GROUP BY o_orderkey)
         SELECT CAST(bp AS INT) AS bloom_pass,
                CAST(ck IN (SELECT c_custkey FROM b) AS INT) AS exact_member,
                CAST(count(*) AS BIGINT) AS n
         FROM oj GROUP BY 1, 2""",
    "c6_gopher_gates" ->
      s"""WITH $gateCtesSql
          SELECT doc_id, n_words, mwl_q, distinct_q, n_stop,
                 g_len, g_mwl, g_stop, g_distinct,
                 CAST(g_len = 1 AND g_mwl = 1 AND g_stop = 1 AND g_distinct = 1 AS INT) AS keep,
                 CASE WHEN g_len = 0 THEN 'len'
                      WHEN g_mwl = 0 THEN 'mwl'
                      WHEN g_stop = 0 THEN 'stop'
                      WHEN g_distinct = 0 THEN 'distinct'
                      ELSE 'pass' END AS reject_reason
          FROM g""",
    "c7_self_dedup" ->
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         g AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(a) - 3),
                        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4])) AS g
               FROM a),
         bd AS (SELECT doc_id,
                       ('0x' || substr(md5(g), 1, 14))::BIGINT AS gk,
                       count(*) AS c
                FROM g GROUP BY doc_id, ('0x' || substr(md5(g), 1, 14))::BIGINT)
         SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS n_windows,
                CAST(sum(c - 1) AS BIGINT) AS self_dup,
                CAST(count(*) AS BIGINT) AS distinct_grams,
                CAST(10000 * sum(c - 1) // sum(c) AS BIGINT) AS self_dup_frac_q
         FROM bd GROUP BY 1""",
    "c8_mixture_rebalance" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
         m AS (SELECT min(n_docs) AS min_docs FROM c),
         r AS (SELECT source, n_docs,
                      CAST(10000 * min_docs // n_docs AS BIGINT) AS rate_q
               FROM c CROSS JOIN m),
         k AS (SELECT d.source, count(*) AS n_kept
               FROM documents d JOIN r ON d.source = r.source
               WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 6))::BIGINT % 10000 < rate_q
               GROUP BY 1)
         SELECT r.source, n_docs, rate_q, CAST(n_kept AS BIGINT) AS n_kept
         FROM r JOIN k ON r.source = k.source""",
    "c9_importance_weights" ->
      """WITH w0 AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
         w AS (SELECT doc_id, lang,
                      ('0x' || substr(md5(w), 1, 6))::BIGINT % 64 AS bk
               FROM w0),
         c AS (SELECT bk, CAST(count(*) AS BIGINT) AS ccnt FROM w GROUP BY 1),
         t AS (SELECT bk, CAST(count(*) AS BIGINT) AS tcnt FROM w WHERE lang = 'en' GROUP BY 1),
         tot AS (SELECT (SELECT count(*) FROM w) AS c_tot,
                        (SELECT count(*) FROM w WHERE lang = 'en') AS t_tot),
         wt AS (SELECT c.bk,
                       CAST(10000 * coalesce(tcnt, 0) * c_tot // (ccnt * t_tot) AS BIGINT) AS weight_q
                FROM c LEFT JOIN t USING (bk) CROSS JOIN tot)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(weight_q) // count(*) AS BIGINT) AS score_q
         FROM w JOIN wt USING (bk) GROUP BY 1""",
    "c10_batch_padding" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
         b AS (SELECT CASE WHEN n <= 1 THEN 1
                           ELSE (CAST(1 AS BIGINT) << CAST(length(bin(n - 1)) AS INT)) END AS bucket,
                      n
               FROM t),
         g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
               FROM b GROUP BY 1)
         SELECT bucket, n_docs, sum_tokens,
                CAST(10000 * (n_docs * bucket - sum_tokens) // (n_docs * bucket) AS BIGINT) AS waste_q
         FROM g""",
    "c11_outlier_gate" ->
      """WITH st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(n_chars) AS BIGINT) AS sm,
                            CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
                     FROM documents)
         SELECT doc_id, n_chars,
                CAST((n * n_chars - sm) * (n * n_chars - sm) > 9 * (n * ss - sm * sm) AS INT) AS is_outlier
         FROM documents CROSS JOIN st""",
    "c12_boilerplate_prefix" ->
      """WITH p AS (SELECT source,
                ('0x' || substr(md5(array_to_string(string_split(text, ' ')[1:2], ' ')), 1, 14))::BIGINT AS pk
         FROM documents),
         g AS (SELECT source, pk, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_prefix_groups,
                CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_groups,
                CAST(sum(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END) AS BIGINT) AS shared_docs,
                CAST(10000 * sum(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END) // sum(n_docs) AS BIGINT) AS shared_frac_q
         FROM g GROUP BY 1"""
  )
}
