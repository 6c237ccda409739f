package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.table
import graft.functions.MediaStub
import graft.functions.MediaStub.{MediaFeatures, MediaInput}

/** Multimodal column handling: image/audio/video as opaque `binary` columns
  * with typed metadata, decode/feature-extract as per-partition typed
  * Dataset operations, and frame sampling — the operations a training-data
  * pipeline runs over media at corpus scale.
  *
  * The decode step is a deterministic STUB ([[graft.functions.MediaStub]] —
  * no codecs ship in this container); the Spark plumbing is real: binary
  * payload column, `Dataset[MediaInput]` → `mapPartitions` →
  * `Dataset[MediaFeatures]` with case-class encoders (one decoder init per
  * partition, streaming iterator — the batch shape a GPU/codec worker needs),
  * and `sequence`+`explode` frame fan-out.
  *
  * Scale notes: decode is embarrassingly parallel per partition with zero
  * shuffle; frame fan-out multiplies rows ~12× but stays narrow (no
  * shuffle); metadata extraction is a codegen'd projection.
  */
object Multimodal extends QueryModule {

  /** M1 — binary payload metadata: byte length, sha256 content id, and a
    * magic-byte format sniff — the typed-metadata projection that runs
    * before any decode at scale (cheap, prunes undecodable rows early).
    */
  private def m1_binary_meta(s: SparkSession, d: String): DataFrame = {
    val payload = col("text").cast("binary")
    table(s, d, "documents").select(
      col("doc_id"),
      octet_length(payload).cast("long").as("n_bytes"),
      sha2(payload, 256).as("content_id"),
      when(substring(col("text"), 1, 4) === "key ", lit("fmt/key"))
        .when(substring(col("text"), 1, 4) === "the ", lit("fmt/the"))
        .otherwise(lit("fmt/unknown"))
        .as("sniffed_format")
    )
  }

  /** M2 — decode/feature-extract over the binary column: typed Dataset →
    * synthetic (A)PNG containerization (the declared no-media-offline
    * step) → mapPartitions over a REAL header parser (signature check,
    * CRC-verified chunk walk, big-endian IHDR/acTL field extraction —
    * see [[graft.functions.MediaStub.decode]]) → typed features. The
    * field VALUES still derive from the md5 arithmetic the oracle
    * regenerates, so the decode boundary is exercised with real
    * byte-level work while results stay cross-engine checkable.
    */
  private def m2_feature_extract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    table(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaInput]
      .mapPartitions(_.map(MediaStub.synthesizeContainer)) // declared synthetic step
      .mapPartitions { rows =>
        // one decoder context per partition; rows stream through it
        rows.map(MediaStub.decode)
      }
      .toDF()
  }

  /** M12 — AUDIO decode + energy segmentation (m2's discipline on the
    * audio modality): synthetic but structurally REAL RIFF/WAVE container
    * (PCM fmt chunk, little-endian throughout — the declared
    * no-media-offline step) → a real parser (magic + size validation,
    * chunk walk, PCM16 sample decode) → per-64-sample-window energy Σs²
    * with the peak-window argmax — the first stage of any VAD/audio
    * segmentation pipeline. Waveform and header fields derive from the
    * md5 of the original bytes, so the oracle regenerates the exact
    * samples arithmetically while the engine earns them by parsing
    * bytes. Zero shuffle: typed mapPartitions, one row in → one row out.
    */
  private def m12_wav_energy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    table(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaInput]
      .mapPartitions(_.map(MediaStub.synthesizeWav)) // declared synthetic step
      .mapPartitions(_.map(MediaStub.decodeWav))
      .toDF()
  }

  /** M3 — frame sampling: every 10th frame index from the decoded frame
    * count, fanned out to (doc_id, frame_idx, frame_id) rows.
    */
  private def m3_frame_sample(s: SparkSession, d: String): DataFrame =
    m2_feature_extract(s, d)
      .select(
        col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(10L))).as("frame_idx")
      )
      .select(
        col("doc_id"),
        col("frame_idx"),
        concat(col("doc_id").cast("string"), lit("_f"), col("frame_idx").cast("string"))
          .as("frame_id")
      )

  /** M13 — VIDEO container decode (m2/m12's discipline on the third
    * modality, completing the image/audio/video triad): synthetic but
    * structurally REAL ISO-BMFF (MP4-family) container — ftyp brand
    * check, moov>mvhd with VERSION-DEPENDENT field widths (v0 32-bit /
    * v1 64-bit times, version = h mod 2 so both parse paths run on every
    * corpus), the 64-bit `largesize` box form (h mod 3 = 0) and the
    * size=0 to-EOF form (h mod 5 = 0) — parsed by a real recursive box
    * walker ([[graft.functions.MediaStub.decodeMp4]]) that fails loudly
    * on truncation, scope overrun, or a missing/duplicate/unknown-version
    * mvhd. r19 adds the trak>mdia>minf>stbl descent: stsd yields the
    * codec fourcc, stco yields REAL absolute chunk offsets (each must
    * land inside the rawd payload — the walker refuses an offset into
    * another box, the corrupt-container case), censused as
    * codec/n_chunks/chunk_span. Header fields derive from the md5 of the
    * original bytes, so
    * the oracle regenerates them arithmetically while the engine earns
    * them by walking boxes. Zero shuffle: typed mapPartitions, one row in
    * → one row out.
    */
  private def m13_mp4_meta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    table(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaInput]
      .mapPartitions(_.map(MediaStub.synthesizeMp4)) // declared synthetic step
      .mapPartitions(_.map(MediaStub.decodeMp4))
      .toDF()
  }

  /** M4 — modality dispatch: route rows by the magic-byte sniff into
    * per-modality feature branches (image → width/height arithmetic,
    * audio → sample-rate/duration arithmetic, unknown → quarantined with
    * null features), then union back to ONE standardized feature schema.
    * This is the fan-out/fan-in shape a mixed-modality corpus needs when
    * each modality has its own decode pipeline (each branch would carry its
    * own mapPartitions decoder at production scale — m2 demonstrates that
    * construct; here the branch features stay SQL-expressible for full
    * oracle parity). Each branch's filter pushes to its scan, branches are
    * narrow, and the union is a zero-shuffle concatenation. Quarantined
    * rows are KEPT (status column), not dropped — silent row loss in a
    * dispatch is the classic multimodal-pipeline bug.
    */
  private def m4_modality_dispatch(s: SparkSession, d: String): DataFrame = {
    val base = table(s, d, "documents")
      .select(
        col("doc_id"),
        col("text"),
        when(substring(col("text"), 1, 4) === "key ", lit("image"))
          .when(substring(col("text"), 1, 4) === "the ", lit("audio"))
          .otherwise(lit("unknown"))
          .as("modality")
      )
      .withColumn("h", conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long"))
    val image = base
      .filter(col("modality") === "image")
      .select(
        col("doc_id"), col("modality"),
        (lit(160) + col("h") % 480).as("feat_a"),
        (lit(90) + expr("h div 7") % 270).as("feat_b"),
        lit("ok").as("status")
      )
    val audio = base
      .filter(col("modality") === "audio")
      .select(
        col("doc_id"), col("modality"),
        (lit(8000) + col("h") % 40000).as("feat_a"),
        (lit(1) + expr("h div 13") % 600).as("feat_b"),
        lit("ok").as("status")
      )
    val unknown = base
      .filter(col("modality") === "unknown")
      .select(
        col("doc_id"), col("modality"),
        lit(null).cast("long").as("feat_a"),
        lit(null).cast("long").as("feat_b"),
        lit("quarantined").as("status")
      )
    image.unionByName(audio).unionByName(unknown)
  }

  /** M5 — modality-partitioned layout + pruned read-back: m4's dispatched
    * corpus is written Hive-partitioned BY MODALITY, then a single
    * modality's partition is read back by path. At corpus scale this is
    * the layout decision that makes per-modality training jobs cheap —
    * an image-only epoch reads the `modality=image/` directory and never
    * scans audio bytes (directory-level pruning, stronger than row-group
    * skipping). The read-back aggregate proves the roundtrip preserved
    * the branch exactly.
    */
  private def m5_modality_partitioned(s: SparkSession, d: String): DataFrame = {
    val base  = s"${sys.props("java.io.tmpdir")}/graft_io/m5"
    val asset = "media_features"
    graft.io.TableIO.writePartitioned(m4_modality_dispatch(s, d), base, asset, "modality")
    graft.io.TableIO
      .readPartitions(
        s,
        base,
        asset,
        Seq(graft.io.TableIO.partitionPath(base, asset, "modality", Some("image")))
      )
      .groupBy(col("modality").cast("string").as("modality"), col("status"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("feat_a")).cast("long").as("sum_feat_a"),
        max(col("feat_b")).cast("long").as("max_feat_b")
      )
  }

  /** M6 — payload chunking: each document's payload split into fixed
    * 256-char ranges with offset index, actual length (last chunk is
    * short), and a per-chunk content hash — the storage-page split a
    * media/blob pipeline runs before distributing large payloads (chunked
    * upload, content-defined dedup at page granularity, range reads). One
    * narrow projection + a `sequence` fan-out, no shuffle; the same
    * plumbing applies verbatim to `binary` payloads at scale. Per-chunk
    * hashes mean two payloads sharing pages dedup at page level even when
    * the whole-payload hash (m1) differs.
    */
  private def m6_payload_chunks(s: SparkSession, d: String): DataFrame = {
    val W = 256L
    table(s, d, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
      .select(
        col("doc_id"),
        col("n"),
        col("text"),
        explode(sequence(lit(0L), greatest(expr(s"(n - 1) div $W"), lit(0L)))).as("chunk_idx")
      )
      .select(
        col("doc_id"),
        col("chunk_idx"),
        least(lit(W), col("n") - col("chunk_idx") * W).as("chunk_len"),
        md5(expr(s"substring(text, cast(chunk_idx * $W + 1 as int), $W)")).as("chunk_hash")
      )
  }

  /** M7 — INTERLEAVED image-text sequence packing: c1's packing over a
    * heterogeneous item stream. Every document contributes a text item
    * (one token per word); image-bearing documents (doc_id % 3 == 0 — the
    * deterministic stand-in for a media-presence flag) additionally
    * contribute a 576-token image item after their text (the ViT-style
    * fixed patch-token cost a vision encoder emits per image). Items pack
    * into 4096-token windows per language with straddle accounting —
    * exactly the sample-construction step of an interleaved multimodal
    * training run (text and image placeholder runs share one token
    * budget), and the reason packing must be ITEM-typed, not text-only:
    * an image's tokens are opaque to any text chunker.
    *
    * Scale: same plan class as c1 — one per-language window over an item
    * stream that is ≤ 2 rows per document; nothing global, nothing wide.
    */
  private def m7_interleaved_pack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, d, "documents")
    val textItems = docs.select(
      col("doc_id"),
      col("lang"),
      lit("text").as("item_type"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      lit(0).as("ord")
    )
    val imageItems = docs
      .filter(col("doc_id") % 3 === 0)
      .select(
        col("doc_id"),
        col("lang"),
        lit("image").as("item_type"),
        lit(576L).as("n_tokens"),
        lit(1).as("ord")
      )
    val w = Window
      .partitionBy("lang")
      .orderBy(col("doc_id"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    textItems
      .unionByName(imageItems)
      .withColumn("cum", sum("n_tokens").over(w))
      .select(
        col("doc_id"),
        col("item_type"),
        col("lang"),
        col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_off"),
        floor((col("cum") - col("n_tokens")) / 4096).cast("long").as("pack_id"),
        (floor((col("cum") - col("n_tokens")) / 4096) =!=
          floor((col("cum") - 1) / 4096)).cast("int").as("straddles")
      )
  }

  /** M9 — PAYLOAD near-dup via block-fingerprint index (the binary/opaque
    * counterpart of d1's shingle LSH, for media payloads where tokenization
    * doesn't exist — the rsync/CDC idea applied to dedup): each payload is
    * fingerprinted as up to 16 aligned 32-byte block hashes; two payloads
    * are near-dups when they agree on all but at most one of the smaller
    * side's full blocks (an append-corrupted or tail-re-encoded copy keeps
    * every aligned prefix block). Pairs come from an inverted
    * (block_idx, hash) index equi-join — cost ∝ Σ bucket², never all-pairs,
    * the same bound d1's banding relies on — and the corpus is documents ∪
    * an append-perturbed copy (the Dedup test-corpus construction), so the
    * planted pairs are deterministic. The payload is the text column's
    * bytes, like every m-family query (the codec is the declared stub;
    * byte-block hashing is codec-agnostic by design).
    */
  private def m9_payload_block_dedup(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
    // planted near-dup copy at −id−1: negation keeps planted ids disjoint
    // from any non-negative corpus id at any scale (a fixed +100000 offset
    // collided once real ids crossed it — the d16 lesson, r10 advice)
    val c = docs.unionAll(
      docs.select(
        (-col("doc_id") - 1).as("doc_id"),
        concat(col("text"), lit(" zz tail")).as("text")
      )
    )
    val blk = c
      .withColumn("nb", least(floor(length(col("text")) / 32), lit(16)).cast("int"))
      .filter(col("nb") >= 1)
      .select(
        col("doc_id"),
        col("nb"),
        explode(sequence(lit(0), col("nb") - 1)).as("bi"),
        col("text")
      )
      .select(
        col("doc_id"),
        col("nb"),
        col("bi"),
        md5(encode(expr("substring(text, bi * 32 + 1, 32)"), "UTF-8")).as("h")
      )
    val a = blk.select(col("doc_id").as("doc1"), col("nb").as("nb1"), col("bi"), col("h"))
    val b = blk.select(col("doc_id").as("doc2"), col("nb").as("nb2"), col("bi"), col("h"))
    a.join(b, Seq("bi", "h"))
      .filter(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(
        count(lit(1)).as("shared_blocks"),
        max(col("nb1")).as("n1"),
        max(col("nb2")).as("n2")
      )
      .filter(col("shared_blocks") >= greatest(lit(1), least(col("n1"), col("n2")) - 1))
      .select(col("doc1"), col("doc2"), col("shared_blocks"))
  }

  /** M10 — PERCEPTUAL-HASH near-dup (average-hash + banded Hamming LSH):
    * the image-dedup rung m9's exact block fingerprints cannot reach — a
    * re-encoded/slightly-edited image shares no 32-byte block with its
    * source but its downsampled luminance barely moves. The classic
    * pipeline, Spark-first:
    *
    *   1. "decode" each payload to an 8×8 grayscale — here the
    *      deterministic md5-stream fake decode (the m2/m4 convention: the
    *      image libs aren't in this container; the Spark-side plumbing is
    *      real), with one PLANTED near-dup per document at −id−1 whose
    *      single perturbed pixel models a small edit;
    *   2. aHash: bit i = pixel i above the image mean — 64 bits, pure
    *      integer column arithmetic;
    *   3. banded Hamming LSH: the 64-bit hash splits into 4 × 16-bit band
    *      keys; candidates = pairs sharing ≥1 band bucket (pigeonhole: any
    *      pair within Hamming ≤ 3 is GUARANTEED caught — ≤3 flipped bits
    *      cannot touch all 4 bands; beyond that recall decays, the declared
    *      trade). Never an all-pairs Hamming scan: candidate cost is
    *      Σ C(bucket, 2) over ~uniform 16-bit keys;
    *   4. exact Hamming verification on candidates only (zip_with over the
    *      bit arrays), keep ≤ 6.
    *
    * One narrow projection builds pixels/bits/bands (no shuffle); one
    * band-key equi-join; one keyed verify join — the d1 shape transplanted
    * to image space, every hash md5-derived so the DuckDB oracle
    * regenerates all 64 bits bit-identically.
    */
  private def m10_phash_neardup(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
    val a    = docs.select(col("doc_id"), col("doc_id").as("src"), lit(false).as("pert"))
    val b    = docs.select((-col("doc_id") - 1).as("doc_id"), col("doc_id").as("src"), lit(true).as("pert"))
    // graft_phash_bits fuses the whole per-image chain — md5 pixel stream
    // (8 digests), the single-pixel perturbation ((pix + 128) % 256 at
    // src % 64 when pert), the mean fold and the bit threshold — into ONE
    // codegen'd call where the old chain ran three interpreted HOF lambdas
    // per image on top of graft_phash_pix; graft_band_keys folds the 4 ×
    // 16-bit LSH keys the same way. GramHashSpec pins value equality with
    // the spelled-out templates; the oracle keeps the spelled-out SQL.
    val imgs = a
      .unionByName(b)
      .withColumn(
        "bits",
        expr("graft_phash_bits(src, IF(pert, cast(src % 64 AS int), -1))"))
      .withColumn("bk", expr("graft_band_keys(bits)"))
      .select(col("doc_id"), col("bits"), col("bk"))
    val img = graft.Lineage.truncate(imgs)
    val bands = img
      .select(col("doc_id"), posexplode(col("bk")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))
    // BUCKET-OCCUPANCY CAP (r11 advice): uniform 16-bit keys alone give
    // ~D²/2^17 birthday pairs per band — quadratic in corpus size — and
    // real aHash keys are skewed (flat images collapse to few buckets).
    // The d-family df-cap discipline applied here: a bucket holding > 64
    // images carries no near-dup signal (it is a degenerate/boilerplate
    // pattern) and is dropped BEFORE the pair join, bounding candidate
    // output at Σ C(min(occ,64), 2) ≤ 32·|band rows| — linear in corpus
    // size.
    val okBuckets = bands
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= 64)
      .select(col("band"), col("key"))
    val kept = bands.join(okBuckets, Seq("band", "key"))
    val cand = kept
      .as("x")
      .join(
        kept.select(col("doc_id").as("did2"), col("band"), col("key")).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("did2")
      )
      .select(col("x.doc_id").as("doc1"), col("did2").as("doc2"))
      .distinct()
    cand
      .join(img.select(col("doc_id").as("doc1"), col("bits").as("b1")), "doc1")
      .join(img.select(col("doc_id").as("doc2"), col("bits").as("b2")), "doc2")
      .withColumn(
        // native kernel for aggregate(zip_with(b1, b2, (p, q) -> abs(p - q)),
        // 0L, (acc, x) -> acc + x) — identical arithmetic + NULL semantics
        // (QuantVec.scala), codegen'd instead of the interpreted lambda; the
        // oracle keeps the spelled-out SQL.
        "hamming",
        expr("graft_sad_long(b1, b2)")
      )
      .filter(col("hamming") <= 6)
      .select(col("doc1"), col("doc2"), col("hamming"))
  }

  /** M11 — banded-Hamming RECALL AUDIT (d18's discipline for the image
    * family, r11 verdict #5): m10's pigeonhole guarantee covers Hamming
    * ≤ 3 only ("≤3 flips cannot touch all 4 of the 16-bit bands"); beyond
    * that, recall was asserted, not measured. Plant, for every document,
    * a perturbed twin at −doc_id−1 whose 64-bit aHash differs in EXACTLY
    * f = doc_id % 12 + 1 KNOWN bit positions (flips applied to the bit
    * vector directly — an arithmetic progression (start + j·step) mod 64
    * with md5-derived per-image start and odd step, so positions are
    * distinct and the geometry varies per image — the Hamming distance is
    * exact by construction, not incidental like m10's pixel bump), run
    * the REAL 4×16 band join restricted to the planted pairs, and report
    * recall per flip count.
    *
    * Measured curve (sf0.01): 1000‰ for f ≤ 3 (the pigeonhole guarantee),
    * then 738‰ at f=4, 452‰ at f=5, ~400‰ at f=6-7, declining to 170‰ at
    * f=12 — the fraction of per-image geometries that leave ≥1 band
    * untouched. The truth set bounds the
    * audit (exact Hamming on |docs| planted pairs, never all-pairs —
    * d18's caveat carried over); the `guaranteed` flag marks the
    * pigeonhole region so the oracle pins the f ≤ 3 rows at exactly
    * 1000‰.
    */
  private def m11_phash_recall(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents").select(col("doc_id").as("src"))
    // graft_phash_bits — the fused native aHash chain (see m10); the flip
    // geometry and band keys ride graft_flip_bits / graft_band_keys, all
    // value-pinned against the spelled-out templates by GramHashSpec
    val img = graft.Lineage.truncate(
      docs
        .withColumn("bits", expr("graft_phash_bits(src, -1)"))
        .withColumn("f", (col("src") % 12 + 1).cast("int"))
        // per-image flip GEOMETRY: arithmetic progression (start + j·step)
        // mod 64 with md5-derived start and ODD step (odd ⇒ the f ≤ 12
        // positions are distinct mod 64). A fixed step for every image
        // made the f ≥ 5 rows degenerate (5 steps of 13 span all four
        // bands for every start); varying (start, step) per image sweeps
        // the geometry family so the per-f recall averages over it.
        .withColumn(
          "fstart",
          expr(
            "cast(conv(substr(md5(concat(cast(src as string), '|fs')), 1, 4), 16, 10) as bigint) % 64"
          )
        )
        .withColumn(
          "fstep",
          expr(
            "2 * (cast(conv(substr(md5(concat(cast(src as string), '|st')), 1, 4), 16, 10) as bigint) % 32) + 1"
          )
        )
        .withColumn("bits2", expr("graft_flip_bits(bits, f, fstart, fstep)"))
        .withColumn("bk", expr("graft_band_keys(bits)"))
        .withColumn("bk2", expr("graft_band_keys(bits2)"))
        .select(col("src"), col("f"), col("bk"), col("bk2"))
    )
    val b1 = img
      .select(col("src"), posexplode(col("bk")))
      .select(col("src"), col("pos").as("band"), col("col").as("key"))
    val b2 = img
      .select(col("src"), posexplode(col("bk2")))
      .select(col("src"), col("pos").as("band"), col("col").as("key"))
    val caught = b1.join(b2, Seq("src", "band", "key")).select(col("src")).distinct()
    img
      .join(caught.withColumn("hit", lit(1L)), Seq("src"), "left")
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n_pairs"), sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .select(
        col("f").cast("long").as("n_flips"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_caught").cast("long").as("n_caught"),
        expr("1000 * n_caught div n_pairs").as("recall_pm"),
        (col("f") <= 3).as("guaranteed")
      )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m11_phash_recall" -> (m11_phash_recall _),
    "m10_phash_neardup" -> (m10_phash_neardup _),
    "m9_payload_block_dedup" -> (m9_payload_block_dedup _),
    "m7_interleaved_pack" -> (m7_interleaved_pack _),
    "m6_payload_chunks" -> (m6_payload_chunks _),
    "m1_binary_meta" -> (m1_binary_meta _),
    "m2_feature_extract" -> (m2_feature_extract _),
    "m12_wav_energy" -> (m12_wav_energy _),
    "m13_mp4_meta" -> (m13_mp4_meta _),
    "m3_frame_sample" -> (m3_frame_sample _),
    "m4_modality_dispatch" -> (m4_modality_dispatch _),
    "m5_modality_partitioned" -> (m5_modality_partitioned _),
    "m8_token_budget" -> (m8_token_budget _)
  )

  /** M8 — multimodal TOKEN-BUDGET census: what each modality will cost the
    * sequence packer BEFORE packing runs (m7 packs, m8 prices). Images
    * cost ViT-style patch tokens — ceil(w/16)·ceil(h/16) in pure integer
    * arithmetic over the m4 dispatch's decoded dimensions; audio costs
    * frame tokens — samples div a 320-sample hop; unknown payloads fall
    * back to word tokens. One narrow projection into one 3-row hash
    * aggregate; the per-modality mean is integer division so both engines
    * agree bit-for-bit.
    */
  private def m8_token_budget(s: SparkSession, d: String): DataFrame = {
    val base = table(s, d, "documents")
      .select(
        col("doc_id"),
        col("text"),
        when(substring(col("text"), 1, 4) === "key ", lit("image"))
          .when(substring(col("text"), 1, 4) === "the ", lit("audio"))
          .otherwise(lit("unknown"))
          .as("modality")
      )
      .withColumn("h", conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long"))
    base
      .withColumn(
        "media_tokens",
        when(
          col("modality") === "image",
          expr("((160 + h % 480 + 15) div 16) * ((90 + (h div 7) % 270 + 15) div 16)")
        ).when(
            col("modality") === "audio",
            expr("((8000 + h % 40000) * (1 + (h div 13) % 600)) div 320")
          )
          .otherwise(expr("size(split(text, ' '))").cast("long"))
      )
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("media_tokens")).as("total_tokens"),
        max(col("media_tokens")).as("max_tokens")
      )
      .select(
        col("modality"),
        col("n_docs"),
        col("total_tokens"),
        expr("total_tokens div n_docs").as("mean_tokens"),
        col("max_tokens")
      )
  }

  /** The stub decoder's md5 arithmetic, regenerated in DuckDB. pix_sum
    * replays the 64 md5-stream pixel bytes the engine EARNS by inflating
    * the IDAT zlib stream ([[graft.functions.MediaStub.pixelBytes]]).
    */
  private val decodeSql =
    """decoded AS (
         SELECT doc_id,
                160 + h % 480 AS width,
                90 + (h // 7) % 270 AS height,
                1 + (h // 11) % 120 AS n_frames,
                list_sum(list_transform(generate_series(0, 63), i ->
                  ('0x' || substr(md5(text || '|px' || CAST(i // 16 AS VARCHAR)),
                                  (i % 16) * 2 + 1, 2))::BIGINT))::BIGINT AS pix_sum
         FROM (SELECT doc_id, text,
                      ('0x' || substr(md5(text), 1, 6))::BIGINT AS h
               FROM documents))"""

  val oracles: Map[String, String] = Map(
    "m11_phash_recall" ->
      """WITH d0 AS (SELECT doc_id AS src FROM documents),
         px AS (
           SELECT src,
                  list_transform(generate_series(0, 63), i ->
                    ('0x' || substr(md5(CAST(src AS VARCHAR) || '|px' || CAST(i // 8 AS VARCHAR)),
                                    (i % 8) * 4 + 1, 2))::BIGINT % 256) AS pix
           FROM d0),
         bt AS (
           SELECT src,
                  list_transform(pix, x ->
                    CASE WHEN x > list_sum(pix) // 64 THEN 1 ELSE 0 END) AS bits
           FROM px),
         fl AS (
           SELECT src, bits, CAST(src % 12 + 1 AS INTEGER) AS f,
                  list_transform(generate_series(0, CAST(src % 12 AS INTEGER)),
                    j -> (('0x' || substr(md5(CAST(src AS VARCHAR) || '|fs'), 1, 4))::BIGINT % 64
                          + j * (2 * (('0x' || substr(md5(CAST(src AS VARCHAR) || '|st'), 1, 4))::BIGINT % 32) + 1)
                         ) % 64) AS flips
           FROM bt),
         b2 AS (
           SELECT src, f, bits,
                  list_transform(generate_series(0, 63), i ->
                    CASE WHEN list_contains(flips, i) THEN 1 - bits[i + 1]
                         ELSE bits[i + 1] END) AS bits2
           FROM fl),
         ck AS (
           SELECT src, f,
                  len(list_filter(generate_series(0, 3), b ->
                    list_sum(list_transform(generate_series(0, 15), j ->
                      bits[b * 16 + j + 1] * (1 << (15 - j)))) =
                    list_sum(list_transform(generate_series(0, 15), j ->
                      bits2[b * 16 + j + 1] * (1 << (15 - j)))))) > 0 AS caught
           FROM b2)
         SELECT CAST(f AS BIGINT) AS n_flips,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
                CAST(1000 * sum(CASE WHEN caught THEN 1 ELSE 0 END) // count(*) AS BIGINT)
                  AS recall_pm,
                (f <= 3) AS guaranteed
         FROM ck GROUP BY f""",
    "m10_phash_neardup" ->
      """WITH base AS (
           SELECT doc_id AS src, doc_id, FALSE AS pert FROM documents
           UNION ALL
           SELECT doc_id, -doc_id - 1, TRUE FROM documents),
         px AS (
           SELECT doc_id,
                  list_transform(generate_series(0, 63), i ->
                    (('0x' || substr(md5(CAST(src AS VARCHAR) || '|px' || CAST(i // 8 AS VARCHAR)),
                                     (i % 8) * 4 + 1, 2))::BIGINT
                     + CASE WHEN pert AND i = src % 64 THEN 128 ELSE 0 END) % 256) AS pix
           FROM base),
         bt AS (
           SELECT doc_id,
                  list_transform(pix, x ->
                    CASE WHEN x > list_sum(pix) // 64 THEN 1 ELSE 0 END) AS bits
           FROM px),
         bk AS (
           SELECT doc_id, b.b AS band,
                  list_sum(list_transform(generate_series(0, 15), j ->
                    bits[b.b * 16 + j + 1] * (1 << (15 - j)))) AS key
           FROM bt, (SELECT unnest(generate_series(0, 3)) AS b) b),
         okb AS (
           SELECT band, key FROM bk GROUP BY band, key HAVING count(*) <= 64),
         kpt AS MATERIALIZED (
           SELECT b.doc_id, b.band, b.key FROM bk b JOIN okb USING (band, key)),
         cand AS (
           SELECT x.doc_id AS doc1, y.doc_id AS doc2
           FROM kpt x JOIN kpt y
             ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         v AS (
           SELECT doc1, doc2,
                  list_sum(list_transform(generate_series(1, 64), k ->
                    abs(b1.bits[k] - b2.bits[k]))) AS hamming
           FROM cand
           JOIN bt b1 ON b1.doc_id = cand.doc1
           JOIN bt b2 ON b2.doc_id = cand.doc2)
         SELECT doc1, doc2, CAST(hamming AS BIGINT) AS hamming
         FROM v WHERE hamming <= 6""",
    "m9_payload_block_dedup" ->
      """WITH c AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -doc_id - 1, text || ' zz tail' FROM documents),
         nbt AS (
           SELECT doc_id, text,
                  CAST(least(length(text) // 32, 16) AS INTEGER) AS nb
           FROM c),
         blk AS (
           SELECT doc_id, nb,
                  unnest(generate_series(0, nb - 1)) AS bi, text
           FROM nbt WHERE nb >= 1),
         h AS (
           SELECT doc_id, nb, bi,
                  md5(substr(text, CAST(bi * 32 + 1 AS INTEGER), 32)) AS hh
           FROM blk),
         p AS (
           SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                  count(*) AS shared_blocks,
                  max(a.nb) AS n1, max(b.nb) AS n2
           FROM h a JOIN h b ON a.bi = b.bi AND a.hh = b.hh
                             AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc1, doc2, CAST(shared_blocks AS BIGINT) AS shared_blocks
         FROM p
         WHERE shared_blocks >= greatest(1, least(n1, n2) - 1)""",
    "m8_token_budget" ->
      """WITH b AS (
           SELECT doc_id, text,
                  CASE WHEN substr(text, 1, 4) = 'key ' THEN 'image'
                       WHEN substr(text, 1, 4) = 'the ' THEN 'audio'
                       ELSE 'unknown' END AS modality,
                  ('0x' || substr(md5(text), 1, 6))::BIGINT AS h
           FROM documents),
         t AS (
           SELECT modality,
                  CASE modality
                    WHEN 'image' THEN
                      ((160 + h % 480 + 15) // 16) * ((90 + (h // 7) % 270 + 15) // 16)
                    WHEN 'audio' THEN
                      ((8000 + h % 40000) * (1 + (h // 13) % 600)) // 320
                    ELSE len(string_split(text, ' '))
                  END AS media_tokens
           FROM b)
         SELECT modality,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(media_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(media_tokens) // count(*) AS BIGINT) AS mean_tokens,
                CAST(max(media_tokens) AS BIGINT) AS max_tokens
         FROM t GROUP BY 1""",
    "m7_interleaved_pack" ->
      """WITH items AS (
           SELECT doc_id, lang, 'text' AS item_type,
                  len(string_split(text, ' ')) AS n_tokens, 0 AS ord
           FROM documents
           UNION ALL
           SELECT doc_id, lang, 'image', 576, 1 FROM documents WHERE doc_id % 3 = 0),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, ord
                                             ROWS UNBOUNDED PRECEDING) AS cum
               FROM items)
         SELECT doc_id, item_type, lang,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(cum - n_tokens AS BIGINT) AS start_off,
                CAST((cum - n_tokens) // 4096 AS BIGINT) AS pack_id,
                CAST(CASE WHEN (cum - n_tokens) // 4096 != (cum - 1) // 4096
                          THEN 1 ELSE 0 END AS INTEGER) AS straddles
         FROM c""",
    "m6_payload_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         c AS (SELECT doc_id, n, text,
                      unnest(generate_series(0, greatest((n - 1) // 256, 0))) AS chunk_idx
               FROM d)
         SELECT doc_id,
                CAST(chunk_idx AS BIGINT) AS chunk_idx,
                CAST(least(256, n - chunk_idx * 256) AS BIGINT) AS chunk_len,
                md5(substr(text, CAST(chunk_idx * 256 + 1 AS INTEGER), 256)) AS chunk_hash
         FROM c""",
    "m1_binary_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                sha256(text) AS content_id,
                CASE WHEN substr(text, 1, 4) = 'key ' THEN 'fmt/key'
                     WHEN substr(text, 1, 4) = 'the ' THEN 'fmt/the'
                     ELSE 'fmt/unknown' END AS sniffed_format
         FROM documents""",
    "m2_feature_extract" ->
      s"WITH $decodeSql SELECT doc_id, width, height, n_frames, pix_sum FROM decoded",
    "m13_mp4_meta" ->
      """WITH p AS (
           SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS h,
                  CAST(octet_length(encode(text)) AS BIGINT) AS nb
           FROM documents),
         f AS (
           SELECT doc_id,
                  h % 2 AS version,
                  600 * (1 + h % 8) AS timescale,
                  600 * (1 + h % 8) * (1 + (h // 7) % 300) + (h // 11) % (600 * (1 + h % 8)) AS duration,
                  (h // 13) % 4 + 1 AS n_tracks,
                  nb AS payload_bytes,
                  ['avc1', 'hev1', 'mp4v', 'av01'][CAST((h // 19) % 4 AS INT) + 1] AS codec,
                  (h // 17) % 8 + 1 AS n_chunks
           FROM p)
         SELECT doc_id, version, timescale, duration,
                1000 * duration // timescale AS duration_ms,
                n_tracks, payload_bytes, codec,
                n_chunks,
                (n_chunks - 1) * (payload_bytes // n_chunks) AS chunk_span
         FROM f""",
    "m12_wav_energy" ->
      """WITH p AS (
           SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS h
           FROM documents),
         base AS (
           SELECT doc_id, h,
                  256 + (h % 256) AS n,
                  8000 * (1 + (h // 5) % 6) AS rate
           FROM p),
         w AS (
           SELECT doc_id, n, rate,
                  unnest(generate_series(0, n // 64 - 1)) AS wi,
                  h
           FROM base),
         e AS (
           SELECT doc_id, n, rate, wi,
                  list_aggregate(list_transform(generate_series(wi * 64, wi * 64 + 63),
                    k -> ((h + 2654435761 * k) % 65536 - 32768)
                       * ((h + 2654435761 * k) % 65536 - 32768)), 'sum') AS energy
           FROM w),
         pk AS (
           SELECT doc_id, n, rate, wi, energy,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY energy DESC, wi ASC) AS rn
           FROM e)
         SELECT doc_id,
                CAST(rate AS BIGINT) AS sample_rate,
                CAST(n AS BIGINT) AS n_samples,
                CAST(n // 64 AS BIGINT) AS n_windows,
                CAST(wi AS BIGINT) AS peak_window,
                CAST(energy AS BIGINT) AS peak_energy
         FROM pk WHERE rn = 1""",
    "m3_frame_sample" ->
      s"""WITH $decodeSql
          SELECT doc_id, frame_idx,
                 CAST(doc_id AS VARCHAR) || '_f' || CAST(frame_idx AS VARCHAR) AS frame_id
          FROM (SELECT doc_id, unnest(range(0, n_frames, 10)) AS frame_idx FROM decoded)""",
    "m4_modality_dispatch" ->
      """WITH base AS (
           SELECT doc_id,
                  CASE WHEN substr(text, 1, 4) = 'key ' THEN 'image'
                       WHEN substr(text, 1, 4) = 'the ' THEN 'audio'
                       ELSE 'unknown' END AS modality,
                  ('0x' || substr(md5(text), 1, 6))::BIGINT AS h
           FROM documents)
         SELECT doc_id, modality,
                CAST(160 + h % 480 AS BIGINT) AS feat_a,
                CAST(90 + (h // 7) % 270 AS BIGINT) AS feat_b,
                'ok' AS status
         FROM base WHERE modality = 'image'
         UNION ALL
         SELECT doc_id, modality,
                CAST(8000 + h % 40000 AS BIGINT) AS feat_a,
                CAST(1 + (h // 13) % 600 AS BIGINT) AS feat_b,
                'ok' AS status
         FROM base WHERE modality = 'audio'
         UNION ALL
         SELECT doc_id, modality,
                CAST(NULL AS BIGINT) AS feat_a, CAST(NULL AS BIGINT) AS feat_b,
                'quarantined' AS status
         FROM base WHERE modality = 'unknown'""",
    // m5: the roundtrip is the identity on the image branch, so the oracle
    // derives the same aggregate straight from the source
    "m5_modality_partitioned" ->
      """WITH base AS (
           SELECT doc_id,
                  ('0x' || substr(md5(text), 1, 6))::BIGINT AS h
           FROM documents WHERE substr(text, 1, 4) = 'key ')
         SELECT 'image' AS modality, 'ok' AS status,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(160 + h % 480) AS BIGINT) AS sum_feat_a,
                CAST(max(90 + (h // 7) % 270) AS BIGINT) AS max_feat_b
         FROM base"""
  )
}
