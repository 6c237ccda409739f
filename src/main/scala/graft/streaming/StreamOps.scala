package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators. The reference is pure batch (SURVEY
  * §2.11), so nothing here replicates reference behavior — this is the
  * engine's stream surface for the same transforms, built so batch and
  * streaming share one code path:
  *
  *   - [[windowedCounts]] is a single transform accepted by both
  *     `spark.read` DataFrames (watermark is a no-op in batch) and
  *     `spark.readStream` ones (watermark bounds state + late data).
  *   - [[Sessionizer]] is the custom-state path: per-key session windows
  *     via `flatMapGroupsWithState` — the construct Spark reserves for
  *     semantics windows can't express (gap-based sessions).
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * horizon × key cardinality; sessionizer state is one small record per
  * active user, evicted on session close. Both shuffle once on the group
  * key per micro-batch.
  */
object StreamOps {

  /** Tumbling event-time window counts per event type. `t` must be a
    * TimestampType column named "t". The value aggregate is an integer
    * cent sum, not a float sum — float sums depend on partition merge
    * order, so a rounded double total can flap at a rounding boundary
    * between runs; integer addition is order-independent.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 day"): DataFrame =
    events
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), windowLen).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("total_cents")
      )
      .select(
        date_format(col("w.start"), "yyyy-MM-dd").as("wday"),
        col("event_type"),
        col("n"),
        col("total_cents")
      )

  /** Watermarked per-(window, type) counts with epoch-second window
    * starts — the aggregate stage of the streaming top-k ([[topKPerWindow]]):
    * in Append mode a window's rows emit exactly once, when the watermark
    * passes its end, so the downstream rank only ever sees COMPLETED
    * windows. Shared by the batch face (where "completed" is trivially
    * all of them).
    */
  def windowTypeCounts(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("wstart_s"), col("event_type"), col("n"))

  /** Per-window TOP-K heavy hitters over completed (window, type) counts —
    * the streaming face of the e17 batch query. Ranking is not expressible
    * inside a streaming query (window functions are unsupported on
    * streams), so the documented pattern applies: the watermarked
    * aggregate ([[windowTypeCounts]]) streams completed windows in Append
    * mode, and THIS transform runs against each sink batch
    * (foreachBatch) or any batch frame. The selection is a bounded one-pass
    * scan per window — O(|types|·k) with a k-bounded buffer, never a sort
    * of the full group — and the (n desc, type asc) tiebreak makes stream
    * and batch agree exactly.
    */
  def topKPerWindow(counts: DataFrame, k: Int = 3): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts
      .select(col("wstart_s").cast("long"), col("event_type"), col("n").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (w: Long, it: Iterator[(Long, String, Long)]) =>
        val best = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        it.foreach { case (_, t, n) =>
          best += ((t, n))
          // keep the buffer k-bounded (amortized): compact at 4k entries
          if (best.size > 4 * k) {
            val keep = best.sortBy { case (t2, n2) => (-n2, t2) }.take(k)
            best.clear()
            best ++= keep
          }
        }
        best
          .sortBy { case (t2, n2) => (-n2, t2) }
          .take(k)
          .zipWithIndex
          .map { case ((t2, n2), i) => (w, t2, n2, (i + 1).toLong) }
          .iterator
      }
      .toDF("wstart_s", "event_type", "n", "rnk")
  }

  /** SLIDING event-time window counts per event type — the streaming face
    * of the e8 batch query, one shared transform for both `spark.read`
    * and `spark.readStream` inputs (the [[windowedCounts]] contract).
    * Each event expands into windowLen/slide rows inside a narrow
    * projection; streaming state is bounded by (watermark horizon /
    * slide) × key cardinality windows. Window starts are reported as
    * epoch seconds and the value aggregate is an integer cent sum —
    * order-independent, so batch and every micro-batch schedule agree
    * exactly.
    */
  def slidingCounts(
      events: DataFrame,
      windowLen: String = "10 minutes",
      slide: String = "5 minutes"
  ): DataFrame =
    events
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), windowLen, slide).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("total_cents")
      )
      .select(
        col("w.start").cast("long").as("ws"),
        col("event_type"),
        col("n"),
        col("total_cents")
      )

  /** Watermark-bounded stream deduplication: drops repeats of a business
    * key seen within the watermark horizon, with per-key state EVICTED once
    * the watermark passes — the streaming face of exact dedup (classic
    * `dropDuplicates` on a stream retains every key forever; this form's
    * state is bounded by horizon × key arrival rate). `t` must be the
    * event-time column.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keys: Seq[String],
      delay: String = "1 hour"
  ): DataFrame =
    events.withWatermark("t", delay).dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: join each micro-batch against a broadcast of
    * the (small) static dimension — the streaming face of J2/J6. Spark plans
    * this as a BroadcastHashJoin inside every micro-batch: no state, no
    * stream-side shuffle, and a file-backed `dim` is re-scanned per batch so
    * slowly-changing dimensions are picked up without restarting the query.
    * Left join: facts with no dimension row pass through with nulls rather
    * than silently dropping (the same no-silent-loss stance as P7's gates).
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Watermarked stream-stream inner join within an event-time band — the
    * canonical two-fact-stream correlation (impression↔click attribution,
    * request↔response pairing): rows join when keys match AND the right
    * event time lies within ±`bandSeconds` of the left's. Both sides carry
    * watermarks and the join condition carries the time band, which is
    * exactly what Structured Streaming needs to EVICT state: each side
    * buffers only `watermark delay + band` worth of rows per key, so state
    * is bounded at any input rate — without the band the state store grows
    * forever (Spark would reject the stream-stream join outright in Append
    * mode without a watermark-constrained condition).
    *
    * Column names must be disjoint across sides (the usual stream-stream
    * join contract); in batch frames the watermark is a no-op and the same
    * call degrades to a plain range-banded equi-join — one transform, both
    * execution modes (the windowedCounts stance).
    *
    * `joinType = "left_outer"` is the attribution-timeout form: a left row
    * with no in-band match is emitted WITH NULL right columns — but only
    * once the watermark has passed its band's end, because until then a
    * match could still arrive. That deferred emission is exactly the
    * "impression never converted" record an attribution pipeline needs,
    * and it's only well-defined because the watermark+band bound when the
    * question closes. Inner joins emit eagerly on match.
    */
  def joinStreamsWithinBand(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      bandSeconds: Long,
      delay: String = "1 hour",
      joinType: String = "inner"
  ): DataFrame =
    left
      .withWatermark(leftTs, delay)
      .join(
        right.withWatermark(rightTs, delay),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"interval $bandSeconds seconds") &&
          col(rightTs) <= col(leftTs) + expr(s"interval $bandSeconds seconds"),
        joinType
      )

  /** Streaming Bloom-MANIFEST maintenance — the incremental face of the
    * s33 data-skipping census (one bit-math definition,
    * [[graft.operators.BloomOps]]): per `lang` partition, the running
    * 126-bit Bloom over every word seen so far. Works as a plain
    * streaming aggregation with NO watermark and NO custom state because
    * bit_or is a semilattice join (commutative + associative +
    * IDEMPOTENT): any micro-batch arrival order, any replay after a
    * crash, and the batch rebuild of the same rows all produce identical
    * bits — the property that lets a 100 TB table keep its file-skipping
    * manifests fresh from the ingest stream instead of rebuilding them
    * nightly. Bits only ever turn ON (monotone), which StreamOpsSpec pins
    * across micro-batches along with stream ≡ batch equality.
    *
    * Input: (lang, text). Output per lang: (bits0, bits1). No distinct
    * before the OR — idempotence makes dedup pointless, which is also why
    * no stateful-dedup watermark is needed.
    */
  def bloomManifest(docs: DataFrame): DataFrame = {
    import graft.operators.BloomOps
    val words = docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val bits = words
      .select(col("lang"), expr(BloomOps.posExpr(1)).as("p"))
      .unionAll(words.select(col("lang"), expr(BloomOps.posExpr(2)).as("p")))
    bits
      .groupBy(col("lang"))
      .agg(expr(BloomOps.orAgg(0)).as("bits0"), expr(BloomOps.orAgg(1)).as("bits1"))
  }

  /** Streaming COUNT-MIN register maintenance with an EXACTLY-ONCE fold —
    * the counter complement of [[bloomManifest]], sharing its bit math
    * through [[graft.operators.CmOps]] so stream-folded and batch-built
    * registers are cell-identical by construction. The algebra alone is
    * NOT enough here: cell counts merge by addition, which is commutative
    * and associative but not IDEMPOTENT, so a replayed micro-batch
    * (foreachBatch delivery is at-least-once) would double-count — the
    * exact reason BloomOps' scaladoc says lakehouse manifests ship Blooms
    * rather than counters. The canonical foreachBatch discipline closes
    * the gap transactionally: every sketch row carries the LAST FOLDED
    * BATCH ID, and each fold commits the updated cells and the new id
    * through ONE staged atomic swap ([[graft.io.TableIO.writeParquet]]),
    * so a replay of batch b against a table whose committed id ≥ b is a
    * detected no-op. Exactly-once by rename atomicity, not merge algebra.
    * StreamOpsSpec pins stream ≡ batch on the final registers, the replay
    * no-op, and the batch-id monotone.
    *
    * Input batch: a `w` string column. Table: (j, b, c, last_batch) —
    * ≤ 4×1024 populated cells at ANY corpus size, so the per-batch rewrite
    * is constant cost while the counted stream is unbounded (the point of
    * a sketch: the 100 TB ingest keeps live heavy-hitter/hot-key counters
    * in kilobytes of state).
    */
  def cmSketchSink(batch: DataFrame, batchId: Long, path: String): Unit = {
    import graft.operators.CmOps
    val spark  = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // This table is the ONLY copy of the accumulated registers and of the
    // exactly-once batch-id guard: heal the park-vs-promote crash window
    // before the existence check, or a replayed batch would refold into a
    // fresh table (last = -1) while the swap deleted the surviving park.
    graft.io.TableIO.healParked(spark, path)
    val existing =
      if (fs.exists(target)) Some(spark.read.parquet(path)) else None
    val last = existing
      .map(_.agg(coalesce(max(col("last_batch")), lit(-1L))).head.getLong(0))
      .getOrElse(-1L)
    if (batchId <= last) return // replayed batch: already folded and committed
    val cells = (0 until CmOps.Depth).map(j => expr(CmOps.bucketExpr("w", j)))
    val add = batch
      .select(posexplode(array(cells: _*)))
      .select(col("pos").cast("long").as("j"), col("col").as("b"))
      .groupBy(col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
    val merged = existing match {
      case Some(ex) =>
        ex.select(col("j"), col("b"), col("c"))
          .unionByName(add)
          .groupBy(col("j"), col("b"))
          .agg(sum(col("c")).as("c"))
      case None => add
    }
    graft.io.TableIO.writeParquet(merged.withColumn("last_batch", lit(batchId)), path)
    ()
  }

  /** Streaming CUSUM-DRIFT maintenance (e19's sequential change-point
    * monitor kept live from the ingest stream — the ops-triad member with
    * the natural production use: a corpus-mixing loop watching its source
    * rates for volume shifts as data lands): the durable state is the
    * (event_type, day, x) DAILY SPINE — additive counters, so this is
    * cmSketchSink's BATCH-ID-GUARD class, NOT retentionCohorts'
    * semilattice class: per-type (running count) sums are not idempotent
    * under replay (a redelivered batch would double-count a day), so the
    * fold carries the exactly-once guard — `last_batch` rides the table,
    * a replayed batchId ≤ last_batch is a detected no-op, and
    * [[graft.io.TableIO.healParked]] closes the park-vs-promote crash
    * window before the guard reads.
    *
    * The live alarms derive on read:
    * `Events.cusumOverDaily(read(path))` — mu, the CUSUM+ prefix
    * identity, and the 2·mu alarm all recompute from the spine each
    * inspection, so stream ≡ batch holds by construction on any prefix of
    * the stream (StreamOpsSpec pins alarm-day equality across a
    * checkpointed restart with replay).
    *
    * Input batch: (event_type, day) event rows — callers derive `day`
    * from event time with e19's floor division. State is
    * |types|·|days|-bounded regardless of event volume (the sketch-table
    * discipline: the 100 TB stream folds to kilobytes of spine).
    */
  def cusumDailySink(batch: DataFrame, batchId: Long, path: String): Unit = {
    val spark  = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // accumulated state — heal the swap crash window (see cmSketchSink)
    graft.io.TableIO.healParked(spark, path)
    val existing =
      if (fs.exists(target)) Some(spark.read.parquet(path)) else None
    val last = existing
      .map(_.agg(coalesce(max(col("last_batch")), lit(-1L))).head.getLong(0))
      .getOrElse(-1L)
    if (batchId <= last) return // replayed batch: already folded and committed
    val add = batch
      .select(col("event_type"), col("day").cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val merged = existing match {
      case Some(ex) =>
        ex.select(col("event_type"), col("day"), col("x"))
          .unionByName(add)
          .groupBy(col("event_type"), col("day"))
          .agg(sum(col("x")).as("x"))
      case None => add
    }
    // CONTRACT (r18 ADVICE): `merged` lazily READS `path` while writeParquet
    // is about to REPLACE `path` — safe only because TableIO.writeParquet
    // fully materializes the frame into a staging dir BEFORE the
    // park/promote swap touches the live path. A future writeParquet that
    // streamed or overwrote in place would corrupt the spine mid-read.
    graft.io.TableIO.writeParquet(merged.withColumn("last_batch", lit(batchId)), path)
    ()
  }

  /** Streaming RETENTION-COHORT maintenance (e20's matrix kept fresh from
    * the ingest stream): the durable state is ONE ROW PER USER —
    * (user_id, c_day = first-active day, mask = 15-bit day-0..14 activity
    * bitmap) — exactly the frame [[graft.queries.Events.cohortState]]
    * builds in batch, so the live matrix is
    * `Events.cohortMatrix(read(path))` and stream ≡ batch holds row-for-row
    * (StreamOpsSpec pins it across a checkpointed restart).
    *
    * Replay-idempotent WITHOUT a batch-id guard: the fold is a
    * SEMILATTICE join — c_day merges by min, the bitmap by OR, both
    * idempotent — so an at-least-once redelivery re-lands the same bits
    * (bloomManifest's class, not cmSketchSink's additive counters). An
    * out-of-order FIRST event (a day earlier than the stored c_day)
    * re-bases the user: stored bits shift to their new day-n positions
    * and anything pushed past day 14 drops out of the window, which is
    * also what the batch build computes from the same rows. State is one
    * bounded row per user; the per-batch rewrite cost is |users|, not
    * |events| (the sketch-table discipline).
    *
    * Input batch: (user_id, day) — callers derive `day` from their event
    * time with the same floor-division e20 uses.
    */
  def retentionCohorts(batch: DataFrame, path: String): Unit = {
    val spark  = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // accumulated state — heal the swap crash window (see cmSketchSink)
    graft.io.TableIO.healParked(spark, path)
    val perUser = batch
      .select(col("user_id"), col("day").cast("long").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("b_min"), collect_set(col("day")).as("ds"))
    val existing =
      if (fs.exists(target)) spark.read.parquet(path).select(col("user_id"), col("c_day"), col("mask"))
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("c_day", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mask", org.apache.spark.sql.types.LongType)
          ))
        )
    val merged = existing
      .join(perUser, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        least(coalesce(col("c_day"), col("b_min")), coalesce(col("b_min"), col("c_day"))).as("nc"),
        col("c_day"),
        col("mask"),
        col("ds")
      )
      .select(
        col("user_id"),
        col("nc").as("c_day"),
        // old bits re-base to the (possibly earlier) new cohort day: bit n
        // meant c_day + n, which is day-n (c_day - nc) + n under nc; a
        // shift past the 15-bit window drops the bit — the same rows the
        // batch build's day_n <= 14 filter drops. The shift guard matters:
        // shiftleft wraps at 64 in the JVM, so a >14-day re-base zeroes
        // explicitly instead of wrapping.
        expr(
          """CASE WHEN mask IS NULL THEN 0L
                  WHEN c_day - nc > 14 THEN 0L
                  ELSE shiftleft(mask, cast(c_day - nc as int)) & 32767 END
             | coalesce(aggregate(filter(ds, x -> x - nc <= 14),
                 0L, (acc, x) -> acc | shiftleft(1L, cast(x - nc as int))), 0L)"""
        ).as("mask")
      )
    graft.io.TableIO.writeParquet(merged, path)
    ()
  }

  /** Keep-last streaming upsert sink (S17's semantics on a stream): each
    * micro-batch is merged into the parquet collection at `path` — existing
    * rows lose to same-key batch rows, within-batch ties resolve by highest
    * `version`. Built on `foreachBatch` + [[graft.io.TableIO.writeParquet]]
    * (staging + swap), so a crash mid-batch leaves the previous collection
    * intact and the retried batch converges to the same state (the merge is
    * idempotent for replayed input — exactly the property a
    * Structured-Streaming sink must provide over at-least-once delivery).
    *
    * Scale note: each merge rewrites the collection — right for dimension/
    * collection tables (the S17 use), wrong for append-heavy fact streams
    * (use partitioned append there instead).
    */
  def upsertSink(batch: DataFrame, path: String, key: String, version: String): Unit = {
    val spark  = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the collection is accumulated state — heal the swap crash window
    // before the existence check (see cmSketchSink)
    graft.io.TableIO.healParked(spark, path)
    val existing =
      if (fs.exists(target)) spark.read.parquet(path)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      // batch rows (rank 0) beat existing rows (rank 1); ties by version desc
      .orderBy(col("graft_src").asc, col(version).desc)
    val merged = batch
      .withColumn("graft_src", lit(0))
      .unionByName(existing.withColumn("graft_src", lit(1)))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_src", "graft_rn")
    graft.io.TableIO.writeParquet(merged, path)
    ()
  }

  /** Streaming MERGE with TOMBSTONES — s32's insert/update/delete
    * classification as a streaming sink, the face [[upsertSink]] lacks
    * (keep-last can only ever ADD or REPLACE; real CDC streams carry
    * deletes): each micro-batch row carries a boolean `deleteCol`; per
    * key the winner is chosen by (batch beats existing, then `version`
    * desc, then a live row beats a tombstone on a full tie — the one
    * deterministic order that makes a within-batch upsert+delete pair at
    * the same version resolve the same way in any engine), and a winning
    * tombstone REMOVES the key — MERGE's `WHEN MATCHED AND is_delete THEN
    * DELETE` arm, landed through [[graft.io.TableIO.writeParquet]]'s
    * staged atomic swap so a crash mid-batch leaves the previous
    * collection intact.
    *
    * Replay-idempotent over at-least-once delivery: a replayed tombstone
    * for an already-removed key wins against nothing and filters out
    * again; a replayed upsert re-lands identical values — so the final
    * table equals the batch merge of the same micro-batches applied in
    * order (StreamOpsSpec pins stream ≡ batch, replay convergence, and
    * tombstone survival across a checkpointed restart).
    *
    * Scale note: rewrites the collection per batch, like [[upsertSink]] —
    * the dimension/collection-table form; large partitioned facts compose
    * this classification with [[upsertSinkPartitioned]]'s
    * touched-partition pruning instead.
    */
  def mergeSink(
      batch: DataFrame,
      path: String,
      key: String,
      version: String,
      deleteCol: String = "is_delete"
  ): Unit = {
    val spark  = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs     = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live   = batch.drop(deleteCol) // the collection schema carries no tombstone flag
    // accumulated state — heal the swap crash window (see cmSketchSink)
    graft.io.TableIO.healParked(spark, path)
    val existing =
      if (fs.exists(target)) spark.read.parquet(path)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], live.schema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(col("graft_src").asc, col(version).desc, col("graft_del").asc)
    val merged = batch
      .withColumn("graft_src", lit(0))
      .withColumn("graft_del", coalesce(col(deleteCol).cast("boolean"), lit(false)))
      .drop(deleteCol)
      .unionByName(existing.withColumn("graft_src", lit(1)).withColumn("graft_del", lit(false)))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1 && !col("graft_del"))
      .drop("graft_src", "graft_del", "graft_rn")
    graft.io.TableIO.writeParquet(merged, path)
    ()
  }

  /** Partition-pruned streaming upsert (the merge-shaped scale form of
    * [[upsertSink]]): the collection at `path` is laid out Hive-style by
    * `partCol` (`path/partCol=v/`), and a micro-batch rewrites ONLY the
    * partitions it touches — untouched partitions' files are left
    * byte-identical, so per-batch cost is ∝ touched-partition size, not
    * collection size (upsertSink's full rewrite is right for small
    * dimension tables; this is the form for large partitioned collections).
    *
    * Precondition: `partCol` must be a pure function of `key` (a row can
    * never migrate partitions), otherwise a stale copy under the old
    * partition value would survive the merge — the standard contract of
    * every partition-overwrite merge.
    *
    * Crash story: each touched partition goes through
    * [[graft.io.TableIO.writeParquet]]'s staged swap, so it atomically
    * holds either its old or its new contents; a crash mid-batch can leave
    * a PREFIX of touched partitions updated, and the retried batch
    * re-merges to the identical end state (keep-last is idempotent over
    * replayed input) — at-least-once delivery converges.
    *
    * The touched-partition values are collected to the driver: a
    * micro-batch touches few partitions by design (that is the operator's
    * whole premise), so this is a bounded small list, not a data collect.
    */
  def upsertSinkPartitioned(
      batch: DataFrame,
      path: String,
      key: String,
      version: String,
      partCol: String
  ): Unit = {
    val spark = batch.sparkSession
    val conf  = spark.sparkContext.hadoopConfiguration
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(col("graft_src").asc, col(version).desc)
    val touched = batch.select(col(partCol)).distinct().collect().map(_.get(0))
    touched.foreach { pv =>
      val pPath  = s"$path/$partCol=$pv"
      val target = new org.apache.hadoop.fs.Path(pPath)
      val fs     = target.getFileSystem(conf)
      val slice  = batch.filter(col(partCol) === lit(pv)).drop(partCol)
      // per-partition accumulated state — heal the swap crash window
      graft.io.TableIO.healParked(spark, pPath)
      val existing =
        if (fs.exists(target)) spark.read.schema(slice.schema).parquet(pPath)
        else
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], slice.schema)
      val merged = slice
        .withColumn("graft_src", lit(0))
        .unionByName(existing.withColumn("graft_src", lit(1)))
        .withColumn("graft_rn", row_number().over(w))
        .filter(col("graft_rn") === 1)
        .drop("graft_src", "graft_rn")
      graft.io.TableIO.writeParquet(merged, pPath)
    }
  }

  /** Streaming quality-gate router: run the c6 gate battery
    * ([[graft.queries.Curation.gateBattery]] — the SAME transform the
    * batch query uses, so batch and stream verdicts agree by construction)
    * over each micro-batch of documents and route rows to the keep or
    * quarantine directory, never dropping a row silently (m4's
    * no-silent-row-loss contract, streaming form). Both outputs carry the
    * FULL input payload plus the per-gate columns and first-failing
    * reject reason: kept rows flow to the next pipeline stage (the
    * dedupIngest → sequencePacker chain — the streaming funnel) without a
    * re-join, and quarantined rows stay reprocessable after a gate fix.
    *
    * Delivery: the two appends inside one micro-batch are not jointly
    * atomic — a crash between them followed by a replay can double rows in
    * the keep dir (at-least-once). Readers that need exactly-once dedup on
    * (doc_id) downstream, or use upsertSink as the terminal sink; counting
    * audits should read the quarantine dir with dropDuplicates(doc_id).
    * State: none — the gate is stateless row-wise arithmetic, so the
    * stream needs no watermark and holds no store.
    */
  def gateAndQuarantine(
      docs: DataFrame,
      keepPath: String,
      quarantinePath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // join the verdict back onto the FULL payload: a kept row flows to
        // the next pipeline stage with its columns intact, and a
        // quarantined row must carry everything needed to reprocess it
        // after a gate fix — verdict-only quarantine rows are dead letters
        val gated = batch
          .join(graft.queries.Curation.gateBattery(batch).drop("text"), Seq("doc_id"))
          .cache()
        try {
          // keep only CONFIRMED keeps; quarantine is the null-safe complement
          // (a null gate column — e.g. null text — must land in quarantine,
          // not vanish between two filters: the no-silent-row-loss contract)
          gated.filter(col("keep") === 1).write.mode("append").parquet(keepPath)
          gated.filter(!(col("keep") <=> 1)).write.mode("append").parquet(quarantinePath)
        } finally { gated.unpersist(); () }
      }
      .start()

  /** Streaming dedup-aware ingest (d13's semantics on a stream): every
    * micro-batch of documents is MinHash-probed against the on-disk
    * signature index built by all PREVIOUS batches, each document written
    * to `outPath` with a `verdict` ('dup' when a verified near-duplicate
    * already exists in the index OR earlier — by doc_id — in the same
    * micro-batch), and only 'new' documents extend the index — the
    * keep-one-representative ingest a production corpus runs continuously. Batch and stream agree by construction: the
    * signature definition is [[graft.operators.MinHashOps]], the same one
    * the batch dedup family uses.
    *
    * State story: cross-batch memory is the parquet index (band keys +
    * shingle sets of accepted docs), NOT executor state — so it is
    * unbounded only on disk, survives restarts with the checkpoint, and a
    * 1000-executor ingest probes it with one equi-join per batch. Probe
    * cost ∝ batch size × bucket occupancy, independent of corpus size.
    *
    * Delivery: the out-append, band-append, and shingle-append inside one
    * micro-batch are not jointly atomic (the gateAndQuarantine caveat);
    * replay after a crash between writes can duplicate out-rows or index
    * entries. Index duplicates only create redundant candidates (verdicts
    * unchanged); out-dir readers needing exactly-once dedup on doc_id.
    */
  def dedupIngest(
      docs: DataFrame,
      indexPath: String,
      outPath: String,
      checkpoint: String,
      tau: Double = 0.8
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.{MinHashOps => MH}
        val spark = batch.sparkSession
        val conf  = spark.sparkContext.hadoopConfiguration
        def exists(p: String): Boolean = {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).exists(hp)
        }
        val b      = batch.localCheckpoint(true) // several consumers below
        val bBands = MH.bandKeys(b).localCheckpoint(true)
        val bSh    = MH.shingleSets(b).localCheckpoint(true)
        val noIds  = spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
        val indexDups =
          if (!exists(s"$indexPath/bands")) noIds
          else {
            // the index is written from bBands and bSh below: reading with
            // their schemas spares each micro-batch two inference jobs
            val iBands = spark.read.schema(bBands.schema).parquet(s"$indexPath/bands")
            val iSh    = spark.read.schema(bSh.schema).parquet(s"$indexPath/shingles")
            val cand = bBands
              .as("a")
              .join(iBands.as("b"), col("a.bkey") === col("b.bkey") && col("a.band") === col("b.band"))
              .select(col("a.doc_id").as("bid"), col("b.doc_id").as("iid"))
              .distinct()
            cand
              .join(bSh.select(col("doc_id").as("bid"), col("sh").as("s1")), "bid")
              .join(iSh.select(col("doc_id").as("iid"), col("sh").as("s2")), "iid")
              .filter(MH.jaccard(col("s1"), col("s2")) >= tau)
              .select(col("bid").as("doc_id"))
              .distinct()
          }
        // INTRA-batch self-probe (d13's candidate join, batch vs batch):
        // without it two near-duplicates arriving in the SAME micro-batch
        // would both verdict 'new' and both enter the index. Tiebreak by
        // doc_id — the lower id is the representative, every verified
        // higher-id match is a dup. (A doc matching only a dup — a chain —
        // still enters as 'new': the declared pairwise approximation, same
        // as any single-pass LSH ingest.)
        val selfDups = bBands
          .as("a")
          .join(bBands.as("b"), col("a.bkey") === col("b.bkey") && col("a.band") === col("b.band")
            && col("a.doc_id") > col("b.doc_id"))
          .select(col("a.doc_id").as("bid"), col("b.doc_id").as("iid"))
          .distinct()
          .join(bSh.select(col("doc_id").as("bid"), col("sh").as("s1")), "bid")
          .join(bSh.select(col("doc_id").as("iid"), col("sh").as("s2")), "iid")
          .filter(MH.jaccard(col("s1"), col("s2")) >= tau)
          .select(col("bid").as("doc_id"))
          .distinct()
        val dupIds = indexDups.unionByName(selfDups).distinct()
        val verdicts = b
          .join(dupIds.withColumn("is_dup", lit(1)), Seq("doc_id"), "left")
          .withColumn("verdict", when(col("is_dup").isNotNull, "dup").otherwise("new"))
          .drop("is_dup")
          .localCheckpoint(true)
        verdicts.write.mode("append").parquet(outPath)
        val newIds = verdicts.filter(col("verdict") === "new").select("doc_id")
        bBands.join(newIds, "doc_id").write.mode("append").parquet(s"$indexPath/bands")
        bSh.join(newIds, "doc_id").write.mode("append").parquet(s"$indexPath/shingles")
      }
      .start()

  /** Streaming face of s19m's incremental ANN-index maintenance (the
    * [[dedupIngest]] on-disk-index discipline applied to the kNN graph):
    * the durable state is the graph index itself — `$indexPath/buckets`
    * (the occupancy-capped band buckets, the probe target) and
    * `$indexPath/edges` (the symmetric degree-bounded adjacency) — and
    * each micro-batch of vectors is probed against the EXISTING buckets
    * plus its own bucket-mates (cost ∝ batch × bucket occupancy, never
    * index-wide), linked top-M both ways, and appended. The first batch
    * therefore builds EXACTLY the batch construction
    * ([[graft.operators.KnnGraphOps.graphFromCapped]] over its capped
    * buckets — StreamOpsSpec pins frame equality), and later batches
    * reproduce s19m's insert semantics plus intra-batch links (two new
    * vectors arriving together may link to each other — dedupIngest's
    * self-probe rationale). Bucket occupancy is capped against what is
    * ALREADY on disk ([[graft.operators.KnnGraphOps.capAgainst]]) so a
    * bucket never exceeds Cap across the index's lifetime, and the
    * degree invariant |E| ≤ 2·M·n survives every batch (each new node
    * adds ≤ M directed links, symmetrized).
    *
    * Exactly-once: a `meta` spine carries the last folded batch id (the
    * [[cusumDailySink]] guard) — a replayed micro-batch is skipped
    * instead of double-appending edges.
    */
  def knnGraphIngest(
      vecs: DataFrame,
      indexPath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.{KnnGraphOps => KG}
        val spark = batch.sparkSession
        val conf  = spark.sparkContext.hadoopConfiguration
        def exists(p: String): Boolean = {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).exists(hp)
        }
        graft.io.TableIO.healParked(spark, s"$indexPath/meta")
        val last =
          if (!exists(s"$indexPath/meta")) -1L
          else
            spark.read
              .parquet(s"$indexPath/meta")
              .agg(coalesce(max(col("last_batch")), lit(-1L)))
              .head
              .getLong(0)
        if (batchId > last) {
          val bqa = batch
            .select(col("vec_id"), col("embedding"), KG.quantArr(col("embedding")).as("qa"))
            .localCheckpoint(true)
          val keyed = KG.bandKeyed(bqa).localCheckpoint(true)
          val existing =
            if (exists(s"$indexPath/buckets")) spark.read.parquet(s"$indexPath/buckets")
            else keyed.limit(0)
          val occ        = existing.groupBy(col("band"), col("bk")).agg(count(lit(1)).as("n_occ"))
          val newBuckets = KG.capAgainst(keyed, occ).localCheckpoint(true)
          val target = existing
            .unionByName(newBuckets)
            .select(col("band"), col("bk"), col("vec_id").as("v2"), col("qa").as("qa2"))
          val edges = KG.symmetrize(KG.topMLinks(KG.bucketPairs(newBuckets, target)))
          edges.write.mode("append").parquet(s"$indexPath/edges")
          newBuckets.write.mode("append").parquet(s"$indexPath/buckets")
          graft.io.TableIO.writeParquet(
            spark.range(1).select(lit(batchId).as("last_batch")),
            s"$indexPath/meta")
        }
        ()
      }
      .start()

  final case class TransIn(user_id: Long, us: Long, event_id: Long, event_type: String)
  final case class TransPair(user_id: Long, from_type: String, to_type: String)
  final case class LastSeen(us: Long, event_id: Long, event_type: String)

  /** Streaming face of e18's transition matrix: per-user (from, to)
    * event-type pairs emitted as transitions happen, with the LAST event of
    * each user held as `flatMapGroupsWithState` state so the transition
    * that straddles a micro-batch boundary is emitted exactly once — the
    * pair stream a downstream counter aggregates into the same matrix the
    * batch query computes over the full history.
    *
    * Contract (same as [[sequencePacker]]): within a batch rows are sorted
    * by (us, event_id); across batches arrival order is the stream's
    * order. State: one (us, event_id, type) triple per user — bounded by
    * active-user cardinality, never volume. One shuffle per micro-batch on
    * user_id.
    */
  def transitionPairs(events: Dataset[TransIn]): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, TransPair](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      ) { case (uid, rows, state) =>
        val sorted = rows.toSeq.sortBy(r => (r.us, r.event_id))
        var prev   = state.getOption
        val out = sorted.map { e =>
          val pair = prev.map(p => TransPair(uid, p.event_type, e.event_type))
          prev = Some(LastSeen(e.us, e.event_id, e.event_type))
          pair
        }
        prev.foreach(p => state.update(p))
        out.flatten.iterator
      }
  }

  final case class PackIn(lang: String, doc_id: Long, n_tokens: Long)
  final case class PackOut(
      lang: String,
      doc_id: Long,
      n_tokens: Long,
      start_off: Long,
      pack_id: Long,
      straddles: Int
  )
  final case class PackCursor(next: Long)

  /** Streaming sequence packer — c1's concat-then-chunk packing
    * (4096-token windows per language stream) continued ACROSS
    * micro-batches: each language's running token offset is the
    * `flatMapGroupsWithState` state, so the shard layout a streaming ingest
    * produces is the one the batch query would have produced over the same
    * stream history, provided documents arrive in stream order (within a
    * batch they are sorted by doc_id; ACROSS batches arrival order is the
    * stream's order — the packer's contract, same as any append log).
    *
    * State: one long per language — bounded by language cardinality,
    * never by volume. One shuffle per micro-batch on lang.
    */
  def sequencePacker(docs: Dataset[PackIn], packTokens: Long = 4096L): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.lang)
      .flatMapGroupsWithState[PackCursor, PackOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      ) { case (lang, rows, state) =>
        var off = state.getOption.map(_.next).getOrElse(0L)
        val out = rows.toSeq.sortBy(_.doc_id).map { d =>
          val start = off
          off += d.n_tokens
          PackOut(
            lang,
            d.doc_id,
            d.n_tokens,
            start,
            start / packTokens,
            if (start / packTokens != (start + d.n_tokens - 1) / packTokens) 1 else 0
          )
        }
        state.update(PackCursor(off))
        out.iterator
      }
  }

  final case class Event(user_id: Long, us: Long)
  private[streaming] final case class EventT(user_id: Long, us: Long, ets: java.sql.Timestamp)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)
  final case class Session(user_id: Long, n_events: Long, duration_us: Long)

  /** Gap-based sessionizer: events for a user belong to one session until a
    * gap larger than `gapUs` arrives; the closed session is emitted and the
    * new one opens. State is bounded two ways:
    *
    *   - an event-time watermark (`watermarkDelay`) drops late events before
    *     the stateful operator, so state transitions are monotone in event
    *     time across micro-batches;
    *   - `EventTimeTimeout` fires once the watermark passes `lastUs + gapUs`:
    *     the open session is emitted as closed and its state REMOVED — a
    *     user who goes quiet costs nothing forever after.
    *
    * Within a batch, events that still arrive out of order (inside the
    * watermark delay) fold in with min/max guards, so `duration_us` can
    * never shrink or go negative. Batch runs (timeouts never fire there)
    * process each group once and keep the final open session unemitted —
    * same semantics as before.
    */
  object Sessionizer {

    def apply(
        events: Dataset[Event],
        gapUs: Long,
        watermarkDelay: String = "0 seconds"
    ): Dataset[Session] = {
      import events.sparkSession.implicits._
      // captured on the driver: in batch runs the watermark node is elided,
      // so timeout bookkeeping would throw UnsupportedOperationException
      val streaming = events.isStreaming
      events
        .withColumn("ets", timestamp_micros(col("us")))
        .withWatermark("ets", watermarkDelay)
        .as[EventT]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[SessionState, Session](
          OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout()
        ) { case (userId, rows, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(Session(userId, st.n, st.lastUs - st.startUs))
          } else {
            val sorted = rows.toSeq.sortBy(_.us)
            var cur    = state.getOption
            val out    = scala.collection.mutable.ArrayBuffer.empty[Session]
            sorted.foreach { e =>
              cur match {
                case Some(st) if e.us - st.lastUs > gapUs =>
                  out += Session(userId, st.n, st.lastUs - st.startUs)
                  cur = Some(SessionState(e.us, e.us, 1))
                case Some(st) =>
                  // out-of-order guard: never move the session bounds backwards
                  cur = Some(
                    SessionState(math.min(st.startUs, e.us), math.max(st.lastUs, e.us), st.n + 1)
                  )
                case None =>
                  cur = Some(SessionState(e.us, e.us, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // close the session when the watermark passes last-event + gap;
              // clamp above the current watermark (Spark rejects stale stamps)
              if (streaming)
                state.setTimeoutTimestamp(
                  math.max(st.lastUs / 1000 + gapUs / 1000, state.getCurrentWatermarkMs() + 1)
                )
            }
            out.iterator
          }
        }
    }
  }
}
