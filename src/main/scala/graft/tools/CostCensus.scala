package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine

/** Dev utility: the per-family COST CENSUS behind the deep-soak timings
  * (r10 verdict #1/#3) — for a given dataset dir, print the measured size
  * of each scale-risk family's dominant intermediate, so a soak ratio can
  * be pinned to "the work grew X×", not argued from the plan shape:
  *
  *   - d-family: d1 band-join candidate pairs + bucket occupancy
  *     (Dedup.candidateDiagnostics — the same census SOAK.md records);
  *   - g6-family (m^1.5 class): wedge count Σ C(outdeg, 2) over the
  *     (degree, id)-oriented co-supply projection — the exact number of
  *     wedge-join probe rows g6/g17/g18 generate;
  *   - g16/g17/g18 substrate: the same wedge census over the hub-capped
  *     co-occurrence projection (df ≤ 16, ≥ 2 shared parts);
  *   - d16: rare-gram anchor-join candidate pairs (the join output the
  *     df ≤ 16 cap + bottom-3 anchors bound);
  *   - m9: Σ C(occupancy, 2) over (block-index, block-hash) buckets — the
  *     inverted-index join's output size.
  *
  * Usage: `sbt "runMain graft.tools.CostCensus [sfDir]"` — run at 1× and
  * N× (Soak's replica dir) and put the lines side by side in SOAK.md.
  */
object CostCensus {
  def main(args: Array[String]): Unit = {
    val dir   = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Engine.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --- d-family band-join census --------------------------------------
    val (pairs, hot, mx) = graft.queries.Dedup.candidateDiagnostics(spark, dir)
    println(s"[census] dir=$dir d1_raw_pairs=$pairs hot_buckets=$hot max_bucket=$mx")

    // --- g6 wedge census over the oriented co-supply projection ----------
    val sp = Engine
      .table(spark, dir, "lineitem")
      .filter(col("l_linenumber") === 1)
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("p"))
      .distinct()
    val und = graft.Lineage.truncate(
      sp.select(col("sk").as("a"), col("p"))
        .join(sp.select(col("sk").as("b"), col("p")), "p")
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
        .distinct()
    )
    def wedges(u: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val oriented = graft.graph.GraphOps.orientByDegree(u)
      val row = oriented
        .groupBy("src")
        .agg(count(lit(1)).as("od"))
        .agg(
          coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("w"),
          coalesce(max(col("od")), lit(0L)).as("mx")
        )
        .head()
      (row.getLong(0), row.getLong(1))
    }
    val (w6, od6) = wedges(und)
    println(s"[census] dir=$dir g6_edges=${und.count()} g6_wedges=$w6 g6_max_outdeg=$od6")

    // --- g16/g17/g18 hub-capped projection wedge census -------------------
    val spAll = Engine
      .table(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    val keep = spAll.groupBy("pk").agg(count(lit(1)).as("n")).filter(col("n") <= 16).select("pk")
    val kept = spAll.join(keep, "pk")
    val e0 = graft.Lineage.truncate(
      kept
        .select(col("sk").as("a"), col("pk"))
        .join(kept.select(col("sk").as("b"), col("pk")), "pk")
        .filter(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select("a", "b")
    )
    val (w16, od16) = wedges(e0)
    println(s"[census] dir=$dir g16_edges=${e0.count()} g16_wedges=$w16 g16_max_outdeg=$od16")

    // --- d16 anchor-join candidate census ---------------------------------
    val docs = Engine.table(spark, dir, "documents")
    val c16 = docs
      .select(col("doc_id"), col("text"))
      .unionAll(
        docs.select(
          (-col("doc_id") - 1).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 10), " ").as("text")
        )
      )
    val g = graft.Lineage.truncate(
      c16.select(
        col("doc_id"),
        call_function("graft_word_shingles", col("text"), lit(3)).as("g")
      )
    )
    val posts = g.select(col("doc_id"), explode(col("g")).as("gr"))
    val dfOk  = posts.groupBy(col("gr")).agg(count(lit(1)).as("df")).filter(col("df") <= 16)
    val rare  = posts.join(dfOk.select("gr"), "gr")
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(md5(col("gr")), col("gr"))
    val anchors = rare
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("da"), col("gr"))
    val candN = anchors
      .join(rare.select(col("doc_id").as("db"), col("gr")), "gr")
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc1"), greatest(col("da"), col("db")).as("doc2"))
      .distinct()
      .count()
    println(s"[census] dir=$dir d16_candidates=$candN")

    // --- m9 block-hash bucket census --------------------------------------
    val cM = docs
      .select(col("doc_id"), col("text"))
      .unionAll(
        docs.select((-col("doc_id") - 1).as("doc_id"), concat(col("text"), lit(" zz tail")).as("text"))
      )
    val m9row = cM
      .withColumn("nb", least(floor(length(col("text")) / 32), lit(16)).cast("int"))
      .filter(col("nb") >= 1)
      .select(col("doc_id"), explode(sequence(lit(0), col("nb") - 1)).as("bi"), col("text"))
      .select(col("bi"), md5(encode(expr("substring(text, bi * 32 + 1, 32)"), "UTF-8")).as("h"))
      .groupBy("bi", "h")
      .agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("pairs"),
        coalesce(max(col("n")), lit(0L)).as("mx")
      )
      .head()
    println(s"[census] dir=$dir m9_bucket_pairs=${m9row.getLong(0)} m9_max_bucket=${m9row.getLong(1)}")

    spark.stop()
  }
}
