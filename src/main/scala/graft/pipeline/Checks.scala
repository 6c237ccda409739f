package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's five asset checks (defs/checks.py:14-159) as a single
  * assertion report: one row per check with its measured value and verdict —
  * the post-materialization gate the orchestrator runs after each write.
  *
  * Scale notes: all five checks read one aggregate chain over the frame,
  * run once. Its first step is the dup check's hash prepass from a3
  * (12-byte shuffle key, never the full row); the second folds the groups
  * into one row.
  */
object Checks {

  /** Quality report over an artist-index-shaped frame
    * `(artist_uri, name, start_date)`.
    */
  def artistIndexReport(index: DataFrame): DataFrame = {
    val cols = index.columns.map(col).toSeq
    def rows(c: Column): Column = sum(when(c, 1).otherwise(0))

    // The rows of a group are identical, so the group's min uri is its
    // uri and the per-group sums add up to the per-row ones. No join: a
    // second single-row aggregate joined in would cost a broadcast job.
    val stats = index
      .groupBy(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(
        count(lit(1)).as("n"),
        rows(col("artist_uri").isNull).as("nu"),
        rows(col("name").isNull).as("nn"),
        rows(col("start_date").isNotNull).as("nd"),
        min(col("artist_uri")).as("uri")
      )
      .agg(
        coalesce(sum("n"), lit(0L)).cast("double").as("row_count"),
        sum("nu").cast("double").as("null_uris"),
        sum("nn").cast("double").as("null_names"),
        countDistinct(col("uri")).cast("double").as("distinct_uris"),
        sum("nd").cast("double").as("dated_rows"),
        coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)).cast("double").as("dup_rows")
      )

    def check(name: String, value: Column, passed: Column): Column =
      struct(lit(name).as("check"), round(value, 6).as("value"), passed.as("passed"))

    stats
      .select(explode(array(
        check("row_count", col("row_count"), col("row_count") > 0),
        check("null_ids", col("null_uris") + col("null_names"),
          col("null_uris") + col("null_names") === 0),
        check("dup_rows", col("dup_rows"), col("dup_rows") === 0),
        check("unique_uri_ratio", col("distinct_uris") / col("row_count"),
          col("distinct_uris") === col("row_count")),
        check("date_completeness", col("dated_rows") / col("row_count"),
          col("dated_rows") / col("row_count") >= 0.95)
      )).as("r"))
      .select("r.*")
  }
}
