package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

/** End-to-end integration: the full 14-asset DAG materializes at sf0.001
  * with consistent cross-asset row counts and all index checks passing.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  test("full DAG materializes with consistent counts and green checks") {
    val out              = Files.createTempDirectory("graft_pipeline_spec").toString
    val (counts, report) = Pipeline.run(spark, "/root/testdata/sf0.001", out)
    val m                = counts.toMap

    // every asset materialized non-empty (unresolved_countries is a
    // reconciliation count and legitimately 0)
    (m.keySet - "unresolved_countries").foreach { k =>
      assert(m(k) > 0, s"asset $k is empty")
    }

    // cross-asset consistency
    assert(m("graph_nodes") == m("artists") + m("countries"))
    assert(m("graph_edges") == m("artists")) // one FROM_COUNTRY edge per artist
    assert(m("communities") == m("graph_nodes")) // hierarchy labels every node
    assert(m("wikipedia_articles") == m("articles") + m("genres_articles"))
    assert(m("vector_db") == m("wikipedia_articles")) // upsert keeps one row per chunk
    assert(m("tracks") >= m("releases")) // every chosen release has >= 1 track

    // the five data-quality checks all pass
    val checks = report.collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(checks.size == 5 && checks.values.forall(identity), checks.toString)

    // hierarchy output carries all three levels
    val comm = spark.read.parquet(s"$out/communities")
    assert(
      comm.columns.toSet == Set("id", "community_l0", "community_l1", "community_l2")
    )

    // rerun into the same outDir: overwrite/reset semantics (S16) make the
    // DAG idempotent — identical counts, no residue from the first run
    val (counts2, _) = Pipeline.run(spark, "/root/testdata/sf0.001", out)
    assert(counts2 == counts)
  }

  test("the quality report reads one aggregate chain: five checks, in order, in at most 5 jobs") {
    import spark.implicits._
    val index = Seq(("u1", "a", "2001"), ("u2", "b", null), ("u2", "b", null), (null, "c", "2003"))
      .toDF("artist_uri", "name", "start_date")
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsOf { rows = graft.pipeline.Checks.artistIndexReport(index).collect() }
    assert(jobs <= 5, jobs)
    assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSeq == Seq(
      ("row_count", 4.0, true),
      ("null_ids", 1.0, false),
      ("dup_rows", 2.0, false),
      ("unique_uri_ratio", 0.5, false),
      ("date_completeness", 0.5, false)))
  }
}
