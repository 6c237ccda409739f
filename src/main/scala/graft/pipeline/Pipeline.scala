package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.graph.GraphOps
import graft.io.TableIO
import graft.sources.Fixtures

/** The orchestrator — the reference's Dagster asset DAG
  * (defs/definitions.py:20-32, README.md:282-295) as one Spark job running
  * the asset transforms in dependency order, materializing each to Parquet
  * through [[graft.io.TableIO]] and running the quality checks after the
  * index write. Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.pipeline.Pipeline [outDir]"
  *
  * Prints one JSON line of per-asset row counts + check verdicts.
  */
object Pipeline {

  /** Runs the DAG; returns (asset → committed row count, check report).
    *
    * Each downstream asset reads the materialized parquet of its upstream
    * (as the reference's I/O managers do), not the unmaterialized lineage —
    * otherwise the index dedup chain would be re-executed once per
    * consumer.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): (Seq[(String, Long)], DataFrame) = {
    val raw    = Fixtures.artistIndexRaw(spark, sfDir)
    val nIndex = TableIO.writeParquet(Assets.buildArtistIndex(raw), s"$outDir/artist_index")
    val index  = spark.read.parquet(s"$outDir/artist_index")

    val nArtists = TableIO.writeParquet(
      Assets.extractArtists(index, Fixtures.entityFixture(spark, sfDir)),
      s"$outDir/artists"
    )
    val artists = spark.read.parquet(s"$outDir/artists")

    val resolved = graft.Engine
      .table(spark, sfDir, "nation")
      .select(concat(lit("QC"), col("n_nationkey").cast("string")).as("id"),
        col("n_name").as("name"))
    val (countriesLineage, unresolved) = Assets.extractCountries(artists, resolved)
    val nCountries = TableIO.writeParquet(countriesLineage, s"$outDir/countries")
    val countries  = spark.read.parquet(s"$outDir/countries")

    val nArticles = TableIO.writeParquet(
      Assets.extractArticles(artists, Fixtures.articleFixture(spark, sfDir)),
      s"$outDir/articles"
    )
    val articles = spark.read.parquet(s"$outDir/articles")

    // releases → tracks branch (extract_releases.py / extract_tracks.py)
    val nReleases = TableIO.writeParquet(
      Assets.extractReleases(artists, Fixtures.releaseGroupFixture(spark, sfDir)),
      s"$outDir/releases"
    )
    val releases = spark.read.parquet(s"$outDir/releases")
    val nTracks = TableIO.writeParquet(
      Assets.extractTracks(
        releases,
        Fixtures.releaseCandidatesFixture(spark, sfDir),
        Fixtures.trackFixture(spark, sfDir)
      ),
      s"$outDir/tracks"
    )

    // genres branch (extract_genres.py / extract_genres_articles.py)
    val nGenres = TableIO.writeParquet(Assets.extractGenres(artists), s"$outDir/genres")
    val genres  = spark.read.parquet(s"$outDir/genres")
    val nGenreArticles = TableIO.writeParquet(
      Assets.genreArticleChunks(genres, graft.Engine.table(spark, sfDir, "documents")),
      s"$outDir/genres_articles"
    )

    // merged article corpus (merge_wikipedia_articles.py) + vector ingest
    val nMerged = TableIO.writeParquet(
      Assets.mergeArticles(
        articles.withColumn("entity_type", lit("artist")),
        spark.read.parquet(s"$outDir/genres_articles")
      ),
      s"$outDir/wikipedia_articles"
    )
    val nVector = TableIO.writeParquet(
      Assets.vectorIngest(spark.read.parquet(s"$outDir/wikipedia_articles")),
      s"$outDir/vector_db"
    )

    val (nodesLineage, edgesLineage) = Assets.graphTables(artists, countries)
    val nNodes = TableIO.writeParquet(nodesLineage, s"$outDir/graph_nodes")
    val nEdges = TableIO.writeParquet(edgesLineage, s"$outDir/graph_edges")
    val nodes  = spark.read.parquet(s"$outDir/graph_nodes")
    val edges  = spark.read.parquet(s"$outDir/graph_edges")

    // multi-level communities over the artist—country graph: the same
    // resolution-parameterized sweep the quality face measures (g8c) —
    // LPA seeded, γ ∈ [2.0, 0.5, 0.1], FULL Leiden per level (mutual-merge
    // fixed point + gated refinement phase, r12), each level seeding the
    // next (the deterministic re-expression of the reference's
    // 3-resolution Leiden run, detect_communities.py:218-246; SURVEY
    // §7.4). The pipeline and quality faces consume ONE algorithm.
    val und = edges
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")
      )
      .distinct()
    val comps = GraphOps
      .resolutionHierarchy(
        nodes.select(col("node_id").as("id")),
        und,
        Seq((2L, 1L), (1L, 2L), (1L, 10L)),
        3,
        4
      )
      .select(
        col("id"),
        col("community_0").as("community_l0"),
        col("community_1").as("community_l1"),
        col("community_2").as("community_l2")
      )
    val nComms = TableIO.writeParquet(comps, s"$outDir/communities")

    val report = Checks.artistIndexReport(spark.read.parquet(s"$outDir/artist_index"))
    (
      Seq(
        "artist_index" -> nIndex,
        "artists" -> nArtists,
        "countries" -> nCountries,
        "unresolved_countries" -> unresolved.count(),
        "articles" -> nArticles,
        "releases" -> nReleases,
        "tracks" -> nTracks,
        "genres" -> nGenres,
        "genres_articles" -> nGenreArticles,
        "wikipedia_articles" -> nMerged,
        "vector_db" -> nVector,
        "graph_nodes" -> nNodes,
        "graph_edges" -> nEdges,
        "communities" -> nComms
      ),
      report
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = args.headOption.getOrElse(s"${sys.props("java.io.tmpdir")}/graft_pipeline")
    val spark  = Engine.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (counts, report) = run(spark, sfDir, outDir)
    val checks     = report.collect().map(r => r.getString(0) -> r.getBoolean(2))
    val countsJson = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val checksJson = checks.map { case (k, ok) => s""""$k":$ok""" }.mkString(",")
    println(s"""{"assets":{$countsJson},"checks":{$checksJson}}""")
    spark.stop()
    val failed = checks.collect { case (k, false) => k }
    failed.foreach(k => System.err.println(s"quality check failed: $k"))
    if (failed.nonEmpty) sys.exit(1)
  }
}
