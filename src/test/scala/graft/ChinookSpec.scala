package graft

import graft.catalog.{Catalogs, ConstraintCatalog, ForeignKey, TableMeta}
import graft.graph.GraphBuilder
import graft.topology.{EdgeKey, Topology}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Golden end-to-end on the Chinook-shaped micro-fixture (FIXTURES.md §B) —
  * the schema the reference was written for, covering cases the TPC-H
  * fixture cannot: a self-referencing FK (employees.ReportsTo), a nullable
  * FK that must drop (P9, `convert_to_graph.py:184`), reverse() skipping
  * self-type edges (G7, `:246`), one-hot feature width (F6, `:162`), and
  * the playlist_track junction (G3). All values deterministic. */
class ChinookSpec extends SparkSpec {
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark
  import spark.implicits._

  import ChinookSpec.cat
  private def tables = ChinookSpec.tables(spark)

  test("classification: 1-PK nodes, 2-PK junction, self-FK edge derived") {
    val topo = Topology.classify(cat)
    assert(topo.nodes.map(_.table).toSet ==
      Set("artists", "albums", "genres", "tracks", "playlists", "employees"))
    val keys = topo.edges.map(_.key).toSet
    assert(keys.contains(EdgeKey("playlists", "hasTrack", "tracks")))
    assert(keys.contains(EdgeKey("employees", "hasReportsTo", "employees")))
    assert(keys.contains(EdgeKey("tracks", "hasAlbum", "albums")))
    assert(topo.unresolvedJunctions.isEmpty)
  }

  test("nullable self-FK drops null rows; reverse skips self-type edges") {
    val g = GraphBuilder.build(cat, tables(_)).withReverseEdges
    val selfKey = EdgeKey("employees", "hasReportsTo", "employees")
    // employee 1 has NULL ReportsTo -> 3 edges, not 4 (P9)
    assert(g.edges(selfKey).count() == 3)
    // G7: no REVERSE_ twin for the self-type edge
    assert(!g.edges.contains(selfKey.reversed))
    // hetero types do get reversed
    assert(g.edges.contains(EdgeKey("tracks", "hasAlbum", "albums").reversed))
  }

  test("one-hot on genres-like column: width = numeric + one-hot + degree") {
    val g = GraphBuilder.build(cat, tables(_),
      oneHot = Map("tracks" -> "GenreId")).addDegree
    // tracks features: Milliseconds (GenreId/AlbumId are FKs -> dropped,
    // TrackId is PK -> dropped) + one-hot(GenreId: 2 values) + degree = 4
    val width = g.nodes("tracks").select(size(col("features")))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(width == Seq(4))
    // one-hot columns are 0/1 and exactly one fires per row
    val oneHotSum = g.nodes("tracks")
      .select((element_at(col("features"), 2) + element_at(col("features"), 3))
        .cast("double").as("s")).distinct().collect().map(_.getDouble(0)).toSeq
    assert(oneHotSum == Seq(1.0))
  }

  test("junction edges remap to dense ids; degree matches hand-computed") {
    val g = GraphBuilder.build(cat, tables(_)).addDegree
    val pt = g.edges(EdgeKey("playlists", "hasTrack", "tracks"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // dense ids are 0-based in PK order: playlist 1->0, 2->1; track k->k-1
    assert(pt == Set((0L, 0L), (0L, 1L), (1L, 1L), (1L, 2L), (1L, 3L)))
    // track degrees: t1: pt(1) + hasAlbum(1) + hasGenre? tracks->genres edge
    // counts on the tracks side too; t2 appears in 2 playlists.
    // hand-compute: degree(track t) = |pt edges| + |tracks->albums| (1) +
    // |tracks->genres| (1) + 1
    val deg = g.nodes("tracks")
      .select(col("pk"), element_at(col("features"), -1).cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(deg == Map(1 -> 4, 2 -> 5, 3 -> 4, 4 -> 4))
  }

  test("flagship shape: seeded playlist recommendation runs on chinook") {
    val g = GraphBuilder.build(cat, tables(_))
      .addDegree.withReverseEdges.withSelfLoops
    val out = graft.serve.Recommend.recommend(
      g, EdgeKey("playlists", "hasTrack", "tracks"), seedDst = Seq(0L), k = 3)
    val rows = out.collect()
    assert(rows.length == 3)
    // the seed track (id 0) must not be recommended back (J6 anti-join)
    assert(!rows.map(_.getLong(0)).contains(0L))
  }
}

/** The Chinook-shaped micro-fixture (FIXTURES.md §B), shared with
  * RecommendSpec. */
object ChinookSpec {
  val cat = ConstraintCatalog(Seq(
    TableMeta("artists", Seq("ArtistId")),
    TableMeta("albums", Seq("AlbumId"),
      Seq(ForeignKey("ArtistId", "artists", "ArtistId"))),
    TableMeta("genres", Seq("GenreId")),
    TableMeta("tracks", Seq("TrackId"), Seq(
      ForeignKey("AlbumId", "albums", "AlbumId"),
      ForeignKey("GenreId", "genres", "GenreId"))),
    TableMeta("playlists", Seq("PlaylistId")),
    TableMeta("playlist_track", Seq("PlaylistId", "TrackId"), Seq(
      ForeignKey("PlaylistId", "playlists", "PlaylistId"),
      ForeignKey("TrackId", "tracks", "TrackId"))),
    TableMeta("employees", Seq("EmployeeId"),
      Seq(ForeignKey("ReportsTo", "employees", "EmployeeId")))))

  def tables(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "artists" -> Seq((1, "AC"), (2, "BB"), (3, "CC"))
        .toDF("ArtistId", "Name"),
      "albums" -> Seq((1, "a1", 1), (2, "a2", 1), (3, "a3", 2))
        .toDF("AlbumId", "Title", "ArtistId"),
      "genres" -> Seq((1, "rock"), (2, "jazz")).toDF("GenreId", "Name"),
      "tracks" -> Seq(
        (1, "t1", 1, 1, 100L), (2, "t2", 1, 2, 200L),
        (3, "t3", 2, 1, 300L), (4, "t4", 3, 2, 400L))
        .toDF("TrackId", "Name", "AlbumId", "GenreId", "Milliseconds"),
      "playlists" -> Seq((1, "p1"), (2, "p2")).toDF("PlaylistId", "Name"),
      "playlist_track" -> Seq((1, 1), (1, 2), (2, 2), (2, 3), (2, 4))
        .toDF("PlaylistId", "TrackId"),
      "employees" -> Seq(
        (1, Option.empty[Int]), (2, Some(1)), (3, Some(1)), (4, Some(2)))
        .toDF("EmployeeId", "ReportsTo"))
  }
}
