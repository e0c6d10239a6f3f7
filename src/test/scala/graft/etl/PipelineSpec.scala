package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.Dataset

import graft.SparkTestBase

/** Golden e2e (SURVEY.md §5.4): canned YouTube API JSON (FIXTURES.md §A
  * shapes with the edge cases: missing country, pagination, duplicate
  * videoId across playlists, missing tags/likes, zero views, garbage
  * timestamp) → full pipeline → sink snapshots; a second run over the same
  * fixtures must be a no-op on video_stats (the :152-165 invariant).
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  // --- fixtures ------------------------------------------------------
  private val channelPages = Seq(
    """{"items": [
      {"snippet": {"title": "Chan A", "publishedAt": "2020-01-01T00:00:00Z",
                   "country": "US"},
       "statistics": {"subscriberCount": "1000", "viewCount": "50000",
                      "videoCount": "2"},
       "contentDetails": {"relatedPlaylists": {"uploads": "PL_A"}}},
      {"snippet": {"title": "Chan B", "publishedAt": "2021-06-15T12:00:00Z"},
       "statistics": {"subscriberCount": "0", "viewCount": "0",
                      "videoCount": "1"},
       "contentDetails": {"relatedPlaylists": {"uploads": "PL_B"}}}
    ]}""")

  // two pages for PL_A (pagination), one for PL_B; v2 duplicated across
  // playlists (exercises dedup O4)
  private val playlistPages = Seq(
    """{"items": [{"contentDetails": {"videoId": "v1"}},
                  {"contentDetails": {"videoId": "v2"}}],
        "nextPageToken": "p2"}""",
    """{"items": [{"contentDetails": {"videoId": "v3"}}]}""",
    """{"items": [{"contentDetails": {"videoId": "v2"}}]}""")

  private val videoPages = Seq(
    """{"items": [
      {"id": "v1",
       "snippet": {"channelTitle": "Chan A", "title": "First",
                   "description": "hello world", "tags": ["a", "b"],
                   "publishedAt": "2024-03-05T10:20:30Z"},
       "statistics": {"likeCount": "10", "viewCount": "1000",
                      "commentCount": "5", "favoriteCount": "0"},
       "contentDetails": {"duration": "PT1H2M10S"}},
      {"id": "v2",
       "snippet": {"channelTitle": "Chan A", "title": "Second",
                   "description": "",
                   "publishedAt": "2024-07-01T00:00:00Z"},
       "statistics": {"viewCount": "0", "favoriteCount": "0"},
       "contentDetails": {"duration": "PT15S"}},
      {"id": "v3",
       "snippet": {"channelTitle": "Chan B", "title": "Third",
                   "publishedAt": "not-a-date"},
       "statistics": {"likeCount": "3", "viewCount": "77",
                      "commentCount": "1", "favoriteCount": "0"},
       "contentDetails": {"duration": "P1DT2H"}}
    ]}""")

  test("full pipeline: run once loads all, run twice is a no-op") {
    val sink = Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "golden_sink_").toString

    val r1 = Pipeline.run(spark, channelPages.toDS(), playlistPages.toDS(),
      videoPages.toDS(), sink)
    assert(r1.newVideos == 3 && r1.channels == 2)

    val vs = spark.read.parquet(s"$sink/video_stats")
    assert(vs.count() == 3)
    val byId = vs.collect().map(r => r.getAs[String]("videoId") -> r).toMap
    // enrichment spot checks (O12-O21 through the real pipeline)
    assert(byId("v1").getAs[Double]("duration_sec") == 3730.0)
    assert(byId("v1").getAs[Int]("tag_count") == 2)
    assert(byId("v1").getAs[Double]("like_view_ratio") == 10.0)
    assert(byId("v2").getAs[Long]("likes") == 0L)         // fillna
    assert(byId("v2").isNullAt(byId("v2").fieldIndex("comment_view_ratio"))) // ÷0
    assert(byId("v3").isNullAt(byId("v3").fieldIndex("publish_year"))) // coerce
    assert(byId("v3").getAs[Double]("duration_sec") == 93600.0)

    val cs = spark.read.parquet(s"$sink/channel_stats")
    assert(cs.count() == 2)
    val chanB = cs.filter("channel_title = 'Chan B'").head
    assert(chanB.isNullAt(chanB.fieldIndex("country"))) // .get absent → null
    assert(chanB.getAs[String]("subscribers") == "0")   // strings, like :65

    // run 2: same fixtures → nothing new (idempotence); channels replaced
    val r2 = Pipeline.run(spark, channelPages.toDS(), playlistPages.toDS(),
      videoPages.toDS(), sink)
    assert(r2.newVideos == 0)
    assert(spark.read.parquet(s"$sink/video_stats").count() == 3)
    assert(spark.read.parquet(s"$sink/channel_stats").count() == 2)
  }

  private def newSink(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // v1 again, as a retried fetch delivers it: the same video with newer
  // counters
  private val resentPage =
    """{"items": [
      {"id": "v1",
       "snippet": {"channelTitle": "Chan A", "title": "First",
                   "description": "hello world", "tags": ["a", "b"],
                   "publishedAt": "2024-03-05T10:20:30Z"},
       "statistics": {"likeCount": "12", "viewCount": "1100",
                      "commentCount": "5", "favoriteCount": "0"},
       "contentDetails": {"duration": "PT1H2M10S"}}
    ]}"""

  test("a re-sent video page lands each new id exactly once") {
    val runs = Seq(videoPages :+ resentPage, resentPage +: videoPages).map {
      pages =>
        val sink = newSink("resent_sink_")
        val r = Pipeline.run(spark, channelPages.toDS(), playlistPages.toDS(),
          pages.toDS(), sink)
        val vs = spark.read.parquet(s"$sink/video_stats")
        (r.newVideos, vs.count(), vs.select("videoId").distinct().count(),
          vs.filter("videoId = 'v1'").select("views", "likes")
            .as[(Long, Long)].collect().toSeq)
    }
    assert(runs.head._1 == 3 && runs.head._2 == 3 && runs.head._3 == 3)
    assert(runs.last == runs.head, "the kept copy must not depend on page order")
  }

  test("a file: URI sink is seen on the rerun: no second append") {
    val sink = s"file:${newSink("uri_sink_")}"
    val r1 = Pipeline.run(spark, channelPages.toDS(), playlistPages.toDS(),
      videoPages.toDS(), sink)
    val r2 = Pipeline.run(spark, channelPages.toDS(), playlistPages.toDS(),
      videoPages.toDS(), sink)
    assert(r1.newVideos == 3 && r2.newVideos == 0)
    assert(spark.read.parquet(s"$sink/video_stats").count() == 3)
  }

  test("a run releases the new-id set it materialized") {
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    def run(videos: Dataset[String], sink: String) = Pipeline.run(spark,
      channelPages.toDS(), playlistPages.toDS(), videos, sink)
    val before = cached
    val sink = newSink("cache_sink_")
    assert(run(videoPages.toDS(), sink).newVideos == 3) // appends
    assert(cached == before)
    assert(run(videoPages.toDS(), sink).newVideos == 0) // zero-delta rerun
    assert(cached == before)
    val failing = Seq("page").toDS().map[String](_ => sys.error("fetch failed"))
    intercept[Exception](run(failing, newSink("cache_fail_"))) // append throws
    assert(cached == before)
  }

  test("source fan-out and dedup: 4 playlist-page rows → 3 distinct ids") {
    import graft.source.YouTubeSource
    val ids = YouTubeSource.playlistVideoIds(spark, playlistPages.toDS())
    assert(ids.count() == 4)
    assert(Incremental.dedup(ids, "videoId").count() == 3)
  }
}
