package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Curation
import graft.source.YouTubeSource

/** The reference's full daily ETL (E1, /root/reference/fetch_youtube_data.py
  * :143-200) as one composable, idempotent pipeline over the offline source
  * seam:
  *
  *   channels → playlist ids → video ids (fan-out) →
  *   incremental anti-join vs sink, materialized once (O6-O8) →
  *   empty short-circuit (O9) → fetch+flatten new stats, one row per id
  *   (O10/O11, dedup O4) → enrich (O12-O21) →
  *   append video_stats / overwrite channel_stats (O22/O23).
  *
  * Sinks are parquet directories here (the Verify-compatible twin of the
  * reference's Postgres tables); sink.Jdbc holds the JDBC form. The
  * cross-run state is ONLY the sink — re-running with the same inputs is a
  * no-op on video_stats, which is the reference's crash-recovery invariant
  * (:152-165) and our golden e2e test.
  */
object Pipeline {

  final case class Result(newVideos: Long, channels: Long)

  /** One run launches these Spark jobs and no others:
    *  1. the new-id set: parse the playlist pages, anti-join the fetched
    *     ids against the sink's `videoId` column, materialize the result
    *     and test it for emptiness (O9). The sink is read with its known
    *     key schema, so there is no schema-inference pass; when the
    *     planner broadcasts the sink keys, that broadcast is a job of its
    *     own;
    *  2. only when the set is non-empty, the append: parse the video pages,
    *     semi-join them against the materialized set, keep one row per id,
    *     enrich and write;
    *  3. the channel_stats overwrite.
    * Both writes count their rows with an `Observation` on the write itself,
    * so no count re-parses a page directory. A zero-delta rerun runs jobs 1
    * and 3 only and never parses the video pages. */
  def run(
      spark: SparkSession,
      channelPages: Dataset[String],
      playlistPages: Dataset[String],
      videoPages: Dataset[String],
      sinkDir: String): Result = {

    // O3: fan-out to video ids. No O4 dedup: the ids only feed the
    // anti-join and then the semi-join's build side, where a repeat changes
    // nothing.
    val fetchedIds = YouTubeSource.playlistVideoIds(spark, playlistPages)

    // O6/O8: anti-join against the sink's keys; no sink yet ≡ the has_table
    // probe at :155-156. Materialized once: the emptiness test and the
    // semi-join below both read it.
    val videoSinkPath = s"$sinkDir/video_stats"
    val newIds = (
      if (exists(spark, videoSinkPath))
        Incremental.absentKeys(fetchedIds,
          spark.read.schema("videoId STRING").parquet(videoSinkPath), "videoId")
      else fetchedIds
    ).persist()

    val newCount =
      try {
        if (newIds.isEmpty) 0L // O9 short-circuit
        else {
          // O10/O11: "fetch" = the video pages source filtered to new ids
          // (the API-quota saving of :152-168: only new ids are fetched)
          val stats = onePerId(YouTubeSource.videoStats(spark, videoPages)
            .join(newIds, Seq("videoId"), "left_semi"))
          // O12-O21 + O22
          countedWrite(Transforms.enrichVideoStats(stats), SaveMode.Append,
            videoSinkPath)
        }
      } finally newIds.unpersist()

    // O23: full snapshot replace each run
    Result(newCount, countedWrite(YouTubeSource.channels(spark, channelPages),
      SaveMode.Overwrite, s"$sinkDir/channel_stats"))
  }

  /** A re-sent video page repeats an id; keep one row per id, the greatest
    * by its other columns in order, so the choice does not depend on which
    * page arrived first. */
  private def onePerId(stats: DataFrame): DataFrame =
    Curation.latestPerKey(stats, "videoId",
      stats.columns.filter(_ != "videoId").map(col(_).desc).toSeq: _*)

  /** Writes `df` and returns its row count. The count rides the write via
    * observe(): a count() after the write would re-execute the whole plan
    * (page parse, joins) and, for the append, re-read the path it just
    * wrote to. */
  private def countedWrite(df: DataFrame, mode: SaveMode, path: String): Long = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("n")).write.mode(mode).parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** Whether `path` exists on its own filesystem (a `file:`, `hdfs:` or
    * `s3a:` URI as well as a bare local path). */
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }
}
