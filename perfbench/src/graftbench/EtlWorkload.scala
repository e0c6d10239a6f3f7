package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunPipeline
import graft.etl.{Incremental, Transforms}
import graft.source.YouTubeSource
import graft.source.v2.JsonPagesSource

/** daily_etl: the reference's incremental daily job through
  * `RunPipeline.run`. A day-0 backfill (bulk write), then incremental days
  * that each add 1–2 % new videos while playlist pages list every upload to
  * date and video pages re-send already-loaded videos (small delta against
  * a growing sink), then the last day again, several times (zero-delta,
  * read-only reruns). */
final class EtlWorkload(scale: String, seed: Long, dir: Path) extends Workload {
  private val spec = scale match {
    case "full" => Gen.EtlSpec(channels = 8, backfill = 1600, days = 2,
      minNewFrac = 0.01, maxNewFrac = 0.02, overlapFrac = 0.5)
    case _ => Gen.EtlSpec(channels = 3, backfill = 60, days = 1,
      minNewFrac = 0.01, maxNewFrac = 0.02, overlapFrac = 0.5)
  }
  private val Reruns = 2
  private[graftbench] var truth: Gen.EtlTruth = _
  /** The id-set checks (`checkVideos`) made by the timed iterations, and
    * how many of them passed. */
  private var idChecks, idChecksOk = 0
  def generate(): Unit = truth = Gen.etl(dir, seed, spec)
  override def minIterations: Int = if (scale == "full") 2 else 1
  def load(spark: SparkSession): Unit = ()

  private def sinkDir(tag: String): Path = {
    val p = dir.resolve(s"sink-$tag")
    Main.deleteTree(p)
    p
  }

  def iteration(spark: SparkSession, client: Client, checks: Checks): Unit = {
    val sink = sinkDir("e2e").toString
    val days = truth.days
    val last = days.last
    val plan = Seq("backfill" -> days.head) ++ days.tail.map("day" -> _) ++
      Seq.fill(Reruns)("rerun" -> last)
    // every run's new-row count is checked; the sink's full id set after
    // the last run of each kind, since an error of an earlier run stays in
    // the sink
    plan.zipWithIndex.foreach { case ((kind, day), i) =>
      val lastOfKind = !plan.drop(i + 1).exists(_._1 == kind)
      client.op(kind)(RunPipeline.run(spark, day.dir.toString, sink))
        .filter(_ => checks.active).foreach { r =>
          checks.guarded(s"$kind output") {
            checkNewRows(kind, day, r.newVideos, checks)
            if (lastOfKind) {
              idChecks += 1
              if (checkVideos(spark, sink, day, checks)) idChecksOk += 1
            }
          }
        }
    }
    if (checks.active)
      checks.guarded("sink after the reruns")(checkChannels(spark, sink, checks))
    // the sink's parquet files as Pipeline left them, from the traced
    // iteration
    client.tracer.foreach { t =>
      val parts = parquetFiles(Paths.get(sink))
      t.add("sink.files", parts.size.toDouble)
      t.add("sink.bytes", parts.map(Files.size(_)).sum.toDouble)
    }
  }

  private def parquetFiles(root: Path): Seq[Path] = {
    val files = Files.walk(root)
    try files.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray.toSeq
        .map(_.asInstanceOf[Path])
    finally files.close()
  }

  /** A day writes exactly its new videos; a rerun writes none. */
  def checkNewRows(kind: String, day: Gen.EtlDay, got: Long,
      checks: Checks): Unit = {
    val want = if (kind == "rerun") 0L else day.newRows
    checks(s"$kind ${day.dir.getFileName} new rows", got == want,
      s"got $got, want $want")
  }

  /** video_stats after a day: exactly the generated distinct ids (count,
    * distinct count and CRC32 sum) and the generator's column totals.
    * Returns whether the check passed. */
  def checkVideos(spark: SparkSession, sink: String, day: Gen.EtlDay,
      checks: Checks): Boolean = {
    val r = spark.read.parquet(s"$sink/video_stats").agg(
      count(lit(1)), countDistinct(col("videoId")),
      sum(crc32(col("videoId").cast("binary"))),
      sum(col("views")), sum(col("likes")),
      sum(col("duration_sec")).cast("long")).head()
    val got = (0 until 6).map(i => if (r.isNullAt(i)) -1L else r.getLong(i))
    val want = Seq(day.totalRows, day.totalRows, day.idCrcSum, day.views,
      day.likes, day.durationSec)
    checks(s"video_stats after ${day.dir.getFileName}", got == want,
      s"got $got, want $want")
    got == want
  }

  /** channel_stats holds one row per channel. */
  def checkChannels(spark: SparkSession, sink: String, checks: Checks): Unit = {
    val c = spark.read.parquet(s"$sink/channel_stats")
      .agg(count(lit(1)), countDistinct(col("channel_title"))).head()
    checks("channel_stats one row per channel",
      c.getLong(0) == truth.channels && c.getLong(1) == truth.channels,
      s"got ${c.getLong(0)} rows, ${c.getLong(1)} distinct")
  }

  /** `recall_frac` and `precision_frac` are both the share of id-set
    * checks that passed: each demands exactly the generated ids in the
    * sink, and a failed check fails the run, so a passing run reads 1. */
  def endToEnd(c: Client): Seq[Metric] = {
    val bulk = c.samples("backfill").map(spec.backfill / _)
    val idSets = if (idChecks == 0) Double.NaN else idChecksOk.toDouble / idChecks
    Seq(
      Metric("bulk_items_per_s", Stats.median(bulk), "1/s"),
      Metric("op_a_s", Stats.median(c.samples("day")), "s"),
      Metric("op_b_s", Stats.median(c.samples("rerun")), "s"),
      Metric("recall_frac", idSets, "frac"),
      Metric("precision_frac", idSets, "frac"))
  }

  def report(c: Client): Seq[String] = Seq(
    f"bulk_rows_per_s ${Stats.median(c.samples("backfill").map(spec.backfill / _))}%.1f 1/s (n=${c.samples("backfill").size})",
    f"daily_run_s ${Stats.median(c.samples("day"))}%.4f s (n=${c.samples("day").size})",
    f"noop_run_s ${Stats.median(c.samples("rerun"))}%.4f s (n=${c.samples("rerun").size})")

  def layers(spark: SparkSession, t: Tracer, checks: Checks): Seq[Metric] = {
    import spark.implicits._
    import Layer.{materialize, noop}
    val sink = sinkDir("layers")
    val videoSink = sink.resolve("video_stats").toString
    var fetchedIds, newIds = 0L
    val runs = truth.days :+ truth.days.last
    runs.foreach { day =>
      def pages(sub: String): Dataset[String] = {
        val ls = Files.list(day.dir.resolve(sub))
        try t.add("source.pages", ls.count().toDouble) finally ls.close()
        val ds = spark.read.format(JsonPagesSource.Name)
          .option("path", day.dir.resolve(sub).toString).load().as[String]
        t.add("source.input_partitions", ds.rdd.getNumPartitions.toDouble)
        ds
      }
      val (chP, plP, viP) = (pages("channels"), pages("playlists"), pages("videos"))
      val parsed = t.span("source.parse") {
        val fs = Seq(YouTubeSource.channels(spark, chP),
          YouTubeSource.playlistVideoIds(spark, plP),
          YouTubeSource.videoStats(spark, viP))
        fs.foreach(noop)
        fs
      }
      val Seq(channels, ids, stats) = parsed.map(materialize)
      t.span("etl.dedup")(noop(Incremental.dedup(ids, "videoId")))
      val fetched = materialize(Incremental.dedup(ids, "videoId"))
      val existing: DataFrame =
        if (Files.exists(sink.resolve("video_stats")))
          t.span("etl.sink_scan") {
            val e = spark.read.parquet(videoSink).select("videoId")
            noop(e)
            e
          }
        else fetched.limit(0)
      val known = materialize(existing)
      t.span("etl.antijoin")(noop(Incremental.newKeys(fetched, known, "videoId")))
      val fresh = materialize(Incremental.newKeys(fetched, known, "videoId"))
      val nFresh = fresh.count()
      fetchedIds += fetched.count()
      newIds += nFresh
      val newStats = materialize(stats.join(fresh, Seq("videoId"), "left_semi"))
      t.span("etl.enrich")(noop(Transforms.enrichVideoStats(newStats)))
      val enriched = materialize(Transforms.enrichVideoStats(newStats))
      if (nFresh > 0) t.span("sink.append") {
        enriched.write.mode(SaveMode.Append).parquet(videoSink)
      }
      t.span("sink.overwrite") {
        channels.write.mode(SaveMode.Overwrite)
          .parquet(sink.resolve("channel_stats").toString)
      }
      Seq(channels, ids, stats, fetched, known, fresh, newStats, enriched)
        .foreach(_.unpersist())
    }
    checkVideos(spark, sink.toString, truth.days.last, checks)
    checkChannels(spark, sink.toString, checks)
    val self = t.selfSeconds
    def s(n: String) = self.getOrElse(n, 0.0)
    Seq(
      Metric("source.pages", t.counts("source.pages"), "count"),
      Metric("source.input_partitions", t.counts("source.input_partitions"), "count"),
      Metric("source.parse_s", s("source.parse"), "s"),
      Metric("etl.dedup_s", s("etl.dedup"), "s"),
      Metric("etl.sink_scan_s", s("etl.sink_scan"), "s"),
      Metric("etl.antijoin_s", s("etl.antijoin"), "s"),
      Metric("etl.enrich_s", s("etl.enrich"), "s"),
      Metric("etl.new_id_frac", newIds.toDouble / fetchedIds, "frac"),
      Metric("sink.append_s", s("sink.append"), "s"),
      Metric("sink.overwrite_s", s("sink.overwrite"), "s"),
      Metric("sink.files", t.counts.getOrElse("sink.files", 0.0), "count"),
      Metric("sink.bytes", t.counts.getOrElse("sink.bytes", 0.0), "B"))
  }
}
