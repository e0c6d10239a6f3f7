package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.RunPipeline
import graft.ops.Similarity

/** Shows that every output check can fail: each check is given the true
  * output of a tiny workload, which it must accept, and corrupted copies,
  * which it must reject. */
object SelfTest {

  /** Returns the number of cases whose verdict was wrong. */
  def run(spark: SparkSession, work: Path): Int = {
    var wrong = 0
    def expect(name: String, pass: Boolean)(check: Checks => Unit): Unit = {
      val c = new Checks
      check(c)
      val verdict = if (c.ok) "accepted" else "rejected"
      if (c.ok == pass) println(s"[selftest] ok: $name $verdict")
      else {
        wrong += 1
        println(s"[selftest] WRONG: $name $verdict")
      }
    }

    // daily_etl: new-row counts, video_stats contents, channel_stats
    val etl = new EtlWorkload("tiny", 3L, work.resolve("etl"))
    etl.generate()
    val day0 = etl.truth.days.head
    val sink = work.resolve("etl-sink").toString
    val r = RunPipeline.run(spark, day0.dir.toString, sink)
    expect("backfill new rows", pass = true)(etl.checkNewRows("backfill", day0, r.newVideos, _))
    expect("rerun that writes rows", pass = false)(etl.checkNewRows("rerun", day0, 1L, _))
    expect("video_stats", pass = true)(etl.checkVideos(spark, sink, day0, _))
    expect("channel_stats", pass = true)(etl.checkChannels(spark, sink, _))
    val videos = spark.read.parquet(s"$sink/video_stats").cache()
    def corrupt(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val p = work.resolve(name).toString
      df.write.mode("overwrite").parquet(s"$p/video_stats")
      p
    }
    expect("video_stats with a repeated videoId", pass = false)(etl.checkVideos(
      spark, corrupt("dup", videos.union(videos.limit(1))), day0, _))
    expect("video_stats missing a video", pass = false)(etl.checkVideos(
      spark, corrupt("missing", videos.orderBy("videoId").offset(1)), day0, _))
    expect("video_stats with wrong views", pass = false)(etl.checkVideos(
      spark, corrupt("views", videos.withColumn("views", col("views") + 1)), day0, _))
    val chans = spark.read.parquet(s"$sink/channel_stats")
    chans.union(chans.limit(1)).write.parquet(work.resolve("chan").resolve("channel_stats").toString)
    expect("channel_stats with a repeated channel", pass = false)(
      etl.checkChannels(spark, work.resolve("chan").toString, _))

    // corpus_curation: the gate's survivors and the split counts
    val cur = new CorpusWorkload("tiny", 3L, work.resolve("corpus"))
    cur.generate()
    cur.load(spark)
    val kept = Layer.materialize(
      CorpusWorkload.exactDedup(CorpusWorkload.qualityGate(cur.docs)))
    val oneId = kept.agg(min(col("doc_id"))).head().getLong(0)
    expect("gate survivors", pass = true)(cur.checkGate(kept, _))
    expect("gate survivors missing a doc", pass = false)(
      cur.checkGate(kept.filter(col("doc_id") =!= oneId), _))
    expect("gate survivors with a dropped doc", pass = false)(cur.checkGate(
      kept.union(CorpusWorkload.qualityGate(cur.docs).filter(col("doc_id") =!= oneId)
        .join(kept, Seq("doc_id"), "left_anti").limit(1)), _))
    expect("split counts", pass = true)(CorpusWorkload.checkSplit(10, Seq(6, 4), _))
    expect("split counts short of the survivors", pass = false)(
      CorpusWorkload.checkSplit(10, Seq(6, 3), _))

    // vector_search: cosineTopK against the brute force
    val vec = new VectorWorkload("tiny", 3L, work.resolve("vectors"))
    vec.generate()
    vec.load(spark)
    val exact = vec.neighbours(Similarity.cosineTopK(vec.coll, vec.queries,
      VectorWorkload.K).collect())
    val q = exact.keys.min
    expect("exact top-k", pass = true)(vec.checkExact(exact, _))
    expect("exact top-k in the wrong order", pass = false)(
      vec.checkExact(exact.updated(q, exact(q).reverse), _))
    expect("exact top-k with a wrong neighbour", pass = false)(
      vec.checkExact(exact.updated(q, exact(q).init :+ -1L), _))
    expect("exact top-k missing a query", pass = false)(
      vec.checkExact(exact - q, _))
    wrong
  }
}
