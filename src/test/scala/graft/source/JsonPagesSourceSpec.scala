package graft.source

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, spark_partition_id}

import graft.SparkTestBase
import graft.source.v2.{JsonPagesSource, PagedFetch}

class JsonPagesSourceSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "pages_").toString
    Files.writeString(Paths.get(s"$d/page1.json"),
      """{"items": [{"contentDetails": {"videoId": "v1"}},
        |           {"contentDetails": {"videoId": "v2"}}],
        | "nextPageToken": "p2"}""".stripMargin)
    Files.writeString(Paths.get(s"$d/page2.json"),
      """{"items": [{"contentDetails": {"videoId": "v3"}}]}""")
    d
  }

  /** A fresh directory of page files, written in reverse name order so a
    * listing in creation order would show. */
  private def pageDir(prefix: String, pages: Seq[(String, String)]): String = {
    val d = Files.createTempDirectory(prefix).toString
    pages.reverse.foreach { case (name, body) =>
      Files.writeString(Paths.get(s"$d/$name"), body)
    }
    d
  }

  private def load(dir: String): DataFrame =
    spark.read.format(JsonPagesSource.Name).option("path", dir).load()

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DSv2 source: one row per page, in file-name order") {
    val d = pageDir("order_", Seq("b.json" -> "B", "a.json" -> "A",
      "c.json" -> "C", "notes.txt" -> "skipped"))
    import spark.implicits._
    assert(load(d).as[String].collect().toSeq == Seq("A", "B", "C"))
  }

  test("40 small pages pack into at most defaultParallelism partitions") {
    val pages = (0 until 40).map(i => f"p$i%02d.json" -> f"""{"n": $i%02d}""")
    val df = load(pageDir("packed_", pages))
    val n = df.rdd.getNumPartitions
    assert(n <= spark.sparkContext.defaultParallelism, s"$n partitions")
    import spark.implicits._
    assert(df.as[String].collect().toSeq == pages.map(_._2))
  }

  test("a page above maxPartitionBytes gets a partition of its own") {
    val small = (i: Int) => s"""{"n": $i, "pad": "${"x" * 80}"}"""
    val big = s"""{"pad": "${"y" * 5000}"}"""
    val pages = (0 until 5).map(i => s"a$i.json" -> small(i)) ++
      Seq("b.json" -> big) ++
      (0 until 5).map(i => s"c$i.json" -> small(i))
    val d = pageDir("split_", pages)
    val parts = withConf("spark.sql.files.maxPartitionBytes" -> "1000",
        "spark.sql.files.openCostInBytes" -> "10") {
      load(d).select(spark_partition_id().as("p"), col("value"))
        .collect().groupBy(_.getInt(0)).values
        .map(_.map(_.getString(1)).toSeq).toSeq
    }
    assert(parts.filter(_.contains(big)) == Seq(Seq(big)))
    assert(parts.size < pages.size, "the small pages around it still pack")
    assert(parts.map(_.size).sum == pages.size)
  }

  test("pages flow into the YouTubeSource flatten (end-to-end O3)") {
    import spark.implicits._
    val pages = spark.read.format(JsonPagesSource.Name)
      .option("path", dir).load().as[String]
    val ids = YouTubeSource.playlistVideoIds(spark, pages)
      .as[String].collect().sorted.toSeq
    assert(ids == Seq("v1", "v2", "v3"))
  }

  test("empty/missing dir yields an empty frame, not an error") {
    val df = spark.read.format(JsonPagesSource.Name)
      .option("path", s"$dir/nonexistent").load()
    assert(df.isEmpty)
  }

  test("a file: URI page directory loads the rows of its bare path; a " +
      "missing one is still empty; another scheme is refused by name") {
    import spark.implicits._
    val want = load(dir).as[String].collect().toSeq
    assert(want.size == 2)
    for (uri <- Seq(s"file:$dir", Paths.get(dir).toUri.toString))
      assert(load(uri).as[String].collect().toSeq == want, uri)
    assert(load(s"file:$dir/nonexistent").isEmpty)
    val e = intercept[IllegalArgumentException] {
      load("hdfs://namenode:8020/pages").collect()
    }
    assert(e.getMessage.contains("'hdfs'"), e.getMessage)
  }

  // --- live modes: the pagination loop + chunking THROUGH the DSv2 seam --

  test("mode=pages: reader follows nextPageToken across a fake fetcher") {
    PagedFetch.Fetchers.register("spec-pages", {
      case PagedFetch.PageRequest(None, Nil) =>
        """{"items": [{"contentDetails": {"videoId": "v1"}}],
          | "nextPageToken": "t2"}""".stripMargin
      case PagedFetch.PageRequest(Some("t2"), Nil) =>
        """{"items": [{"contentDetails": {"videoId": "v2"}}]}"""
      case other => fail(s"unexpected request: $other")
    })
    import spark.implicits._
    val pages = spark.read.format(JsonPagesSource.Name)
      .option("fetcher", "spec-pages").option("mode", "pages").load()
    assert(pages.rdd.getNumPartitions == 1,
      "a token stream is sequential: exactly one partition")
    val ids = YouTubeSource.playlistVideoIds(spark, pages.as[String])
      .as[String].collect().sorted.toSeq
    assert(ids == Seq("v1", "v2"))
  }

  test("mode=chunks: one partition per 50-id chunk, ids batched correctly") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    PagedFetch.Fetchers.register("spec-chunks", { req =>
      seen.add(req.ids)
      s"""{"n": ${req.ids.size}}"""
    })
    val ids = (1 to 120).map(i => s"v$i")
    val df = spark.read.format(JsonPagesSource.Name)
      .option("fetcher", "spec-chunks").option("mode", "chunks")
      .option("ids", ids.mkString(",")).load()
    assert(df.rdd.getNumPartitions == 3, "120 ids -> 50/50/20 partitions")
    // camelCase options must be honored (getTable delivers original-case
    // keys; a lowercase-only lookup would silently fall back to 50)
    val sized = spark.read.format(JsonPagesSource.Name)
      .option("fetcher", "spec-chunks").option("mode", "chunks")
      .option("chunkSize", "60").option("ids", ids.mkString(",")).load()
    assert(sized.rdd.getNumPartitions == 2, "chunkSize=60 -> 2 partitions")
    assert(df.count() == 3)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sortBy(-_.size).map(_.size) == Seq(50, 50, 20))
    assert(seen.asScala.flatten.toSeq.sorted == ids.sorted)
  }

  test("retry path: a flaky fetcher succeeds through the source") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    PagedFetch.Fetchers.register("spec-flaky", { _ =>
      if (attempts.incrementAndGet() < 2)
        throw new RuntimeException("transient")
      """{"items": []}"""
    })
    val df = spark.read.format(JsonPagesSource.Name)
      .option("fetcher", "spec-flaky").option("mode", "pages")
      .option("retries", "3").option("backoffMs", "1").load()
    assert(df.count() == 1)
    assert(attempts.get() == 2)
  }
}
