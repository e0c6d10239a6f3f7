package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Random
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators for the three workloads. Every generator draws
  * from one `java.util.Random(seed)` in a fixed order and writes its files
  * in a fixed order, so the same seed and scale give the same bytes. The
  * ground truth each check needs is computed here, from the generator's own
  * records, and written next to the inputs as `truth.json`. */
object Gen {

  // ---------------------------------------------------------------- words

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo",
    "shi", "pe", "da", "gu", "zen", "ro", "fa", "wi", "bel", "tor", "qui")

  /** Index → lowercase pseudo-word; injective for the sizes used here. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb ++= Syllables(x % Syllables.length); x /= Syllables.length }
    while (x > 0)
    sb.result()
  }

  /** Zipf(1.0) sampler over a vocabulary. The head holds English stopwords,
    * as real text does; they feed TextOps' stopword ratio. */
  final class Vocab(size: Int) {
    private val stop = Array("the", "and", "of", "to", "in", "is", "was")
    val words: Array[String] = Array.tabulate(size) { i =>
      if (i < stop.length) stop(i) else word(i)
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: Random): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, size - 1))
    }
  }

  /** SplitMix64 finalizer: a bijection on 64-bit values, so distinct inputs
    * give distinct ids. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val B64 =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"

  /** 11-character YouTube-style id of a 64-bit value. */
  def ytId(v: Long): String = {
    val sb = new StringBuilder
    var x = v
    for (_ <- 0 until 11) { sb += B64((x & 63).toInt); x >>>= 6 }
    sb.result()
  }

  def crc32(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  private def jsonStrArray(xs: Seq[String]): String =
    xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")

  // ------------------------------------------------------------ daily_etl

  final case class EtlSpec(channels: Int, backfill: Int, days: Int,
      minNewFrac: Double, maxNewFrac: Double, overlapFrac: Double,
      pageSize: Int = 50)

  final case class Video(id: String, channel: Int, title: String,
      description: String, tags: Option[Seq[String]], publishedAt: String,
      likes: Option[Long], views: Long, comments: Option[Long],
      duration: String, durationSec: Long)

  /** What the sink must hold after a day: its distinct ids (count and CRC32
    * sum) and the column totals of everything loaded so far. */
  final case class EtlDay(dir: Path, newRows: Long, totalRows: Long,
      idCrcSum: Long, views: Long, likes: Long, durationSec: Long)

  final case class EtlTruth(channels: Int, days: IndexedSeq[EtlDay])

  def etl(root: Path, seed: Long, spec: EtlSpec): EtlTruth = {
    val r = new Random(seed)
    val vocab = new Vocab(2000)
    val chanTitle = Array.tabulate(spec.channels)(c => s"Channel $c ${word(c)}")
    val uploads = Array.fill(spec.channels)(ArrayBuffer.empty[Video])
    val loaded = ArrayBuffer.empty[Video]
    var nextVideo = 0L
    var (crc, views, likes, dur) = (0L, 0L, 0L, 0L)

    def newVideo(day: Int): Video = {
      val u = r.nextDouble()
      val ch = math.min((u * u * spec.channels).toInt, spec.channels - 1)
      val id = ytId(mix64(seed * 1000003L + nextVideo))
      nextVideo += 1
      val words = (n: Int) => Seq.fill(n)(vocab.draw(r)).mkString(" ")
      val title = words(3 + r.nextInt(6))
      val desc = words(5 + r.nextInt(26))
      val tags =
        if (r.nextInt(10) < 7) Some(Seq.fill(1 + r.nextInt(5))(vocab.draw(r)))
        else None
      val pub = java.time.LocalDate.of(2024, 1, 1).plusDays(day)
      val sec = r.nextInt(86400)
      val publishedAt = f"${pub}T${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02dZ"
      val v = (math.exp(r.nextGaussian() * 2.0 + 8.0)).toLong
      val lk = if (r.nextInt(10) < 9) Some(v / (5 + r.nextInt(50))) else None
      val cm = if (r.nextInt(20) < 19) Some(v / (50 + r.nextInt(500))) else None
      val (h, m, s) = (if (r.nextInt(8) == 0) 1 + r.nextInt(2) else 0,
        r.nextInt(60), r.nextInt(60))
      val duration = (if (h > 0) s"PT${h}H" else "PT") + s"${m}M${s}S"
      Video(id, ch, title, desc, tags, publishedAt, lk, v, cm, duration,
        h * 3600L + m * 60L + s)
    }

    def videoJson(v: Video): String = {
      val sb = new StringBuilder
      sb ++= s"""{"kind":"youtube#video","id":"${v.id}","snippet":{"channelTitle":"${chanTitle(v.channel)}","title":"${v.title}","description":"${v.description}""""
      v.tags.foreach(t => sb ++= s""","tags":${jsonStrArray(t)}""")
      sb ++= s""","publishedAt":"${v.publishedAt}"},"statistics":{"viewCount":"${v.views}""""
      v.likes.foreach(l => sb ++= s""","likeCount":"$l"""")
      v.comments.foreach(c => sb ++= s""","commentCount":"$c"""")
      sb ++= s""","favoriteCount":"0"},"contentDetails":{"duration":"${v.duration}"}}"""
      sb.result()
    }

    def pages(items: Seq[String], kind: String): Seq[String] =
      items.grouped(spec.pageSize).zipWithIndex.map { case (g, i) =>
        val next = if ((i + 1) * spec.pageSize < items.size)
          s""""nextPageToken":"p${i + 1}",""" else ""
        s"""{"kind":"$kind",$next"pageInfo":{"totalResults":${items.size},"resultsPerPage":${spec.pageSize}},"items":[${g.mkString(",")}]}"""
      }.toSeq

    val days = (0 to spec.days).map { day =>
      val nNew =
        if (day == 0) spec.backfill
        else math.max(1, math.round(loaded.size *
          (spec.minNewFrac + (day - 1) % 3 / 2.0 * (spec.maxNewFrac - spec.minNewFrac))).toInt)
      val fresh = IndexedSeq.fill(nNew)(newVideo(day))
      // videos.list re-sends already-loaded videos alongside the new ones
      val overlap =
        if (loaded.isEmpty) IndexedSeq.empty
        else IndexedSeq.fill(math.round(nNew * spec.overlapFrac).toInt)(
          loaded(r.nextInt(loaded.size)))
      fresh.foreach { v => uploads(v.channel) += v; loaded += v }
      fresh.foreach { v =>
        crc += crc32(v.id); views += v.views
        likes += v.likes.getOrElse(0L); dur += v.durationSec
      }
      val dir = root.resolve(f"day$day%02d")
      def put(sub: String, name: String, body: String): Unit =
        write(dir.resolve(sub).resolve(name), body)
      val chanItems = (0 until spec.channels).map { c =>
        s"""{"kind":"youtube#channel","id":"UC${ytId(mix64(seed + c))}","snippet":{"title":"${chanTitle(c)}","publishedAt":"2019-0${1 + c % 9}-1${c % 10}T00:00:00Z"""" +
          (if (c % 7 == 0) "" else s""","country":"${Seq("US", "DE", "IN", "BR", "JP")(c % 5)}"""") +
          s"""},"statistics":{"subscriberCount":"${1000L * (c + 1)}","viewCount":"${uploads(c).map(_.views).sum}","videoCount":"${uploads(c).size}"},"contentDetails":{"relatedPlaylists":{"uploads":"UU${ytId(mix64(seed + c))}"}}}"""
      }
      pages(chanItems, "youtube#channelListResponse").zipWithIndex
        .foreach { case (p, i) => put("channels", f"page-$i%05d.json", p) }
      // playlistItems.list lists every upload to date, newest first
      for (c <- 0 until spec.channels) {
        val items = uploads(c).reverseIterator.map(v =>
          s"""{"kind":"youtube#playlistItem","contentDetails":{"videoId":"${v.id}"}}""").toSeq
        val ps = if (items.isEmpty)
          Seq("""{"kind":"youtube#playlistItemListResponse","items":[]}""")
          else pages(items, "youtube#playlistItemListResponse")
        ps.zipWithIndex.foreach { case (p, i) =>
          put("playlists", f"ch$c%05d-$i%04d.json", p)
        }
      }
      val shuffled = shuffle(fresh ++ overlap, r)
      pages(shuffled.map(videoJson), "youtube#videoListResponse").zipWithIndex
        .foreach { case (p, i) => put("videos", f"page-$i%05d.json", p) }
      EtlDay(dir, nNew, loaded.size, crc, views, likes, dur)
    }
    val truth = EtlTruth(spec.channels, days)
    write(root.resolve("truth.json"), Json(Json.obj(
      "channels" -> spec.channels,
      "days" -> days.map(d => Json.obj("dir" -> d.dir.getFileName.toString,
        "new_rows" -> d.newRows, "total_rows" -> d.totalRows,
        "id_crc32_sum" -> d.idCrcSum, "views" -> d.views, "likes" -> d.likes,
        "duration_sec" -> d.durationSec)))))
    truth
  }

  private def shuffle[T](xs: IndexedSeq[T], r: Random): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ------------------------------------------------------ corpus_curation

  final case class CorpusSpec(docs: Int, exactFrac: Double,
      nearFrac: Double, junkFrac: Double, boilerFrac: Double)

  final case class Doc(id: Long, lang: String, text: String)

  /** Planted structure: docs the quality gate must drop, docs the exact
    * stage must drop (every copy but the lowest id of a text), and the
    * near-duplicate families (each family's docs, lowest id first). The
    * boilerplate family shares one template whose band keys collide, but
    * its members sit below the Jaccard threshold: none may be removed. */
  final case class CorpusTruth(docs: IndexedSeq[Doc], lowQuality: Set[Long],
      exactDropped: Set[Long], families: Seq[Seq[Long]], boiler: Seq[Long]) {
    /** Docs the near-dup stage should remove: all but each family's min. */
    lazy val nearDups: Set[Long] = families.flatMap(_.tail).toSet
  }

  val DocTokens = 60
  val Langs = Array("en", "de", "es", "fr")
  private val Junk = Array("?!.", ";;", "!!!", ".,")

  def corpus(root: Path, seed: Long, spec: CorpusSpec): CorpusTruth = {
    val r = new Random(seed)
    val vocab = new Vocab(5000)
    def text(n: Int): Array[String] = Array.fill(n)(vocab.draw(r))
    val n = spec.docs
    val nJunk = (n * spec.junkFrac).toInt
    val nExact = (n * spec.exactFrac).toInt
    val nNear = (n * spec.nearFrac).toInt
    val nBoiler = (n * spec.boilerFrac).toInt
    // family sizes cycle through 2..6 and variants edit 1 or 2 tokens of the
    // family origin (Jaccard about 0.9 and 0.8), so the planted structure is
    // the same for every seed
    val famSizes = ArrayBuffer.empty[Int]
    var inFam = 0
    while (inFam < nNear) {
      val s = 2 + famSizes.size % 5; famSizes += s; inFam += s
    }
    val nBase = n - nJunk - nExact - inFam - nBoiler
    require(nBase > famSizes.size, s"corpus of $n docs is too small")
    // (group tag, tokens): tag < 0 plain/junk/boiler, else family index
    val recs = ArrayBuffer.empty[(Int, String)]
    val base = IndexedSeq.fill(nBase)(text(DocTokens - 5 + r.nextInt(11)))
    base.foreach(t => recs += ((-1, t.mkString(" "))))
    famSizes.zipWithIndex.foreach { case (s, f) =>
      val origin = text(DocTokens)
      recs += ((f, origin.mkString(" ")))
      for (_ <- 1 until s) {
        val v = origin.clone()
        val edits = 1 + (recs.size % 2)
        // edits at distinct positions, at least 3 tokens apart
        val slots = shuffle((0 until DocTokens / 3).toIndexedSeq, r).take(edits)
        slots.foreach { s0 =>
          val pos = s0 * 3 + 1
          var w = vocab.draw(r)
          while (w == v(pos)) w = vocab.draw(r)
          v(pos) = w
        }
        recs += ((f, v.mkString(" ")))
      }
    }
    for (_ <- 0 until nExact) recs += ((-1, base(r.nextInt(nBase)).mkString(" ")))
    for (_ <- 0 until nJunk) {
      val short = recs.size % 2 == 0
      val t = if (short) text(3 + r.nextInt(6)).mkString(" ")
        else Seq.fill(DocTokens)(Junk(r.nextInt(Junk.length)))
          .mkString(" ")
      recs += ((-2, t))
    }
    val template = text(38)
    for (_ <- 0 until nBoiler)
      recs += ((-3, (template ++ text(DocTokens - 38)).mkString(" ")))

    // ids are a random permutation, so which copy of a group keeps the
    // lowest id is random too
    val ids = shuffle((0L until recs.size.toLong).toIndexedSeq, r)
    val docs = recs.indices.map { i =>
      Doc(ids(i), Langs(r.nextInt(Langs.length)), recs(i)._2)
    }
    val lowQ = recs.indices.filter(recs(_)._1 == -2).map(ids).toSet
    val exactDropped = docs.filterNot(d => lowQ(d.id)).groupBy(_.text)
      .valuesIterator.flatMap(g => g.map(_.id).sorted.tail).toSet
    val families = recs.indices.filter(recs(_)._1 >= 0)
      .groupBy(recs(_)._1).toSeq.sortBy(_._1)
      .map(_._2.map(ids).sorted)
    val boiler = recs.indices.filter(recs(_)._1 == -3).map(ids).sorted
    val sorted = docs.sortBy(_.id)
    Files.createDirectories(root)
    val w = Files.newBufferedWriter(root.resolve("docs.tsv"), UTF_8)
    try sorted.foreach(d => w.write(s"${d.id}\t${d.lang}\t${d.text}\n"))
    finally w.close()
    val truth = CorpusTruth(sorted, lowQ, exactDropped, families, boiler)
    write(root.resolve("truth.json"), Json(Json.obj(
      "docs" -> n, "low_quality" -> lowQ.toSeq.sorted,
      "exact_dropped" -> exactDropped.toSeq.sorted,
      "neardup_families" -> families, "boilerplate_family" -> boiler)))
    truth
  }

  // -------------------------------------------------------- vector_search

  final case class VectorSpec(vectors: Int, dim: Int, clusters: Int,
      queries: Int, noise: Double)

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]],
      queryIds: Array[Long], queries: Array[Array[Float]],
      clusterOf: Array[Int])

  /** Clustered embeddings: cluster sizes follow Zipf weights (a few big
    * cells, many small ones) and are the same for every seed; each vector is
    * its cluster's centre plus isotropic noise. Queries are drawn the same
    * way, with their own ids. */
  def vectors(root: Path, seed: Long, spec: VectorSpec): Vectors = {
    val r = new Random(seed)
    def unit(): Array[Double] = {
      val v = Array.fill(spec.dim)(r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val centres = Array.fill(spec.clusters)(unit())
    val w = Array.tabulate(spec.clusters)(i => 1.0 / (i + 1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def draw(u: Double): (Int, Array[Float]) = {
      var c = java.util.Arrays.binarySearch(cdf, u)
      if (c < 0) c = -c - 1
      c = math.min(c, spec.clusters - 1)
      val v = Array.tabulate(spec.dim)(j =>
        (centres(c)(j) + r.nextGaussian() * spec.noise).toFloat)
      (c, v)
    }
    // stratified cluster choice: cluster sizes are the same for every seed
    val coll = Array.tabulate(spec.vectors)(i => draw((i + 0.5) / spec.vectors))
    val qs = Array.tabulate(spec.queries)(i => draw((i + 0.5) / spec.queries))
    val out = Vectors(Array.tabulate(spec.vectors)(_.toLong), coll.map(_._2),
      Array.tabulate(spec.queries)(i => 1000000000L + i), qs.map(_._2),
      coll.map(_._1))
    Files.createDirectories(root)
    val bytes = java.nio.ByteBuffer
      .allocate(4 * spec.dim * (spec.vectors + spec.queries))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (out.vecs ++ out.queries).foreach(_.foreach(bytes.putFloat))
    Files.write(root.resolve("vectors.f32"), bytes.array())
    write(root.resolve("truth.json"), Json(Json.obj("vectors" -> spec.vectors,
      "dim" -> spec.dim, "queries" -> spec.queries,
      "cluster_sizes" -> coll.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.length))))
    out
  }
}
