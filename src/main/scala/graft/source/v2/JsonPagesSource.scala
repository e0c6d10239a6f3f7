package graft.source.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.source.v2.PagedFetch.{Fetchers, PageRequest}

/** DataSourceV2 for paginated API responses (SURVEY.md §2.1 O1/O3/O10).
  *
  * The reference pages through the YouTube API driver-side, one HTTP call
  * per page (/root/reference/fetch_youtube_data.py:83-100) and one call
  * per 50-id chunk (:113-119). The scale-correct architecture is a V2
  * source whose InputPartitions each own one page-stream/chunk: fetches
  * run on executors in parallel, with the pagination loop and the 50-id
  * batching inside the partition readers ([[PagedFetch]]).
  *
  * Modes, by option:
  *  - `path` (no fetch option): offline — a "page" is a JSON file under
  *    `path` (a local path or `file:` URI), one row per page in file-name
  *    order; the files are packed into byte-sized partitions by Spark's
  *    `FilePartition` rule ([[PagesScanBuilder.packFiles]]), never split;
  *  - `fetcher` + `mode=pages`: live pagination — ONE partition whose
  *    reader follows `nextPageToken` until absent (sequential by nature:
  *    each token comes from the previous response), one output row per
  *    page;
  *  - `fetcher` + `mode=chunks` + `ids=a,b,...`: batched id lookups — one
  *    partition per `chunkSize`-id chunk (default 50), fetched in
  *    parallel;
  *  - `url` instead of `fetcher` (either mode): the PRODUCTION fetch —
  *    a real HTTP GET client ([[HttpFetch]]) constructed executor-side
  *    from serializable options: `params` (pre-encoded static query
  *    string, e.g. "part=snippet&maxResults=50&key=..."), `tokenParam`
  *    (default pageToken), `idsParam` (default id),
  *    `connectTimeoutMs`/`readTimeoutMs`.
  * `retries`/`backoffMs` wrap the fetch in [[PagedFetch.withRetry]].
  *
  * Register: spark.read.format("graft.source.v2.JsonPagesSource")
  *   .option(...).load() → `value: STRING` rows.
  */
class JsonPagesSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonPagesSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    // getTable receives the ORIGINAL-case map (asCaseSensitiveMap), so a
    // caller's .option("backoffMs", ...) arrives camelCased — lowercase
    // every key here so the scan builder's lowercase lookups match
    new PagesTable(properties.asScala.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v
    }.toMap)
}

object JsonPagesSource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))
  val Name = "graft.source.v2.JsonPagesSource"
}

private[v2] class PagesTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"json_pages(${props.getOrElse("fetcher",
      props.getOrElse("url", props.getOrElse("path", "?")))})"
  override def schema(): StructType = JsonPagesSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagesScanBuilder(props)
}

private[v2] class PagesScanBuilder(props: Map[String, String])
    extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = JsonPagesSource.schema
  override def toBatch: Batch = this

  /** The pagination unit becomes the parallelism unit: one partition per
    * id-chunk (parallel lookups) or per page-token STREAM (the sequential
    * token loop is one partition; many streams would be many partitions).
    * Offline page files are local reads, so there a partition is a run of
    * files sized like a file-scan split, not one file.
    *
    * The fetch itself is described by a serializable [[FetchSpec]]:
    * `fetcher` resolves a registered (test/local) fetch by name; `url`
    * constructs the real HTTP client executor-side from serializable
    * endpoint config ([[HttpFetch]]) — the production path on a cluster,
    * where a registry or closure would not travel. */
  override def planInputPartitions(): Array[InputPartition] = {
    val spec: Option[FetchSpec] = props.get("fetcher")
      .map(RegistryFetch(_): FetchSpec)
      .orElse(props.get("url").map { u =>
        HttpFetchSpec(HttpEndpoint(
          url = u,
          staticQuery = props.getOrElse("params", ""),
          tokenParam = props.getOrElse("tokenparam", "pageToken"),
          idsParam = props.getOrElse("idsparam", "id"),
          connectTimeoutMs = props.getOrElse("connecttimeoutms", "10000").toInt,
          readTimeoutMs = props.getOrElse("readtimeoutms", "30000").toInt))
      })
    spec match {
      case Some(f) =>
        val retries = props.getOrElse("retries", "3").toInt
        val backoff = props.getOrElse("backoffms", "500").toLong
        props.getOrElse("mode", "pages") match {
          case "chunks" =>
            val ids = props.getOrElse("ids", "")
              .split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq
            val size = props.getOrElse("chunksize", "50").toInt
            PagedFetch.chunks(ids, size)
              .map(c => ChunkPartition(f, c, retries, backoff): InputPartition)
              .toArray
          case "pages" =>
            val maxPages = props.getOrElse("maxpages", "10000").toInt
            Array(TokenStreamPartition(f, maxPages, retries, backoff))
          case other =>
            throw new IllegalArgumentException(s"unknown mode: $other")
        }
      case None =>
        val dir = PagesScanBuilder.localDir(props.getOrElse("path", ""))
        if (!Files.isDirectory(dir)) Array.empty
        else {
          val listing = Files.list(dir)
          val files = try listing.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".json"))
            .toArray.sortBy(_.getFileName.toString)
            .map(p => p.toString -> Files.size(p))
          finally listing.close()
          val conf = SQLConf.get
          PagesScanBuilder.packFiles(files, conf.filesMaxPartitionBytes,
            conf.filesOpenCostInBytes, conf.filesMinPartitionNum.getOrElse(
              SparkSession.active.sparkContext.defaultParallelism))
            .map(PagesPartition(_): InputPartition)
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagesReaderFactory
}

private[v2] object PagesScanBuilder {

  private val Scheme = "^([A-Za-z][A-Za-z0-9+.-]*):".r

  /** The local directory an offline `path` names: a bare path as is, a
    * `file:` URI resolved to its path. Page files are listed and read with
    * `java.nio`, so any other scheme fails here, naming it, instead of
    * reading as an empty day. */
  def localDir(path: String): java.nio.file.Path =
    Scheme.findFirstMatchIn(path).map(_.group(1)) match {
      case None => Paths.get(path)
      case Some(s) if s.equalsIgnoreCase("file") =>
        Paths.get(new java.net.URI(path))
      case Some(s) =>
        throw new IllegalArgumentException(s"JsonPagesSource reads page " +
          s"files from the local filesystem; scheme '$s' is not supported " +
          s"(path $path)")
    }

  /** Spark's `FilePartition` packing over whole files kept in input order:
    * each file costs its size plus `openCost`, a partition closes when the
    * next file would take it past `maxSplitBytes = min(maxPartitionBytes,
    * max(openCost, totalCost / minPartitions))`. A file larger than that
    * gets a partition of its own. */
  def packFiles(files: Seq[(String, Long)], maxPartitionBytes: Long,
      openCost: Long, minPartitions: Int): Array[Seq[String]] = {
    val total = files.iterator.map(_._2 + openCost).sum
    val maxSplit = math.min(maxPartitionBytes,
      math.max(openCost, total / minPartitions))
    val parts = ArrayBuffer.empty[Seq[String]]
    var current = Vector.empty[String]
    var size = 0L
    files.foreach { case (file, len) =>
      if (current.nonEmpty && size + len > maxSplit) {
        parts += current
        current = Vector.empty
        size = 0L
      }
      current :+= file
      size += len + openCost
    }
    if (current.nonEmpty) parts += current
    parts.toArray
  }
}

/** How a partition obtains its Fetch, resolved/constructed EXECUTOR-side:
  * a JVM-local registry name (tests, local mode) or serializable HTTP
  * endpoint config (production — the only state shipped is strings and
  * ints, never a connection or closure). */
private[v2] sealed trait FetchSpec extends Serializable {
  def fetch: PagedFetch.Fetch = this match {
    case RegistryFetch(name) => Fetchers(name)
    case HttpFetchSpec(endpoint) => HttpFetch(endpoint)
  }
}
private[v2] case class RegistryFetch(name: String) extends FetchSpec
private[v2] case class HttpFetchSpec(endpoint: HttpEndpoint) extends FetchSpec

private[v2] case class PagesPartition(files: Seq[String]) extends InputPartition
private[v2] case class TokenStreamPartition(spec: FetchSpec, maxPages: Int,
    retries: Int, backoffMs: Long) extends InputPartition
private[v2] case class ChunkPartition(spec: FetchSpec, ids: Seq[String],
    retries: Int, backoffMs: Long) extends InputPartition

private[v2] class PagesReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case PagesPartition(files) =>
        new IteratorReader(files.iterator.map(f =>
          new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)))
      case TokenStreamPartition(spec, maxPages, retries, backoff) =>
        new IteratorReader(PagedFetch.followPages(
          PagedFetch.withRetry(spec.fetch, retries, backoff), maxPages))
      case ChunkPartition(spec, ids, retries, backoff) =>
        new IteratorReader(Iterator(
          PagedFetch.withRetry(spec.fetch, retries, backoff)(
            PageRequest(None, ids))))
    }
}

/** One row per page file or fetched page/chunk; the iterator is lazy, so
  * each next() performs (at most) one read or fetch — pages stream through
  * rather than buffering the whole partition in memory. */
private[v2] class IteratorReader(pages: Iterator[String])
    extends PartitionReader[InternalRow] {
  private var page: String = _
  override def next(): Boolean =
    if (pages.hasNext) { page = pages.next(); true } else false
  override def get(): InternalRow =
    InternalRow(UTF8String.fromString(page))
  override def close(): Unit = ()
}
