package graft.stream

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Native block source — the Spark shape of the reference's
  * fetcher/channel machinery (`fastnear-neardata-fetcher` wired in
  * /root/reference/src/main.rs:91-99: N parallel fetchers pulling block
  * documents by height into a bounded channel, strictly ordered
  * downstream).
  *
  * Re-expression as a DataSourceV2 `MicroBatchStream`:
  *  - the OFFSET is the block height itself — resume/checkpoint/rewind
  *    are height arithmetic, exactly the reference's cursor (S3);
  *  - each micro-batch is a height RANGE, split into
  *    `min(MaxFetchers, defaultParallelism, blocks)` contiguous
  *    sub-ranges fetched in parallel (the N fetchers); a range beyond
  *    the task slots would only queue for a second task wave;
  *  - backpressure is admission control: `maxBlocksPerTrigger` caps the
  *    range per batch (the bounded channel, S1);
  *  - AvailableNow drains to the head observed at query start (K4).
  *
  * Rows are `(block_height, value: String)` — the raw block document.
  * Parsing stays in the PLAN (`from_json` with `Blocks.schema`), so
  * schema evolution, corrupt-record quarantine and column pruning are
  * Catalyst's problem, not the source's. Skipped heights (no block
  * produced) yield no row.
  *
  * The fetch transport is pluggable ([[BlockFetcher]]): `fetcher=dir`
  * reads `<height>.json` files (tests, replayed dumps); `fetcher=http`
  * speaks the neardata REST shape (`/v0/block/{height}`,
  * `/v0/last_block/final`) with bounded exponential-backoff retries —
  * thin, dependency-free, and exercised end-to-end against a localhost
  * server in HttpFetcherSpec (head probe, 404-as-skipped, transient
  * retries, give-up).
  */
object BlocksSource {
  val ShortName = "graft-blocks"

  /** Most sub-ranges one batch splits into: the reference's example
    * `NUM_FETCHING_THREADS` (SURVEY.md §6 baseline table). */
  val MaxFetchers = 8

  val schema: StructType = StructType(Seq(
    StructField("block_height", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))
}

trait BlockFetcher extends Serializable {
  /** Newest height available upstream (head of the chain / corpus). */
  def headHeight(): Long
  /** The raw block document at `height`, or None for skipped heights. */
  def fetch(height: Long): Option[String]
}

/** Reads `<height>.json` documents from a directory. */
final class DirBlockFetcher(path: String) extends BlockFetcher {
  private def file(h: Long) = new java.io.File(path, s"$h.json")
  override def headHeight(): Long = {
    val names = Option(new java.io.File(path).list()).getOrElse(Array.empty)
    val hs = names.flatMap { n =>
      if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption else None
    }
    if (hs.isEmpty) -1L else hs.max
  }
  override def fetch(height: Long): Option[String] = {
    val f = file(height)
    if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    else None
  }
}

/** neardata-style REST fetcher (GET {base}/v0/block/{h}); bounded
  * exponential-backoff retries mirror the reference fetcher's.
  * `backoffMs` is the base delay (doubled per attempt, capped 30 s) —
  * parameterized so the spec's localhost server can exercise the retry
  * path without real sleeps.
  *
  * `bearerToken` sends `Authorization: Bearer <token>` on every request
  * when present (reference: `src/main.rs:65,96-98` — an optional
  * env-provided token; real endpoints require it for recent blocks). */
final class HttpBlockFetcher(
    baseUrl: String, maxRetries: Int = 5, backoffMs: Long = 1000L,
    bearerToken: Option[String] = None)
    extends BlockFetcher {
  private def get(url: String): Option[String] = {
    var attempt = 0
    while (true) {
      try {
        val conn = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        bearerToken.foreach(t =>
          conn.setRequestProperty("Authorization", s"Bearer $t"))
        try {
          conn.getResponseCode match {
            case 200 =>
              val body = new String(conn.getInputStream.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)
              return if (body == "null" || body.isEmpty) None else Some(body)
            case 404 => return None
            case code if attempt >= maxRetries =>
              throw new java.io.IOException(s"GET $url -> $code")
            case _ => ()
          }
        } finally conn.disconnect()
      } catch {
        case _: java.io.IOException if attempt < maxRetries => ()
      }
      // first retry waits the base delay, doubling per attempt
      Thread.sleep(math.min(backoffMs << attempt, 30000L))
      attempt += 1
    }
    None // unreachable
  }
  override def headHeight(): Long = {
    val body = get(s"$baseUrl/v0/last_block/final").getOrElse(
      throw new java.io.IOException(s"no head block from $baseUrl"))
    // dependency-free probe: first "height": N in the header object
    "\"height\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(throw new java.io.IOException("head block has no height"))
  }
  override def fetch(height: Long): Option[String] =
    get(s"$baseUrl/v0/block/$height")
}

object BlockFetcher {
  def from(options: util.Map[String, String]): BlockFetcher = {
    val o = options.asScala
    o.getOrElse("fetcher", "dir") match {
      case "dir" => new DirBlockFetcher(o.getOrElse("path",
        throw new IllegalArgumentException("graft-blocks: path required")))
      case "http" => new HttpBlockFetcher(
        o.getOrElse("url",
          throw new IllegalArgumentException("graft-blocks: url required")),
        // auth precedence: explicit source option, then the environment
        // (the reference's deployment shape — token via env)
        bearerToken = o.get("token")
          .orElse(sys.env.get("GRAFT_BLOCKS_TOKEN")))
      case other =>
        throw new IllegalArgumentException(s"unknown fetcher: $other")
    }
  }
}

/** `spark.readStream.format("graft-blocks")` entry point. */
class BlocksSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = BlocksSource.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlocksSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BlocksTable(properties)
}

final class BlocksTable(properties: util.Map[String, String]) extends Table
    with SupportsRead {
  override def name(): String = BlocksSource.ShortName
  override def schema(): StructType = BlocksSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BlocksSource.schema
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new BlocksMicroBatchStream(properties)
      }
    }
}

/** Offset = last ingested block height (exclusive start of the next
  * batch) — the reference's cursor, verbatim. */
final case class HeightOffset(h: Long) extends Offset {
  override def json(): String = h.toString
}

final class BlocksMicroBatchStream(properties: util.Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val opts = properties.asScala
  private val fetcher = BlockFetcher.from(properties)
  private val startHeight = opts.get("startheight").map(_.toLong)
    .orElse(opts.get("startHeight").map(_.toLong)).getOrElse(0L)
  private val maxPerTrigger = opts.get("maxblockspertrigger")
    .orElse(opts.get("maxBlocksPerTrigger")).map(_.toLong).getOrElse(1000L)

  // AvailableNow: pin the drain target at query start
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(fetcher.headHeight())

  override def initialOffset(): Offset = HeightOffset(startHeight - 1)
  override def deserializeOffset(json: String): Offset =
    HeightOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(maxPerTrigger)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def reportLatestOffset(): Offset = {
    val head = availableNowTarget.getOrElse(fetcher.headHeight())
    HeightOffset(head)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[HeightOffset].h
    val head = availableNowTarget.getOrElse(fetcher.headHeight())
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        from + r.maxRows()
      case _ => from + maxPerTrigger
    }
    // clamp to `from`: when the requested start is ahead of the fetcher
    // head (e.g. --from beyond the corpus), the offset must NOT regress —
    // a backwards offset would re-scan pre-start heights forever
    HeightOffset(math.max(from, math.min(head, cap)))
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[HeightOffset].h + 1 // inclusive
    val hi = end.asInstanceOf[HeightOffset].h       // inclusive
    if (hi < lo) return Array.empty
    val slots = SparkSession.active.sparkContext.defaultParallelism
    val len = hi - lo + 1
    val n = Seq(BlocksSource.MaxFetchers.toLong, slots.toLong, len).min
    // even split: range sizes differ by at most one, none is empty
    (0L until n).map { i =>
      HeightRangePartition(lo + i * len / n, lo + (i + 1) * len / n - 1)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlocksReaderFactory(properties.asScala.toMap)
}

final case class HeightRangePartition(from: Long, to: Long)
    extends InputPartition

/** Executor-side reader: one fetcher per partition, sequential within
  * the range (ranges run in parallel across tasks — the reference's N
  * fetchers). */
final class BlocksReaderFactory(options: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[HeightRangePartition]
    new PartitionReader[InternalRow] {
      private val fetcher = BlockFetcher.from(options.asJava)
      private var h = part.from - 1
      private var current: String = _
      override def next(): Boolean = {
        while (h < part.to) {
          h += 1
          fetcher.fetch(h) match {
            case Some(doc) => current = doc; return true
            case None => () // skipped height
          }
        }
        false
      }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](h, UTF8String.fromString(current)))
      override def close(): Unit = ()
    }
  }
}
