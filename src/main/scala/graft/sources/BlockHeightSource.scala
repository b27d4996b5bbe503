package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ingest.BlockFeed.FeedRow
import graft.model.Schemas

/** A1 as a REAL custom streaming source: a DataSource-v2
  * `MicroBatchStream` whose offset IS the block height — the native
  * Spark shape of the reference's ordered finalized-block subscription
  * (`get_finalized_blocks_from(h)`, lib.rs:430; resume semantics of
  * README.md:41-44). The file source in
  * [[graft.streaming.BlockStreamPipeline]] stands in for deployments
  * that land feed files; this source models the node client directly:
  *
  *  - the OFFSET is the next height to fetch ([[HeightOffset]]); the
  *    streaming checkpoint therefore stores exactly the reference's
  *    resume point — restart continues from the first unprocessed
  *    height, no file listing involved;
  *  - micro-batch chunking (A2's `num_parallel` catch-up bound) is
  *    ADMISSION CONTROL: `latestOffset(start, limit)` caps each batch
  *    at `maxBlocksPerTrigger` heights;
  *  - the node itself is a pluggable [[BlockStore]] (production: a gRPC
  *    client; tests: a deterministic in-memory fake) registered in
  *    [[BlockStores]] — DSv2 instantiates providers reflectively, so
  *    the store is addressed by name through options;
  *  - a height range is split into `partitions` contiguous sub-ranges,
  *    one [[PartitionReader]] each — the per-partition fetch is the
  *    `MAX_NODE_REQUESTS`-style bounded parallelism (main.rs:37);
  *  - each height of a micro-batch is fetched once: the sink
  *    ([[graft.streaming.TransactionalSink]]) reads the batch in one pass
  *    and hands it to a single height-ordered writer.
  *
  * Usage:
  * {{{
  *   BlockStores.register("mynode", store)
  *   spark.readStream.format(classOf[BlockSourceProvider].getName)
  *     .option("store", "mynode").option("startHeight", "0")
  *     .option("maxBlocksPerTrigger", "64").load()
  * }}}
  */
trait BlockStore extends Serializable {
  /** Highest height currently available (inclusive); -1 when empty. */
  def latestHeight(): Long
  /** All feed rows for heights in [from, until). Must be deterministic
    * per height — replays re-fetch the same rows. */
  def blocks(from: Long, until: Long): Iterator[FeedRow]
}

/** Process-wide registry: DSv2 sources are constructed by reflection,
  * so live objects are passed by name. (Executors in local mode share
  * the JVM; a cluster deployment registers the store — e.g. a gRPC
  * client factory — in each executor via a static initializer.) */
object BlockStores {
  private val stores = new java.util.concurrent.ConcurrentHashMap[String, BlockStore]()
  def register(name: String, store: BlockStore): Unit = stores.put(name, store)
  def get(name: String): BlockStore = {
    val s = stores.get(name)
    require(s != null, s"no BlockStore registered under '$name'")
    s
  }
}

/** Offset = next height to process (exclusive end of what's consumed). */
case class HeightOffset(h: Long) extends Offset {
  override def json(): String = h.toString
}

class BlockSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.blockFeed(LongType)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BlockTable(new CaseInsensitiveStringMap(properties))
}

private final class BlockTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-blocks(${options.get("store")})"
  override def schema(): StructType = Schemas.blockFeed(LongType)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = Schemas.blockFeed(LongType)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BlockMicroBatchStream(
            options.get("store"),
            Option(options.get("startHeight")).map(_.toLong).getOrElse(0L),
            Option(options.get("maxBlocksPerTrigger")).map(_.toInt).getOrElse(64),
            Option(options.get("partitions")).map(_.toInt).getOrElse(4))
      }
    }
}

private final class BlockMicroBatchStream(storeName: String, startHeight: Long,
                                          maxBlocksPerTrigger: Int, partitions: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def store = BlockStores.get(storeName)
  // Pinned by prepareForTriggerAvailableNow so AvailableNow drains a
  // fixed target even while the store keeps growing.
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = HeightOffset(startHeight)
  override def deserializeOffset(json: String): Offset = HeightOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxBlocksPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(store.latestHeight() + 1)

  override def reportLatestOffset(): Offset =
    HeightOffset(availableNowTarget.getOrElse(store.latestHeight() + 1))

  /** Only an explicit maxRows limit caps the batch. `Trigger.Once`
    * passes ReadLimit.allAvailable — a one-shot trigger must drain every
    * available height, not stop after one `maxBlocksPerTrigger` chunk —
    * and min-rows-style limits set admission floors, not caps. Composite
    * limits take the tightest maxRows component. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[HeightOffset].h
    val avail = availableNowTarget.getOrElse(store.latestHeight() + 1)
    def capOf(l: ReadLimit): Long = l match {
      case r: streaming.ReadMaxRows => from + r.maxRows()
      case c: streaming.CompositeReadLimit => c.getReadLimits.map(capOf).min
      case _ => Long.MaxValue // allAvailable, minRows, …: no cap
    }
    HeightOffset(math.max(from, math.min(avail, capOf(limit))))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[HeightOffset].h
    val e = end.asInstanceOf[HeightOffset].h
    if (e <= s) return Array.empty
    val n = math.min(partitions.toLong, e - s).toInt
    (0 until n).map { i =>
      val lo = s + (e - s) * i / n
      val hi = s + (e - s) * (i + 1) / n
      HeightRangePartition(storeName, lo, hi): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new BlockRangeReader(p.asInstanceOf[HeightRangePartition])
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private final case class HeightRangePartition(storeName: String, from: Long, until: Long)
    extends InputPartition

private object BlockRangeReader {
  /** Deriving the encoder takes milliseconds, so it is done once per JVM;
    * a serializer is not thread-safe, so each reader takes its own. */
  lazy val encoder: ExpressionEncoder[FeedRow] = ExpressionEncoder[FeedRow]()
}

private final class BlockRangeReader(p: HeightRangePartition)
    extends PartitionReader[InternalRow] {
  private val serializer = BlockRangeReader.encoder.createSerializer()
  private val it = BlockStores.get(p.storeName).blocks(p.from, p.until)
  private var cur: InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { cur = serializer(it.next()).copy(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
