package graft.sources.gtok

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 scan over packed-token shard directories written by
  * [[graft.sinks.TokenSink]] — the DISTRIBUTED loader path for
  * pretraining shards:
  *
  *   spark.read.format("gtok").load("/path/to/shards")
  *
  * Schema: (shard int, chunk_id long, token_ids array<int>), executed
  * by Spark's scan machinery: ONE InputPartition PER SHARD FILE
  * (`nShards` is the write AND read parallelism dial), each executor
  * streaming its shard's `.bin` sequentially with the sidecar `.idx`
  * driving chunk bounds — no driver collect, no whole-file buffering
  * (shards past 2 GB stream fine). Dropping
  * `token_ids` from the projection skips the `.bin` bytes ENTIRELY —
  * chunk inventories (counts, ids) read only the 12-byte-per-chunk
  * sidecars. Files resolve through the Hadoop FileSystem API, so the
  * same scan runs on HDFS/S3 paths on a real cluster. */
class GtokDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gtok"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GtokDataSource.schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val p = options.get("path")
    require(p != null, "gtok needs a path (the shard directory)")
    new GtokTable(p)
  }
}

object GtokDataSource {
  val schema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("chunk_id", LongType, nullable = false),
    StructField("token_ids", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
}

class GtokTable(dir: String) extends Table with SupportsRead {
  override def name(): String = s"gtok:$dir"
  override def schema(): StructType = GtokDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GtokScanBuilder(dir)
}

class GtokScanBuilder(dir: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = GtokDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new GtokScan(dir, required)
}

final case class GtokInputPartition(shard: Int, idxPath: String, binPath: String)
    extends InputPartition

class GtokScan(dir: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.matches("shard-\\d+\\.idx"))
      .sortBy(_.getName)
      .map { idx =>
        val shard = idx.getName.stripPrefix("shard-").stripSuffix(".idx").toInt
        GtokInputPartition(shard, idx.toString,
          new Path(idx.getParent, f"shard-$shard%05d.bin").toString)
      }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new GtokReaderFactory(required, conf)
  }
}

class GtokReaderFactory(required: StructType, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GtokInputPartition]
    new GtokPartitionReader(part, required, conf)
  }
}

/** Streams one shard: the sidecar index drives per-chunk token counts;
  * the data file reads strictly sequentially (the writer's chunk-order
  * contract), so no seeks and no whole-file buffer. */
class GtokPartitionReader(
    part: GtokInputPartition, required: StructType,
    conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val fs = new Path(part.idxPath).getFileSystem(conf.value)

  private val (bytesPerToken, nChunks, idxBuf) = {
    val st = fs.getFileStatus(new Path(part.idxPath))
    require(st.getLen <= Int.MaxValue && st.getLen >= 16,
      s"${part.idxPath}: implausible index size ${st.getLen}")
    val bytes = new Array[Byte](st.getLen.toInt)
    val in = fs.open(new Path(part.idxPath))
    try in.readFully(0, bytes) finally in.close()
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    require(new String(magic, "US-ASCII") == "GTOK",
      s"bad magic in ${part.idxPath}")
    require(bb.getInt() == 1, s"unsupported version in ${part.idxPath}")
    val bpt = bb.getInt()
    val n = bb.getInt()
    require(bytes.length == 16 + 12 * n,
      s"${part.idxPath}: ${bytes.length} bytes for $n chunks")
    (bpt, n, bb)
  }

  private val needIds = required.fieldNames.contains("token_ids")
  private val bin =
    if (needIds) fs.open(new Path(part.binPath)) else null

  private val shardIdx = required.fieldNames.indexOf("shard")
  private val chunkIdx = required.fieldNames.indexOf("chunk_id")
  private val idsIdx = required.fieldNames.indexOf("token_ids")
  private val row = new GenericInternalRow(required.length)
  private var chunk = -1

  override def next(): Boolean = { chunk += 1; chunk < nChunks }

  override def get(): InternalRow = {
    val chunkId = idxBuf.getLong(16 + 12 * chunk)
    val n = idxBuf.getInt(16 + 12 * chunk + 8)
    if (shardIdx >= 0) row.update(shardIdx, part.shard)
    if (chunkIdx >= 0) row.update(chunkIdx, chunkId)
    if (idsIdx >= 0) {
      val bytes = new Array[Byte](n * bytesPerToken)
      bin.readFully(bytes)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val ids = new Array[Int](n)
      var i = 0
      while (i < n) {
        ids(i) = if (bytesPerToken == 2) bb.getShort(i * 2) & 0xffff
          else bb.getInt(i * 4)
        i += 1
      }
      row.update(idsIdx, new GenericArrayData(ids))
    }
    row
  }

  override def close(): Unit = if (bin != null) bin.close()
}
