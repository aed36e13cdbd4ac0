package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** PACKED-TOKEN binary sink — the terminal artifact of a pretraining
  * data pipeline (the Megatron-LM `.bin`/`.idx` shape, re-specified
  * here as a public self-contained layout the same way
  * [[NetcdfClassic]] hand-implements CDF): token ids packed
  * back-to-back per shard as fixed-width little-endian integers, plus
  * a sidecar index recording each chunk's id and token count so a
  * loader can seek any window without scanning. Pairs with
  * [[graft.operators.Packing.concatChunks]]: its (shard, chunk)
  * layout is exactly what this sink materializes.
  *
  * Layout per shard `shard-NNNNN.bin`: the token ids of every chunk in
  * ascending chunk order, each id as a `bytesPerToken`-byte LE
  * unsigned integer. Sidecar `shard-NNNNN.idx`: magic "GTOK", version
  * int 1, bytesPerToken int, nChunks int, then per chunk
  * (chunk_id long, n_tokens int) — byte offsets are the running sum
  * of n_tokens·bytesPerToken, so the index stays 12 bytes per chunk.
  *
  * Scale shape: `repartition(shard)` guarantees a shard never spans
  * partitions, so each executor streams its shards' bytes straight to
  * the target FileSystem (Hadoop FS API — HDFS/S3 on a cluster, no
  * driver collect, no local-disk assumption); within a partition the
  * rows arrive chunk-sorted (`sortWithinPartitions`), so files are
  * written append-only in one pass. One file per shard, `nShards`
  * chosen by the caller = the write parallelism dial. The shards read
  * back through `spark.read.format("gtok")`
  * ([[graft.sources.gtok.GtokDataSource]]). */
object TokenSink {

  /** Write `chunks` — (shard int, chunk_id long, token_ids array<int>)
    * — as packed shard files under `dir`. Token ids must fit
    * `bytesPerToken` (2 = uint16 for vocab ≤ 65536, 4 = int32);
    * out-of-range ids fail the write loudly rather than truncating. */
  def writePackedTokens(
      chunks: DataFrame, dir: String, bytesPerToken: Int = 2): Unit = {
    require(bytesPerToken == 2 || bytesPerToken == 4,
      s"bytesPerToken must be 2 or 4, got $bytesPerToken")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      chunks.sparkSession.sparkContext.hadoopConfiguration)
    val maxId = if (bytesPerToken == 2) 65535L else Int.MaxValue.toLong
    chunks
      .select(col("shard").cast("int").as("shard"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("token_ids").cast("array<int>").as("token_ids"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("chunk_id"))
      .foreachPartition { rows: Iterator[Row] =>
        // Task-commit protocol: every file is written to an
        // attempt-unique temp name and RENAMED into place only when its
        // shard is complete — a retried or speculative attempt writing
        // shard-NNNNN concurrently can therefore never leave a
        // partial/interleaved file under the final name; the losing
        // attempt's rename just replaces one complete shard with an
        // identical complete shard. The .idx renames AFTER the .bin, so
        // a reader listing .idx sidecars never sees an index whose data
        // file is still in flight. (Rename is atomic on HDFS-like
        // filesystems; on a plain object store it is copy+delete — run
        // with speculation off there, as with any rename-committed sink.)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var cur = Int.MinValue
        var bin: java.io.OutputStream = null
        var idx: java.io.ByteArrayOutputStream = null
        var nChunks = 0
        val fs = new Path(dir).getFileSystem(conf.value)
        def tmpPath(name: String) = new Path(dir, s"_tmp-$attempt-$name")
        def commit(name: String): Unit = {
          val dst = new Path(dir, name)
          fs.delete(dst, false)
          require(fs.rename(tmpPath(name), dst),
            s"rename ${tmpPath(name)} -> $dst failed")
        }
        def closeShard(): Unit = if (bin != null) {
          bin.close()
          val head = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
          head.put("GTOK".getBytes("US-ASCII"))
            .putInt(1).putInt(bytesPerToken).putInt(nChunks)
          val idxName = f"shard-$cur%05d.idx"
          val out = fs.create(tmpPath(idxName), true)
          out.write(head.array()); out.write(idx.toByteArray); out.close()
          commit(f"shard-$cur%05d.bin")
          commit(idxName)
        }
        rows.foreach { r =>
          val shard = r.getInt(0)
          if (shard != cur) {
            closeShard()
            cur = shard
            nChunks = 0
            idx = new java.io.ByteArrayOutputStream()
            bin = fs.create(tmpPath(f"shard-$cur%05d.bin"), true)
          }
          val ids = r.getSeq[Int](2)
          val buf = ByteBuffer.allocate(ids.length * bytesPerToken)
            .order(ByteOrder.LITTLE_ENDIAN)
          ids.foreach { id =>
            require(id >= 0 && id <= maxId,
              s"token id $id out of range for $bytesPerToken-byte packing")
            if (bytesPerToken == 2) buf.putShort(id.toShort)
            else buf.putInt(id)
          }
          bin.write(buf.array())
          val ie = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
          ie.putLong(r.getLong(1)).putInt(ids.length)
          idx.write(ie.array())
          nChunks += 1
        }
        closeShard()
      }
  }
}
