package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.sources.Staging

/** The RocksDB state-store backend (the 100× deployment option — heap-
  * resident HDFS-backed state is the scale-killer at millions of keys)
  * must be result-identical to the default provider: same cross-batch
  * state semantics through flatMapGroupsWithState, watermarked window
  * eviction, and streaming dedup keys. */
class RocksDbParitySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.SparkEntry.RocksDbProviderClass)
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("EVENT-TIME-timeout sessionization on RocksDB == default provider") {
    // the q114 parity shape: a gap-split session, a watermark-timed-out
    // session, and two held ones — identical emitted set on both
    // backends (the timeout path reads and clears state through the
    // provider, so a RocksDB-side divergence would change the row set)
    val ev = Seq(
      (1L, ts("2021-06-01 10:00:00"), 1L, 1.5),
      (1L, ts("2021-06-01 10:10:00"), 2L, 2.25),
      (1L, ts("2021-06-01 11:00:00"), 3L, 4.0),  // splits 1's session
      (2L, ts("2021-06-01 10:05:00"), 4L, 8.0),  // times out at wm 11:00
      (3L, ts("2021-06-01 12:00:00"), 5L, 16.0)  // max ts; held
    ).toDF("user_id", "ts", "event_id", "value")
    val dir = Staging.scratchDir("graft-rocks-etsess").toString
    ev.write.mode("overwrite").parquet(dir)
    def run(name: String, rocks: Boolean): Set[Seq[Any]] = {
      def go(): Unit = {
        val q = EventPipeline.sessionizeEventTimeStream(spark, dir,
            gapMinutes = 30, delay = "1 hour")
          .format("memory").queryName(name).start()
        assert(q.awaitTermination(120000)); q.stop()
      }
      if (rocks) withRocksDb(go()) else go()
      val out = rows(spark.table(name))
      spark.catalog.dropTempView(name)
      out
    }
    val onRocks = run("rocks_etsess", rocks = true)
    val onDefault = run("heap_etsess", rocks = false)
    assert(onRocks == onDefault)
    assert(onRocks.map(r => (r(0), r(1))) == Set((1L, 1L), (2L, 1L)))
  }

  test("append-mode windowed aggregate on RocksDB == watermark-closed batch windows") {
    val ev = Seq(
      (1L, ts("2021-01-01 10:00:00"), 1L, 1.0, "view"),
      (1L, ts("2021-01-01 10:20:00"), 2L, 2.0, "view"),
      (1L, ts("2021-01-01 11:15:00"), 3L, 4.0, "click"),
      (1L, ts("2021-01-01 13:00:00"), 4L, 8.0, "view")
    ).toDF("user_id", "ts", "event_id", "value", "event_type")
    val dir = Staging.scratchDir("graft-rocks-win").toString
    ev.write.mode("overwrite").parquet(dir)
    val sink = Staging.scratchDir("graft-rocks-win-sink")
    withRocksDb {
      EventPipeline.tumblingCountsStreamAppend(spark, dir)
        .format("parquet").option("path", sink.resolve("out").toString)
        .option("checkpointLocation", sink.resolve("ckpt").toString)
        .start().awaitTermination()
    }
    val streamed = spark.read.parquet(sink.resolve("out").toString)
    val wmUs = ev.agg((floor(unix_micros(max(col("ts"))) / 1000) * 1000
      - 3600L * 1000000L).as("wm")).as[Long].head()
    val batch = EventPipeline.tumblingCounts(ev)
      .filter(unix_micros(col("hour_start")) + 3600L * 1000000L <= wmUs)
    assert(rows(streamed) == rows(batch))
    assert(rows(streamed).size == 2)
  }
}
