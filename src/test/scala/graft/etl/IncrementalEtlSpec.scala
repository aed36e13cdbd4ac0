package graft.etl

import graft.SparkSpec
import graft.operators.WeightedMean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Staging

/** The incremental daily-ETL cadence (round-11 verdict ask #1): the
  * accumulated table must be HASH-IDENTICAL to the batch pipeline over
  * the full range, a gate refusal must defer (not lose) the blocked
  * day across a restart, and an at-least-once replay must not
  * duplicate rows. */
class IncrementalEtlSpec extends SparkSpec {
  import spark.implicits._

  private def day(d: Int) = f"2021-03-$d%02d"

  /** One day's grid plane: 4 cells (i,j ∈ {0,1}), pr = day*100 + 10i + j. */
  private def plane(d: Int): DataFrame =
    Seq((0, 0), (0, 1), (1, 0), (1, 1)).toDF("i", "j")
      .select(lit(day(d)).cast("date").as("time"), col("i"), col("j"),
        (lit(d * 100.0) + col("i") * 10 + col("j")).as("pr"))

  private def weights: DataFrame = Seq(
    (0L, 0, 0, 0.5), (0L, 0, 1, 0.5),
    (1L, 1, 0, 0.3), (1L, 1, 1, 0.7)
  ).toDF("fid", "i", "j", "wght")

  /** Stage days as one file each, ascending mtimes (arrival order). */
  private def stage(base: String, days: Seq[Int]): String = {
    days.zipWithIndex.foreach { case (d, k) =>
      plane(d).coalesce(1).write.parquet(s"$base/src/part=$k")
      new java.io.File(s"$base/src/part=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + k * 60000L))
    }
    s"$base/src"
  }

  private def run(src: String, base: String,
      gate: String => Boolean = _ => true): Either[Throwable, Unit] = {
    val q = IncrementalEtl.dailyWeightedMeanStream(spark, src, weights,
        Seq("pr"), s"$base/out", gate = gate)
      .option("checkpointLocation", s"$base/ckpt").start()
    try { q.awaitTermination(); Right(()) }
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
      Left(e) }
    finally q.stop()
  }

  private def accumulated(base: String): DataFrame =
    IncrementalEtl.readAccumulated(spark, s"$base/out")
      .select(col("fid"), col("time"), col("pr"))

  test("full incremental run == batch pipeline over the full range") {
    val base = Staging.scratchDir("graft-inc-full").toString
    val src = stage(base, Seq(1, 2, 3, 4))
    assert(run(src, base).isRight)
    val batch = WeightedMean(spark.read.parquet(src), weights, Seq("pr"))
      .select(col("fid"), col("time"), col("pr"))
    assert(rows(accumulated(base)) == rows(batch))
    // exactly one row per (fid, day): 2 features × 4 days
    assert(accumulated(base).count() === 8L)
    assert(accumulated(base).groupBy("fid", "time").count()
      .filter($"count" > 1).isEmpty)
  }

  test("gate refusal DEFERS the blocked day: abort mid-range, restart completes with no dup/loss") {
    val base = Staging.scratchDir("graft-inc-gate").toString
    val src = stage(base, Seq(1, 2, 3, 4))
    // cycle 1: upstream current only through day 2 — day 3's batch must
    // fail the stream BEFORE writing anything for it
    val r1 = run(src, base, gate = d => d <= day(2))
    assert(r1.isLeft, "gate refusal must fail the stream")
    assert(r1.swap.toOption.get.toString.contains("availability gate"))
    val mid = accumulated(base)
    assert(rows(mid.select($"time".cast("string")).distinct()) ===
      Set(Seq(day(1)), Seq(day(2))))
    // cycle 2 (the scheduler's retry, same checkpoint): upstream caught
    // up — the restart resumes at day 3 and finishes the range
    assert(run(src, base).isRight)
    val batch = WeightedMean(spark.read.parquet(src), weights, Seq("pr"))
      .select(col("fid"), col("time"), col("pr"))
    assert(rows(accumulated(base)) == rows(batch))
    assert(accumulated(base).count() === 8L) // days 1-2 not re-appended
  }

  test("at-least-once replay is idempotent: wiped checkpoint, same output table") {
    val base = Staging.scratchDir("graft-inc-replay").toString
    val src = stage(base, Seq(1, 2, 3))
    assert(run(src, base).isRight)
    val first = rows(accumulated(base))
    // wipe the checkpoint: every micro-batch replays into the SAME
    // output — dynamic partition overwrite must rewrite, not append
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$base/ckpt"))
    assert(run(src, base).isRight)
    assert(rows(accumulated(base)) == first)
    assert(accumulated(base).count() === 6L)
  }

  test("per-day finalize (rename + unit conversion) == batch finalize over the full range") {
    // the reference's daily cycle runs the FULL etl incl. finalize;
    // finalize is a per-row map over (fid, time, vars), so applying it
    // per micro-batch must equal applying it once over the batch range
    val base = Staging.scratchDir("graft-inc-final").toString
    Seq(1, 2, 3).zipWithIndex.foreach { case (d, k) =>
      plane(d).withColumnRenamed("pr", "tmmx") // Kelvin-ish input var
        .coalesce(1).write.parquet(s"$base/src/part=$k")
      new java.io.File(s"$base/src/part=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + k * 60000L))
    }
    val q = IncrementalEtl.dailyWeightedMeanStream(spark, s"$base/src",
        weights, Seq("tmmx"), s"$base/out",
        finalize = Convert.gridmetFinalize)
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination(); q.stop()
    val streamed = IncrementalEtl.readAccumulated(spark, s"$base/out")
      .select(col("nhru"), col("time"), round(col("tmax"), 9).as("tmax"))
    val batch = Convert.gridmetFinalize(
        WeightedMean(spark.read.parquet(s"$base/src"), weights, Seq("tmmx")))
      .select(col("nhru"), col("time"), round(col("tmax"), 9).as("tmax"))
    assert(rows(streamed) == rows(batch))
    // and the conversion really ran: outputs are °C (input − 273.15)
    assert(streamed.agg(max(col("tmax"))).as[Double].head() < 100.0)
  }

  test("day-atomicity tripwire: a day split across micro-batches aborts loudly instead of silently overwriting") {
    val base = Staging.scratchDir("graft-inc-split").toString
    // the staging bug the contract forbids: day 2's plane lands in TWO
    // drop-box files (half the cells each), so its second half arrives
    // in a LATER micro-batch after batch 1 already committed the day
    val halves = Seq(plane(2).filter($"i" === 0), plane(2).filter($"i" === 1))
    (plane(1) +: halves).zipWithIndex.foreach { case (df, k) =>
      df.coalesce(1).write.parquet(s"$base/src/part=$k")
      new java.io.File(s"$base/src/part=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + k * 60000L))
    }
    val r = run(s"$base/src", base)
    assert(r.isLeft, "a split day must abort the stream, not overwrite")
    assert(r.swap.toOption.get.toString.contains("day-atomicity violation"),
      r.swap.toOption.get.toString)
    // without the tripwire the second half would have silently REPLACED
    // day 2's partition with a half-plane aggregate; the abort left
    // batch 1's day-2 rows (complete at commit time) in place
    assert(accumulated(base).filter($"time" === lit(day(2)).cast("date"))
      .count() > 0)
  }

  test("catch-up batch with several whole days rewrites each day partition correctly") {
    val base = Staging.scratchDir("graft-inc-catchup").toString
    val src = stage(base, Seq(1, 2, 3, 4))
    // no files-per-trigger cap: all four day-files land in ONE batch
    val q = IncrementalEtl.dailyWeightedMeanStream(spark, src, weights,
        Seq("pr"), s"$base/out", maxFilesPerTrigger = None)
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination(); q.stop()
    val batch = WeightedMean(spark.read.parquet(src), weights, Seq("pr"))
      .select(col("fid"), col("time"), col("pr"))
    assert(rows(accumulated(base)) == rows(batch))
  }
}
