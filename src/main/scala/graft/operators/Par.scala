package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism helpers shared by the operator library. */
object Par {

  /** Keyed repartition at the session's shuffle width, with the width
    * EXPLICIT so AQE cannot byte-coalesce the exchange away. These
    * exchanges exist to SPREAD CPU-dense per-row work (tokenize /
    * shingle / hash / pair-verify), whose cost AQE's bytes-only
    * coalescing cannot see: at small inputs it folded them to one
    * post-shuffle partition and serialized the whole stage on one core
    * (round-18 measurement: q129's Hamming verify ran 1.9 s of CPU in
    * a single task over a 286 KB exchange; q184's per-pass trigram
    * explode+aggregate ran single-task over an 850 KB doc exchange).
    * At scale an explicit session width is exactly what the plain
    * keyed exchange already produced — AQE coalescing only ever
    * SHRINKS below it — so this is a small-input parallelism floor
    * derived from the deployment's own shuffle-width dial, not a tuned
    * constant (guide §2.5: partition count from the cluster, CPU
    * balance from the key spread). */
  def spreadBy(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** Run a DRIVER-SIDE TRAINING LOOP with AQE disabled, restoring the
    * previous setting after. Fixed-round trainers (logistic gradient
    * descent, BPE merge selection, Lloyd iterations) launch one tiny
    * deterministic-result action per round over a checkpointed frame;
    * AQE re-optimizes and re-materializes per query-stage, which costs
    * 2+ driver round-trips per round and dominates the loop (round-18
    * interleaved A/B: q147 steady 4.1 s AQE-on vs 2.0 s AQE-off at
    * identical results — the per-round aggregates are decimal-exact
    * and partitioning-independent by construction, so the plan freedom
    * AQE buys is worth nothing inside the loop). Scoped to the loop
    * only: the surrounding query keeps AQE (q160, which embeds a
    * trainer in a composed plan, measures flat-to-better with ONLY the
    * loop opted out). Queries in this engine execute sequentially per
    * session (bench/verify/jobs contract), so a scoped session-conf
    * flip cannot race a concurrent query. */
  def withoutAqe[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    // the scoped session-conf flip relies on that sequential contract;
    // an active streaming query on the same session would plan batches
    // under the flipped value and leak it into unrelated plans —
    // enforce the contract instead of assuming it (round-18 advice)
    require(spark.streams.active.isEmpty,
      "Par.withoutAqe must not run concurrently with streaming queries")
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally {
      prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }
}
