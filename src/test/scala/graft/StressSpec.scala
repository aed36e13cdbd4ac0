package graft

import graft.tools.StressMetrics
import org.apache.spark.sql.functions.{col, sum}

/** Harness check for [[Stress]]: every scenario builds and completes
  * at ~1/2000 scale with the listener attached, and the metrics it
  * reports are coherent (tasks ran, shuffles were observed where the
  * operator must exchange). The full-scale measurements live in
  * stress_out.json / SCALE.md and run via `runMain graft.Stress` —
  * this spec pins that the scenario code itself stays runnable so the
  * measured rows stay reproducible. */
class StressSpec extends SparkSpec {

  test("all stress scenarios complete at spec scale with coherent metrics") {
    val listener = new StressMetrics().attach(spark.sparkContext)
    try {
      Stress.scenarios(0.0005).foreach { sc =>
        val (action, inputRows) = sc.build(spark)
        listener.reset()
        assert(inputRows > 0, sc.name)
        action()
        val m = listener.snapshot()
        assert(m.taskCount > 0, sc.name)
        assert(m.maxTaskSkew >= 1.0, sc.name)
        // most scenarios exist BECAUSE they exchange: a zero shuffle
        // reading means the listener (or the scenario) broke. The
        // kernel-throughput scenarios make the OPPOSITE claim — their
        // timed action is scan-side only, and any shuffle appearing
        // there is a plan regression. proximity_join's tiny form
        // legitimately broadcasts one side (neither claim holds).
        val zeroShuffleByDesign =
          Set("curate_kernels", "wav_codec", "ivf_assign",
            // round-15 narrow-map scenarios: packing/corruption/
            // entropy are per-row array arithmetic — a shuffle
            // appearing is a plan regression
            "dpo_pack", "ul2_mix", "entropy_fold")
        if (zeroShuffleByDesign(sc.name))
          assert(m.shuffleWriteBytes == 0,
            s"${sc.name}: unexpected shuffle in a scan-side scenario")
        else if (sc.name != "proximity_join")
          assert(m.shuffleWriteBytes > 0, s"${sc.name}: no shuffle observed")
      }
    } finally listener.close()
  }

  test("the window holds each action's events: 8 tasks and 1 job per action, 0 jobs for a lazy plan") {
    val m = new StressMetrics().attach(spark.sparkContext)
    try {
      (1 to 20).foreach { i =>
        m.reset()
        spark.range(0, 1000, 1, 8).foreach(_ => ())
        val s = m.snapshot()
        assert((s.taskCount, s.jobCount) == ((8, 1)), s"action $i")
      }
      m.reset()
      spark.range(0, 1000, 1, 8).groupBy((col("id") % 7).as("k")).agg(sum("id"))
      assert(m.snapshot().jobCount == 0)
    } finally m.close()
  }

  test("codegen_compiles counts cache misses: a new plan compiles, its rerun does not") {
    val m = new StressMetrics
    // a literal no earlier plan in this JVM used: generated code embeds it
    val k = System.nanoTime() % 1000000007L
    def run(): Unit = spark.range(1000).selectExpr(s"id + $k AS x").agg(sum("x")).collect()
    m.reset(); run()
    assert(m.snapshot().codegenCompiles > 0)
    m.reset(); run()
    assert(m.snapshot().codegenCompiles == 0)
  }
}
