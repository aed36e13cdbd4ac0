package graft

import graft.tools.StressMetrics
import org.apache.spark.sql.functions.sum

/** Harness check for [[Stress]]: every scenario builds and completes
  * at ~1/2000 scale with the listener attached, and the metrics it
  * reports are coherent (tasks ran, shuffles were observed where the
  * operator must exchange). The full-scale measurements live in
  * stress_out.json / SCALE.md and run via `runMain graft.Stress` —
  * this spec pins that the scenario code itself stays runnable so the
  * measured rows stay reproducible. */
class StressSpec extends SparkSpec {

  test("all stress scenarios complete at spec scale with coherent metrics") {
    val listener = new StressMetrics
    spark.sparkContext.addSparkListener(listener)
    try {
      Stress.scenarios(0.0005).foreach { sc =>
        val (action, inputRows) = sc.build(spark)
        listener.reset()
        assert(inputRows > 0, sc.name)
        action()
        var last = -1; var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val now = listener.snapshot().taskCount
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
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
    } finally spark.sparkContext.removeSparkListener(listener)
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
