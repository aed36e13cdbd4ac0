package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J2/J3 — nearest-neighbor gap filling (SURVEY.md §2.5); the F5
  * missing/present split runs on the driver in
  * [[graft.etl.GridmetPipeline.fillMapping]].
  *
  * Reference (`helper.py:9-122`): split the feature set into missing vs
  * present using the FIRST timestep of one variable (`helper.py:45`,
  * var = "tmax" at call sites `etl.py:484`, `etl.py:763`); for each
  * missing feature find the nearest present feature by planar centroid
  * distance (`sjoin_nearest`, `helper.py:72`); overwrite the missing
  * feature's ENTIRE time series with its donor's (`helper.py:85-90`).
  *
  * Spark-first: the missing side is tiny (early-exit when empty,
  * `helper.py:48-50`), so the NN search is a broadcast nested-loop join +
  * arg-min — `min(struct(distance, fid))` gives a deterministic
  * tie-break on the smaller donor fid. The series overwrite (a scatter
  * update in xarray) becomes a left join + per-variable `coalesce`.
  */
object FillMissing {

  /** J2: nearest-donor mapping. Inputs carry (fid, lat, lon); output is
    * (miss_fid, fill_fid, distance) with distance = planar euclidean on
    * (lon, lat), ties broken by smallest donor fid.
    *
    * Physical-plan notes (from `.explain` + profiling at sf0.1):
    *  - argmin via `min(struct(dist, fid))` forces SortAggregate (struct
    *    buffers can't hash-aggregate) — a full sort of the |miss|·|donors|
    *    pair stream. Two chained HASH aggregates (min distance, then min
    *    fid among exact minima) compute the same winner sort-free.
    *  - the argmin runs on SQUARED distance — sqrt is strictly monotonic,
    *    so winners and ties are identical; sqrt runs only on the winners.
    *  - `dx*dx`, not `pow(dx,2)`: Math.pow is the hot path at
    *    |miss|·|donors| scale, and multiplication matches the oracle.
    */
  def nearestMapping(missing: DataFrame, donors: DataFrame): DataFrame = {
    // Repartition the streamed side: the NN scan is O(|miss|·|donors|)
    // compute against a broadcast donor table, so CPU balance matters
    // more than the (tiny) shuffle this costs.
    val m = missing.select(
      col("fid").as("miss_fid"), col("lat").as("m_lat"), col("lon").as("m_lon"))
      .repartition(col("miss_fid"))
    val d = donors.select(
      col("fid").as("fill_fid"), col("lat").as("d_lat"), col("lon").as("d_lon"))
    val dx = col("m_lon") - col("d_lon")
    val dy = col("m_lat") - col("d_lat")
    val scored = m.join(broadcast(d)) // cross join; donor side broadcast
      .select(col("miss_fid"), col("fill_fid"), (dx * dx + dy * dy).as("d2"))
    val best = scored.groupBy(col("miss_fid").as("best_fid"))
      .agg(min(col("d2")).as("best_d2"))
    // Winner recovery re-probes the donors with the d2 == best_d2
    // equality IN the join condition, with best_d2 attached to the
    // |miss|-sized side first: the first pass's scored stream feeds a
    // map-side partial min and never materializes, and this pass
    // evaluates the same fused distance arithmetic per pair (bit-
    // identical doubles, so the equality is exact) emitting only the
    // winners — the previous form materialized the full |miss|·|donors|
    // scored stream a second time just to filter it against `best`.
    m.join(broadcast(best), col("miss_fid") === col("best_fid"))
      .join(broadcast(d), (dx * dx + dy * dy) === col("best_d2"))
      .groupBy(col("miss_fid"), col("best_d2"))
      .agg(min(col("fill_fid")).as("fill_fid"))
      .select(col("miss_fid"), col("fill_fid"),
        sqrt(col("best_d2")).as("distance"))
  }

  /** J2 on the driver: [[nearestMapping]]'s contract over driver-side
    * (fid, lat, lon) tables, for callers that already hold both sides
    * there. The same squared-distance arithmetic in the same order, so
    * winners, ties (smallest donor fid) and distances are bit-identical
    * to the Spark form (FillMissingSpec pins it). O(|missing|·|donors|)
    * on one core; result in miss_fid order. */
  def nearestMappingLocal(
      missing: Seq[(Long, Double, Double)],
      donors: Seq[(Long, Double, Double)]): Seq[(Long, Long, Double)] = {
    val fid = donors.map(_._1).toArray
    val lat = donors.map(_._2).toArray
    val lon = donors.map(_._3).toArray
    missing.sortBy(_._1).flatMap { case (m, mLat, mLon) =>
      var best = -1
      var bestD2 = 0.0
      var k = 0
      while (k < fid.length) {
        val dx = mLon - lon(k)
        val dy = mLat - lat(k)
        val d2 = dx * dx + dy * dy
        // Double.compare orders NaN last, as Spark's min does
        val c = if (best < 0) -1 else java.lang.Double.compare(d2, bestD2)
        if (c < 0 || (c == 0 && fid(k) < fid(best))) { best = k; bestD2 = d2 }
        k += 1
      }
      if (best < 0) None else Some((m, fid(best), math.sqrt(bestD2)))
    }
  }

  /** J2 at scale: grid-binned nearest-donor mapping — the documented
    * scale path for when BOTH sides grow past the broadcast envelope
    * (the reference's workload never does; [[nearestMapping]] stays the
    * checked default). Same contract and EXACT same result set as
    * [[nearestMapping]], spec-pinned.
    *
    * Shape: donors replicate to their 3×3 cell neighborhood (9 narrow
    * rows each), the candidate join is a plain equi-join on the miss
    * point's own cell — candidates per point ≈ 9 · donor density, not
    * |donors|. A within-ring winner STRICTLY closer than `cellSize` is
    * provably global (any donor outside the 3×3 ring sits ≥ one full
    * cell away, so its distance ≥ cellSize); points with no ring
    * candidate, a winner at ≥ cellSize, or an exactly-cellSize boundary
    * tie fall back to the exact broadcast scan — a density-bounded
    * remainder, so exactness costs only the sparse tail. Winner
    * recovery and the argmin are the [[nearestMapping]] forms (map-side
    * partial min; distance equality in the join condition; sqrt on
    * winners only; ties to the smallest donor fid).
    *
    * Choose `cellSize` ≈ the expected NN distance (e.g. a few grid
    * steps): too small → everything falls back; too large → ring
    * candidates approach |donors| per point. */
  def nearestMappingBinned(
      missing: DataFrame, donors: DataFrame, cellSize: Double): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    val m = missing.select(
      col("fid").as("miss_fid"), col("lat").as("m_lat"), col("lon").as("m_lon"))
    val d = donors.select(
      col("fid").as("fill_fid"), col("lat").as("d_lat"), col("lon").as("d_lon"))
    val cs = lit(cellSize)
    // the MISS side (the small one — that asymmetry is the operator's
    // whole premise) replicates to its 3×3 search ring and donors keep
    // their own cell: the candidate set is identical either way
    // (miss-ring ∋ donor-cell ⟺ donor-ring ∋ miss-cell), but the big
    // side crosses the exchange once, not nine times
    val dExp = d.select(col("fill_fid"), col("d_lat"), col("d_lon"),
      floor(col("d_lon") / cs).as("cx"),
      floor(col("d_lat") / cs).as("cy"))
    val mc = m
      .withColumn("__nx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__ny", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("miss_fid"), col("m_lat"), col("m_lon"),
        (floor(col("m_lon") / cs) + col("__nx")).as("cx"),
        (floor(col("m_lat") / cs) + col("__ny")).as("cy"))
    val dx = col("m_lon") - col("d_lon")
    val dy = col("m_lat") - col("d_lat")
    val d2 = dx * dx + dy * dy
    val scored = mc.join(dExp, Seq("cx", "cy"))
      .select(col("miss_fid"), d2.as("d2"))
    // strict <: an exact-cellSize winner could be tied from outside the
    // ring, so the boundary goes to the fallback — never resolved here
    val safeBest = scored.groupBy(col("miss_fid")).agg(min(col("d2")).as("best_d2"))
      .filter(col("best_d2") < cs * cs)
    val mcb = mc.join(safeBest, "miss_fid")
    val resolved = mcb
      .join(dExp, mcb("cx") === dExp("cx") && mcb("cy") === dExp("cy") &&
        d2 === col("best_d2"))
      .groupBy(col("miss_fid"), col("best_d2"))
      .agg(min(col("fill_fid")).as("fill_fid"))
      .select(col("miss_fid"), col("fill_fid"),
        sqrt(col("best_d2")).as("distance"))
    val unresolved = m.join(safeBest.select(col("miss_fid")),
        Seq("miss_fid"), "left_anti")
    // Fallback broadcast direction is REVERSED from [[nearestMapping]]:
    // here the donor side is the unbounded one (that is why the binned
    // form exists), while the unresolved set is cellSize-bounded small.
    // Donors stream through two fused scans (min pass + winner
    // recovery, the same shapes as above) against the broadcast
    // unresolved points; an empty unresolved set degenerates to two
    // cheap scans with empty build sides, never a donor broadcast.
    val fScored = d.join(broadcast(unresolved))
      .select(col("miss_fid"), col("fill_fid"), (dx * dx + dy * dy).as("fd2"))
    val fBest = fScored.groupBy(col("miss_fid")).agg(min(col("fd2")).as("best_d2"))
    val fallback = d.join(
        broadcast(unresolved.join(fBest, "miss_fid")),
        (dx * dx + dy * dy) === col("best_d2"))
      .groupBy(col("miss_fid"), col("best_d2"))
      .agg(min(col("fill_fid")).as("fill_fid"))
      .select(col("miss_fid"), col("fill_fid"),
        sqrt(col("best_d2")).as("distance"))
    resolved.unionByName(fallback)
  }

  /** J3: overwrite each missing feature's whole series with its donor's.
    * `ts` is (fid, time, vars…); `mapping` is (miss_fid, fill_fid, …).
    * Donor values are fetched with a join on (donor fid, time). Mapped
    * features take the donor value UNCONDITIONALLY — the reference's
    * aligned assignment (`helper.py:85-90`) copies the donor array
    * verbatim, NaNs included; non-mapped features pass through. */
  def fillSeries(ts: DataFrame, mapping: DataFrame, vars: Seq[String]): DataFrame = {
    // Scale guard: the donor side is broadcast below, so it must be bounded
    // by the missing set, not the full series — at 100× the unfiltered
    // series projection exceeds the broadcast cap. Semi-join the series to
    // the mapped donor fids first (itself a broadcast semi-join: `mapping`
    // is missing-set-bounded by the `helper.py:48-50` early exit), making
    // the broadcast side |mapped donors| × |time| rows. No distinct on
    // the fids: duplicates cannot change a semi-join's result, and a
    // distinct would only add a shuffle.
    val donorFids = mapping.select(col("fill_fid").as("__sel_fid"))
    val donor = ts
      .join(broadcast(donorFids), ts("fid") === col("__sel_fid"), "left_semi")
      .select(
        Seq(col("fid").as("__donor_fid"), col("time").as("__donor_time")) ++
          vars.map(v => col(v).as(s"__donor_$v")): _*)
    val map2 = mapping.select(col("miss_fid"), col("fill_fid").as("__fill_fid"))
    val withDonor = ts
      .join(broadcast(map2), ts("fid") === map2("miss_fid"), "left")
      .join(broadcast(donor),
        col("__fill_fid") === col("__donor_fid") &&
          ts("time") === col("__donor_time"),
        "left")
    // each filled column keeps the series column's metadata (its units)
    val filled = vars.foldLeft(withDonor) { (df, v) =>
      df.withColumn(v,
        when(col("__fill_fid").isNotNull, col(s"__donor_$v")).otherwise(col(v))
          .as(v, ts.schema(v).metadata))
    }
    filled.select(Seq(ts("fid"), ts("time")) ++ vars.map(col): _*)
  }
}
