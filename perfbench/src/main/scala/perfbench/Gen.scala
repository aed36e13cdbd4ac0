package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every generated value is a hash of
  * (seed, stream, key), so one seed stages the same inputs whatever the
  * partitioning. Sizes depend only on the workload, never on the seed:
  * the seed moves values, the null pattern and which HRUs are dead. */
object Gen {

  // gridMET CONUS raster (cfsv2.json: X1, Y1, 1/24° resolution)
  val X1 = -124.76667
  val Y1 = 49.4
  val Res = 0.04167
  // every HRU covers a compact 4 × 3 block of cells (12 cells, the
  // reference weight map's ~11 contiguous cells per HRU)
  val BlockW = 4
  val BlockH = 3
  val Start = "2021-01-01"

  /** Grid extent and HRU layout of one workload.
    * @param i0,j0 top-left cell of the staged plane in CONUS indices
    * @param nHru  HRUs, spread evenly over the plane's 4 × 3 blocks
    * @param days  daily time steps from [[Start]]
    * @param ens   ensemble members (0 = a gridMET grid with no `ens`) */
  final case class Layout(
      i0: Int, j0: Int, nx: Int, ny: Int, nHru: Int, days: Int, ens: Int) {
    val blocksX: Int = nx / BlockW
    val blocks: Int = blocksX * (ny / BlockH)
    require(nHru >= 1 && nHru <= blocks, s"$nHru HRUs need <= $blocks blocks")
    def gridRows: Long = nx.toLong * ny * days * math.max(ens, 1)

    /** Top-left cell (i, j) of HRU `h` (1-based). */
    def corner(h: Int): (Int, Int) = {
      val b = ((h - 1).toLong * blocks / nHru).toInt
      (i0 + (b % blocksX) * BlockW, j0 + (b / blocksX) * BlockH)
    }
    def cells(h: Int): Seq[(Int, Int)] = {
      val (ci, cj) = corner(h)
      for (dj <- 0 until BlockH; di <- 0 until BlockW) yield (ci + di, cj + dj)
    }
  }

  def lon(i: Int): Double = X1 + i * Res
  def lat(j: Int): Double = Y1 - j * Res

  /** Uniform in [0, 1) from (seed, stream, keys). `hashU` is the same
    * function in plain Scala, for the staging-side tables. */
  def u(seed: Long, stream: Int, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(stream) +: keys: _*), lit(1000003L))
      .cast("double") / 1000003.0
  def hashU(seed: Long, stream: Int, keys: Long*): Double = {
    var h = seed * 0x9E3779B97F4A7C15L + stream
    keys.foreach { k =>
      h ^= k + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
    }
    ((h >>> 11).toDouble / (1L << 53).toDouble)
  }

  /** About 2% of HRUs (one in 50, phase set by the seed) have every
    * cell null, so the fill stage has real work. */
  def dead(seed: Long, h: Int): Boolean = (h + seed) % 50 == 0

  /** Footprint weight of HRU `h` on its `k`-th cell. */
  def weight(seed: Long, h: Int, k: Int): Double =
    0.3 + 0.7 * hashU(seed, 1, h.toLong, k.toLong)

  /** Feature table row: centroid jittered inside the block (no exact
    * distance ties in the nearest-donor search) and the block bounds. */
  def feature(seed: Long, l: Layout, h: Int): (Long, Double, Double, Double, Double, Double, Double) = {
    val (ci, cj) = l.corner(h)
    val minx = lon(ci) - Res / 2
    val maxx = lon(ci + BlockW - 1) + Res / 2
    val maxy = lat(cj) + Res / 2
    val miny = lat(cj + BlockH - 1) - Res / 2
    val cx = minx + (maxx - minx) * (0.25 + 0.5 * hashU(seed, 2, h.toLong))
    val cy = miny + (maxy - miny) * (0.25 + 0.5 * hashU(seed, 3, h.toLong))
    (h.toLong, cy, cx, minx, miny, maxx, maxy)
  }

  /** Paths of one workload's staged inputs. */
  final case class Staged(grid: String, weights: String, features: String, params: String)

  /** Stage the grid parquet, weights CSV, feature parquet and (for an
    * ensemble grid) the PRMS parameter file under `dir`. */
  def stage(spark: SparkSession, seed: Long, l: Layout, dir: String): Staged = {
    import spark.implicits._
    Files.createDirectories(Path.of(dir))
    val s = Staged(s"$dir/grid", s"$dir/weights.csv", s"$dir/features", s"$dir/params.txt")
    val hrus = 1 to l.nHru

    val weightsCsv = new StringBuilder("nhru_v1_1,i,j,wght\n")
    hrus.foreach { h =>
      l.cells(h).zipWithIndex.foreach { case ((i, j), k) =>
        weightsCsv.append(h).append(',').append(i).append(',').append(j)
          .append(',').append(weight(seed, h, k)).append('\n')
      }
    }
    Files.writeString(Path.of(s.weights), weightsCsv)

    hrus.map(feature(seed, l, _))
      .toDF("nhru_v1_1", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s.features)

    if (l.ens > 0) {
      // PRMS layout read by Sources.prmsElevations: marker, 4 header
      // lines, one value per HRU in nhru order, terminator
      val elev = hrus.map(h => f"${50.0 + 1500.0 * hashU(seed, 4, h.toLong)}%.3f")
      Files.writeString(Path.of(s.params),
        (Seq("Description: perfbench PRMS parameters", "####", "hru_elev",
          "1", "nhru", l.nHru.toString, "2") ++ elev ++ Seq("####")).mkString("", "\n", "\n"))
    } else Files.writeString(Path.of(s.params), "")

    grid(spark, seed, l).write.mode(SaveMode.Overwrite).parquet(s.grid)
    s
  }

  /** Long-form grid (time[, ens], j, i, lat, lon, vars…), time-major. */
  def grid(spark: SparkSession, seed: Long, l: Layout): DataFrame = {
    val members = math.max(l.ens, 1).toLong
    val perDay = l.nx.toLong * l.ny * members
    val id = col("id")
    val cell = id % (l.nx.toLong * l.ny)
    val base = spark.range(0, l.gridRows, 1, math.max(1, (l.gridRows / 2000000L).toInt) * 4)
      .select(
        (id / perDay).cast("int").as("t"),
        ((id / (l.nx.toLong * l.ny)) % members).cast("int").as("ens"),
        (cell / l.nx + l.j0).cast("int").as("j"),
        (cell % l.nx + l.i0).cast("int").as("i"))
    val t = col("t"); val e = col("ens"); val i = col("i"); val j = col("j")
    val keyed = base.select(
      to_timestamp(date_add(lit(Start).cast("date"), t)).as("time"),
      t, e, j, i,
      (lit(Y1) - j * lit(Res)).as("lat"), (lit(X1) + i * lit(Res)).as("lon"),
      (lit(265.0) + u(seed, 10, t, e, i, j) * 25.0).as("tmmx"),
      u(seed, 11, t, e, i, j).as("u1"), u(seed, 12, t, e, i, j).as("u2"),
      u(seed, 13, t, e, i, j).as("u3"), u(seed, 14, t, e, i, j).as("u4"),
      u(seed, 15, t, e, i, j).as("u5"))
    if (l.ens > 0)
      keyed.select(col("time"), e, j, i, col("lat"), col("lon"), col("tmmx"),
        (col("tmmx") - lit(3.0) - col("u1") * 8.0).as("tmmn"),
        (col("u2") * col("u2") * 15.0).as("pr"),
        (lit(0.002) + col("u3") * 0.008).as("sph"))
    else {
      // dead HRUs' cells are null at every step; 1% of the other
      // cell-days are null too, so the masked mean renormalizes
      val deadCells = (1 to l.nHru).filter(dead(seed, _)).flatMap(l.cells)
      import spark.implicits._
      val deadDf = deadCells.toDF("di", "dj").withColumn("dead", lit(true))
      val withDead = keyed.join(broadcast(deadDf),
        col("i") === col("di") && col("j") === col("dj"), "left")
      val isNull = col("dead").isNotNull || u(seed, 16, t, i, j) < 0.01
      def v(c: Column, n: String) = when(isNull, lit(null).cast("double")).otherwise(c).as(n)
      withDead.select(col("time"), j, i, col("lat"), col("lon"),
        v(col("tmmx"), "tmmx"),
        v(col("tmmx") - lit(5.0) - col("u1") * 10.0, "tmmn"),
        v(col("u2") * col("u2") * 20.0, "pr"),
        v(lit(50.0) + col("u3") * 50.0, "rmax"),
        v((lit(50.0) + col("u3") * 50.0) * col("u4"), "rmin"),
        v(col("u5") * 10.0, "vs"))
    }
  }
}
