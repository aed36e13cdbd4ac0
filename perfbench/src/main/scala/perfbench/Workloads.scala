package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.Jobs
import graft.etl.GridmetPipeline
import graft.operators.{EnsembleStats, WeightJoin, WeightedMean}
import graft.sinks.{NetcdfClassic, Sinks}
import graft.sources.Sources

/** One benchmark workload: the staged inputs, the operation a CLI user
  * runs (untraced), the same operation called layer by layer (traced),
  * and the checks of its outputs. */
trait Workload {
  def name: String
  def layout: Gen.Layout
  /** Runs one operation, writing every output under `out`. */
  def run(spark: SparkSession, s: Gen.Staged, out: String): Unit
  /** The same operation as public layer calls, each materialized inside
    * its own span; returns layer values that are not span times. */
  def traced(spark: SparkSession, s: Gen.Staged, out: String, tr: Tracer): Map[String, Double]
  /** Reference values, computed once in plain Scala outside timing. */
  def expect(spark: SparkSession, s: Gen.Staged, seed: Long): Expected
  /** Mismatches between one operation's outputs and the reference. */
  def check(spark: SparkSession, s: Gen.Staged, out: String, e: Expected): Seq[String]
}

/** Sampled reference values keyed by (nhru, day[, ens]) → (tmax °C,
  * prcp mm), plus the nearest present donor of every dead HRU. */
final case class Expected(
    values: Map[(Long, Int, Int), (Double, Double)], donors: Map[Long, Long])

object Workload {
  val all: Seq[Workload] = Seq(GridmetConus, Cfsv2Region)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (want ${all.map(_.name).mkString(" | ")})"))

  def day(ts: java.sql.Timestamp): Int =
    java.time.Duration.between(
      java.time.LocalDate.parse(Gen.Start).atStartOfDay(),
      ts.toLocalDateTime).toDays.toInt

  /** Weight rows per HRU, parsed from the staged CSV text. */
  def weights(s: Gen.Staged): Map[Long, Seq[(Int, Int, Double)]] =
    scala.io.Source.fromFile(s.weights).getLines().drop(1).map { l =>
      val f = l.split(',')
      (f(0).toLong, (f(1).toInt, f(2).toInt, f(3).toDouble))
    }.toSeq.groupMap(_._1)(_._2)

  /** Raw staged grid rows of the given HRUs' cells, by (t, ens, i, j). */
  def gridCells(spark: SparkSession, s: Gen.Staged, hrus: Set[Long],
      w: Map[Long, Seq[(Int, Int, Double)]]): Map[(Int, Int, Int, Int), Row] = {
    import spark.implicits._
    val cells = hrus.toSeq.flatMap(h => w(h).map { case (i, j, _) => (i, j) }).distinct
      .toDF("ci", "cj")
    val g = spark.read.parquet(s.grid)
    val ens = if (g.columns.contains("ens")) col("ens") else lit(0)
    g.join(broadcast(cells), col("i") === col("ci") && col("j") === col("cj"))
      .select(col("time"), ens.as("ens"), col("i"), col("j"), col("tmmx"), col("pr"))
      .collect().map(r => (day(r.getTimestamp(0)), r.getInt(1), r.getInt(2), r.getInt(3)) -> r)
      .toMap
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  /** Compares sampled contract values against the reference. */
  def checkValues(rows: Map[(Long, Int, Int), Row], e: Expected,
      tmax: Row => Double, prcp: Row => Double): Seq[String] =
    e.values.toSeq.flatMap { case (k, (tx, pr)) =>
      rows.get(k) match {
        case None => Seq(s"no output row for $k")
        case Some(r) if !close(tmax(r), tx) || !close(prcp(r), pr) =>
          Seq(s"$k: got (${tmax(r)}, ${prcp(r)}), want ($tx, $pr)")
        case _ => Nil
      }
    }

  /** The staged feature table as the CLI reads it (`fid` key). */
  def features(spark: SparkSession, s: Gen.Staged): DataFrame =
    spark.read.parquet(s.features).withColumnRenamed("nhru_v1_1", "fid")

  def dirMb(p: String): Double = {
    val s = Files.walk(Path.of(p))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / 1e6
    finally s.close()
  }
}

/** gridMET daily job over the CONUS plane: weighted mean on the
  * sort-merge path, finalize, nearest-neighbour fill, contract parquet
  * and NetCDF. */
object GridmetConus extends Workload {
  import Workload._
  val name = "gridmet_conus"
  // a 120 × 90-cell block of the CONUS raster, 7 days
  val layout = Gen.Layout(300, 100, 120, 90, nHru = 800, days = 7, ens = 0)
  val End: String = java.time.LocalDate.parse(Gen.Start).plusDays(layout.days - 1L).toString
  val vars = Seq("tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
  // the path Auto resolves to at the operational 1.32M-row weight table
  val strategy: WeightJoin = WeightJoin.SortMerge

  private def contract(out: String) = s"$out/${Sinks.outputName(Gen.Start, filled = true)}"
  private def netcdf(out: String) = s"$out/gridmet.nc"

  def run(spark: SparkSession, s: Gen.Staged, out: String): Unit = {
    val path = Jobs.runGridmet(spark, Jobs.parseArgs(Seq(
      "--start-date", Gen.Start, "--end-date", End,
      "--grid-path", s.grid, "--target-file", s.features,
      "--weights-file", s.weights, "--fid", "nhru_v1_1",
      "--output-path", out, "--partial", "--fill-missing", "--genmap",
      "--weight-join", "sort-merge")))
    Sinks.writeNetcdf(spark.read.parquet(path), features(spark, s), netcdf(out), Gen.Start)
  }

  def traced(spark: SparkSession, s: Gen.Staged, out: String, tr: Tracer): Map[String, Double] = {
    Files.createDirectories(Path.of(out))
    var grid, weights, feats, subset, unfilled, mapping, filled: DataFrame = null
    var ncRows = 0L
    tr.span("Jobs.gridmet") {
      tr.span("sources.read") {
        grid = spark.read.parquet(s.grid)
        feats = features(spark, s).persist()
        weights = Sources.weightsCsv(spark, s.weights, "nhru_v1_1").persist()
        feats.count()
        weights.count()
      }
      // each layer's output is persisted, so the next layer's plan (and
      // the pipeline's own identical sub-plans) reads it from the cache
      tr.span("GridmetPipeline.subset") {
        subset = GridmetPipeline.timeSubset(
          GridmetPipeline.bboxSubset(grid, feats), Gen.Start, End).persist()
        subset.count()
      }
      tr.span("WeightedMean") {
        WeightedMean(subset, weights, vars, masked = true, strategy = strategy).persist().count()
      }
      tr.span("GridmetPipeline.reindex_finalize") {
        unfilled = GridmetPipeline.gridmet(grid, weights, feats, start = Gen.Start,
          end = End, partial = true, strategy = strategy).persist()
        unfilled.count()
      }
      tr.span("FillMissing.mapping") {
        mapping = GridmetPipeline.fillMapping(unfilled, feats).get.persist()
        mapping.count()
      }
      val mappingCsv = s"$out/fill_missing_nearest.csv"
      tr.span("Sinks.mapping") { Sinks.writeMappingCsv(mapping, mappingCsv); 0L }
      tr.span("FillMissing.fill") {
        filled = GridmetPipeline.applyFill(unfilled,
          Sources.fillMappingCsv(spark, mappingCsv)).persist()
        filled.count()
      }
      tr.span("Sinks.contract") {
        Sinks.writeContract(Sinks.ordered(filled, "time", "nhru"), contract(out)); 0L
      }
      tr.span("Sinks.netcdf") {
        ncRows = Sinks.writeNetcdf(spark.read.parquet(contract(out)), feats,
          netcdf(out), Gen.Start).rowsStreamed
        ncRows
      }
    }
    val miss = tr.spans.filter(sp => sp.op == tr.op && sp.name == "FillMissing.mapping")
      .map(_.rows).sum
    Map(
      "FillMissing.pairs" -> miss.toDouble * (layout.nHru - miss),
      "Sinks.contract_mb" -> dirMb(contract(out)),
      "Sinks.netcdf_mb" -> dirMb(netcdf(out)),
      "Sinks.netcdf_rows" -> ncRows.toDouble)
  }

  def expect(spark: SparkSession, s: Gen.Staged, seed: Long): Expected = {
    val rnd = new scala.util.Random(seed)
    val live = (1 to layout.nHru).filterNot(Gen.dead(seed, _))
    val sample = Seq.fill(40)((live(rnd.nextInt(live.length)).toLong, rnd.nextInt(layout.days)))
    val w = weights(s)
    val g = gridCells(spark, s, sample.map(_._1).toSet, w)
    // masked weighted mean over the cells whose value is present
    def masked(h: Long, t: Int, c: String): Double = {
      val valid = w(h).flatMap { case (i, j, wt) =>
        val r = g((t, 0, i, j))
        if (r.isNullAt(r.fieldIndex(c))) None else Some((wt, r.getAs[Double](c)))
      }
      valid.map { case (wt, x) => wt * x }.sum / valid.map(_._1).sum
    }
    val values = sample.map { case (h, t) =>
      (h, t, 0) -> (masked(h, t, "tmmx") - 273.15, masked(h, t, "pr"))
    }.toMap
    // nearest present donor by squared planar centroid distance, ties
    // to the smaller fid
    val feats = (1 to layout.nHru).map(Gen.feature(seed, layout, _))
    val present = feats.filterNot(f => Gen.dead(seed, f._1.toInt))
    val donors = feats.filter(f => Gen.dead(seed, f._1.toInt)).map { m =>
      val best = present.minBy { d =>
        val dx = m._3 - d._3; val dy = m._2 - d._2
        (dx * dx + dy * dy, d._1)
      }
      m._1 -> best._1
    }.toMap
    Expected(values, donors)
  }

  def check(spark: SparkSession, s: Gen.Staged, out: String, e: Expected): Seq[String] = {
    val c = spark.read.parquet(contract(out))
    val rows = c.count()
    val want = layout.nHru.toLong * layout.days
    val errs = Seq.newBuilder[String]
    if (rows != want) errs += s"contract has $rows rows, want $want"
    val dims = NetcdfClassic.readHeader(netcdf(out)).dims.map(d => d.name -> d.length).toMap
    if (dims != Map("time" -> layout.days.toLong, "nhru" -> layout.nHru.toLong))
      errs += s"netcdf dims $dims, want time=${layout.days} nhru=${layout.nHru}"
    val keys = e.values.keys.map(_._1).toSet ++ e.donors.keys ++ e.donors.values
    val got = c.filter(col("nhru").isin(keys.toSeq: _*)).collect()
      .map(r => (r.getAs[Long]("nhru"), day(r.getAs[java.sql.Timestamp]("time")), 0) -> r)
      .toMap
    errs ++= checkValues(got, e, _.getAs[Double]("tmax"), _.getAs[Double]("prcp"))
    val outVars = Seq("tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity")
    e.donors.foreach { case (m, d) =>
      (0 until layout.days).foreach { t =>
        (got.get((m, t, 0)), got.get((d, t, 0))) match {
          case (Some(a), Some(b)) if outVars.forall(v => a.getAs[Any](v) == b.getAs[Any](v)) => ()
          case _ => errs += s"HRU $m day $t is not its donor $d's series"
        }
      }
    }
    errs.result()
  }
}

/** CFSv2 forecast cycle over a region the shape of nhru_01a: method 1
  * (48-member median, then weighted mean) and method 2 (ens-keyed
  * weighted mean, contract partitioned by member). */
object Cfsv2Region extends Workload {
  import Workload._
  val name = "cfsv2_region"
  // New England corner of the CONUS raster, 48 members × 28 days
  val layout = Gen.Layout(1240, 60, 12, 9, nHru = 9, days = 28, ens = 48)
  val vars = Seq("tmmx", "tmmn", "pr", "sph")

  private def args(s: Gen.Staged, out: String, method: Int) = Jobs.parseArgs(Seq(
    "--grid-path", s.grid, "--target-file", s.features,
    "--weights-file", s.weights, "--fid", "nhru_v1_1",
    "--model-param-file", s.params, "--output-path", out,
    "--method", method.toString))
  private def contract(out: String, method: Int) =
    s"$out/m$method/${Sinks.outputName(Gen.Start, filled = false, median = method == 1)}"

  def run(spark: SparkSession, s: Gen.Staged, out: String): Unit = {
    Jobs.runCfsv2(spark, args(s, s"$out/m1", 1))
    Jobs.runCfsv2(spark, args(s, s"$out/m2", 2))
  }

  def traced(spark: SparkSession, s: Gen.Staged, out: String, tr: Tracer): Map[String, Double] = {
    def method(m: Int): Unit = {
      var grid, weights, feats, elev, subset, series: DataFrame = null
      tr.span(s"Jobs.cfsv2_m$m") {
        tr.span("sources.read") {
          grid = spark.read.parquet(s.grid)
          feats = features(spark, s).persist()
          weights = Sources.weightsCsv(spark, s.weights, "nhru_v1_1").persist()
          elev = Sources.prmsElevations(spark, s.params).persist()
          grid.agg(min(col("time"))).first() // the job's start-date probe
          feats.count()
          elev.count()
          weights.count()
        }
        tr.span("GridmetPipeline.subset") {
          subset = GridmetPipeline.bboxSubset(grid, feats).persist()
          subset.count()
        }
        if (m == 1) {
          val med = EnsembleStats.ensembleMedian(subset, vars).persist()
          tr.span("EnsembleStats.median")(med.count())
          tr.span("WeightedMean")(WeightedMean(med, weights, vars).persist().count())
          tr.span("GridmetPipeline.reindex_finalize") {
            series = GridmetPipeline.cfsv2Median(grid, weights, feats, elev).persist()
            series.count()
          }
          tr.span("Sinks.contract") { Sinks.writeContract(series, contract(out, 1)); 0L }
        } else {
          tr.span("WeightedMean") {
            WeightedMean(subset, weights, vars, extraKeys = Seq("ens")).persist().count()
          }
          tr.span("GridmetPipeline.reindex_finalize") {
            series = GridmetPipeline.cfsv2Ensemble(grid, weights, feats, elev).persist()
            series.count()
          }
          tr.span("Sinks.contract") {
            Sinks.writeContract(series, contract(out, 2), partitionBy = Seq("ens")); 0L
          }
        }
      }
      spark.catalog.clearCache()
    }
    method(1)
    method(2)
    Map("Sinks.contract_mb" -> (dirMb(contract(out, 1)) + dirMb(contract(out, 2))))
  }

  def expect(spark: SparkSession, s: Gen.Staged, seed: Long): Expected = {
    val rnd = new scala.util.Random(seed)
    val w = weights(s)
    val m1 = Seq.fill(20)(((1 + rnd.nextInt(layout.nHru)).toLong, rnd.nextInt(layout.days), -1))
    val m2 = Seq.fill(20)(((1 + rnd.nextInt(layout.nHru)).toLong, rnd.nextInt(layout.days),
      rnd.nextInt(layout.ens)))
    val g = gridCells(spark, s, (m1 ++ m2).map(_._1).toSet, w)
    def median(xs: Seq[Double]): Double = {
      val v = xs.sorted; val n = v.length
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }
    // method 1 takes the member median per cell first; method 2 one member
    def cell(t: Int, e: Int, i: Int, j: Int, c: String): Double =
      if (e >= 0) g((t, e, i, j)).getAs[Double](c)
      else median((0 until layout.ens).map(m => g((t, m, i, j)).getAs[Double](c)))
    def mean(h: Long, t: Int, e: Int, c: String): Double =
      w(h).map { case (i, j, wt) => wt * cell(t, e, i, j, c) }.sum / w(h).map(_._3).sum
    Expected((m1 ++ m2).map { case k @ (h, t, e) =>
      k -> (mean(h, t, e, "tmmx") - 273.15, mean(h, t, e, "pr"))
    }.toMap, Map.empty)
  }

  def check(spark: SparkSession, s: Gen.Staged, out: String, e: Expected): Seq[String] = {
    val errs = Seq.newBuilder[String]
    Seq(1, 2).foreach { m =>
      val c = spark.read.parquet(contract(out, m))
      val rows = c.count()
      val want = layout.nHru.toLong * layout.days * (if (m == 1) 1 else layout.ens)
      if (rows != want) errs += s"method $m contract has $rows rows, want $want"
      val keys = e.values.keys.filter(k => (k._3 < 0) == (m == 1))
      val got = c.filter(col("nhru").isin(keys.map(_._1).toSeq.distinct: _*)).collect()
        .map { r =>
          val ens = if (m == 1) -1 else r.getAs[Int]("ens")
          (r.getAs[Long]("nhru"), day(r.getAs[java.sql.Timestamp]("time")), ens) -> r
        }.toMap
      errs ++= checkValues(got, Expected(e.values.filter(kv => keys.toSet(kv._1)), Map.empty),
        _.getAs[Double]("tmax"), _.getAs[Double]("prcp"))
    }
    errs.result()
  }
}
