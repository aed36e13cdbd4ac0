package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** S3 weights CSV (both committed layouts), S6 PRMS parse, F1 lookup. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def write(name: String, content: String): String = {
    val d = Staging.scratchDir("graft-src")
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("weights CSV with pandas index column") {
    val p = write("w1.csv",
      """,nhru_v1_1,i,j,wght
        |0,1,418,328,0.5
        |1,1,419,328,0.5
        |2,2,420,329,1.0
        |""".stripMargin)
    val w = Sources.weightsCsv(spark, p, "nhru_v1_1")
    assert(w.columns.toSeq == Seq("fid", "i", "j", "wght"))
    assert(w.count() == 3)
    val r = w.orderBy("i").as[(Long, Int, Int, Double)].collect()
    assert(r.head == ((1L, 418, 328, 0.5)))
  }

  test("weights CSV without index column") {
    val p = write("w2.csv",
      """nhru_v1_1,i,j,wght
        |7,10,20,1.0
        |""".stripMargin)
    val w = Sources.weightsCsv(spark, p, "nhru_v1_1")
    assert(w.as[(Long, Int, Int, Double)].head() == ((7L, 10, 20, 1.0)))
  }

  test("weights CSV header: read on the driver, named as Spark's reader infers it") {
    // quotes, an empty name and case-insensitive duplicates
    val p = write("w3.csv", "\"nhru_v1_1\",,i,j,wght,I\n1,,2,3,0.5,9\n")
    val inferred = spark.read.option("header", "true").csv(p).columns.toSeq
    assert(Sources.csvHeader(spark, p) == inferred)
    assert(inferred == Seq("nhru_v1_1", "_c1", "i2", "j", "wght", "I5"))
    // a directory of part files, as Spark writes one: the first data file
    val dir = Staging.scratchDir("graft-src-dir").resolve("w.csv").toString
    Seq((1L, 4, 5, 0.25), (2L, 6, 7, 0.75)).toDF("nhru_v1_1", "i", "j", "wght")
      .repartition(2).write.option("header", "true").csv(dir)
    val w = Sources.weightsCsv(spark, dir, "nhru_v1_1")
    assert(w.orderBy("fid").as[(Long, Int, Int, Double)].collect().toSeq ==
      Seq((1L, 4, 5, 0.25), (2L, 6, 7, 0.75)))
  }

  test("feature table: centroids and Spark's min/max bounds from one collect") {
    // a null centroid has no entry; bounds skip nulls, NaN sorts above
    // every number (Spark's max), and DECIMAL bounds arrive as doubles
    val f = Seq[(Long, Option[Double], Double, Option[Double], Double, Double, Double)](
      (1L, Some(40.0), -99.0, Some(-99.5), 39.5, -98.5, Double.NaN),
      (2L, None, -98.0, None, 38.0, -97.0, 41.0),
      (3L, Some(41.0), -97.5, Some(-100.0), 40.5, -96.0, 42.0))
      .toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .withColumn("miny", $"miny".cast("decimal(10,4)"))
    val t = Sources.featureTable(f)
    assert(t.centroids == Map(1L -> ((40.0, -99.0)), 3L -> ((41.0, -97.5))))
    import org.apache.spark.sql.functions.{col, max, min}
    val b = f.agg(min(col("minx").cast("double")), min(col("miny").cast("double")),
      max(col("maxx").cast("double")), max(col("maxy").cast("double"))).first()
    val got = t.bounds.get
    assert(Seq(got.minx, got.miny, got.maxx).map(Double.box) ==
      Seq(b.getDouble(0), b.getDouble(1), b.getDouble(2)).map(Double.box))
    assert(got.maxy.isNaN && b.getDouble(3).isNaN)
    // a table without the bound columns has centroids only, and one
    // without coordinates bounds only
    assert(Sources.featureTable(f.select("fid", "lat", "lon")).bounds.isEmpty)
    val boundsOnly = Sources.featureTable(f.drop("lat", "lon"))
    assert(boundsOnly.centroidsRead.isEmpty)
    assert(boundsOnly.bounds.map(b => (b.minx, b.miny, b.maxx)) ==
      t.bounds.map(b => (b.minx, b.miny, b.maxx)))
  }

  test("PRMS parameter file: hru_elev section, 4 header lines, #### terminator") {
    val p = write("params.txt",
      """####
        |some_other_param
        |1
        |nhru
        |2
        |1
        |9.9
        |9.8
        |####
        |hru_elev
        |1
        |nhru
        |3
        |2
        |100.5
        |200.25
        |300.0
        |####
        |trailing_param
        |""".stripMargin)
    val e = Sources.prmsElevations(spark, p)
    val out = e.orderBy("nhru").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 100.5), (2L, 200.25), (3L, 300.0)))
  }

  test("catalog lookup returns first record per requested variable") {
    val cat = Seq(
      ("gridmet", "tmmx_a", "tmmx", "http://u1"),
      ("gridmet", "tmmx_b", "tmmx", "http://u2"),
      ("gridmet", "pr_x", "pr", "http://u3"),
      ("other", "tmmx_z", "tmmx", "http://u4")
    ).toDF("id", "varname", "variable", "URL")
    val out = Sources.catalogLookup(cat, "gridmet", Seq("tmmx", "pr"))
      .orderBy("variable").as[(String, String, String)].collect()
    assert(out.toSeq == Seq(
      ("pr", "pr_x", "http://u3"), ("tmmx", "tmmx_a", "http://u1")))
  }
}
