package graft.cli

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import java.time.{ZonedDateTime, ZoneOffset, LocalDate}
import graft.sources.Staging

/** CLI surface end-to-end: parse → pipeline → contract sink on disk. */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private def gtok(dir: String) = spark.read.format("gtok").load(dir)

  test("parseArgs: values, boolean flags, errors") {
    val a = Jobs.parseArgs(Seq("--start-date", "2021-01-01", "--partial",
      "--fid", "nhru_v1_1"))
    assert(a("start-date") == "2021-01-01")
    assert(a.has("partial") && !a.has("fill-missing"))
    intercept[RuntimeException](Jobs.parseArgs(Seq("--end-date")))
    intercept[RuntimeException](Jobs.parseArgs(Seq("stray")))
    // a misspelled flag must not swallow the next flag as its value
    val swallow = intercept[RuntimeException](
      Jobs.parseArgs(Seq("--fill-mising", "--partial")))
    assert(swallow.getMessage == "missing value for --fill-mising")
    intercept[Exception](Jobs.validDate("01/02/2021"))
  }

  test("a subcommand rejects keys its job does not read, naming the accepted ones") {
    for ((cmd, bad, meant) <- Seq(
        ("gridmet-etl", Seq("--weight-jion", "sort-merge"), "--weight-join"),
        ("gridmet-etl", Seq("--file-prefx", "p_"), "--file-prefix"),
        ("gridmet-etl", Seq("--fill-missing", "--mapping-flie", "m.csv"), "--mapping-file"),
        ("cfsv2-etl", Seq("--model-param-flie", "p"), "--model-param-file"),
        ("pack-tokens", Seq("--near"), "--n-shards"))) {
      val e = intercept[IllegalArgumentException](Jobs.command(cmd, Jobs.parseArgs(bad)))
      assert(e.getMessage.contains(s"$cmd does not take ${bad.filterNot(_ == "--fill-missing").head}"),
        e.getMessage)
      assert(e.getMessage.contains(meant), e.getMessage)
    }
    assert(Jobs.command("gridmet-etl", Jobs.parseArgs(Seq(
      "--fill-missing", "--genmap", "--weight-join", "sort-merge"))) == Jobs.commands("gridmet-etl"))
    val e = intercept[IllegalArgumentException](Jobs.command("gridmet", Jobs.parseArgs(Nil)))
    assert(e.getMessage.contains("unknown subcommand: gridmet") &&
      e.getMessage.contains("gridmet-etl"), e.getMessage)
  }

  test("each subcommand declares exactly the keys its job reads") {
    // the keys a method reads: a("k"), a.get("k"), a.has("k"), plus the
    // keys of the Args-taking helpers it calls
    val src = Files.readString(java.nio.file.Paths.get("src/main/scala/graft/cli/Jobs.scala"))
    val starts = "\n  (?:private )?def (\\w+)".r.findAllMatchIn(src)
      .map(m => m.group(1) -> m.start).toSeq
    val bodies = starts.zip(starts.drop(1).map(_._2) :+ src.length)
      .map { case ((name, from), to) => name -> src.substring(from, to) }.toMap
    val key = "\\ba(?:\\.get|\\.has)?\\(\"([a-z0-9-]+)\"\\)".r
    val direct = bodies.collect { case (name, b) if b.contains("a: Args") =>
      name -> key.findAllMatchIn(b).map(_.group(1)).toSet }
    def reads(name: String): Set[String] = direct(name) ++ direct.keys
      .filter(h => h != name && bodies(name).contains(s"$h(spark, a)")).flatMap(direct)
    val runOf = "\"([a-z0-9-]+)\" -> Command\\((\\w+),".r.findAllMatchIn(src)
      .map(m => m.group(1) -> m.group(2)).toMap
    assert(runOf.keySet == Jobs.commands.keySet && runOf.size == 14)
    runOf.foreach { case (cmd, run) =>
      assert(Jobs.commands(cmd).keys == reads(run), cmd)
    }
  }

  test("gridmet-etl job: staged grid → contract parquet + attrs sidecar") {
    val dir = Staging.scratchDir("graft-job").toString
    val t1 = Timestamp.valueOf("2021-01-01 00:00:00")
    // stage inputs
    (for { i <- 0 to 1; j <- 0 to 1 } yield
      (t1, j, i, 40.0 + j, -100.0 + i, 285.0 + i, 275.0 + i, 1.0, 80.0, 40.0, 3.0))
      .toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
      .write.parquet(s"$dir/grid")
    Seq((1L, 40.0, -99.5, -100.0, 40.0, -99.0, 41.0))
      .toDF("nhru_v1_1", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .write.parquet(s"$dir/feats")
    Files.writeString(java.nio.file.Paths.get(dir, "w.csv"),
      "nhru_v1_1,i,j,wght\n1,0,0,0.5\n1,1,0,0.5\n")

    val a = Jobs.parseArgs(Seq(
      "--start-date", "2021-01-01", "--end-date", "2021-01-01",
      "--grid-path", s"$dir/grid", "--target-file", s"$dir/feats",
      "--weights-file", s"$dir/w.csv", "--fid", "nhru_v1_1",
      "--output-path", s"$dir/out"))
    val path = Jobs.runGridmet(spark, a)
    assert(path.endsWith("2021-01-01_converted"))
    val out = spark.read.parquet(path)
    assert(out.columns.toSet ==
      Set("nhru", "time", "tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"))
    val tmax = out.select("tmax").as[Double].head()
    assert(approx(tmax, 285.5 - 273.15)) // mean of 285,286 K → °C
    val attrs = Files.readString(java.nio.file.Paths.get(path, "_attrs.json"))
    assert(attrs.contains("CF-1.8") && attrs.contains("degree_Celsius"))
  }

  /** A gridMET run whose `--target-file` is a `.shp` (with its `.dbf`
    * and a geographic `.prj`), given as a plain path or a `file:` URI;
    * returns the contract output. */
  private def gridmetShp(dirName: String, uri: Boolean) = {
    val dir = Staging.scratchDir(dirName).toString
    val t1 = Timestamp.valueOf("2021-01-01 00:00:00")
    (for { i <- 0 to 1; j <- 0 to 1 } yield
      (t1, j, i, 40.0 + j, -100.0 + i, 285.0 + i, 275.0 + i, 1.0, 80.0, 40.0, 3.0))
      .toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
      .write.parquet(s"$dir/grid")
    // same rectangle the parquet-feats test stages, but as a real
    // polygon: bbox/centroid are DERIVED from the rings in-engine
    val shpPath = graft.sources.ShpTestData.write(dir, "feats", Seq(
      1L -> Seq(Seq((-100.0, 40.0), (-100.0, 41.0), (-99.0, 41.0),
        (-99.0, 40.0), (-100.0, 40.0)))))
    Files.writeString(java.nio.file.Paths.get(dir, "feats.prj"),
      """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]]]""")
    Files.writeString(java.nio.file.Paths.get(dir, "w.csv"),
      "nhru_v1_1,i,j,wght\n1,0,0,0.5\n1,1,0,0.5\n")
    val target =
      if (uri) java.nio.file.Paths.get(shpPath).toUri.toString else shpPath
    val a = Jobs.parseArgs(Seq(
      "--start-date", "2021-01-01", "--end-date", "2021-01-01",
      "--grid-path", s"$dir/grid", "--target-file", target,
      "--weights-file", s"$dir/w.csv", "--fid", "nhru_v1_1",
      "--output-path", s"$dir/out"))
    spark.read.parquet(Jobs.runGridmet(spark, a))
  }

  test("gridmet-etl job: .shp target suffix-dispatches through the shapefile reader") {
    val out = gridmetShp("graft-job-shp", uri = false)
    assert(out.columns.toSet ==
      Set("nhru", "time", "tmax", "tmin", "prcp", "rhmax", "rhmin", "ws", "humidity"))
    assert(approx(out.select("tmax").as[Double].head(), 285.5 - 273.15))
  }

  test("gridmet-etl reads a file: URI .shp --target-file") {
    val out = gridmetShp("graft-job-shp-uri", uri = true)
    assert(out.select("nhru").as[Long].collect().toSeq == Seq(1L))
    assert(approx(out.select("tmax").as[Double].head(), 285.5 - 273.15))
  }

  /** Stages a gridMET run where feature 1 is covered by weights and
    * feature 2 is NOT (missing, NN-filled from 1); returns the fill
    * run's arguments, with output under `dir`/out. */
  private def genmapRun(dir: String): Seq[String] = {
    val t1 = Timestamp.valueOf("2021-01-01 00:00:00")
    (for { i <- 0 to 1; j <- 0 to 1 } yield
      (t1, j, i, 40.0 + j, -100.0 + i, 285.0 + i, 275.0 + i, 1.0, 80.0, 40.0, 3.0))
      .toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
      .write.parquet(s"$dir/grid")
    Seq((1L, 40.0, -99.5, -100.0, 40.0, -99.0, 41.0),
        (2L, 40.4, -99.4, -100.0, 40.0, -99.0, 41.0))
      .toDF("nhru_v1_1", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .write.parquet(s"$dir/feats")
    Files.writeString(java.nio.file.Paths.get(dir, "w.csv"),
      "nhru_v1_1,i,j,wght\n1,0,0,0.5\n1,1,0,0.5\n")
    Seq(
      "--start-date", "2021-01-01", "--end-date", "2021-01-01",
      "--grid-path", s"$dir/grid", "--target-file", s"$dir/feats",
      "--weights-file", s"$dir/w.csv", "--fid", "nhru_v1_1",
      "--output-path", s"$dir/out", "--fill-missing")
  }

  test("genmap round-trip: --genmap persists the NN mapping; a rerun consumes it") {
    val dir = Staging.scratchDir("graft-genmap").toString
    val base = genmapRun(dir)
    // run 1: generate + persist the mapping
    val p1 = Jobs.runGridmet(spark, Jobs.parseArgs(base :+ "--genmap"))
    val csv = spark.read.option("header", "true")
      .csv(s"$dir/out/fill_missing_nearest.csv")
    assert(csv.select("miss_fid", "fill_fid").as[(String, String)]
      .collect().toSeq == Seq(("2", "1")))
    // run 2: consume the persisted mapping (genmap=False, helper.py:79)
    val p2 = Jobs.runGridmet(spark, Jobs.parseArgs(
      base ++ Seq("--mapping-file", "fill_missing_nearest.csv")))
    val r1 = rows(spark.read.parquet(p1))
    val r2 = rows(spark.read.parquet(p2))
    assert(r1 == r2 && r1.nonEmpty)
    // filled: feature 2's series equals feature 1's
    val out = spark.read.parquet(p2)
    val byF = out.select($"nhru", $"tmax").as[(Long, Double)].collect().toMap
    assert(byF(2L) == byF(1L))
  }

  test("--mapping-file: a repeated miss_fid, an unparsable field or an unknown fid fails naming the file and the fid") {
    Seq(
      // the mapping's left join would duplicate feature 2's rows
      "2,1,0.41\n2,1,0.41" -> "miss_fid 2 appears 2 times",
      // the permissive CSV reader reads "one" as null: 2 would stay unfilled
      "2,one,0.41" -> "(2, null, 0.41)",
      "2,9,0.41" -> "fid 9 names no feature").foreach { case (rows, why) =>
      val dir = Staging.scratchDir("graft-bad-mapping").toString
      val base = genmapRun(dir)
      Files.createDirectories(java.nio.file.Paths.get(dir, "out"))
      Files.writeString(java.nio.file.Paths.get(dir, "out", "m.csv"),
        s"miss_fid,fill_fid,distance\n$rows\n")
      val e = intercept[IllegalArgumentException](
        Jobs.runGridmet(spark, Jobs.parseArgs(base ++ Seq("--mapping-file", "m.csv"))))
      assert(e.getMessage.contains(s"$dir/out/m.csv") && e.getMessage.contains(why), e.getMessage)
    }
  }

  test("gridmet --fill-missing --genmap: its generated classes fit the codegen cache; a warm rerun schedules within its budget") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val dir = Staging.scratchDir("graft-genmap-budget").toString
    // 4×3 cells × 3 days; cell (3, 2) is null on every day (feature 6,
    // whose only cell it is, masks to all-null) and feature 7 has no
    // weights (the reindex adds it all-null): both are filled
    val days = (0 to 2).map(d => Timestamp.valueOf(s"2021-03-0${d + 1} 00:00:00"))
    (for { (t, d) <- days.zipWithIndex; i <- 0 to 3; j <- 0 to 2 } yield {
      val dead = i == 3 && j == 2
      def v(x: Double): Option[Double] = if (dead) None else Some(x)
      (t, j, i, 40.0 + 0.5 * j, -100.0 + 0.5 * i, v(280.0 + i + 0.25 * j + d),
        v(270.0 + i - 0.5 * d), v(0.1 * (i * 3 + j)), v(70.0 + j), v(30.0 + i), v(2.0 + 0.1 * d))
    }).toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
      .write.parquet(s"$dir/grid")
    Seq((1L, 40.2, -99.8), (2L, 40.3, -99.1), (3L, 40.9, -99.7), (4L, 40.6, -98.6),
        (5L, 40.1, -98.9), (6L, 41.0, -98.5), (7L, 40.95, -98.55))
      .map { case (f, lat, lon) => (f, lat, lon, -100.25, 39.75, -98.25, 41.25) }
      .toDF("nhru_v1_1", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .write.parquet(s"$dir/feats")
    Files.writeString(java.nio.file.Paths.get(dir, "w.csv"),
      "nhru_v1_1,i,j,wght\n1,0,0,0.5\n1,1,0,0.5\n2,1,1,1.0\n3,0,2,0.25\n" +
        "3,1,2,0.75\n4,2,1,0.6\n4,3,1,0.4\n5,2,0,1.0\n6,3,2,1.0\n")
    def run(n: Int): String = Jobs.runGridmet(spark, Jobs.parseArgs(Seq(
      "--start-date", "2021-03-01", "--end-date", "2021-03-03",
      "--grid-path", s"$dir/grid", "--target-file", s"$dir/feats",
      "--weights-file", s"$dir/w.csv", "--fid", "nhru_v1_1",
      "--output-path", s"$dir/out$n", "--partial", "--fill-missing", "--genmap")))
    // Spark's codegen cache: 100 entries, keyed by (class loader, source),
    // so in local mode a stage's class has a driver and an executor entry
    val codegenCache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    def onCache(method: String): AnyRef =
      codegenCache.getClass.getMethod(method).invoke(codegenCache)
    // the working set: with the cache emptied, the first run compiles
    // each of its classes once. How many of them a warm rerun recompiles
    // is not asserted: that depends on how the JVM's class-loader
    // identity hashes spread the keys over the cache's segments
    val window = new graft.tools.StressMetrics().attach(spark.sparkContext)
    val path = try {
      onCache("invalidateAll")
      window.reset()
      run(1)
      val workingSet = window.snapshot().codegenCompiles
      val resident = onCache("size")
      window.reset()
      val p = run(2)
      val rerun = window.snapshot()
      val rerunJobs = rerun.jobCount
      info(s"working set $workingSet classes ($resident resident); warm rerun: " +
        s"$rerunJobs jobs, ${rerun.codegenCompiles} compiles")
      // 41 classes and 15 jobs here; 60 and 22 with the dense series
      // persisted and filled from a donor and a target side, and 125
      // compiles from empty (100 resident) and 49 jobs where every action
      // re-derived it
      assert(workingSet <= 50, s"generated classes in one run: $workingSet")
      assert(rerunJobs <= 18, s"jobs on the warm rerun: $rerunJobs")
      p
    } finally window.close()
    // pinned outputs: the contract's rows (count and an order-free
    // hash) and the mapping CSV's lines
    val contract = spark.read.parquet(path)
    val digest = contract.agg(count(lit(1)),
      sum(xxhash64(contract.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .first()
    assert((digest.getLong(0), digest.getDecimal(1).toString) == ((21L, "10971946770681936309")), digest)
    val csv = spark.read.text(s"$dir/out2/fill_missing_nearest.csv").as[String]
      .collect().toSeq.sorted
    assert(csv == Seq("6,4,0.4123105625617633", "7,4,0.3535533905932748",
      "miss_fid,fill_fid,distance"), csv)
  }

  test("dedup-admit job: two-run lifecycle over persisted fingerprint state") {
    val dir = Staging.scratchDir("graft-dedup-job").toString
    Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch1")
    Seq((10L, "alpha"), (11L, "gamma"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch2")
    def run(n: Int) = Jobs.runDedupAdmit(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/batch$n", "--state-path", s"$dir/state",
      "--output-path", s"$dir/out$n")))
    val out1 = spark.read.parquet(run(1))
      .select("doc_id").as[Long].collect().sorted
    assert(out1.toSeq == Seq(1L, 2L))
    // run 2 admits only the state-new text; "alpha" is rejected by the
    // fingerprints run 1 appended
    val out2 = spark.read.parquet(run(2))
      .select("doc_id").as[Long].collect().sorted
    assert(out2.toSeq == Seq(11L))
    assert(spark.read.parquet(s"$dir/state").count() == 3L)
  }

  test("pack-tokens job: documents -> packed shards, token-count preserving") {
    val dir = Staging.scratchDir("graft-pack-job").toString
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"),
      (3L, "eta theta iota kappa lambda mu nu xi"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    val out = Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "4", "--n-shards", "2")))
    val back = gtok(out)
    // every whitespace token of every doc landed in exactly one chunk
    assert(back.selectExpr("sum(size(token_ids))").as[Long].head() === 14L)
    // layout: each shard's non-final chunks are exactly context-len
    val chunks = back.as[(Int, Long, Seq[Int])].collect()
    chunks.groupBy(_._1).foreach { case (sh, cs) =>
      cs.sortBy(_._2).dropRight(1).foreach { c =>
        assert(c._3.length === 4, s"shard $sh chunk ${c._2}") }
    }
  }

  test("pack-sft job: conversations -> twin token/mask GTOK planes with identical geometry") {
    val dir = Staging.scratchDir("graft-pack-sft").toString
    val convs = Seq(
      (1L, "user asks one thing", "assistant answers with several words"),
      (2L, "short prompt", "a reply"),
      (3L, "another question here", "and its complete answer follows now"))
      .toDF("id", "prompt", "response")
    convs.write.parquet(s"$dir/convs")
    val out = Jobs.runPackSft(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/convs", "--output-path", s"$dir/sft",
      "--context-len", "8", "--n-shards", "2")))
    val toks = gtok(s"$out/tokens")
      .as[(Int, Long, Seq[Int])].collect().map(c => (c._1, c._2) -> c._3).toMap
    val masks = gtok(s"$out/masks")
      .as[(Int, Long, Seq[Int])].collect().map(c => (c._1, c._2) -> c._3).toMap
    // identical chunk geometry across the two planes
    assert(toks.keySet === masks.keySet)
    toks.foreach { case (k, ids) =>
      assert(masks(k).length === ids.length, s"chunk $k length drift") }
    // the mask plane is 0/1 and counts exactly the response tokens
    val allMask = masks.values.flatten.toSeq
    assert(allMask.forall(m => m == 0 || m == 1))
    val nResp = convs
      .selectExpr("sum(size(filter(split(response, ' '), w -> w <> '')))")
      .as[Long].head()
    assert(allMask.map(_.toLong).sum === nResp)
    // and total stream length = every prompt + response token
    val nAll = convs.selectExpr(
      "sum(size(filter(split(prompt, ' '), w -> w <> '')) + " +
        "size(filter(split(response, ' '), w -> w <> '')))").as[Long].head()
    assert(allMask.length.toLong === nAll)
  }

  test("mix-weights job: DoReMi weight artifact round-trips and matches the operator") {
    val dir = Staging.scratchDir("graft-mixw").toString
    val docs = (1L to 40L).map { i =>
      val src = if (i % 2 == 0) "web" else "books"
      // give the two sources different bigram surprisal profiles
      val text = if (i % 2 == 0) s"common words common words unique$i token"
        else "common words common words common words"
      (i, text, src)
    }.toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    val out = Jobs.runMixWeights(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/w.tsv")))
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8").trim.split("\n")
    assert(lines.length === 2)
    val parsed = lines.map(_.split("\t")).map(a =>
      a(0) -> (a(1).toLong, a(2).toDouble, a(3).toDouble)).toMap
    assert(parsed.keySet === Set("books", "web"))
    // round-trips bit-exactly against the operator
    val expect = graft.operators.Sampling.doremiWeights(
        graft.operators.Corpus.lmScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("source")), "doc_id"),
        col("source"), col("nll"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(parsed === expect)
    // weights sum to 1 within round6 tolerance
    assert(math.abs(parsed.values.map(_._3).sum - 1.0) < 3e-6)
  }

  test("select-corpus --weights-file: TSV-applied mixture equals the in-plan apply") {
    val dir = Staging.scratchDir("graft-mixapply").toString
    val docs = (1L to 60L).map { i =>
      val src = if (i % 2 == 0) "web" else "books"
      val text = if (i % 2 == 0) s"common words common words unique$i token"
        else "common words common words common words"
      (i, text, src)
    }.toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    // fit once, persist the artifact
    val wf = Jobs.runMixWeights(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/w.tsv")))
    // apply via the CLI seam (no budget/dsir stages, no split noise)
    Jobs.runSelectCorpus(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/sel",
      "--weights-file", wf, "--splits", "train=100")))
    val viaTsv = spark.read.parquet(s"$dir/sel")
      .select("doc_id").as[Long].collect().sorted
    // the q172 in-plan apply over the same docs: weights from the
    // operator, shares via the identical decimal-sum derivation
    val w = graft.operators.Sampling.doremiWeights(
        graft.operators.Corpus.lmScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("source")), "doc_id"),
        col("source"), col("nll"))
      .select(col("domain"), col("weight")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val inPlan = graft.operators.Sampling.mixSample(docs, col("doc_id"),
        col("source"), Jobs.mixShares(w))
      .select("doc_id").as[Long].collect().sorted
    assert(viaTsv.nonEmpty && (viaTsv sameElements inPlan))
  }

  test("pack-dpo job: preference pairs -> four aligned GTOK planes keyed by pair_id") {
    val dir = Staging.scratchDir("graft-pack-dpo").toString
    val pairs = Seq(
      (1L, "please summarize this text", "a good concise summary",
        "a bad long rambling answer"),
      (2L, "what is two plus two", "four", "five maybe"),
      (3L, "translate hello friend", "bonjour mon ami", "je ne sais pas"))
      .toDF("id", "prompt", "chosen", "rejected")
    pairs.write.parquet(s"$dir/pairs")
    val out = Jobs.runPackDpo(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/pairs", "--output-path", s"$dir/dpo",
      "--context-len", "6", "--n-shards", "2")))
    def read(sub: String) =
      gtok(s"$out/$sub")
        .as[(Int, Long, Seq[Int])].collect()
        .map(c => (c._1, c._2) -> c._3).toMap
    val ct = read("chosen_tokens"); val cm = read("chosen_masks")
    val rt = read("rejected_tokens"); val rm = read("rejected_masks")
    // identical (shard, pair_id) geometry across all four planes —
    // the invariant a trainer zipping the sidecar indexes relies on
    assert(ct.keySet === cm.keySet && ct.keySet === rt.keySet &&
      ct.keySet === rm.keySet)
    assert(ct.keySet.map(_._2) === Set(1L, 2L, 3L))
    ct.foreach { case (k, ids) =>
      assert(ids.length === cm(k).length && ids.length <= 6) }
    rt.foreach { case (k, ids) =>
      assert(ids.length === rm(k).length && ids.length <= 6) }
    // masks are 0/1 with ≥1 response token per plane (the dpoPairPack
    // drop contract guarantees it), prompt prefix then response suffix
    (cm.values ++ rm.values).foreach { m =>
      assert(m.forall(x => x == 0 || x == 1))
      assert(m.sum >= 1)
      assert(m === m.sorted)
    }
  }

  test("pack-tokens --fim-pct: PSM rearrangement feeds the shards (sentinels counted)") {
    val dir = Staging.scratchDir("graft-pack-fim").toString
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"),
      (3L, "eta theta iota kappa lambda mu nu xi"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    val out = Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "4", "--n-shards", "2",
      "--fim-pct", "100", "--fim-seed", "7")))
    val back = gtok(out)
    // every doc transformed: 14 tokens + 3 sentinels per doc = 23
    assert(back.selectExpr("sum(size(token_ids))").as[Long].head() === 23L)
    // each transformed stream carries exactly one of each sentinel
    // (65533–65535: the top of the 2-byte packing space, which the
    // hash tokenization vacates under --fim-pct)
    val counts = back.selectExpr(
        "sum(size(filter(token_ids, t -> t = 65533)))",
        "sum(size(filter(token_ids, t -> t = 65534)))",
        "sum(size(filter(token_ids, t -> t = 65535)))")
      .as[(Long, Long, Long)].head()
    assert(counts === ((3L, 3L, 3L)))
  }

  test("pack-tokens --shuffle-seed + --mix: seeded training order with per-source quotas") {
    val dir = Staging.scratchDir("graft-pack-shuf").toString
    val docs = Seq(
      (1L, "alpha beta gamma", "web"), (2L, "delta epsilon", "web"),
      (3L, "zeta eta theta iota", "web"), (4L, "kappa lambda", "web"),
      (5L, "mu nu xi", "book"), (6L, "omicron pi rho sigma", "book"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    // mix 0.5/0.5 over 4 web + 2 book docs: N = min(8, 4) = 4 →
    // quotas 2 web + 2 book; the shards carry exactly the 4 selected
    // docs' tokens (which 2 web docs is the seeded permutation's pick)
    val out = Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "4", "--n-shards", "2",
      "--shuffle-seed", "42", "--mix", "web=0.5,book=0.5")))
    val assigned = graft.operators.Packing.shuffleShards(
      docs, "doc_id", "source", 42L, 2, Map("web" -> 0.5, "book" -> 0.5))
      .collect().map(r => (r.getLong(2), r.getString(3)))
    assert(assigned.length === 4)
    assert(assigned.count(_._2 == "web") === 2)
    assert(assigned.count(_._2 == "book") === 2)
    val tokCounts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    val expectedTokens = assigned.map(a => tokCounts(a._1)).sum.toLong
    val back = gtok(out)
    assert(back.selectExpr("sum(size(token_ids))").as[Long].head() ===
      expectedTokens)
    // a missing --mix fails loudly rather than silently packing all
    intercept[IllegalArgumentException] {
      Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
        "--input-path", s"$dir/docs", "--output-path", s"$dir/shards2",
        "--shuffle-seed", "42")))
    }
  }

  test("pack-tokens --epochs / --anneal-quality / --boundaries-out: training-order family on the CLI") {
    val dir = Staging.scratchDir("graft-pack-curr").toString
    val docs = Seq(
      (1L, "alpha beta gamma", "web"), (2L, "delta epsilon", "web"),
      (3L, "zeta eta theta iota", "web"), (4L, "kappa lambda", "web"),
      (5L, "mu nu xi", "book"), (6L, "omicron pi rho sigma", "book"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    // --epochs 2 doubles the packed stream (same selected docs, two
    // seeded orders); boundaries index agrees with the doubled layout
    val out = Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "4", "--n-shards", "2",
      "--shuffle-seed", "42", "--mix", "web=0.5,book=0.5",
      "--epochs", "2", "--boundaries-out", s"$dir/bounds")))
    val assigned = graft.operators.Packing.shuffleShards(
      docs, "doc_id", "source", 42L, 2, Map("web" -> 0.5, "book" -> 0.5))
      .collect().map(r => r.getLong(2))
    val tokCounts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    val perEpoch = assigned.map(tokCounts(_)).sum.toLong
    val back = gtok(out)
    assert(back.selectExpr("sum(size(token_ids))").as[Long].head() ===
      2L * perEpoch)
    // one boundary row per (doc, epoch) — each selected doc starts
    // twice in the doubled stream
    val bounds = spark.read.parquet(s"$dir/bounds")
    assert(bounds.count() === 2L * assigned.length)
    assert(bounds.groupBy("id").count().collect()
      .forall(_.getLong(1) === 2L))
    // --anneal-quality: a never-true threshold reduces to the plain
    // seeded layout (same total tokens as the single-epoch run)
    val out2 = Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards2",
      "--context-len", "4", "--n-shards", "2",
      "--shuffle-seed", "42", "--mix", "web=0.5,book=0.5",
      "--anneal-quality", "9.9")))
    assert(gtok(out2)
      .selectExpr("sum(size(token_ids))").as[Long].head() === perEpoch)
    // loud refusals: the combination, and boundaries without a seed
    intercept[IllegalArgumentException] {
      Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
        "--input-path", s"$dir/docs", "--output-path", s"$dir/x",
        "--shuffle-seed", "42", "--mix", "web=0.5,book=0.5",
        "--epochs", "2", "--anneal-quality", "0.5")))
    }
    intercept[IllegalArgumentException] {
      Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
        "--input-path", s"$dir/docs", "--output-path", s"$dir/y",
        "--boundaries-out", s"$dir/z")))
    }
  }

  test("pack-tokens --span-corrupt-out: span table matches the operator over the CLI's own tokenization") {
    val dir = Staging.scratchDir("graft-pack-span").toString
    // docs long enough to carry ≥2 full 16-token blocks
    val docs = (0L until 30L).map(i =>
      (i, (0 until 40).map(j => s"w${(i * 7 + j) % 90}").mkString(" "),
        "web"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "8", "--n-shards", "2",
      "--span-corrupt-out", s"$dir/spans", "--span-seed", "11")))
    val spans = spark.read.parquet(s"$dir/spans")
    // the CLI's fallback tokenizer (xxhash64 buckets) — the span table
    // must be computed over exactly these ids
    val tok = docs.select(col("doc_id").as("id"),
      expr("transform(filter(split(text, ' '), w -> w <> ''), " +
        "w -> CAST(pmod(xxhash64(w), 65536L) AS INT))").as("ids"))
    val expect = graft.operators.Packing.spanCorruption(
      tok, col("id"), col("ids"), 11L)
    assert(spans.count() > 0)
    assert(rows(spans) === rows(expect))
  }

  test("pack-tokens --binpack-out: bin assignment matches the operator over the CLI's own tokenization") {
    val dir = Staging.scratchDir("graft-pack-bin").toString
    val docs = (0L until 30L).map(i =>
      (i, (0 until ((i % 12) + 1).toInt)
        .map(j => s"w${(i * 7 + j) % 90}").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "8", "--n-shards", "2",
      "--binpack-out", s"$dir/bins", "--binpack-seed", "11")))
    val bins = spark.read.parquet(s"$dir/bins")
    val tok = docs.select(col("doc_id").as("id"),
      expr("transform(filter(split(text, ' '), w -> w <> ''), " +
        "w -> CAST(pmod(xxhash64(w), 65536L) AS INT))").as("ids"))
    val expect = graft.operators.Packing.binPackByLength(
      tok.select(col("id"), size(col("ids")).cast("long").as("n")),
      col("id"), col("n"), contextLen = 8, nShards = 2, seed = 11L)
    assert(bins.count() > 0)
    assert(rows(bins) === rows(expect))
  }

  test("select-corpus --dsir-target-col: importance resample gates the pool") {
    val dir = Staging.scratchDir("graft-select-dsir").toString
    // half the pool speaks the target vocabulary, half something else
    val docs = (0L until 40L).map { i =>
      val tgt = i % 4 == 0
      val text = if (tgt || i % 2 == 1) "alpha beta gamma delta alpha beta"
        else "omega psi chi tau omega nu"
      (i, text, tgt)
    }.toDF("doc_id", "text", "is_target")
    docs.write.parquet(s"$dir/docs")
    Jobs.runSelectCorpus(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/out",
      "--dsir-target-col", "is_target", "--dsir-k", "12",
      "--dsir-dim", "64", "--splits", "train=100")))
    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() === 12)
    // the CLI path must equal the operator composition exactly
    val sel = graft.operators.Dsir.resample(docs, "doc_id", "text",
        col("is_target"), dim = 64, k = 12)
      .filter(col("rank").isNotNull)
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      sel.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("select-corpus: budget + cluster-keyed split matches the operator composition") {
    val dir = Staging.scratchDir("graft-select").toString
    val docs = (0L until 60L).map(i =>
      (i, (0 until ((i % 15) + 2).toInt)
        .map(j => if (j % 3 == 0) "the" else s"w${(i * 7 + j) % 90}")
        .mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    val clusters = graft.operators.Dedup.duplicateClusters(docs, "doc_id",
      Seq((1L, 2L), (2L, 3L), (40L, 41L)).toDF("a_id", "b_id"))
    clusters.write.parquet(s"$dir/clusters")
    Jobs.runSelectCorpus(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/out",
      "--budget", "300", "--clusters", s"$dir/clusters",
      "--splits", "train=90,test=10")))
    val got = spark.read.parquet(s"$dir/out")
    // expected: score+count, budget-select, leakage-safe split
    val st = graft.functions.TextKernels.text_stats(col("text"),
      graft.functions.TextFunctions.LangProfiles("en"))
    val scored = docs.withColumn("quality", st.getField("quality"))
      .withColumn("n_tokens", st.getField("ws_tokens").cast("long"))
    val sel = graft.operators.Sampling.selectByTokenBudget(
      scored, col("doc_id"), col("quality"), col("n_tokens"), 300L)
    val expect = graft.operators.Sampling.leakageSafeSplit(
      scored.join(sel.select(col("id")),
        col("doc_id") === col("id"), "left_semi"),
      col("doc_id"), clusters, Seq(("train", 90), ("test", 10)))
    assert(got.count() > 0 && got.count() < 60)
    assert(rows(got) === rows(expect))
    // split column present and clusters unsplit
    val byCanon = got.select($"canon_id", $"split").distinct().collect()
      .groupBy(_.getLong(0))
    assert(byCanon.values.forall(_.length == 1))
  }

  test("train-bpe: learned artifacts load through Bpe and tokenize with the learned merges") {
    val dir = Staging.scratchDir("graft-bpe-train").toString
    val docs = Seq(
      "low low low low low lower lower newest newest",
      "newest newest newest newest widest widest widest")
      .toDF("text")
    docs.write.parquet(s"$dir/docs")
    Jobs.runTrainBpe(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/model",
      "--n-merges", "6")))
    // the artifact pair must round-trip through the PUBLIC loader
    val model = graft.functions.Bpe.load(
      s"$dir/model/vocab.json", s"$dir/model/merges.txt")
    val got = docs.limit(1).select(
        graft.functions.Bpe.bpe_tokenize(col("text"), model).as("ids"))
      .collect().head.getSeq[Int](0)
    assert(got.nonEmpty)
    // ids must decode back through the vocab: every id is a real token,
    // and the tokens' concatenation per word reconstructs the text
    val vocab = graft.functions.Bpe
      .parseVocab(s"$dir/model/vocab.json").map(_.swap).toMap
    val text = "low low low low low lower lower newest newest"
    assert(got.forall(vocab.contains))
    assert(got.map(vocab).mkString === text.replace(" ", ""))
    // the learned merges actually merge: far fewer ids than characters
    assert(got.length < text.replace(" ", "").length)
    // e2e composition: pack-tokens consumes the trained artifacts
    docs.withColumn("doc_id", monotonically_increasing_id())
      .write.parquet(s"$dir/docs_id")
    Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs_id", "--output-path", s"$dir/shards",
      "--context-len", "8", "--n-shards", "2",
      "--bpe-vocab", s"$dir/model/vocab.json",
      "--bpe-merges", s"$dir/model/merges.txt")))
    assert(new java.io.File(s"$dir/shards").listFiles().nonEmpty)
    // vocab.json well-formedness: unique token keys (the id map is
    // parser-independent) and a contiguous 0..n-1 id space
    val entries = graft.functions.Bpe.parseVocab(s"$dir/model/vocab.json")
    assert(entries.map(_._1).distinct.length === entries.length)
    assert(entries.map(_._2).sorted === entries.indices.toList)
  }

  test("pack-tokens reads file: URI --bpe-vocab/--bpe-merges") {
    val dir = Staging.scratchDir("graft-bpe-uri")
    val docs = Seq((1L, "low lower newest widest"), (2L, "newest low"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    def uri(name: String) = {
      Files.copy(java.nio.file.Paths.get("data", name), dir.resolve(name))
      dir.resolve(name).toUri.toString
    }
    val (vocab, merges) = (uri("bpe_vocab.json"), uri("bpe_merges.txt"))
    assert(vocab.startsWith("file:") && merges.startsWith("file:"))
    val out = Jobs.runPackTokens(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/shards",
      "--context-len", "4", "--n-shards", "2",
      "--bpe-vocab", vocab, "--bpe-merges", merges)))
    // the shards carry exactly the ids of the model loaded from plain
    // paths
    val model = graft.functions.Bpe.load("data/bpe_vocab.json", "data/bpe_merges.txt")
    def ids(df: org.apache.spark.sql.DataFrame) = df.as[Seq[Int]].collect().toSeq.flatten.sorted
    assert(ids(gtok(out).select("token_ids")) ==
      ids(docs.select(graft.functions.Bpe.bpe_tokenize(col("text"), model))))
    assert(graft.functions.Bpe.parseVocab(vocab) ==
      graft.functions.Bpe.parseVocab("data/bpe_vocab.json"))
  }

  test("curate job: html extraction -> canonical-URL dedup -> gopher gate") {
    val dir = Staging.scratchDir("graft-curate").toString
    val good = (("the quick brown fox jumps over the lazy dog to be " +
      "sure of that and it will have done so with ease ") * 3).trim
    def page(body: String) =
      s"<html><head><script>t(1 < 2);</script></head><body><p>$body</p></body></html>"
    Seq(
      (1L, page(good), "HTTP://Ex.COM:80/a?utm_x=1&k=2"),
      (2L, page(good), "http://ex.com/a?k=2"),        // url-dup of 1
      (3L, page(good), "http://ex.com/b"),
      (4L, page("too short"), "http://ex.com/c"))     // fails the gate
      .toDF("doc_id", "text", "url")
      .write.parquet(s"$dir/docs")
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/kept",
      "--html", "true", "--url-col", "url")))
    val kept = spark.read.parquet(s"$dir/kept").orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // extraction ran before the gate: prose only, no markup
    kept.foreach { r =>
      val t = r.getString(1)
      assert(!t.contains("<") && !t.contains("t(1"))
      assert(t.startsWith("the quick brown fox"))
    }
    // audit mode: every row survives, per-rule columns ride along
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/audit",
      "--html", "true", "--keep-all", "true")))
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.count() === 4L)
    assert(audit.columns.contains("pass") &&
      audit.columns.contains("n_rules_failed"))
    assert(audit.filter(col("pass")).count() === 3L) // no URL dedup here
    // --line-rules: C4 pass runs before the gate; a lorem-ipsum doc
    // dies there even though its body would pass Gopher
    val sentences = (1 to 10).map(i =>
      s"Sentence number $i of the body keeps the quick brown fox busy " +
        "with the lazy dog to be sure of that and have it done.")
    Seq(
      (10L, sentences.mkString("\n")),
      (11L, (sentences :+ "Some Lorem Ipsum for flavor.").mkString("\n")))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs2")
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs2", "--output-path", s"$dir/kept2",
      "--line-rules", "true")))
    val kept2 = spark.read.parquet(s"$dir/kept2").collect()
    assert(kept2.map(_.getLong(0)).toSeq === Seq(10L))
    assert(kept2.head.getString(1).startsWith("Sentence number 1"))
  }

  test("curate job: blocklist, normalize and paragraph-dedup stages") {
    val dir = Staging.scratchDir("graft-curate2").toString
    val body = (("the quick brown fox jumps over the lazy dog to be " +
      "sure of that and it will have done so with ease ") * 3).trim
    val banner = "Subscribe to the newsletter for updates on the dog."
    // --blocklist: listed domain kills doc 3 (subdomain) before
    // anything else; --normalize: doc 1 carries a decomposed accent +
    // zero-width that must be gone from the output; --paragraph-dedup:
    // the shared banner survives only in doc 1.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "blocked.txt"),
      "banned.com\n".getBytes("UTF-8"))
    Seq(
      (1L, s"$body Café​.\n$banner", "http://ok.com/a"),
      (2L, s"$body two.\n$banner", "http://ok.com/b"),
      (3L, s"$body three.\n$banner", "http://a.b.Banned.COM/c"))
      .toDF("doc_id", "text", "url")
      .write.parquet(s"$dir/docs")
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/kept",
      "--url-col", "url", "--blocklist", s"$dir/blocked.txt",
      "--normalize", "true", "--paragraph-dedup", "true")))
    val kept = spark.read.parquet(s"$dir/kept")
      .orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val t1 = kept(0).getString(1)
    val t2 = kept(1).getString(1)
    // normalization: NFC-composed é, zero-width stripped — BEFORE the
    // paragraph fingerprints
    assert(t1.contains("Café.") && !t1.contains("​"))
    // paragraph dedup: banner kept only in the globally-first doc
    assert(t1.contains(banner) && !t2.contains(banner))
  }

  test("dedup-admit --near: near-dup lifecycle across two batches with persisted signatures") {
    val dir = Staging.scratchDir("graft-admit-near").toString
    val base = "the quick brown fox jumps over the lazy dog every morning"
    Seq((1L, base), (2L, base + " extraword"), (3L, "completely different words in this other document right here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/b1")
    Jobs.runDedupAdmit(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/b1", "--output-path", s"$dir/out1",
      "--state-path", s"$dir/state", "--near")))
    // batch-internal election: 2 is a near-dup of lower-id 1
    assert(spark.read.parquet(s"$dir/out1")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    Seq((10L, base + " indeed"), (11L, "a totally novel batch two document with its own fresh content"))
      .toDF("doc_id", "text").write.parquet(s"$dir/b2")
    Jobs.runDedupAdmit(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/b2", "--output-path", s"$dir/out2",
      "--state-path", s"$dir/state", "--near")))
    // 10 near-dups the ACCEPTED doc 1 through the persisted signature
    // artifact (never re-shingled); 11 is novel
    assert(spark.read.parquet(s"$dir/out2")
      .collect().map(_.getLong(0)).toSeq === Seq(11L))
    // state carries signatures for exactly the admitted docs
    assert(spark.read.parquet(s"$dir/state")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L, 11L))
  }

  test("curate --signals-out: the q153 sheet covers exactly the survivors") {
    val dir = Staging.scratchDir("graft-curate-signals").toString
    val longDoc = (("the quick brown fox jumps over the lazy dog and " +
      "then runs back home to rest for a while before dinner ") * 5).trim
    Seq((1L, longDoc), (2L, "tiny"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/kept",
      "--signals-out", s"$dir/signals")))
    val kept = spark.read.parquet(s"$dir/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sig = spark.read.parquet(s"$dir/signals")
    assert(sig.select("doc_id").collect().map(_.getLong(0)).toSet === kept)
    assert(Seq("quality", "pred_lang", "dup_ngram_ratio", "gopher_pass")
      .forall(sig.columns.contains))
    assert(sig.filter(col("gopher_pass")).count() === sig.count())
  }

  test("curate --weights-file: persisted DoReMi mixture gates curate without refitting") {
    val dir = Staging.scratchDir("graft-curate-mix").toString
    val body = (("the quick brown fox jumps over the lazy dog to be " +
      "sure of that and it will have done so with ease ") * 3).trim
    val docs = (1L to 60L).map { i =>
      val src = if (i % 2 == 0) "web" else "books"
      (i, s"$body marker$i", src)
    }.toDF("doc_id", "text", "source")
    docs.write.parquet(s"$dir/docs")
    // fit once, persist the artifact (the mix-weights job)
    val wf = Jobs.runMixWeights(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/w.tsv")))
    // deploy: curate consumes the artifact as its final stage
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/mixed",
      "--weights-file", wf)))
    val viaJob = spark.read.parquet(s"$dir/mixed")
      .select("doc_id").as[Long].collect().sorted
    // reference: the same curate WITHOUT the mixture, then the q172
    // in-plan apply over its survivors — fit-once/apply-later must be
    // indistinguishable from fitting inline
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/plain")))
    val survivors = spark.read.parquet(s"$dir/plain")
    val inPlan = graft.operators.Sampling.mixSample(survivors,
        col("doc_id"), col("source"),
        Jobs.mixShares(Jobs.loadMixWeights(spark, wf)))
      .select("doc_id").as[Long].collect().sorted
    assert(viaJob.nonEmpty && (viaJob sameElements inPlan))
    // the mixture is a SELECTION stage: output ⊆ gate survivors
    val plainIds = survivors.select("doc_id").as[Long].collect().toSet
    assert(viaJob.forall(plainIds.contains))
  }

  test("loadMixWeights validates the artifact at the parse site") {
    val dir = Staging.scratchDir("graft-mixval").toString
    def write(name: String, content: String): String = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
      p.toString
    }
    // duplicated domain line: would inflate the share sum while toMap
    // silently drops one entry — must fail naming the file
    val dup = write("dup.tsv",
      "web\t1\t0.5\t0.6\nweb\t1\t0.5\t0.4\n")
    val e1 = intercept[IllegalArgumentException](
      Jobs.loadMixWeights(spark, dup))
    assert(e1.getMessage.contains("duplicate domain") &&
      e1.getMessage.contains("dup.tsv"))
    // non-positive weight: fail at parse, naming file and line
    val neg = write("neg.tsv", "web\t1\t0.5\t0.6\nbooks\t1\t0.5\t-0.1\n")
    val e2 = intercept[IllegalArgumentException](
      Jobs.loadMixWeights(spark, neg))
    assert(e2.getMessage.contains("non-positive weight") &&
      e2.getMessage.contains("line 2"))
    // malformed field count still names the line
    val bad = write("bad.tsv", "web\t0.6\n")
    val e3 = intercept[IllegalArgumentException](
      Jobs.loadMixWeights(spark, bad))
    assert(e3.getMessage.contains("line 1"))
  }

  test("train-unigram: piece-table artifact matches the operator, scores round-trip") {
    val dir = Staging.scratchDir("graft-unigram").toString
    (1 to 20).map(_ => "shop shut shed").toDF("text")
      .write.parquet(s"$dir/docs")
    Jobs.runTrainUnigram(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/pieces.tsv",
      "--max-piece-len", "3", "--min-count", "5")))
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/pieces.tsv")), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSeq
    val parsed = lines.map { l =>
      val Array(p, s, u) = l.split("\t")
      (p, s.toDouble, u.toLong)
    }
    val expect = graft.operators.UnigramLm.trainUnigram(
        spark.read.parquet(s"$dir/docs"), "text",
        maxPieceLen = 3, minCount = 5, maxVocab = 1000, iters = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(parsed.toSet === expect.toSet)
    // artifact order is (score desc, piece asc) — deterministic
    assert(parsed === parsed.sortBy(t => (-t._2, t._1)))
  }

  test("train-classifier artifact round-trips and gates curate") {
    val dir = Staging.scratchDir("graft-clf").toString
    val goodBody = (("the quick brown fox jumps over the lazy dog to " +
      "be sure of that and it will have done so with ease ") * 3).trim
    val badBody = (("the omega psi of the chi and delta to sigma in " +
      "theta is kappa epsilon and the zeta eta of iota nu xi tau ") * 3).trim
    Seq((1L, goodBody, true), (2L, badBody, false),
      (3L, goodBody + " indeed.", true), (4L, badBody + " more.", false))
      .toDF("doc_id", "text", "label")
      .write.parquet(s"$dir/docs")
    Jobs.runTrainClassifier(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/weights.txt",
      "--label-col", "label")))
    val w = Jobs.loadClassifierWeights(spark, s"$dir/weights.txt")
    assert(w.length === 17)
    // shortest-repr round trip is exact: training again from the
    // loaded artifact's dims scores identically
    val scores = graft.operators.Classifier.scoreDocs(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.5 && scores(2L) < 0.5)
    // curate --classifier keeps only the docs the learned filter likes
    Jobs.runCurate(spark, Jobs.parseArgs(Seq(
      "--input-path", s"$dir/docs", "--output-path", s"$dir/kept",
      "--classifier", s"$dir/weights.txt")))
    val kept = spark.read.parquet(s"$dir/kept")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L))
  }

  test("catalog T/X/Y-name indirection normalizes staged coordinates") {
    import graft.etl.GridmetPipeline
    val g = Seq((Timestamp.valueOf("2021-01-01 00:00:00"), 40.0, -100.0, 1.0))
      .toDF("day", "latitude", "longitude", "pr")
    // two records for one id: the lookup (shared with stage-netcdf)
    // picks the same one whatever the row order
    val recs = Seq(("gridmet", "time", "lon", "lat"), ("other", "t", "x", "y"),
      ("gridmet", "day", "longitude", "latitude"))
    Seq(recs, recs.reverse).foreach { rs =>
      val cat = rs.toDF("id", "T_name", "X_name", "Y_name").repartition(3)
      assert(GridmetPipeline.catalogCoords(cat, "gridmet") ==
        (("day", "longitude", "latitude")))
      val out = GridmetPipeline.normalizeCoordsFromCatalog(g, cat, "gridmet")
      assert(out.columns.toSet == Set("time", "lat", "lon", "pr"))
      // already-canonical names pass through untouched
      val same = GridmetPipeline.normalizeCoords(out, "time", "lon", "lat")
      assert(same.columns.toSet == out.columns.toSet)
    }
    val e = intercept[IllegalArgumentException](GridmetPipeline.catalogCoords(
      recs.toDF("id", "T_name", "X_name", "Y_name"), "absent"))
    assert(e.getMessage.contains("id=absent"))
  }

  /** A gridMET-shaped 3-D file: dims (day, lat, lon) + 1-D coords,
    * tmmx/pr data vars, the first day from 2021-01-01, a fill-value
    * hole in tmmx at (t=0, j=0, i=2). */
  private def writeGridmetNc(path: String, nT: Int, nY: Int, nX: Int): Unit = {
    import graft.sinks.NetcdfClassic._
    import graft.sinks.NetcdfWholeFile._
    val fill = graft.model.Model.FillValue
    def cube(f: (Int, Int, Int) => Double): Array[Double] =
      (for { t <- 0 until nT; j <- 0 until nY; i <- 0 until nX }
        yield f(t, j, i)).toArray
    write(path, Nc(
      dims = Seq(Dim("day", nT), Dim("lat", nY), Dim("lon", nX)),
      gatts = Seq(Att("Conventions", AttText("CF-1.8"))),
      vars = Seq(
        Var("day", Seq(0), Seq(Att("units", AttText("days since 1900-01-01 00:00:00"))),
          LongData(Array.tabulate(nT)(44195L + _))), // 2021-01-01 on
        Var("lat", Seq(1), Nil, DoubleData(Array.tabulate(nY)(40.0 + _))),
        Var("lon", Seq(2), Nil, DoubleData(Array.tabulate(nX)(-100.0 + _ * 0.1))),
        Var("tmmx", Seq(0, 1, 2),
          Seq(Att("_FillValue", AttVal(fill))),
          DoubleData(cube((t, j, i) =>
            if (t == 0 && j == 0 && i == 2) fill else 285.0 + t + j + i))),
        Var("pr", Seq(0, 1, 2), Nil, DoubleData(cube((t, j, i) => t + 0.5))))))
  }

  test("stage-netcdf: gridded .nc → staged parquet → gridmet → contract (full lifecycle)") {
    val dir = Staging.scratchDir("graft-stage").toString
    val (nT, nY, nX) = (2, 2, 3)
    val ncPath = s"$dir/gridmet_day.nc"
    writeGridmetNc(ncPath, nT, nY, nX)
    // stage it
    val staged = Jobs.runStageNetcdf(spark, Jobs.parseArgs(Seq(
      "--nc-file", ncPath, "--output-path", s"$dir/staged")))
    val grid = spark.read.parquet(staged)
    assert(grid.columns.toSet ==
      Set("time", "j", "i", "lat", "lon", "tmmx", "pr"))
    assert(grid.count() == nT * nY * nX)
    assert(grid.filter($"tmmx".isNull).count() == 1) // the fill hole
    assert(grid.filter($"j" === 1 && $"i" === 1)
      .select($"lat", $"lon").distinct()
      .as[(Double, Double)].head() == ((41.0, -99.9)))
    // and the staged grid drives the pipeline end-to-end
    val weights = Seq((1L, 0, 0, 0.5), (1L, 1, 0, 0.5))
      .toDF("fid", "i", "j", "wght")
    val features = Seq((1L, 40.0, -99.95, -101.0, 39.0, -99.0, 42.0))
      .toDF("fid", "lat", "lon", "minx", "miny", "maxx", "maxy")
    val out = graft.etl.GridmetPipeline.gridmet(
      grid, weights, features,
      vars = Seq("tmmx", "pr"), start = "2021-01-01", end = "2021-01-02")
    // day 0: cells (i=0,j=0)=285, (i=1,j=0)=286 → weighted mean 285.5 K
    val tmax = out.filter($"time" === Timestamp.valueOf("2021-01-01 00:00:00"))
      .select($"tmax").as[Double].head()
    assert(approx(tmax, 285.5 - 273.15))
  }

  test("stage-netcdf: a file: URI stages through BatchScan netcdf-classic") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Staging.scratchDir("graft-stage-uri")
    // 3 days of 150 × 200 cells: 90,000 rows, two time-range splits at
    // the scan's default of 65,536 rows per partition
    val nc = dir.resolve("gridmet_day.nc")
    writeGridmetNc(nc.toString, 3, 150, 200)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val staged = try Jobs.runStageNetcdf(spark, Jobs.parseArgs(Seq(
        "--nc-file", nc.toUri.toString, "--output-path", dir.resolve("staged").toString)))
      finally {
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(nc.toUri.toString.startsWith("file:"))
    val write = plans.toArray.map(_.toString).filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(write.length == 1, plans)
    assert(write.head.contains("BatchScan netcdf-classic"), write.head)
    assert(!write.head.contains("LocalTableScan") && !write.head.contains("ExistingRDD"), write.head)
    val grid = spark.read.parquet(staged)
    assert(grid.inputFiles.length == 2)
    assert(grid.count() == 3 * 150 * 200)
    assert(grid.filter($"tmmx".isNull).count() == 1)
  }

  /** A two-member cfsv2 grid, one feature, its weights and a PRMS
    * parameter file under `dir`; the args that name them, except
    * `--model-param-file`. */
  private def cfsv2Inputs(dir: String): Seq[String] = {
    val t1 = Timestamp.valueOf("2021-02-01 00:00:00")
    (for { e <- 0 to 1; i <- 0 to 1 } yield
      (t1, e, 0, i, 40.0, -100.0 + i, 285.0 + e, 275.0 + e, 1.0, 0.008))
      .toDF("time", "ens", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "sph")
      .write.parquet(s"$dir/grid")
    Seq((1L, 40.0, -99.5, -101.0, 39.0, -99.0, 41.0))
      .toDF("nhru_v1_1", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .write.parquet(s"$dir/feats")
    Files.writeString(java.nio.file.Paths.get(dir, "w.csv"),
      "nhru_v1_1,i,j,wght\n1,0,0,1.0\n")
    Files.writeString(java.nio.file.Paths.get(dir, "params"),
      "hru_elev\nx\nnhru\n1\n2\n150.0\n####\n")
    Seq("--grid-path", s"$dir/grid", "--target-file", s"$dir/feats",
      "--weights-file", s"$dir/w.csv", "--fid", "nhru_v1_1")
  }

  test("cfsv2-etl method 2: ens-partitioned ensemble output") {
    val dir = Staging.scratchDir("graft-job2").toString
    val a = Jobs.parseArgs(cfsv2Inputs(dir) ++ Seq(
      "--model-param-file", s"$dir/params",
      "--method", "2", "--output-path", s"$dir/out"))
    val path = Jobs.runCfsv2(spark, a)
    assert(path.endsWith("2021-02-01_converted"))
    val out = spark.read.parquet(path)
    assert(out.select("ens").distinct().count() == 2)
    assert(out.columns.contains("humidity"))
    // partitionBy("ens") produced the ensemble directory layout (K4)
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("ens=")))
  }

  test("cfsv2-etl reads a file: URI --model-param-file") {
    val dir = Staging.scratchDir("graft-job-param-uri")
    val params = dir.resolve("params").toUri.toString
    assert(params.startsWith("file:"))
    val path = Jobs.runCfsv2(spark, Jobs.parseArgs(cfsv2Inputs(dir.toString) ++ Seq(
      "--model-param-file", params, "--output-path", s"$dir/out")))
    val out = spark.read.parquet(path)
    assert(out.count() == 1 && out.filter($"humidity".isNotNull).count() == 1)
  }

  test("gridmet-etl and cfsv2-etl release what they cached, and only that") {
    val dir = Staging.scratchDir("graft-job-cache").toString
    val t1 = Timestamp.valueOf("2021-02-01 00:00:00")
    (for { i <- 0 to 1; j <- 0 to 1 } yield
      (t1, j, i, 40.0 + j, -100.0 + i, 285.0 + i, 275.0 + i, 1.0, 80.0, 40.0, 3.0))
      .toDF("time", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "rmax", "rmin", "vs")
      .write.parquet(s"$dir/grid")
    (for { e <- 0 to 1; i <- 0 to 1 } yield
      (t1, e, 0, i, 40.0, -100.0 + i, 285.0 + e, 275.0 + e, 1.0, 0.008))
      .toDF("time", "ens", "j", "i", "lat", "lon", "tmmx", "tmmn", "pr", "sph")
      .write.parquet(s"$dir/ens_grid")
    Seq((1L, 40.0, -99.5, -101.0, 39.0, -99.0, 41.0))
      .toDF("nhru_v1_1", "lat", "lon", "minx", "miny", "maxx", "maxy")
      .write.parquet(s"$dir/feats")
    Files.writeString(java.nio.file.Paths.get(dir, "w.csv"),
      "nhru_v1_1,i,j,wght\n1,0,0,1.0\n")
    Files.writeString(java.nio.file.Paths.get(dir, "params"),
      "hru_elev\nx\nnhru\n1\n2\n150.0\n####\n")
    val common = Seq("--target-file", s"$dir/feats", "--weights-file", s"$dir/w.csv",
      "--fid", "nhru_v1_1", "--output-path", s"$dir/out")
    // a plan the caller cached before the jobs ran (the job reads the
    // same grid) is the caller's, and stays cached
    val callers = spark.read.parquet(s"$dir/grid").persist()
    callers.count()
    // a cached relation, once an action read it, is a persistent RDD
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    val before = cached
    Jobs.runGridmet(spark, Jobs.parseArgs(Seq("--start-date", "2021-02-01",
      "--end-date", "2021-02-01", "--grid-path", s"$dir/grid") ++ common))
    // the fill path also caches the dense series it fills
    Jobs.runGridmet(spark, Jobs.parseArgs(Seq("--start-date", "2021-02-01",
      "--end-date", "2021-02-01", "--grid-path", s"$dir/grid",
      "--fill-missing", "--genmap", "--file-prefix", "filled_") ++ common))
    for (m <- Seq("1", "2"))
      Jobs.runCfsv2(spark, Jobs.parseArgs(Seq("--grid-path", s"$dir/ens_grid",
        "--model-param-file", s"$dir/params", "--method", m,
        "--file-prefix", s"m${m}_") ++ common))
    assert(cached == before)
    assert(callers.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    callers.unpersist()
  }

  test("daily-etl job: gated incremental cycles over a day-file drop-box (the Gridmet_current loop)") {
    import graft.operators.WeightedMean
    val dir = Staging.scratchDir("graft-daily-job").toString
    def plane(d: Int) = Seq((0, 0), (0, 1), (1, 0), (1, 1)).toDF("i", "j")
      .select(lit(f"2021-07-$d%02d").cast("date").as("time"), $"i", $"j",
        (lit(d * 10.0) + $"i" * 2 + $"j").as("pr"))
    (1 to 3).foreach { d =>
      plane(d).coalesce(1).write.parquet(s"$dir/drop/part=$d")
      new java.io.File(s"$dir/drop/part=$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + d * 60000L))
    }
    val w = Seq((7L, 0, 0, 0.5), (7L, 0, 1, 0.5), (8L, 1, 0, 1.0))
      .toDF("fid", "i", "j", "wght")
    // weights CSV in the Sources.weightsCsv shape (fidCol,i,j,wght)
    val wcsv = s"$dir/w.csv"
    val lines = "nhru_v1_1,i,j,wght" +: w.collect().map(r =>
      s"${r.getLong(0)},${r.getInt(1)},${r.getInt(2)},${r.getDouble(3)}")
    java.nio.file.Files.write(java.nio.file.Paths.get(wcsv),
      lines.mkString("\n").getBytes)
    def run(publishedThrough: Option[String]): Either[Throwable, String] = {
      val args = Seq("--grid-stream-path", s"$dir/drop",
        "--weights-file", wcsv, "--fid", "nhru_v1_1",
        "--output-path", s"$dir/out", "--checkpoint-path", s"$dir/ckpt") ++
        publishedThrough.toSeq.flatMap(p => Seq("--published-through", p))
      try Right(Jobs.runDailyEtl(spark, Jobs.parseArgs(args)))
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Left(e) }
    }
    // cycle 1: upstream published through day 2 — day 3 aborts the run
    val r1 = run(Some("2021-07-02"))
    assert(r1.isLeft && r1.swap.toOption.get.toString.contains("availability gate"))
    val mid = spark.read.parquet(s"$dir/out")
    assert(mid.select(date_format($"time", "yyyy-MM-dd")).distinct()
      .as[String].collect().sorted.toSeq === Seq("2021-07-01", "2021-07-02"))
    // cycle 2 (next cron tick, upstream caught up): resumes at day 3
    assert(run(Some("2021-07-03")).isRight)
    // the drop-box's part=N directories are Hive-partition bookkeeping:
    // variable auto-inference must NOT turn them into a spurious
    // weighted-mean column (round-12 advice — the contract table's
    // columns are exactly coords + real grid variables)
    assert(spark.read.parquet(s"$dir/out").columns.sorted.toSeq ===
      Seq("__day", "fid", "pr", "time"))
    val all = spark.read.parquet(s"$dir/out").drop("__day")
      .select($"fid", $"time", $"pr")
    val batch = WeightedMean(spark.read.parquet(s"$dir/drop"),
      w, Seq("pr")).select($"fid", $"time", $"pr")
    assert(rows(all) == rows(batch))
    assert(all.count() === 6L) // 2 features × 3 days, no day re-appended
  }

  test("--weight-join parses every strategy and rejects junk") {
    import graft.operators.WeightJoin
    assert(Jobs.parseWeightJoin("auto") === WeightJoin.Auto)
    assert(Jobs.parseWeightJoin("broadcast") === WeightJoin.Broadcast)
    assert(Jobs.parseWeightJoin("sort-merge") === WeightJoin.SortMerge)
    assert(Jobs.parseWeightJoin("tiled:64x24") === WeightJoin.SortMergeTiled(64, 24))
    intercept[RuntimeException](Jobs.parseWeightJoin("tiled:64"))
    intercept[RuntimeException](Jobs.parseWeightJoin("hash"))
  }

  test("daily-etl with --weight-join tiled:WxH sets the deployment confs (via WeightedMean, the one place)") {
    val dir = Staging.scratchDir("graft-daily-tiled").toString
    val plane = Seq((0, 0), (0, 1), (1, 0), (1, 1)).toDF("i", "j")
      .select(lit("2021-08-01").cast("date").as("time"), $"i", $"j",
        (lit(5.0) + $"i" * 2 + $"j").as("pr"))
    plane.coalesce(1).write.parquet(s"$dir/drop")
    val wcsv = s"$dir/w.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(wcsv),
      "nhru_v1_1,i,j,wght\n7,0,0,0.5\n7,0,1,0.5\n8,1,0,1.0".getBytes)
    val keys = Seq("spark.sql.requireAllClusterKeysForCoPartition",
      "spark.sql.legacy.bucketedTableScan.outputOrdering")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.unset)
      Jobs.runDailyEtl(spark, Jobs.parseArgs(Seq(
        "--grid-stream-path", s"$dir/drop", "--weights-file", wcsv,
        "--fid", "nhru_v1_1", "--output-path", s"$dir/out",
        "--checkpoint-path", s"$dir/ckpt", "--weight-join", "tiled:2x2")))
      // the tiled strategy engaged ⇒ WeightedMean set both confs on the
      // session — the CLI operator needs no extra conf juggling (the
      // cluster-wide equivalent is documented in SCALE.md)
      assert(spark.conf
        .get("spark.sql.requireAllClusterKeysForCoPartition") === "false")
      assert(spark.conf
        .get("spark.sql.legacy.bucketedTableScan.outputOrdering") === "true")
      // and the cadence's output is the strategy-independent aggregate
      val out = spark.read.parquet(s"$dir/out").drop("__day")
        .select($"fid", $"pr").as[(Long, Double)].collect().toSet
      assert(out === Set((7L, 5.5), (8L, 7.0)))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("availability gate: stale variable blocks the run") {
    // 2021-06-02 01:00 UTC = 2021-06-01 18:00 UTC-7 → yesterday = 05-31
    val now = ZonedDateTime.of(2021, 6, 2, 1, 0, 0, 0, ZoneOffset.UTC)
    assert(AvailabilityGate.yesterday(now) == LocalDate.parse("2021-05-31"))
    val fresh = Map("tmmx" -> "2021-05-31", "pr" -> "2021-06-01")
      .withDefaultValue("2021-05-31")
    assert(AvailabilityGate.isCurrent(now)(v => LocalDate.parse(fresh(v))))
    val stale = fresh.updated("vs", "2021-05-30")
    assert(!AvailabilityGate.isCurrent(now)(v => LocalDate.parse(stale(v))))
  }
}
