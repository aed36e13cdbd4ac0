package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.GridmetPipeline
import graft.sources.Sources
import graft.sinks.Sinks

/** CLI argument surface mirroring the reference (`cli.py:27-239`):
  * gridmet-etl and cfsv2-etl subcommands with the same parameter names,
  * retargeted at staged-parquet inputs (S1 staging is outside the data
  * plane, SURVEY.md §7.3).
  *
  * COMPRESSED `.nc` OUTPUT (K2, WONTFIX — COVERAGE.md §2.7): the
  * emitted NetCDF is classic CDF-5, which has no in-format
  * compression (the reference's `zlib=True` lives in an HDF5-backed
  * NetCDF-4 container). Consumers needing a deflated file run the
  * public post-step over the output:
  * {{{ nccopy -d2 out.nc out_deflated.nc }}}
  * The header contract (gm_header.md, golden-tested) is
  * container-independent; the engine's compressed data plane is
  * parquet-zstd (`Sinks.writeContract`).
  *
  * Usage:
  *   graft.cli.Jobs gridmet-etl --start-date 2021-01-01 --end-date ...
  *     --grid-path g.parquet --target-file feats.parquet
  *     --weights-file w.csv --fid nhru_v1_1 --output-path out/
  *     [--file-prefix p_] [--partial] [--fill-missing]
  *     [--weight-join auto|broadcast|sort-merge|tiled:WxH]
  *   graft.cli.Jobs cfsv2-etl ... --method 1|2 --model-param-file params
  *   graft.cli.Jobs stage-netcdf --nc-file day.nc --output-path g.parquet
  *     [--catalog-path cat.parquet --data-id gridmet
  *       | --t-name day --x-name lon --y-name lat]
  *   graft.cli.Jobs daily-etl --grid-stream-path drop/ --weights-file
  *     w.csv --fid nhru_v1_1 --output-path out/ --checkpoint-path ckpt/
  *     [--published-through yyyy-mm-dd] [--vars a,b,c] [--partial]
  *     [--weight-join auto|broadcast|sort-merge|tiled:WxH]
  *   graft.cli.Jobs select-corpus --input-path docs/ --output-path out/
  *     [--budget N] [--splits train=80,val=10,test=10]
  *     [--clusters labels/] [--id-col doc_id --text-col text]
  *     [--weights-file w.tsv [--source-col source]]  (mix-weights TSV)
  *   graft.cli.Jobs train-bpe --input-path docs/ --output-path model/
  *     [--n-merges 256] [--text-col text]
  *   graft.cli.Jobs pack-tokens --input-path docs/ --output-path out/
  *     [--context-len 512] [--n-shards 8] [--bpe-vocab v --bpe-merges m]
  *     [--shuffle-seed S --mix src0=0.5,src1=0.25
  *       [--epochs N | --anneal-quality θ] [--boundaries-out idx/]]
  *     [--span-corrupt-out spans/ [--span-seed S] [--span-block 16]
  *       [--span-len 5] [--span-one-in 2]]
  *     [--fim-pct P [--fim-seed S]]
  *   graft.cli.Jobs pack-sft --input-path convs/ --output-path out/
  *     [--id-col id] [--prompt-col prompt] [--response-col response]
  *     [--context-len 512] [--n-shards 8]
  *   graft.cli.Jobs pack-dpo --input-path pairs/ --output-path out/
  *     [--id-col id] [--prompt-col prompt] [--chosen-col chosen]
  *     [--rejected-col rejected] [--context-len 512] [--n-shards 8]
  *   graft.cli.Jobs mix-weights --input-path docs/ --output-path w.tsv
  *     [--id-col doc_id] [--text-col text] [--source-col source]
  *     [--rounds 8] [--eta 0.5] [--smoothing 0.1]
  *   graft.cli.Jobs train-classifier --input-path docs/ --label-col c
  *     --output-path weights.txt [--dim 16] [--iters 8]
  *   graft.cli.Jobs train-unigram --input-path docs/ --output-path p.tsv
  *     [--max-piece-len 4] [--min-count 2] [--max-vocab 1000] [--iters 2]
  *   graft.cli.Jobs dedup-admit --input-path batch/ --output-path out/
  *     --state-path state/ [--near [--threshold 0.8]]
  *   graft.cli.Jobs curate --input-path docs/ --output-path out/
  *     [--blocklist f --url-col u] [--html true] [--normalize true]
  *     [--line-rules true] [--paragraph-dedup true]
  *     [--classifier weights.txt [--min-score 0.5]]
  *     [--keep-all true] [--signals-out sheet/]
  *
  * Each subcommand takes only the keys its job reads ([[commands]]);
  * `main` rejects any other before it starts Spark.
  *
  * Deployment confs (100× clusters; see SCALE.md's deployment-conf
  * table): the tiled weight-join strategy — requested via
  * `--weight-join tiled:WxH` or auto-resolved from a
  * `Staging.stageGridTiled` grid — needs
  * `spark.sql.requireAllClusterKeysForCoPartition=false` and
  * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`;
  * WeightedMean sets both on the session when the strategy engages
  * (JobsSpec pins it), and a cluster sets the same pair in
  * spark-defaults so every session agrees.
  */
object Jobs {

  final case class Args(m: Map[String, String], flags: Set[String]) {
    def apply(k: String): String =
      m.getOrElse(k, sys.error(s"missing required --$k"))
    def get(k: String): Option[String] = m.get(k)
    def has(k: String): Boolean = flags.contains(k)
  }

  /** cyclopts-style parse: `--key value` pairs + boolean flags. A value
    * key followed by another `--` token fails instead of taking that
    * token as its value: a misspelled flag would otherwise swallow the
    * next one and silently switch both off. */
  def parseArgs(argv: Seq[String]): Args = {
    val boolFlags = Set("partial", "fill-missing", "verbose", "genmap", "near")
    @annotation.tailrec
    def loop(rest: List[String], m: Map[String, String], f: Set[String]): Args =
      rest match {
        case Nil => Args(m, f)
        case k :: tail if k.startsWith("--") =>
          val key = k.drop(2)
          if (boolFlags(key)) loop(tail, m, f + key)
          else tail match {
            case v :: t2 if !v.startsWith("--") => loop(t2, m + (key -> v), f)
            case _ => sys.error(s"missing value for --$key")
          }
        case other :: _ => sys.error(s"unexpected argument: $other")
      }
    loop(argv.toList, Map.empty, Set.empty)
  }

  /** Date check mirroring `cli.py:14-19`. */
  def validDate(s: String): String = {
    java.time.LocalDate.parse(s) // throws on bad format
    s
  }

  private val TiledSpec = "tiled:(\\d+)x(\\d+)".r

  /** Parse `--weight-join`: `auto` (default — sizes the weight table
    * against the broadcast threshold, and resolves to the tiled
    * sort-merge when the grid is tile-staged), `broadcast`,
    * `sort-merge`, or `tiled:WxH` (explicit tile geometry, for grids
    * not staged through `Staging.stageGridTiled`). Requesting or
    * auto-resolving a tiled strategy engages the two session-level
    * deployment confs — set by WeightedMean itself, in one place:
    * `spark.sql.requireAllClusterKeysForCoPartition=false` (accept the
    * grid's tile-bucket layout as a join-key SUBSET) and
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (consume
    * the staged per-bucket sort). A cluster deployment sets the same
    * pair cluster-wide — see SCALE.md's deployment-conf table. */
  def parseWeightJoin(s: String): graft.operators.WeightJoin = s match {
    case "auto" => graft.operators.WeightJoin.Auto
    case "broadcast" => graft.operators.WeightJoin.Broadcast
    case "sort-merge" => graft.operators.WeightJoin.SortMerge
    case TiledSpec(w, h) =>
      graft.operators.WeightJoin.SortMergeTiled(w.toInt, h.toInt)
    case other => sys.error(
      s"bad --weight-join '$other' (want auto|broadcast|sort-merge|tiled:WxH)")
  }

  /** Resolve `--weight-join` and, when a tiled strategy is explicitly
    * requested, engage the deployment confs on THIS session up front:
    * a streaming job's foreachBatch plans inside a session clone that
    * inherits conf at stream start, so WeightedMean's own in-batch
    * engagement would reach only the clone. */
  private def weightJoinArg(
      spark: SparkSession, a: Args): graft.operators.WeightJoin = {
    val s = a.get("weight-join").map(parseWeightJoin)
      .getOrElse(graft.operators.WeightJoin.Auto)
    s match {
      case _: graft.operators.WeightJoin.SortMergeTiled =>
        graft.operators.WeightedMean.engageTiledConfs(spark)
      case _ => ()
    }
    s
  }

  /** `local[*]` with 32 shuffle partitions unless spark-submit's
    * `--master`/`--conf` say otherwise; log4j keeps its own level. */
  private def session(): SparkSession =
    graft.Sessions.create("local[*]", 32, logLevel = None)

  private def readFeatures(spark: SparkSession, path: String, fid: String): DataFrame = {
    // suffix dispatch mirrors the reference (`etl.py:563`, `etl.py:806`):
    // a `.shp` target parses via the public-spec shapefile reader (bbox +
    // centroid derived in-engine from the rings), anything else is the
    // pre-staged parquet feature table
    val raw =
      if (path.toLowerCase.endsWith(".shp"))
        Sources.shapefileFeatures(spark, path, fid)
      else spark.read.parquet(path)
    if (raw.columns.contains("fid")) raw else raw.withColumnRenamed(fid, "fid")
  }

  def runGridmet(spark: SparkSession, a: Args): String = {
    GridmetPipeline.releasingCaches {
      val start = validDate(a("start-date")); val end = validDate(a("end-date"))
      val grid = spark.read.parquet(a("grid-path"))
      val weights = Sources.weightsCsv(spark, a("weights-file"), a("fid"))
      val features = readFeatures(spark, a("target-file"), a("fid"))
      val filled = a.has("fill-missing")
      // genmap protocol (`helper.py:13-14,43,77-79`): --genmap derives the
      // NN mapping and persists it to --mapping-file (default name as the
      // reference's mfile); without --genmap an existing --mapping-file is
      // consumed instead of recomputing the mapping.
      val mappingPath = s"${a("output-path")}/" +
        a.get("mapping-file").getOrElse("fill_missing_nearest.csv")
      val given =
        if (filled && !a.has("genmap") && a.get("mapping-file").isDefined)
          Some(Sources.fillMappingCsv(spark, mappingPath))
        else None
      // --genmap: the mapping is derived on the driver while the series
      // is built, and that one local table both fills the series and is
      // written here — the CSV is never read back
      val run = GridmetPipeline.gridmetWithMapping(grid, weights, features,
        start = start, end = end,
        partial = a.has("partial"), fillMissing = filled,
        mapping = given, strategy = weightJoinArg(spark, a))
      if (a.has("genmap")) run.derivedMapping.foreach(Sinks.writeMappingCsv(_, mappingPath))
      val out = run.series
      val name = a.get("file-prefix").getOrElse("") + Sinks.outputName(start, filled)
      val path = s"${a("output-path")}/$name"
      Sinks.writeContract(Sinks.ordered(out, "time", "nhru"), path)
      path
    }
  }

  def runCfsv2(spark: SparkSession, a: Args): String = {
    GridmetPipeline.releasingCaches {
      val grid = spark.read.parquet(a("grid-path"))
      val weights = Sources.weightsCsv(spark, a("weights-file"), a("fid"))
      val features = readFeatures(spark, a("target-file"), a("fid"))
      val elev = Sources.prmsElevations(spark, a("model-param-file"))
      // S9/A5 — date range probed from the grid's own time coordinate
      val start = grid.agg(min(col("time"))).first().get(0).toString.take(10)
      val method = a.get("method").getOrElse("1").toInt
      val (out, parts, name) = method match {
        case 1 =>
          (GridmetPipeline.cfsv2Median(grid, weights, features, elev),
            Nil, Sinks.outputName(start, filled = false, median = true))
        case 2 =>
          (GridmetPipeline.cfsv2Ensemble(grid, weights, features, elev),
            Seq("ens"), Sinks.outputName(start, filled = false))
        case other => sys.error(s"--method must be 1 or 2, got $other")
      }
      val path = s"${a("output-path")}/${a.get("file-prefix").getOrElse("")}$name"
      Sinks.writeContract(out, path, partitionBy = parts)
      path
    }
  }

  /** S1 staging: gridded NetCDF file → long-form staged parquet, with
    * the coordinate names taken from the catalog record when given
    * (`--catalog-path` + `--data-id`) or from explicit
    * `--t-name/--x-name/--y-name` args (gridMET defaults otherwise).
    * The `netcdf-classic` scan reads the file on executors, split by
    * time range; nothing is materialized on the driver. */
  def runStageNetcdf(spark: SparkSession, a: Args): String = {
    val (t, x, y) = a.get("catalog-path") match {
      case Some(cat) =>
        GridmetPipeline.catalogCoords(Sources.catalogParquet(spark, cat), a("data-id"))
      case None => (a.get("t-name").getOrElse("day"),
        a.get("x-name").getOrElse("lon"), a.get("y-name").getOrElse("lat"))
    }
    val grid = spark.read.format("netcdf-classic")
      .option("tName", t).option("yName", y).option("xName", x)
      .load(a("nc-file"))
    val path = a("output-path")
    grid.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    path
  }

  /** Incremental-dedup admission (the daily-ingestion lifecycle step):
    * admit the `--input-path` parquet batch against the fingerprint
    * table persisted at `--state-path` (absent = bootstrap), write the
    * admitted rows to `--output-path`, and append their fingerprints
    * to the state so the next run admits against the grown table.
    * Cost per run ∝ batch + a 16-byte-per-accepted-doc state scan —
    * the accepted corpus itself is never re-read. */
  def runDedupAdmit(spark: SparkSession, a: Args): String = {
    val incoming = spark.read.parquet(a("input-path"))
    val out = a("output-path")
    val idCol = a.get("id-col").getOrElse("doc_id")
    val textCol = a.get("text-col").getOrElse("text")
    val persist: org.apache.spark.sql.DataFrame => Unit = _.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    // output write rides INSIDE the admit call, before the state
    // append — a crash between the two re-runs cleanly (Overwrite),
    // whereas writing after the append could permanently drop a batch.
    // `--near [--threshold J]` switches to the NEAR-dup lifecycle
    // (q144): state = the nearSignatures artifact, re-rendered pages
    // die on verified Jaccard >= J instead of byte identity.
    if (a.has("near"))
      graft.operators.Dedup.admitIncrementNear(
        a("state-path"), incoming, idCol, textCol,
        threshold = a.get("threshold").getOrElse("0.8").toDouble,
        persistAdmitted = persist)
    else
      graft.operators.Dedup.admitIncrement(
        a("state-path"), incoming, idCol, textCol,
        persistAdmitted = persist)
    out
  }

  /** The reference's production loop (`Gridmet_current.py:24-48`) as a
    * durable incremental job: staged day-files in `--grid-stream-path`
    * (a drop-box directory) are ETL'd exactly once each through
    * [[graft.etl.IncrementalEtl.dailyWeightedMeanStream]], gated per
    * day and checkpointed at `--checkpoint-path` so re-invocations (the
    * scheduler's daily cron) resume at the first unprocessed day.
    *
    * Gate: `--published-through yyyy-mm-dd` injects the upstream
    * availability probe's RESULT (the HTTP+XML probe itself is
    * driver-side and environment-injected — S8, AvailabilityGate); a
    * staged day later than it aborts the cycle nonzero, exactly the
    * reference's scheduler contract, and the next invocation retries
    * from that day. Omit the flag to process everything staged.
    * Variables default to every non-coordinate grid column; override
    * with `--vars a,b,c`. `--partial` = masked mean, as in gridmet-etl. */
  def runDailyEtl(spark: SparkSession, a: Args): String = {
    val weights = Sources.weightsCsv(spark, a("weights-file"), a("fid"))
    val gridDir = a("grid-stream-path")
    val coords = Set("time", "i", "j", "lat", "lon", "ens")
    val vars = a.get("vars") match {
      case Some(v) => v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        // Hive-style partition directories in the drop-box (part=N
        // layouts) surface as DIRECTORY-inferred columns on the
        // directory read but are absent from the files themselves —
        // they are staging bookkeeping, not grid variables, and must
        // not get spurious weighted-mean columns (round-12 advice).
        // One data file's schema is the variable universe; --vars
        // overrides when files disagree.
        val dirPath = new org.apache.hadoop.fs.Path(gridDir)
        // the drop-box's OWN filesystem, not the default one — a
        // deployment's drop-box is routinely on object storage while
        // fs.defaultFS stays hdfs/local
        val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = fs.listFiles(dirPath, true)
        var one: Option[String] = None
        while (one.isEmpty && files.hasNext) {
          val f = files.next()
          val n = f.getPath.getName
          if (f.isFile && n.endsWith(".parquet") &&
              !n.startsWith("_") && !n.startsWith("."))
            one = Some(f.getPath.toString)
        }
        val fileFields = one.map(p =>
            spark.read.parquet(p).schema.fieldNames.toSet)
          .getOrElse(throw new IllegalArgumentException(
            s"no parquet data files under $gridDir to infer --vars from"))
        spark.read.parquet(gridDir).schema.fieldNames.toSeq
          .filter(fileFields).filterNot(coords)
    }
    val gate: String => Boolean = a.get("published-through") match {
      case Some(p) =>
        val through = java.time.LocalDate.parse(validDate(p))
        day => !java.time.LocalDate.parse(day).isAfter(through)
      case None => _ => true
    }
    val out = a("output-path")
    val q = graft.etl.IncrementalEtl.dailyWeightedMeanStream(
        spark, gridDir, weights, vars, out,
        gate = gate, masked = a.has("partial"),
        strategy = weightJoinArg(spark, a))
      .option("checkpointLocation", a("checkpoint-path"))
      .start()
    q.awaitTermination() // a gate refusal surfaces here, exit nonzero
    out
  }

  /** CORPUS SELECTION job — the curation step between `dedup-admit`
    * and `pack-tokens`: score every document with the q20 quality
    * formula, optionally keep only the best `--budget` tokens
    * ([[graft.operators.Sampling.selectByTokenBudget]], q126), then
    * assign train/val/test membership — leakage-safe through a
    * dup-cluster label table (`--clusters`, the
    * [[graft.operators.Dedup.duplicateClusters]] output; q125) when
    * one is given, plain per-doc hash buckets (q73) otherwise.
    * Output: the selected docs plus (quality, n_tokens, split[,
    * canon_id]) columns. */
  def runSelectCorpus(spark: SparkSession, a: Args): String = {
    val docs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("doc_id")
    val textCol = a.get("text-col").getOrElse("text")
    val st = graft.functions.TextKernels.text_stats(col(textCol),
      graft.functions.TextFunctions.LangProfiles("en"))
    val scored = docs
      .withColumn("quality", st.getField("quality"))
      .withColumn("n_tokens", st.getField("ws_tokens").cast("long"))
    // DSIR pre-selection (`--dsir-target-col <bool col>` +
    // `--dsir-k <n>` [+ `--dsir-dim`]): importance-resample k docs
    // toward the target subset's token distribution BEFORE the
    // quality/budget machinery — the label-free "looks like the
    // trusted corpus" first cut (q148's operator).
    val pooled = a.get("dsir-target-col") match {
      case Some(tcol) =>
        val k = a.get("dsir-k").getOrElse(sys.error(
          "--dsir-target-col requires --dsir-k")).toInt
        val dim = a.get("dsir-dim").getOrElse("1024").toInt
        val sel = graft.operators.Dsir.resample(
            scored, idCol, textCol, col(tcol), dim, k)
          .filter(col("rank").isNotNull)
        scored.join(sel.select(col("id").as("__dsir_id")),
          col(idCol).cast("long") === col("__dsir_id"), "left_semi")
      case None => scored
    }
    val kept = a.get("budget").map(_.toLong) match {
      case Some(b) =>
        val sel = graft.operators.Sampling.selectByTokenBudget(
          pooled, col(idCol), col("quality"), col("n_tokens"), b)
        pooled.join(sel.select(col("id").as("__sel_id")),
            col(idCol).cast("long") === col("__sel_id"), "left_semi")
      case None => pooled
    }
    // `--weights-file <mix-weights TSV>`: apply a PERSISTED DoReMi
    // mixture (the runMixWeights artifact) as the final selection
    // stage — the deployment seam that separates fitting from
    // applying: the expensive EG fit runs once, every later
    // select-corpus consumes the artifact without refitting.
    // Identical to the in-plan apply by construction (mixShares).
    val mixed = a.get("weights-file") match {
      case Some(wf) =>
        val sourceCol = a.get("source-col").getOrElse("source")
        graft.operators.Sampling.mixSample(kept, col(idCol),
          col(sourceCol), mixShares(loadMixWeights(spark, wf)))
      case None => kept
    }
    val splits = a.get("splits")
      .getOrElse("train=80,val=10,test=10").split(",").toSeq
      .map(_.split("=") match {
        case Array(n, p) => (n.trim, p.trim.toInt)
        case other => throw new IllegalArgumentException(
          s"bad --splits entry: ${other.mkString("=")}")
      })
    val out = a("output-path")
    val labeled = a.get("clusters") match {
      case Some(cp) => graft.operators.Sampling.leakageSafeSplit(
        mixed, col(idCol), spark.read.parquet(cp), splits)
      case None => graft.operators.Sampling.hashSplit(
        mixed, col(idCol), splits)
    }
    labeled.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    out
  }

  /** Write a UTF-8 text artifact, replacing any file at `path`. Artifacts
    * follow the path's Hadoop filesystem, like every other output here:
    * with an object-storage path a java.nio write would land on local
    * driver disk instead. Parent directories are created. */
  private def writeText(spark: SparkSession, path: String, body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Read a UTF-8 text artifact [[writeText]] wrote. */
  private def readText(spark: SparkSession, path: String): String =
    new String(Sources.readFile(path, spark.sparkContext.hadoopConfiguration), "UTF-8")

  /** TOKENIZER-TRAINING job — learns `--n-merges` BPE merges from the
    * corpus ([[graft.operators.BpeTrain.trainMerges]], q130) and writes
    * the PUBLIC GPT-2 artifact pair (`vocab.json` + `merges.txt`,
    * huggingface flavor) that `pack-tokens --bpe-vocab/--bpe-merges`
    * — and [[graft.functions.Bpe.load]] generally — consumes: train a
    * tokenizer, then shard the corpus with it, end to end in this CLI.
    * Vocab ids: `<unk>`=0, then the corpus's distinct characters in
    * code-point order, then the merge products in rank order (the
    * artifact convention: every merge's product is a token). Both
    * collects are bounded — alphabet-sized and nMerges-sized. */
  def runTrainBpe(spark: SparkSession, a: Args): String = {
    val docs = spark.read.parquet(a("input-path"))
    val textCol = a.get("text-col").getOrElse("text")
    val nMerges = a.get("n-merges").getOrElse("256").toInt
    val merges = graft.operators.BpeTrain
      .trainMerges(docs, textCol, nMerges)
      .orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val chars = graft.operators.BpeTrain.wordCounts(docs, textCol)
      .select(explode(split(col("word"), "")).as("c"))
      .filter(col("c") =!= "").distinct()
      .collect().map(_.getString(0)).sorted
    def jsonEsc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // distinct: two merges can yield the same product string (e.g.
    // (a,bc) and (ab,c) both produce "abc"), and a product can equal
    // a seed character — first occurrence keeps its id, so the id
    // space has no holes and the token→id map is parser-independent
    val tokens =
      (Seq("<unk>") ++ chars ++ merges.map { case (l, r) => l + r }).distinct
    val vocabJson = tokens.zipWithIndex
      .map { case (t, i) => s""""${jsonEsc(t)}": $i""" }
      .mkString("{", ", ", "}")
    writeText(spark, s"${a("output-path")}/vocab.json", vocabJson)
    writeText(spark, s"${a("output-path")}/merges.txt",
      ("#version: 0.2" +: merges.map { case (l, r) => s"$l $r" })
        .mkString("", "\n", "\n"))
    a("output-path")
  }

  /** Train the learned quality classifier (q147's operator) against a
    * boolean proxy-label column and persist the weights artifact —
    * a whitespace text format whose doubles round-trip exactly
    * (shortest-repr toString ↔ parseDouble), written through the
    * output path's Hadoop filesystem like every other artifact. */
  def runTrainClassifier(spark: SparkSession, a: Args): String = {
    val docs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("doc_id")
    val textCol = a.get("text-col").getOrElse("text")
    val labelCol = a("label-col")
    val dim = a.get("dim").getOrElse("16").toInt
    val iters = a.get("iters").getOrElse("8").toInt
    val feats = graft.operators.Classifier.hashedFeatures(
        docs, idCol, textCol, col(labelCol), dim)
      .localCheckpoint()
    val w = graft.operators.Classifier.trainLogistic(
      feats, dim, iters, lr = 0.5)
    writeText(spark, a("output-path"), s"dim $dim\niters $iters\nlr 0.5\n" +
      w.map(_.toString).mkString("w ", " ", "\n"))
    a("output-path")
  }

  /** `mix-weights`: fit DoReMi-shape domain weights (q167's operator
    * — per-source mean loss from the in-engine unigram LM, then the
    * Group-DRO EG rounds) and persist the mixture artifact as a TSV
    * (domain, n_docs, loss, weight) through the output path's Hadoop
    * filesystem — the weight table a `pack-tokens --mix` or
    * select-corpus run consumes (weights round-trip exactly:
    * shortest-repr toString ↔ parseDouble, all values round6). */
  def runMixWeights(spark: SparkSession, a: Args): String = {
    val docs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("doc_id")
    val textCol = a.get("text-col").getOrElse("text")
    val sourceCol = a.get("source-col").getOrElse("source")
    val rounds = a.get("rounds").getOrElse("8").toInt
    val eta = a.get("eta").getOrElse("0.5").toDouble
    val smoothing = a.get("smoothing").getOrElse("0.1").toDouble
    val scored = graft.operators.Corpus.lmScore(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"), col(sourceCol)),
        "doc_id")
    val w = graft.operators.Sampling.doremiWeights(scored,
        col(sourceCol), col("nll"), rounds, eta, smoothing)
      .orderBy(col("domain"))
      .collect() // |domains| rows — bounded artifact
    writeText(spark, a("output-path"), w.map(r => s"${r.getString(0)}\t${r.getLong(1)}\t" +
      s"${r.getDouble(2)}\t${r.getDouble(3)}").mkString("", "\n", "\n"))
    a("output-path")
  }

  /** Train the unigram-LM tokenizer (q156's operator, the
    * SentencePiece family next to train-bpe's BPE) and persist the
    * piece table as a TSV artifact (piece, score, usage) — scores
    * round-trip exactly (shortest-repr toString ↔ parseDouble),
    * written through the output path's Hadoop filesystem. */
  def runTrainUnigram(spark: SparkSession, a: Args): String = {
    val docs = spark.read.parquet(a("input-path"))
    val textCol = a.get("text-col").getOrElse("text")
    val pieces = graft.operators.UnigramLm.trainUnigram(
        docs, textCol,
        maxPieceLen = a.get("max-piece-len").getOrElse("4").toInt,
        minCount = a.get("min-count").getOrElse("2").toLong,
        maxVocab = a.get("max-vocab").getOrElse("1000").toInt,
        iters = a.get("iters").getOrElse("2").toInt)
      .orderBy(col("score").desc, col("piece").asc)
      .collect() // vocab-bounded artifact (the train-bpe pattern)
    writeText(spark, a("output-path"), pieces.map(r =>
      s"${r.getString(0)}\t${r.getDouble(1)}\t${r.getLong(2)}")
      .mkString("", "\n", "\n"))
    a("output-path")
  }

  /** Parse the [[runMixWeights]] TSV artifact back to (domain,
    * weight) pairs — the consumer seam: a select-corpus run passes
    * the fitted mixture via `--weights-file` so the learned weights
    * drive selection WITHOUT refitting (weights round-trip exactly:
    * shortest-repr toString ↔ parseDouble). */
  def loadMixWeights(
      spark: SparkSession, path: String): Seq[(String, Double)] = {
    val rows = readText(spark, path).split("\n").toSeq.filter(_.nonEmpty).zipWithIndex.map {
      case (line, i) =>
        val f = line.split("\t")
        require(f.length == 4,
          s"bad mix-weights line ${i + 1} of $path: $line")
        // same parse-site discipline as the range checks below: a
        // malformed numeric field must fail naming the file and line,
        // not as a bare NumberFormatException from toDouble
        val w = f(3).toDoubleOption.getOrElse(throw new
          IllegalArgumentException(
            s"malformed weight '${f(3)}' for domain '${f(0)}' " +
              s"(line ${i + 1} of $path)"))
        // validate AT THE PARSE SITE so a corrupted artifact fails with
        // a message naming the file and line — not hundreds of stages
        // later in mixSample's opaque shares-sum require
        require(w > 0.0 && !w.isNaN && !w.isInfinite,
          s"non-positive weight $w for domain '${f(0)}' " +
            s"(line ${i + 1} of $path)")
        (f(0), w)
    }
    val dups = rows.groupBy(_._1).collect { case (g, v) if v.size > 1 => g }
    // a duplicated domain line would inflate the BigDecimal sum while
    // toMap silently drops one entry — shares then sum to < 1
    require(dups.isEmpty,
      s"duplicate domain line(s) in $path: ${dups.mkString(", ")}")
    rows
  }

  /** The fitted weights → target shares, EXACTLY as q172's in-plan
    * apply derives them: round6 weights sum in decimal (BigDecimal
    * via Double.toString), then one correctly-rounded double division
    * per share — so TSV-loaded and in-plan mixtures select the
    * identical documents. */
  def mixShares(w: Seq[(String, Double)]): Map[String, Double] = {
    val sum = w.map { case (_, x) => BigDecimal(x) }.sum.toDouble
    w.map { case (g, x) => g -> x / sum }.toMap
  }

  /** Parse the [[runTrainClassifier]] artifact back to weights. */
  def loadClassifierWeights(
      spark: SparkSession, path: String): Array[Double] = {
    val wLine = readText(spark, path).linesIterator.find(_.startsWith("w "))
      .getOrElse(sys.error(s"no weights line in classifier artifact $path"))
    wLine.drop(2).trim.split("\\s+").map(_.toDouble)
  }

  /** The whitespace hash-bucket tokenizer (q99's scheme): each
    * non-empty space-separated word of column `c` becomes
    * pmod(xxhash64(word), `mod`) as an INT token id. */
  private def hashTokens(c: String, mod: Long = 65536L) =
    expr(s"transform(filter(split($c, ' '), w -> w <> ''), " +
      s"w -> CAST(pmod(xxhash64(w), ${mod}L) AS INT))")

  /** SFT PACKING job — (prompt, response) conversations to MASKED
    * pretraining shards: tokens under the q99 hash scheme, packed by
    * [[graft.operators.Packing.sftMaskedPack]], then TWO parallel
    * GTOK planes under `output-path` — `tokens/` (the ids) and
    * `masks/` (the loss mask, 0 = prompt, 1 = response, one "token"
    * per id) — written by the SAME sink with identical (shard, chunk)
    * geometry, so a loader zips the streams positionally. No new
    * binary format: a mask IS a token stream of the same shape
    * (PackingSpec pins the positional identity), and the existing
    * `.idx` sidecars of both planes are byte-identical apart from the
    * payload. */
  def runPackSft(spark: SparkSession, a: Args): String = {
    val convs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("id")
    val pCol = a.get("prompt-col").getOrElse("prompt")
    val rCol = a.get("response-col").getOrElse("response")
    val contextLen = a.get("context-len").getOrElse("512").toInt
    val nShards = a.get("n-shards").getOrElse("8").toInt
    val packed = graft.operators.Packing.sftMaskedPack(
        convs.select(col(idCol).as("id"),
          hashTokens(pCol).as("p"), hashTokens(rCol).as("r")),
        col("id"), col("p"), col("r"), contextLen, nShards)
      .localCheckpoint() // one packing evaluation feeds both planes
    val out = a("output-path")
    graft.sinks.TokenSink.writePackedTokens(
      packed.select(col("shard"), col("chunk_id"), col("token_ids")),
      s"$out/tokens")
    graft.sinks.TokenSink.writePackedTokens(
      packed.select(col("shard"), col("chunk_id"),
        col("loss_mask").as("token_ids")),
      s"$out/masks")
    out
  }

  /** `pack-dpo`: preference pairs → FOUR aligned GTOK planes
    * (chosen/rejected tokens + loss masks), one record per pair keyed
    * by pair_id — the artifact a DPO trainer loads by zipping the four
    * sidecar indexes (identical (shard, pair_id) geometry across
    * planes, spec-pinned). Truncation is [[graft.operators.Packing
    * .dpoPairPack]]'s HF contract: prompt left-truncates, planes
    * right-truncate to --context-len. */
  def runPackDpo(spark: SparkSession, a: Args): String = {
    val pairs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("id")
    val pCol = a.get("prompt-col").getOrElse("prompt")
    val cCol = a.get("chosen-col").getOrElse("chosen")
    val rCol = a.get("rejected-col").getOrElse("rejected")
    val contextLen = a.get("context-len").getOrElse("512").toInt
    val nShards = a.get("n-shards").getOrElse("8").toInt
    val packed = graft.operators.Packing.dpoPairPack(
        pairs.select(col(idCol).as("id"), hashTokens(pCol).as("p"),
          hashTokens(cCol).as("c"), hashTokens(rCol).as("r")),
        col("id"), col("p"), col("c"), col("r"), contextLen, nShards)
      .localCheckpoint() // one packing evaluation feeds all four planes
    val out = a("output-path")
    def plane(c: org.apache.spark.sql.Column, sub: String): Unit =
      graft.sinks.TokenSink.writePackedTokens(
        packed.select(col("shard"), col("pair_id").as("chunk_id"),
          c.as("token_ids")), s"$out/$sub")
    plane(col("chosen_ids"), "chosen_tokens")
    plane(col("chosen_mask"), "chosen_masks")
    plane(col("rejected_ids"), "rejected_tokens")
    plane(col("rejected_mask"), "rejected_masks")
    out
  }

  /** Corpus → pretraining shards: tokenize `--input-path` documents,
    * pack into `--context-len` windows across `--n-shards`
    * deterministic streams, and write packed `.bin`/`.idx` shard files
    * to `--output-path`. With `--bpe-vocab`/`--bpe-merges` (the public
    * GPT-2 artifact pair) tokenization is REAL byte-pair encoding via
    * the [[graft.functions.Bpe]] codegen kernel — the shards carry
    * actual BPE ids; without them it falls back to the whitespace
    * hash-bucket stub (plumbing-only runs). */
  def runPackTokens(spark: SparkSession, a: Args): String = {
    val docs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("doc_id")
    val textCol = a.get("text-col").getOrElse("text")
    // --fim-pct reserves the TOP of the 2-byte shard-packing space for
    // the three PSM sentinels (65533–65535), so hash tokenization
    // shrinks to mod 65533 — sentinel ids can never collide with a
    // content token and still byte-pack (TokenSink's 2-byte contract).
    val fimPct = a.get("fim-pct").map(_.toInt)
    val hashMod = if (fimPct.isDefined) 65533L else 65536L
    val ids = (a.get("bpe-vocab"), a.get("bpe-merges")) match {
      case (Some(v), Some(m)) =>
        graft.functions.Bpe.bpe_tokenize(col(textCol),
          graft.functions.Bpe.load(v, m))
      case (None, None) => hashTokens(textCol, hashMod)
      case _ => throw new IllegalArgumentException(
        "--bpe-vocab and --bpe-merges must be given together")
    }
    val contextLen = a.get("context-len").getOrElse("512").toInt
    val nShards = a.get("n-shards").getOrElse("8").toInt
    val tokRaw = docs.select(col(idCol).as("id"), ids.as("ids"))
    // --fim-pct P [--fim-seed S]: rearrange a seeded P% of documents
    // into the PSM fill-in-the-middle layout (Packing.fimApply) BEFORE
    // packing — the joint FIM+AR recipe; sentinel ids sit just above
    // the 65536 hash-token space (or the BPE vocab's specials).
    val tok = fimPct match {
      case Some(p) => graft.operators.Packing.fimApply(
        tokRaw, col("id"), col("ids"),
        seed = a.get("fim-seed").getOrElse("0").toLong, fimPct = p,
        preTok = 65533, sufTok = 65534, midTok = 65535)
      case None => tokRaw
    }
    // --span-corrupt-out PATH [--span-seed S --span-block B --span-len L
    // --span-one-in M]: additionally write the block-deterministic
    // span-corruption index (Packing.spanCorruption) over the SAME
    // token derivation the shards pack — the denoising objective's
    // span table for the run, replayable from (corpus, seed) alone.
    // Corruption is per-document, so it composes with any --shuffle-*
    // training order without depending on it.
    a.get("span-corrupt-out").foreach { sp =>
      graft.operators.Packing.spanCorruption(tok, col("id"), col("ids"),
          a.get("span-seed").getOrElse("0").toLong,
          blockLen = a.get("span-block").getOrElse("16").toInt,
          spanLen = a.get("span-len").getOrElse("5").toInt,
          corruptOneIn = a.get("span-one-in").getOrElse("2").toInt)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(sp)
    }
    // --binpack-out PATH [--binpack-seed S]: additionally write the
    // length-homogeneous WHOLE-document bin assignment
    // (Packing.binPackByLength) over the SAME token derivation — the
    // SFT layout (examples never split across windows), sharing the
    // run's context length and shard count.
    a.get("binpack-out").foreach { bp =>
      graft.operators.Packing.binPackByLength(
          tok.select(col("id"), size(col("ids")).cast("long").as("n")),
          col("id"), col("n"), contextLen, nShards,
          a.get("binpack-seed").getOrElse("0").toLong)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(bp)
    }
    // --shuffle-seed + --mix "src0=0.5,src1=0.25,...": shards follow
    // the SEEDED training order with the source mix enforced per shard
    // (Packing.shuffleShards) instead of hash-of-id corpus order; the
    // run is reproducible bit-for-bit from (corpus, seed, mix) —
    // TokenSinkSpec proves byte-identical shard files across runs
    // Training-order family under --shuffle-seed (mutually exclusive
    // refinements): --epochs N repeats the quota-selected corpus with
    // a per-epoch reshuffle (Packing.epochOrder); --anneal-quality θ
    // holds out the docs whose q20 quality score reaches θ and appends
    // them as the phase-1 anneal tail (Packing.curriculumOrder).
    // --boundaries-out PATH additionally writes the per-chunk
    // document-boundary index (Packing.chunkDocBoundaries) the loader
    // needs for attention resets — derived from the same offsets the
    // shards pack by.
    val chunks = a.get("shuffle-seed") match {
      case Some(seed) =>
        val mixArg = a.get("mix").getOrElse(throw new IllegalArgumentException(
          "--shuffle-seed needs --mix source=weight[,source=weight...]"))
        val mix = mixArg.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          kv.split("=") match {
            case Array(s, w) => s -> w.toDouble
            case _ => throw new IllegalArgumentException(
              s"bad --mix entry '$kv' (want source=weight)")
          }
        }.toMap
        val srcCol = a.get("source-col").getOrElse("source")
        val assigned = (a.get("epochs"), a.get("anneal-quality")) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            "--epochs and --anneal-quality are mutually exclusive " +
              "(an annealed multi-epoch schedule is two pack-tokens runs)")
          case (Some(e), None) =>
            graft.operators.Packing.epochOrder(docs, idCol, srcCol,
              seed.toLong, nShards, mix, epochs = e.toInt)
          case (None, Some(th)) =>
            val quality = graft.functions.TextKernels.text_stats(
              col(textCol), graft.functions.TextFunctions.LangProfiles("en"))
              .getField("quality")
            graft.operators.Packing.curriculumOrder(docs, idCol, srcCol,
              seed.toLong, nShards, mix,
              annealWhen = quality >= lit(th.toDouble))
          case (None, None) =>
            graft.operators.Packing.shuffleShards(docs, idCol, srcCol,
              seed.toLong, nShards, mix)
        }
        a.get("boundaries-out").foreach { bp =>
          graft.operators.Packing.chunkDocBoundaries(assigned, tok,
              col("id"), col("ids"), contextLen)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(bp)
        }
        graft.operators.Packing.packTokenChunksAssigned(
          assigned, tok, col("id"), col("ids"), contextLen)
      case None =>
        a.get("boundaries-out").foreach(_ =>
          throw new IllegalArgumentException(
            "--boundaries-out needs --shuffle-seed (the index is " +
              "defined over the assigned training order)"))
        graft.operators.Packing.packTokenChunks(
          tok, col("id"), col("ids"), contextLen, nShards)
    }
    val out = a("output-path")
    graft.sinks.TokenSink.writePackedTokens(chunks, out)
    out
  }

  /** CURATION job — the web-corpus front door, composing this round's
    * operators end to end: optional markup extraction (`--html true`
    * rewrites the text column through [[graft.functions.HtmlExtract]]),
    * optional C4 line rules (`--line-rules true` rewrites text to the
    * kept lines and drops line-pass-killed docs — the C4-then-Gopher
    * order real pipelines use), optional canonical-URL dedup
    * (`--url-col <c>` keeps the min-id row per
    * [[graft.functions.CanonicalizeUrl]] key), then the Gopher
    * rule gate ([[graft.operators.Corpus.gopherQualityGate]]) keeps
    * `pass = true` docs (`--keep-all true` keeps everything and writes
    * the per-rule columns instead — the audit mode). Every stage is a
    * scan-side projection except the URL dedup's one keyed window. */
  def runCurate(spark: SparkSession, a: Args): String = {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(a("input-path"))
    val idCol = a.get("id-col").getOrElse("doc_id")
    val textCol = a.get("text-col").getOrElse("text")
    // optional domain blocklist (`--blocklist <file>` + `--url-col`):
    // one listed domain per line blocks its whole registrable subtree —
    // runs FIRST, before any content work (the cheapest kill).
    val unblocked = a.get("blocklist") match {
      case Some(blPath) =>
        val u = a.get("url-col").getOrElse(
          sys.error("--blocklist requires --url-col"))
        val blocked = spark.read.text(blPath)
          .select(trim(col("value")).as("domain"))
          .filter(length(col("domain")) > 0)
        docs.join(
          graft.operators.Corpus.blocklistFilter(
              docs, col(idCol), col(u), blocked)
            .filter(col("blocked")).select(col("id").as("__bid")),
          col(idCol).cast("long") === col("__bid"), "left_anti")
      case None => docs
    }
    val extracted =
      if (a.get("html").contains("true"))
        unblocked.withColumn(textCol,
          graft.functions.QualityKernels.html_extract(col(textCol)))
      else unblocked
    // optional Unicode cleanup (`--normalize true`): CRLF/CR fold, NFC
    // composition, zero-width/control strip — BEFORE any pass that
    // fingerprints or splits the text, so encoding accidents cannot
    // defeat the dedups below.
    val normalized =
      if (a.get("normalize").contains("true"))
        extracted.withColumn(textCol,
          graft.functions.TextKernels.normalize_text(col(textCol))
            .getField("clean_text"))
      else extracted
    // optional C4 line rules (`--line-rules true`): rewrite the text
    // column to the kept lines and drop docs the line pass kills,
    // BEFORE the document-level gate (the C4-then-Gopher order real
    // pipelines use)
    val lineFiltered =
      if (a.get("line-rules").contains("true")) {
        val c = graft.functions.QualityKernels.c4_line_filter(col(textCol))
        normalized.withColumn("__c4", c)
          .filter(col("__c4.keep_doc"))
          .withColumn(textCol, col("__c4.clean_text"))
          .drop("__c4")
      } else normalized
    val deduped = a.get("url-col") match {
      case Some(u) =>
        val w = Window.partitionBy(col("__canon")).orderBy(col(idCol))
        lineFiltered
          .withColumn("__canon",
            graft.functions.UrlKernels.canonicalize_url(col(u)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__canon")
      case None => lineFiltered
    }
    // optional cross-corpus paragraph dedup (`--paragraph-dedup true`,
    // separator via `--paragraph-sep`, default "\n"): rewrite each doc
    // to its globally-first paragraphs (q141) and drop fully-
    // deduplicated docs — the CCNet order, before the document gate.
    val paraDeduped =
      if (a.get("paragraph-dedup").contains("true")) {
        val sep = a.get("paragraph-sep").getOrElse("\n")
        deduped.join(
          graft.operators.Corpus.paragraphDedup(
              deduped, col(idCol), col(textCol), sep)
            .filter(col("n_kept") > 0)
            .select(col("id").as("__pid"),
              col("clean_text").as("__ptext")),
          col(idCol).cast("long") === col("__pid"))
          .withColumn(textCol, col("__ptext"))
          .drop("__pid", "__ptext")
      } else deduped
    val gated = graft.operators.Corpus.gopherQualityGate(
      paraDeduped, col(idCol), col(textCol))
    val out = a("output-path")
    val result =
      if (a.get("keep-all").contains("true"))
        paraDeduped.join(gated.withColumnRenamed("id", "__gid"),
          col(idCol).cast("long") === col("__gid")).drop("__gid")
      else
        paraDeduped.join(
          gated.filter(col("pass")).select(col("id").as("__gid")),
          col(idCol).cast("long") === col("__gid"), "left_semi")
    // optional learned-filter stage (`--classifier <weights>` +
    // `--min-score`, default 0.5): score the surviving docs with the
    // train-classifier artifact and keep score >= min-score — runs
    // LAST, after the rule gates, the DCLM layering.
    val classed = a.get("classifier") match {
      case Some(wPath) =>
        val w = loadClassifierWeights(spark, wPath)
        val minScore = a.get("min-score").getOrElse("0.5").toDouble
        result.join(
          graft.operators.Classifier.scoreDocs(result, idCol, textCol, w)
            .filter(col("score") >= minScore)
            .select(col("id").as("__cid")),
          col(idCol).cast("long") === col("__cid"), "left_semi")
      case None => result
    }
    // `--weights-file <mix-weights TSV>` (+ optional `--source-col`,
    // default "source"): apply a PERSISTED DoReMi mixture as the final
    // selection stage — the same deployment seam select-corpus has, so
    // the full chain (mix-weights fit once → curate many) runs without
    // refitting. Identical to the in-plan apply by construction
    // (mixShares over loadMixWeights).
    val mixed = a.get("weights-file") match {
      case Some(wf) =>
        val sourceCol = a.get("source-col").getOrElse("source")
        graft.operators.Sampling.mixSample(classed, col(idCol),
          col(sourceCol), mixShares(loadMixWeights(spark, wf)))
      case None => classed
    }
    // --signals-out PATH: additionally write the q153 quality-signals
    // sheet over the SURVIVING docs — the per-run audit artifact
    // (RedPajama-V2's signals parquet); one extra scan-side pass.
    a.get("signals-out").foreach { sp =>
      graft.operators.Corpus.qualitySignals(mixed, idCol, textCol)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(sp)
    }
    mixed.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    out
  }

  /** One subcommand: its job and the keys, values and flags alike, that
    * the job reads. */
  final case class Command(run: (SparkSession, Args) => String, keys: Set[String])

  private def keys(names: String): Set[String] = names.split("\\s+").toSet

  val commands: Map[String, Command] = Map(
    "gridmet-etl" -> Command(runGridmet, keys("start-date end-date grid-path " +
      "target-file weights-file fid output-path file-prefix partial fill-missing " +
      "genmap mapping-file weight-join")),
    "cfsv2-etl" -> Command(runCfsv2, keys("grid-path target-file weights-file fid " +
      "model-param-file method output-path file-prefix")),
    "stage-netcdf" -> Command(runStageNetcdf, keys("nc-file output-path " +
      "catalog-path data-id t-name x-name y-name")),
    "daily-etl" -> Command(runDailyEtl, keys("grid-stream-path weights-file fid " +
      "output-path checkpoint-path published-through vars partial weight-join")),
    "dedup-admit" -> Command(runDedupAdmit, keys("input-path output-path " +
      "state-path id-col text-col near threshold")),
    "select-corpus" -> Command(runSelectCorpus, keys("input-path output-path " +
      "id-col text-col dsir-target-col dsir-k dsir-dim budget weights-file " +
      "source-col splits clusters")),
    "curate" -> Command(runCurate, keys("input-path output-path id-col text-col " +
      "blocklist url-col html normalize line-rules paragraph-dedup paragraph-sep " +
      "keep-all classifier min-score weights-file source-col signals-out")),
    "train-bpe" -> Command(runTrainBpe, keys("input-path output-path text-col n-merges")),
    "train-classifier" -> Command(runTrainClassifier, keys("input-path output-path " +
      "id-col text-col label-col dim iters")),
    "train-unigram" -> Command(runTrainUnigram, keys("input-path output-path " +
      "text-col max-piece-len min-count max-vocab iters")),
    "pack-tokens" -> Command(runPackTokens, keys("input-path output-path id-col " +
      "text-col fim-pct fim-seed bpe-vocab bpe-merges context-len n-shards " +
      "span-corrupt-out span-seed span-block span-len span-one-in binpack-out " +
      "binpack-seed shuffle-seed mix source-col epochs anneal-quality boundaries-out")),
    "pack-sft" -> Command(runPackSft, keys("input-path output-path id-col " +
      "prompt-col response-col context-len n-shards")),
    "pack-dpo" -> Command(runPackDpo, keys("input-path output-path id-col " +
      "prompt-col chosen-col rejected-col context-len n-shards")),
    "mix-weights" -> Command(runMixWeights, keys("input-path output-path id-col " +
      "text-col source-col rounds eta smoothing")))

  /** The subcommand `name`, after checking that `a` holds only keys it
    * reads: a misspelled key would otherwise be ignored, and the job
    * would run on that key's default. */
  def command(name: String, a: Args): Command = {
    val c = commands.getOrElse(name, throw new IllegalArgumentException(
      s"unknown subcommand: $name (want ${commands.keys.toSeq.sorted.mkString(" | ")})"))
    val unknown = (a.m.keySet ++ a.flags) -- c.keys
    require(unknown.isEmpty,
      s"$name does not take ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"it takes ${c.keys.toSeq.sorted.map("--" + _).mkString(" ")}")
    c
  }

  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty,
      s"subcommand required: ${commands.keys.toSeq.sorted.mkString(" | ")}")
    val a = parseArgs(argv.tail.toSeq)
    val c = command(argv.head, a)
    val spark = session()
    try println(s"WROTE ${c.run(spark, a)}")
    finally spark.stop()
  }
}
