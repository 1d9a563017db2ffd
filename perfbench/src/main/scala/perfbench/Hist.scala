package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.{Main, Metrics, MetricsSink}
import graft.sink.BatchedSink
import graft.tebis.{Catalog, Discovery, Retry, TebisCsv, TimeSeriesMeta}

/** hist_wide: closed-loop `Main.runHistorical` over a fresh copy of the
  * generated corpus, repeated in one warm session.
  *
  * Untraced, each repetition is one call of the public entry point. Traced,
  * each repetition calls the layer functions in the order runHistorical
  * does, each in its own span and Spark job group. */
object Hist {
  private final case class Rep(k: Int, dir: Path) {
    def input: Path = dir.resolve("input")
    def lake: Path = dir.resolve("lake")
    def catalog: Path = dir.resolve("catalog.parquet")
    def config: Main.Config = Main.Config(input = input.toString, output = Some(lake.toString),
      catalog = Some(catalog.toString), moveFailed = true)
  }

  def run(a: Args): Map[String, Any] = {
    val work = Files2.path(a("work"))
    val corpus = work.resolve("corpus")
    val seconds = a.int("seconds", 8)
    val trace = a("trace") == "1"
    val spark = Sessions.etl(a.int("cores", 4))
    val engine = new EngineListener
    if (trace) spark.sparkContext.addSparkListener(engine)
    val tracer = new Tracer(spark, trace)
    val cg0 = Codegen.totalMs()

    var k = 0
    def prepare(): Rep = {
      k += 1
      val r = Rep(k, work.resolve(s"reps/r$k"))
      Files2.copyTree(corpus.resolve("input"), r.input)
      Files.copy(corpus.resolve("catalog.parquet"), r.catalog)
      r
    }
    for (_ <- 1 to 3) {
      val r = prepare()
      once(spark, r, tracer, engine)
      Files2.deleteTree(r.dir)
    }
    val setup = Clock.sinceJvmStart()
    val cgSetup = Codegen.totalMs() - cg0
    Heap.settle()

    // a fixed number of calls: the JIT is still settling over the first
    // calls, so a time-bounded count would move the median between runs
    val reps = (1 to math.max(3, (seconds + 1) / 2 - 1)).map { i =>
      val r = prepare()
      Heap.open(i)
      val out = once(spark, r, tracer, engine)
      Heap.collect(i)
      out
    }
    val peak = Heap.peakMb
    val cgSteady = Codegen.totalMs() - cg0 - cgSetup
    spark.stop()
    Map("setup_s" -> setup, "peak_heap_mb" -> peak,
      "heap_left_mb" -> Heap.leftMb, "heap_round_peaks_mb" -> Heap.roundPeaksMb, "reps" -> reps,
      "codegen_ms_setup" -> cgSetup, "codegen_ms_steady" -> cgSteady,
      "spans" -> tracer.spans)
  }

  /** One repetition; returns its record (wall, committed points, per-file
    * commit offsets and, traced, the layer figures). */
  private def once(spark: SparkSession, r: Rep, tracer: Tracer, engine: EngineListener): Map[String, Any] = {
    val cfg = r.config
    val metrics = Metrics(spark.sparkContext, "csv_hist", MetricsSink.Prometheus.fromEnv(cfg.project))
    val lifecycle = new Discovery.Lifecycle(
      failedDir = Some(s"${cfg.input}/failed"), finishedDir = None,
      conf = spark.sparkContext.hadoopConfiguration)
    val watch = new DeleteWatch(r.input)
    val t0 = Clock.now()
    val layers =
      if (tracer.enabled) traced(spark, cfg, lifecycle, r.k, tracer)
      else { Main.runHistorical(spark, cfg, metrics, lifecycle); Map.empty[String, Double] }
    val t1 = Clock.now()
    watch.close()
    val commits = watch.snapshot().collect {
      case (name, ns) if name.endsWith(".csv") => name -> Clock.secs(t0, ns)
    }
    val out = Map[String, Any]("dir" -> r.dir.toString, "wall_s" -> Clock.secs(t0, t1),
      "points" -> metrics.postedDatapoints.value, "commits" -> commits)
    if (!tracer.enabled) out
    else {
      PerfbenchBus.drain(spark.sparkContext)
      val (nFiles, lakeBytes) = Files2.treeBytes(r.lake, ".parquet")
      val points = layers("parse.points")
      def g(name: String) = engine.group(Tracer.group(r.k, name))
      val parse = g("parse")
      val taskMs = parse.taskMs.map(_.toDouble).toSeq
      val sink = g("sink")
      out ++ Map("points" -> points.toLong, "layers" -> (layers ++ Map(
        "parse.bytes_in" -> parse.bytesRead.toDouble,
        "parse.task_s" -> parse.runMs / 1e3,
        "parse.gc_s" -> parse.gcMs / 1e3,
        "parse.task_skew" -> (if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, Stats.median(taskMs))),
        "sink.shuffle_write_bytes" -> sink.shuffleWrite.toDouble,
        "sink.spill_bytes" -> sink.spill.toDouble,
        "sink.files_written" -> nFiles.toDouble,
        "sink.bytes_per_point" -> (if (points > 0) lakeBytes / points else 0.0))))
    }
  }

  /** `Main.runHistorical`'s body, call for call, with a span around each
    * layer. The only difference: the persisted parse is materialized in
    * its own span instead of inside the first catalog action. */
  private def traced(spark: SparkSession, cfg: Main.Config, lifecycle: Discovery.Lifecycle,
      rep: Int, tracer: Tracer): Map[String, Double] = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    def span[T](name: String)(body: => T): T = tracer.span(rep, name)(body)
    var files: org.apache.spark.sql.Dataset[graft.tebis.TebisFile] = null
    try {
      val (paths, created, results) = span("runHistorical") {
        val paths = span("discover") {
          Discovery.findHistoricalFiles(cfg.input, cfg.fromTime, cfg.untilTime, hconf)
        }
        files = TebisCsv.files(spark, paths)
        files.persist()
        span("parse") { files.count() }
        val catPath = cfg.catalog.get
        val created = span("catalog") {
          val existing = Retry.withLinearBackoff() {
            val p = new HPath(catPath)
            if (p.getFileSystem(hconf).exists(p)) Catalog.load(spark, catPath)
            else spark.emptyDataset[TimeSeriesMeta]
          }
          val ordByPath = paths.zipWithIndex.map { case (p, i) => new HPath(p).toUri.getPath -> i }.toMap
          val headers = files
            .flatMap { f =>
              val ord = ordByPath.getOrElse(new HPath(f.path).toUri.getPath, Int.MaxValue)
              f.columns.map(c => (ord, c.externalId, c.name, c.colIndex))
            }
            .toDF("fileOrd", "externalId", "name", "colIndex")
          val created = Catalog.missing(headers, existing).localCheckpoint()
          val n = created.count()
          Catalog.save(Catalog.upsert(existing, created), catPath)
          n
        }
        span("sink") {
          BatchedSink.writeParquet(files.filter(_.error.isEmpty).flatMap(_.datapoints), cfg.output.get)
        }
        val results = span("lifecycle") {
          val results = files.map(f => (f.path, f.error.isDefined, f.datapointCount, f.seriesCount)).collect()
          results.foreach { case (path, failed, _, _) =>
            if (failed) lifecycle.onFailure(path) else lifecycle.onSuccess(path)
          }
          results
        }
        (paths, created, results)
      }
      // outside the spans: how many header cells the catalog step saw
      val headerCount = files.map(_.columns.size.toLong).collect().sum
      Map(
        "discover.s" -> tracer.selfSecs(rep, "discover"),
        "discover.files" -> paths.size.toDouble,
        "parse.s" -> tracer.selfSecs(rep, "parse"),
        "parse.points" -> results.collect { case (_, false, n, _) => n }.sum.toDouble,
        "catalog.s" -> tracer.selfSecs(rep, "catalog"),
        "catalog.headers" -> headerCount.toDouble,
        "catalog.created" -> created.toDouble,
        "sink.s" -> tracer.selfSecs(rep, "sink"),
        "lifecycle.s" -> tracer.selfSecs(rep, "lifecycle"),
        "lifecycle.files" -> results.length.toDouble,
        "trace.pass_s" -> tracer.spans.filter(s => s.rep == rep && s.name == "runHistorical").map(_.secs).sum)
    } finally if (files != null) files.unpersist()
  }
}
