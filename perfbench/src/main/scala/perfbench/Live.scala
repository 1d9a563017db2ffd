package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Main, Metrics, MetricsSink}
import graft.streaming.LiveStream

/** live_trickle: `LiveStream.start` at the shipped live settings, as
  * `Main --live --move-failed --output` wires it. Files are landed by a
  * separate lander process; this side starts the query, says when it is
  * ready (the `ready` file) and stops it when told (the `done` file). */
object Live {
  private def start(spark: SparkSession, root: Path): StreamingQuery = {
    val input = root.resolve("input")
    LiveStream.start(spark,
      LiveStream.Config(
        inputDir = input.toString,
        checkpointDir = root.resolve("checkpoint").toString,
        archiveDir = None,
        failedDir = Some(s"${input}_failed"),
        outputDir = Some(root.resolve("lake").toString)),
      Main.LoggingClient,
      Some(Metrics(spark.sparkContext, "csv_live", MetricsSink.Prometheus.fromEnv("graft"))))
  }

  private def await(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
    val t0 = Clock.now()
    while (!cond) {
      if (Clock.secs(t0) > timeoutS) sys.error(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  def run(a: Args): Map[String, Any] = {
    val work = Files2.path(a("work"))
    val trace = a("trace") == "1"
    val spark = Sessions.etl(a.int("cores", 4))
    val engine = new EngineListener
    val stream = new StreamListener
    val cg0 = Codegen.totalMs()

    if (trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.streams.addListener(stream)
    }
    // warm-up: the query's first micro-batch runs at start, over files put
    // in the input directory before the JVM started; the second, at the
    // next trigger, over files landed once this side is ready
    val q = start(spark, work.resolve("live"))
    await("the warm-up batch", 60)(Option(q.lastProgress).exists(_.numInputRows > 0))
    val warmBatch = q.lastProgress.batchId
    val setup = Clock.sinceJvmStart()
    val cgSetup = Codegen.totalMs() - cg0
    Heap.settle()
    Heap.open(0)
    Files.writeString(work.resolve("ready"), setup.toString)
    await("the lander", a.int("timeout", 150).toDouble)(Files.exists(work.resolve("done")))
    Heap.collect(0)
    val peak = Heap.peakMb
    val cgSteady = Codegen.totalMs() - cg0 - cgSetup
    q.stop()
    q.exception.foreach(e => throw e)

    var batchLog = Seq.empty[Map[String, Any]]
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        PerfbenchBus.drain(spark.sparkContext)
        val batches = stream.progress.synchronized(stream.progress.toSeq)
          .map(_.progress).filter(p => p.batchId > warmBatch + 1 && p.numInputRows > 0) // timed batches
        batchLog = batches.map(p => Map("batch" -> p.batchId, "timestamp" -> p.timestamp,
          "rows" -> p.numInputRows, "duration_ms" -> p.durationMs.asScala.toMap,
          "tasks_ms" -> engine.batchTasks.get(p.batchId).fold(Seq.empty[(Long, Long)])(_.toSeq)))
        def ms(key: String) = Stats.median(batches.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.toDouble)))
        Map(
          "live.batches" -> batches.size.toDouble,
          "live.files_per_batch" -> (if (batches.isEmpty) 0.0 else batches.map(_.numInputRows.toDouble).sum / batches.size),
          "live.trigger_ms" -> ms("triggerExecution"),
          "live.add_batch_ms" -> ms("addBatch"),
          "live.latest_offset_ms" -> ms("latestOffset"),
          "live.wal_commit_ms" -> ms("walCommit"),
          "live.jobs_per_batch" -> Stats.median(batches.map(p => engine.batchJobs.getOrElse(p.batchId, 0).toDouble)))
      }
    spark.stop()
    Map("setup_s" -> setup, "peak_heap_mb" -> peak,
      "heap_left_mb" -> Heap.leftMb, "heap_round_peaks_mb" -> Heap.roundPeaksMb, "layers" -> layers,
      "batches" -> batchLog,
      "codegen_ms_setup" -> cgSetup, "codegen_ms_steady" -> cgSteady)
  }
}
