package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SessionHygiene, SparkEntry}

/** llm_suite: closed-loop passes over a list of `SparkEntry.queries`, one
  * query at a time through the `noop` sink, with `SessionHygiene.clear`
  * between queries outside the timed region. The first (cold) set-up pass
  * writes each query's rows for the oracle check instead. */
object Suite {
  /** Query name -> the module that defines it. */
  private lazy val module: Map[String, String] = Seq(
    "queries.CoreQueries" -> graft.queries.CoreQueries.all,
    "ops.EventOps" -> graft.ops.EventOps.queries,
    "ops.Dedup" -> graft.ops.Dedup.queries,
    "ops.Similarity" -> graft.ops.Similarity.queries,
    "ops.Pipeline" -> graft.ops.Pipeline.queries,
    "ops.Profiling" -> graft.ops.Profiling.queries,
    "ops.Multimodal" -> graft.ops.Multimodal.queries,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  val Families: Seq[String] = Seq("ops.Dedup", "ops.Similarity", "ops.Pipeline", "ops.EventOps",
    "ops.Profiling", "ops.Multimodal", "queries.CoreQueries")

  private def evaluate(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def run(a: Args): Map[String, Any] = {
    val work = Files2.path(a("work"))
    val dir = work.resolve("tables").toString
    val names = a("queries").split(",").toSeq
    val seconds = a.int("seconds", 8)
    val trace = a("trace") == "1"
    val cores = a.int("cores", 4)
    val spark = Sessions.suite(cores)
    val sc = spark.sparkContext
    val engine = new EngineListener
    val plans = new PlanListener
    if (trace) {
      sc.addSparkListener(engine)
      spark.listenerManager.register(plans)
    }
    val tracer = new Tracer(spark, trace)
    val cg0 = Codegen.totalMs()
    val failures = mutable.ArrayBuffer[Map[String, Any]]()

    def attempt(phase: String, name: String)(body: => Unit): Boolean =
      try { body; true }
      catch {
        case NonFatal(e) =>
          failures += Map("phase" -> phase, "query" -> name, "error" -> e.toString.take(500))
          false
      }

    // set-up: one cold pass, which builds the memoized fixtures and writes
    // each query's rows for the oracle check
    for (n <- names) {
      attempt("check", n) {
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(work.resolve(s"check/$n").toString)
      }
      SessionHygiene.clear(spark)
    }
    val setup = Clock.sinceJvmStart()
    val cgSetup = Codegen.totalMs() - cg0

    Heap.settle()
    val t0 = Clock.now()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    // a fixed number of passes, as in hist_wide: a time-bounded count
    // would move the median between runs while the JIT still settles
    for (pass <- 1 to math.max(3, seconds / 4)) {
      val times = mutable.LinkedHashMap[String, Double]()
      var clearS, pinned = 0.0
      Heap.open(pass)
      for (n <- names) {
        plans.label = s"$pass:$n"
        val q0 = Clock.now()
        tracer.span(pass, n) {
          attempt(s"pass$pass", n)(evaluate(SparkEntry.queries(n)(spark, dir)))
        }
        // a failed query keeps its time: it is counted, never dropped
        times(n) = Clock.secs(q0)
        if (trace) {
          PerfbenchBus.drain(sc)
          pinned += sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
        }
        Heap.collect(pass)
        val c0 = Clock.now()
        SessionHygiene.clear(spark)
        clearS += Clock.secs(c0)
      }
      val rec = mutable.Map[String, Any]("queries" -> times)
      if (trace) rec("layers") = passLayers(pass, names, times, engine, plans, cores) ++
        Map("hygiene.clear_s" -> clearS, "suite.pinned_rdd_blocks" -> pinned)
      passes += rec.toMap
    }
    val peak = Heap.peakMb
    val cgSteady = Codegen.totalMs() - cg0 - cgSetup
    val timed = Clock.secs(t0)
    spark.stop()
    Map("setup_s" -> setup, "peak_heap_mb" -> peak,
      "heap_left_mb" -> Heap.leftMb, "heap_round_peaks_mb" -> Heap.roundPeaksMb, "passes" -> passes, "failures" -> failures,
      "oracle" -> names.map(n => n -> SparkEntry.oracleSql.get(n)).toMap, "timed_s" -> timed,
      "codegen_ms_setup" -> cgSetup, "codegen_ms_steady" -> cgSteady, "spans" -> tracer.spans)
  }

  private def passLayers(pass: Int, names: Seq[String], times: collection.Map[String, Double],
      engine: EngineListener, plans: PlanListener, cores: Int): Map[String, Double] = {
    val secs = names.map(n => n -> times(n)).toMap
    val wall = secs.values.sum
    val acc = engine.sum(_.startsWith(s"$pass:"))
    val shapes = plans.synchronized(plans.shapes.toSeq).filter(_._1.startsWith(s"$pass:"))
    def planTotals(prefix: String, sel: Seq[(String, PlanShape)]): Map[String, Double] = Map(
      s"$prefix.smj" -> sel.map(_._2.smj).sum.toDouble,
      s"$prefix.shj" -> sel.map(_._2.shj).sum.toDouble,
      s"$prefix.bhj" -> sel.map(_._2.bhj).sum.toDouble,
      s"$prefix.exchanges" -> sel.map(_._2.exchanges).sum.toDouble)
    val q139 = shapes.filter(_._1 == s"$pass:q139_contamination_report")
    names.map(n => s"query.$n.s" -> secs(n)).toMap ++
      Families.map(f => s"$f.s" -> names.filter(module.get(_).contains(f)).map(secs).sum) ++
      planTotals("plan", shapes) ++ planTotals("plan.q139", q139) ++ Map(
        "suite.jobs" -> acc.jobs.toDouble,
        "suite.stages" -> acc.stages.toDouble,
        "suite.task_s" -> acc.runMs / 1e3,
        "suite.busy_frac" -> (if (wall > 0) acc.runMs / 1e3 / (wall * cores) else 0.0),
        "suite.shuffle_write_bytes" -> acc.shuffleWrite.toDouble,
        "suite.spill_bytes" -> acc.spill.toDouble,
        "suite.gc_s" -> acc.gcMs / 1e3,
        "trace.pass_s" -> wall)
  }
}
