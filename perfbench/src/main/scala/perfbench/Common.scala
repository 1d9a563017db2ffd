package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Command-line flags of the driver: `--key value` pairs. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String, default: Int): Int = kv.get(k).map(_.toInt).getOrElse(default)
}

/** Writes the raw result file (Scala maps, sequences, case classes). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: Path, v: Any): Unit = mapper.writeValue(path.toFile, v)
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(fromNs: Long, toNs: Long = System.nanoTime()): Double = (toNs - fromNs) / 1e9
  /** Seconds since the JVM started: the set-up clock. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Sessions shaped like the program's own: the ETL one matches
  * `graft.Main`, the suite one matches `graft.Bench`. */
object Sessions {
  def etl(cores: Int): SparkSession = quiet(SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-extractor")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  def suite(cores: Int): SparkSession = quiet(SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.codegen.cache.maxEntries", "16384")
    .getOrCreate())

  private def quiet(s: SparkSession): SparkSession = { s.sparkContext.setLogLevel("WARN"); s }
}

/** Peak heap in use after a collection, over the timed region: the
  * after-GC occupancy of the heap pools of every collection, young ones
  * included, from the JVM's GC notifications, so an operation's transient
  * working set counts. Each timed operation ends with a full collection
  * (outside its own timing), so every operation starts from the same heap;
  * that collection's figure, the heap the operation leaves behind, is kept
  * as a recorded extra. The metric is the largest figure of each round (a
  * repetition, a pass), median over rounds. */
object Heap {
  private val MB = 1024.0 * 1024.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (GC end in ms of JVM uptime, MB in use after it), as notified. */
  private val events = mutable.ArrayBuffer[(Long, Double)]()
  /** round -> (first, last) ms of JVM uptime it covers */
  private val rounds = mutable.LinkedHashMap[Int, (Long, Long)]()
  private val left = mutable.ArrayBuffer[Double]()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
    gc.asInstanceOf[NotificationEmitter].addNotificationListener((n: Notification, _: AnyRef) => {
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        events.synchronized { events += info.getEndTime -> used / MB }
      }
    }, null, null)
  }

  private def uptime(): Long = ManagementFactory.getRuntimeMXBean.getUptime
  private def notified(afterMs: Long): Boolean = events.synchronized(events.exists(_._1 >= afterMs))

  /** Before the timed region: collect twice, so objects Spark's context
    * cleaner releases after the first collection (set-up's broadcasts and
    * shuffles) are gone before the first round. */
  def settle(): Unit = { System.gc(); Thread.sleep(200); System.gc() }

  /** Opens `round` (if not open yet) at the current time. */
  def open(round: Int): Unit = if (!rounds.contains(round)) rounds(round) = (uptime(), uptime())

  /** Ends a timed operation of `round`: a full collection, whose figure
    * closes the round for now (a later `collect` of the same round extends
    * it). */
  def collect(round: Int): Unit = {
    open(round)
    val t0 = uptime()
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (!notified(t0) && System.nanoTime() < deadline) Thread.sleep(5)
    val t1 = uptime()
    rounds(round) = (rounds(round)._1, t1)
    left += events.synchronized(events.filter(_._1 >= t0).map(_._2).lastOption)
      .getOrElse(heapUsedNow() / MB)
  }

  private def heapUsedNow(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum

  def leftMb: Seq[Double] = left.toSeq
  def roundPeaksMb: Seq[Double] = {
    val ev = events.synchronized(events.toSeq)
    rounds.values.toSeq.map { case (a, b) =>
      ev.collect { case (t, mb) if t >= a && t <= b => mb }.maxOption.getOrElse(0.0)
    }
  }
  def peakMb: Double = Stats.median(roundPeaksMb)
}

/** Janino compile time, from Spark's own codegen histogram. The histogram
  * keeps a sample, so the total is count x sampled mean. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def totalMs(): Double = h.getCount * h.getSnapshot.getMean
}

object Stats {
  /** Median; 0 for no values. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Files2 {
  def copyTree(src: Path, dst: Path): Unit = {
    val it = Files.walk(src)
    try it.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally it.close()
  }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally it.close()
  }
  def treeBytes(p: Path, suffix: String): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val it = Files.walk(p)
    try {
      val fs = it.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally it.close()
  }
  def path(s: String): Path = Paths.get(s)
}

/** Wall-clock stamps of files deleted from one directory (inotify-backed
  * on Linux), for the historical run's per-file commit times. */
final class DeleteWatch(dir: Path) extends AutoCloseable {
  private val ws = dir.getFileSystem.newWatchService()
  dir.register(ws, java.nio.file.StandardWatchEventKinds.ENTRY_DELETE)
  val deleted = mutable.LinkedHashMap[String, Long]()
  private val thread = new Thread(() => {
    try {
      while (true) {
        val key = ws.take()
        val t = System.nanoTime()
        key.pollEvents().asScala.foreach { e =>
          val name = e.context().toString
          deleted.synchronized { deleted.getOrElseUpdate(name, t) }
        }
        key.reset()
      }
    } catch { case _: InterruptedException | _: java.nio.file.ClosedWatchServiceException => () }
  }, "perfbench-delete-watch")
  thread.setDaemon(true)
  thread.start()
  def snapshot(): Map[String, Long] = deleted.synchronized(deleted.toMap)
  def close(): Unit = { ws.close(); thread.interrupt(); thread.join(2000) }
}
