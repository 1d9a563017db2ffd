package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call. Spans of one repetition share `rep`. */
final case class Span(rep: Int, name: String, parent: String, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span runs under its own Spark job group
  * (`<rep>:<name>`), so [[EngineListener]] can attribute tasks to it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[String]()

  def span[T](rep: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse("")
      val sc = spark.sparkContext
      val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(Tracer.group(rep, name), name, interruptOnCancel = false)
      stack.push(name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(rep, name, parent, t0, t1)
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Span time minus the time of its direct children, per (rep, name). */
  def selfSecs(rep: Int, name: String): Double = {
    val own = spans.filter(s => s.rep == rep && s.name == name)
    own.map(_.secs).sum - spans.filter(s => s.rep == rep && s.parent == name).map(_.secs).sum
  }
}

object Tracer {
  def group(rep: Int, name: String): String = s"$rep:$name"
}

/** Task, stage and job accounting per job group, from Spark's listener
  * bus. Jobs of a streaming micro-batch are keyed by their batch id. */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs, stages = 0L
    var runMs, gcMs, shuffleWrite, spill, bytesRead = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private val byGroup = mutable.HashMap[String, Acc]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageBatch = mutable.HashMap[Int, Long]()
  val batchJobs = mutable.HashMap[Long, Int]()
  /** micro-batch id -> (launch, finish) wall-clock ms of each of its tasks */
  val batchTasks = mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Long)]]()

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      batchJobs(b.toLong) = batchJobs.getOrElse(b.toLong, 0) + 1
      e.stageIds.foreach(stageBatch(_) = b.toLong)
    }
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.taskMs += e.taskInfo.duration
    stageBatch.get(e.stageId).foreach { b =>
      batchTasks.getOrElseUpdate(b, mutable.ArrayBuffer()) += e.taskInfo.launchTime -> e.taskInfo.finishTime
    }
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }

  /** Totals over every group whose name satisfies `p`. */
  def sum(p: String => Boolean): Acc = synchronized {
    val out = new Acc
    byGroup.foreach { case (g, a) if p(g) =>
      out.jobs += a.jobs; out.stages += a.stages
      out.runMs += a.runMs; out.gcMs += a.gcMs; out.shuffleWrite += a.shuffleWrite
      out.spill += a.spill; out.bytesRead += a.bytesRead; out.taskMs ++= a.taskMs
    case _ => ()
    }
    out
  }
  def group(g: String): Acc = sum(_ == g)
}

/** Join strategies and exchanges of each executed query's final plan. */
final case class PlanShape(smj: Int, shj: Int, bhj: Int, exchanges: Int)

object PlanShape {
  def of(plan: SparkPlan): PlanShape = {
    var smj, shj, bhj, ex = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => ex += 1
        case _ =>
          p match {
            case _: SortMergeJoinExec => smj += 1
            case _: ShuffledHashJoinExec => shj += 1
            case _: BroadcastHashJoinExec => bhj += 1
            case _: ShuffleExchangeLike => ex += 1
            case _ => ()
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    PlanShape(smj, shj, bhj, ex)
  }
}

/** Records the final plan shape of every successful action, tagged with
  * whatever label is current when it finishes. */
final class PlanListener extends QueryExecutionListener {
  @volatile var label: String = ""
  val shapes = mutable.ArrayBuffer[(String, PlanShape)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { shapes += label -> PlanShape.of(qe.executedPlan) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of the live query. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
