package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.SparkAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counters from Spark's own listener bus, kept in memory and read
  * after the bus drains. Jobs and stages are attributed to a time
  * window by their submission time, which is enough because the
  * benchmark's client is single and closed-loop: windows never
  * overlap.
  *
  * `withTasks = false` is the validity guard every run carries: it
  * only sees job starts (with the shuffles each job reads) and stage
  * submissions (with the shuffle each writes), so a timed op that read
  * a shuffle it did not write itself (an earlier op's output, its
  * stage skipped) can be counted as an error. Shuffles, not stage ids,
  * identify the work: adaptive execution runs a query's map stages as
  * jobs of their own, and the query's last job then lists the same
  * shuffles under new, skipped stage ids. `withTasks = true` adds task
  * metrics for the traced run. */
final class JobMeter(withTasks: Boolean) extends SparkListener {
  /** A job and the shuffles its stages write or read. */
  final case class Job(id: Int, timeMs: Long, shuffles: Seq[Int])
  final case class Task(stageId: Int, cpuNs: Long, shuffleBytes: Long,
      spillBytes: Long, recordsRead: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  /** (stage id, shuffle it writes, submission time) */
  private val submitted = new ConcurrentLinkedQueue[(Int, Option[Int], Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageInfos.flatMap(SparkAccess.shuffleOf)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add((e.stageInfo.stageId, SparkAccess.shuffleOf(e.stageInfo),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (withTasks && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(Task(e.stageId, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead))
    }

  /** `shuffles` counts the distinct shuffles the window's jobs use,
    * `reused` those of them no stage of the window wrote. */
  final case class Window(jobs: Int, shuffles: Int, reused: Int, tasks: Int,
      cpuS: Double, shuffleMb: Double, spillMb: Double, recordsRead: Long)

  /** Everything submitted in [startMs, endMs]. */
  def window(startMs: Long, endMs: Long): Window = {
    def in(t: Long) = t >= startMs && t <= endMs
    val js = jobs.asScala.filter(j => in(j.timeMs)).toSeq
    val ss = submitted.asScala.filter(s => in(s._3)).toSeq
    val run = ss.map(_._1).toSet
    val written = ss.flatMap(_._2).toSet
    val used = js.flatMap(_.shuffles).toSet
    val ts = tasks.asScala.filter(t => run.contains(t.stageId)).toSeq
    Window(js.size, used.size, used.count(!written.contains(_)), ts.size,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleBytes).sum / 1048576.0,
      ts.map(_.spillBytes).sum / 1048576.0, ts.map(_.recordsRead).sum)
  }
}

/** Catalyst phase times and graft rule statistics of every executed
  * query, from `QueryPlanningTracker`. */
final class PlanMeter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Rule(timeNs: Long, invocations: Long, effective: Long)
  final case class Query(timeMs: Long, phasesMs: Map[String, Long],
      rules: Map[String, Rule], refine: Option[(Long, Long)])

  private val queries = new ConcurrentLinkedQueue[Query]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    queries.add(Query(System.currentTimeMillis(),
      t.phases.map { case (k, v) => k -> v.durationMs },
      t.rules.collect { case (k, v) if k.startsWith("graft.plans.") =>
        k.stripPrefix("graft.plans.") -> Rule(v.totalTimeNs, v.numInvocations,
          v.numEffectiveInvocations)
      },
      refine(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** (rows kept by the exact refine, candidate pairs) when the plan has
    * an exact-predicate filter directly over an equi-join — the shape
    * the H3 join rewrite produces. None while the join is planned as a
    * nested loop. */
  private def refine(plan: SparkPlan): Option[(Long, Long)] = {
    def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    collectFirst(plan) {
      case f: FilterExec if f.child.isInstanceOf[BroadcastHashJoinExec] ||
          f.child.isInstanceOf[SortMergeJoinExec] ||
          f.child.isInstanceOf[ShuffledHashJoinExec] =>
        for (k <- rows(f); c <- rows(f.child)) yield (k, c)
    }.flatten
  }

  def window(startMs: Long, endMs: Long): Seq[Query] =
    queries.asScala.filter(q => q.timeMs >= startMs && q.timeMs <= endMs).toSeq
}

/** A named interval around a call into one of graft's layers. */
final case class Span(name: String, startMs: Long, endMs: Long, wallS: Double,
    gcS: Double)

/** The traced run's collector: both meters attached, spans kept in
  * memory, and everything read once at the end of the run. */
final class Tracer(spark: SparkSession) {
  val jobs = new JobMeter(withTasks = true)
  val plans = new PlanMeter
  private val spans = mutable.ArrayBuffer[Span]()

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def span[A](name: String)(body: => A): A = {
    val g0 = gcMs()
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(name, s, System.currentTimeMillis(), (t1 - t0) / 1e9, (gcMs() - g0) / 1e3)
    }
  }

  /** The recorded spans of `name`, once every listener event posted so
    * far has arrived, so the meters' windows over them are complete. */
  def spansNamed(name: String): Seq[Span] = {
    Bus.drain(spark.sparkContext)
    spans.filter(_.name == name).toSeq
  }

  def detach(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }
}

object Bus {
  /** Wait until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = SparkAccess.drain(sc)
}
