package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. Spans of one batch or query share `op`; `parent`
  * is the id of the span that caused this one (-1 for the run span).
  * Times are epoch milliseconds; `selfMs` is the span's self time (see
  * [[Layers.op]]).
  */
final case class Span(id: Int, parent: Int, op: String, kind: String,
    name: String, startMs: Double, endMs: Double, selfMs: Double)

/** Executor-side totals of one Spark stage, from its task-end events. */
final class StageAgg(val id: Int, val attempt: Int, val group: String) {
  var submitMs = 0.0
  var endMs = 0.0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** max ÷ median task time; 1 for stages of fewer than two tasks. */
  def skew: Double =
    if (taskMs.size < 2) 1.0
    else {
      val s = taskMs.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
}

final class JobAgg(val id: Int, val group: String, val startMs: Double,
    val stageIds: Seq[Int]) {
  var endMs = 0.0
}

/** Planning-phase times of one query execution (`QueryPlanningTracker`). */
final case class PlanTimes(analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Listener side of the traced run. Every job the harness runs carries a
  * job group naming its batch or query; jobs, stages and tasks are
  * attributed through it. Events are only read after [[drain]] returned.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val plans = mutable.ArrayBuffer.empty[PlanTimes]
  private val markerJobs = mutable.HashSet.empty[Int]
  @volatile private var latch = new CountDownLatch(1)

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    if (g == Marker) markerJobs += e.jobId
    else {
      jobs(e.jobId) = new JobAgg(e.jobId, g, e.time.toDouble, e.stageIds)
      e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    if (markerJobs.remove(e.jobId)) latch.countDown()
  }

  private def stage(id: Int, attempt: Int): Option[StageAgg] =
    stageGroup.get(id).map(g =>
      stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt, g)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).foreach { s =>
        s.submitMs = i.submissionTime.getOrElse(0L).toDouble
        s.endMs = i.completionTime.getOrElse(0L).toDouble
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).foreach { s =>
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    plans += PlanTimes(ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Waits until every event posted before this call was delivered: runs a
    * one-task marker job and waits for its end event, which the listener
    * bus delivers after all earlier events of the shared queue.
    */
  def drain(): Unit = {
    latch = new CountDownLatch(1)
    val prev = sc.getLocalProperty(GroupKey)
    sc.setJobGroup(Marker, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(GroupKey, prev)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  /** Planning records delivered since the last call. */
  def takePlans(): Seq[PlanTimes] = synchronized {
    val r = plans.toList
    plans.clear()
    r
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val Marker = "perfbench-drain"
}

/** Spark-side totals of one traced batch or query. */
final case class OpLayer(op: String, wallMs: Double, jobs: Int, stages: Int,
    tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    inputRows: Long, skew: Double, selfMs: Double, selfSumErr: Double,
    spans: Seq[Span])

object Layers {
  /** Largest allowed |Σ self − wall| ÷ wall of one op: rounding only. */
  val SelfSumTolerance = 1e-6

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (s, e) = (Double.NaN, Double.NaN)
    c.foreach { case (a, b) =>
      if (s.isNaN || a > e) {
        if (!s.isNaN) total += e - s
        s = a; e = b
      } else e = math.max(e, b)
    }
    if (!s.isNaN) total += e - s
    total
  }

  /** Builds the op → job → stage span tree of one batch or query and its
    * Spark totals. Self time is the part of a span's duration that none of
    * its children covers. Where siblings overlap (AQE broadcast jobs beside
    * the main job, concurrent stages of one job), each instant is split
    * evenly among the siblings running then, so the self times of an op's
    * spans add up to its wall time by construction; `selfSumErr`,
    * |Σ self − wall| ÷ wall, is rounding only. The op's own self time is
    * the time no job of it runs.
    */
  def op(t: Tracer, op: String, startMs: Double, endMs: Double,
      nextId: () => Int, runSpan: Int): OpLayer = t.synchronized {
    val js = t.jobs.values.filter(_.group == op).toSeq
    val ss = t.stages.values.filter(_.group == op).toSeq
    val wall = endMs - startMs
    // times relative to the op's start, clipped to the parent span, so
    // the segment lengths below sum without epoch-sized rounding
    def clip(a: Double, b: Double, lo: Double, hi: Double) =
      (math.max(a - startMs, lo), math.min(b - startMs, hi))
    val jobIv = js.map(j => clip(j.startMs, j.endMs, 0, wall))
    // a stage that several jobs list belongs to the first of them
    val stages = js.zip(jobIv).map { case (j, (lo, hi)) =>
      ss.filter(s => js.find(_.stageIds.contains(s.id)).contains(j))
        .map(s => s -> clip(s.submitMs, s.endMs, lo, hi))
    }
    var opSelf = 0.0
    val jobSelf = Array.fill(js.size)(0.0)
    val stageSelf = stages.map(st => Array.fill(st.size)(0.0))
    val cuts = (Seq(0.0, wall) ++ jobIv.flatMap(iv => Seq(iv._1, iv._2)) ++
      stages.flatten.flatMap(x => Seq(x._2._1, x._2._2)))
      .filter(x => x >= 0 && x <= wall).distinct.sorted
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val mid = (a + b) / 2
      def on(iv: (Double, Double)) = iv._1 < mid && mid < iv._2
      val running = jobIv.indices.filter(i => on(jobIv(i)))
      if (running.isEmpty) opSelf += b - a
      running.foreach { i =>
        val share = (b - a) / running.size
        val st = stages(i).indices.filter(k => on(stages(i)(k)._2))
        if (st.isEmpty) jobSelf(i) += share
        st.foreach(k => stageSelf(i)(k) += share / st.size)
      }
    }
    val opId = nextId()
    val spans = mutable.ArrayBuffer(
      Span(opId, runSpan, op, "op", op, startMs, endMs, opSelf))
    js.indices.foreach { i =>
      val jid = nextId()
      val (lo, hi) = jobIv(i)
      spans += Span(jid, opId, op, "job", s"job ${js(i).id}",
        startMs + lo, startMs + math.max(lo, hi), jobSelf(i))
      stages(i).indices.foreach { k =>
        val (s, (a, b)) = stages(i)(k)
        spans += Span(nextId(), jid, op, "stage", s"stage ${s.id}.${s.attempt}",
          startMs + a, startMs + math.max(a, b), stageSelf(i)(k))
      }
    }
    val selfSum = opSelf + jobSelf.sum + stageSelf.map(_.sum).sum
    OpLayer(op, wall, js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.runMs).sum,
      ss.map(_.cpuNs).sum / 1e6, ss.map(_.gcMs).sum,
      ss.map(_.shuffleReadBytes).sum, ss.map(_.shuffleWriteBytes).sum,
      ss.map(_.spillBytes).sum, ss.map(_.inputBytes).sum,
      ss.map(_.inputRows).sum, if (ss.isEmpty) 1.0 else ss.map(_.skew).max,
      opSelf, if (wall > 0) math.abs(selfSum - wall) / wall else 0.0,
      spans.toSeq)
  }
}
