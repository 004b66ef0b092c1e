package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the traced run. Spans nest through a stack
  * on the driver thread and share one run id. Each span also sets the
  * Spark job group, so stage metrics are attributed to the innermost span
  * that started the job. */
final class Tracer(val runId: String, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]

  private def enterGroup(): Unit = stack.headOption match {
    case Some((_, name)) => sc.setJobGroup(name, s"$runId $name")
    case None => sc.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    spans += Span(id, parent, name, System.nanoTime(), -1L)
    stack = (id, name) :: stack
    enterGroup()
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      enterGroup()
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time: own duration minus the durations of direct children. */
  def selfNs(s: Span): Long = s.ns - spans.iterator.filter(_.parent == s.id).map(_.ns).sum

  def toJson: String = Json(Map(
    "run_id" -> runId,
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s)))))
}

/** Stage figures of one job group (one traced span). */
final case class GroupStats(wallS: Double, taskS: Double, shuffleWriteBytes: Long,
                            shuffleReadBytes: Long, spillBytes: Long, gcS: Double,
                            fetchWaitS: Double, taskSkew: Double, cpuUtil: Double) {
  def metrics(prefix: String): Map[String, Double] =
    GroupStats.Fields.map(_._1).zip(Seq(wallS, taskS, shuffleWriteBytes.toDouble,
      shuffleReadBytes.toDouble, spillBytes.toDouble, gcS, fetchWaitS, taskSkew, cpuUtil))
      .map { case (f, v) => s"$prefix.$f" -> v }.toMap
}

object GroupStats {
  /** Field names and units, in report order. */
  val Fields: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "shuffle_write_bytes" -> "B", "shuffle_read_bytes" -> "B", "spill_bytes" -> "B",
    "gc_s" -> "s", "fetch_wait_s" -> "s", "task_skew" -> "ratio", "cpu_util" -> "ratio")

  /** A layer the workload never calls: every figure is zero. */
  val Absent: GroupStats = GroupStats(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** SparkListener that keeps per-task metrics keyed by stage, and the job
  * group of every stage, for the whole session. */
final class StageRecorder(nproc: Int) extends SparkListener {
  import StageRecorder._

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    jobs.put(e.jobId, Job(group, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(Task(e.stageId, m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.shuffleReadMetrics.fetchWaitTime))
  }

  def group(sc: SparkContext, name: String): GroupStats = {
    org.apache.spark.ListenerDrain(sc)
    val js = jobs.values.asScala.filter(j => j.group == name && j.endMs >= 0).toSeq
    if (js.isEmpty) return GroupStats.Absent
    val wallS = (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3
    val ts = tasks.asScala.filter(t => stageGroup.get(t.stage) == name).toSeq
    val taskS = ts.map(_.runMs).sum / 1e3
    // skew of the stage that holds the most task time: max / median task time
    val skew = if (ts.isEmpty) 0.0 else {
      val run = ts.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble).sorted
      val med = run(run.length / 2)
      if (med > 0) run.last / med else 1.0
    }
    GroupStats(wallS, taskS, ts.map(_.swBytes).sum, ts.map(_.srBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.fetchWaitMs).sum / 1e3, skew,
      if (wallS > 0) taskS / (wallS * nproc) else 0.0)
  }
}

object StageRecorder {
  private final case class Task(stage: Int, runMs: Long, gcMs: Long, swBytes: Long,
                                srBytes: Long, spillBytes: Long, fetchWaitMs: Long)
  private final case class Job(group: String, startMs: Long, var endMs: Long)
}
