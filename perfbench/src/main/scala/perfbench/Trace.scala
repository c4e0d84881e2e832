package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one statement share `req`;
  * `parent` is the span that caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time of each span: its duration minus the part of its own
    * interval that its children cover (overlapping children count
    * once, and a child's part outside the parent is ignored). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { p =>
      val covered = kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs)))
        .filter { case (s, e) => e > s }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach)
          else (sum + e - math.max(s, reach), e)
        }._1
      p.id -> (p.durNs - covered)
    }.toMap
  }
}

/** Records spans in memory while enabled; a no-op otherwise. Spans are
  * written out once, when the run ends. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](name: String, req: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, req, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.id)
  }
}

/** Spark job, stage and task counters of one statement. */
final case class ExecCounters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    peakExecMem: Long = 0)

/** Collects job, stage and task counters and attributes them to
  * statements by Spark job group. The engine runs every statement in
  * the group `graft-qid-<query_id>`; callers that bypass the engine
  * set a group of the same shape themselves. */
final class JobCounters extends SparkListener {
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, ExecCounters]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def bump(g: String)(f: ExecCounters => ExecCounters): Unit =
    byGroup.compute(g, (_, c) => f(Option(c).getOrElse(ExecCounters())))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach(g => bump(g)(c => c.copy(jobs = c.jobs + 1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { g =>
      stageGroup.put(e.stageInfo.stageId, g)
      bump(g)(c => c.copy(stages = c.stages + 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics))
      bump(g)(c => c.copy(
        tasks = c.tasks + 1,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)))

  /** Counters of `group`, after every event posted so far has arrived. */
  def of(sc: org.apache.spark.SparkContext, group: String): ExecCounters = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Option(byGroup.get(group)).getOrElse(ExecCounters())
  }
}
