package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Minimal JSON rendering for the benchmark's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One closed span. `op` is the op execution id ("" outside ops). */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List.empty[Int]

  def apply[T](name: String, op: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      stack = stack.tail
      closed += Span(id, parent, name, op, t0, Clock.nowMs)
    }
  }

  def all: Seq[Span] = closed.toSeq

  def json(s: Span): String = Json.obj(
    "id" -> s.id.toString, "parent" -> s.parent.toString,
    "name" -> Json.str(s.name), "op" -> Json.str(s.op),
    "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))
}

/** Spark listener that keeps, per job and per stage attempt, the times
  * and task-metric sums the per-layer metrics are computed from. Job
  * groups tie jobs, and the stage attempts they submit, to the op
  * execution that launched them. A job also lists stages it skips
  * because their shuffle output already exists; those are never
  * submitted in it, so they are charged only to the op that ran them. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = false
  }
  final class Stage(val id: Int, val attempt: Int) {
    var group: String = ""
    var submitMs: Long = -1L
    var completeMs: Long = -1L
    var tasks: Int = 0
    var failedTasks: Int = 0
    var runMs: Long = 0L
    var gcMs: Long = 0L
    var shuffleReadB: Long = 0L
    var shuffleWriteB: Long = 0L
    var spillB: Long = 0L
    var failed: Boolean = false
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, groupOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.group = groupOf(e.properties)
      s.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.submitMs < 0) s.submitMs = i.submissionTime.getOrElse(-1L)
      s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
      s.failed = i.failureReason.isDefined
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Deterministic drain: first the listener bus (every event posted so
    * far is delivered), then a `JobEnd` for every job the group started.
    * Fails the op when a job is still open at the deadline. */
  def drain(sc: SparkContext, group: String, timeoutMs: Long = 60000L): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc, timeoutMs)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      def open = jobs.values.count(j => j.group == group && j.endMs < 0)
      while (open > 0 && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (open > 0)
        throw new IllegalStateException(s"$open jobs of $group never ended")
    }
  }

  def jobsJson: Seq[String] = synchronized {
    jobs.values.map { j =>
      Json.obj("job" -> j.id.toString, "group" -> Json.str(j.group),
        "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "ok" -> j.ok.toString)
    }.toSeq
  }

  def stagesJson: Seq[String] = synchronized {
    stages.values.map { s =>
      Json.obj("stage" -> s.id.toString, "attempt" -> s.attempt.toString,
        "group" -> Json.str(s.group),
        "submit_ms" -> s.submitMs.toString,
        "complete_ms" -> s.completeMs.toString,
        "tasks" -> s.tasks.toString, "failed_tasks" -> s.failedTasks.toString,
        "run_ms" -> s.runMs.toString, "gc_ms" -> s.gcMs.toString,
        "shuffle_read_b" -> s.shuffleReadB.toString,
        "shuffle_write_b" -> s.shuffleWriteB.toString,
        "spill_b" -> s.spillB.toString, "failed" -> s.failed.toString)
    }.toSeq
  }
}
