package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span store. Spans stay in memory and are written out when the run ends.
  * Times are epoch microseconds on one monotonic clock ([[Clock]]), so they
  * line up with Spark's own event times (epoch milliseconds).
  */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, attrs: Map[String, Any])
  private val buf  = mutable.ArrayBuffer.empty[Span]
  private var next = 1

  def add(parent: Int, name: String, start: Long, end: Long, attrs: Map[String, Any] = Map.empty): Int =
    synchronized {
      val id = next
      next += 1
      buf += Span(id, parent, name, start, end, attrs)
      id
    }

  def all: Vector[Span] = synchronized(buf.toVector)
}

object Clock {
  private val baseNano  = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis() * 1000L

  /** Epoch microseconds for a `System.nanoTime` reading. */
  def us(nano: Long): Long = baseEpoch + (nano - baseNano) / 1000L
  def now: Long            = us(System.nanoTime())
}

/** Spark-side numbers for the traced run, from two public hooks the
  * benchmark registers itself: a [[SparkListener]] for jobs, stages and
  * tasks, and a [[QueryExecutionListener]] whose planning tracker gives the
  * Catalyst phase times of every executed query.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class StageAcc {
    var runMs, cpuNs, gcMs, schedMs, shufW, shufR, spill, inBytes = 0L
    var failedTasks                                                 = 0
    val taskMs                                                      = mutable.ArrayBuffer.empty[Long]
  }
  final case class Job(id: Int, group: String, callSite: String, start: Long, var end: Long, stages: Seq[Int], var ok: Boolean)
  final case class Stage(id: Int, attempt: Int, name: String, tasks: Int, submit: Long, complete: Long, failed: Boolean)
  final case class Plan(func: String, phases: Map[String, (Long, Long)], ok: Boolean)

  private val accs   = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val jobs   = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[(Stage, StageAcc)]
  private val plans  = mutable.ArrayBuffer.empty[Plan]

  private def acc(stage: Int, attempt: Int): StageAcc =
    accs.computeIfAbsent((stage, attempt), _ => new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // a job's result stage is named after the job's short call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(e.jobId, group, site, e.time * 1000L, -1L, e.stageIds, ok = true)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time * 1000L
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(e.stageId, e.stageAttemptId)
    a.synchronized {
      val info = e.taskInfo
      if (info != null && info.failed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        if (info != null) {
          val dur = info.finishTime - info.launchTime
          a.taskMs += dur
          a.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = Stage(i.stageId, i.attemptNumber(), i.name, i.numTasks,
      i.submissionTime.getOrElse(-1L) * 1000L, i.completionTime.getOrElse(-1L) * 1000L,
      i.failureReason.isDefined)
    stages += ((s, acc(i.stageId, i.attemptNumber())))
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs * 1000L, v.endTimeMs * 1000L)) }
    synchronized(plans += Plan(func, ph, ok))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  /** JSON of every recorded job, stage and planned query. */
  def json: Json.Raw = synchronized {
    val js = jobs.values.map { j =>
      Json.obj("id" -> j.id, "group" -> j.group, "call_site" -> j.callSite, "start" -> j.start,
        "end" -> j.end, "ok" -> j.ok, "stages" -> j.stages)
    }
    val ss = stages.map { case (s, a) =>
      a.synchronized {
        val sorted = a.taskMs.sorted
        val med    = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
        Json.obj("id" -> s.id, "attempt" -> s.attempt, "name" -> s.name.takeWhile(_ != '\n').take(80),
          "tasks" -> s.tasks, "submit" -> s.submit, "complete" -> s.complete, "failed" -> s.failed,
          "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "sched_ms" -> a.schedMs,
          "shuffle_write" -> a.shufW, "shuffle_read" -> a.shufR, "spill" -> a.spill,
          "input_bytes" -> a.inBytes, "failed_tasks" -> a.failedTasks,
          "task_max_ms" -> sorted.lastOption.getOrElse(0L), "task_median_ms" -> med)
      }
    }
    val ps = plans.map { p =>
      Json.obj("func" -> p.func, "ok" -> p.ok,
        "phases" -> Json.obj(p.phases.toSeq.map { case (k, (a, b)) => k -> Seq(a, b) }: _*))
    }
    Json.obj("jobs" -> js.toSeq, "stages" -> ss.toSeq, "plans" -> ps.toSeq)
  }
}

/** Minimal JSON writer (objects are pre-rendered strings). */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null                 => "null"
    case Raw(s)               => s
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case xs: Iterable[_]      => xs.map(value).mkString("[", ",", "]")
    case other                => str(other.toString)
  }
  def obj(kvs: (String, Any)*): Raw = Raw(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
