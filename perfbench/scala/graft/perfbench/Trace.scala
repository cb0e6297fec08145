package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around every call the benchmark makes into a layer.
  * Off in untraced runs (the call runs bare). Written out once, at the
  * end of the run; self time is derived offline from parent links. */
object Spans {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long, pass: String)

  @volatile var enabled = false
  @volatile var pass = "setup"
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized(done += Span(id, parent, name, t0, t1, pass))
      }
    }

  def all: Seq[Span] = synchronized(done.toList)
}

/** Work census from Spark's public listener interfaces: the scheduler
  * (`exec.*`), Catalyst phase timings per action (`planner.*`) and
  * streaming progress (`streaming.*`). Counters only grow; callers take
  * deltas between two `snapshot`s, each read after the bus has drained. */
final class Census extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  // closed job intervals in epoch millis, for the in-job/driver split
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = synchronized(c(k) = c(k) + v)

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  /** Milliseconds of [t0, t1] (epoch millis) covered by at least one job. */
  def inJobMillis(t0: Long, t1: Long): Long = synchronized {
    val clipped = jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("exec.jobs") += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("exec.stages") += 1
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("exec.tasks") += 1
    if (!e.taskInfo.successful) c("exec.tasks_failed") += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
      c("exec.task_wait_s") += math.max(0L, e.taskInfo.launchTime - s) / 1e3
    }
    val m = e.taskMetrics
    if (m != null) {
      c("exec.task_cpu_s") += m.executorCpuTime / 1e9
      c("exec.task_run_s") += m.executorRunTime / 1e3
      c("exec.gc_s") += m.jvmGCTime / 1e3
      c("exec.input_bytes") += m.inputMetrics.bytesRead.toDouble
      c("exec.output_bytes") += m.outputMetrics.bytesWritten.toDouble
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      c("exec.shuffle_records") += m.shuffleWriteMetrics.recordsWritten.toDouble
      c("exec.spill_bytes") += m.diskBytesSpilled.toDouble
      c("exec.result_bytes") += m.resultSize.toDouble
    }
  }
  // Streaming progress reaches every SparkListener through the shared bus,
  // including queries started from derived sessions (`spark.newSession()`),
  // which a per-session StreamingQueryListener would miss.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      add("streaming.batches", 1)
      add("streaming.batch_s", p.progress.batchDuration / 1e3)
      add("streaming.rows_in", p.progress.numInputRows.toDouble)
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    c("planner.actions") += 1
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => c(s"planner.${p}_s") += s.durationMs / 1e3)
    }
  }
}
