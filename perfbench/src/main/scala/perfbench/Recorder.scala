package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Raw event log of one run, written as JSON lines when the run ends.
  * Events are kept in memory while the run measures; `run.py` turns them
  * into spans and metrics. */
final class Recorder {
  private val events = new ConcurrentLinkedQueue[String]()

  def add(fields: (String, Any)*): Unit = events.add(Recorder.json(fields: _*))

  def write(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try events.asScala.foreach { e => w.write(e); w.write('\n') } finally w.close()
  }

  /** jobs, stages and failed tasks, timed by Spark's own event clock */
  val sparkListener: SparkListener = new SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      add("ev" -> "job", "id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      add("ev" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime.getOrElse(0L),
        "done_ms" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
        "failed" -> s.failureReason.isDefined,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success)
        add("ev" -> "task_fail", "stage" -> e.stageId, "time_ms" -> e.taskInfo.finishTime)
  }

  /** Catalyst phase times of every query execution */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.toSeq.sortBy(_._1)
      add("ev" -> "qe", "func" -> funcName, "ok" -> ok,
        "phases" -> phases.map { case (n, p) => Seq(n, p.startTimeMs, p.endTimeMs) })
    }
  }

  /** every micro-batch's progress report, with the time it arrived */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      add("ev" -> "progress", "recv_ms" -> System.currentTimeMillis(),
        "progress" -> JsonMethods.parse(e.progress.json))
  }
}

object Recorder {
  implicit val formats: Formats = DefaultFormats

  /** one JSON object; a field whose value is None is left out */
  def json(fields: (String, Any)*): String = Serialization.write(fields.toMap)
}
