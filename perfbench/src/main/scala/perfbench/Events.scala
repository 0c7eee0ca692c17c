package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A benchmark-registered listener. It records events with their own
  * timestamps while `recording` is set; attribution to spans happens
  * after the run. */
final class Events extends SparkListener {
  @volatile var recording = false
  private val out = ArrayBuffer.empty[String]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  private def add(kind: String, kv: (String, Long)*): Unit = synchronized {
    if (recording)
      out += Json.obj(("kind" -> Json.str(kind)) +: kv.map { case (k, v) => k -> v.toString }: _*)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = synchronized(jobStart.remove(e.jobId)).getOrElse(e.time)
    add("job", "start_ms" -> start, "end_ms" -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    add("stage", "t_ms" -> i.completionTime.getOrElse(0L), "tasks" -> i.numTasks.toLong)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null)
      add("task", "t_ms" -> i.finishTime, "launch_ms" -> i.launchTime,
        "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => add("sql", "t_ms" -> s.time)
    case _ =>
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def json: String = synchronized(Json.arr(out.toSeq))
}

object Events {
  def install(spark: SparkSession): Events = {
    val ev = new Events
    spark.sparkContext.addSparkListener(ev)
    ev
  }
}
