package graft.plans

import java.util.concurrent.TimeoutException
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSqlBridge

/** Per-phase shuffle/input attribution: job-group ids → stage ids → task
  * metrics. Extracted from ScaleEvidence (round 5) so RunPipeline's
  * `--posture scale` mode reports the same per-phase table the at-scale
  * evidence harness does, from the same listener.
  */
final class PhaseMetrics extends SparkListener {
  private val stageToGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val shuffleRead = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val shuffleWrite = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val inputBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val group = Option(jobStart.properties)
      .map(_.getProperty("spark.jobGroup.id", "ungrouped")).getOrElse("ungrouped")
    jobStart.stageInfos.foreach(si => stageToGroup.put(si.stageId, group))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val g = stageToGroup.getOrDefault(sc.stageInfo.stageId, "ungrouped")
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.merge(g, m.shuffleReadMetrics.totalBytesRead, (a, b) => a + b)
      shuffleWrite.merge(g, m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
      inputBytes.merge(g, m.inputMetrics.bytesRead, (a, b) => a + b)
    }
  }
}

object PhaseMetrics {
  /** Listener events arrive asynchronously, so counters read right after a
    * phase can miss its last stages: drain the bus first. Every stage of a
    * finished job has posted its completion event by then. The wait is
    * bounded: a bus still behind after `timeoutMs` is reported on stderr
    * and the counters are read as they stand, so the metrics never fail
    * the job they measure. */
  def settle(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try GraftSqlBridge.drainListeners(sc, timeoutMs)
    catch {
      case _: TimeoutException =>
        System.err.println(s"[phase-metrics] listener bus not drained in $timeoutMs ms; " +
          "phase counters may be short")
    }
}
