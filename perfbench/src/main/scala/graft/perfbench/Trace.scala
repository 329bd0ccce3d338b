package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator
import graft.operators.{DocStage, PipeDoc, StageContext}

/** Task metrics summed over the jobs of one (rep, job group). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var cpuNs = 0L
  /** executor run time of the tasks: the clock [[TimedStage]] times with */
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var failedTasks = 0
  var firstJobMs = Long.MaxValue
  var lastJobMs = 0L
  /** task durations (ms) per stage id */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    failedTasks += o.failedTasks
    firstJobMs = math.min(firstJobMs, o.firstJobMs)
    lastJobMs = math.max(lastJobMs, o.lastJobMs)
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max ÷ median task time over the stage with the most tasks. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ts = taskMs.values.maxBy(_.size).sorted
      val med = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / med
    }
}

/** Attributes every job to the benchmark rep that started it (the
  * `perfbench.rep` local property) and to its Spark job group (the
  * groups `RunPipeline.postureDedupChain` sets per phase). Listener
  * callbacks run on one bus thread; readers drain the bus first
  * (`org.apache.spark.PerfbenchBridge.drainListeners`). */
final class RepListener extends SparkListener {
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val stats = mutable.Map.empty[(String, String), GroupStats]
  private val jobKey = mutable.Map.empty[Int, (String, String)]

  private def at(k: (String, String)) = stats.getOrElseUpdate(k, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val k = (p.map(_.getProperty(RepListener.RepProperty, "")).getOrElse(""),
      p.map(_.getProperty("spark.jobGroup.id", "")).map(g => if (g == null) "" else g).getOrElse(""))
    jobKey(e.jobId) = k
    e.stageIds.foreach(s => stageKey(s) = k)
    val g = at(k)
    g.jobs += 1
    g.firstJobMs = math.min(g.firstJobMs, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach(k => at(k).lastJobMs = math.max(at(k).lastJobMs, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = at(stageKey.getOrElse(e.stageInfo.stageId, ("", "")))
    g.stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      g.cpuNs += m.executorCpuTime
      g.runMs += m.executorRunTime
      g.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.inputBytes += m.inputMetrics.bytesRead
      g.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = at(stageKey.getOrElse(e.stageId, ("", "")))
    if (e.taskInfo.successful)
      g.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    else g.failedTasks += 1
  }

  /** Stats of one rep, summed over the job groups accepted by `group`. */
  def of(rep: String, group: String => Boolean = _ => true): GroupStats = synchronized {
    val out = new GroupStats
    stats.foreach { case ((r, g), s) => if (r == rep && group(g)) out.add(s) }
    out
  }
}

object RepListener {
  val RepProperty = "perfbench.rep"
}

/** Per-stage counters of the traced filter pass. */
final class StageCounters(sc: org.apache.spark.SparkContext, name: String) extends Serializable {
  val nanos: LongAccumulator = sc.longAccumulator(s"$name.nanos")
  val docsIn: LongAccumulator = sc.longAccumulator(s"$name.docs_in")
  val dropped: LongAccumulator = sc.longAccumulator(s"$name.dropped")
}

/** Delegating [[DocStage]]: times the wrapped stage per doc and counts
  * docs in and docs dropped, into task-local accumulator copies that Spark
  * merges once per task. */
final class TimedStage(inner: DocStage, c: StageCounters) extends DocStage {
  val name: String = inner.name
  def process(doc: PipeDoc, ctx: StageContext): PipeDoc = {
    val t0 = System.nanoTime()
    val out = inner.process(doc, ctx)
    c.nanos.add(System.nanoTime() - t0)
    c.docsIn.add(1L)
    if (!out.keep) c.dropped.add(1L)
    out
  }
}

/** A timed interval on the driver. `startNs`/`endNs` are on the
  * System.nanoTime clock; `parent` is the id of the enclosing span, -1 at
  * the root. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out as JSON lines when the run ends. */
final class Spans(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  /** nanoTime minus epoch nanoseconds: maps listener times onto spans. */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def apply[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Record an interval known from listener times (epoch ms). */
  def addEpochMs(name: String, parent: Span, startMs: Long, endMs: Long): Span = {
    val s = Span(spans.size, name, parent.id,
      startMs * 1000000L + clockOffsetNs, endMs * 1000000L + clockOffsetNs)
    spans += s
    s
  }

  /** Duration minus the part of the span covered by its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
