package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Listener counters of one span, or of a set of spans summed. */
final class Counts {
  var jobs, stages, stagesRun, tasks, taskFailures = 0L
  var taskBusyMs, taskCpuNs, gcMs, taskWaitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, outputBytes, peakTaskMem = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; stagesRun += o.stagesRun
    tasks += o.tasks; taskFailures += o.taskFailures
    taskBusyMs += o.taskBusyMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    taskWaitMs += o.taskWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
  }
}

/** A timed call into one layer. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the harness's calls into the program and, as a
  * SparkListener, attributes every job, stage and task to the innermost open
  * span through the job group the span sets. Spans stay in memory until the
  * run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private val counts = mutable.Map[Int, Counts]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, (Long, Int)]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long, Int)]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var cachedBytes, peakCachedBytes = 0L

  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), pass,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open.push(s.id)
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def resetPeakCached(): Unit = synchronized { peakCachedBytes = cachedBytes }
  def peakCachedMb: Double = synchronized { peakCachedBytes / 1048576.0 }

  /** Counters of `s` and every span beneath it. */
  def subtree(s: Span): Counts = synchronized {
    val c = new Counts
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids(x.parent)) ids += x.id)
    ids.foreach(i => counts.get(i).foreach(c += _))
    c
  }

  /** Wall time of `s` during which no Spark job of its subtree was running. */
  def driverOnlySeconds(s: Span): Double = synchronized {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids(x.parent)) ids += x.id)
    val iv = jobIntervals.collect { case (a, b, g) if ids(g) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered, curS, curE = 0L
    var started = false
    iv.foreach { case (a, b) =>
      if (!started) { curS = a; curE = b; started = true }
      else if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (started) covered += curE - curS
    math.max(0L, (s.endMs - s.startMs) - covered) / 1000.0
  }

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  private def bucket(id: Int): Counts = counts.getOrElseUpdate(id, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .flatMap(_.toIntOption).getOrElse(-1)
    val c = bucket(g)
    c.jobs += 1
    c.stages += e.stageInfos.size
    e.stageInfos.foreach(si => stageSpan(si.stageId) = g)
    jobStart(e.jobId) = (e.time, g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, g) => jobIntervals += ((t, e.time, g)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bucket(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stagesRun += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = bucket(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    stageSubmitMs.get(e.stageId).foreach(t =>
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      c.taskBusyMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size > 0) rddBlocks(key) = size else rddBlocks.remove(key)
      peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
    }
  }
}

/** Operator counts read from a physical plan before it runs. Adaptive plans
  * are read at their initial stage plan, which is fixed before any runtime
  * statistics exist. */
final case class PlanStats(exchanges: Int, scans: Int, fallbacks: Int)

object PlanStats {
  def of(plan: SparkPlan): PlanStats = {
    var exchanges, scans, fallbacks = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case _ =>
        p match {
          case _: Exchange | _: ReusedExchangeExec => exchanges += 1
          case _: LeafExecNode => scans += 1
          case _ =>
        }
        p.expressions.foreach(_.foreach {
          case _: CodegenFallback => fallbacks += 1
          case _ =>
        })
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanStats(exchanges, scans, fallbacks)
  }
}
