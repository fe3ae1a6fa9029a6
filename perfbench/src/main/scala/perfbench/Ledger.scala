package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Work counts of one job group (one phase of one operation). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var failedStages = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var standingScans = 0L
  /** (submission, completion) wall-clock ms of every stage that ran. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; failedStages += o.failedStages
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    standingScans += o.standingScans
    stageSpans ++= o.stageSpans
  }
}

/** A SparkListener that attributes every job, stage and task to the job
  * group the benchmark set on the thread that launched it. Operations
  * set one group per phase (`<op>:<phase>`); threads the operators
  * start inherit the group, so their jobs are attributed too. SQL
  * executions whose physical plan reads a standing table (`graft_*`)
  * are counted per group as well.
  */
final class Ledger extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execStanding = new ConcurrentHashMap[Long, java.lang.Boolean]()
  private val execCounted = ConcurrentHashMap.newKeySet[Long]()
  private val StandingScan = """(?i)\bgraft_\w+""".r

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val s = stats(g)
      s.synchronized {
        s.jobs += 1
        for {
          p <- props
          id <- Option(p.getProperty("spark.sql.execution.id"))
          exec = id.toLong
          if execStanding.getOrDefault(exec, false) && execCounted.add(exec)
        } s.standingScans += 1
      }
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageGroup.get(info.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized {
        s.stages += 1
        if (info.failureReason.isDefined) s.failedStages += 1
        for (a <- info.submissionTime; b <- info.completionTime) s.stageSpans += ((a, b))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      if (StandingScan.findFirstIn(s.physicalPlanDescription).isDefined)
        execStanding.put(s.executionId, true)
    case _ => ()
  }

  /** Sum of the groups whose name starts with `prefix`. */
  def collect(prefix: String): GroupStats = {
    val out = new GroupStats
    groups.asScala.foreach { case (g, s) => if (g.startsWith(prefix)) s.synchronized(out.add(s)) }
    out
  }
}

/** One traced span: a layer boundary crossed by the benchmark. */
final case class Span(op: Long, name: String, parent: String, startMs: Double, endMs: Double)

/** In-memory span store, written out once when the run ends. */
final class Spans(t0: Long) {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def ms(ns: Long): Double = (ns - t0) / 1e6
  def add(op: Long, name: String, parent: String, startNs: Long, endNs: Long): Unit =
    buf.add(Span(op, name, parent, ms(startNs), ms(endNs)))
  def all: Seq[Span] = buf.asScala.toSeq
}
