package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One benchmark span: the run, an op, or a call the benchmark makes into
  * one of the program's modules. Times are epoch milliseconds so they line
  * up with the scheduler's job and task timestamps. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, var end: Long = -1L)

/** Span recorder. The innermost open span's id is published as the Spark
  * local property [[Spans.Prop]], so every job a call starts (including
  * jobs submitted from pool threads the call creates, which inherit local
  * properties) names the span that caused it. */
final class Spans(sc: org.apache.spark.SparkContext) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def spans: Seq[Span] = synchronized(all.toList)
  /** Id of the innermost open span, or -1. */
  def current: Int = synchronized(stack.headOption.map(_.id).getOrElse(-1))

  def apply[T](kind: String, name: String)(f: => T): T = {
    val s = synchronized {
      val sp = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), kind, name,
        System.currentTimeMillis())
      all += sp
      stack = sp :: stack
      sp
    }
    sc.setLocalProperty(Spans.Prop, s.id.toString)
    try f
    finally synchronized {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Spans.Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Spans { val Prop = "perfbench.span" }

/** Bytes held in RDD blocks, persisted or checkpointed: its peak over the
  * measured window, and how many RDDs stored a block in it. Registered in
  * every run, traced or not, because `storage_peak_mb` is an end-to-end
  * metric. */
final class StorageListener extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private val filled = mutable.HashSet.empty[Int]
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) =>
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        total += bytes - blocks.getOrElse(info.blockId.name, 0L)
        if (bytes > 0) { blocks(info.blockId.name) = bytes; filled += rdd }
        else blocks.remove(info.blockId.name)
        peakBytes = math.max(peakBytes, total)
      case _ =>
    }
  }

  /** Start a new window: the peak restarts from what is held now. */
  def reset(): Unit = synchronized { peakBytes = total; filled.clear() }
  def peakMb: Double = synchronized(peakBytes / 1e6)
  def fills: Int = synchronized(filled.size)
}

/** Job, stage and task events of a traced run, each job charged to the
  * benchmark span that was open when it started and to the program module
  * whose source file holds the job's action call site. SQL jobs take the
  * call site of their SQL execution (captured on the thread that ran the
  * action, so broadcast and subquery jobs launched from Spark's own pools
  * are charged to the same action); other jobs take their result stage's
  * call site. */
final class TraceListener(moduleOfFile: String => String) extends SparkListener {
  import TraceListener.{Job, Task}

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  var stagesRun = 0
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlCallSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlCallSite(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => sqlCallSite.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val span = prop(Spans.Prop).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(e.jobId, span, moduleOfFile(TraceListener.fileOf(site)), site, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val job = stageJob.getOrElse(e.stageId, -1)
    if (m != null) tasks += Task(job, i.launchTime, i.finishTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.resultSize)
    else tasks += Task(job, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }
}

object TraceListener {
  final case class Job(id: Int, span: Int, module: String, callSite: String,
      start: Long, var end: Long = -1L)
  final case class Task(job: Int, launch: Long, finish: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
      input: Long, output: Long, resultBytes: Long)

  /** "collect at JsonOut.scala:21" -> "JsonOut.scala". */
  def fileOf(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val loc = if (at >= 0) callSite.substring(at + 4) else callSite
    loc.takeWhile(_ != ':').trim
  }
}

/** Catalyst phase times of every executed query, from its
  * `QueryExecution.tracker`. */
final class CatalystListener extends QueryExecutionListener {
  val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var queries = 0
  private def add(qe: QueryExecution): Unit = synchronized {
    queries += 1
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs(phase) += summary.durationMs
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Interval arithmetic over [start, end) millisecond intervals. */
object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi). */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
