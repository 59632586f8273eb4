package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder plus one SparkListener for the traced run.
  *
  * A span is opened around each call the benchmark makes into a layer
  * (query build / plan / execute, one sync run, one IVM apply). Spans keep
  * name, start, end and parent in memory and are written once at exit. The
  * innermost open span id rides on every Spark job as a local property, so
  * each job -- and through its stages, each task -- is attributed to the
  * exact call that launched it, with no reliance on timestamps. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> the call site that started it (AQE submits its
    * query-stage jobs from a pool thread, so their own stage names do not
    * name the repo frame; the execution they belong to does). */
  private val execSite = mutable.HashMap.empty[Long, String]

  sc.addSparkListener(this)

  def span[A](name: String)(body: => A): A = {
    val id = spansBuf.size
    val parent = stack.headOption.getOrElse(-1)
    spansBuf += Span(id, name, parent, System.nanoTime(),
      System.currentTimeMillis(), 0L, 0L)
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val s = spansBuf(id)
      spansBuf(id) = s.copy(endNs = System.nanoTime(),
        endMs = System.currentTimeMillis())
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Wait for the listener bus, then detach. */
  def close(): Unit = {
    org.apache.spark.graftshim.ListenerBusAccess.drain(sc)
    sc.removeSparkListener(this)
  }

  def spans: Seq[Span] = spansBuf.toSeq
  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq)

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spansBuf.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Jobs launched while `root` or one of its descendants was innermost. */
  def jobsUnder(root: Int): Seq[Job] = {
    val ids = subtree(root)
    jobs.filter(j => ids.contains(j.span))
  }

  /** Self time per span name: duration minus the part covered by children. */
  def selfTimeMs: Map[String, Double] = {
    val kids = spansBuf.groupBy(_.parent)
    spansBuf.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durMs - kids.getOrElse(s.id, Nil).map(_.durMs).sum).sum
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val own = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).name
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = execSite.get(execId).filter(_.contains(".scala:")).getOrElse(own)
    jobsById(e.jobId) = new Job(e.jobId, span, execId, site, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobsById.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobsById.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        startMs: Long, endNs: Long, endMs: Long) {
    def durMs: Double = (endNs - startNs) / 1e6
  }

  final class Job(val id: Int, val span: Int, val execId: Long,
                  val callSite: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks = 0L
    var cpuNs, runMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
    def durMs: Double = (endMs - startMs).toDouble
    /** "count at SyncJob.scala:155" -> ("count", "SyncJob") */
    def site: (String, String) = {
      val op = callSite.takeWhile(_ != ' ')
      val file = "at ([A-Za-z0-9_$]+)\\.scala".r.findFirstMatchIn(callSite)
        .map(_.group(1)).getOrElse("")
      (op, file)
    }
  }

  /** Wall time covered by the union of the jobs' [start, end] intervals. */
  def coveredMs(js: Seq[Job]): Double = {
    val iv = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }

  /** Engine counters summed over `js`. */
  def counters(js: Seq[Job]): Map[String, Double] = Map(
    "spark.jobs" -> js.size.toDouble,
    "spark.stages" -> js.map(_.stages).sum.toDouble,
    "spark.tasks" -> js.map(_.tasks).sum.toDouble,
    "spark.executor_cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
    "spark.executor_run_ms" -> js.map(_.runMs).sum.toDouble,
    "spark.gc_ms" -> js.map(_.gcMs).sum.toDouble,
    "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
    "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
    "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
    "spark.input_bytes" -> js.map(_.input).sum.toDouble,
    "spark.output_bytes" -> js.map(_.output).sum.toDouble)
}
