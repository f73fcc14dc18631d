package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it: the span that was open on the
  * submitting thread, its own call site, the call site of the SQL
  * execution it belongs to (`stack`, the long form: jobs that adaptive
  * execution submits from its own threads carry no program frames
  * themselves), its wall interval and the task metrics of its stages. */
final class JobRec(val id: Int, val span: Int, val site: String,
                   val stack: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks, failedTasks = 0
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spillBytes = 0L
  var outBytes, outRecords = 0L
  def seconds: Double = (endMs - startMs) / 1e3
  /** The innermost program frame (`graft.…`) of the call site. */
  def caller: String = stack.linesIterator.map(_.trim)
    .find(_.startsWith("graft.")).getOrElse("")
}

/** Spans around the calls the benchmark makes into the program, kept
  * in memory and read when the run ends. Spans nest run → pass → op →
  * phase; each span is also set as the local property [[Trace.Key]]
  * while it is open, so every job the call submits is linked to it.
  * Disabled, `span` only evaluates its body: untraced runs pay for no
  * listener and no bookkeeping. */
final class Trace(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String,
                        startMs: Double, endMs: Double) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var sc: SparkContext = _
  private var open: List[Int] = List(0) // 0 is the run
  private var next = 0
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val executionSite = mutable.HashMap[Long, String]()

  def attach(context: SparkContext): Unit = if (on) {
    sc = context
    sc.addSparkListener(listener)
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      next += 1
      val id = next
      val parent = open.head
      open = id :: open
      sc.setLocalProperty(Trace.Key, id.toString)
      val t0 = nowMs
      try f
      finally {
        spans += Span(id, parent, name, t0, nowMs)
        open = open.tail
        sc.setLocalProperty(Trace.Key, open.headOption.filter(_ != 0)
          .map(_.toString).orNull)
      }
    }

  /** Wait for every posted listener event; call before reading `jobs`. */
  def drain(): Unit = if (on) PerfbenchBridge.drainListenerBus(sc)

  // The listener bus delivers on one thread; the maps are read only
  // after drain(), so they need no locking.
  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.Key))).map(_.toInt).getOrElse(0)
      val result = e.stageInfos.maxBy(_.stageId)
      val stack = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong)).getOrElse(result.details)
      val j = new JobRec(e.jobId, span, result.name, stack, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executionSite(x.executionId) = x.details
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spillBytes += m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRecords += m.outputMetrics.recordsWritten
        }
      }
  }

  // ---- reading the trace ----

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** The span itself, then its ancestors up to the run. */
  def lineage(id: Int): Iterator[Span] =
    Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).map(_.get)

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  def jobsUnder(id: Int): Seq[JobRec] =
    jobs.values.toSeq.filter(j => lineage(j.span).exists(_.id == id))

  /** Wall seconds of `s` during which no Spark job was running. */
  def idleSeconds(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs.toDouble, s.startMs),
        math.min(j.endMs.toDouble, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (hi.isNaN || a > hi) {
        if (!hi.isNaN) covered += hi - lo
        lo = a; hi = b
      } else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    (s.endMs - s.startMs - covered) / 1e3
  }
}

object Trace {
  val Key = "perfbench.span"
}
