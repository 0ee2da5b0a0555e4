package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._

import scala.collection.mutable

/** In-memory span and counter recorder for the traced run.
  *
  * Every timed op gets one id, carried to Spark as the local property
  * [[Tracer.OpKey]]; the listener maps each job, stage and task back to that
  * id, so per-op Spark counters are measured where the work happens. Spans
  * are kept in memory and written out once, after the timed phase.
  *
  * When tracing is off nothing is registered and every method is a no-op
  * apart from the id bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  final case class Span(op: Long, name: String, parent: String, startMs: Double, endMs: Double)

  /** Spark-side counters of one op (or of a set-up phase). */
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskWaitMs = 0.0; var taskCpuMs = 0.0; var gcMs = 0.0
    var inputBytes = 0L; var inputRows = 0L
    var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  }

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Long, Counters]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)] // job -> (op, start ms)
  /** (op, start, end) wall-clock ms of every finished job; op -1 = untagged */
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private var sc: SparkContext = _

  private val listener = new SparkListener {
    private def opOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = opOf(e.properties).getOrElse(-1L)
      jobStart(e.jobId) = (op, e.time)
      if (op >= 0) {
        e.stageIds.foreach(stageOp(_) = op)
        countersOf(op).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (op, start) =>
        jobs += ((op, start, e.time))
        if (op >= 0) spans += Span(op, s"job ${e.jobId}", "execute", start.toDouble, e.time.toDouble)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(countersOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = countersOf(op)
        c.tasks += 1
        stageSubmitted.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          c.taskCpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private def countersOf(op: Long): Counters = counters.getOrElseUpdate(op, new Counters)

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) sc.addSparkListener(listener)
  }

  /** Tags every Spark job this thread starts until [[endOp]]. */
  def beginOp(op: Long): Unit = if (sc != null) sc.setLocalProperty(OpKey, op.toString)

  def endOp(): Unit = if (sc != null) sc.setLocalProperty(OpKey, null)

  def span(op: Long, name: String, parent: String, startMs: Double, endMs: Double): Unit =
    if (enabled) lock.synchronized { spans += Span(op, name, parent, startMs, endMs) }

  def countersFor(op: Long): Counters = lock.synchronized(counters.getOrElse(op, new Counters))

  /** Jobs (of any op, or untagged) that started within [startMs, endMs]. */
  def jobsWithin(startMs: Long, endMs: Long): Int =
    lock.synchronized(jobs.count { case (_, a, _) => a >= startMs && a <= endMs })

  /** Wall ms of [startMs, endMs] during which no Spark job ran; `op` >= 0
    * counts only that op's jobs.
    */
  def driverOnlyMs(startMs: Long, endMs: Long, op: Long = -1L): Double = {
    val iv = lock.synchronized(jobs.toVector)
      .collect { case (o, a, b) if op < 0 || o == op => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (endMs - startMs - covered).toDouble
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try lock.synchronized {
      spans.sortBy(s => (s.op, s.startMs)).foreach { s =>
        w.write(Json.render(JObject("op" -> JLong(s.op), "name" -> JString(s.name),
          "parent" -> JString(s.parent), "start_ms" -> JDouble(s.startMs), "end_ms" -> JDouble(s.endMs))))
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}
