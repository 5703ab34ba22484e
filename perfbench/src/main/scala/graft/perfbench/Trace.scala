package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory trace of one benchmark run.
  *
  * Spans are opened by the harness around each call into a layer and
  * carry (op id, name, parent, start, end). Jobs are attributed to the
  * span that launched them through two local properties, which Spark
  * copies into every job it starts, including jobs started from
  * threads the operators create while the property is set. Task
  * metrics are summed per (op id, phase) by the listener.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = mutable.HashMap.empty[(Int, String), Acc]
  private val stageKey = mutable.HashMap.empty[Int, (Int, String)]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  @volatile private var currentOp = -1
  private val traced = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val opPeakStorage = mutable.HashMap.empty[Int, Long]
  @volatile private var sampling = true

  private val sampler = new Thread(() => {
    while (sampling) {
      val op = currentOp
      if (traced.contains(op)) {
        val used = sc.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum
        opPeakStorage.synchronized {
          if (used > opPeakStorage.getOrElse(op, 0L)) opPeakStorage(op) = used
        }
      }
      Thread.sleep(50)
    }
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)

  private var started = false

  def start(): Unit = {
    started = true
    sc.addSparkListener(this)
    sampler.start()
  }

  /** Record jobs, task metrics and storage of operation `op`. Jobs of
    * other operations pass through the listener untouched, so the
    * difference between traced and untraced operations of one run is
    * the tracing overhead. */
  def traceOp(op: Int): Unit = traced.add(op)
  def isTraced(op: Int): Boolean = traced.contains(op)

  /** Detach, stop sampling and wait until every job event is in. */
  def stop(): Unit = if (started) {
    sampling = false
    sampler.join()
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while ((jobsEnded.get != jobsStarted.get || last != jobsEnded.get) &&
        System.nanoTime() < deadline) {
      last = jobsEnded.get
      Thread.sleep(100)
    }
    sc.removeSparkListener(this)
  }

  /** Time `body` as span `name` of operation `op`; jobs it launches
    * are attributed to `phase` when one is given. */
  def span[T](op: Int, name: String, parent: String,
      phase: Option[String] = None)(body: => T): T = {
    phase.foreach { p =>
      sc.setLocalProperty(OpKey, op.toString)
      sc.setLocalProperty(PhaseKey, p)
    }
    currentOp = op
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.synchronized(spans += Span(op, name, parent, t0, t1))
      if (phase.isDefined) {
        sc.setLocalProperty(OpKey, null)
        sc.setLocalProperty(PhaseKey, null)
      }
    }
  }

  def spanSeconds(op: Int, name: String): Double = spans.synchronized {
    spans.filter(s => s.op == op && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum
  }

  def acc(op: Int, phase: String): Acc =
    accs.synchronized(accs.getOrElse((op, phase), new Acc))

  def peakStorageBytes(op: Int): Long =
    opPeakStorage.synchronized(opPeakStorage.getOrElse(op, 0L))

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  private def accFor(key: (Int, String)): Acc =
    accs.synchronized(accs.getOrElseUpdate(key, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toInt).getOrElse(-1)
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("untracked")
    if (traced.contains(op)) {
      val key = (op, phase)
      accFor(key).jobs += 1
      e.stageInfos.foreach(s => stageKey(s.stageId) = key)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsEnded.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageKey.get(id).foreach { key =>
      stageSubmitted(id) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      accFor(key).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageKey.get(e.stageId) match {
      case Some(key) => accFor(key)
      case None => return
    }
    a.tasks += 1
    stageSubmitted.get(e.stageId).foreach { s =>
      a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      a.readBytes += m.inputMetrics.bytesRead
      a.readRecords += m.inputMetrics.recordsRead
      a.writeBytes += m.outputMetrics.bytesWritten
    }
  }
}

object Trace {
  final case class Span(op: Int, name: String, parent: String,
      startNs: Long, endNs: Long)

  final class Acc {
    var jobs, stages, tasks = 0L
    var taskWaitMs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var readBytes, readRecords, writeBytes = 0L
  }

  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
