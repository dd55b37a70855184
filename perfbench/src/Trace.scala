package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Counters one span accumulates: Spark scheduler work seen by the
  * listener plus process-wide JVM readings taken at the span edges. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    recordsRead: Long = 0, bytesRead: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    bytesWritten: Long = 0, gcMs: Long = 0, compileNs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
    recordsRead - o.recordsRead, bytesRead - o.bytesRead,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
    bytesWritten - o.bytesWritten, gcMs - o.gcMs, compileNs - o.compileNs)
}

/** One closed span: `name` is a layer-qualified call (`queries.build`,
  * `delivery.copy`, …) or `op` for a whole timed op; `parent` is the op. */
final case class Span(pass: Int, op: String, name: String,
                      startMs: Long, endMs: Long, seconds: Double, delta: Counters)

/** The benchmark's own SparkListener plus in-memory span log. Spans are
  * taken around the public calls the harness makes; before each edge the
  * listener bus is drained so every task of the enclosed jobs is counted
  * in the span that ran it. Kept in memory, summarized at the end. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private var c = Counters()
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    if (m != null) c = c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + m.executorRunTime,
      recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
      bytesRead = c.bytesRead + m.inputMetrics.bytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.diskBytesSpilled,
      bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten)
    else c = c.copy(tasks = c.tasks + 1)
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  private def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(c).copy(gcMs = gcMs,
      compileNs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }

  def span[T](pass: Int, op: String, name: String)(body: => T): T = {
    val c0 = snapshot()
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body finally {
      val dt = (System.nanoTime() - t0) / 1e9; val ms1 = System.currentTimeMillis()
      spans += Span(pass, op, name, ms0, ms1, dt, snapshot() - c0)
    }
  }

  /** Milliseconds of [from, to] during which no task was running — the
    * part of an op's wall spent on job launch, stage barriers and the
    * driver, not on task compute. */
  def idleMs(from: Long, to: Long): Long = {
    val clipped = synchronized(intervals.toSeq)
      .map { case (a, b) => (a.max(from), b.min(to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    covered += curB - curA
    (to - from) - covered
  }
}
