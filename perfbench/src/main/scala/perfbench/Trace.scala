package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: name, start, end, parent span, iteration. */
final case class Span(id: Int, parent: Int, iter: String, name: String,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Scheduler work of one job group: jobs, stages and tasks with their
  * executor metrics. Filled on the listener-bus thread. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
  /** stage id -> task durations (ms), and stage id -> stage wall time (ms) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]
}

/** Attributes every job, stage and task to the job group it was submitted
  * under (the span that was open when the action ran), so counts never
  * depend on polling windows. Reads are made only after [[settle]]. */
final class LayerListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val seenBarriers = mutable.Set.empty[String]

  private def stats(g: String): GroupStats =
    groups.getOrElseUpdate(if (g == null) "" else g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .orNull
    jobGroup(e.jobId) = g
    stats(g).jobs += 1
    e.stageInfos.foreach(si => if (!stageGroup.contains(si.stageId)) stageGroup(si.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, null)
    if (g != null && g.startsWith(Tracer.BarrierPrefix)) {
      seenBarriers += g
      notifyAll()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stats(stageGroup.getOrElse(si.stageId, null))
    s.stages += 1
    for (a <- si.submissionTime; b <- si.completionTime) s.stageWallMs(si.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, null))
    s.tasks += 1
    s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = s.peakMem max m.peakExecutionMemory
    }
  }

  def group(g: String): Option[GroupStats] = synchronized(groups.get(g))

  /** Waits until the barrier job `g` has been seen; every event posted
    * before it has then been delivered, because the bus queue is FIFO. */
  def awaitBarrier(g: String, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!seenBarriers(g) && System.currentTimeMillis() < deadline)
      wait(10L max (deadline - System.currentTimeMillis()))
    seenBarriers(g)
  }
}

object Tracer {
  val BarrierPrefix = "__barrier/"
  /** Tracing off: spans run their bodies and record nothing. */
  val off: Tracer = new Tracer(false, null)
}

/** Records spans around the benchmark's calls into the engine. With
  * tracing off, [[span]] runs its body and records nothing: no listener,
  * no job groups, no extra planning. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[LayerListener] =
    if (on) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None
  private var open = List.empty[Span]
  private var barriers = 0
  var unsettled = 0
  var iter = "setup"

  def groupOf(s: Span): String = s"${s.iter}/${s.id}"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), iter, name,
        System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(groupOf(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Drains the listener bus with a one-task barrier job in its own group.
    * Returns false (and counts an unsettled read) if the barrier does not
    * arrive in time, so any count read next is flagged as possibly stale. */
  def settle(): Boolean = listener.forall { l =>
    barriers += 1
    val g = s"${Tracer.BarrierPrefix}$barriers"
    sc.setJobGroup(g, "barrier", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val ok = l.awaitBarrier(g, 10000L)
    if (!ok) unsettled += 1
    ok
  }

  def stats(s: Span): GroupStats =
    listener.flatMap(_.group(groupOf(s))).getOrElse(new GroupStats)

  def children(s: Span): Seq[Span] = spans.filter(c => c.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  /** One JSON object per span, with the jobs and tasks of its own group. */
  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    val st = stats(s)
    Json.write(Map("id" -> s.id, "parent" -> s.parent, "iter" -> s.iter,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> st.jobs, "tasks" -> st.tasks))
  }
}
