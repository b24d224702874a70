package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a layer call. `parent` is -1 for a pass root.
  * Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, var end: Long = 0L)

/** Spark work attributed to one span (or to the whole run): summed over
  * the tasks of every stage of every job whose job group named the span. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var checkpoints = 0L
  var runMs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var peakExecMem = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    checkpoints += o.checkpoints; runMs += o.runMs; waitMs += o.waitMs
    gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Listener that folds task metrics into per-job-group totals. Jobs with
  * no group (untraced passes) land under the empty key; jobs started by a
  * Structured Streaming query land under [[Listener.StreamGroup]]. Only
  * totals are kept, so its cost per task is a few map updates. */
final class Listener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val groups = mutable.Map[String, Work]()
  private val checkpointed = mutable.Set[Int]()

  private def work(g: String) = groups.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g =
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) Listener.StreamGroup
      else props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val w = work(g)
    w.jobs += 1
    // a localCheckpoint barrier materializes one disk-backed RDD created
    // at a `localCheckpoint` call site; count each such RDD once
    for (st <- e.stageInfos; r <- st.rddInfos)
      if (r.storageLevel.useDisk && r.callSite.startsWith("localCheckpoint") && checkpointed.add(r.id))
        w.checkpoints += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    work(stageGroup.getOrElse(id, "")).stages += 1
    stageGroup.remove(id)
    stageSubmit.remove(id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    stageSubmit.get(e.stageId).foreach(s => w.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled
      w.recordsWritten += m.outputMetrics.recordsWritten
      w.bytesWritten += m.outputMetrics.bytesWritten
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Totals per group since the last call; the maps are cleared, so each
    * pass reads only its own work. */
  def take(sc: SparkContext): Map[String, Work] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val out = groups.toMap
      groups.clear()
      out
    }
  }
}

object Listener {
  val StreamGroup = "streaming"
}

/** Span recorder. When `traced` is false a span only runs its body; when
  * true it records start/end and sets the span id as the Spark job group
  * so the [[Listener]] can attribute every job to the innermost span. */
final class Tracer(sc: SparkContext, runId: String) {
  var traced = false
  private var nextId = 0
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer[Span]()

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, s"$runId/${s.name}", interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, s"$runId/${p.name}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Records an already-timed span (used for work that runs on a thread the
    * harness does not own, such as a streaming trigger). */
  def record(name: String, parent: Int, start: Long, end: Long): Span = {
    val s = Span(nextId, name, parent, runId, start, end)
    nextId += 1
    spans += s
    s
  }

  /** Id of the innermost open span, or -1. */
  def current: Int = stack.headOption.map(_.id).getOrElse(-1)

  def clear(): Unit = { spans.clear(); stack = Nil }
}
