package ragbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call. `parent` is 0 for a root span; spans of one request
  * share `request` (-1 outside a request). */
final case class Span(id: Long, parent: Long, name: String, request: Long,
                      startNs: Long, endNs: Long, thread: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work done by the jobs one span started. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var inputRows = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var cpuNs = 0L; var gcMs = 0L; var schedulerDelayMs = 0L
  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "input_rows" -> inputRows.toDouble, "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble, "cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs.toDouble, "scheduler_delay_ms" -> schedulerDelayMs.toDouble)
}

object Work {
  /** Counters that repeat exactly for identical work on this engine; the
    * byte, CPU, GC and delay counters vary from run to run. */
  val Deterministic = Set("jobs", "stages", "tasks", "input_rows")
}

/** Attributes Spark work to spans: `Trace.span` tags the calling thread's
  * jobs with its span id through a local property, and this listener sums
  * the task metrics of each tagged job's stages. Read it only after
  * `Trace.drain`, which waits for the listener bus to empty. */
final class WorkListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val work = mutable.HashMap.empty[Long, Work]

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = spanOf(e.properties)
    e.stageIds.foreach(stageSpan(_) = sp)
    work.getOrElseUpdate(sp, new Work).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work.getOrElseUpdate(stageSpan.getOrElse(e.stageInfo.stageId, 0L), new Work).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0L), new Work)
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.inputRows += m.inputMetrics.recordsRead
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      val info = e.taskInfo
      if (info != null && info.finished)
        w.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  def of(span: Long): Option[Work] = synchronized(work.get(span))
}

/** In-memory span recorder; a no-op unless switched on for a traced run. */
object Trace {
  val SpanKey = "ragbench.span"
  @volatile private var sc: Option[SparkContext] = None
  def on: Boolean = sc.nonEmpty

  /** Switches tracing on for the rest of the run. */
  def start(context: SparkContext): Unit = sc = Some(context)
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, request: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val prev = sc.map(_.getLocalProperty(SpanKey)).orNull
      sc.foreach(_.setLocalProperty(SpanKey, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, request, t0,
          System.nanoTime(), Thread.currentThread().getName))
        sc.foreach(_.setLocalProperty(SpanKey, prev))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.RagbenchBus.drain(sc)
}
