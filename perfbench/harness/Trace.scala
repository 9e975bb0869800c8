package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the program. Times are nanoseconds on
  * the JVM's monotonic clock, relative to `Tracer.t0`.
  */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long,
                      attrs: Map[String, String]) {
  def seconds: Double = (end - start) / 1e9
}

/** Work Spark did on behalf of one span: summed over the jobs and tasks
  * whose `perfbench.span` local property names the span.
  */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var outputBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; outputBytes += o.outputBytes
  }
}

/** Counts jobs and task metrics per span. Spark hands every job and stage
  * the local properties of the thread that submitted it (and thread pools
  * created inside a span inherit them), so tagging the calling thread
  * around a layer call attributes all of that call's work to its span.
  */
final class SpanListener extends SparkListener {
  val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  /** Time spent inside these callbacks, the listener's own cost. */
  val callbackNs = new AtomicLong()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(-1L)

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t)
  }

  private def of(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val w = of(spanOf(e.properties))
    w.synchronized { w.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val w = of(stageSpan.getOrDefault(e.stageId, -1L))
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.taskNs += m.executorRunTime * 1000000L
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Records spans in memory. When `listener` is set (the traced run) each
  * span also tags the calling thread so the listener can attribute Spark
  * work to it; the untraced run only keeps the timestamps.
  */
final class Tracer(sc: SparkContext, val listener: Option[SpanListener]) {
  private val ids = new AtomicLong()
  private val done = ArrayBuffer[Span]()
  private var current = -1L

  def spans: Seq[Span] = done.synchronized(done.toList)

  def span[A](name: String, attrs: Map[String, String] = Map.empty)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current
    val prevProp = sc.getLocalProperty(Tracer.Property)
    if (listener.isDefined) sc.setLocalProperty(Tracer.Property, id.toString)
    current = id
    val start = Tracer.now()
    try body
    finally {
      val end = Tracer.now()
      current = parent
      if (listener.isDefined) sc.setLocalProperty(Tracer.Property, prevProp)
      done.synchronized(done += Span(id, name, parent, start, end, attrs))
    }
  }

  /** Work attributed to `span`, once the listener bus has delivered every
    * event (the caller drains it first).
    */
  def work(span: Span): Work =
    listener.flatMap(l => Option(l.work.get(span.id))).getOrElse(new Work)
}

object Tracer {
  val Property = "perfbench.span"
  val t0: Long = System.nanoTime()
  def now(): Long = System.nanoTime() - t0
}
