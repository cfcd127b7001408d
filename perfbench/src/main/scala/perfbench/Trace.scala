package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** One timed region around a call into a layer. Spark counts arrive from
  * the listener thread, hence the atomics.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val opId: Int, val start: Long) {
  var end: Long = 0L
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val bytesRead = new AtomicLong
  val rowsRead = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def durMs: Double = (end - start) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Spans are opened only by benchmark code around
  * public engine calls; while one is open its id rides on the Spark
  * thread-local property [[Tracer.Prop]], so every job, stage and task the
  * call starts is attributed to the innermost open span.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private var stack: List[Span] = Nil
  private val jobsOpen = new AtomicLong
  private val lastEvent = new AtomicLong(System.nanoTime)

  /** Whether spans are recorded for the current operation. */
  var on = false
  var opId: Int = -1

  sc.addSparkListener(new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(q => Option(q.getProperty(Tracer.Prop)))
        .flatMap(id => Option(byId.get(id.toInt)))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      spanOf(e.properties).foreach(_.jobs.incrementAndGet())
      lastEvent.set(System.nanoTime)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsOpen.decrementAndGet()
      lastEvent.set(System.nanoTime)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime)
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.tasks.incrementAndGet()
        s.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        s.rowsRead.addAndGet(m.inputMetrics.recordsRead)
        s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  /** Time `body` as span `name` when tracing is on; otherwise just run it. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        opId, System.nanoTime)
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Block until the listener bus has delivered every event of the jobs
    * run so far (no public drain hook exists, so wait for quiet).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime + 10_000_000_000L
    while (System.nanoTime < deadline &&
        (jobsOpen.get > 0 || System.nanoTime - lastEvent.get < 300_000_000L))
      Thread.sleep(50)
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time: a span's duration minus the part its children cover
    * (children of one span run sequentially on the client thread).
    */
  def selfMs: Map[Int, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.durMs)
    spans.map(s => s.id -> (s.durMs - childMs(s.id))).toMap
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
