package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable

/** One timed call into a layer: name, start, end and parent, with every
  * span of one operation sharing `op`. Spark counts are attributed by
  * [[SpanListener]]. */
final class Span(val id: Long, val op: Long, val name: String, val parent: Long,
                 val startNs: Long) {
  @volatile var endNs: Long = -1L
  /** wall-clock end, comparable with Spark event times */
  @volatile var endMs: Long = Long.MaxValue
  @volatile var rowsOut: Long = -1L
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** extra per-call numbers noted by the caller (e.g. walk steps) */
  val notes: mutable.Map[String, Double] = mutable.Map.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans around each call into a layer, taken from the benchmark's side of
  * the call. With `enabled` false every method is a plain pass-through:
  * no listener, no local property, no span record, so the end-to-end runs
  * measure the untraced program.
  *
  * Attribution: while a span is open the driver thread carries the local
  * property [[Prop]] = span id; every job submitted under it (and its
  * stages and tasks) is credited to that span. Jobs submitted from threads
  * that inherited a span id which has already ended, or no span id at all,
  * are counted as unattributed. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Prop

  private val ids = new AtomicLong
  private val open = new ConcurrentHashMap[Long, Span]
  private val all = mutable.ArrayBuffer.empty[Span]
  private val current = new AtomicReference[Span](null)
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener(open)
      sc.addSparkListener(l)
      Some(l)
    } else None

  def spans: Seq[Span] = all.toSeq

  /** Run `body` as span `name`. `rows` reads the output row count of the
    * call's result after the span has closed, so any job it needs is
    * credited to the parent span, not to the layer. */
  def span[A](op: Long, name: String)(body: => A)(rows: A => Long): A =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), op, name,
        if (parent == null) 0L else parent.id, Clock.now)
      open.put(s.id, s)
      current.set(s)
      sc.setLocalProperty(Prop, s.id.toString)
      val a =
        try body
        finally {
          s.endNs = Clock.now
          s.endMs = System.currentTimeMillis()
          current.set(parent)
          sc.setLocalProperty(Prop, if (parent == null) null else parent.id.toString)
          all.synchronized(all += s)
          System.err.println(f"[perfbench] span ${s.name} op ${s.op}: ${s.wallS}%.3f s")
        }
      s.rowsOut = rows(a)
      a
    }

  private def find(op: Long, name: String): Option[Span] =
    all.synchronized(all.reverseIterator.find(s => s.op == op && s.name == name))

  /** Set the output rows of span `name` of operation `op` after the fact,
    * for calls whose row count is known only from their lineage. */
  def annotate(op: Long, name: String, rows: Long): Unit =
    if (enabled) find(op, name).foreach(_.rowsOut = rows)

  def note(op: Long, name: String, key: String, value: Double): Unit =
    if (enabled) find(op, name).foreach(_.notes(key) = value)

  /** Wait until the listener has seen every event posted so far: a marker
    * job's end event is queued behind all earlier events. */
  def drain(): Unit = listener.foreach { l =>
    sc.setLocalProperty(Prop, null)
    val before = l.jobsEnded.get()
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 30000000000L
    while (l.jobsEnded.get() <= before && System.nanoTime() < deadline) Thread.sleep(5)
    open.clear()
  }
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Credits jobs, tasks, shuffle-write and spill bytes to the span whose id
  * the submitting thread carried. */
final class SpanListener(open: ConcurrentHashMap[Long, Span]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  val jobsEnded = new AtomicLong
  val unattributedJobs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    sid.flatMap(s => Option(open.get(s.toLong))).filter(_.endMs >= e.time) match {
      case Some(span) =>
        span.jobs.incrementAndGet()
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      case None => unattributedJobs.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      span.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        span.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        span.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}
