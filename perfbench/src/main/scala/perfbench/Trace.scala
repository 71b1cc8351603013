package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** In-memory spans recorded at the benchmark's own call boundaries.
  *
  * A span has a name (`layer` or `layer.step`), start, end, parent and
  * a request id shared by the spans of one request. While a span is
  * open on a thread it is that thread's Spark job group, so the
  * [[Tracer.TaskCredit]] listener credits every task of the jobs it
  * starts to it. When tracing is off, `span` runs its body and records
  * nothing: end-to-end numbers come from untraced runs.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[Span]
  private val counters = TrieMap.empty[String, AtomicLong]
  val credit = new TaskCredit
  if (enabled) sc.addSparkListener(credit)

  /** Parent of spans opened on a thread with no open span (the stream
    * thread's micro-batches, the client threads' checks). */
  @volatile private var root: Span = _

  /** Run `body` as the root span every thread's top-level spans nest under. */
  def rootSpan[T](name: String)(body: => T): T = span(name) {
    root = open.get()
    try body finally root = null
  }

  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(open.get()).getOrElse(root)
      val s = Span(nextId.getAndIncrement(), name,
        Option(parent).map(_.id).getOrElse(0),
        if (request >= 0) request else Option(parent).map(_.request).getOrElse(-1L),
        System.nanoTime())
      val prevGroup = sc.getLocalProperty(JobGroup)
      open.set(s)
      sc.setLocalProperty(JobGroup, GroupPrefix + s.id)
      try body
      finally {
        s.end = System.nanoTime()
        spans.add(s)
        open.set(if (parent eq root) null else parent)
        sc.setLocalProperty(JobGroup, prevGroup)
      }
    }

  /** Add to a named counter (traced runs only). */
  def count(name: String, v: Long = 1L): Unit =
    if (enabled) counters.getOrElseUpdate(name, new AtomicLong).addAndGet(v)

  def counter(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)

  /** Start the counters afresh (at the start of the measured window). */
  def resetCounters(): Unit = counters.clear()

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfMs: Map[Int, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Seq.empty).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L; var from = s.start
      kids.foreach { case (a, b) =>
        val lo = math.max(a, from); val hi = math.min(b, s.end)
        if (hi > lo) { covered += hi - lo; from = hi }
      }
      s.id -> (s.end - s.start - covered) / 1e6
    }.toMap
  }

  /** The trace as JSON: every span with its self time, and self time
    * summed per layer (the name up to its first dot). */
  def toJson: String = {
    val self = selfMs
    val spanRows = all.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ms":${s.start / 1e6}%.3f,"end_ms":${s.end / 1e6}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }
    val perLayer = all.groupBy(_.name.takeWhile(_ != '.')).map { case (l, ss) =>
      f""""$l":${ss.map(s => self(s.id)).sum}%.3f"""
    }
    s"""{"self_ms_per_layer":{${perLayer.mkString(",")}},"spans":[${spanRows.mkString(",\n")}]}"""
  }

  /** Spans whose name starts with `prefix`, with their descendants. */
  def subtreeIds(prefix: String): Set[Int] = {
    val byParent = all.groupBy(_.parent)
    def down(id: Int): Seq[Int] = id +: byParent.getOrElse(id, Seq.empty).flatMap(k => down(k.id))
    all.filter(_.name.startsWith(prefix)).flatMap(s => down(s.id)).toSet
  }
}

object Tracer {
  private val JobGroup = "spark.jobGroup.id"
  private val GroupPrefix = "perfbench-span-"

  final case class Span(id: Int, name: String, parent: Int, request: Long, start: Long) {
    @volatile var end: Long = start
    def ms: Double = (end - start) / 1e6
  }

  /** Task metrics summed per span. */
  final class Totals {
    val jobs = new AtomicLong; val runMs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
  }

  /** Credits each finished task to the span whose job group started
    * its job; jobs started outside any span land under span 0. */
  final class TaskCredit extends SparkListener {
    private val stageSpan = TrieMap.empty[Int, Int]
    val perSpan = TrieMap.empty[Int, Totals]
    private def totals(span: Int) = perSpan.getOrElseUpdate(span, new Totals)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroup))).getOrElse("")
      val span = if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt else 0
      e.stageIds.foreach(stageSpan.put(_, span))
      totals(span).jobs.incrementAndGet()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val t = totals(stageSpan.getOrElse(e.stageId, 0))
      t.runMs.addAndGet(m.executorRunTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

    /** Sum of one metric over a set of spans. */
    def sum(spans: Set[Int])(f: Totals => AtomicLong): Long =
      perSpan.iterator.filter(kv => spans(kv._1)).map(kv => f(kv._2).get).sum

    def sumAll(f: Totals => AtomicLong): Long = perSpan.valuesIterator.map(f(_).get).sum
  }
}
