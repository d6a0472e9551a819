package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Sample statistics used by every workload. */
object Stats {
  def sorted(xs: Iterable[Double]): IndexedSeq[Double] = xs.toIndexedSeq.sorted

  def median(xs: Iterable[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The tail: the highest percentile that still has at least ten
    * samples beyond it, i.e. the (n-10)-th smallest of n. Returns the
    * value, that percentile and the sample count. */
  final case class Tail(value: Double, percentile: Double, n: Int)
  def tail(xs: Iterable[Double]): Tail = {
    val s = sorted(xs)
    if (s.length <= 10) Tail(if (s.isEmpty) Double.NaN else s.last, 1.0, s.length)
    else Tail(s(s.length - 11), (s.length - 10).toDouble / s.length, s.length)
  }
}

/** Spans around the benchmark's calls into the program, plus a
  * `SparkListener` that charges Spark jobs, tasks, executor time,
  * shuffle, output and spill to the span that was open when the job
  * started. A job carries its span through the `perfbench.span` local
  * property of the thread that opened it; jobs submitted from a thread
  * without it (the program's own job pools) are charged to the client
  * thread's innermost open span, or to the `unattributed` bucket when
  * none is open.
  *
  * Spans live in memory and are written out once, at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  val spans: ConcurrentHashMap[Long, Span] = new ConcurrentHashMap()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val clientOpen = new AtomicReference[List[Long]](Nil)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile var enabled = false

  /** Work charged to no span. */
  val unattributed: Counters = new Counters
  /** Executor run time of every task while enabled (for busy ratio). */
  val allRunMs = new AtomicLong(0)

  def span[T](name: String, run: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1L)
      val s = Span(ids.incrementAndGet(), name, parent, run, System.nanoTime())
      spans.put(s.id, s)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(s.id :: stack.get)
      clientOpen.set(s.id :: clientOpen.get)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        clientOpen.set(clientOpen.get.tail)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  private def countersFor(spanId: Option[Long]): Counters =
    spanId.flatMap(id => Option(spans.get(id))).map(_.c).getOrElse(unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val fromProp = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).flatMap(_.toLongOption)
      .filter(spans.containsKey)
    val id = fromProp.orElse(clientOpen.get.headOption)
    val c = countersFor(id)
    c.jobs.incrementAndGet()
    e.stageIds.foreach(st => stageSpan.put(st, id.getOrElse(-1L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    val spanId = Option(stageSpan.get(e.stageId)).filter(_ >= 0)
    val c = countersFor(spanId)
    c.tasks.incrementAndGet()
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      allRunMs.addAndGet(m.executorRunTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      c.taskMs.add(e.taskInfo.duration.toDouble)
    }
  }

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spans as JSON lines: id, parent, run id, name, start/end ns and the
    * Spark work charged to each. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = s.c
      s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs.get},""" +
        s""""tasks":${c.tasks.get},"executor_run_ms":${c.runMs.get},""" +
        s""""shuffle_bytes":${c.shuffleBytes.get},"spill_bytes":${c.spillBytes.get},""" +
        s""""output_bytes":${c.outputBytes.get}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final class Counters {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val outputBytes = new AtomicLong
    val taskMs: java.util.concurrent.ConcurrentLinkedQueue[Double] =
      new java.util.concurrent.ConcurrentLinkedQueue()
    /** max / median task time; 0 when the span ran no task. */
    def taskSkew: Double = {
      val ts = taskMs.asScala
      if (ts.isEmpty) 0.0 else ts.max / math.max(1.0, Stats.median(ts))
    }
  }

  final case class Span(id: Long, name: String, parent: Long, run: String,
                        startNs: Long) {
    @volatile var endNs: Long = -1L
    val c = new Counters
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Sum of the named counter over spans. */
  def total(spans: Seq[Span])(f: Counters => Long): Long =
    spans.map(s => f(s.c)).sum

  /** Peak heap across all heap pools since the last reset, in MB. */
  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
