package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans recorded here line up with the millisecond timestamps Spark puts
  * on job, planning and stream-trigger events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One recorded interval. `parent` is the causing span's id; 0 marks a
  * root, [[Trace.ByTime]] asks the report to attach the span to the
  * innermost client span that encloses it (planning phases and Spark jobs
  * whose thread carried no span id), and [[Trace.Stream]] does the same
  * against stream-trigger spans. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    t0: Double, t1: Double)

/** In-memory span recorder: spans are kept in a queue and written out when
  * the run ends. Off by default, so untraced runs pay one volatile read
  * per call. The current span id travels to Spark jobs as a local
  * property of the calling thread. */
object Trace {
  val ByTime = -1L
  val Stream = -2L
  val SpanProp = "perfbench.span"

  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = Clock.ms
      try f
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), layer, name, t0, Clock.ms))
        stack.set(outer)
        sc.setLocalProperty(SpanProp, outer.headOption.map(_.toString).orNull)
      }
    }

  def add(parent: Long, layer: String, name: String, t0: Double, t1: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, layer, name, t0, t1))
    id
  }
}

/** Named additive counters for the per-layer report. */
object Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def max(name: String, v: Double): Unit = m.synchronized {
    val a = m.computeIfAbsent(name, _ => new DoubleAdder)
    if (v > a.sum()) { a.reset(); a.add(v) }
  }
  def snapshot: Map[String, Double] =
    m.asScala.iterator.map { case (k, v) => k -> v.sum() }.toMap
}
