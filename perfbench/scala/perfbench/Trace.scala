package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span wraps one call from
  * the benchmark into a layer of the program; its name is `<layer>.<op>`.
  * Spans stay in memory and are written out once the workload ends.
  * With tracing off, [[span]] only runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span: its duration minus the part of its interval
    * that its child spans cover. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length covered by a set of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Summed self time per layer, in milliseconds. */
  def layerSelfMs(all: Seq[Span]): Map[String, Double] = {
    val self = selfNs(all)
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  /** Cost of recording one span, measured on this JVM: the tracing
    * overhead of a run is this times the number of spans it recorded. */
  def perSpanCostNs(): Double = {
    val n = 20000
    val was = enabled
    enabled = true
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { span("trace.calibrate")(i); i += 1 }
    val cost = (System.nanoTime() - t0).toDouble / n
    done.removeIf(_.name == "trace.calibrate")
    enabled = was
    cost
  }

  def toJson(all: Seq[Span]): String = {
    val self = selfNs(all)
    all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
