package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One bench call into a layer: `parent` is the enclosing call (0 = none),
 *  `trace` groups every span of one timed op (or of one setup step). */
final case class Span(
    id: Int, name: String, parent: Int, trace: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the bench's calls into the engine. The spans live in
 * memory and are written out when the run ends. With tracing off nothing
 * is recorded and `span` only runs its body.
 *
 * With tracing on, every span sets a Spark job tag naming it (and removes
 * its parent's for the duration), so each job carries the tag of the
 * innermost bench call that submitted it. The engine sets job
 * descriptions, never tags, so the two do not clash.
 */
object Trace {
  val TagPrefix = "graftbench-"
  // filesystem op kinds counted by CountingLocalFs, in this order
  val FsKinds: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")

  @volatile private var sc: SparkContext = _
  @volatile var enabled: Boolean = false
  /** Innermost open span; read by filesystem calls on any thread. */
  @volatile var current: Int = 0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextTrace = 0
  private val fsOps = new ConcurrentHashMap[Int, AtomicLongArray]()

  def enable(context: SparkContext): Unit = { sc = context; enabled = true }

  def all: Seq[Span] = spans.toSeq

  private def tag(spanId: Int): String = s"$TagPrefix$spanId"

  /** Run `body` as a new trace (a timed op or a setup step). */
  def op[T](name: String)(body: => T): T = {
    nextTrace += 1
    span(name, nextTrace)(body)
  }

  /** Run `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    span(name, stack.headOption.map(_.trace).getOrElse { nextTrace += 1; nextTrace })(body)

  private def span[T](name: String, trace: Int)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = Span(spans.size + 1, name, parent.map(_.id).getOrElse(0), trace,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    parent.foreach(p => sc.removeJobTag(tag(p.id)))
    sc.addJobTag(tag(s.id))
    stack = s :: stack
    current = s.id
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.removeJobTag(tag(s.id))
      parent.foreach(p => sc.addJobTag(tag(p.id)))
      current = parent.map(_.id).getOrElse(0)
    }
  }

  def countFs(kind: Int): Unit =
    if (enabled) {
      fsOps.computeIfAbsent(current, _ => new AtomicLongArray(FsKinds.size))
        .incrementAndGet(kind)
    }

  /** Filesystem ops by kind issued while `spanId` was the innermost span. */
  def fsOpsOf(spanId: Int): Seq[Long] =
    Option(fsOps.get(spanId)).map(a => FsKinds.indices.map(a.get))
      .getOrElse(FsKinds.map(_ => 0L))

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    val byParent = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: byParent.getOrElse(id, Nil).flatMap(s => go(s.id)).toSeq
    go(root.id).toSet
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Length of the union of the given [start, end) intervals (ns). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    (s.endNs - s.startNs - covered(children(s).map(c => (c.startNs, c.endNs)))) / 1e9
}
