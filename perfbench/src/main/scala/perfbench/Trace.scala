package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call: `parent` is the id of the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans nest through a
  * per-thread "current span"; work handed to another thread (a stream's
  * batch thread, an HTTP client pool) names its parent explicitly. A
  * disabled recorder runs the body and keeps nothing.
  */
final class Trace(val runId: String, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  // nanoTime → epoch, so spans line up with the ones run.py records
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def currentId: Long = current.get

  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current.get.longValue
      val prev = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, t0, System.nanoTime()))
        current.set(prev)
      }
    }

  /** A span over an interval measured elsewhere (e.g. the JVM's own start,
    * or a micro-batch trigger), given as epoch nanoseconds.
    */
  def record(name: String, parent: Long, startEpochNs: Long, endEpochNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startEpochNs - epochOffsetNs, endEpochNs - epochOffsetNs))
      id
    }

  def all: Seq[Span] = spans.asScala.toVector.sortBy(_.startNs)

  /** Re-parent each `child`-named span to the `parent`-named span whose
    * interval holds it (within `slackNs`): for spans recorded after the
    * fact, such as a micro-batch's trigger from its progress report.
    */
  def nest(child: String, parent: String, slackNs: Long): Unit = {
    val outer = all.filter(_.name == parent)
    all.filter(_.name == child).foreach { c =>
      outer.find(o => o.startNs - slackNs <= c.startNs && c.endNs <= o.endNs + slackNs)
        .foreach { o =>
          spans.remove(c)
          spans.add(c.copy(parent = o.id))
        }
    }
  }

  /** Self time per span: its duration minus the union of its children's
    * intervals clipped to it.
    */
  def selfTimes: Seq[(Span, Long)] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      sp -> (sp.durNs - covered)
    }
  }

  def writeJsonl(path: String): Unit = if (enabled) {
    val lines = all.map { sp =>
      s"""{"run_id":"$runId","id":${sp.id},"parent":${sp.parent},"name":"${sp.name}",""" +
        s""""start_us":${(sp.startNs + epochOffsetNs) / 1000},"end_us":${(sp.endNs + epochOffsetNs) / 1000}}"""
    }
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
