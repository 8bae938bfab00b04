package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans around the calls the harness makes into each layer's
  * public functions. Nothing inside the engine is instrumented: a span
  * covers one call from the outside, so a layer's self time is its
  * span minus the spans of the calls it makes through the harness.
  *
  * Off by default; when off, `span` is just the call. Spans of one
  * request share a request id; the parent is the enclosing span on the
  * same thread. Counts (edges built, users rebuilt…) are recorded at the
  * same boundaries.
  */
object Trace {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      start: Long, end: Long)

  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val ids = new AtomicLong(1)
  // (enclosing span id, request id) of the calling thread
  private val ctx = ThreadLocal.withInitial[(Long, Long)](() => (0L, 0L))
  // a traced run interleaves untraced operations to measure the overhead
  private val mute = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def enable(b: Boolean): Unit = on = b

  /** Run `body` as request `req`: its spans carry that id; with
    * `traced` false it records none. */
  def request[T](req: Long, traced: Boolean = true)(body: => T): T = {
    val saved = ctx.get
    val savedMute = mute.get
    ctx.set((0L, req))
    mute.set(!traced)
    try body finally { ctx.set(saved); mute.set(savedMute) }
  }

  def span[T](name: String)(body: => T): T =
    if (!on || mute.get) body
    else {
      val (parent, req) = ctx.get
      val id = ids.getAndIncrement()
      ctx.set((id, req))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        ctx.set((parent, req))
        spans.add(Span(id, parent, req, name, t0, t1))
      }
    }

  def count(name: String, v: Double): Unit =
    if (on && !mute.get) counts.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v): Unit

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  def countsOf(name: String): Seq[Double] =
    Option(counts.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Self time of every span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - (a max reach), b)
        }._1
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  /** Per span name: (calls, total ns, self ns). */
  def summary(ss: Seq[Span]): Seq[(String, Int, Long, Long)] = {
    val self = selfTimes(ss)
    ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      (n, xs.size, xs.map(s => s.end - s.start).sum, xs.map(s => self(s.id)).sum)
    }.sortBy(-_._3)
  }

  /** Durations in ns of the spans named `name`. */
  def durations(name: String): Seq[Long] =
    spans.asScala.iterator.filter(_.name == name).map(s => s.end - s.start).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val t0 = ss.headOption.map(_.start).getOrElse(0L)
    val self = selfTimes(ss)
    val lines = "id\tparent\treq\tname\tstart_us\tend_us\tself_us" +: ss.map { s =>
      s"${s.id}\t${s.parent}\t${s.req}\t${s.name}\t${(s.start - t0) / 1000}\t" +
        s"${(s.end - t0) / 1000}\t${self(s.id) / 1000}"
    }
    java.nio.file.Files.write(path, lines.asJava): Unit
  }
}
