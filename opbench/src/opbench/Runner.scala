package opbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed operation as the client saw it. */
final case class OpRecord(kind: String, id: Long, ms: Double,
                          startMs: Long, endMs: Long, gcMs: Long,
                          traced: Boolean, ok: Boolean)

/** The closed-loop client's bookkeeping: times every op, counts
  * failures (a thrown op and a wrong result both count), tags Spark
  * jobs with the op that launched them, and — in a traced run — turns
  * span recording on for every other op of each kind, so the same run
  * measures traced and untraced latencies of identical op populations
  * (their difference is the tracing overhead).
  *
  * Warm-up ops run through the same path with `recording = false`: they
  * are checked and counted like timed ops but land in no population. */
final class Runner(sc: SparkContext, val tracer: Tracer) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  var recording = false
  var attempted = 0L
  var failed = 0L
  private var nextId = 0L
  private val perKind = mutable.Map.empty[String, Long]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  private def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Run one op of `kind`; `body` returns whether the result was right.
    * Returns whether the op was traced, so the caller can take its own
    * measurements of it afterwards, through [[Tracer.after]]. */
  def op(kind: String)(body: => Boolean): Boolean = {
    val id = nextId
    nextId += 1
    val nth = perKind.getOrElse(kind, 0L)
    perKind(kind) = nth + 1
    val traced = recording && tracer.enabled && nth % 2 == 0
    tracer.on = traced
    tracer.op = id
    sc.setLocalProperty(Census.OpKey, if (recording) s"$kind#$id" else null)
    val gc0 = gcMs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var err: Throwable = null
    val ok =
      try body
      catch { case e: Throwable => err = e; false }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    tracer.on = false
    sc.setLocalProperty(Census.OpKey, null)
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) {
        failures += s"$kind#$id: ${Option(err).fold("wrong result")(_.toString)}"
        if (err != null) err.printStackTrace() // into the run's JVM log
      }
    }
    if (recording)
      records += OpRecord(kind, id, (t1 - t0) / 1e6, w0, w1, gcMs - gc0,
        traced, ok)
    traced
  }

  def kinds: Seq[String] = records.map(_.kind).distinct.toSeq
}

/** In-memory spans: name, start, end, parent span, op id. Recording is
  * off unless the run is traced and the current op was picked for
  * tracing; an untraced span is a plain call. Spans are written out
  * once, after the timed phase. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var op = -1L
  private var stack: List[Int] = Nil
  private var nextId = 0
  // values a layer reports at its own boundary (hit flags, byte counts)
  val counters = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, t1)
      }
    }

  /** Run `body` with recording on, after a traced op has returned: the
    * benchmark's own measurement work (an extra log replay, a commit
    * file parse, a row count) lands in no op's latency, Spark census or
    * span self time. Its spans have no parent. */
  def after[T](body: => T): T = {
    on = true
    try body finally on = false
  }

  /** Record a layer-boundary value (only on traced ops). */
  def count(name: String, v: Double): Unit =
    if (on) counters.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Self time in ms per span name: duration minus the time its
    * children cover (one client thread, so children never overlap). */
  def selfMs: Map[String, Seq[Double]] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start - childNs(s.id)) / 1e6).toSeq
    }
  }

  def totalMs: Map[String, Seq[Double]] =
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) / 1e6).toSeq
    }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        start: Long, end: Long)
}
