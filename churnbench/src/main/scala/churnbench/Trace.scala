package churnbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{BusAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** One timed call. `parent` is the enclosing span's id (-1 at the top);
  * `trace` groups the spans of one day, request batch or query.
  */
final case class Span(id: Int, name: String, parent: Int, trace: String,
    startNs: Long, endNs: Long, jobs: Long = 0L, tasks: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into the program, kept in memory and written out at
  * the end. Spark jobs and tasks are attributed to the innermost open span
  * through a thread-local property that every job started on the calling
  * thread carries, so a span's counts include its children's.
  *
  * When disabled, `span` only runs its body: no listener, no records.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobsBySpan = new ConcurrentHashMap[Int, AtomicLong]()
  private val tasksBySpan = new ConcurrentHashMap[Int, AtomicLong]()
  private val spanOfStage = new ConcurrentHashMap[Int, Int]()
  private val Key = "churnbench.span"

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach { s =>
          val id = s.toInt
          jobsBySpan.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
          e.stageIds.foreach(spanOfStage.put(_, id))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(spanOfStage.get(e.stageId)).foreach { id =>
        tasksBySpan.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
      }
  })

  def span[A](name: String, trace: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val stack = open.get
      val parent = stack.headOption
      val s = spans.synchronized {
        val s = Span(spans.length, name, parent.fold(-1)(_.id),
          if (trace.nonEmpty) trace else parent.fold("")(_.trace),
          System.nanoTime(), 0L)
        spans += s
        s
      }
      val id = s.id
      open.set(s :: stack)
      sc.setLocalProperty(Key, id.toString)
      try body
      finally {
        spans.synchronized(spans(id) = s.copy(endNs = System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Every span with its job and task counts, children's included. Waits
    * for Spark's listener bus first, so every finished job is counted.
    */
  def finished(): Seq[Span] = {
    if (!enabled) return Nil
    BusAccess.drain(sc)
    val all = spans.synchronized(spans.toVector)
    val own = all.map(s => s.id ->
      (count(jobsBySpan, s.id), count(tasksBySpan, s.id))).toMap
    val children = all.groupBy(_.parent)
    def total(id: Int): (Long, Long) =
      children.getOrElse(id, Nil).map(c => total(c.id))
        .foldLeft(own(id)) { case ((j, t), (cj, ct)) => (j + cj, t + ct) }
    all.map { s =>
      val (j, t) = total(s.id)
      s.copy(jobs = j, tasks = t)
    }
  }

  private def count(m: ConcurrentHashMap[Int, AtomicLong], id: Int): Long =
    Option(m.get(id)).fold(0L)(_.get)
}

object Tracer {

  /** Self time of each span: its duration minus the part of it that its
    * children cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)))
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end)
        else (sum + b - math.max(a, end), b)
    }._1

  def toJson(spans: Seq[Span]): String = {
    val self = selfSeconds(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      s"""{"id": ${s.id}, "name": "${Json.esc(s.name)}", """ +
        s""""parent": ${s.parent}, "trace": "${Json.esc(s.trace)}", """ +
        s""""start_s": ${(s.startNs - t0) / 1e9}, """ +
        s""""end_s": ${(s.endNs - t0) / 1e9}, """ +
        s""""self_s": ${self(s.id)}, "jobs": ${s.jobs}, "tasks": ${s.tasks}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
