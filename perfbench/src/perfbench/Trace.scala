package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.{SparkProbe, Work}

import scala.collection.mutable

final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span tracer. Each span sets the `perfbench.span` local
  * property for its duration, so every Spark job submitted from the
  * client thread (or a thread it starts, such as a streaming query) is
  * attributed to it by [[SparkProbe]]. Disabled, it is a plain call:
  * no listener, no property, no allocation.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val probe = new SparkProbe(sc)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L

  if (enabled) probe.install()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(SparkProbe.SpanKey)
      sc.setLocalProperty(SparkProbe.SpanKey, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(SparkProbe.SpanKey, prev)
      }
    }

  /** Finished spans; call [[finish]] first so their Spark work is in. */
  def spans: Seq[Span] = done.toSeq

  def finish(): Unit = if (enabled) { probe.drain(); probe.remove() }

  /** Spark work attributed to spans with this name (not to their children). */
  def work(name: String): Work = work(done.filter(_.name == name).toSeq)

  def work(spans: Seq[Span]): Work = {
    val w = new Work
    spans.foreach(s => w += probe.of(s.id))
    w
  }

  def descendants(root: Span): Seq[Span] = {
    val byParent = done.groupBy(_.parent)
    def go(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).toSeq.flatMap(c => c +: go(c.id))
    go(root.id)
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Mean seconds per span of this name, 0 when there is none. */
  def meanSeconds(name: String): Double = Stats.mean(named(name).map(_.seconds))

  /** Per span name: count, total and self seconds (duration minus the
    * union of its children's intervals), and the Spark work attributed to
    * spans of that name.
    */
  def summary: Seq[Map[String, Any]] = {
    val children = done.groupBy(_.parent)
    def self(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      (s.endNs - s.startNs - covered) / 1e9
    }
    done.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val w = work(ss.toSeq)
      Map("name" -> n, "count" -> ss.size, "total_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(self).sum, "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_s" -> w.taskRunMs / 1e3, "gc_s" -> w.gcMs / 1e3,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "shuffle_read_bytes" -> w.shuffleReadBytes,
        "output_bytes" -> w.outputBytes, "sql_executions" -> w.queries,
        "scan_files" -> w.scanFiles, "scan_rows" -> w.scanRows)
    }
  }
}
