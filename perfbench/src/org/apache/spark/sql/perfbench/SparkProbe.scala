package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import java.util.concurrent.ConcurrentHashMap

/** Spark work done on behalf of one span. Written by the listener-bus
  * thread only; read after [[SparkProbe.drain]].
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var outputBytes = 0L
  var queries = 0L
  var scanFiles = 0L
  var scanRows = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    outputBytes += o.outputBytes; queries += o.queries
    scanFiles += o.scanFiles; scanRows += o.scanRows
  }
}

/** Listener that attributes jobs, stages, tasks, task time, GC, shuffle
  * and output bytes, and file-scan metrics of executed plans to the span
  * named by the `perfbench.span` local property of the submitting
  * thread. Lives in an `org.apache.spark.sql` package only to reach the
  * executed plan carried by `SparkListenerSQLExecutionEnd` and to drain
  * the listener bus.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val work = new ConcurrentHashMap[Long, Work]()

  def of(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  def install(): Unit = sc.addSparkListener(this)

  def remove(): Unit = sc.removeSparkListener(this)

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SparkProbe.SpanKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, span))
    Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .foreach(id => execSpan.putIfAbsent(id.toLong, span))
    of(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageId, 0L))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskRunMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val w = of(execSpan.getOrDefault(end.executionId, 0L))
      w.queries += 1
      SparkProbe.scans(end.qe.executedPlan).foreach { s =>
        w.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        w.scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
    case _ => ()
  }
}

object SparkProbe {
  val SpanKey = "perfbench.span"

  /** File scans of an executed plan, through adaptive wrappers, query
    * stages and subqueries; reused exchanges are skipped so a scan is
    * counted once.
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scans)
  }
}
