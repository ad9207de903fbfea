package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Benchmark-side spans. A span wraps one of the benchmark's own calls into
  * a layer's public function; spans nest on the driver thread. While a span
  * is open its id is the job-local property [[Trace.SpanKey]], so every
  * Spark job the call submits carries it to [[JobLog]].
  *
  * Spans are recorded only while `on` is set; with it off a span is just
  * its body (no clock reads, no property writes).
  */
final class Trace(sc: SparkContext) {
  import Trace._

  var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, layer, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a count to the innermost open span (e.g. documents produced). */
  def count(key: String, n: Long): Unit =
    if (on) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0L) + n)
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, layer: String, name: String, parent: Int,
                        start: Long, var end: Long) {
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  }
}

/** Per-job record filled by [[JobLog]]: the span that submitted the job,
  * its call site, its interval and the sum of its tasks' metrics.
  */
final class JobRec(val id: Int, val span: Int, val callSite: String,
                   val execution: String, val start: Long) {
  @volatile var end = 0L
  var tasks, failedTasks = 0L
  var runMs, cpuNs, maxTaskMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var recordsRead, bytesRead, recordsWritten, bytesWritten, filesWritten = 0L
}

/** SparkListener that assigns each job to the benchmark span that submitted
  * it (through the [[Trace.SpanKey]] job-local property) and sums its
  * tasks' metrics. Jobs submitted outside any span are ignored. Times are
  * listener-event wall clocks in ms.
  */
final class JobLog extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id -> the call site of the action that started it. The
    * jobs of an adaptive plan are submitted from Spark's own thread pool,
    * so their own call site names a pool frame, not the caller.
    */
  val executionSites = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId.toString, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
    span.foreach { s =>
      // the result stage (highest id) carries the action's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val rec = new JobRec(e.jobId, s.toInt, site,
        Option(e.properties.getProperty("spark.sql.execution.id")).getOrElse(""), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.putIfAbsent(_, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (!e.taskInfo.successful) r.failedTasks += 1
        r.maxTaskMs = math.max(r.maxTaskMs, e.taskInfo.duration)
        Option(e.taskMetrics).foreach { m =>
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.recordsRead += m.inputMetrics.recordsRead
          r.bytesRead += m.inputMetrics.bytesRead
          r.recordsWritten += m.outputMetrics.recordsWritten
          r.bytesWritten += m.outputMetrics.bytesWritten
          // one output file per writing task: the benchmark's sinks are
          // unpartitioned parquet writes
          if (m.outputMetrics.recordsWritten > 0) r.filesWritten += 1
        }
      }
    }
}

/** Peak heap in use just after a full GC, sampled between rounds. (Heap
  * after the JVM's own young collections still holds unreclaimed
  * old-generation garbage, so it swings with GC timing.)
  */
final class HeapPeak {
  var peakBytes = 0L
  def sample(): Unit = {
    // the first collection lets Spark's ContextCleaner see the round's dead
    // broadcasts and shuffles; the second reclaims what it released
    System.gc()
    Thread.sleep(200)
    System.gc()
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
}
