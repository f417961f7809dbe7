package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call at a layer boundary. Spans of one request share the
  * `request` id (a curation pass, a micro-batch); `parent` is
  * the span that caused this one.
  */
final case class Span(id: String, parent: String, request: String,
    layer: String, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: jobs, stages and tasks started
  * while the span's id was the thread's `perfbench.span` local property.
  */
final class JobAcc {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** The benchmark-owned recorder for traced runs: spans kept in memory,
  * a `SparkListener` attributing jobs/stages/tasks to the span that
  * launched them, and a `StreamingQueryListener` keeping every
  * micro-batch progress report. Everything is read once the run ends.
  */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val planMs = new ConcurrentHashMap[String, java.lang.Double]()
  private val bySpan = new ConcurrentHashMap[String, JobAcc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  @volatile private var lastEventNs = System.nanoTime()

  private def acc(id: String): JobAcc = bySpan.computeIfAbsent(id, _ => new JobAcc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      val id = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
      if (id != null) {
        val a = acc(id)
        a.synchronized(a.jobs += 1)
        e.stageInfos.foreach(s => stageSpan.put(s.stageId, id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      val id = stageSpan.get(e.stageInfo.stageId)
      if (id != null) { val a = acc(id); a.synchronized(a.stages += 1) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val a = acc(id)
        a.synchronized {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEventNs = System.nanoTime()
      progress.add(e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the asynchronous listener bus to go quiet, then detach. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def jobs(spanId: String): JobAcc = Option(bySpan.get(spanId)).getOrElse(new JobAcc)

  def spansOf(layer: String): Seq[Span] = spans.asScala.filter(_.layer == layer).toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Run `body` as span `id`: Spark jobs it launches on this thread are
    * attributed to it, and its wall time is recorded when a tracer is on.
    */
  def span[T](tr: Option[Tracer], spark: SparkSession, id: String, parent: String,
      request: String, layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    if (tr.isDefined) sc.setLocalProperty(SpanKey, id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      tr.foreach { t =>
        t.spans.add(Span(id, parent, request, layer, name, t0, t1))
        sc.setLocalProperty(SpanKey, prev)
      }
    }
  }
}
