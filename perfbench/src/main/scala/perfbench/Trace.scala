package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into graft. Times are epoch milliseconds with
  * sub-millisecond fraction, so they line up with Spark listener times. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double) {
  var end: Double = start
  def dur: Double = (end - start) / 1000.0
}

/** One streaming micro-batch, from `StreamingQueryListener` progress. */
final case class Progress(triggerMs: Long, addBatchMs: Long)

/** Counters the Spark listener attributes to a span. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs, deserMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
  val jobSpans = mutable.ArrayBuffer[(Double, Double)]()
}

/** Spans around calls into graft's public functions, plus Spark and
  * streaming listener counters attributed to the innermost enclosing
  * span. A span's id travels to Spark as a local property, so jobs
  * (including those a streaming query runs on its own thread, which
  * inherits the property) are attributed exactly, not by time overlap.
  * Disabled, `span` is a plain call and no listener is registered. */
final class Tracer(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  var enabled = false
  var op = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, now)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = now
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  // ---- Spark listener: everything below runs on the listener bus ----
  val bySpan = mutable.HashMap[Int, Counters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, (Int, Double)]()
  @volatile private var lastEvent = System.nanoTime()
  @volatile private var openJobs = 0
  val progress = mutable.ArrayBuffer[Progress]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).fold(-1)(_.toInt)
  private def c(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      lastEvent = System.nanoTime(); openJobs += 1
      val s = spanOf(e.properties)
      jobStart(e.jobId) = (s, e.time.toDouble)
      c(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      lastEvent = System.nanoTime(); openJobs -= 1
      jobStart.remove(e.jobId).foreach { case (s, t) => c(s).jobSpans += ((t, e.time.toDouble)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      lastEvent = System.nanoTime()
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      c(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      lastEvent = System.nanoTime()
      val k = c(stageSpan.getOrElse(e.stageId, -1))
      k.tasks += 1
      if (e.reason != org.apache.spark.Success) k.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        k.taskMs += m.executorRunTime; k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime; k.deserMs += m.executorDeserializeTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.inputBytes += m.inputMetrics.bytesRead
        k.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      lastEvent = System.nanoTime()
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).fold(0L)(_.longValue)
      progress += Progress(ms("triggerExecution"), ms("addBatch"))
    }
  }

  /** Start tracing: spans on, listeners registered. */
  def start(): Unit = {
    enabled = true
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Stop tracing once the listener buses have delivered every event of
    * the traced calls (all started jobs ended, then a quiet period). */
  def stop(): Unit = {
    enabled = false
    val deadline = System.nanoTime() + 30e9.toLong
    while (System.nanoTime() < deadline &&
      (openJobs > 0 || System.nanoTime() - lastEvent < 300e6.toLong)) Thread.sleep(50)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}
