package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, start, end, the span that caused
  * it and the workload round it belongs to. `jobs`, `cpuNs` and
  * `shuffleBytes` are the Spark work whose jobs were submitted while
  * this span was the innermost one on the submitting thread.
  */
final case class Span(id: Long, parent: Long, name: String, round: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side tracing: spans around public calls plus the three
  * listener kinds. Nothing is registered until [[on]]; with tracing off
  * [[span]] only runs its body.
  */
final class Trace(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val spans = ArrayBuffer.empty[Span]
  @volatile private var enabled = false
  @volatile var round = ""

  // Spark work per span id, filled by the listener from job properties
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private final class Work {
    val jobs = new LongAdder; val cpuNs = new LongAdder
    val shuffle = new LongAdder
  }
  private val work = new ConcurrentHashMap[Long, Work]()
  private def workOf(id: Long) = work.computeIfAbsent(id, _ => new Work)
  val jobs = new LongAdder
  val cpuNs = new LongAdder
  val shuffleBytes = new LongAdder
  val planningNs = new LongAdder
  /** Tasks of stages that scan a DSv2 source: in the ingest workload only
    * PagedApiSource is one, so these are its fetch tasks.
    */
  val fetchTasks = new LongAdder
  val progress = ArrayBuffer.empty[Map[String, Double]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      val id = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      workOf(id).jobs.increment()
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD")))
        fetchTasks.add(e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
        w.cpuNs.add(m.executorCpuTime); cpuNs.add(m.executorCpuTime)
        val sb = m.shuffleWriteMetrics.bytesWritten
        w.shuffle.add(sb); shuffleBytes.add(sb)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planningNs.add(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      progress.synchronized {
        progress += (d.toMap + ("numInputRows" -> p.numInputRows.toDouble))
      }
    }
  }

  def on(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Unregisters every listener after the bus has delivered what the
    * traced calls produced.
    */
  def off(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }

  /** Runs `body` as a span named `name` under the current span (or under
    * `parent` when given, for calls made on another thread, such as a
    * streaming query's foreachBatch).
    */
  def span[T](name: String, parent: Long = -1L,
      attrs: => Map[String, Double] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val outer = stack.get
    val par = if (parent >= 0) parent else outer.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    stack.set(id :: outer)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanKey, prevProp)
      stack.set(outer)
      val s = Span(id, par, name, round, t0, t1, attrs)
      spans.synchronized(spans += s)
    }
  }

  def currentSpan: Long = stack.get.headOption.getOrElse(0L)

  /** All spans, each with its own Spark work attached as attributes. */
  def finished: Seq[Span] = spans.synchronized(spans.toList).map { s =>
    Option(work.get(s.id)).fold(s) { w =>
      s.copy(attrs = s.attrs ++ Map("jobs" -> w.jobs.sum.toDouble,
        "cpu_s" -> w.cpuNs.sum / 1e9, "shuffle_bytes" -> w.shuffle.sum.toDouble))
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = finished.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "round" -> s.round, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "attrs" -> s.attrs)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
