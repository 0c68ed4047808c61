package lakebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Work Spark did on behalf of one span or one flush. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuMs = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** A timed call the benchmark made into one layer. Times are
  * `System.nanoTime` readings; `parent` is -1 at the root.
  */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val work = new Work
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run.
  *
  * `span` wraps one call the benchmark makes into a layer and tags the
  * calling thread's Spark jobs with the span id, so the [[SparkListener]]
  * charges jobs, tasks, executor CPU, shuffle and spill to the innermost
  * open span. Jobs a streaming query runs are charged to their flush
  * (query id, batch id) instead: the trigger thread does not run inside any
  * benchmark call. A [[StreamingQueryListener]] keeps every trigger's
  * progress (`durationMs` phases, end offsets).
  *
  * While off (untraced runs, and the untraced windows of a traced run)
  * `span` only runs its body and no listener is registered.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanKey = "lakebench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
  val flushWork = new java.util.concurrent.ConcurrentHashMap[(String, Long), Work]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile var on = false

  private def work(key: AnyRef): Work = key match {
    case s: Span => s.work
    case k: (String, Long) @unchecked => flushWork.computeIfAbsent(k, _ => new Work)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val key: Option[AnyRef] =
        Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map(b =>
          (p.getProperty("sql.streaming.queryId"), b.toLong))) orElse
        Option(p).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(id => spans.synchronized(spans(id.toInt)))
      key.foreach { k =>
        val w = work(k)
        w.synchronized(w.jobs += 1)
        e.stageIds.foreach(s => stageSpan.put(s, k))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { k =>
        val w = work(k)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.cpuMs += m.executorCpuTime / 1e6
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
            w.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  def start(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop recording; listener events already queued are delivered first. */
  def stop(): Unit = if (on) {
    drainBus()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drainBus(): Unit = {
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.get().headOption
      val s = spans.synchronized {
        val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, System.nanoTime())
        spans += s
        s
      }
      val prevProp = sc.getLocalProperty(SpanKey)
      open.set(s :: open.get())
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.set(open.get().tail)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
  def named(name: String): Seq[Span] = all.filter(s => s.name == name && s.endNs > 0)

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(k => k.parent == s.id && k.endNs > 0)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Spans as JSON lines: name, start/end (ms from the first span), parent,
    * run id, self time and the Spark work charged to the span.
    */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all.filter(_.endNs > 0)
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val lines = ss.map { s =>
      val w = s.work
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${selfMs(s)}%.3f,"jobs":${w.jobs},"tasks":${w.tasks},""" +
        f""""task_ms":${w.taskMs},"cpu_ms":${w.cpuMs}%.3f,"shuffle_bytes":${w.shuffleBytes},""" +
        f""""spill_bytes":${w.spillBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Process-wide JVM counters over a window (in local mode the driver is the
  * whole process: executor threads included).
  */
final class JvmWindow {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val cpu0 = os.getProcessCpuTime
  private val gc0 = gcs.map(_.getCollectionTime).sum
  heapPools.foreach(_.resetPeakUsage())

  def cpuMs: Double = (os.getProcessCpuTime - cpu0) / 1e6
  def gcMs: Double = (gcs.map(_.getCollectionTime).sum - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
