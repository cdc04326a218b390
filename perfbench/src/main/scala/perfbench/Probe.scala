package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans recorded here line up with Spark listener event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Process-level readings: CPU, GC, heap pools and resident set. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def cpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** High-water resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One timed interval of the traced run. `kind` is workload, op, layer or
  * job; `parent` names the enclosing span, if any. */
case class Span(id: Long, parent: Long, kind: String, name: String,
                start: Double, end: Double)

/** Spans kept in memory and written out at the end of the traced run. */
class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue() = 0L }
  def within[A](kind: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val t0 = Clock.ms
      current.set(id)
      try body
      finally {
        current.set(parent)
        all.add(Span(id, parent, kind, name, t0, Clock.ms))
      }
    }
  def toJson: JValue = JArray(all.asScala.toList.sortBy(_.start).map(s =>
    ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("kind" -> s.kind) ~
      ("name" -> s.name) ~ ("start" -> s.start) ~ ("end" -> s.end)))
}

/** Spark-side layer readings, from Spark's public listener APIs only:
  * job intervals and call sites, task-end metrics, planning-phase times
  * of each action and streaming trigger progress. Counters are read as
  * deltas between [[snapshot]]s after the listener bus has drained. */
class SparkProbe(spark: SparkSession) extends SparkListener {
  case class Job(start: Double, end: Double, site: String)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spill = new AtomicLong
  private val phases = Map("analysis" -> new DoubleAdder, "optimization" -> new DoubleAdder,
    "planning" -> new DoubleAdder)
  val progress = new ConcurrentLinkedQueue[Map[String, Long]]()
  /** (query name, Clock.ms) of every streaming query start; Spark posts
    * the start event on the starting thread, so the time is the start's. */
  val queryStarts = new ConcurrentLinkedQueue[(String, Double)]()

  /** SQL execution id -> the call site of the action that started it;
    * jobs AQE submits from its own threads carry only the execution id. */
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.description); ()
    case _ => ()
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong)))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
    jobStarts.put(e.jobId, (e.time.toDouble, site))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, site) =>
      jobs.add(Job(t0, e.time.toDouble, site))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.get(phase).foreach(_.add((s.endTimeMs - s.startTimeMs) / 1e3))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      queryStarts.add((Option(e.name).getOrElse(""), Clock.ms)); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def attach(): SparkProbe = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    this
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
  def drain(): Unit = org.apache.spark.sql.graft.DatasetBridge.drainListenerBus(spark)

  /** Counter readings at this instant (drain first for a settled view). */
  def snapshot(): Map[String, Double] = {
    drain()
    Map(
      "stages" -> stages.get.toDouble, "tasks" -> tasks.get.toDouble,
      "run_s" -> runMs.get / 1e3, "cpu_s" -> cpuNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
      "shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "spill_mb" -> spill.get / 1048576.0) ++
      phases.map { case (k, v) => s"plan_${k}_s" -> v.sum }
  }

  def jobsJson(from: Double, to: Double): JValue =
    JArray(jobs.asScala.toList.filter(j => j.start >= from && j.start <= to)
      .sortBy(_.start).map(j => ("start" -> j.start) ~ ("end" -> j.end) ~ ("site" -> j.site)))

  /** Peak storage memory held by cached RDDs, in MB, over the samples
    * taken since the last reset. */
  @volatile var cachedPeakMb = 0.0
  def sampleCached(): Unit = {
    val mb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    cachedPeakMb = math.max(cachedPeakMb, mb)
  }
}
