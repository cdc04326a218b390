package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** One benchmark run inside one JVM. Writes the raw record (samples, op
  * logs, layer readings) as JSON to `--out`; `run.py` turns it into
  * metrics and checks it.
  *
  * Usage: `perfbench.Main --workload registry|runtime --seconds S
  * --trace 0|1 --seed N --data DIR --work DIR --out FILE` */
object Main {
  val setups = 3
  val burstS = 5.0
  val registryStride = 24
  val warmPasses = 1
  val measuredPasses = 4

  def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val (data, work) = (opt("data"), opt("work"))
    val nproc = java.lang.Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val result = workload match {
      case "registry" => batch(Gates.registry(registryStride), data, work, seconds, trace, seed, nproc, jvmStart)
      case "runtime" => runtime(data, work, seconds, trace, seed, nproc, jvmStart)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = result ~ ("workload" -> workload) ~ ("seed" -> seed) ~ ("nproc" -> nproc) ~
      ("peak_rss_mb" -> Jvm.peakRssMb)
    Files.writeString(Paths.get(opt("out")), JsonMethods.compact(JsonMethods.render(record)))
  }

  /** Set up `setups` times and keep the last; the first is timed from JVM
    * start, so it includes class loading. */
  private def setUp[A](jvmStart: Double)(make: () => A)(discard: A => Unit): (A, Seq[Double]) = {
    var kept: Option[A] = None
    val times = (1 to setups).map { i =>
      val t0 = if (i == 1) jvmStart else Clock.ms
      val a = make()
      val dt = (Clock.ms - t0) / 1e3
      if (i < setups) discard(a) else kept = Some(a)
      dt
    }
    (kept.get, times)
  }

  private def batch(gates: Seq[(String, Gates.Gate)], data: String, work: String,
                    seconds: Double, trace: Boolean, seed: Long, nproc: Int,
                    jvmStart: Double): JObject = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val (spark, setupTimes) = setUp(jvmStart) { () =>
      val s = session(nproc, work)
      tables.foreach(t => s.read.parquet(s"$data/$t.parquet").schema)
      s
    }(stop)
    val w0 = Clock.ms
    val checked = Gates.capture(spark, data, s"$work/out", gates)
    val warmupS = (Clock.ms - w0) / 1e3
    val common = ("setup_s" -> setupTimes) ~ ("warmup_s" -> warmupS) ~
      ("checked" -> Gates.checkedJson(checked)) ~ ("oracle_sql" -> Gates.oracleJson(gates)) ~
      ("out_dir" -> s"$work/out")
    val off = new Spans(false)
    if (!trace) {
      // The first `warmPasses` timed passes are a further warm-up and the
      // next `measuredPasses` are measured, a fixed window so that every run
      // measures the same passes. More passes run while `seconds` last; all
      // are checked.
      val t0 = Clock.ms
      val timed = scala.collection.mutable.ArrayBuffer.empty[Gates.Timed]
      val passes = scala.collection.mutable.ArrayBuffer.empty[JObject]
      var pass = 0
      while (pass < warmPasses + measuredPasses || Clock.ms - t0 < seconds * 1000) {
        pass += 1
        val (c0, w0) = (Jvm.cpuS, Clock.ms)
        timed ++= Gates.timedPass(spark, data, gates, pass, off)
        passes += ("pass" -> pass) ~ ("cpu_s" -> (Jvm.cpuS - c0)) ~ ("wall_s" -> (Clock.ms - w0) / 1e3)
      }
      stop(spark)
      common ~ ("timed" -> Gates.timedJson(timed.toSeq)) ~ ("passes" -> passes.toList) ~
        ("measured_passes" -> (warmPasses + 1 to warmPasses + measuredPasses).toList)
    } else {
      Gates.timedPass(spark, data, gates, 0, off) // settles the first-pass effects
      val spans = new Spans(true)
      val probe = new SparkProbe(spark).attach()
      val main = layerPhase(spark, probe) {
        spans.within("workload", "main")(
          Gates.timedPass(spark, data, gates, 1, spans, () => probe.sampleCached()))
      }
      probe.detach()
      val untraced = Gates.timedPass(spark, data, gates, 2, off)
      probe.attach()
      val probeGates = gateProbe(spark, data, work, spans)
      val rt = runtimeProbe(spark, work, seed, spans, probe)
      probe.detach()
      stop(spark)
      common ~ ("untraced" -> Gates.timedJson(untraced)) ~
        ("traced" -> Gates.timedJson(main._1)) ~ ("main" -> main._2) ~
        ("gate_probe" -> Gates.timedJson(probeGates)) ~ ("runtime_probe" -> rt) ~
        ("spans" -> spans.toJson)
    }
  }

  /** Run `body` as the traced main phase: listener counters, job
    * intervals, GC and heap peak over exactly this window. */
  private def layerPhase[A](spark: SparkSession, probe: SparkProbe)(body: => A): (A, JObject) = {
    val snap0 = probe.snapshot()
    Jvm.resetHeapPeak()
    probe.cachedPeakMb = 0.0
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => while (!done.get) { probe.sampleCached(); Thread.sleep(100) })
    sampler.setDaemon(true)
    sampler.start()
    val gc0 = Jvm.gcS
    val t0 = Clock.ms
    val a = try body finally { done.set(true); sampler.join() }
    val t1 = Clock.ms
    val snap1 = probe.snapshot()
    val deltas = snap1.map { case (k, v) => k -> JDouble(v - snap0.getOrElse(k, 0.0)) }.toList
    (a, JObject(deltas) ~ ("start" -> t0) ~ ("end" -> t1) ~ ("jvm_gc_s" -> (Jvm.gcS - gc0)) ~
      ("jvm_heap_peak_mb" -> Jvm.heapPeakMb) ~ ("cached_mb_peak" -> probe.cachedPeakMb) ~
      ("jobs" -> probe.jobsJson(t0, t1)))
  }

  /** Direct calls into the store and the query door, for the layer split. */
  private def directCalls(rt: Runtime, spans: Spans): JObject = {
    val puts = (0 until 10).map { i =>
      val body = s"""{"doc_id":"p$i","grp":"direct","ver":1}"""
      rt.payloadBytes.addAndGet(body.length)
      val t0 = Clock.ms
      spans.within("op", "store.put")(rt.app.store.put(s"p$i", body))
      ("id" -> s"p$i") ~ ("body" -> body) ~ ("start" -> t0) ~ ("end" -> Clock.ms)
    }
    val queries = (0 until 5).map { i =>
      spans.within("op", "query.direct") {
        val t0 = Clock.ms
        val df = spans.within("layer", "query.datalog.build")(
          rt.app.store.qPublic(rt.queryEdn, rt.querySchema)).toOption.get
        val t1 = Clock.ms
        spans.within("layer", "query.datalog.exec")(df.limit(1001).toJSON.collect())
        ("start" -> t0) ~ ("built" -> t1) ~ ("end" -> Clock.ms)
      }
    }
    ("puts" -> puts.toList) ~ ("queries" -> queries.toList)
  }

  private def storeBytes(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  private def runtimeRecord(rt: Runtime, d: Driver, spark: SparkSession): JObject = {
    val dropped = rt.app.streams.topology.nodes.keys.toList.map(rt.app.streams.topology.droppedRows).sum
    val bytes = storeBytes(rt.dbPath)
    rt.close()
    ("ops" -> d.opsJson) ~ ("sink" -> d.sinkJson) ~
      ("files_samples" -> d.filesSamples.toArray.toList.map(_.asInstanceOf[Int])) ~
      ("backlog_max" -> d.backlogMax.get) ~ ("dropped_rows" -> dropped) ~
      ("store_bytes" -> bytes) ~ ("payload_bytes" -> rt.payloadBytes.get) ~
      ("preload" -> rt.preloadJson) ~
      ("readback" -> Runtime.readBack(spark, rt.dbPath))
  }

  /** The runtime layers, exercised briefly at one client, in traced runs of
    * the batch workloads. */
  private def runtimeProbe(spark: SparkSession, work: String, seed: Long, spans: Spans,
                           probe: SparkProbe): JObject = {
    val rt = new Runtime(spark, work, "probe", seed)
    val d = new Driver(rt, 1, spans)
    val (direct, phase) = layerPhase(spark, probe) {
      spans.within("workload", "runtime-probe") { d.openLoop(6.0, Runtime.probeRates); directCalls(rt, spans) }
    }
    d.settle(20)
    ("progress" -> progressJson(probe)) ~ ("query_starts" -> startsJson(probe)) ~
      ("phase" -> phase) ~ ("direct" -> direct) ~ runtimeRecord(rt, d, spark)
  }

  private def startsJson(probe: SparkProbe): JValue = {
    import scala.jdk.CollectionConverters._
    JArray(probe.queryStarts.asScala.toList.map { case (name, t) =>
      JArray(List(JString(name), JDouble(t))) })
  }

  private def progressJson(probe: SparkProbe): JValue = {
    import scala.jdk.CollectionConverters._
    JArray(probe.progress.asScala.toList.map(m =>
      JObject(m.toList.map { case (k, v) => JField(k, JInt(v)) })))
  }

  private def runtime(data: String, work: String, seconds: Double, trace: Boolean, seed: Long, nproc: Int,
                      jvmStart: Double): JObject = {
    val off = new Spans(false)
    var n = 0
    val ((spark, rt, d), setupTimes) = setUp(jvmStart) { () =>
      n += 1
      val s = session(nproc, work)
      val rt = new Runtime(s, work, s"s$n", seed)
      (s, rt, new Driver(rt, if (trace) 1 else nproc, off))
    } { case (s, rt, d) => d.settle(20); rt.close(); stop(s) }
    d.warmUp()
    if (!trace) {
      val cpu0 = Jvm.cpuS
      val t0 = Clock.ms
      d.openLoop(seconds, Runtime.rates)
      // CPU of the fixed schedule only: the burst's work grows with capacity
      val cpu = Jvm.cpuS - cpu0
      val burstStart = Clock.ms
      val capacity = d.burst(burstS)
      val wall = (Clock.ms - t0) / 1e3
      d.settle(30)
      val rec = runtimeRecord(rt, d, spark)
      stop(spark)
      rec ~ ("setup_s" -> setupTimes) ~ ("timed_start" -> t0) ~ ("cpu_s" -> cpu) ~
        ("timed_wall_s" -> wall) ~ ("burst_start" -> burstStart) ~ ("capacity_rps" -> capacity)
    } else {
      val half = seconds / 2
      val t0 = Clock.ms
      d.openLoop(half, Runtime.probeRates)
      val t1 = Clock.ms
      val spans = new Spans(true)
      val probe = new SparkProbe(spark).attach()
      d.spans = spans
      val (direct, phase) = layerPhase(spark, probe) {
        spans.within("workload", "main") { d.openLoop(half, Runtime.probeRates); directCalls(rt, spans) }
      }
      d.settle(30)
      val rec = runtimeRecord(rt, d, spark)
      val gates = gateProbe(spark, data, work, spans)
      probe.detach()
      stop(spark)
      rec ~ ("setup_s" -> setupTimes) ~ ("timed_start" -> t0) ~ ("traced_start" -> t1) ~
        ("progress" -> progressJson(probe)) ~ ("query_starts" -> startsJson(probe)) ~
        ("main" -> phase) ~ ("direct" -> direct) ~ ("gate_probe" -> Gates.timedJson(gates)) ~
        ("spans" -> spans.toJson)
    }
  }

  /** The gate layer in every traced run: one gate per family, captured
    * untimed first like the workloads' own gates, then timed once. */
  private def gateProbe(spark: SparkSession, data: String, work: String,
                        spans: Spans): Seq[Gates.Timed] = {
    val gates = Gates.named(Gates.probe)
    Gates.capture(spark, data, s"$work/probe-out", gates)
    spans.within("workload", "gate-probe")(Gates.timedPass(spark, data, gates, 2, spans))
  }
}
