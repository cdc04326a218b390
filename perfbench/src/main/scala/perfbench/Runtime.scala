package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import java.util.concurrent.locks.{Lock, ReentrantLock, ReentrantReadWriteLock}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.GraftApp
import graft.registry.FunctionRegistry
import graft.store.DocumentStore
import graft.stream.MemoryIO

/** The runtime workload: an in-process [[GraftApp]] booted as in the README
  * quickstart (bearer auth on, the in-memory stream IO, the stream
  * `kafka/input → stream/process → kafka/output` and the ingest, stream and
  * query collectors), driven over loopback HTTP by one generator process.
  *
  * Documents: `b<i>` base docs carry a weight `w`; `d<i>` docs carry a group
  * `grp`, a version `ver` and a `peer` reference to a base doc. The query
  * door joins group g0's docs to their peers' weights under a predicate.
  * Stream version k maps a pushed value n to `n * 1000 + k`, so every sink
  * row names its input and the spec that computed it. */
class Runtime(spark: SparkSession, work: String, tag: String, seed: Long) {
  /** Data docs alternate between two groups; the query door reads g0. */
  val groups = 2
  val preloadDocs = 400
  val baseDocs = 100
  private val rng = new scala.util.Random(seed)
  private val weights = Array.fill(baseDocs)(rng.nextInt(1000).toLong)
  private val peers = Array.fill(100000)(rng.nextInt(baseDocs))
  private val pads = Array.fill(64)(rng.alphanumeric.take(48).mkString)

  val dbPath = s"$work/db-$tag"
  val io = new MemoryIO(spark)
  val app: GraftApp = GraftApp(spark, dbPath, io, new FunctionRegistry,
    authSecret = Some(s"perfbench-$seed")).start()
  val base = s"http://localhost:${app.collectors.port}"
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def request(method: String, path: String, body: Option[String],
              token: Option[String]): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    body match {
      case Some(s) => b.POST(HttpRequest.BodyPublishers.ofString(s))
      case None => b.GET()
    }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
  private def ok(what: String, r: (Int, String)): String = {
    require(r._1 / 100 == 2, s"$what failed: ${r._1} ${r._2.take(200)}")
    r._2
  }
  private def token(user: String, pass: String): String = {
    val body = s"""{"user":"$user","pass":"$pass"}"""
    (JsonMethods.parse(ok("login", request("POST", "/app/login", Some(body), None))) \ "token")
      .asInstanceOf[JString].s
  }

  def docId(i: Int) = s"d$i"
  def group(i: Int) = s"g${i % groups}"
  def docBody(i: Int, ver: Int): String =
    s"""{"doc_id":"d$i","grp":"${group(i)}","ver":$ver,"peer":"b${peers(i % peers.length)}","pad":"${pads((i + ver) % pads.length)}"}"""
  def baseBody(i: Int): String = s"""{"doc_id":"b$i","w":${weights(i)}}"""
  val queryEdn =
    """{:find [?e ?v ?w] :where [[?e :grp "g0"] [?e :ver ?v] [?e :peer ?p] [?p :w ?w] [(>= ?w 0)]]}"""
  val querySchema = StructType(Seq(StructField("grp", StringType), StructField("ver", LongType),
    StructField("peer", StringType), StructField("w", LongType)))
  def streamSpec(k: Int): String =
    s"""{"name":"stream/process","upstream":["kafka/input"],"transducer":{"map":"TRY_CAST(value AS DOUBLE) * 1000 + $k"},"buffer":100}"""

  /** Payload bytes the store was asked to keep (write amplification's denominator). */
  val payloadBytes = new AtomicLong

  // Boot as in the quickstart: first account is admin, the teammate gets
  // the developer planes, then streams and collectors deploy through /dev.
  // Boot as in the README quickstart, with the first account (the admin)
  // doing the deploys: streams and collectors go through /dev over HTTP.
  val devToken: String = {
    ok("register", request("POST", "/user/new-user", Some("""{"user":"root","pass":"R00T_PW"}"""), None))
    val root = token("root", "R00T_PW")
    def dev(path: String, body: String) = ok(path, request("POST", path, Some(body), Some(root)))
    dev("/dev/stream/create", """{"name":"kafka/input"}""")
    dev("/dev/stream/create", streamSpec(0))
    dev("/dev/stream/create", """{"name":"kafka/output","upstream":["stream/process"]}""")
    dev("/dev/collector/create",
      """{"name":"events","path":"/app/events","handler":{"kind":"stream","node":"kafka/input"}}""")
    dev("/dev/collector/create",
      """{"name":"add-doc","path":"/app/add-doc","handler":{"kind":"ingest","idField":"doc_id"}}""")
    val edn = queryEdn.replace("\"", "\\\"")
    dev("/dev/collector/create",
      s"""{"name":"docs","path":"/app/docs","handler":{"kind":"query","edn":"$edn",""" +
        """"fields":{"grp":"string","ver":"long","peer":"string","w":"long"}}}""")
    root
  }

  // Preload a compacted base: every base doc and `preloadDocs` data docs.
  locally {
    val docs = (0 until baseDocs).map(i => s"b$i" -> baseBody(i)) ++
      (0 until preloadDocs).map(i => docId(i) -> docBody(i, 0))
    docs.foreach { case (_, d) => payloadBytes.addAndGet(d.length) }
    app.store.putAll(docs)
    app.store.compact()
  }

  def preloadJson: JValue = JObject(
    ((0 until baseDocs).map(i => JField(s"b$i", JString(baseBody(i)))) ++
      (0 until preloadDocs).map(i => JField(docId(i), JString(docBody(i, 0))))).toList)

  /** The sink query of `kafka/output` and the control-plane subscriber, as
    * running now (a swap replaces the sink query). */
  def sinkQuery = app.streams.runningQueries.get("kafka/output")
  def controlQuery = app.streams.runningQueries.get(app.streams.controlTopic)

  def close(): Unit = app.stop()
}

/** An operation of the runtime schedule, as the generator saw it. Times
  * are [[Clock.ms]]; `sched` is the planned send time that latencies are
  * measured from. */
case class Op(kind: String, key: String, sched: Double, sent: Double, done: Double,
              status: Int, detail: JValue)

/** Drives a [[Runtime]]: an open-loop schedule at fixed rates, then a
  * closed-loop ingest burst. */
class Driver(rt: Runtime, clients: Int, initialSpans: Spans) {
  import rt._
  @volatile var spans: Spans = initialSpans
  val ops = new ConcurrentLinkedQueue[Op]()
  /** First time each sink row was seen: (value, Clock.ms). */
  val sinkRows = new ConcurrentLinkedQueue[(Double, Double)]()
  val filesSamples = new ConcurrentLinkedQueue[Int]()
  val backlog = new AtomicInteger
  val backlogMax = new AtomicInteger
  private val pushed = new AtomicInteger
  private val nextDoc = new AtomicInteger(preloadDocs)
  private val nextUpdate = new AtomicInteger
  private val nextPush = new AtomicInteger(1)
  private val version = new AtomicInteger
  private val stopWatch = new AtomicBoolean(false)
  /** Compaction is a single-writer maintenance operation that the store
    * documents as off-peak: a read overlapping its rename swap sees a
    * missing file. Query-door reads hold the read side, compaction the
    * write side, so a compaction waits for reads in flight and reads
    * scheduled during it wait (the wait counts in their latency). */
  private val storeGate = new ReentrantReadWriteLock
  /** One push or swap at a time, in arrival order. The in-memory stream IO
    * encodes pushed rows with a serializer shared by concurrent callers, so
    * two pushes at once can lose a row. A swap restarts the sink query, and
    * the control plane re-applies the same update and restarts it once
    * more; a micro-batch interrupted by a restart after its rows reached
    * the sink is replayed (at-least-once). So a swap holds the stream while
    * it drains the sink, swaps and waits for the control plane to apply
    * it; pushes held meanwhile count the wait in their latency. */
  private val streamGate = new ReentrantLock(true)
  private def gated[A](lock: Lock)(f: => A): A = {
    lock.lock()
    try f finally lock.unlock()
  }

  private def record(kind: String, key: String, sched: Double)(f: => (Int, JValue)): Unit = {
    val sent = Clock.ms
    val (status, detail) =
      try spans.within("op", kind)(f)
      catch { case e: Throwable => (-1, JString(e.toString.take(200)): JValue) }
    ops.add(Op(kind, key, sched, sent, Clock.ms, status, detail))
  }

  def ingestNew(sched: Double): Unit = {
    val i = nextDoc.getAndIncrement()
    val body = docBody(i, 1)
    payloadBytes.addAndGet(body.length)
    record("ingest", docId(i), sched) {
      val r = spans.within("layer", "api.ingest")(request("POST", "/app/add-doc", Some(body), Some(devToken)))
      (r._1, ("ver" -> 1) ~ ("grp" -> group(i)) ~ ("body" -> body))
    }
  }
  /** Updates walk the preloaded docs with a stride, so no id has two
    * writes in flight and the last acknowledged version is well defined. */
  def ingestUpdate(sched: Double): Unit = {
    val i = (nextUpdate.getAndIncrement() * 37) % preloadDocs
    val body = docBody(i, 1)
    payloadBytes.addAndGet(body.length)
    record("ingest", docId(i), sched) {
      val r = spans.within("layer", "api.ingest")(request("POST", "/app/add-doc", Some(body), Some(devToken)))
      (r._1, ("ver" -> 1) ~ ("grp" -> group(i)) ~ ("body" -> body))
    }
  }
  def query(sched: Double): Unit = record("query", "g0", sched) {
    val (code, body) = gated(storeGate.readLock)(
      spans.within("layer", "api.query")(request("GET", "/app/docs", None, Some(devToken))))
    val rows: JValue =
      if (code == 200) JArray(JsonMethods.parse(body).children.map(r =>
        JArray(List(r \ "e", r \ "v"))))
      else JString(body.take(200))
    (code, ("grp" -> 0) ~ ("rows" -> rows))
  }
  def push(sched: Double): Unit = {
    val n = nextPush.getAndIncrement()
    record("push", n.toString, sched) {
      val r = gated(streamGate)(
        spans.within("layer", "api.push")(request("POST", "/app/events", Some(n.toString), Some(devToken))))
      if (r._1 / 100 == 2) { pushed.incrementAndGet(); backlog.incrementAndGet() }
      (r._1, JInt(n))
    }
  }
  /** Swap the processor to the next version with the stream quiet (see
    * [[streamGate]]), then push a probe value so the new code's first row
    * follows promptly. The op runs from the swap request until the control
    * plane has applied the update. */
  def swap(sched: Double): Unit = {
    val k = version.incrementAndGet()
    gated(streamGate) {
      val drained = scala.util.Try(sinkQuery.foreach(_.processAllAvailable()))
      record("swap", k.toString, sched) {
        drained.get
        val r = spans.within("layer", "registry.swap")(
          request("POST", "/dev/stream/update/process", Some(streamSpec(k)), Some(devToken)))
        if (r._1 / 100 == 2) controlQuery.foreach(_.processAllAvailable())
        (r._1, JInt(k))
      }
    }
    push(Clock.ms)
  }
  def compact(sched: Double, maxFiles: Int): Unit = record("compact", "store", sched) {
    val ran = gated(storeGate.writeLock)(
      spans.within("layer", "store.compact")(app.store.compactIfFragmented(maxFiles)))
    (200, JBool(ran))
  }

  /** Polls the sink and the store's file count while the run lasts. */
  private val watcher = new Thread(() => {
    var seen = 0
    var lastFiles = 0.0
    while (!stopWatch.get()) {
      val rows = io.collected("output")
      while (seen < rows.size) {
        sinkRows.add((rows(seen).getAs[Double]("value"), Clock.ms))
        seen += 1
        backlog.decrementAndGet()
      }
      backlogMax.accumulateAndGet(backlog.get, math.max)
      if (Clock.ms - lastFiles > 500) {
        lastFiles = Clock.ms
        try filesSamples.add(app.store.fragmentation().values.sum) catch { case _: Exception => () }
      }
      Thread.sleep(5)
    }
  }, "perfbench-sink-watch")
  watcher.setDaemon(true)
  watcher.start()

  /** One op of each HTTP kind, waiting for the pushed value's sink row. */
  def warmUp(): Unit = {
    ingestNew(Clock.ms)
    query(Clock.ms)
    push(Clock.ms)
    val end = Clock.ms + 30000
    while (sinkRows.size < pushed.get && Clock.ms < end) Thread.sleep(10)
  }

  /** Open-loop schedule: ops fire at fixed offsets regardless of how long
    * earlier ones took; at most `clients` run at once. */
  def openLoop(seconds: Double, rates: Rates): Unit = {
    val pool = new ScheduledThreadPoolExecutor(clients)
    val t0 = Clock.ms + 50
    def at(offsetS: Double)(f: Double => Unit): Unit = {
      val sched = t0 + offsetS * 1000
      pool.schedule((() => f(sched)): Runnable, math.max(0L, (sched - Clock.ms).toLong), TimeUnit.MILLISECONDS)
      ()
    }
    def every(flow: Flow)(f: (Int, Double) => Unit): Unit = {
      val n = ((flow.until - flow.from) * seconds * flow.perS).toInt
      (0 until n).foreach(i => at(flow.from * seconds + (i + 0.5) / flow.perS)(s => f(i, s)))
    }
    every(rates.ingest)((i, s) => if (i % 2 == 0) ingestNew(s) else ingestUpdate(s))
    every(rates.query)((_, s) => query(s))
    rates.push.foreach(every(_)((_, s) => push(s)))
    rates.swapsAt.foreach(f => at(f * seconds)(swap))
    rates.compactAt.foreach(f => at(f * seconds)(s => compact(s, rates.compactFiles)))
    pool.shutdown()
    pool.awaitTermination(180, TimeUnit.SECONDS)
    ()
  }

  /** Closed loop: `clients` threads POST new docs back to back. Returns
    * completed requests per second. */
  def burst(seconds: Double): Double = {
    val pool = Executors.newFixedThreadPool(clients)
    val end = Clock.ms + seconds * 1000
    val done = new AtomicInteger
    val t0 = Clock.ms
    (1 to clients).foreach(_ => pool.submit((() => {
      while (Clock.ms < end) {
        val s = Clock.ms
        ingestNew(s)
        done.incrementAndGet()
      }
    }): Runnable))
    pool.shutdown()
    pool.awaitTermination(180, TimeUnit.SECONDS)
    done.get / ((Clock.ms - t0) / 1000)
  }

  /** Wait until every acknowledged push has reached the sink (or timeout). */
  def settle(timeoutS: Double): Unit = {
    val end = Clock.ms + timeoutS * 1000
    while (sinkRows.size < pushed.get && Clock.ms < end) Thread.sleep(10)
    stopWatch.set(true)
    watcher.join(5000)
  }

  def opsJson: JValue = JArray(ops.asScala.toList.sortBy(_.sched).map(o =>
    ("kind" -> o.kind) ~ ("key" -> o.key) ~ ("sched" -> o.sched) ~ ("sent" -> o.sent) ~
      ("done" -> o.done) ~ ("status" -> o.status) ~ ("detail" -> o.detail)))
  def sinkJson: JValue = JArray(sinkRows.asScala.toList.map { case (v, t) =>
    JArray(List(JDouble(v), JDouble(t))) })
}

/** An op kind's open-loop rate over the window [from, until) of the
  * schedule, as fractions of its length. */
case class Flow(perS: Double, from: Double, until: Double)
case class Rates(ingest: Flow, query: Flow, push: Seq[Flow],
                 swapsAt: Seq[Double], compactAt: Seq[Double], compactFiles: Int)

object Runtime {
  /** Three phases, so one path's slow operations do not queue the others
    * behind them: writes and pushes, then query-door reads over the grown
    * store (a compaction lands among them), then pushes across two
    * hot-swaps. Rates sit under the single-op costs (a put ~150 ms, a
    * query-door read 230-780 ms, a swap ~0.75 s), so the schedule stays
    * open-loop rather than saturated. */
  val rates = Rates(ingest = Flow(2.5, 0.0, 0.45), query = Flow(1.5, 0.45, 0.7),
    push = Seq(Flow(2.0, 0.0, 0.45), Flow(2.0, 0.7, 1.0)),
    swapsAt = Seq(0.72, 0.86), compactAt = Seq(0.55), compactFiles = 2)

  /** The same phases for one client, in traced runs: ops must not queue
    * behind each other, or time-window attribution would smear. */
  val probeRates = Rates(ingest = Flow(1.5, 0.0, 0.45), query = Flow(0.75, 0.45, 0.7),
    push = Seq(Flow(1.0, 0.0, 0.45), Flow(1.0, 0.7, 1.0)),
    swapsAt = Seq(0.72, 0.86), compactAt = Seq(0.55), compactFiles = 2)

  /** Reopen the store after `app.stop()` and read back every current doc. */
  def readBack(spark: SparkSession, path: String): JValue = {
    val store = DocumentStore(spark, path)
    try {
      val rows = store.db().select("id", "doc").collect()
      JObject(rows.toList.map(r => JField(r.getString(0), JString(r.getString(1)))))
    } finally store.close()
  }
}
