package graft.streaming

import graft.core.{StorageSchemas, TokenBucket}
import graft.storage.{Catalog, MetricStore}
import java.io.{BufferedReader, InputStreamReader}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The runnable cache daemon — the analog of the reference's
  * `bin/rurouni-cache.py` service wiring (rurouni/service.py:27-52): ONE
  * process that listens for line-protocol points on a TCP socket, journals
  * them, parses and admits them through the streaming ingest into the hot
  * cache, watermark-flushes closed slots into the archive cascade, and
  * serves both the pre-flush cache view and the merged hot ∪ historical
  * read over HTTP.
  *
  * Wiring (each arrow is a component that exists and is specced on its own;
  * the daemon is the one-process composition):
  * {{{
  *   TCP line listener  ──>  spool journal (closed files in spoolDir)
  *       (protocols.MetricLineReceiver, service.py:31-45)
  *   journal  ──file source──>  Ingest.startMixedRouted
  *       parse -> route -> admit -> HotCache
  *       (cache service wiring, service.py:55-61; per-point schema routing,
  *        storage.py:152-180,200-204)
  *   HotCache  ──watermark flush──>  MetricStore cascade (level 0..n)
  *       (WriterService, service.py:69-71)
  *   HotCache  ──CacheQueryServer──>  GET /query, GET /fetch, GET /list
  *       (CacheManagementHandler, service.py:63-67)
  * }}}
  *
  * MULTI-SCHEMA: the daemon takes one route per storage schema
  * (first-match-wins over metric names, the order of `routes`), each with
  * its own MetricStore, retention cascade, aggregation method and
  * cacheRetention — the reference loads storage-schemas.conf as its first
  * act and routes every point to its schema's file family
  * (rurouni/storage.py:152-180; conf/storage-schemas.conf.example:22-44).
  * A single-schema daemon is the one-element case and pays no routing cost.
  *
  * Shutdown mirrors the reference's stop hook
  * (rurouni/writer.py:73-83 writeCachedDataPointsWhenStop): the listener
  * closes, buffered lines drain through one final micro-batch, and EVERY
  * hot cache flushes to its store with the watermark gate disabled —
  * a clean stop loses no committed point.
  *
  * The TCP listener is a driver-side socket (like [[CacheQueryServer]]'s
  * HTTP endpoint): the ingest protocol edge is inherently a single
  * network endpoint in the reference deployment too. Parsing, alignment,
  * admission, cache maintenance, and flush all stay distributed Spark jobs;
  * the listener only queues raw lines for the journal writer. In a broker
  * deployment a broker source (Kafka) would replace the journal's
  * `readStream` in [[start]] — `Ingest.startMixedRouted` takes any stream
  * of `line` records — and the listener would retire.
  *
  * @param routes one (store, cacheRetention) per storage schema, consulted
  *   first-match in order; points matching no route's schema pattern drop
  *   (append a catch-all default route for reference fidelity — the CLI
  *   entrypoint does).
  * @param spoolDir the journal: every received line is written to a closed
  *   file here, and the stream is Spark's file source over it. The file
  *   source checkpoints consumed files, so a restarted daemon with the same
  *   checkpoint resumes EXACTLY where it stopped. A SINGLE writer thread
  *   journals all connections' pending lines on a time/size cadence
  *   ([[Daemon.SpoolFlushMillis]] / [[Daemon.SpoolFlushBytes]]), so journal
  *   file count is bounded by wall-time — N drip-feed clients (1 pt/s
  *   held-open sockets, the reference's bread-and-butter workload) share
  *   one file per tick instead of creating one file per point, which would
  *   melt the file source's directory listing long before data volume
  *   matters. The reference batches its cache for cacheRetention seconds
  *   before any I/O for exactly this reason (rurouni/writer.py:48-70).
  * @param bindInterface listen address for BOTH the line listener and the
  *   HTTP server — loopback by default (tests, co-located deployments);
  *   "0.0.0.0" to serve externally, the reference's
  *   LINE_RECEIVER_INTERFACE / CACHE_QUERY_INTERFACE
  *   (conf/rurouni.conf.example:10-12).
  */
final class Daemon(routes: Seq[Daemon.Route], waitTime: Long,
                   checkpoint: String, spoolDir: String,
                   linePort: Int = 0, httpPort: Int = 0,
                   nowFn: () => Long = () => System.currentTimeMillis() / 1000,
                   instr: Option[Instrumentation] = None,
                   metricInterval: Long = 60L,
                   bindInterface: String = "127.0.0.1",
                   maintenanceInterval: Long = 0L)
                  (implicit spark: SparkSession) {
  import Daemon.{SpoolFlushBytes, SpoolFlushMillis}
  require(routes.nonEmpty, "daemon needs at least one schema route")

  val hots: Seq[HotCache] =
    routes.map(r => new HotCache(r.store, r.cacheRetention, waitTime))
  /** The first route's cache/store — THE cache in the single-schema case. */
  val hot: HotCache = hots.head
  def store: MetricStore = routes.head.store

  /** One storage-maintenance tick (round-8): drain each store's recorded
    * dirty state through the downsample cascade, then TTL each level — the
    * jobs the reference gets per-write (kenshin/storage.py:505-528
    * propagation inside update) and implicitly from its fixed-size files
    * (no TTL process needed there; pday partitions need one here). Without
    * this in the LIVE loop, a long-running daemon never downsamples and
    * level 0 grows with wall time — the soak-test finding this fixes.
    */
  def maintain(now: Long): Unit =
    routes.foreach { r =>
      r.store.cascadeAuto()
      r.store.enforceRetention(now)
    }

  // MinValue/2, not MinValue: `now - lastMaintenance` must not overflow
  // on the first tick (it did — the gate then never fired)
  @volatile private var lastMaintenance: Long = Long.MinValue / 2
  /** Cadence gate for [[maintain]], run INSIDE the micro-batch callback
    * (Ingest's postBatch hook): the level tables have a single writer, so
    * cascade/TTL rewrites must interleave with flushes, never race them
    * from a side thread. `maintenanceInterval` is in nowFn-clock seconds;
    * 0 disables (admin-driven maintenance only).
    */
  private def maybeMaintain(now: Long): Unit =
    if (maintenanceInterval > 0 && now - lastMaintenance >= maintenanceInterval) {
      lastMaintenance = now
      maintain(now)
    }

  private val httpServer = new CacheQueryServer(hots, httpPort, instr, bindInterface)
  private var listener: ServerSocket = _
  private var ingest: StreamingQuery = _
  private var selfMetricsThread: Thread = _
  private var spoolWriter: Thread = _
  @volatile private var running = false
  @volatile private var writerStop = false

  /** Start every service; returns (line port, http port) — pass 0s to the
    * constructor for ephemeral ports (tests), fixed ports in production.
    */
  def start(): (Int, Int) = synchronized {
    require(!running, "daemon already running")
    new java.io.File(spoolDir).mkdirs()
    // consumed journal files are deleted once their micro-batch commits;
    // `maxFileAge` is raised far above the file source's 7-day default,
    // which would silently skip unprocessed journal files after a long
    // downtime — the exact durability case the journal exists for
    val lines = spark.readStream
      .option("cleanSource", "delete")
      .option("maxFileAge", "3650d")
      .text(spoolDir).withColumnRenamed("value", "line")
    // mixed protocol: plain "metric value ts" lines AND JSON-array frames
    // (the pickle-receiver analog) on the same port, one stream, one writer,
    // routed first-match across the schema set
    ingest = Ingest.startMixedRouted(
      lines, routes.zip(hots).map { case (r, h) => (r.store.schema, h) },
      checkpoint, nowFn, instr,
      postBatch = if (maintenanceInterval > 0) Some(maybeMaintain _) else None)
    listener = new ServerSocket(linePort, 64, InetAddress.getByName(bindInterface))
    running = true
    writerStop = false
    val t = new Thread(() => acceptLoop(), "graft-line-listener")
    t.setDaemon(true)
    t.start()
    // the one journal writer: drains every connection's pending lines to
    // a single file per cadence tick (or sooner on the size trigger); a
    // failed write keeps its lines queued and waits out one whole tick
    spoolWriter = new Thread(() => {
      while (!writerStop) {
        spoolLock.synchronized { if (!writerStop) spoolLock.wait(SpoolFlushMillis) }
        if (!drainSpool() && !writerStop) Thread.sleep(SpoolFlushMillis)
      }
    }, "graft-spool-writer")
    spoolWriter.setDaemon(true)
    spoolWriter.start()
    // self-metrics loop (the reference's InstrumentationService: a
    // LoopingCall draining counters every RUROUNI_METRIC_INTERVAL,
    // rurouni/state/instrumentation.py:115-130): drained stats re-enter as
    // ordinary line-protocol points through the SAME ingest stream — no
    // second writer races the micro-batch, the engine monitors itself
    // with itself
    instr.foreach { _ =>
      selfMetricsThread = new Thread(() => {
        // stop() interrupts this thread FIRST, so a drain can never land
        // after the final micro-batch: InterruptedException exits the loop
        try {
          while (running) {
            Thread.sleep(metricInterval * 1000L)
            if (running) recordSelfMetrics()
          }
        } catch { case _: InterruptedException => () }
      }, "graft-self-metrics")
      selfMetricsThread.setDaemon(true)
      selfMetricsThread.start()
    }
    (listener.getLocalPort, httpServer.start())
  }

  private var lastCreates = 0L
  private var lastDroppedCreates = 0L

  /** Drain instrumentation counters into the ingest stream as
    * `rurouni.<host>.<instance>.<stat>` points (cache_record,
    * rurouni/state/instrumentation.py:105-113). Public so ops probes and
    * tests can force a deterministic drain between intervals.
    */
  def recordSelfMetrics(): Unit =
    instr.foreach { ins =>
      // bridge the catalogs' create-path counters into this interval's
      // drain (the reference increments instrumentation inside the create
      // path itself, rurouni/cache.py:112-151; our Catalog counts locally,
      // so the daemon snapshots the delta per interval)
      val cats = routes.flatMap(_.store.catalog).distinct
      val c = cats.map(_.creates).sum
      val d = cats.map(_.droppedCreates).sum
      if (c > lastCreates) ins.incr("creates", (c - lastCreates).toDouble)
      if (d > lastDroppedCreates) ins.incr("droppedCreates", (d - lastDroppedCreates).toDouble)
      lastCreates = c
      lastDroppedCreates = d
      enqueue(ins.drain(nowFn()).map { case (metric, ts, value, _) =>
        s"$metric $value $ts" })
    }

  private val conns = new java.util.concurrent.ConcurrentHashMap[Socket, Thread]()

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = listener.accept()
        val t = new Thread(() => handleConn(sock), "graft-line-conn")
        t.setDaemon(true)
        conns.put(sock, t)
        t.start()
      } catch {
        // a closed listener throws on every accept: returning (not
        // continuing) avoids a busy loop during shutdown
        case _: java.io.IOException => return
      }
    }

  private val spoolSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Journal files written so far — the observable the coalescing exists
    * for: bounded by wall-time/cadence, NOT by client count × point rate.
    */
  val spoolFilesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
  private val pending = new java.util.concurrent.ConcurrentLinkedDeque[String]()
  private val pendingBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spoolLock = new Object
  private val drainLock = new Object

  /** Hand a batch of raw lines to the stream: onto the shared pending
    * queue the single writer thread journals on its time/size cadence.
    * Connection handlers never touch the filesystem.
    */
  private def enqueue(batch: Seq[String]): Unit =
    if (batch.nonEmpty) {
      batch.foreach(pending.add)
      val sz = pendingBytes.addAndGet(batch.iterator.map(_.length + 1L).sum)
      if (sz >= SpoolFlushBytes) spoolLock.synchronized { spoolLock.notifyAll() }
    }

  /** Journal every pending line as ONE atomically-renamed closed file (the
    * file source only picks up NEW files, so append-in-place would silently
    * lose lines; nanoTime+seq in the name keeps restarted daemons from
    * colliding with already-checkpointed file names). Serialized: the
    * cadence thread and an explicit processAllAvailable/stop drain never
    * interleave half-batches. A write that fails puts its lines back at the
    * head of the queue, in order, for the next drain, and logs the error;
    * it never throws, so neither the writer thread nor [[stop]] dies on it.
    *
    * @return false when the journal write failed
    */
  private def drainSpool(): Boolean = drainLock.synchronized {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var line = pending.poll()
    while (line != null) {
      lines += line
      line = pending.poll()
    }
    val bytes = lines.iterator.map(_.length + 1L).sum
    pendingBytes.addAndGet(-bytes)
    lines.isEmpty || {
      val name = s"batch-${System.nanoTime()}-${spoolSeq.incrementAndGet()}"
      val tmp = new java.io.File(spoolDir, s".$name.tmp")
      try {
        java.nio.file.Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        if (!tmp.renameTo(new java.io.File(spoolDir, s"$name.txt")))
          throw new java.io.IOException(s"spool rename failed for $name")
        spoolFilesWritten.incrementAndGet()
        instr.foreach(_.incr("spoolFilesWritten")) // journal-churn gauge
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          lines.reverseIterator.foreach(pending.addFirst)
          pendingBytes.addAndGet(bytes)
          System.err.println(s"graft-daemon: journal write failed, " +
            s"${lines.size} line(s) kept for the next drain: $e")
          false
      }
    }
  }

  /** One client connection: newline-delimited `"metric value timestamp"`
    * lines enqueue raw — validation happens in the distributed parse
    * (malformed lines drop there, never kill the stream or the socket).
    * Lines batch per connection, flushed every SpoolBatch lines, at EOF,
    * AND whenever the reader has no more buffered input — a persistent
    * low-rate client (one carbon point every N seconds over a held-open
    * socket) must not sit invisible in a half-full buffer. The flush is a
    * queue hand-off, not a file write, so this per-point eagerness stays
    * cheap.
    */
  private def handleConn(sock: Socket): Unit = {
    val SpoolBatch = 1000
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit = if (buf.nonEmpty) { enqueue(buf.toSeq); buf.clear() }
    try {
      val rd = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      var line = rd.readLine()
      while (line != null && running) {
        if (line.nonEmpty) {
          buf += line
          if (buf.length >= SpoolBatch || !rd.ready()) flush()
        }
        line = rd.readLine()
      }
    } catch {
      case _: java.io.IOException => () // client went away: drop the conn
      case scala.util.control.NonFatal(e) =>
        // anything else dying here silently loses every later line on
        // this socket — be loud, then still run the finally-flush
        System.err.println(s"graft-daemon: connection handler died: $e")
    } finally {
      // the flush can hit the same failure the catch above did; it must
      // not skip the close/remove below, or stop() spins its whole
      // 30s deadline on a connection that is already dead
      try flush()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"graft-daemon: final connection flush failed: $e")
      }
      sock.close()
      conns.remove(sock)
      ()
    }
  }

  /** Deterministic drain for tests and ops probes: block until every line
    * received so far has been parsed, admitted, and flushed-if-closed. This
    * force-journals pending lines first, so the cadence never delays a
    * deterministic check.
    */
  def processAllAvailable(): Unit = { drainSpool(); ingest.processAllAvailable() }

  /** Clean stop with the reference's shutdown flush: stop accepting, drain
    * buffered lines through a final micro-batch, then flush EVERY hot
    * cache past the watermark (writeCachedDataPointsWhenStop,
    * rurouni/writer.py:73-83) and stop serving.
    */
  def stop(): Unit = synchronized {
    if (!running) return
    listener.close() // no new connections; accept loop exits
    // stop the self-metrics timer FIRST: interrupt exits its loop, so a
    // timed drain can never race past the final micro-batch and strand
    // tail counters (they would wait in the journal for a restart)
    if (selfMetricsThread != null) {
      selfMetricsThread.interrupt()
      selfMetricsThread.join(5000L)
    }
    // close live client sockets and WAIT for their handlers: each handler's
    // finally-flush must land before the final micro-batch drains, or lines
    // the daemon already read off a socket would hit a stopped stream.
    // Loop until the conns map is empty — a single timed join could leave a
    // slow handler enqueueing after the drain (bounded; a trip is loud)
    val deadline = System.currentTimeMillis() + 30000L
    while (!conns.isEmpty && System.currentTimeMillis() < deadline) {
      conns.forEach { (s, _) => try s.close() catch { case _: java.io.IOException => () } }
      conns.forEach { (_, t) => t.join(500L) }
    }
    if (!conns.isEmpty)
      System.err.println(s"graft-daemon: ${conns.size} connection handler(s) still " +
        "live after 30s; lines they still read are lost")
    recordSelfMetrics() // tail counters ride the final micro-batch
    // park the spool writer (flag+notify, NOT interrupt: an interrupt
    // mid-Files.write would close the channel and lose polled lines),
    // then run the final drain on this thread
    writerStop = true
    spoolLock.synchronized { spoolLock.notifyAll() }
    spoolWriter.join(10000L)
    drainSpool()
    ingest.processAllAvailable()
    running = false // after the drain: late handler flushes still enqueued
    ingest.stop()
    hots.foreach(_.flushAll(nowFn()))
    httpServer.stop()
  }
}

/** CLI entrypoint:
  * `graft.Daemon <root> <retentions | storage-schemas.conf> [linePort]
  * [httpPort] [bindInterface]` — e.g.
  * `run /var/lib/graft "10s:1d,60s:30d" 2003 8080` or
  * `run /var/lib/graft /etc/graft/storage-schemas.conf 2003 8080 0.0.0.0`.
  *
  * If the second argument is a FILE, it is parsed as the reference's
  * storage-schemas.conf (first-match sections with per-schema retentions /
  * aggregationMethod / xFilesFactor / cacheRetention,
  * conf/storage-schemas.conf.example:22-44) and the daemon runs one store
  * per schema with first-match routing; a catch-all `[default]` schema
  * (7d of minutely, the reference's default_schema,
  * rurouni/storage.py:188-196) is appended unless the conf defines its own
  * `default`. Otherwise the argument is a retention cascade string and a
  * single `.*` schema with average aggregation is used. Runs until
  * SIGTERM/Ctrl-C; the shutdown hook performs the full cache flush.
  */
object Daemon {
  /** One storage-schema route: the schema lives in `store.schema`;
    * `cacheRetention` is how long closed slots linger hot before the
    * watermark flush (per-schema in storage-schemas.conf).
    */
  final case class Route(store: MetricStore, cacheRetention: Long)

  /** The reference's MAX_CREATES_PER_MINUTE default (BASELINE.md): new
    * series one instance registers per minute.
    */
  val MaxCreatesPerMinute = 1000

  /** The journal writer's cadence: pending lines become one spool file
    * every `SpoolFlushMillis`, or sooner once `SpoolFlushBytes` are pending.
    */
  val SpoolFlushMillis = 1000L
  val SpoolFlushBytes: Long = 64L * 1024

  /** The command line's catalog: one registry and one create throttle
    * shared by every schema — a bucket of MAX_CREATES_PER_MINUTE tokens
    * refilled at MAX_CREATES_PER_MINUTE / 60 per second, the reference's
    * wiring (rurouni/cache.py:119-121).
    */
  def cliCatalog(root: String, schemas: StorageSchemas, numInstances: Int, instance: Int)
                (implicit spark: SparkSession): Catalog =
    new Catalog(root, schemas, numInstances = numInstances, instance = instance,
      bucket = Some(new TokenBucket(MaxCreatesPerMinute, MaxCreatesPerMinute / 60.0)))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Daemon <root> <retentions|storage-schemas.conf> [linePort] " +
        "[httpPort] [bindInterface] [numInstances] [instance]")
    val root = args(0)
    val linePort = if (args.length > 2) args(2).toInt else 2003
    val httpPort = if (args.length > 3) args(3).toInt else 8080
    val bindInterface = if (args.length > 4) args(4) else "127.0.0.1"
    // consistent-hash shard membership (reference: one [cache:X] section per
    // instance, conf/rurouni.conf.example:21-29; routing fnv1a % N,
    // rurouni/utils.py:107-108) — metrics hashing to another instance are
    // rejected at registration (rurouni/cache.py:123-128)
    val numInstances = if (args.length > 5) args(5).toInt else 1
    val instance = if (args.length > 6) args(6).toInt else 0
    implicit val spark: SparkSession = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-daemon")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default 100 generated classes do not hold one dashboard's
      // render plans next to the micro-batch's, so identical renders
      // recompiled on every repeat
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loaded =
      if (new java.io.File(args(1)).isFile) StorageSchemas.load(args(1)).schemas
      else {
        val archives = graft.core.RetentionParser.parseRetentions(args(1))
        Seq(graft.core.StorageSchema("default", ".*".r, 0.5,
          graft.core.AggMethod.Average, archives,
          cacheRetention = archives.head.retention / 2, metricsPerFile = 40))
      }
    // reference fidelity: unmatched metrics fall through to default_schema,
    // never drop (rurouni/storage.py:200-204)
    val all =
      if (loaded.exists(_.name == "default")) loaded
      else loaded :+ StorageSchemas.defaultSchema
    val schemas = new StorageSchemas(all)
    val catalog = cliCatalog(root, schemas, numInstances, instance)
    val stores = all.map(s => new MetricStore(root, s, Some(catalog)))
    val instr = new Instrumentation()
    val daemon = new Daemon(
      stores.map(s => Route(s, s.schema.cacheRetention)),
      waitTime = 10L, checkpoint = s"$root/_checkpoint", spoolDir = s"$root/_spool",
      linePort = linePort, httpPort = httpPort, instr = Some(instr),
      bindInterface = bindInterface,
      // live-loop storage maintenance: cascade + TTL once a minute
      maintenanceInterval = 60L)
    val (lp, hp) = daemon.start()
    // scalastyle:off println
    println(s"graft-daemon: lines on $bindInterface:$lp, http on $bindInterface:$hp, " +
      s"root=$root, schemas=${all.map(_.name).mkString(",")}, " +
      s"instance=$instance/$numInstances")
    // scalastyle:on println
    // register via Hadoop's ShutdownHookManager ABOVE Spark's own hook
    // priority: a plain JVM hook runs CONCURRENTLY with Spark's, so the
    // shutdown flush's jobs would race SparkContext.stop() and die with
    // "SparkContext was shut down" on exactly the SIGTERM path this
    // entrypoint exists for. Higher priority = runs first in Hadoop's
    // manager; Spark registers at 30.
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(new Runnable { def run(): Unit = daemon.stop() }, 60)
    Thread.currentThread().join() // serve until killed
  }
}
