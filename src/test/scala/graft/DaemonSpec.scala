package graft

import graft.core.{AggMethod, Archive, StorageSchema}
import graft.storage.MetricStore
import graft.streaming.Daemon
import java.io.OutputStreamWriter
import java.net.Socket
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end daemon test — the `bin/rurouni-cache.py` lifecycle: points
  * written over a REAL TCP socket flow through parse → hot cache →
  * watermark flush → archive cascade, serve over the REAL HTTP endpoint
  * (pre-flush cache view and merged hot ∪ historical fetch), and the
  * shutdown flush drains every cached slot into the store
  * (rurouni/service.py:27-52 wiring; rurouni/writer.py:73-83 stop hook).
  */
class DaemonSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-daemon") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  val Now = 1700000000L // fixed clock: deterministic watermark behavior
  val Step = 10

  def mkDaemon(name: String, withCatalog: Boolean = false): Daemon = {
    val schema = StorageSchema(name, ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val catalog =
      if (withCatalog)
        Some(new graft.storage.Catalog(s"$root/$name",
          new graft.core.StorageSchemas(Seq(schema))))
      else None
    val store = new MetricStore(s"$root/$name", schema, catalog)
    // flush boundary = Now - (120 + 30) = Now - 150 (10s-aligned).
    // Checkpoint and journal are unique per daemon instance, so each starts
    // a fresh stream (the spool tests below restart against a shared pair)
    val id = s"$root/$name-${System.nanoTime()}"
    new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$id-ckpt", spoolDir = s"$id-spool", nowFn = () => Now)
  }

  def send(port: Int, lines: Seq[String]): Unit = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val w = new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8)
      lines.foreach(l => w.write(l + "\n"))
      w.flush()
    } finally sock.close()
  }

  def httpGet(port: Int, path: String): String = {
    val in = new java.net.URI(s"http://127.0.0.1:$port$path").toURL.openStream()
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** The socket handler consumes lines asynchronously: retry the
    * drain+check loop until the condition holds (bounded).
    */
  def drainUntil(d: Daemon, timeoutMs: Long = 20000)(cond: => Boolean): Unit = {
    val t0 = System.currentTimeMillis()
    var ok = false
    while (!ok && System.currentTimeMillis() - t0 < timeoutMs) {
      d.processAllAvailable()
      ok = cond
      if (!ok) Thread.sleep(100)
    }
    assert(ok, s"condition not reached within ${timeoutMs}ms")
  }

  test("live maintenance cadence: the daemon's own loop cascades and TTLs (r8)") {
    // maintenanceInterval > 0 wires cascade+TTL into the micro-batch
    // callback (Ingest postBatch) — the soak's finding was that nothing
    // drove them in the live loop before
    val schema = StorageSchema("maint", ".*".r, 1.0, AggMethod.Average,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val store = new MetricStore(s"$root/maint", schema)
    val d = new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$root/maint-ckpt", spoolDir = s"$root/maint-spool", nowFn = () => Now,
      maintenanceInterval = 1L)
    val (linePort, _) = d.start()
    try {
      // TWO level-1 windows (60s-aligned, old enough to flush at once):
      // the xff gate only propagates units strictly before the dirty end,
      // so the second window's points are what release the first slot
      val base = (Now - 600) / 60 * 60
      send(linePort, (0 until 12).map(k => s"m.a ${(k % 6) + 1}.0 ${base + k * Step}"))
      drainUntil(d, 30000) {
        // the DAEMON must propagate: level 1's slot appears without any
        // explicit cascade call, value = average of the six level-0 slots
        val l1 = s"$root/maint/maint/level_1"
        store.tableExists(l1) && {
          val df = spark.read.parquet(l1)
          df.where(col("metric") === "m.a" && col("ts") === base &&
            col("value") === 3.5).count() == 1
        }
      }
    } finally d.stop()
  }

  test("socket ingest -> hot cache -> HTTP query/fetch -> shutdown flush (e2e)") {
    val d = mkDaemon("e2e", withCatalog = true)
    val (linePort, httpPort) = d.start()
    try {
      send(linePort, Seq(
        s"sys.cpu.a 0.5 ${Now - 20}",        // recent -> hot cache
        s"sys.cpu.a 0.75 ${Now - 40}",       // recent -> hot cache
        s"sys.cpu.a 0.25 ${Now - 500}",      // below boundary -> straggler, store
        s"sys.mem.b 123 ${Now - 20}",        // second metric
        // a JSON-array frame on the same socket (the pickle-receiver
        // analog): mixed protocol, one stream
        s"""[{"metric":"sys.net.c","ts":${Now - 20},"value":7.5}]""",
        "garbage line with too many fields 1 2 3",
        "sys.bad notanumber 1700000000"))    // malformed: dropped, not fatal
      drainUntil(d) {
        val q = httpGet(httpPort, "/query?metric=sys.cpu.a")
        q.contains(s"[${Now - 20},0.5]") && q.contains(s"[${Now - 40},0.75]")
      }
      // the straggler bypassed the cache into the store (age-routed upsert)
      val hist = d.store.fetch(Some("sys.cpu.a"), Now - 600, Now - 400, Now)
      assert(hist.exists { case (_, df) =>
        df.where(col("value") === 0.25).count() == 1 })
      // hot view has ONLY the pre-flush window (straggler not in it)
      val q = httpGet(httpPort, "/query?metric=sys.cpu.a")
      assert(!q.contains("0.25"))
      // merged fetch stitches hot over historical in one series
      val f = httpGet(httpPort,
        s"/fetch?metric=sys.cpu.a&from=${Now - 600}&until=$Now&now=$Now")
      assert(f.contains(s"""\"step\":$Step"""))
      assert(f.contains(s"[${Now - 20},0.5]") && f.contains(s"[${Now - 500},0.25]"))
      // malformed lines were dropped without killing the stream: the good
      // second metric made it
      assert(httpGet(httpPort, "/query?metric=sys.mem.b").contains(s"[${Now - 20},123.0]"))
      // the frame's point arrived through the same stream
      assert(httpGet(httpPort, "/query?metric=sys.net.c").contains(s"[${Now - 20},7.5]"))
      // catalog-backed series discovery: first-sight registration put every
      // admitted metric in the catalog, and /list serves it by prefix
      assert(httpGet(httpPort, "/list?prefix=sys.cpu.") == """{"metrics":["sys.cpu.a"]}""")
      val all = httpGet(httpPort, "/list")
      Seq("sys.cpu.a", "sys.mem.b", "sys.net.c").foreach(m =>
        assert(all.contains(s""""$m""""), s"$m missing from $all"))
      // render-target evaluation over the daemon's merged fetch: a glob
      // sum across both cpu slots, scaled — the graphite-web render path
      val target = java.net.URLEncoder.encode("scale(sumSeries(sys.cpu.*),2)", "UTF-8")
      val r = httpGet(httpPort,
        s"/render?target=$target&from=${Now - 60}&until=$Now&now=$Now")
      assert(r.contains("\"target\":\"scale(sumSeries(sys.cpu.*),2)\""), r)
      assert(r.contains(s"[${Now - 20},1.0]") && r.contains(s"[${Now - 40},1.5]"), r)
    } finally d.stop()
    // shutdown flush: EVERY cached slot is now in the store, none lost
    val afterStop = d.store.fetch(Some("sys.cpu.a"), Now - 600, Now, Now)
    assert(afterStop.exists { case (_, df) =>
      Set(0.5, 0.75, 0.25).forall(v => df.where(col("value") === v).count() == 1) })
    assert(d.hot.hotView().count() === 0, "hot cache fully drained on stop")
  }

  test("tagged series end-to-end: TCP ingest -> catalog -> tag render + tag API -> flush") {
    // graphite 1.1+ tagged names (`name;k=v;...`) are plain metric strings
    // to every layer — line protocol, fnv1a shard gate, schema regex,
    // catalog registration, parquet storage — so the whole tag family has
    // to work over the daemon without any layer knowing about tags
    val d = mkDaemon("tags", withCatalog = true)
    val (linePort, httpPort) = d.start()
    try {
      send(linePort, Seq(
        s"req;dc=east;host=a 1.0 ${Now - 20}",
        s"req;dc=east;host=b 10.0 ${Now - 20}",
        s"req;dc=west;host=a 100.0 ${Now - 20}",
        s"plain.req 7.0 ${Now - 20}"))
      drainUntil(d) {
        httpGet(httpPort, "/query?metric=" +
          java.net.URLEncoder.encode("req;dc=west;host=a", "UTF-8"))
          .contains(s"[${Now - 20},100.0]")
      }
      // tag-filtered render over the daemon's merged fetch
      val t = java.net.URLEncoder.encode(
        "groupByTags(seriesByTag('name=req','dc=east'),'sum','dc')", "UTF-8")
      val r = httpGet(httpPort, s"/render?target=$t&from=${Now - 60}&until=$Now&now=$Now")
      assert(r.contains("\"target\":\"req;dc=east\""), r)
      assert(r.contains(s"[${Now - 20},11.0]"), r)
      assert(!r.contains("west"), r)
      // tag API over the catalog-backed series source
      assert(httpGet(httpPort, "/tags/autoComplete/tags") == """["dc","host","name"]""")
      assert(httpGet(httpPort, "/tags/autoComplete/values?tag=dc") == """["east","west"]""")
      assert(httpGet(httpPort, "/tags/findSeries?expr=" +
        java.net.URLEncoder.encode("name=req", "UTF-8") + "&expr=" +
        java.net.URLEncoder.encode("host=b", "UTF-8")) == """["req;dc=east;host=b"]""")
    } finally d.stop()
    // shutdown flush: the tagged series landed in parquet storage intact
    val after = d.store.fetch(Some("req;dc=west;host=a"), Now - 60, Now, Now)
    assert(after.exists { case (_, df) => df.where(col("value") === 100.0).count() == 1 })
  }

  test("self-metrics drain re-enters through the ingest stream (InstrumentationService analog)") {
    val schema = StorageSchema("selfm", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val store = new MetricStore(s"$root/selfm", schema)
    val instr = new graft.streaming.Instrumentation("rurouni", "testhost", "a")
    val d = new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$root/selfm-ckpt", spoolDir = s"$root/selfm-spool", nowFn = () => Now,
      instr = Some(instr), metricInterval = 3600L) // timer idle; drain explicitly
    val (lp, _) = d.start()
    try {
      send(lp, Seq(s"app.req 1.0 ${Now - 20}", "malformed junk"))
      drainUntil(d) { d.hot.hotView().where(col("metric") === "app.req").count() == 1 }
      d.recordSelfMetrics() // deterministic drain between intervals
      drainUntil(d) {
        d.hot.hotView()
          .where(col("metric") === "rurouni.testhost.a.metricReceived").count() == 1
      }
      // the drained counter carries the batch's parsed-point count, and the
      // malformed line landed in the errors stat — both as ordinary series
      val got = d.hot.hotView()
        .where(col("metric").startsWith("rurouni.testhost.a."))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got("rurouni.testhost.a.metricReceived") === 1.0)
      assert(got("rurouni.testhost.a.errors") === 1.0)
    } finally d.stop()
    // shutdown flushed the self-metric series into the store like any other.
    // The drained point sits AT ts=Now and fetch clamps until<=now (a point
    // at the current instant isn't servable yet) — query from one step
    // later. stop()'s tail drain emits a second point at the same slot
    // (counting the self-metrics batch itself) and LWW keeps the larger
    // one, so assert presence, not the exact pre-tail value.
    val f = d.store.fetch(Some("rurouni.testhost.a.metricReceived"),
      Now - 60, Now + Step, Now + Step)
    assert(f.exists { case (_, df) => df.where(col("value") >= 1.0).count() == 1 })
  }

  test("spool mode: restart with the SAME checkpoint resumes, old batches not replayed") {
    val schema = StorageSchema("spool", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val ckpt = s"$root/spool-ckpt" // deliberately SHARED across restarts
    val spool = s"$root/spool-journal"
    def daemon() = {
      val store = new MetricStore(s"$root/spool", schema)
      new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
        checkpoint = ckpt, spoolDir = spool, nowFn = () => Now)
    }
    val d1 = daemon()
    val (lp1, _) = d1.start()
    send(lp1, Seq(s"sp.a 1.0 ${Now - 20}"))
    drainUntil(d1) { d1.hot.hotView().count() == 1 }
    d1.stop()
    val consumed = new java.io.File(spool).listFiles().count(_.getName.endsWith(".txt"))
    assert(consumed == 1, "first batch journaled as one closed spool file")
    // restart against the SAME checkpoint — the file source resumes past
    // the consumed batch
    val d2 = daemon()
    val (lp2, hp2) = d2.start()
    try {
      send(lp2, Seq(s"sp.a 2.0 ${Now - 30}"))
      drainUntil(d2) {
        httpGet(hp2, "/query?metric=sp.a").contains(s"[${Now - 30},2.0]")
      }
      // the pre-restart point is served from history, not re-ingested: the
      // hot view holds ONLY the new slot
      assert(d2.hot.hotView().count() == 1)
      val f = httpGet(hp2, s"/fetch?metric=sp.a&from=${Now - 60}&until=$Now&now=$Now")
      assert(f.contains(s"[${Now - 20},1.0]") && f.contains(s"[${Now - 30},2.0]"))
    } finally d2.stop()
  }

  test("catalog create counters bridge into the self-metrics drain (cache.py create-path stats)") {
    val schema = StorageSchema("screate", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val catalog = new graft.storage.Catalog(s"$root/screate",
      new graft.core.StorageSchemas(Seq(schema)))
    val store = new MetricStore(s"$root/screate", schema, Some(catalog))
    val instr = new graft.streaming.Instrumentation("rurouni", "testhost", "c")
    val d = new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$root/screate-ckpt", spoolDir = s"$root/screate-spool", nowFn = () => Now,
      instr = Some(instr), metricInterval = 3600L)
    val (lp, _) = d.start()
    try {
      send(lp, Seq(s"cr.a 1.0 ${Now - 20}", s"cr.b 2.0 ${Now - 20}"))
      drainUntil(d) {
        d.hot.hotView().where(col("metric").startsWith("cr.")).count() == 2
      }
      d.recordSelfMetrics() // interval drain: snapshot the catalog delta
      drainUntil(d) {
        d.hot.hotView().where(col("metric") === "rurouni.testhost.c.creates").count() == 1
      }
      val v = d.hot.hotView().where(col("metric") === "rurouni.testhost.c.creates")
        .collect().head.getDouble(2)
      assert(v == 2.0, s"two first-sight creates must drain, got $v")
    } finally d.stop()
  }

  test("multi-schema routing: two schemas over one socket, each at its own resolution") {
    // the reference's first act: load storage-schemas.conf, route each
    // point first-match to its schema's file family with per-schema
    // retention/aggregation (rurouni/storage.py:152-180,200-204)
    val fast = StorageSchema("fast", "^fast\\.".r, 1.0, AggMethod.Last,
      Seq(Archive(5, 720), Archive(60, 1440)), 600, 8)
    val slow = StorageSchema("slow", ".*".r, 1.0, AggMethod.Average,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val schemas = new graft.core.StorageSchemas(Seq(fast, slow))
    val catalog = new graft.storage.Catalog(s"$root/multi", schemas)
    val fastStore = new MetricStore(s"$root/multi", fast, Some(catalog))
    val slowStore = new MetricStore(s"$root/multi", slow, Some(catalog))
    val d = new Daemon(Seq(Daemon.Route(fastStore, 120L), Daemon.Route(slowStore, 120L)),
      waitTime = 30L, checkpoint = s"$root/multi-ckpt", spoolDir = s"$root/multi-spool",
      nowFn = () => Now)
    val (lp, hp) = d.start()
    try {
      send(lp, Seq(
        s"fast.cpu 1.5 ${Now - 20}",  // first-match -> fast (5s cascade, Last)
        s"svc.mem 9.0 ${Now - 20}"))  // falls through -> slow (10s, Average)
      drainUntil(d) {
        httpGet(hp, "/query?metric=fast.cpu").contains(",1.5]") &&
          httpGet(hp, "/query?metric=svc.mem").contains(",9.0]")
      }
      // each metric serves at ITS schema's level-0 step
      assert(httpGet(hp, "/query?metric=fast.cpu").contains("\"step\":5"))
      assert(httpGet(hp, "/query?metric=svc.mem").contains(s""""step":$Step"""))
      // /list unions the schemas' series
      val all = httpGet(hp, "/list")
      assert(all.contains("fast.cpu") && all.contains("svc.mem"), all)
    } finally d.stop()
    // shutdown flush landed each point in ITS OWN store — and only there
    val inFast = fastStore.fetch(Some("fast.cpu"), Now - 60, Now, Now)
    assert(inFast.exists { case (_, df) => df.where(col("value") === 1.5).count() == 1 })
    val inSlow = slowStore.fetch(Some("svc.mem"), Now - 60, Now, Now)
    assert(inSlow.exists { case (_, df) => df.where(col("value") === 9.0).count() == 1 })
    val crossed = slowStore.fetch(Some("fast.cpu"), Now - 60, Now, Now)
    assert(crossed.forall { case (_, df) => df.where(col("value").isNotNull).count() == 0 },
      "fast.cpu must not leak into the slow store")
  }

  test("spool journal coalescing: drip-feed client's file count bounded by cadence, not point rate") {
    val schema = StorageSchema("drip", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val store = new MetricStore(s"$root/drip", schema)
    val d = new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$root/drip-ckpt", spoolDir = s"$root/drip-journal", nowFn = () => Now)
    val (lp, _) = d.start()
    val nPoints = 60
    val t0 = System.nanoTime()
    val sock = new Socket("127.0.0.1", lp)
    try {
      val w = new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8)
      var i = 0
      while (i < nPoints) {
        // one point per write over a held-open socket — the reference's
        // bread-and-butter 1 pt/interval carbon client; the old design
        // journaled one FILE per drip (the reader is idle between points,
        // so every line flushed alone), a listing storm at production rates
        w.write(s"drip.m 1.0 ${Now - 600 + i * Step}\n")
        w.flush()
        Thread.sleep(20)
        i += 1
      }
    } finally sock.close()
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    val bound = elapsedMs / Daemon.SpoolFlushMillis + 2
    val written = d.spoolFilesWritten.get()
    assert(written <= bound,
      s"$written journal files for $nPoints drip points in ${elapsedMs}ms (bound $bound)")
    // …and coalescing lost nothing: every point fetchable after shutdown
    d.stop()
    val f = store.fetch(Some("drip.m"), Now - 600, Now, Now)
    assert(f.exists { case (_, df) => df.where(col("value") === 1.0).count() == nPoints.toLong })
  }

  test("spool crash injection: orphan .tmp ignored forever; renamed-but-uncommitted file replays") {
    val schema = StorageSchema("crash", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val ckpt = s"$root/crash-ckpt"
    val spool = s"$root/crash-journal"
    new java.io.File(spool).mkdirs()
    // crash A — writer died after the .tmp write, BEFORE the rename: the
    // dot-prefixed file is hidden to Spark's file listing and must never
    // be ingested, by this stream or any restart
    java.nio.file.Files.write(java.nio.file.Paths.get(spool, ".batch-crashA.tmp"),
      s"crash.a 1.0 ${Now - 20}\n".getBytes(StandardCharsets.UTF_8))
    // crash B — writer died after the rename, BEFORE the batch committed
    // to the checkpoint: a closed journal file with no checkpoint entry
    // must replay when the daemon starts
    java.nio.file.Files.write(java.nio.file.Paths.get(spool, "batch-crashB.txt"),
      s"crash.b 2.0 ${Now - 20}\n".getBytes(StandardCharsets.UTF_8))
    def daemon() = new Daemon(
      Seq(Daemon.Route(new MetricStore(s"$root/crash", schema), 120L)),
      waitTime = 30L, checkpoint = ckpt, spoolDir = spool, nowFn = () => Now)
    val d1 = daemon()
    val (lp1, hp1) = d1.start()
    try {
      send(lp1, Seq(s"crash.c 3.0 ${Now - 20}"))
      drainUntil(d1) { httpGet(hp1, "/query?metric=crash.c").contains(",3.0]") }
      assert(httpGet(hp1, "/query?metric=crash.b").contains(s"[${Now - 20},2.0]"),
        "renamed-but-uncommitted journal file must replay")
      assert(httpGet(hp1, "/query?metric=crash.a").contains("\"datapoints\":[]"),
        "orphan .tmp must not be ingested")
    } finally d1.stop()
    // restart against the same checkpoint: the orphan stays invisible
    val d2 = daemon()
    val (lp2, hp2) = d2.start()
    try {
      send(lp2, Seq(s"crash.d 4.0 ${Now - 30}"))
      drainUntil(d2) { httpGet(hp2, "/query?metric=crash.d").contains(",4.0]") }
      assert(!httpGet(hp2,
        s"/fetch?metric=crash.a&from=${Now - 60}&until=$Now&now=$Now").contains("1.0"),
        "orphan .tmp must stay invisible across restarts")
    } finally d2.stop()
  }

  test("journal files are deleted once a later micro-batch commits them; the spool stays flat") {
    val schema = StorageSchema("jclean", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val spool = new java.io.File(s"$root/jclean-journal")
    val d = new Daemon(Seq(Daemon.Route(new MetricStore(s"$root/jclean", schema), 120L)),
      waitTime = 30L, checkpoint = s"$root/jclean-ckpt", spoolDir = spool.getPath,
      nowFn = () => Now)
    def journalFiles = spool.listFiles().count(_.getName.endsWith(".txt"))
    val (lp, _) = d.start()
    try {
      for (k <- 1 to 3) {
        send(lp, Seq(s"jc.m $k.0 ${Now - 10 * k}"))
        drainUntil(d) { d.hot.hotView().count() == k }
      }
      assert(d.spoolFilesWritten.get() == 3L)
      // the file source deletes a batch's files when the next batch
      // commits it (`cleanSource=delete`), on its own cleaner thread: only
      // the newest batch's file may remain
      val deadline = System.currentTimeMillis() + 20000
      while (journalFiles > 1 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(journalFiles <= 1, s"$journalFiles journal files left after 3 committed batches")
    } finally d.stop()
  }

  test("a failed journal write keeps its lines; the writer journals on and stop still flushes") {
    val schema = StorageSchema("jfail", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val store = new MetricStore(s"$root/jfail", schema)
    val spool = new java.io.File(s"$root/jfail-journal")
    val d = new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$root/jfail-ckpt", spoolDir = spool.getPath, nowFn = () => Now)
    val (lp, _) = d.start()
    def hotPoints: Set[(String, Double)] =
      d.hot.hotView().collect().map(r => r.getString(0) -> r.getDouble(2)).toSet
    def dropJournal(): Unit = {
      new scala.reflect.io.Directory(spool).deleteRecursively()
      assert(!spool.exists())
    }
    try {
      send(lp, Seq(s"jf.a 1.0 ${Now - 20}"))
      drainUntil(d) { hotPoints == Set("jf.a" -> 1.0) }
      // the journal directory vanishes: every file write fails until it is back
      dropJournal()
      val before = d.spoolFilesWritten.get()
      send(lp, Seq(s"jf.b 2.0 ${Now - 20}", s"jf.c 3.0 ${Now - 30}"))
      Thread.sleep(3 * Daemon.SpoolFlushMillis) // the writer's cadence tick fails
      assert(d.spoolFilesWritten.get() == before)
      spool.mkdirs()
      // the writer journals again on its own cadence, with no
      // processAllAvailable to force a drain
      val deadline = System.currentTimeMillis() + 20 * Daemon.SpoolFlushMillis
      while (d.spoolFilesWritten.get() == before && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(d.spoolFilesWritten.get() > before, "journal writer stopped after a failed write")
      // every line sent lands, the ones the failed write held included
      drainUntil(d) { hotPoints == Set("jf.a" -> 1.0, "jf.b" -> 2.0, "jf.c" -> 3.0) }
      // a journal that fails during stop() must not cost the shutdown flush
      dropJournal()
      send(lp, Seq(s"jf.d 4.0 ${Now - 20}"))
      Thread.sleep(2 * Daemon.SpoolFlushMillis) // accepted and queued, its write failing
    } finally d.stop()
    assert(d.hot.hotView().count() === 0, "hot cache fully drained on stop")
    val f = store.fetch(None, Now - 60, Now, Now)
    assert(f.exists { case (_, df) =>
      Set(1.0, 2.0, 3.0).forall(v => df.where(col("value") === v).count() == 1) })
  }

  test("bindInterface: 0.0.0.0 binds both listeners; loopback clients still reach them") {
    val schema = StorageSchema("bind", ".*".r, 1.0, AggMethod.Last,
      Seq(Archive(Step, 720), Archive(60, 1440)), 600, 8)
    val store = new MetricStore(s"$root/bind", schema)
    val d = new Daemon(Seq(Daemon.Route(store, 120L)), waitTime = 30L,
      checkpoint = s"$root/bind-ckpt", spoolDir = s"$root/bind-spool", nowFn = () => Now,
      bindInterface = "0.0.0.0")
    val (lp, hp) = d.start()
    try {
      send(lp, Seq(s"bi.x 1.0 ${Now - 20}"))
      drainUntil(d) { httpGet(hp, "/query?metric=bi.x").contains(s"[${Now - 20},1.0]") }
    } finally d.stop()
  }

  test("concurrent connections lose no points (shared pending queue)") {
    // 8 sockets bursting simultaneously: every handler hands its lines to
    // the one pending queue while the journal writer drains it, and no line
    // may be lost between a handler's add and the writer's poll
    val d = mkDaemon("conc")
    val (linePort, _) = d.start()
    try {
      val perConn = 500
      val threads = (0 until 8).map { c =>
        val t = new Thread(() => send(linePort,
          (0 until perConn).map(i => s"conc.c$c.m$i 1.0 ${Now - 20}")))
        t.start(); t
      }
      threads.foreach(_.join())
      drainUntil(d, timeoutMs = 60000) {
        d.hot.hotView().count() == 8L * perConn
      }
    } finally d.stop()
  }

  test("stop is idempotent and a second daemon can reuse the store") {
    val d = mkDaemon("restart")
    val (lp, _) = d.start()
    send(lp, Seq(s"m.x 1.0 ${Now - 20}")) // step-aligned ts
    drainUntil(d) { d.hot.hotView().count() == 1 }
    d.stop()
    d.stop() // second stop: no-op, no throw
    // restart against the same root: flushed point is in the store
    val d2 = mkDaemon("restart")
    val (lp2, hp2) = d2.start()
    try {
      send(lp2, Seq(s"m.x 2.0 ${Now - 30}"))
      drainUntil(d2) {
        httpGet(hp2, "/query?metric=m.x").contains(s"[${Now - 30},2.0]")
      }
      val f = httpGet(hp2, s"/fetch?metric=m.x&from=${Now - 60}&until=$Now&now=$Now")
      assert(f.contains(s"[${Now - 20},1.0]") && f.contains(s"[${Now - 30},2.0]"))
    } finally d2.stop()
  }
}
