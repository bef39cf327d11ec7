package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Concurrent serving load (round-8 verdict item #3): the reference's real
  * workload is dashboards polling /render while ingest keeps running —
  * kbench's ingest_catchup lane measures the ingest side; this spec
  * measures serving under concurrency. Eight concurrent clients replay a
  * dashboard-shaped target mix (the AcceptanceSpec families: combine/
  * filter/group/summarize/window/tag targets) against ONE live daemon JVM
  * mid-ingest, three rounds each.
  *
  * Asserts under pressure: every render returns 200 with datapoints
  * (no 500s from concurrent Spark actions on the shared session, no
  * maxRows blowups), the background ingest keeps committing through the
  * load, and the daemon's RSS stays bounded. Prints the p50/p95/p99
  * latency table the SURVEY addendum records.
  */
class RenderLoadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var root: Path = _
  private var live: Option[DaemonHarness.Live] = None

  override def beforeAll(): Unit = { root = Files.createTempDirectory("graft-renderload") }
  override def afterAll(): Unit = {
    live.foreach(DaemonHarness.stop)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  private def get(url: String): (Int, String) = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    try {
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
      (code, body)
    } finally conn.disconnect()
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  private def rssKb(pid: Long): Long = {
    val f = new java.io.File(s"/proc/$pid/status")
    if (!f.exists()) return -1
    scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  test("8 concurrent clients render a dashboard mix mid-ingest: all 200s, bounded latency tail") {
    val hosts = Seq("web01", "web02", "db01")
    val cpuSub = Seq("user", "system", "idle")
    val series: Seq[String] =
      (for (h <- hosts; c <- cpuSub) yield s"servers.$h.cpu.$c") ++
      (for (h <- hosts; m <- Seq("used", "free")) yield s"servers.$h.memory.$m") ++
      Seq("stats.counters.requests.2xx.count") ++
      (for (h <- hosts; dc <- Seq("east", "west"))
        yield s"cpu.total;dc=$dc;host=$h")

    live = Some(DaemonHarness.spawn(s"$root/d", retentions = "60s:1d"))
    val d = live.get
    val now = (System.currentTimeMillis() / 1000 / 60) * 60
    val from = now - 1800

    // 30 minutes of 60s slots per series, deterministic values
    def lines(at: Long): Seq[String] =
      series.zipWithIndex.map { case (m, i) => s"$m ${i + (at % 600) / 60.0} $at" }
    for (t <- from until now by 60) DaemonHarness.send(d.linePort, lines(t))
    for (m <- Seq("servers.web01.cpu.user", "stats.counters.requests.2xx.count"))
      assert(DaemonHarness.poll(180) {
        get(s"http://127.0.0.1:${d.httpPort}/query?metric=${enc(m)}")._2.contains(s"[$from")
      }, s"$m never became queryable")

    val targets = Seq(
      // plain + combine
      "servers.web01.cpu.user",
      "sumSeries(servers.*.cpu.*)",
      "averageSeries(servers.*.cpu.user)",
      "maxSeries(servers.*.cpu.user)",
      "diffSeries(servers.web01.memory.used,servers.web01.memory.free)",
      // transform / filter
      "scale(servers.web01.cpu.user,0.1)",
      "nonNegativeDerivative(stats.counters.requests.2xx.count)",
      "perSecond(stats.counters.requests.2xx.count)",
      "absolute(offset(servers.web01.cpu.user,-5))",
      "keepLastValue(servers.web02.cpu.idle)",
      "removeBelowValue(servers.*.cpu.user,1)",
      "highestAverage(servers.*.cpu.*,3)",
      "currentAbove(servers.*.cpu.user,0)",
      // grouping — the heart of most dashboards
      "groupByNode(servers.*.cpu.*,3,\"sum\")",
      "groupByNodes(servers.*.cpu.*,\"avg\",1,3)",
      "aliasByNode(servers.*.cpu.user,1)",
      "asPercent(servers.web01.cpu.user,sumSeries(servers.web01.cpu.*))",
      "sortByTotal(servers.*.cpu.user)",
      // windows / summaries
      "movingAverage(servers.web01.cpu.user,5)",
      "movingMax(servers.web02.cpu.user,\"300s\")",
      "summarize(stats.counters.requests.2xx.count,\"10min\",\"sum\")",
      "hitcount(stats.counters.requests.2xx.count,\"10min\")",
      "integral(servers.db01.cpu.user)",
      "percentileOfSeries(servers.*.cpu.user,95)",
      // tags
      "seriesByTag(\"name=cpu.total\",\"dc=east\")",
      "groupByTags(seriesByTag(\"name=cpu.total\"),\"sum\",\"dc\")",
      "aliasByTags(seriesByTag(\"name=cpu.total\"),\"host\")")

    // background ingest: fresh slots keep arriving through the whole load
    val stop = new AtomicBoolean(false)
    val ingested = new AtomicInteger(0)
    val ingestThread = new Thread(() => {
      var t = now
      while (!stop.get()) {
        DaemonHarness.send(d.linePort, lines(t))
        ingested.incrementAndGet()
        t += 60
        Thread.sleep(500)
      }
    }, "load-ingest")
    ingestThread.setDaemon(true)

    val Clients = 8
    val Rounds = 3
    val lat = new ConcurrentLinkedQueue[(String, Long)]()
    val errors = new ConcurrentLinkedQueue[String]()
    val startGate = new CountDownLatch(1)
    val done = new CountDownLatch(Clients)
    val rss0 = rssKb(d.proc.pid)
    val clients = (0 until Clients).map { ci =>
      val t = new Thread(() => {
        startGate.await()
        val order = new scala.util.Random(ci).shuffle(
          Seq.fill(Rounds)(targets).flatten)
        for (target <- order) {
          val t0 = System.nanoTime()
          val (code, body) =
            get(s"http://127.0.0.1:${d.httpPort}/render?target=${enc(target)}" +
              s"&from=$from&until=$now")
          val ms = (System.nanoTime() - t0) / 1000000
          lat.add(target -> ms)
          if (code != 200) errors.add(s"$target -> $code: ${body.take(200)}")
          else if (!body.contains("\"datapoints\":[["))
            errors.add(s"$target -> 200 but no datapoints: ${body.take(120)}")
        }
        done.countDown()
      }, s"load-client-$ci")
      t.setDaemon(true); t.start(); t
    }
    ingestThread.start()
    val wall0 = System.nanoTime()
    startGate.countDown()
    assert(done.await(15, TimeUnit.MINUTES), "load clients did not finish in 15min")
    val wallS = (System.nanoTime() - wall0) / 1e9
    stop.set(true)
    val rss1 = rssKb(d.proc.pid)

    assert(errors.isEmpty, s"render errors under load:\n${
      scala.jdk.CollectionConverters.IteratorHasAsScala(errors.iterator()).asScala.take(5).mkString("\n")}")

    // the ingest side kept moving through the load
    assert(ingested.get() > 0, "background ingest never ran")

    // latency table for the SURVEY addendum
    import scala.jdk.CollectionConverters._
    val all = lat.iterator().asScala.toVector
    def pct(v: Vector[Long], p: Double): Long = {
      val s = v.sorted
      s(math.min(s.length - 1, math.ceil(p / 100.0 * s.length).toInt - 1).max(0))
    }
    val overall = all.map(_._2)
    println(f"RENDERLOAD clients=$Clients rounds=$Rounds targets=${targets.size} " +
      f"renders=${all.size} wall=${wallS}%.1fs p50=${pct(overall, 50)}ms " +
      f"p95=${pct(overall, 95)}ms p99=${pct(overall, 99)}ms max=${overall.max}ms " +
      f"rss0=${rss0 / 1024}MB rss1=${rss1 / 1024}MB ingestBatches=${ingested.get()}")
    val slowest = all.groupBy(_._1).view.mapValues(v => pct(v.map(_._2), 50)).toSeq
      .sortBy(-_._2).take(5)
    slowest.foreach { case (t, p50) => println(f"RENDERLOAD-SLOW $p50%6dms p50  $t") }

    // a serialization pathology (one request head-of-line blocking the
    // pool) would show as a p99 orders over p50; keep a LOOSE gate so the
    // spec stays honest without being box-speed-flaky
    assert(pct(overall, 99) < 60000, s"p99 ${pct(overall, 99)}ms — serving serialized under load")

    // RSS ceiling (round-10 verdict #2): the daemon runs at -Xmx4g, so a
    // healthy steady state is heap-at-cap plus bounded native overhead
    // (metaspace, code cache, Spark off-heap buffers) — anything past
    // 6.5 GB means native memory is growing past what the heap cap can
    // explain, the one leak class a bounded-heap JVM cannot mask
    assert(rss1 < 6_500_000L, s"daemon RSS ${rss1 / 1024}MB past the 6.5GB ceiling")
  }

  /** Round-10 verdict #2: prove the serving driver's RSS PLATEAUS under
    * sustained dashboard polling mid-ingest, rather than growing on a
    * slope (the round-9 lane recorded 1.5 → 5.0 GB over 648 renders and
    * called it "bounded" without evidence of a flat tail). The reference
    * daemon runs for months; a driver leak is the one failure class no
    * other lane pins.
    *
    * Adaptive: samples RSS every 10 s under continuous 4-client polling;
    * declares a plateau when the trailing 5-minute window sets NO NEW
    * MAX-RSS HIGH (beyond a 64 MB jitter margin) over everything before
    * it, after at least 10 minutes of load; fails if none emerged within
    * 28 minutes. Steady-state RSS under G1 OSCILLATES (observed 4.0–4.9 GB
    * breathing as regions are committed and uncommitted), so a flat-span
    * criterion would fail a genuinely bounded daemon — a leak is a rising
    * MAXIMUM, not a wide band. On exit it forces a full GC and prints
    * live-heap vs RSS, separating "heap grew to its -Xmx cap" (by design)
    * from real native growth.
    */
  test("sustained dashboard polling: daemon RSS reaches a plateau, not a slope") {
    val hosts = Seq("web01", "web02", "db01")
    val series: Seq[String] =
      (for (h <- hosts; c <- Seq("user", "system", "idle")) yield s"servers.$h.cpu.$c") ++
        Seq("stats.counters.requests.2xx.count")
    val d = DaemonHarness.spawn(s"$root/soak", retentions = "60s:1d")
    try {
      val now = (System.currentTimeMillis() / 1000 / 60) * 60
      val from = now - 1800
      def lines(at: Long): Seq[String] =
        series.zipWithIndex.map { case (m, i) => s"$m ${i + (at % 600) / 60.0} $at" }
      for (t <- from until now by 60) DaemonHarness.send(d.linePort, lines(t))
      assert(DaemonHarness.poll(180) {
        get(s"http://127.0.0.1:${d.httpPort}/query?metric=${enc("servers.web01.cpu.user")}")
          ._2.contains(s"[$from")
      }, "backlog never became queryable")

      val targets = Seq(
        "sumSeries(servers.*.cpu.*)",
        "groupByNode(servers.*.cpu.*,3,\"sum\")",
        "movingAverage(servers.web01.cpu.user,5)",
        "highestAverage(servers.*.cpu.*,3)",
        "summarize(stats.counters.requests.2xx.count,\"10min\",\"sum\")",
        "asPercent(servers.web01.cpu.user,sumSeries(servers.web01.cpu.*))")

      val stop = new AtomicBoolean(false)
      val renders = new AtomicInteger(0)
      val failures = new ConcurrentLinkedQueue[String]()
      val ingestThread = new Thread(() => {
        var t = now
        while (!stop.get()) {
          DaemonHarness.send(d.linePort, lines(t)); t += 60; Thread.sleep(500)
        }
      }, "soak-ingest")
      ingestThread.setDaemon(true); ingestThread.start()
      val clients = (0 until 4).map { ci =>
        val th = new Thread(() => {
          val rnd = new scala.util.Random(ci)
          while (!stop.get()) {
            val target = targets(rnd.nextInt(targets.length))
            val (code, body) =
              get(s"http://127.0.0.1:${d.httpPort}/render?target=${enc(target)}" +
                s"&from=$from&until=$now")
            renders.incrementAndGet()
            if (code != 200 || !body.contains("\"datapoints\":[["))
              failures.add(s"$target -> $code")
          }
        }, s"soak-client-$ci")
        th.setDaemon(true); th.start(); th
      }

      // sample RSS on a 10s cadence; plateau = trailing 5min window flat
      val SampleMs = 10000
      val WindowN = 30 // 5 minutes of samples
      val MinRunMs = 10 * 60 * 1000
      val MaxRunMs = 28 * 60 * 1000
      val samples = scala.collection.mutable.ArrayBuffer[Long]()
      val t0 = System.currentTimeMillis()
      var plateau = false
      while (!plateau && System.currentTimeMillis() - t0 < MaxRunMs) {
        Thread.sleep(SampleMs)
        samples += rssKb(d.proc.pid)
        val elapsed = System.currentTimeMillis() - t0
        if (samples.size > WindowN && elapsed >= MinRunMs) {
          val w = samples.takeRight(WindowN)
          val before = samples.dropRight(WindowN)
          plateau = w.max <= before.max + 64L * 1024
        }
        if (samples.size % 6 == 0)
          println(f"RSSSOAK t=${elapsed / 1000}s rss=${samples.last / 1024}MB " +
            f"renders=${renders.get()}")
      }
      stop.set(true)
      clients.foreach(_.join(15000))
      val wallS = (System.currentTimeMillis() - t0) / 1000
      val rssEnd = samples.last

      // characterize: full GC, then live heap vs RSS — a big gap here is
      // heap-at-cap retention (by design under -Xmx4g), not native growth
      val jcmd = System.getProperty("java.home") + "/bin/jcmd"
      def run(cmd: String*): String =
        try new String(new ProcessBuilder((Seq(jcmd, d.proc.pid.toString) ++ cmd): _*)
          .start().getInputStream.readAllBytes(), "UTF-8")
        catch { case _: Throwable => "" }
      run("GC.run")
      Thread.sleep(2000)
      val heapInfo = run("GC.heap_info").linesIterator
        .find(_.contains("garbage-first")).getOrElse("").trim
      val rssAfterGc = rssKb(d.proc.pid)
      println(f"RSSSOAK-END wall=${wallS}s renders=${renders.get()} " +
        f"samples=${samples.size} rssEnd=${rssEnd / 1024}MB " +
        f"rssAfterGc=${rssAfterGc / 1024}MB heap='$heapInfo'")

      assert(failures.isEmpty, s"render failures during soak: ${
        scala.jdk.CollectionConverters.IteratorHasAsScala(failures.iterator())
          .asScala.take(5).mkString(", ")}")
      assert(renders.get() > 200, s"only ${renders.get()} renders — soak never loaded the daemon")
      assert(plateau, s"RSS kept making new highs for ${wallS}s: " +
        s"last-5min max ${samples.takeRight(WindowN).max / 1024}MB vs prior max " +
        s"${samples.dropRight(WindowN).max / 1024}MB, " +
        s"samples(MB)=${samples.grouped(6).map(_.last / 1024).mkString(",")}")
      assert(rssEnd < 6_500_000L, s"daemon RSS ${rssEnd / 1024}MB past the 6.5GB ceiling")
    } finally DaemonHarness.stop(d)
  }
}
