package graft

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeUnit

/** Shared out-of-process daemon harness for the cluster-shaped e2e specs
  * (ShardSpec pioneered the pattern; CrashSpec / ReshardSpec / RenderLoad
  * reuse it): spawn `graft.streaming.Daemon` in a REAL separate JVM with
  * its own Spark session, speak the line protocol at it over TCP, and
  * poll its HTTP surface. Nothing here mocks — the point of these specs
  * is the process boundary (SIGKILL, restarts, shard membership changes).
  */
object DaemonHarness {

  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"
  ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  final case class Live(proc: Process, linePort: Int, httpPort: Int)

  /** Every daemon this JVM spawned. A test JVM that exits before its
    * suite's afterAll (sbt interrupted, a fork timeout) would otherwise
    * leave them orphaned, micro-batching forever on the box.
    */
  private val spawnedProcs = java.util.concurrent.ConcurrentHashMap.newKeySet[Process]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    spawnedProcs.forEach(p => { p.destroyForcibly(); () })))

  /** Launch the daemon CLI against `root`; block until its banner names
    * the bound ports. Small core and heap budgets so several instances
    * plus the test JVMs coexist on one box: the specs' estates are a few
    * dozen series, and at 4g apiece three daemons grew to 7 GB of RSS next
    * to eight test JVMs on a 15 GB box, where the kernel then killed test
    * JVMs for memory.
    */
  def spawn(root: String, retentions: String = "10s:1h",
            numInstances: Int = 1, instance: Int = 0,
            cores: Int = 3, xmx: String = "1g",
            extraEnv: Map[String, String] = Map.empty): Live = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(java, s"-Xmx$xmx", "-cp", System.getProperty("java.class.path")) ++
      addOpens ++ Seq("graft.streaming.Daemon",
        root, retentions, "0", "0", "127.0.0.1",
        numInstances.toString, instance.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_MASTER", s"local[$cores]")
    pb.environment().put("SPARK_GRAFT_CPUS", cores.toString)
    // glibc's per-thread malloc arenas otherwise add hundreds of MB of RSS
    // to a JVM with Spark's thread count
    pb.environment().put("MALLOC_ARENA_MAX", "2")
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(true)
    val proc = pb.start()
    spawnedProcs.add(proc)
    val banner = """lines on 127\.0\.0\.1:(\d+), http on 127\.0\.0\.1:(\d+)""".r
    val reader = new BufferedReader(new InputStreamReader(proc.getInputStream))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
    var ports: Option[(Int, Int)] = None
    // the deadline is enforced by a watchdog, not just the loop guard: a
    // live-but-silent daemon (wedged before its banner) blocks readLine()
    // forever, and only killing the process unblocks it
    @volatile var bannerSeen = false
    val watchdog = new Thread(() => {
      val interrupted =
        try { Thread.sleep(TimeUnit.SECONDS.toMillis(180)); false }
        catch { case _: InterruptedException => true }
      if (!interrupted && !bannerSeen) { proc.destroyForcibly(); () }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    while (ports.isEmpty && System.nanoTime() < deadline) {
      val line = reader.readLine()
      if (line == null)
        throw new AssertionError(
          s"daemon (instance $instance) exited (or was killed at the 180s " +
            "banner deadline) before printing its banner")
      banner.findFirstMatchIn(line).foreach(m =>
        ports = Some((m.group(1).toInt, m.group(2).toInt)))
    }
    require(ports.nonEmpty, s"daemon (instance $instance): no banner within 180s")
    bannerSeen = true
    watchdog.interrupt()
    // drain remaining subprocess output so its stdout pipe never fills
    new Thread(() => {
      try { while (reader.readLine() != null) () } catch { case _: Throwable => () }
    }) { setDaemon(true); start() }
    Live(proc, ports.get._1, ports.get._2)
  }

  /** The slot a point serves at under the default `10s:1h` retention: its
    * timestamp aligned down to 10 s. Test points are sent on slot
    * boundaries; the daemon's own `rurouni.*` self-metrics are stamped at
    * the second they were drained.
    */
  def slot(ts: Long): Long = ts - Math.floorMod(ts, 10L)

  /** Poll each metric's served body, `read(metric)`, until it shows
    * `[slot(ts),v]` for every one of that metric's `pts` — one request per
    * metric a round, not one per point. Returns each metric's last body,
    * for the caller to assert on per point.
    */
  def servedBodies(deadlineSec: Int, pts: Seq[(String, Long, Double)])
                  (read: String => String): Map[String, String] =
    pts.groupBy(_._1).map { case (m, mine) =>
      var body = ""
      poll(deadlineSec) {
        body = read(m)
        mine.forall { case (_, ts, v) => body.contains(s"[${slot(ts)},$v]") }
      }
      m -> body
    }

  def send(port: Int, lines: Seq[String]): Unit = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val w = new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8)
      lines.foreach(l => w.write(l + "\n"))
      w.flush()
    } finally sock.close()
  }

  def poll(deadlineSec: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(deadlineSec)
    while (System.nanoTime() < deadline) {
      if (try cond catch { case _: Throwable => false }) return true
      Thread.sleep(1000)
    }
    try cond catch { case _: Throwable => false }
  }

  /** SIGKILL — destroyForcibly is SIGKILL on Linux: no shutdown hook, no
    * final flush, no stream stop. The crash the journal+checkpoint exist
    * for.
    */
  def sigkill(live: Live): Unit = {
    live.proc.destroyForcibly()
    live.proc.waitFor(30, TimeUnit.SECONDS)
    require(!live.proc.isAlive, "SIGKILL'd daemon still alive after 30s")
  }

  def stop(live: Live): Unit = {
    live.proc.destroy()
    live.proc.waitFor(30, TimeUnit.SECONDS)
    live.proc.destroyForcibly()
    ()
  }
}
