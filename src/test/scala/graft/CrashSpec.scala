package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.CacheQueryCli

/** kill -9 crash e2e (round-8 verdict item #4): a LIVE daemon JVM is
  * SIGKILL'd mid-ingest — no shutdown hook, no final flush — and restarted
  * on the same spool + checkpoint + store. The durability contract under
  * test is the reference's journal posture (rurouni journals to disk
  * before acking; a crash replays the journal):
  *
  *  - zero journaled-point loss: every line that reached a spool journal
  *    file before the kill is queryable after the restart (either its
  *    micro-batch committed pre-kill — the point is in the disk-backed hot
  *    table — or the file survived uncommitted and the file-source
  *    checkpoint replays it);
  *  - no double-apply: replayed batches re-run align+LWW into an
  *    idempotent slot upsert, so every slot serves its EXACT sent value —
  *    a sum-style double-apply would serve a different number;
  *  - the catalog recovers: every journaled metric is findable, exactly
  *    once, through the restarted instance (the mid-swap crash probe,
  *    storage/Catalog.scala `exists`).
  *
  * Points still in the writer's in-memory pending queue (accepted on the
  * socket but not yet journaled) MAY die with the process — the same
  * window the reference has between socket read and journal write.
  */
class CrashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var root: Path = _
  // EVERY daemon this suite ever spawned: each test spawns a fresh JVM
  // (and the crash tests spawn a restart on top of a SIGKILL'd one), so
  // tracking only the latest would orphan its predecessors — a leaked
  // daemon keeps micro-batching forever and skews every later benchmark
  // on the box. stop() on an already-dead process is a no-op.
  private var spawned: List[DaemonHarness.Live] = Nil
  private def track(l: DaemonHarness.Live): DaemonHarness.Live = {
    spawned = l :: spawned; l
  }

  override def beforeAll(): Unit = { root = Files.createTempDirectory("graft-crash") }
  override def afterAll(): Unit = {
    spawned.foreach(DaemonHarness.stop)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  /** All "metric value ts" lines currently journaled in `daemonRoot`'s
    * spool (defaults to the mid-ingest test's daemon).
    */
  private def journaled(daemonRoot: String = s"$root/d"): Seq[(String, Long, Double)] = {
    val spool = Paths.get(daemonRoot, "_spool")
    if (!Files.isDirectory(spool)) return Nil
    Files.list(spool).iterator().asScala.toSeq.filter(Files.isRegularFile(_))
      .flatMap { f =>
        // a file being written concurrently may end mid-line; keep whole lines
        new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty).flatMap { l =>
            l.split(" ") match {
              case Array(m, v, t) => Some((m, t.toLong, v.toDouble))
              case _              => None
            }
          }
      }
  }

  test("SIGKILL mid-ingest: journaled points survive the restart, exactly once") {
    val daemonRoot = s"$root/d"
    val l0 = track(DaemonHarness.spawn(daemonRoot))

    val now = (System.currentTimeMillis() / 1000 / 10) * 10
    def line(m: String, k: Int, v: Double) = s"$m $v ${now - 120 + k * 10}"

    // ---- phase 1: a committed baseline ---------------------------------
    val aPts = for (i <- 1 to 3; k <- 0 until 3)
      yield (s"crash.a$i", now - 120 + k * 10, i * 10 + k + 0.5)
    DaemonHarness.send(l0.linePort, aPts.map { case (m, ts, v) => s"$m $v $ts" })
    for ((m, ts, v) <- aPts)
      assert(DaemonHarness.poll(120) {
        CacheQueryCli.query("127.0.0.1", Seq(l0.httpPort), m).contains(s"[$ts,$v]")
      }, s"baseline $m [$ts,$v] never became queryable")

    // ---- phase 2: second wave, kill -9 as soon as it hits the journal --
    val bPts = for (i <- 1 to 10; k <- 0 until 6)
      yield (s"crash.b$i", now - 120 + k * 10, i * 100 + k + 0.5)
    DaemonHarness.send(l0.linePort, bPts.map { case (m, ts, v) => s"$m $v $ts" })
    assert(DaemonHarness.poll(60) { journaled().exists(_._1.startsWith("crash.b")) },
      "second wave never reached the spool journal")
    // snapshot BEFORE the kill: files present now are the authoritative
    // journaled-set (committed files may already be deleted — their points
    // are in the hot table; both must serve after restart)
    val journalSnapshot = journaled()
    DaemonHarness.sigkill(l0)
    assert(journalSnapshot.nonEmpty, "kill landed after full drain+clean; rerun window")

    // ---- phase 3: restart on the same spool/checkpoint/store -----------
    val l1 = track(DaemonHarness.spawn(daemonRoot))
    val mustServe = (aPts ++ journalSnapshot).distinct
    val bodies = DaemonHarness.servedBodies(180, mustServe)(m =>
      CacheQueryCli.query("127.0.0.1", Seq(l1.httpPort), m))
    for ((m, ts, v) <- mustServe) {
      val at = DaemonHarness.slot(ts)
      val body = bodies(m)
      assert(body.contains(s"[$at,$v]"), s"journaled point $m [$ts,$v] lost across the crash")
      // exactly-once: the slot serves the exact value once — a replayed
      // batch that re-applied (sum/append without LWW) would either show
      // a different value or a duplicated datapoint for the slot
      assert(body.indexOf(s"[$at,") == body.lastIndexOf(s"[$at,"),
        s"slot $m@$at appears twice after replay: $body")
    }

    // catalog recovery: every journaled metric findable exactly once
    val found = CacheQueryCli.find("127.0.0.1", Seq(l1.httpPort), "crash.*")
    for (m <- mustServe.map(_._1).distinct) {
      assert(found.contains("\"path\":\"" + m + "\""), s"$m missing from find after crash")
      assert(found.indexOf("\"path\":\"" + m + "\"")
        == found.lastIndexOf("\"path\":\"" + m + "\""), s"$m duplicated in find")
    }
  }

  /** SIGKILL INSIDE the store swap's rename window — the most adversarial
    * instant SafeSwap/swapPartitions protects: a pday's old content is
    * renamed aside and its new content has NOT moved in when the process
    * dies. File-level injection covers this in SafeSwapSpec; this lane
    * proves it at the process level on a live daemon, via the
    * GRAFT_TEST_SWAP_HOLD hook (MetricStore.crashHoldHook): the daemon's
    * first level_0 swap parks mid-rename, we SIGKILL it there, restart
    * without the hook, and the boot-time recoverSwap + journal replay must
    * converge to every journaled point served exactly once.
    */
  test("SIGKILL inside the level-swap rename window: recoverSwap + replay converge") {
    val daemonRoot = s"$root/swapcrash"
    val holdDir = Files.createDirectories(Paths.get(s"$root/hold"))
    val l0 = track(DaemonHarness.spawn(daemonRoot, extraEnv = Map(
      "GRAFT_TEST_SWAP_HOLD" -> holdDir.toString,
      "GRAFT_TEST_SWAP_HOLD_MATCH" -> "level_0")))

    // timestamps below the flush watermark (now - cacheRetention - wait =
    // now - 1810 for "10s:1h") but inside the 1h retention: stragglers go
    // straight into the store upsert, whose level_0 swap then parks
    // mid-rename on the hook
    val now = (System.currentTimeMillis() / 1000 / 10) * 10
    val pts = for (i <- 1 to 8; k <- 0 until 5)
      yield (s"swapcrash.m$i", now - 2400 + k * 10, i * 1000 + k + 0.25)
    DaemonHarness.send(l0.linePort, pts.map { case (m, ts, v) => s"$m $v $ts" })

    val marker = holdDir.resolve("held")
    assert(DaemonHarness.poll(180) { Files.exists(marker) },
      "daemon never reached the level_0 swap rename window")
    val heldAt = new String(Files.readAllBytes(marker), "UTF-8")
    assert(heldAt.contains("level_0"), s"held in unexpected swap: $heldAt")

    val journalSnapshot = journaled(daemonRoot)
    assert(journalSnapshot.nonEmpty,
      "nothing journaled while the swap is held — the batch cannot have committed")
    DaemonHarness.sigkill(l0)

    // restart WITHOUT the hook: boot recovery restores the aside pday,
    // the uncommitted batch replays from the spool, LWW upsert converges
    val l1 = track(DaemonHarness.spawn(daemonRoot))
    // stragglers live in the STORE, not the hot cache — assert through the
    // full hot∪historical fetch path, not the cache-only /query endpoint.
    // The window runs to the present: a daemon that lived past its
    // self-metrics interval has journaled its own `rurouni.*` points at
    // the current time, and those must survive too.
    def fetched(m: String): String = {
      val nowSec = System.currentTimeMillis() / 1000L
      CacheQueryCli.fetch("127.0.0.1", Seq(l1.httpPort), m, now - 2500, nowSec + 10, nowSec)
    }
    val bodies = DaemonHarness.servedBodies(180, journalSnapshot.distinct)(fetched)
    for ((m, ts, v) <- journalSnapshot.distinct) {
      val at = DaemonHarness.slot(ts)
      val body = bodies(m)
      assert(body.contains(s"[$at,$v]"), s"point $m [$ts,$v] lost across the mid-swap crash")
      assert(body.indexOf(s"[$at,") == body.lastIndexOf(s"[$at,"),
        s"slot $m@$at appears twice after mid-swap replay: $body")
    }
    // no crash debris left behind once recovery + replay have run
    assert(DaemonHarness.poll(120) {
      !Files.exists(Paths.get(s"$daemonRoot/default/level_0.__old")) &&
        !Files.exists(Paths.get(s"$daemonRoot/default/level_0.__staging"))
    }, "recovery left swap debris on level_0")
  }
}
