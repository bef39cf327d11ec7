package graft

import graft.streamops.SessionStream
import graft.streamops.SessionStream.{Ev, OpenSession, Session}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming sessionization (flatMapGroupsWithState + EventTimeTimeout):
  * pure fold semantics, micro-batch arrival-order invariance, gap closes,
  * and watermark-timeout closes that reclaim state for quiet keys.
  */
class SessionStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val GapUs = 10000000L // 10s
  // keep event times away from the epoch: the initial watermark IS epoch 0,
  // and rows at-or-before the watermark are dropped as late
  val B = 1000000000000000L

  test("fold: gap splits sessions, in-gap events extend, counts exact") {
    val evs = Seq(Ev("a", 0L, 0), Ev("a", 5000000L, 1), Ev("a", 40000000L, 2),
      Ev("a", 45000000L, 3))
    val (closed, open) = SessionStream.fold(None, evs, GapUs)
    assert(closed === Seq(Session("a", 0L, 5000000L, 2, "gap")))
    assert(open === Some(OpenSession(40000000L, 45000000L, 2)))
  }

  test("fold: resumes an open session from state across batches") {
    val (closed, open) = SessionStream.fold(Some(OpenSession(0L, 5000000L, 2)),
      Seq(Ev("a", 12000000L, 0)), GapUs)
    assert(closed.isEmpty && open === Some(OpenSession(0L, 12000000L, 3)))
  }

  test("streaming e2e: gap-close in-line, timeout-close via watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = SessionStream.start(spark, mem.toDS(), GapUs, "5 seconds", "sess_e2e")
    try {
      // batch 1: two keys, a has 2 events in one session
      mem.addData(Ev("a", B, 0), Ev("a", B + 4000000L, 1), Ev("b", B + 1000000L, 2))
      q.processAllAvailable()
      // batch 2: a jumps past the gap -> closes [0, 4s] in-line; watermark
      // advances to 100s - 5s, far past b's last + gap (11s) and a's old
      // session
      mem.addData(Ev("a", B + 100000000L, 3))
      q.processAllAvailable()
      // batch 3: any later event triggers the pending event-time timeouts
      mem.addData(Ev("c", B + 200000000L, 4))
      q.processAllAvailable()
      mem.addData(Ev("c", B + 200001000L, 5))
      q.processAllAvailable()
      val got = spark.table("sess_e2e").as[Session].collect()
        .map(s => (s.key, s.session_start, s.session_end, s.n_events, s.closed_by))
        .toSet
      assert(got.contains(("a", B, B + 4000000L, 2L, "gap")))
      // b went quiet: must close by TIMEOUT, proving state reclamation
      assert(got.contains(("b", B + 1000000L, B + 1000000L, 1L, "timeout")))
    } finally q.stop()
  }

  test("in-batch arrival order does not change sessions (sorted fold)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def run(evs: Seq[Ev], name: String): Set[(String, Long, Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = SessionStream.start(spark, mem.toDS(), GapUs, "5 seconds", name)
      try {
        mem.addData(evs: _*)
        q.processAllAvailable()
        mem.addData(Ev("zz", B + 500000000L, 99))
        q.processAllAvailable()
        mem.addData(Ev("zz", B + 500001000L, 100))
        q.processAllAvailable()
        spark.table(name).as[Session].collect()
          .filter(_.key != "zz")
          .map(s => (s.key, s.session_start, s.session_end, s.n_events)).toSet
      } finally q.stop()
    }
    val evs = Seq(Ev("a", B, 0), Ev("a", B + 30000000L, 1), Ev("a", B + 4000000L, 2))
    assert(run(evs, "sess_ord1") === run(evs.reverse, "sess_ord2"))
  }
}
