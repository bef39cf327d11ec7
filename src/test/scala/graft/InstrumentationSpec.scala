package graft

import graft.core.{AggMethod, Archive, StorageSchema}
import graft.storage.MetricStore
import graft.streaming.{Ingest, Instrumentation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Self-metrics re-ingest (rurouni/state/instrumentation.py:66-113), the
  * framed-batch source (rurouni/protocols.py:45-62), and the I/O-budget
  * assertion (tests/test_io_performance.py:49-72 analog: an incremental
  * cascade must not re-read whole levels).
  */
class InstrumentationSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-instr") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  def schema(name: String, archives: Seq[Archive], xff: Double = 1.0) =
    StorageSchema(name, ".*".r, xff, AggMethod.Last, archives, 600, 8)

  test("counters drain into rurouni.* self-metric points and reset") {
    val ins = new Instrumentation(hostname = "testhost", instance = "0")
    ins.incr("metricReceived", 42)
    ins.incr("creates", 2)
    ins.incr("committedPoints", 100)
    ins.appendUpdateTime(0.5)
    ins.appendUpdateTime(1.5)
    val pts = ins.drain(1700000000L).map(p => p._1 -> p._3).toMap
    assert(pts("rurouni.testhost.0.metricReceived") == 42.0)
    assert(pts("rurouni.testhost.0.creates") == 2.0)
    assert(pts("rurouni.testhost.0.avgUpdateTime") == 1.0)
    assert(pts("rurouni.testhost.0.pointsPerUpdate") == 50.0)
    assert(pts("rurouni.testhost.0.updateOperations") == 2.0)
    // drained: the next interval starts from zero
    val next = ins.drain(1700000060L).map(p => p._1 -> p._3).toMap
    assert(next("rurouni.testhost.0.metricReceived") == 0.0)
    assert(!next.contains("rurouni.testhost.0.avgUpdateTime"))
  }

  test("framed-batch source parses frames, drops invalid/oversized whole (protocols.py:45-62)") {
    val big = "[" + (1 to 200000).map(i => s"""{"metric":"x","ts":$i,"value":1}""").mkString(",") + "]"
    assert(big.length > Ingest.MaxFrameBytes)
    val frames = Seq(
      """[{"metric":"m.a","ts":1700000000,"value":1.5},{"metric":"m.b","ts":1700000001.25,"value":2.5}]""",
      """[{"metric":"m.c","ts":1700000002,"value":3.5},{"ts":1,"value":9}]""", // one entry missing metric
      "not json at all",
      big).toDF("line")
    val got = Ingest.parseMixed(frames).as[(String, Long, Double, Long)].collect().toSet
    assert(got == Set(
      ("m.a", 1700000000L, 1.5, 1700000000000000000L),
      ("m.b", 1700000001L, 2.5, 1700000001250000000L),
      ("m.c", 1700000002L, 3.5, 1700000002000000000L)))
    // "not json at all" (a malformed line to the mixed parse) + oversized
    // frame, each marked as one null-metric row
    assert(Ingest.markMixed(frames).where(col("metric").isNull).count() == 2)
  }

  test("I/O budget: incremental cascade reads only dirty partitions, not whole levels") {
    val store = new MetricStore(s"$root/io",
      schema("io", Seq(Archive(60, 43200), Archive(3600, 8760)))) // 60s:30d -> 1h:1y
    val nowTs = 1700000000L
    // backfill 20 days of minutely data (one metric, 28800 points, 21 pdays)
    val backfill = (0 until 28800).map(i => ("m", nowTs - 86400L * 20 + i * 60, i.toDouble, i.toLong))
      .toDF("metric", "ts", "value", "arrival")
    store.writeBatch(backfill, nowTs)
    store.cascadeAuto(force = true)

    // measure bytes read by Spark tasks during ONE incremental batch+cascade
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    val level0Size = {
      val dir = new java.io.File(s"$root/io/io/level_0")
      def size(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      size(dir)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val fresh = Seq(("m", nowTs - 60, 1.0, 99999L)).toDF("metric", "ts", "value", "arrival")
      store.writeBatch(fresh, nowTs)
      store.cascadeAuto(force = true)
      Thread.sleep(2000) // let straggling task-end events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // the incremental pass may read the dirty day at both levels plus
    // bookkeeping, but never the whole 21-day level-0 table
    assert(bytesRead.get() < level0Size / 2,
      s"incremental cascade read ${bytesRead.get()} bytes vs level0 $level0Size — re-reading whole levels?")
    assert(level0Size > 0)
  }
}
