package graft

import graft.core.{AggMethod, Archive, StorageSchema}
import graft.storage.MetricStore
import graft.streaming.{HotCache, Ingest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming ingest + hot cache: line-protocol parsing (malformed dropped,
  * never fatal), the watermark-gated flush, replay idempotence, the hot
  * serving view, and the hot ∪ historical read path.
  * Reference: rurouni/protocols.py:31-42 (parse), rurouni/cache.py:219-338
  * (FileCache), :259-262 (canWrite), rurouni/protocols.py:65-84 (cache query).
  */
class IngestSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-ingest") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  def schema(name: String, archives: Seq[Archive]) =
    StorageSchema(name, ".*".r, 1.0, AggMethod.Last, archives, 600, 8)

  /** Malformed inputs: the null-`metric` rows the parse marks. */
  def malformed(rows: org.apache.spark.sql.DataFrame): Long =
    Ingest.markMixed(rows).where(col("metric").isNull).count()

  test("line protocol: valid lines parse, arrival is the raw pre-floor timestamp") {
    val lines = Seq(
      "sys.cpu.user 0.5 1700000000",
      "  sys.mem.free   123  1700000001.25  ", // fractional ts + padding
      "bad line",                               // 2 fields
      "m notanumber 1700000000",                // bad value
      "m 1.0 notatime",                         // bad ts
      "").toDF("line")
    val got = Ingest.parseMixed(lines)
      .as[(String, Long, Double, Long)].collect().toSet
    assert(got == Set(
      ("sys.cpu.user", 1700000000L, 0.5, 1700000000L * 1000000000L),
      ("sys.mem.free", 1700000001L, 123.0, 1700000001250000000L)))
  }

  test("the parse marks each dropped line once (reference logs+drops)") {
    val lines = Seq("a 1 2", "junk", "m x 3", "m 1 y").toDF("line")
    assert(malformed(lines) == 3)
  }

  test("parseMixed routes line-protocol rows and JSON frames through one stream") {
    val rows = Seq(
      "sys.a 1.5 1700000000",
      """  [{"metric":"sys.b","ts":1700000010,"value":2.5},
        |   {"metric":"sys.c","ts":1700000020,"value":3.5}]""".stripMargin.replace("\n", ""),
      "not a frame [",
      """[{"broken json""").toDF("line")
    val got = Ingest.parseMixed(rows)
      .select("metric", "ts", "value").as[(String, Long, Double)].collect().toSet
    assert(got == Set(("sys.a", 1700000000L, 1.5),
      ("sys.b", 1700000010L, 2.5), ("sys.c", 1700000020L, 3.5)))
    // malformed on both sides counted: the bad line AND the broken frame
    assert(malformed(rows) == 2)
  }

  test("overflow-class timestamps drop as malformed instead of killing the stream (ANSI)") {
    val lines = Seq(
      "m 1.0 1700000000",        // fine
      "m 1.0 1700000000000",     // ms-epoch: overflows the decimal(21,9) arrival
      "m 1.0 NaN",
      "m 1.0 Infinity",
      "m 1.0 1e300").toDF("line")
    // a plain cast under ANSI mode would throw here; the parse must survive
    val got = Ingest.parseMixed(lines).collect()
    assert(got.length == 1 && got.head.getString(0) == "m")
    assert(malformed(lines) == 4)
  }

  // ---- hot cache vs the ts_hot_view oracle query ------------------------

  lazy val eventsPoints = Queries.metricStream(spark, "/root/testdata/sf0.001")
    .select(col("metric"), col("sec").as("ts"), col("value"), col("ns").as("arrival"))
    .cache()

  def eventsHot(): (MetricStore, HotCache) = {
    val store = new MetricStore(s"$root/ev", schema("ev", Queries.Cascade))
    // boundary lands exactly on HotLo: Now - (cacheRetention + wait) = HotLo
    val hot = new HotCache(store, Queries.Now - Queries.HotLo - 400, 400)
    (store, hot)
  }

  test("hot cache replay-deterministically reproduces the ts_hot_view query") {
    val (store, hot) = eventsHot()
    assert(hot.flushBoundary(Queries.Now) == Queries.HotLo)
    // two micro-batches split at HistHi; the first (all stragglers + early
    // hot points) replayed — at-least-once delivery must converge
    val b1 = eventsPoints.where(col("ts") < Queries.HistHi)
    val b2 = eventsPoints.where(col("ts") >= Queries.HistHi)
    hot.processBatch(b1, Queries.Now)
    hot.processBatch(b2, Queries.Now)
    hot.processBatch(b1, Queries.Now) // replay converges (idempotent)

    val got = hot.hotView().orderBy("metric", "ts")
      .as[(String, Long, Double)].collect().toSeq
    val expected = Queries.tsHotView(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == expected)

    // pre-HotLo stragglers age-route: at Now they are > 11 days old, so they
    // land in the coarsest level (900s), LWW-resolved at that step
    val direct = eventsPoints.where(col("ts") < Queries.HotLo)
      .groupBy(col("metric"), (col("ts") - pmod(col("ts"), lit(900L))).as("ts"))
      .agg(count(lit(1)).as("n"))
    assert(store.readLevel(3, 0, Queries.HotLo).count() == direct.count())
    assert(store.readLevel(0, 0, Queries.HotLo).isEmpty)
  }

  test("flush drains closed windows from hot into the store idempotently") {
    val store = new MetricStore(s"$root/fl", schema("fl", Seq(Archive(10, 360), Archive(60, 1440))))
    val hot = new HotCache(store, 600, 0)
    val t0 = 1700003600L
    // all points inside the cache window at t0
    hot.processBatch(Seq(
      ("m", t0 - 590, 1.0, 1L),
      ("m", t0 - 300, 2.0, 2L),
      ("m", t0 - 50, 3.0, 3L)).toDF("metric", "ts", "value", "arrival"), t0)
    assert(hot.hotView().count() == 3)
    assert(store.readLevel(0, 0, t0).isEmpty)
    // time advances: the watermark closes the two older slots
    val t1 = t0 + 400
    hot.flush(t1)
    assert(hot.hotView().as[(String, Long, Double)].collect().toSet ==
      Set(("m", t0 - 50, 3.0)))
    val flushed = store.readLevel(0, 0, t1).as[(String, Long, Double)].collect().toSet
    assert(flushed == Set(("m", t0 - 590, 1.0), ("m", t0 - 300, 2.0)))
    // replaying the flush is a no-op
    hot.flush(t1)
    assert(store.readLevel(0, 0, t1).as[(String, Long, Double)].collect().toSet == flushed)
  }

  test("fetchMerged stitches hot over historical with hot-wins (read path 3.2+3.3)") {
    val store = new MetricStore(s"$root/fm", schema("fm", Seq(Archive(10, 360), Archive(60, 1440))))
    val hot = new HotCache(store, 600, 0)
    val now = 1700003600L // aligned to 10
    // historical: flushed slot at now-1200 with value 1.0
    store.writeBatch(Seq(("m", now - 1200, 1.0, 1L)).toDF("metric", "ts", "value", "arrival"), now)
    // hot: overlapping slot rewritten (wins) + a newer slot
    hot.processBatch(Seq(
      ("m", now - 1200, 9.0, 2L),
      ("m", now - 100, 5.0, 3L)).toDF("metric", "ts", "value", "arrival"), now)
    // now-1200 is below the 600s boundary -> flushed as a straggler upsert;
    // now-100 stays hot
    assert(hot.hotView().count() == 1)
    val Some((level, df)) = hot.fetchMerged(Some("m"), now - 1300, now, now)
    assert(level == 0)
    val got = df.as[(String, Long, Option[Double])].collect()
      .collect { case (_, ts, Some(v)) => (ts, v) }.toSeq
    assert(got == Seq((now - 1200, 9.0), (now - 100, 5.0)))
  }

  test("a serving read planned before a swap and run after it reads the whole day") {
    import graft.core.StorageSchemas
    import graft.storage.{Catalog, SnapshotRead}
    val sch = schema("sw", Seq(Archive(1, 3600), Archive(10, 86400)))
    val catalog = new Catalog(s"$root/sw", new StorageSchemas(Seq(sch)))
    val store = new MetricStore(s"$root/sw", sch, Some(catalog))
    val hot = new HotCache(store, 600, 0)
    val now = 1700006400L // aligned to a whole day: the window is one pday
    val m = "bench.sum.g3.s07"
    catalog.admit(Seq((m, now, 0.0, 0L)).toDF("metric", "ts", "value", "arrival"), now).count()
    // 240 slots of history in level 0 and 40 hot slots after them
    store.upsertSlots(0, (1 to 240).map(i => (m, now - 300 + i - 1, i.toDouble, 1L))
      .toDF("metric", "ts", "value", "arrival"), now - 300, now - 61)
    hot.processBatch((1 to 40).map(i => (m, now - 60 + i - 1, 1000.0 + i, 1L))
      .toDF("metric", "ts", "value", "arrival"), now)
    def plan() = hot.fetchMerged(Some(m), now - 300, now, now).get._2
    def nonNull(rows: Array[org.apache.spark.sql.Row]) = rows.count(!_.isNullAt(2))
    // a flush lands between planning and running: it swaps the same day
    // of level 0 (rewriting one slot), so the listed files are gone
    val planned = plan()
    store.upsertSlots(0, Seq((m, now - 300, 7.0, 2L)).toDF("metric", "ts", "value", "arrival"),
      now - 300, now - 300)
    assert(SnapshotRead.stale(planned))
    val rows = SnapshotRead.collect(planned)(plan())
    assert(rows.length == 300 && nonNull(rows) == 280, s"${nonNull(rows)} non-null slots")
    assert(rows.head.getDouble(2) == 7.0) // the post-swap day, whole
    // a read no swap overlapped is not stale and runs once
    val quiet = plan()
    assert(!SnapshotRead.stale(quiet))
    var replans = 0
    assert(nonNull(SnapshotRead.collect(quiet) { replans += 1; plan() }) == 280 && replans == 0)
  }

  test("streaming e2e: MemoryStream lines -> hot cache -> store (foreachBatch wiring)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = new MetricStore(s"$root/st", schema("st", Seq(Archive(10, 360), Archive(60, 1440))))
    val hot = new HotCache(store, 600, 0)
    val now = 1700003600L
    val mem = MemoryStream[String]
    val instr = new graft.streaming.Instrumentation(hostname = "e2e", instance = "0")
    val q = Ingest.startMixedRouted(mem.toDF().withColumnRenamed("value", "line"),
      Seq((store.schema, hot)), s"$root/st-ckpt", () => now, Some(instr))
    try {
      mem.addData(
        s"m.a 1.5 ${now - 50}",
        s"m.b 2.5 ${now - 2000}", // below boundary -> straight to store
        "garbage line here four")
      q.processAllAvailable()
    } finally q.stop()
    assert(hot.hotView().as[(String, Long, Double)].collect().toSet ==
      Set(("m.a", now - 50, 1.5)))
    assert(store.readLevel(0, 0, now).as[(String, Long, Double)].collect().toSet ==
      Set(("m.b", now - 2000, 2.5)))
    // live counters: 2 parsed, 1 malformed, 2 committed, 1 update op
    val stats = instr.drain(now).map(p => p._1.split("\\.").last -> p._3).toMap
    assert(stats("metricReceived") == 2.0 && stats("errors") == 1.0)
    assert(stats("committedPoints") == 2.0 && stats("updateOperations") == 1.0)
  }
}
