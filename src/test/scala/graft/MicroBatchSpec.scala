package graft

import graft.core.{AggMethod, Archive, StorageSchema, StorageSchemas, TokenBucket}
import graft.functions.Fnv1a
import graft.storage.{Catalog, MetricStore}
import graft.streaming.{HotCache, Ingest, Instrumentation}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** One micro-batch as one plan (`HotCache.processRouted`): the Spark jobs a
  * batch costs, the counters it reports, and the single level upsert that
  * merges stragglers with the hot slots the watermark closes.
  */
class MicroBatchSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-batch") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  // mid-day, so every window below stays inside one pday
  val now = 1700049600L

  def schema(name: String, pattern: String) =
    StorageSchema(name, pattern.r, 1.0, AggMethod.Last, Seq(Archive(1, 3600), Archive(10, 8640)), 60, 8)

  val schemas = Seq(schema("a", "a\\."), schema("b", "b\\."), schema("default", ".*"))

  def pts(rows: (String, Long, Double, Long)*): DataFrame =
    rows.toDF("metric", "ts", "value", "arrival")

  /** A 3-schema store with one shared catalog, as the daemon CLI builds it. */
  def routed(dir: String, catalog: String => Catalog = d => new Catalog(d, new StorageSchemas(schemas)))
      : (Catalog, Seq[(StorageSchema, HotCache)]) = {
    val c = catalog(s"$root/$dir")
    val hots = schemas.map(s => new HotCache(new MetricStore(s"$root/$dir", s, Some(c)), 60, 0))
    (c, schemas.zip(hots))
  }

  /** Jobs `body` runs, counted once the listener bus has seen each end. */
  def jobsOf(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while ((started.get != ended.get || started.get != last) && System.currentTimeMillis() < deadline) {
        last = started.get
        Thread.sleep(200)
      }
      started.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def level0(hot: HotCache): Set[(String, Long, Double)] =
    hot.store.readLevel(0, 0, now).as[(String, Long, Double)].collect().toSet
  def hotSlots(hot: HotCache): Set[(String, Long, Double)] =
    hot.hotView().as[(String, Long, Double)].collect().toSet

  // stragglers, hot-window points and (from the earlier batch) hot slots
  // the boundary at `now` has closed, for two of the three schemas
  val earlier = pts((for (m <- Seq("a.x", "b.x"); i <- 0 until 20)
    yield (m, now - 150 + i, i.toDouble, 1L)): _*)
  val batch = pts((for (m <- Seq("a.x", "b.x"); i <- 0 until 20)
    yield Seq((m, now - 600 + i, 100.0 + i, 2L), (m, now - 40 + i, 200.0 + i, 2L))).flatten: _*)

  test("a routed micro-batch runs a fixed handful of jobs; an idle route runs none") {
    val (catalog, routes) = routed("budget")
    catalog.admit(pts(("a.x", now, 0.0, 0L), ("b.x", now, 0.0, 0L)), now).count()
    HotCache.processRouted(earlier, routes, now - 100)
    val jobs = jobsOf(HotCache.processRouted(batch, routes, now))
    info(s"one routed micro-batch: $jobs jobs")
    // measured 14 on local[4]: the aggregate, and per schema with rows one
    // hot append, one level-0 upsert and one hot swap, the last two one job
    // per shuffle stage (one processBatch per route, the design this
    // replaced, ran 85 for the same batch)
    assert(jobs <= 14, s"$jobs jobs")
    // the watermark at `now` is below every slot still hot
    routes.foreach { case (_, hot) => assert(jobsOf(hot.flush(now)) == 0) }
    assert(level0(routes.head._2) == ((0 until 20).map(i => ("a.x", now - 600 + i, 100.0 + i)) ++
      (0 until 20).map(i => ("a.x", now - 150 + i, i.toDouble))).toSet)
    assert(hotSlots(routes.head._2) == (0 until 20).map(i => ("a.x", now - 40 + i, 200.0 + i)).toSet)
  }

  test("a mixed batch counts received, errors and committed points around admission") {
    // the shard and the throttle reject first-seen names in name order:
    // the first is admitted, the second is another instance's and burns the
    // bucket's last token, the third finds the bucket empty
    val names = (0 until 100).map(i => f"a.n$i%02d")
    val foreign = names.find(n => Fnv1a.shard(n, 2) == 1).get
    val local = names.filter(n => Fnv1a.shard(n, 2) == 0)
    val Seq(admitted, throttled) = Seq(local.filter(_ < foreign).last, local.find(_ > foreign).get)
    new Catalog(s"$root/mixed", new StorageSchemas(schemas))
      .admit(pts(("a.k", now, 0.0, 0L), ("b.k", now, 0.0, 0L)), now).count()
    val (catalog, routes) = routed("mixed", d => new Catalog(d, new StorageSchemas(schemas),
      numInstances = 2, instance = 0, bucket = Some(new TokenBucket(2, 0, () => 0.0))))
    val instr = new Instrumentation(hostname = "h", instance = "0")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Ingest.startMixedRouted(mem.toDF().withColumnRenamed("value", "line"), routes,
      s"$root/mixed-ckpt", () => now, Some(instr))
    val oversized = "[" + (1 to 200000).map(i => s"""{"metric":"b.k","ts":$i,"value":1}""")
      .mkString(",") + "]"
    try {
      mem.addData(
        s"a.k 1.0 ${now - 10}",
        s"a.k 2.0 ${now - 10}.5", // the same 1 s slot, later: last write wins
        s"""[{"metric":"b.k","ts":${now - 10},"value":3},{"metric":"b.k","ts":${now - 9},"value":4},""" +
          s"""{"metric":"b.k","value":5}]""", // an entry without a ts drops alone
        s"$admitted 1.0 ${now - 10}",
        s"$foreign 1.0 ${now - 10}",
        s"$throttled 1.0 ${now - 10}",
        oversized,
        "junk",
        s"m notanumber ${now - 10}")
      q.processAllAvailable()
    } finally q.stop()
    val stats = instr.drain(now).map(p => p._1.split("\\.").last -> p._3).toMap
    assert(stats("metricReceived") == 7.0)
    assert(stats("errors") == 3.0)
    assert(stats("committedPoints") == 4.0)
    assert(catalog.creates == 1 && catalog.droppedCreates == 2)
    assert(hotSlots(routes(0)._2) == Set(("a.k", now - 10, 2.0), (admitted, now - 10, 1.0)))
    assert(hotSlots(routes(1)._2) == Set(("b.k", now - 10, 3.0), ("b.k", now - 9, 4.0)))
  }

  test("a straggler and a closed hot slot in one level-0 slot resolve by arrival in one upsert") {
    Seq((5L, 2.0), (3L, 1.0)).foreach { case (stragglerArrival, winner) =>
      val store = new MetricStore(s"$root/lww$stragglerArrival", schemas.head)
      val hot = new HotCache(store, 60, 0)
      hot.processBatch(pts(("a.m", now - 130, 1.0, 4L)), now - 100)
      hot.processBatch(pts(("a.m", now - 130, 2.0, stragglerArrival)), now)
      assert(level0(hot) == Set(("a.m", now - 130, winner)))
      assert(hotSlots(hot).isEmpty)
      // what two upserts, the straggler's and then the flush's, leave
      val twice = new MetricStore(s"$root/lww$stragglerArrival-two", schemas.head)
      twice.upsertSlots(0, pts(("a.m", now - 130, 2.0, stragglerArrival)), now - 130, now - 130)
      twice.upsertSlots(0, pts(("a.m", now - 130, 1.0, 4L)), now - 130, now - 130)
      assert(twice.readLevel(0, 0, now).as[(String, Long, Double)].collect().toSet == level0(hot))
    }
  }

  test("a cache opened over an existing hot table flushes each slot when the boundary passes it") {
    val store = new MetricStore(s"$root/restart", schemas.head)
    new HotCache(store, 60, 0).processBatch(pts(
      ("a.m", now - 30, 1.0, 1L), ("a.m", now - 20, 2.0, 1L), ("a.m", now - 10, 3.0, 1L)), now)
    val reopened = new HotCache(store, 60, 0)
    reopened.flush(now + 30) // boundary now - 30: the oldest slot stays hot
    assert(level0(reopened).isEmpty && hotSlots(reopened).size == 3)
    reopened.flush(now + 31) // boundary now - 29: passes the oldest slot only
    assert(level0(reopened) == Set(("a.m", now - 30, 1.0)))
    assert(hotSlots(reopened) == Set(("a.m", now - 20, 2.0), ("a.m", now - 10, 3.0)))
    reopened.flushAll(now + 31)
    assert(level0(reopened).size == 3)
    assert(!store.hasData(reopened.hotPath))
  }

  test("replaying a routed micro-batch converges to the state of one run") {
    // plus one straggler old enough for level 1, two 1 s slots in one 10 s slot
    val old = pts(("a.x", now - 5000, 7.0, 2L), ("a.x", now - 4999, 8.0, 3L))
    def run(dir: String, times: Int): Seq[(StorageSchema, HotCache)] = {
      val (catalog, routes) = routed(dir)
      catalog.admit(pts(("a.x", now, 0.0, 0L), ("b.x", now, 0.0, 0L)), now).count()
      HotCache.processRouted(earlier, routes, now - 100)
      (1 to times).foreach(_ => HotCache.processRouted(batch.unionByName(old), routes, now))
      routes
    }
    val (once, twice) = (run("once", 1), run("twice", 2))
    once.zip(twice).foreach { case ((_, a), (_, b)) =>
      assert(level0(a) == level0(b) && hotSlots(a) == hotSlots(b))
      assert(a.store.readLevel(1, 0, now).collect().toSet == b.store.readLevel(1, 0, now).collect().toSet)
    }
    assert(once.head._2.store.readLevel(1, 0, now).as[(String, Long, Double)].collect().toSet ==
      Set(("a.x", now - 5000, 8.0)))
  }
}
