package graft

import graft.core.{Archive, StorageSchema, AggMethod}
import graft.storage.{MetricStore, SafeSwap, Catalog}
import graft.core.StorageSchemas
import graft.streaming.HotCache
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Crash-injection tests for the storage swap protocols: every rename
  * sequence must leave either the old or the new state readable, with
  * recovery restoring a consistent view (the writers are idempotent, so
  * "old state + replay" always converges).
  */
class SafeSwapSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val nowTs = 1411628779L
  var root: java.nio.file.Path = _

  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-swap") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(root.toString), spark.sparkContext.hadoopConfiguration)

  def schema(name: String) =
    StorageSchema(name, ".*".r, 1.0, AggMethod.Average, Seq(Archive(1, 60), Archive(3, 60)), 600, 8)

  def somePoints(n: Int): org.apache.spark.sql.DataFrame =
    (1 to n).map(i => ("m0", nowTs - i, i.toDouble, i.toLong))
      .toDF("metric", "ts", "value", "arrival")

  test("crash after backup, before move-in: recoverSwap restores the old day") {
    val store = new MetricStore(s"$root/c1", schema("c1"))
    store.writeBatch(somePoints(5), nowTs)
    val level0 = s"$root/c1/c1/level_0"
    val day = (nowTs - 5) / 86400L
    // inject the crash state swapPartitions passes through right after the
    // backup rename: the day's content is aside in __old, nothing moved in
    fs.mkdirs(new Path(s"$level0.__old"))
    assert(fs.rename(new Path(s"$level0/pday=$day"), new Path(s"$level0.__old/pday=$day")))
    // a read triggers recovery and sees all five original points
    val Some((_, df)) = store.fetch(Some("m0"), nowTs - 5, nowTs, nowTs)
    assert(df.where(col("value").isNotNull).count() == 5)
    assert(!fs.exists(new Path(s"$level0.__old")), "recovery must clean __old")
  }

  test("crash with staged content present: committed day survives, old day restored") {
    val store = new MetricStore(s"$root/c2", schema("c2"))
    store.writeBatch(somePoints(5), nowTs)
    val level0 = s"$root/c2/c2/level_0"
    val day = (nowTs - 5) / 86400L
    // stale staging from a dead writer + an interrupted backup
    fs.mkdirs(new Path(SafeSwap.stagingPath(level0)))
    fs.mkdirs(new Path(s"$level0.__old"))
    assert(fs.rename(new Path(s"$level0/pday=$day"), new Path(s"$level0.__old/pday=$day")))
    store.recoverSwap(level0)
    assert(fs.exists(new Path(s"$level0/pday=$day")), "old day restored")
    assert(!fs.exists(new Path(SafeSwap.stagingPath(level0))), "staging cleaned")
    // and the data is intact
    val Some((_, df)) = store.fetch(Some("m0"), nowTs - 5, nowTs, nowTs)
    assert(df.where(col("value").isNotNull).count() == 5)
  }

  test("a window recomputed to zero rows drops its stale in-window rows") {
    val store = new MetricStore(s"$root/c3", schema("c3"))
    store.writeBatch(somePoints(5), nowTs)
    val level0 = s"$root/c3/c3/level_0"
    val day = (nowTs - 5) / 86400L
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("arrival", org.apache.spark.sql.types.LongType))))
    store.swapPartitions(level0, day, day, empty)
    assert(!store.hasData(level0), "stale rows must not survive a zero-row recompute")
  }

  test("upsert replay after an interrupted swap converges (idempotent recovery)") {
    val store = new MetricStore(s"$root/c4", schema("c4"))
    store.upsertSlots(0, somePoints(5), nowTs - 5, nowTs - 1)
    val level0 = s"$root/c4/c4/level_0"
    val day = (nowTs - 5) / 86400L
    fs.mkdirs(new Path(s"$level0.__old"))
    assert(fs.rename(new Path(s"$level0/pday=$day"), new Path(s"$level0.__old/pday=$day")))
    // the streaming contract: re-run the same batch after the crash
    store.upsertSlots(0, somePoints(5), nowTs - 5, nowTs - 1)
    val Some((_, df)) = store.fetch(Some("m0"), nowTs - 5, nowTs, nowTs)
    val got = df.where(col("value").isNotNull)
      .select(col("ts"), col("value")).as[(Long, Double)].collect().toMap
    assert(got == (1 to 5).map(i => (nowTs - i) -> i.toDouble).toMap)
  }

  test("hot-cache flush swap: interrupted rewrite recovers on next read") {
    val store = new MetricStore(s"$root/c5", schema("c5"))
    val hot = new HotCache(store, cacheRetention = 30L, waitTime = 10L)
    hot.processBatch(somePoints(5), nowTs)
    val day = (nowTs - 5) / 86400L
    fs.mkdirs(new Path(s"${hot.hotPath}.__old"))
    assert(fs.rename(new Path(s"${hot.hotPath}/pday=$day"),
      new Path(s"${hot.hotPath}.__old/pday=$day")))
    assert(hot.hotView().count() == 5, "hot view recovers the interrupted swap")
  }

  test("catalog remove: crash between the two renames keeps the old catalog") {
    val cat = new Catalog(s"$root/c6", new StorageSchemas(Seq(schema("c6"))))
    val pts = Seq(("a", nowTs, 1.0, 1L), ("b", nowTs, 2.0, 2L))
      .toDF("metric", "ts", "value", "arrival")
    cat.admit(pts, nowTs)
    assert(cat.metrics().count() == 2)
    // inject: staging written, main renamed aside, staging NOT moved in yet
    cat.metrics().where(col("metric") === "a")
      .coalesce(1).write.mode("overwrite").parquet(SafeSwap.stagingPath(cat.path))
    assert(fs.rename(new Path(cat.path), new Path(SafeSwap.bakPath(cat.path))))
    // recovery on next read restores the pre-remove catalog
    assert(cat.metrics().as[(String, String, Long)].collect().map(_._1).sorted.toSeq == Seq("a", "b"))
    assert(!fs.exists(new Path(SafeSwap.stagingPath(cat.path))))
  }
}
