package graft.streaming

import graft.storage.{MetricStore, TimeSeries}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming hot cache — the reference's in-memory FileCache re-based on
  * a small partitioned Parquet table (reference: rurouni/cache.py:219-338).
  *
  * Semantics:
  *  - incoming points align+LWW to the level-0 step and APPEND to the hot
  *    table (LSM-style; duplicates resolve last-write-wins on read, like
  *    the reference's slot overwrite rurouni/cache.py:264-280);
  *  - the watermark boundary is `now - (cacheRetention + wait)` — the
  *    reference's canWrite flush gate (rurouni/cache.py:259-262,
  *    DEFAULT_WAIT_TIME rurouni/conf.py:24);
  *  - slots below the boundary FLUSH into level 0 via the store's
  *    idempotent partition-scoped upsert and leave the cache (the drain,
  *    rurouni/cache.py:288-334) — so replaying a micro-batch after a crash
  *    converges to the same state (effectively-once);
  *  - `hotView` serves the pre-flush window (the cache query,
  *    rurouni/protocols.py:65-84); `fetchMerged` stitches hot ∪ historical
  *    with hot-wins precedence (the web-side merge).
  *
  * Scale posture: the hot table is a bounded working set
  * (≈ metrics × cacheRetention/step rows) partitioned by pday; appends are
  * cheap per micro-batch and the flush compacts. On a cluster the same
  * design runs on a transactional table (or the state store); the
  * append/merge-on-read/flush contract is unchanged.
  */
final class HotCache(val store: MetricStore, val cacheRetention: Long, val waitTime: Long)
                    (implicit val spark: SparkSession) {

  private val step0: Int = store.archives.head.secondsPerPoint
  val hotPath: String = s"${store.root}/${store.schema.name}/hot"

  /** First slot that must still be in the cache: slots strictly below it
    * are flush-eligible (canWrite analog, rurouni/cache.py:259-262).
    */
  def flushBoundary(now: Long): Long = {
    val b = now - cacheRetention - waitTime
    b - java.lang.Math.floorMod(b, step0.toLong)
  }

  private val hotSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("arrival", org.apache.spark.sql.types.LongType)))

  private val hotSchemaP = org.apache.spark.sql.types.StructType(
    hotSchema.fields :+ org.apache.spark.sql.types.StructField(
      "pday", org.apache.spark.sql.types.LongType))

  private def rawHot(): DataFrame = {
    store.recoverSwap(hotPath) // cheap no-op unless a flush died mid-swap
    if (!store.hasData(hotPath))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hotSchema)
    else
      // snapshot read: hotView/fetchMerged serve HTTP requests CONCURRENT
      // with the micro-batch's appends and drain swaps on this directory —
      // a plain directory read races their staging/deletes (500s under the
      // RenderLoadSpec mix; see graft.storage.SnapshotRead)
      graft.storage.SnapshotRead.parquet(spark, hotPath, hotSchemaP)
        .select(col("metric"), col("ts"), col("value"), col("arrival"))
  }

  /** One micro-batch of raw points `(metric, ts, value, arrival)`:
    * align+LWW to the level-0 step; stragglers already below the watermark
    * bypass the cache into the store (age-routed idempotent upsert — the
    * reference writes late points straight to the right archive,
    * kenshin/storage.py:397-419); the rest append to the hot table. Then
    * drain everything the watermark has closed.
    */
  /** Returns the number of points that survived admission + LWW alignment
    * (what actually entered the cache/store path — the committedPoints
    * instrumentation signal; parse-side counts would overstate during
    * create-throttle storms).
    */
  def processBatch(points: DataFrame, now: Long): Long = {
    // first-sight registration + throttle/shard gate (reference create path
    // rurouni/cache.py:112-151); rejected metrics' points drop for the batch
    val admitted = store.catalog.fold(points)(c => c.admit(points, now))
    val aligned = TimeSeries.alignDedup(admitted, step0, col("arrival")).cache()
    try {
      val boundary = flushBoundary(now)
      val stragglers = aligned.where(col("ts") < boundary)
      if (!stragglers.isEmpty) {
        store.writeBatch(stragglers, now, upsert = true)
        ()
      }
      val recent = aligned.where(col("ts") >= boundary)
      if (!recent.isEmpty)
        recent.withColumn("pday", floor(col("ts") / 86400L))
          .write.mode(SaveMode.Append).partitionBy("pday").parquet(hotPath)
      flush(now)
      aligned.count()
    } finally {
      aligned.unpersist()
      ()
    }
  }

  /** Drain closed windows: slots below the boundary move to the store via
    * the age-routed idempotent upsert (the reference drain feeds
    * kenshin.update, which routes by age — rurouni/writer.py:33-45 →
    * kenshin/storage.py:397-419), then the hot table drops them.
    */
  def flush(now: Long): Unit = flushBelow(flushBoundary(now), now)

  /** Shutdown drain: flush EVERY cached slot to the store regardless of the
    * watermark — the reference's stop-time writer pops the whole cache with
    * the canWrite gate disabled (rurouni/writer.py:73-83), so no committed
    * point is lost when the daemon exits.
    */
  def flushAll(now: Long): Unit = flushBelow(Long.MaxValue, now)

  private def flushBelow(boundary: Long, now: Long): Unit = {
    if (!store.hasData(hotPath)) return
    // PRIVATE cache, not Dataset.cache(): a Dataset.cache() registers the
    // plan in the session CacheManager, and a concurrent render's hotView()
    // builds the SAME canonicalized SnapshotRead subplan between drains —
    // Spark substitutes this drain-local cache into the render's plan, and
    // the unpersist below then drops blocks out from under the in-flight
    // render ("Block rdd_N_M does not exist" 500s under RenderLoadSpec;
    // local mode has no task retry to recompute). Persisting at the RDD
    // level keeps the multi-action reuse (toFlush / span / keep all read
    // one materialization) while staying invisible to other plans.
    val snap = rawHot()
    val rdd = snap.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = spark.createDataFrame(rdd, snap.schema)
    try {
      val toFlush = TimeSeries.lwwMerge(raw.where(col("ts") < boundary))
      if (toFlush.isEmpty) return
      store.writeBatch(toFlush, now, upsert = true)
      // rewrite the hot table without the flushed slots, through the
      // store's crash-safe per-day backup swap (a crash between the store
      // upsert above and this rewrite just leaves the flushed slots in
      // both places — LWW replay converges; a crash inside the swap is
      // recovered by recoverSwap, losing no committed slot either way)
      val span = raw.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
      val keep = TimeSeries.lwwMerge(raw.where(col("ts") >= boundary))
      store.swapPartitions(hotPath, span.getLong(0) / 86400L, span.getLong(1) / 86400L, keep)
    } finally {
      rdd.unpersist(false)
      ()
    }
  }

  /** The serving view of the cache: LWW-resolved pre-flush slots
    * (cache query analog, rurouni/protocols.py:79-84).
    */
  def hotView(): DataFrame =
    TimeSeries.lwwMerge(rawHot()).select(col("metric"), col("ts"), col("value"))

  /** Full read path: the hot cache's raw rows merged over the level the
    * fetch planner selects, gap-filled like a plain store fetch — one
    * [[MetricStore.fetch]] with hot rows, so one scan of each table and one
    * shuffle (reference read path: kenshin/storage.py:617-694 + rurouni
    * web-side merge). Output (metric, ts, value) ordered by metric then ts;
    * None when the range is entirely outside retention. Run the frame
    * through [[graft.storage.SnapshotRead.collect]] when a flush may swap
    * the tables it reads.
    */
  def fetchMerged(metricFilter: Option[String], fromTime: Long, untilTime: Long,
                  now: Long): Option[(Int, DataFrame)] =
    store.fetch(metricFilter, fromTime, untilTime, now, hot = Some(rawHot()))
}
