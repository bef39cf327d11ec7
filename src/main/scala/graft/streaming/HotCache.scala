package graft.streaming

import graft.core.StorageSchema
import graft.storage.{Catalog, MetricStore, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  * The driver keeps the span of the hot table's slots: a low bound never
  * above the oldest slot and a high bound never below the newest. One
  * aggregate over the table sets it the first time it is needed (and again
  * after anything else swaps the table: a crash recovery, an admin
  * delete); every append widens it from the batch's own figures; every
  * flush moves its low bound up to the flush's boundary, below which no
  * slot is kept, and empties it once the boundary has passed the high
  * bound. So a flush runs no job, listing or persist until the boundary
  * passes the low bound, and a route idle this batch costs nothing.
  *
  * Scale posture: the hot table is a bounded working set
  * (≈ metrics × cacheRetention/step rows) partitioned by pday; appends are
  * cheap per micro-batch and the flush compacts. On a cluster the same
  * design runs on a transactional table (or the state store); the
  * append/merge-on-read/flush contract is unchanged.
  */
final class HotCache(val store: MetricStore, val cacheRetention: Long, val waitTime: Long)
                    (implicit val spark: SparkSession) {

  private[streaming] val step0: Int = store.archives.head.secondsPerPoint
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

  // ---- the span of hot slots, kept on the driver -------------------------

  // Some(None): the table holds no slot; None: not read yet. Valid while
  // the table's swap generation is the one it was read or reset at.
  private var span: Option[Option[(Long, Long)]] = None
  private var spanGeneration: Long = -1L

  /** Bounds of the hot slots, None when there are none. */
  private def hotSpan(): Option[(Long, Long)] = synchronized {
    if (span.isEmpty || MetricStore.swapGeneration(hotPath) != spanGeneration) {
      store.recoverSwap(hotPath)
      val generation = MetricStore.swapGeneration(hotPath)
      val read =
        if (!store.hasData(hotPath)) None
        else {
          val r = rawHot().agg(min(col("ts")), max(col("ts"))).head()
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
        }
      span = Some(read)
      spanGeneration = generation
    }
    span.get
  }

  /** Append already aligned, LWW-resolved rows whose ts lie in [lo, hi]. */
  private def append(rows: DataFrame, lo: Long, hi: Long): Unit = {
    rows.withColumn("pday", floor(col("ts") / 86400L))
      .write.mode(SaveMode.Append).partitionBy("pday").parquet(hotPath)
    synchronized {
      span = span.map(s => Some(s.fold((lo, hi)) { case (a, b) => (math.min(a, lo), math.max(b, hi)) }))
    }
  }

  /** The raw hot rows below `boundary` with bounds of their ts, or None,
    * without a job, while the boundary has not passed the span's low bound.
    */
  private def closedBelow(boundary: Long): Option[(DataFrame, Long, Long)] =
    hotSpan().filter(_._1 < boundary).map { case (lo, hi) =>
      val top = math.min(hi, boundary - 1)
      (rawHot().where(col("ts") < boundary), lo, top - java.lang.Math.floorMod(top, step0.toLong))
    }

  /** Drop the slots below `boundary` from the hot table, through the
    * store's crash-safe per-day backup swap of every hot day. Every slot
    * kept is at or above the boundary, so the span's low bound moves up to
    * it, and a boundary past the high bound leaves no slot. A crash between
    * the level upsert and this swap just leaves the flushed slots in both
    * places — LWW replay converges; a crash inside the swap is recovered by
    * recoverSwap, losing no committed slot either way.
    */
  private def dropBelow(boundary: Long): Unit = synchronized {
    span.flatten.foreach { case (lo, hi) =>
      store.swapPartitions(hotPath, lo / 86400L, hi / 86400L,
        TimeSeries.lwwMerge(rawHot().where(col("ts") >= boundary)))
      span = Some(if (hi < boundary) None else Some((boundary, hi)))
      spanGeneration = MetricStore.swapGeneration(hotPath)
    }
  }

  /** The closed rows that age-route to level `k` (reference:
    * kenshin/storage.py:397-419), with their bounds, or None when the
    * closed span misses the level's age window.
    */
  private def closedAt(k: Int, closed: (DataFrame, Long, Long), now: Long): Option[(DataFrame, Long, Long)] = {
    val archives = store.archives
    val (rows, lo, hi) = closed
    val from = math.max(lo, now - archives(k).retention)
    val until = if (k == 0) hi else math.min(hi, now - archives(k - 1).retention - 1)
    if (from > until) None
    else Some((rows.where(TimeSeries.ageLevel(archives, now) === k), from, until))
  }

  /** One micro-batch of raw points `(metric, ts, value, arrival)`:
    * admission, align+LWW to the level-0 step; stragglers already below
    * the watermark bypass the cache into the store (age-routed idempotent
    * upsert — the reference writes late points straight to the right
    * archive, kenshin/storage.py:397-419); the rest append to the hot
    * table; then everything the watermark has closed drains. The one-route
    * call of [[HotCache.processRouted]].
    *
    * Returns the number of points that survived admission + LWW alignment
    * (what actually entered the cache/store path — the committedPoints
    * instrumentation signal; parse-side counts would overstate during
    * create-throttle storms).
    */
  def processBatch(points: DataFrame, now: Long): Long =
    HotCache.processRouted(points, Seq((store.schema, this)), now).committed

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

  private def flushBelow(boundary: Long, now: Long): Unit =
    HotCache.write(Seq(HotCache.Writes(this, boundary, None, Map.empty)), now)

  /** The serving view of the cache: LWW-resolved pre-flush slots
    * (cache query analog, rurouni/protocols.py:79-84).
    */
  def hotView(): DataFrame =
    TimeSeries.lwwMerge(rawHot()).select(col("metric"), col("ts"), col("value"))

  /** One series' pre-flush slots `(ts, value)` in ts order, last write
    * wins per slot — the cache query for one metric
    * (rurouni/protocols.py:65-84). The series' raw rows are few (its
    * cacheRetention in slots, times the batches that rewrote them), so
    * they are collected as they are in ONE scan and resolved on the
    * driver, rather than through a shuffle and a sort; a flush that swaps
    * the table during the scan re-plans it ([[graft.storage.SnapshotRead.collect]]).
    */
  def hotSeries(metric: String): Seq[(Long, Double)] = {
    def plan() = rawHot().where(col("metric") === metric).select(col("ts"), col("value"), col("arrival"))
    graft.storage.SnapshotRead.collect(plan())(plan())
      .groupBy(_.getLong(0)).toSeq
      .map { case (ts, rows) =>
        ts -> rows.maxBy(r => (r.getLong(2), r.getDouble(1)))(
          Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering)).getDouble(1)
      }
      .sortBy(_._1)
  }

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

object HotCache {

  /** A micro-batch's figures: `received` parsed points before admission,
    * `malformed` lines and frames dropped whole, `committed` points after
    * admission and LWW alignment.
    */
  final case class BatchCounts(received: Long, malformed: Long, committed: Long)

  // where an aligned row goes: a level index, or one of these
  private val Hot = -2
  private val Dropped = -1

  /** Rows bound for one destination, with their row count and ts bounds. */
  private final case class Slice(rows: Long, lo: Long, hi: Long)

  private final case class Figures(received: Long, malformed: Long,
                                   slices: Map[(Int, Int), Slice], fresh: Set[Int])

  /** One route's writes: rows for the hot table and, per level, straggler
    * rows aligned at the level-0 step, each with its bounds.
    */
  private[streaming] final case class Writes(hot: HotCache, boundary: Long,
                                             hotRows: Option[(DataFrame, Long, Long)],
                                             stragglers: Map[Int, (DataFrame, Long, Long)])

  /** One micro-batch over every route as ONE plan (the write-side
    * counterpart of the merged read in [[graft.storage.TimeSeries.mergeSlots]]).
    *
    * `points` are `(metric, ts, value, arrival)`; a row with a null
    * `metric` stands for one malformed input (see `Ingest`'s parse). The
    * plan routes each point first-match over `routes` (a single route takes
    * every point), flags it against each distinct catalog the routes use,
    * aligns it to its schema's level-0 step and resolves last-write-wins per
    * slot, and tags each slot with its destination — hot at or above the
    * route's flush boundary, else the level its age routes to, else dropped.
    * The plan is cached, and ONE aggregate over it yields every figure:
    * received, malformed, and per (route, destination) the rows and their
    * ts bounds. Only a batch with first-seen names runs the catalog's
    * admission, and only one with rejected names a second aggregate.
    *
    * The writes follow from those figures, in this order, so `/query` sees
    * the new hot window as early as possible:
    *  1. per route with hot rows, one hot-table append;
    *  2. per route and level, one upsert of the stragglers together with
    *     the hot slots the boundary has closed;
    *  3. per route that flushed, one hot-table swap.
    * Every write replays idempotently.
    */
  def processRouted(points: DataFrame, routes: Seq[(StorageSchema, HotCache)],
                    now: Long): BatchCounts = {
    val hots = routes.map(_._2)
    def perRoute(f: Int => Column, otherwise: Column): Column =
      hots.indices.foldRight(otherwise)((i, acc) => when(col("route") === i, f(i)).otherwise(acc))
    val route =
      if (hots.lengthCompare(1) == 0) when(col("metric").isNotNull, lit(0)).otherwise(lit(-1))
      else Ingest.routeIndex(routes.map(_._1))
    // admission is per catalog: the CLI's stores share one
    val catalogs: Seq[(Catalog, Seq[Int])] = hots.flatMap(_.store.catalog).distinct
      .map(c => c -> hots.indices.filter(i => hots(i).store.catalog.exists(_ eq c)))
    // the catalog holds each metric once, so the left join adds no row
    val flagged = catalogs.zipWithIndex.foldLeft(points.withColumn("route", route)) {
      case (df, ((c, _), j)) =>
        df.join(c.metrics().select(col("metric"), lit(true).as(s"known$j")), Seq("metric"), "left")
    }
    val known = catalogs.zipWithIndex.foldRight(lit(true)) { case (((_, rs), j), other) =>
      when(col("route").isin(rs: _*), col(s"known$j").isNotNull).otherwise(other)
    }
    val step = perRoute(i => lit(hots(i).step0.toLong), lit(1L))
    val dest = perRoute(i => when(col("ts") >= hots(i).flushBoundary(now), lit(Hot))
      .otherwise(TimeSeries.ageLevel(hots(i).store.archives, now)), lit(Dropped))
    val aligned = flagged
      .groupBy(col("metric"), (col("ts") - pmod(col("ts"), step)).as("ts"), col("route"),
        known.as("known"))
      .agg(
        max_by(col("value"), struct(col("arrival"), col("value"))).as("value"),
        max(col("arrival")).as("arrival"),
        count(lit(1)).as("n"))
      .withColumn("dest", dest)
    // a PRIVATE cache, not Dataset.persist(): the session's CacheManager
    // drops and lazily rebuilds every cached plan over a path something
    // writes, so registering this batch's new names in the catalog would
    // re-run the whole batch plan inside the first hot append
    val plan = aligned.localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cached = plan.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    try {
      val first = figures(plan)
      val rejected = catalogs.flatMap { case (c, rs) =>
        if (!rs.exists(first.fresh)) None
        else c.register(plan.where(col("route").isin(rs: _*) && !col("known"))
          .select(col("metric")).distinct(), now)
      }
      val (admitted, figs) =
        if (rejected.isEmpty) (plan, first)
        else {
          val gated = plan.join(broadcast(rejected.reduce(_ unionByName _)), Seq("metric"), "left_anti")
          (gated, figures(gated))
        }
      def rows(r: Int, d: Int): Option[(DataFrame, Long, Long)] = figs.slices.get((r, d)).map { s =>
        (admitted.where(col("route") === r && col("dest") === d)
          .select(col("metric"), col("ts"), col("value"), col("arrival")), s.lo, s.hi)
      }
      write(hots.indices.map { r =>
        val levels = hots(r).store.archives.indices
        Writes(hots(r), hots(r).flushBoundary(now), rows(r, Hot),
          levels.flatMap(k => rows(r, k).map(k -> _)).toMap)
      }, now)
      BatchCounts(first.received, first.malformed,
        figs.slices.collect { case ((r, _), s) if r >= 0 => s.rows }.sum)
    } finally {
      cached.unpersist(false)
      ()
    }
  }

  /** The batch's one aggregate: every figure of an aligned plan. */
  private def figures(plan: DataFrame): Figures = {
    val rows = plan.groupBy(col("route"), col("dest"), col("known"))
      .agg(
        sum(when(col("metric").isNotNull, col("n"))).as("received"),
        sum(when(col("metric").isNull, col("n"))).as("malformed"),
        count(col("metric")).as("rows"),
        min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .collect()
    def long(r: org.apache.spark.sql.Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val slices = rows.filter(r => long(r, 5) > 0)
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (key, rs) =>
        key -> Slice(rs.map(long(_, 5)).sum, rs.map(_.getLong(6)).min, rs.map(_.getLong(7)).max)
      }
    Figures(rows.map(long(_, 3)).sum, rows.map(long(_, 4)).sum, slices,
      rows.filter(r => long(r, 5) > 0 && !r.getBoolean(2)).map(_.getInt(0)).toSet)
  }

  /** Issue a batch's writes: every hot append first, then every level
    * upsert, then every hot swap. Every level's dirty window is recorded
    * before any of them, so once the new hot window shows, the cascade
    * already knows what the upserts behind it will land.
    */
  private[streaming] def write(batch: Seq[Writes], now: Long): Unit = {
    val planned = batch.map { w =>
      val closed = w.hot.closedBelow(w.boundary)
      val archives = w.hot.store.archives
      val upserts = archives.indices.flatMap { k =>
        val parts = w.stragglers.get(k).toSeq ++ closed.flatMap(w.hot.closedAt(k, _, now))
        if (parts.isEmpty) None
        else {
          val step = archives(k).secondsPerPoint
          val rows = parts.map(_._1).reduce(_ unionByName _)
          // rows come aligned at the level-0 step; the upsert's own LWW
          // merge resolves the slots a coarser step folds together
          val aligned = if (step == w.hot.step0) rows
                        else rows.withColumn("ts", TimeSeries.alignTs(col("ts"), step))
          def floorTo(ts: Long): Long = ts - java.lang.Math.floorMod(ts, step.toLong)
          Some((k, aligned, floorTo(parts.map(_._2).min), floorTo(parts.map(_._3).max)))
        }
      }
      (w, closed.isDefined, upserts)
    }
    for ((w, _, upserts) <- planned; (k, _, lo, hi) <- upserts) w.hot.store.recordWrite(k, lo, hi)
    batch.foreach(w => w.hotRows.foreach { case (rows, lo, hi) => w.hot.append(rows, lo, hi) })
    for ((w, _, upserts) <- planned; (k, rows, lo, hi) <- upserts) w.hot.store.upsertSlots(k, rows, lo, hi)
    for ((w, flushed, _) <- planned if flushed) w.hot.dropBelow(w.boundary)
  }
}
