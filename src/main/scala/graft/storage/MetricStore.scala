package graft.storage

import graft.core.{Archive, StorageSchema}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** A multi-resolution metric store: one partitioned Parquet table per cascade
  * level (`level_0` = finest), replacing the reference's N-metrics-per-file
  * ring-buffer format (reference layout: kenshin/storage.py:21-33). Retention
  * becomes partition TTL; the ring's O(1) offset math becomes partition
  * pruning on a day-bucket column plus parquet min/max stats.
  *
  * Storage model: level rows are `(metric, ts, value, arrival, pday)` where
  * `arrival` is the source-side write order (raw event time / source offset).
  * Writes append; reads resolve duplicates last-write-wins by `arrival` —
  * the slot-overwrite semantics of the reference ring buffer
  * (kenshin/storage.py:429-445) expressed as an LSM-style merge-on-read,
  * with propagation compacting the partitions it rewrites.
  *
  * Scale posture: every path is a partition-prunable scan + a single shuffle
  * aggregation; nothing collects to the driver beyond per-level counters.
  * The cascade rewrites only the pday partitions intersecting the dirty
  * window — never the whole table — and the dirty window itself is tracked
  * automatically per level (the reference's mtime analog,
  * kenshin/storage.py:384-425,487-491).
  */
final class MetricStore(val root: String, val schema: StorageSchema,
                        val catalog: Option[Catalog] = None)(implicit spark: SparkSession) {

  val archives: Seq[Archive] = schema.archives
  private def levelPath(i: Int): String = s"$root/${schema.name}/level_$i"

  private def hadoopFs(path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def withPday(df: DataFrame): DataFrame =
    df.withColumn("pday", floor(col("ts") / 86400L))

  // ---- dirty-range tracking (mtime analog) -----------------------------

  private def dirtyPath(i: Int): Path = new Path(s"$root/${schema.name}/_dirty/level_$i")

  /** The recorded un-propagated write window `[from, until)` for a level. */
  def dirtyRange(i: Int): Option[(Long, Long)] = {
    val fs = hadoopFs(root)
    val p = dirtyPath(i)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val parts = s.trim.split("\\s+")
      Some((parts(0).toLong, parts(1).toLong))
    }
  }

  /** Widen a level's recorded dirty window (driver-side, between jobs). */
  def mergeDirty(i: Int, from: Long, until: Long): Unit = {
    val merged = dirtyRange(i).fold((from, until)) { case (f, u) =>
      (math.min(f, from), math.max(u, until))
    }
    setDirty(i, merged._1, merged._2)
  }

  private def setDirty(i: Int, from: Long, until: Long): Unit = {
    val fs = hadoopFs(root)
    val out = fs.create(dirtyPath(i), true)
    try out.write(s"$from $until".getBytes("UTF-8")) finally out.close()
  }

  def clearDirty(i: Int): Unit = {
    hadoopFs(root).delete(dirtyPath(i), false)
    ()
  }

  // ---- write path ------------------------------------------------------

  /** Ingest a batch of raw points `(metric, ts, value, arrival)`: align +
    * last-write-wins to each level's step, route by age (late points older
    * than level-k retention land directly in level k+1 — reference:
    * kenshin/storage.py:397-419), drop points older than everything, append
    * each slice to its level table, and record the written window in the
    * level's dirty state for the cascade. Returns the number of dropped
    * too-old points. The streaming path writes through [[upsertSlots]]
    * instead ([[graft.streaming.HotCache.processRouted]]).
    */
  def writeBatch(points: DataFrame, now: Long): Long = {
    val routed = TimeSeries.ageRoute(points, archives, now).cache()
    try {
      // one small pass for per-level counts + written ts window (the dirty
      // range the reference derives from mtime + oldest/newest new point)
      val stats = routed.groupBy(col("level"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      archives.indices.filter(i => stats.get(i).exists(_._1 > 0)).foreach { i =>
        val step = archives(i).secondsPerPoint
        val slice = routed.where(col("level") === i).drop("level")
        val (_, lo, hi) = stats(i)
        recordWrite(i, floorTo(lo, step), floorTo(hi, step))
        withPday(TimeSeries.alignDedup(slice, step, col("arrival"))).write
          .mode(SaveMode.Append)
          .partitionBy("pday")
          .parquet(levelPath(i))
      }
      stats.get(-1).map(_._1).getOrElse(0L)
    } finally {
      routed.unpersist()
      ()
    }
  }

  private def floorTo(ts: Long, step: Int): Long = ts - java.lang.Math.floorMod(ts, step.toLong)

  /** Idempotent MERGE-style slot upsert: resolve the batch against the pday
    * partitions it touches (last-write-wins) and swap ONLY those partitions.
    * Replaying the same batch converges to the same table state — the
    * exactly-once flush primitive for streaming (reference idempotent slot
    * overwrite: kenshin/storage.py:429-445). `points` must be aligned to
    * level i's step and carry `arrival`; duplicate slots among them are
    * fine, the merge resolves them with the table's rows.
    *
    * `lo` and `hi` bound the points' ts (aligned to the step) and come from
    * the caller, who already knows them from its own batch figures: they
    * pick the day partitions to rewrite and widen the level's dirty window,
    * so the upsert runs no job of its own before its one write. Bounds wider
    * than the points cost rewriting days unchanged, never data.
    */
  def upsertSlots(i: Int, points: DataFrame, lo: Long, hi: Long): Unit = {
    recordWrite(i, lo, hi)
    val (loDay, hiDay) = (lo / 86400L, hi / 86400L)
    val target = levelPath(i)
    val existing =
      if (hasData(target))
        spark.read.parquet(target)
          .where(col("pday").between(loDay, hiDay))
          .select(col("metric"), col("ts"), col("value"), col("arrival"))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], levelSchema)
    swapPartitions(target, loDay, hiDay, lww(existing.unionByName(points)))
  }

  /** Widen level i's dirty window over the slots [lo, hi] a write is about
    * to land, BEFORE it lands: a crash after the write then still leaves
    * the cascade the window to propagate (propagation recomputes from
    * source, so a window recorded for a write that never landed costs a
    * recompute, never data). The coarsest level has no cascade below it.
    */
  private[graft] def recordWrite(i: Int, lo: Long, hi: Long): Unit =
    if (i < archives.length - 1) mergeDirty(i, floorTo(lo, archives(i).secondsPerPoint), hi + 1)

  /** Stage `merged` and swap it in for pday partitions [loDay, hiDay] of
    * `target` — partitions outside the range are untouched. (At cluster
    * scale the same move is a transactional dynamic-partition overwrite;
    * local-FS parquet cannot overwrite a path it is reading, hence
    * stage-then-swap.)
    *
    * Crash safety: per-day BACKUP-swap — a day's previous content renames
    * aside to `$target.__old/pday=N` (never a bare delete) before its
    * staged content renames in, so an interruption at any step loses no
    * committed data: `recoverSwap` restores any day whose old content is
    * still aside, and the writer (idempotent upsert / recompute-from-source
    * propagate) simply re-runs. Days already swapped when the crash hit
    * keep their new content — also safe, because every writer through this
    * path converges under replay.
    *
    * A day inside [loDay, hiDay] with NO staged content is still swapped
    * (to nothing): a window that legitimately recomputes to zero rows must
    * drop its stale rows, not keep them.
    */
  private[graft] def swapPartitions(target: String, loDay: Long, hiDay: Long,
                                    merged: DataFrame): Unit = {
    recoverSwap(target) // clear any previous crash before staging anew
    MetricStore.activeSwaps.add(target)
    try {
      val staging = SafeSwap.stagingPath(target)
      withPday(merged).write.mode(SaveMode.Overwrite).partitionBy("pday").parquet(staging)
      // the rename window runs under the table's swap monitor: a concurrent
      // serving read's recoverSwap probe must never observe the `.__old`
      // backups of a LIVE swap mid-phase (it would "restore" them). The
      // slow staging write above stays outside the lock, shielded by the
      // activeSwaps registration instead.
      MetricStore.swapMonitor(target).synchronized {
        MetricStore.bumpSwapGeneration(target)
        val fs = hadoopFs(target)
        val old = new Path(s"$target.__old")
        fs.mkdirs(new Path(target))
        fs.mkdirs(old)
        (loDay to hiDay).foreach { day =>
          val tgt = new Path(s"$target/pday=$day")
          val stg = new Path(s"$staging/pday=$day")
          if (fs.exists(tgt) && !fs.rename(tgt, new Path(s"$old/pday=$day")))
            throw new java.io.IOException(s"swap: backup of $tgt failed")
          MetricStore.crashHoldHook(target, day)
          if (fs.exists(stg) && !fs.rename(stg, tgt))
            throw new java.io.IOException(s"swap: move-in of $stg failed")
        }
        fs.delete(old, true)
        fs.delete(new Path(staging), true)
      }
    } finally {
      MetricStore.activeSwaps.remove(target)
      ()
    }
    ()
  }

  /** Recover from a swapPartitions interrupted by a crash: restore every
    * day whose previous content is still aside in `$target.__old` and whose
    * new content did not land, then drop the leftovers. Idempotent; no-op
    * (one exists probe) when there is no crash evidence.
    */
  def recoverSwap(target: String): Unit = MetricStore.swapMonitor(target).synchronized {
    if (MetricStore.activeSwaps.contains(target)) return // live swap, not a crash
    val fs = hadoopFs(target)
    val old = new Path(s"$target.__old")
    if (fs.exists(old)) {
      MetricStore.bumpSwapGeneration(target)
      fs.listStatus(old).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("pday=") && !fs.exists(new Path(s"$target/$name"))) {
          if (!fs.rename(st.getPath, new Path(s"$target/$name")))
            throw new java.io.IOException(s"recoverSwap: restore of $name failed")
        }
      }
      fs.delete(old, true)
      ()
    }
    val staging = new Path(SafeSwap.stagingPath(target))
    if (fs.exists(staging)) fs.delete(staging, true)
    ()
  }

  private val levelSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("arrival", org.apache.spark.sql.types.LongType)))

  /** levelSchema plus the pday partition column — the schema SnapshotRead
    * needs to skip footer inference on the serving path.
    */
  private val levelSchemaP = org.apache.spark.sql.types.StructType(
    levelSchema.fields :+ org.apache.spark.sql.types.StructField(
      "pday", org.apache.spark.sql.types.LongType))

  private def lww(df: DataFrame): DataFrame = TimeSeries.lwwMerge(df)

  /** Raw level rows (may contain superseded duplicates), pruned to a time
    * range (partition pruning on pday + row-group pruning on ts).
    */
  private[graft] def readLevelRaw(i: Int, fromTime: Long, untilTime: Long): DataFrame = {
    recoverSwap(levelPath(i)) // cheap no-op unless a swap died mid-flight
    if (!hasData(levelPath(i)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], levelSchema)
    else
      // snapshot read: this is the SERVING path — a render scans levels
      // while the micro-batch loop appends (writeBatch partitionBy
      // _temporary staging) and maintenance swaps partitions around it
      SnapshotRead.parquet(spark, levelPath(i), levelSchemaP)
        .where(col("pday").between(fromTime / 86400L, untilTime / 86400L))
        .where(col("ts") >= fromTime && col("ts") < untilTime)
        .select(col("metric"), col("ts"), col("value"), col("arrival"))
  }

  /** Read one level with duplicates resolved (last-write-wins). */
  def readLevel(i: Int, fromTime: Long, untilTime: Long): DataFrame =
    lww(readLevelRaw(i, fromTime, untilTime))
      .select(col("metric"), col("ts"), col("value"))

  // ---- downsample cascade ----------------------------------------------

  /** The exact lower-archive window a dirty range propagates into
    * (reference: kenshin/storage.py:542-549). In the common case
    * (lower_spp <= timeunit) the window snaps to whole xff timeunits and
    * TRUNCATES at the last completed unit boundary — the trailing
    * incomplete unit stays un-propagated until a later write crosses the
    * next boundary (that is what makes xff a write-batching factor). The
    * truncated tail is retained in the level's dirty state by cascadeAuto,
    * playing the role of the reference's mtime. `force` (shutdown flush)
    * covers the full step-aligned range instead.
    */
  def propagationWindow(i: Int, from: Long, until: Long, force: Boolean): (Long, Long) = {
    val lowerStep = archives(i + 1).secondsPerPoint.toLong
    val unit = propagateTimeunit(i)
    if (!force && lowerStep <= unit) {
      val end = (until / unit) * unit
      (math.min(end - unit, (from / unit) * unit), end)
    } else
      (from - java.lang.Math.floorMod(from, lowerStep), TimeSeries.roundup(until, lowerStep.toInt))
  }

  /** Propagate an exact (step-aligned) window from level i to level i+1 —
    * the downsample cascade (reference: kenshin/storage.py:510-586). ONLY
    * the pday partitions intersecting the window are rewritten; partitions
    * outside it (earlier cascades, age-routed late writes) are untouched.
    * Windows are recomputed from source, never double-aggregated, so
    * propagation is idempotent. Rewritten partitions come out compacted
    * (LWW resolved), with `arrival` carried as max over contributing points.
    */
  def propagate(i: Int, from: Long, until: Long): Unit = {
    require(i >= 0 && i < archives.length - 1, s"no coarser level below $i")
    val lowerStep = archives(i + 1).secondsPerPoint
    val src = lww(readLevelRaw(i, from, until))
    val fresh = src
      .groupBy(col("metric"), TimeSeries.alignTs(col("ts"), lowerStep).as("ts"))
      .agg(
        schema.aggregationMethod.expr(col("value"), col("ts")).as("value"),
        max(col("arrival")).as("arrival"))

    val loDay = from / 86400L
    val hiDay = until / 86400L
    val target = levelPath(i + 1)
    val existing =
      if (hasData(target))
        lww(spark.read.parquet(target)
          .where(col("pday").between(loDay, hiDay))
          .where(!(col("ts") >= from && col("ts") < until))
          .select(col("metric"), col("ts"), col("value"), col("arrival")))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], levelSchema)
    swapPartitions(target, loDay, hiDay, existing.unionByName(fresh))
  }

  /** Reference propagation gate (kenshin/storage.py:520-521): skip ONLY when
    * the dirty range stays inside one xff timeunit AND does not start on a
    * unit boundary — a boundary-aligned range still propagates.
    */
  private def crossesUnit(from: Long, until: Long, unit: Long): Boolean =
    (from / unit) != (until / unit) || from % unit == 0

  /** Run the full cascade for an explicit dirty range, gated per level by
    * the xff batching rule (reference: kenshin/storage.py:505-528 — xff is
    * a propagation batching/delay factor, NOT a min-known fraction; no data
    * is ever discarded by it). `force` bypasses the gate (shutdown flush).
    */
  def cascade(dirtyFrom: Long, dirtyUntil: Long, force: Boolean = false): Unit = {
    var from = dirtyFrom
    var until = dirtyUntil
    (0 until archives.length - 1).foreach { i =>
      if (!(force || crossesUnit(from, until, propagateTimeunit(i)))) return
      val (wf, wu) = propagationWindow(i, from, until, force)
      propagate(i, wf, wu)
      // the next level's dirty range flows down un-truncated
      // (kenshin/storage.py:584: (lower_interval_start, max(end, until)))
      from = wf
      until = math.max(wu, until)
    }
  }

  /** Run the cascade from the automatically recorded dirty state: consume
    * each level's window, retain any un-propagated tail past the truncated
    * window (the reference's mtime analog), and mark the next level dirty
    * with the range just rewritten. A level that fails the xff gate keeps
    * its dirty state for a later run — exactly the reference's
    * mtime-driven propagation cadence.
    */
  def cascadeAuto(force: Boolean = false): Unit = {
    (0 until archives.length - 1).foreach { i =>
      // per-level skip, never an early return: a clean (or gate-deferred)
      // level must not block coarser levels that hold their own recorded
      // dirty state — e.g. age-routed late points that landed directly in
      // level 1 while level 0 stayed clean, or a retained dirty tail from
      // a previous run whose own gate now defers. An early return here
      // left such windows unpropagated forever, even under force.
      dirtyRange(i).foreach { case (from, until) =>
        if (force || crossesUnit(from, until, propagateTimeunit(i))) {
          val (wf, wu) = propagationWindow(i, from, until, force)
          propagate(i, wf, wu)
          if (!force && wu < until) setDirty(i, wu, until) else clearDirty(i)
          if (i + 1 < archives.length - 1)
            mergeDirty(i + 1, wf, math.max(wu, until))
        }
      }
    }
  }

  /** timeunit = ceil((lower_spp / higher_spp) * xff) * higher_spp
    * (reference: kenshin/storage.py:505-508).
    */
  def propagateTimeunit(i: Int): Long = {
    val higher = archives(i).secondsPerPoint.toLong
    val lower = archives(i + 1).secondsPerPoint.toLong
    math.ceil(lower.toDouble / higher * schema.xFilesFactor).toLong * higher
  }

  // ---- fetch -----------------------------------------------------------

  /** Range fetch: clamp the window to retention, pick the finest archive
    * covering `now - from` (coarser data answers older queries, bounding
    * scan size — reference: kenshin/storage.py:617-694), read that level
    * pruned, gap-fill against the step spine. Returns None when the range
    * is entirely outside retention. Output: (metric, ts, value) step-aligned,
    * nulls in gaps, ordered by metric then ts.
    *
    * `hot` adds raw hot-cache rows `(metric, ts, value, arrival)` at any
    * finer step: they roll up to the level's step with the schema's
    * aggregation method and win every slot they touch
    * ([[graft.streaming.HotCache.fetchMerged]]). Both reads are one
    * [[TimeSeries.mergeSlots]] pass.
    *
    * With a catalog attached, the gap-fill spine comes from the catalog
    * (the reference resolves series through its metric index,
    * rurouni/cache.py:69-97) — never from scanning the data itself, and
    * registered-but-silent series fetch as all-null (empty-metric fetch,
    * tests/test_storage.py:127-133).
    */
  def fetch(metricFilter: Option[String], fromTime: Long, untilTime: Long, now: Long,
            hot: Option[DataFrame] = None): Option[(Int, DataFrame)] =
    TimeSeries.clampWindow(fromTime, untilTime, now, schema.maxRetention).map { case (from, until) =>
      val level = TimeSeries.selectArchive(archives, from, now)
      val step = archives(level).secondsPerPoint
      val (lo, hi) = (TimeSeries.roundup(from, step), TimeSeries.roundup(until, step))
      def only(df: DataFrame): DataFrame = metricFilter.fold(df)(m => df.where(col("metric") === m))
      // only THIS store's schema: the catalog is shared across stores, and
      // an unfiltered spine would gap-fill phantom all-null series for
      // metrics that belong to other schemas
      val spine = catalog.map(c => only(
        c.metrics().where(col("schema_name") === schema.name).select(col("metric"))))
      val merged = TimeSeries.mergeSlots(hot.map(only), only(readLevelRaw(level, lo, hi)),
        spine, lo, hi, step, schema.aggregationMethod)
      (level, merged.orderBy("metric", "ts"))
    }

  // ---- retention / maintenance -----------------------------------------

  /** LSM compaction: rewrite a level with all superseded duplicate slots
    * resolved (the cascade already compacts the partitions it rewrites;
    * this is the maintenance pass for levels that only ever receive
    * appends). Whole-level swap — run at admin cadence, per level.
    * Returns rows removed.
    */
  def compact(i: Int): Long = {
    val path = levelPath(i)
    recoverSwap(path)
    if (!hasData(path)) return 0L
    val raw = spark.read.parquet(path)
      .select(col("metric"), col("ts"), col("value"), col("arrival"))
    val head = raw.agg(count(lit(1)), min(col("ts")), max(col("ts"))).head()
    val before = head.getLong(0)
    if (before == 0) return 0L
    // whole-level rewrite through the same crash-safe per-day swap as the
    // cascade (no delete-then-rename window)
    swapPartitions(path, head.getLong(1) / 86400L, head.getLong(2) / 86400L, lww(raw))
    before - spark.read.parquet(path).count()
  }

  /** Retention TTL: drop whole pday partitions entirely older than each
    * level's retention (replaces the ring buffer's silent overwrite;
    * fetch never returns data older than retention either way, matching
    * kenshin/storage.py:626-637).
    */
  def enforceRetention(now: Long): Unit =
    archives.indices.foreach { i =>
      val path = levelPath(i)
      if (tableExists(path)) {
        val cutoffDay = (now - archives(i).retention) / 86400L - 1
        val fs = hadoopFs(path)
        fs.listStatus(new Path(path)).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("pday=")) {
            val day = name.stripPrefix("pday=").toLong
            if (day < cutoffDay) fs.delete(st.getPath, true)
          }
        }
      }
    }

  def tableExists(path: String): Boolean =
    hadoopFs(path).exists(new Path(path))

  /** True when the table dir holds at least one data file (a dir with only
    * _SUCCESS — e.g. after a TTL wiped every partition — counts as empty).
    *
    * Walks only VISIBLE entries and never descends into `_`/`.` names: the
    * recursive listFiles it replaces walked INTO an in-flight append's
    * `_temporary` staging, where a task file vanishing mid-walk surfaces
    * as the local FS permission-probe failure (RenderLoadSpec's concurrent
    * render/ingest mix). A path that vanishes during the walk reads as
    * no-data-now — the same answer a moment earlier would have given.
    */
  def hasData(path: String): Boolean = {
    if (!tableExists(path)) return false
    val fs = hadoopFs(path)
    def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
    // a vanished path reads as empty and a listing that raced a rename
    // retries (same shape as SnapshotRead.ls), but a PERSISTENT failure
    // (permissions, bad mount, disk fault) propagates — mapping it to
    // "no data" would serve empty results and skip flushes during an
    // outage instead of failing loudly
    def ls(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
      var attempt = 0
      while (true) {
        try return fs.listStatus(p).filter(s => visible(s.getPath.getName))
        catch {
          case _: java.io.FileNotFoundException =>
            return Array.empty[org.apache.hadoop.fs.FileStatus]
          case _: Exception if attempt < 3 =>
            // back off so the retry span actually covers a swap's rename
            // window (a vanishing file can surface as a permission-probe
            // failure, not FNF, on local FS) — 3 instant retries complete
            // in microseconds while the window lasts milliseconds
            try Thread.sleep(10L << attempt)
            catch {
              case _: InterruptedException =>
                // a serving thread interrupted mid-listing must not leak
                // InterruptedException out of hasData: restore the flag and
                // stop backing off — one final attempt, then the underlying
                // FS error (not the interrupt) propagates
                Thread.currentThread().interrupt()
                attempt = 2
            }
            attempt += 1
        }
      }
      Array.empty[org.apache.hadoop.fs.FileStatus] // unreachable
    }
    val top = ls(new Path(path))
    top.exists(!_.isDirectory) ||
      top.filter(_.isDirectory).exists(d => ls(d.getPath).exists(!_.isDirectory))
  }
}

object MetricStore {
  /** Per-table monitors serializing swapPartitions' rename window against
    * reader-side recoverSwap probes (same JVM — the daemon's HTTP threads
    * serve while the micro-batch drains). Without this a serving read's
    * recovery probe could observe a LIVE swap's `.__old` mid-phase and
    * "restore" days the writer is about to move in. Cross-process writers
    * remain excluded by the single-writer contract.
    */
  /** TEST-ONLY crash window: when `GRAFT_TEST_SWAP_HOLD` names a directory,
    * the first swap whose target path contains `GRAFT_TEST_SWAP_HOLD_MATCH`
    * (default: any) writes a `held` marker there MID-RENAME — after a day's
    * old content renamed aside, before its new content moved in — and then
    * blocks forever so a crash harness can SIGKILL the JVM inside the
    * swap's most adversarial instant (CrashSpec). Never set in production:
    * the held swap only ends with the process.
    */
  private def crashHoldHook(target: String, day: Long): Unit =
    sys.env.get("GRAFT_TEST_SWAP_HOLD").foreach { dir =>
      val want = sys.env.getOrElse("GRAFT_TEST_SWAP_HOLD_MATCH", "")
      if (target.contains(want)) {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "held"),
          s"$target pday=$day".getBytes("UTF-8"))
        while (true) Thread.sleep(100)
      }
    }

  private val swapMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[storage] def swapMonitor(target: String): Object =
    swapMonitors.computeIfAbsent(target, _ => new Object)

  /** Per-table swap generation: bumped under the table's swap monitor
    * BEFORE the first rename of a swap (or of a crash recovery), so a
    * snapshot listed under the same monitor can tell afterwards whether
    * any of its files may have moved ([[SnapshotRead.stale]]).
    */
  private val swapGenerations =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def generationOf(target: String): java.util.concurrent.atomic.AtomicLong =
    swapGenerations.computeIfAbsent(target, _ => new java.util.concurrent.atomic.AtomicLong())
  private[graft] def swapGeneration(target: String): Long = generationOf(target).get()
  private def bumpSwapGeneration(target: String): Unit = { generationOf(target).incrementAndGet(); () }

  /** [[SafeSwap.commit]] of a whole rewritten table, counted as a swap of
    * it: a snapshot read planned before it re-plans, and a
    * [[graft.streaming.HotCache]] over it re-reads its span of slots.
    */
  private[graft] def commitRewrite(fs: org.apache.hadoop.fs.FileSystem, target: String): Unit =
    swapMonitor(target).synchronized {
      bumpSwapGeneration(target)
      SafeSwap.commit(fs, target)
    }

  /** Tables with a swap IN FLIGHT in this JVM (staging write + rename
    * window). A reader-side recoverSwap probe must no-op for these: its
    * staging cleanup would otherwise delete the half-written staging dir
    * of a LIVE drain (recovery is for crashed restarts, where no writer
    * is active by definition).
    */
  private[storage] val activeSwaps: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
