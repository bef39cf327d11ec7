package graft.storage

import graft.core.{AggMethod, Archive}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core time-series dataflow operators, expressed as declarative DataFrame
  * transforms over the long format `(metric: string, ts: long epoch-seconds,
  * value: double)` so Catalyst handles pushdown/pruning/codegen.
  *
  * Semantics re-derived from the reference TSDB's write/fetch pipeline
  * (reference: kenshin/storage.py:384-700), re-based on Spark groupBy/window
  * aggregation instead of seek-and-pack ring-buffer files.
  */
object TimeSeries {

  /** Floor-align timestamps to an archive step
    * (reference alignment: kenshin/storage.py:429).
    */
  def alignTs(ts: Column, stepSeconds: Int): Column =
    (ts - pmod(ts, lit(stepSeconds.toLong))).cast("long")

  /** Align a batch to `step` and keep the last write per (metric, aligned ts).
    * The reference dedupes duplicate aligned timestamps by taking the last
    * (kenshin/storage.py:441-445); we standardize on last-write-wins ordered
    * by `arrival` (the raw pre-floor event time or an explicit source
    * offset — NOT a partition-dependent id, so replay is deterministic),
    * ties broken by the larger value. The winning row's arrival is kept for
    * downstream cross-batch LWW. This is [[lwwMerge]] over the aligned ts:
    * a grouped aggregate, so it partially aggregates map-side before its
    * one shuffle on (metric, aligned ts).
    */
  def alignDedup(df: DataFrame, stepSeconds: Int, arrival: Column): DataFrame =
    lwwMerge(df.select(col("metric"), alignTs(col("ts"), stepSeconds).as("ts"),
      col("value"), arrival.as("arrival")))

  /** Fetch-window clamp (reference: kenshin/storage.py:626-637):
    * reject inverted ranges, clamp to [now - maxRetention, now]; None when
    * the requested range is entirely outside the retained window.
    */
  def clampWindow(fromTime: Long, untilTime: Long, now: Long, maxRetention: Long): Option[(Long, Long)] = {
    if (fromTime >= untilTime) return None
    val oldest = now - maxRetention
    if (fromTime > now || untilTime < oldest) return None
    val from = math.max(fromTime, oldest)
    val until = math.min(untilTime, now)
    Some((from, until))
  }

  /** Archive selection: the finest archive whose retention covers
    * `now - fromTime` (reference: kenshin/storage.py:639-642). Returns the
    * level index into the finest-first cascade. This is the fetch planner's
    * key property at scale: older queries read coarser (smaller) tables, so
    * scan size is bounded independently of raw data volume.
    */
  def selectArchive(archives: Seq[Archive], fromTime: Long, now: Long): Int = {
    val diff = now - fromTime
    val i = archives.indexWhere(_.retention >= diff)
    if (i >= 0) i else archives.length - 1
  }

  /** Route points to cascade levels by age: each point lands in the finest
    * archive whose retention covers `now - ts`; older than all -> level -1
    * (dropped, counted by caller). Reference: kenshin/storage.py:397-419.
    * Pure projection — no shuffle.
    */
  def ageRoute(df: DataFrame, archives: Seq[Archive], now: Long): DataFrame =
    df.withColumn("level", ageLevel(archives, now))

  /** The level [[ageRoute]] assigns, as a column over `ts`. */
  def ageLevel(archives: Seq[Archive], now: Long): Column = {
    val age = lit(now) - col("ts")
    archives.zipWithIndex.foldRight(lit(-1): Column) {
      case ((archive, i), elseCol) => when(age <= archive.retention, lit(i)).otherwise(elseCol)
    }
  }

  /** The merged read in one shuffle: hot-cache rows over level rows,
    * gap-filled against a dense spine of one row per (series, slot) in
    * [from, until) at `step` (the reference pre-allocates null points,
    * kenshin/storage.py:650-693, and stitches its cache over the archive,
    * rurouni/cache.py:161-169). `hot` and `level` are raw rows
    * `(metric, ts, value, arrival)`, possibly with superseded duplicates;
    * hot rows may sit at a finer step than `step`.
    *
    * One union of the three sources, each row tagged with its source, is
    * hash-partitioned once on `metric`; both aggregations below group on
    * keys that start with `metric`, so neither adds an exchange:
    *  - last write wins per `(metric, ts, source)` (as [[lwwMerge]]);
    *  - per `(metric, slot)`: the schema's `agg` over the hot values, the
    *    hot value wherever the slot has a hot row (hot wins, even when it
    *    rolls up to null), else the level value; only slots with a spine
    *    row are kept.
    *
    * `spine` (a 1-column `metric` frame, normally the catalog) names the
    * series; without it the series are the ones with a row in the window —
    * fine for tests, but a read at scale should never scan data to learn
    * metric names, and silent series would vanish instead of reading as
    * all-null.
    */
  def mergeSlots(hot: Option[DataFrame], level: DataFrame, spine: Option[DataFrame],
                 from: Long, until: Long, step: Int, agg: AggMethod): DataFrame = {
    val (fromHot, fromLevel, fromSpine) = (0, 1, 2)
    def tagged(df: DataFrame, source: Int): DataFrame =
      df.where(col("ts") >= from && col("ts") < until)
        .select(col("metric"), col("ts"), col("value"), col("arrival"), lit(source).as("src"))
    val rows = hot.fold(tagged(level, fromLevel))(h =>
      tagged(h, fromHot).unionByName(tagged(level, fromLevel)))
    val slotTs =
      if (until > from) sequence(lit(from), lit(until - step), lit(step.toLong))
      else typedLit(Seq.empty[Long])
    val slots = spine.getOrElse(rows.select(col("metric")).distinct())
      .select(col("metric"), explode(slotTs).as("ts"), lit(null).cast("double").as("value"),
        lit(null).cast("long").as("arrival"), lit(fromSpine).as("src"))
    val isHot = col("src") === fromHot
    rows.unionByName(slots)
      .repartition(col("metric"))
      .groupBy(col("metric"), col("ts"), col("src"))
      .agg(max_by(col("value"), struct(col("arrival"), col("value"))).as("value"))
      .groupBy(col("metric"), alignTs(col("ts"), step).as("ts"))
      .agg(
        max(col("src") === fromSpine).as("spine"),
        max(isHot).as("hot"),
        agg.expr(when(isHot, col("value")), col("ts")).as("hot_value"),
        max(when(col("src") === fromLevel, col("value"))).as("level_value"))
      .where(col("spine"))
      .select(col("metric"), col("ts"),
        when(col("hot"), col("hot_value")).otherwise(col("level_value")).as("value"))
  }

  /** Ceil to a multiple of base (reference: kenshin/utils.py:32-44, used for
    * fetch boundary alignment kenshin/storage.py:647-648).
    */
  def roundup(x: Long, base: Int): Long = {
    val r = x % base
    if (r == 0) x else x + (base - r)
  }

  /** Last-write-wins merge of duplicate `(metric, ts)` rows by `arrival`
    * (ties broken by larger value — deterministic under replay). The
    * read-side half of the reference's idempotent slot overwrite
    * (kenshin/storage.py:429-445). Map-side partial agg, one shuffle.
    */
  def lwwMerge(df: DataFrame): DataFrame =
    df.groupBy(col("metric"), col("ts"))
      .agg(
        max_by(col("value"), struct(col("arrival"), col("value"))).as("value"),
        max(col("arrival")).as("arrival"))

  /** Merge the hot (pre-flush, streaming-state) view with historical storage,
    * hot-wins on overlap — the reference stitches its in-memory cache with
    * on-disk archives (rurouni/cache.py:161-169 + web-side merge). Implemented
    * as history anti-joined against hot keys, then union: no row from history
    * survives where hot has the same (metric, ts).
    */
  def mergeHotHistorical(hot: DataFrame, historical: DataFrame): DataFrame = {
    val hotKeys = hot.select(col("metric"), col("ts"))
    historical.join(hotKeys, Seq("metric", "ts"), "left_anti")
      .unionByName(hot.select(col("metric"), col("ts"), col("value")))
  }
}
