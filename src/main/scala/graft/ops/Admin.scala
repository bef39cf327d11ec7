package graft.ops

import graft.core.StorageSchema
import graft.storage.MetricStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Admin / lifecycle operators as Spark jobs (reference `bin/` tools):
  * delete-metrics (bin/kenshin-delete.py), change-schema
  * (bin/kenshin-change-schema.py:34-126) and long-format migration
  * (bin/kenshin-rehash.py + kenshin/tools/whisper_tool.py:40-63).
  */
object Admin {

  // ---- delete metrics (bin/kenshin-delete.py) ---------------------------

  /** Remove metrics from every level table and the catalog. The reference
    * clears tag slots so space is reused (delete_file); columnar tables
    * just drop the rows — each level is rewritten once with a pushed-down
    * anti-filter (an admin-cadence full pass, not a query-path cost).
    */
  def deleteMetrics(store: MetricStore, metrics: Seq[String])
                   (implicit spark: SparkSession): Unit = {
    if (metrics.isEmpty) return
    // level tables AND the streaming hot table: points still sitting in
    // the hot cache above the watermark would otherwise flush back into
    // level_0 after the delete, resurrecting the metric
    val paths = store.archives.indices
      .map(i => s"${store.root}/${store.schema.name}/level_$i") :+
      s"${store.root}/${store.schema.name}/hot"
    paths.foreach { path =>
      if (store.hasData(path)) {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
        graft.storage.SafeSwap.recover(fs, path)
        val remaining = spark.read.parquet(path)
          .where(!col("metric").isInCollection(metrics))
          .select(col("metric"), col("ts"), col("value"), col("arrival"), col("pday"))
        remaining.write.mode(SaveMode.Overwrite).partitionBy("pday")
          .parquet(graft.storage.SafeSwap.stagingPath(path))
        // backup-swap (never delete-then-rename): a crash leaves either the
        // old or the new table readable
        MetricStore.commitRewrite(fs, path)
      }
    }
    store.catalog.foreach(_.remove(metrics))
  }

  // ---- change schema (bin/kenshin-change-schema.py:34-126) --------------

  sealed trait SchemaAction
  case object NoOperation extends SchemaAction
  case object ChangeMeta extends SchemaAction
  case object Rebuild extends SchemaAction

  /** Classify a schema change exactly like resize_data_file
    * (bin/kenshin-change-schema.py:41-67): retention changes force a
    * REBUILD; xff/aggregation-only changes are metadata-only.
    */
  def plan(oldSchema: StorageSchema, newSchema: StorageSchema): SchemaAction = {
    val retentionsChanged =
      oldSchema.archives.map(a => (a.secondsPerPoint, a.points)) !=
        newSchema.archives.map(a => (a.secondsPerPoint, a.points))
    if (retentionsChanged) Rebuild
    else if (oldSchema.xFilesFactor != newSchema.xFilesFactor ||
      oldSchema.aggregationMethod != newSchema.aggregationMethod) ChangeMeta
    else NoOperation
  }

  /** CHANGE_META: the cascade layout is unchanged, so the data stands; only
    * the schema object (xff / aggregation driving future cascades) is
    * swapped (reference patches the header in place,
    * bin/kenshin-change-schema.py:72-79).
    */
  def changeMeta(store: MetricStore, newSchema: StorageSchema)
                (implicit spark: SparkSession): MetricStore = {
    require(plan(store.schema, newSchema) != Rebuild,
      "retentions changed: use rebuild, not changeMeta")
    require(newSchema.name == store.schema.name, "schema name must be stable for CHANGE_META")
    new MetricStore(store.root, newSchema, store.catalog)
  }

  /** REBUILD: re-aggregate existing data into a new cascade (reference:
    * bin/kenshin-change-schema.py:81-126 — fetch each old archive over its
    * retention, update into the new file, tmp+bak+rename). Per old level
    * (finest first) the retained window re-ingests with age routing into
    * the new store; overlapping slots resolve in favor of the FINER source
    * (arrival bonus), then a forced cascade rebuilds the coarser levels.
    */
  def rebuild(old: MetricStore, newRoot: String, newSchema: StorageSchema, now: Long)
             (implicit spark: SparkSession): MetricStore = {
    val fresh = new MetricStore(newRoot, newSchema, old.catalog)
    val levels = old.archives.length
    old.archives.indices.foreach { i =>
      val from = now - old.archives(i).retention
      val rows = old.readLevel(i, from, now)
      if (!rows.isEmpty) {
        // finer levels get a larger arrival bonus: when two old levels land
        // in the same new slot, the finer one wins the LWW tie-break
        val arrival = (col("ts") * levels + lit(levels - 1 - i)).as("arrival")
        fresh.writeBatch(rows.select(col("metric"), col("ts"), col("value"), arrival), now)
        ()
      }
    }
    fresh.cascade(now - newSchema.maxRetention, now, force = true)
    fresh
  }

  // ---- migration (bin/kenshin-rehash.py, whisper_tool.py:40-63) ---------

  /** Import legacy per-metric long-format data (a Whisper-tree analog:
    * any frame of raw `(metric, ts, value)` rows read from the old layout)
    * into a store: register, time-align via the normal write path, cascade.
    * The reference's merge_points + fill_gap collapse into the store's own
    * align/LWW/gap-fill — a migration is just a big batch write here.
    */
  def importSeries(points: DataFrame, store: MetricStore, now: Long): Long = {
    val withArrival =
      if (points.columns.contains("arrival")) points
      else points.withColumn("arrival", col("ts"))
    val admitted = store.catalog.fold(withArrival)(_.admit(withArrival, now))
    val dropped = store.writeBatch(admitted, now)
    store.cascade(now - store.schema.maxRetention, now, force = true)
    dropped
  }

  /** Read a per-metric directory tree `root/<metric>/` of `(ts, value)`
    * parquet tables — the Whisper-layout analog for tests/migrations.
    */
  def readPerMetricTree(treeRoot: String)(implicit spark: SparkSession): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(treeRoot), spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(treeRoot))
      .filter(_.isDirectory).map(_.getPath)
    if (dirs.isEmpty)
      // empty migration source -> empty frame, not an empty-reduce crash
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
    else dirs.map { d =>
      spark.read.parquet(d.toString)
        .select(lit(d.getName).as("metric"), col("ts"), col("value"))
    }.reduce(_ unionByName _)
  }
}
