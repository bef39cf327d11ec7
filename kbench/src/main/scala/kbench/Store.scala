package kbench

import graft.core.StorageSchemas
import graft.storage.{Catalog, MetricStore}
import graft.streaming.{HotCache, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The store set-up `graft.streaming.Daemon.main` builds from a
  * storage-schemas.conf (a `default` schema appended, one shared catalog,
  * one store and one hot cache per schema), rebuilt here so traced runs can
  * replay the daemon's calls in process. The daemon's own `waitTime` is
  * 10 s.
  */
final class Store(root: String, conf: String)(implicit spark: SparkSession) {
  val schemas: Seq[graft.core.StorageSchema] = {
    val loaded = StorageSchemas.load(conf).schemas
    if (loaded.exists(_.name == "default")) loaded else loaded :+ StorageSchemas.defaultSchema
  }
  val catalog = new Catalog(root, new StorageSchemas(schemas))
  val stores: Seq[MetricStore] = schemas.map(s => new MetricStore(root, s, Some(catalog)))
  val hots: Seq[HotCache] = stores.map(s => new HotCache(s, s.schema.cacheRetention, 10L))

  /** Points `(metric, ts, value)` from a headerless CSV, with the parse
    * path's `arrival` (the raw timestamp in ns).
    */
  def readPoints(path: String): DataFrame =
    spark.read.schema("metric string, ts long, value double").csv(path)
      .withColumn("arrival", col("ts") * lit(1000000000L))

  /** Split points first-match across the schemas, as the ingest does. */
  def routed(points: DataFrame): Seq[DataFrame] = {
    val r = points.withColumn("__route", Ingest.routeIndex(schemas)).cache()
    schemas.indices.map(i => r.where(col("__route") === i).drop("__route"))
  }
}

object Store {
  def session(master: String, partitions: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(master).appName("kbench")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cores: String = Runtime.getRuntime.availableProcessors.toString
}
