package graft.streamops

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming incremental near-duplicate detection: as documents arrive, each
  * micro-batch is minhash-banded and probed against the accumulated band
  * store, so a new document is assigned to the cluster of the earlier
  * document(s) it collides with — the online counterpart of the batch
  * minhash-LSH + connected-components pipeline (`Dedup.minhashLshPairs` /
  * `clusterLabels`), for pipelines that dedup at ingest instead of
  * re-clustering the full corpus.
  *
  * Invariant: `doc_id` is monotone with arrival (ids assigned at ingest),
  * so "earlier document" and "smaller id" coincide — the same convention
  * that makes the batch operator's min-label canonical the earliest member.
  *
  * Semantics (standard online dedup): a new doc's canonical is the minimum
  * canonical among the earlier docs it collides with (chains resolved
  * WITHIN the batch by the same zero-shuffle CC rounds the batch operator
  * uses); docs that match nothing become their own canonical. Assignments
  * are immutable — a later doc that would bridge two existing clusters
  * joins the smaller-id one but does not retroactively merge them. That is
  * the online/offline tradeoff, and `DedupStreamSpec` pins it explicitly.
  *
  * State = two append-only parquet logs (bands, decisions):
  *  - per-batch writes are O(batch), never a state rewrite — at corpus
  *    scale the probe is an equi-join on (band, band_key) against a
  *    bucketed table, and the log compacts offline like any LSM level;
  *  - replay (at-least-once delivery) appends duplicate rows, but both
  *    logs are read through idempotent resolutions (DISTINCT for bands,
  *    min-canonical per doc for decisions), so a replayed batch converges
  *    to the identical assignment: its docs re-collide with their own
  *    banded rows and re-derive the same minimum.
  *
  * Kept beside its spec, outside the shipped jar: no daemon path and no
  * `SparkEntry` query runs it. The spec pins the operator's semantics as a
  * reference for a stream operator built on the same state pattern.
  */
final class DedupStream(val root: String, w: Int, bands: Int, rowsPerBand: Int,
                        bucketCap: Int = 100)(implicit spark: SparkSession) {

  private val bandsPath = s"$root/dedup_bands"
  private val decisionsPath = s"$root/dedup_decisions"

  private def nonEmptyDir(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    // resolve the FS from the path itself so a scheme-qualified root
    // (s3a://, hdfs://) works even when it isn't the default filesystem
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  private def readLog(path: String, schema: String): DataFrame =
    if (nonEmptyDir(path)) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** Accumulated band store (replay-safe view). */
  def bandStore(): DataFrame =
    readLog(bandsPath, "doc_id BIGINT, band INT, band_key STRING").distinct()

  /** Current assignments: one (doc_id, canonical_id) row per seen doc.
    * Min-canonical resolution makes replayed appends harmless.
    */
  def decisions(): DataFrame =
    readLog(decisionsPath, "doc_id BIGINT, canonical_id BIGINT")
      .groupBy(col("doc_id")).agg(min(col("canonical_id")).as("canonical_id"))

  /** Process one micro-batch of (doc_id, text) rows (foreachBatch body). */
  def processBatch(batch: DataFrame): Unit = {
    val newBands = Dedup.bandedSignatures(
      batch.select(col("doc_id"), col("text")), w, bands, rowsPerBand)
      .localCheckpoint() // the probe uses it thrice; cut the shingle lineage
    val state = bandStore()
    // Bounded probe surface: per touched bucket, keep only the EARLIEST
    // `bucketCap` doc_ids as probe targets. Pair expansion per new doc stays
    // <= bands * bucketCap (the batch operator's rationale), but unlike a
    // drop-the-whole-bucket cap, a hot bucket (boilerplate) keeps matching:
    // its earliest members ARE the cluster root, so later true duplicates
    // still resolve to the root canonical instead of silently becoming
    // their own. Occupancy is ranked over DISTINCT rows, so a replayed
    // batch (already in state AND in newBands) does not double-count.
    // Only buckets the batch touches are ranked — per-batch work is
    // O(touched buckets), not O(band log).
    val touched = newBands.select(col("band"), col("band_key")).distinct()
    val all = state.join(touched, Seq("band", "band_key"), "left_semi")
      .unionByName(newBands).distinct()
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_key")).orderBy(col("doc_id"))
    val kept = all.withColumn("__rk", row_number().over(rankW))
      .where(col("__rk") <= bucketCap).drop("__rk")
    // candidates: new doc vs any EARLIER doc (persisted, or smaller-id
    // within this batch) sharing a capped band bucket
    val pairs = newBands.as("n").join(kept.as("o"),
        col("n.band") === col("o.band") && col("n.band_key") === col("o.band_key") &&
          col("o.doc_id") < col("n.doc_id"))
      .select(col("o.doc_id").as("a"), col("n.doc_id").as("b"))
      .distinct()
    // matched earlier docs enter the batch-local component graph AS their
    // canonical, so chains across batches resolve to the root assignment
    val oldCanon = decisions()
    val canonPairs = pairs
      .join(oldCanon.withColumnRenamed("doc_id", "a"), Seq("a"), "left")
      .select(coalesce(col("canonical_id"), col("a")).as("a"), col("b"))
    // batch-bounded min-label rounds (diameter of a batch's collision graph
    // is tiny; 4 rounds matches the batch operator's clique-shaped evidence)
    val labels = Dedup.clusterLabels(canonPairs, iters = 4)
    val batchDocs = batch.select(col("doc_id")).distinct()
    val assigned = batchDocs
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("canonical_id"))
      // a replayed doc must keep its original assignment, not re-derive a
      // larger one after its cluster-mates' rows were appended
      .join(oldCanon.withColumnRenamed("canonical_id", "__prev"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("canonical_id"), coalesce(col("__prev"), col("canonical_id")))
          .as("canonical_id"))
    // append-only: O(batch) writes; the task-commit protocol keeps readers
    // off in-flight files, and replayed duplicates dissolve in the
    // read-side resolutions above. Bands land FIRST: an orphaned band row
    // (failure before the decisions append) is harmless under the DISTINCT
    // read, whereas a decision without bands would permanently remove that
    // doc's collision surface for future near-dups of it.
    newBands.write.mode("append").parquet(bandsPath)
    assigned.write.mode("append").parquet(decisionsPath)
  }

  /** Wire onto a stream of (doc_id, text): `attach(stream).start()`. */
  def attach(stream: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch) }
}
