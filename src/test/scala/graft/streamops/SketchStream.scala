package graft.streamops

import graft.operators.Sketches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming distinct-count: an HLL register table maintained incrementally
  * over a stream. Each micro-batch's registers merge into the persisted
  * state via groupBy(max) — the sketch's merge operation — so:
  *  - state size is bounded (groups x 256 registers) no matter how much
  *    stream has passed, unlike exact distinct state;
  *  - replaying a micro-batch converges to the same registers (max is
  *    idempotent), giving an effectively-once estimate under
  *    at-least-once delivery;
  *  - the estimate is queryable between batches without stopping the
  *    stream (read the state table, run the estimator).
  *
  * State lives in a Parquet dir updated by staging+swap (same pattern as
  * MetricStore's partition swap); the register table is small by
  * construction, so the swap is metadata-cheap.
  *
  * Kept beside its spec, outside the shipped jar: no daemon path and no
  * `SparkEntry` query runs it. The spec pins the operator's semantics as a
  * reference for a stream operator built on the same state pattern.
  */
final class SketchStream(val root: String, groups: Seq[String])
                        (implicit spark: SparkSession) {

  private val statePath = s"$root/hll_registers"
  private val stagingPath = s"$root/.hll_staging"

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private val backupPath = s"$root/.hll_prev"

  private def nonEmptyDir(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** Falls back to the pre-swap backup if a crash landed between the state
    * rename steps — the sketch may lose at most the last batch, never the
    * accumulated registers.
    */
  private def currentStatePath: Option[String] =
    if (nonEmptyDir(statePath)) Some(statePath)
    else if (nonEmptyDir(backupPath)) Some(backupPath)
    else None

  def registers(): DataFrame =
    currentStatePath.map(spark.read.parquet(_)).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        groups.map(g => org.apache.spark.sql.types.StructField(g,
          org.apache.spark.sql.types.StringType)) ++ Seq(
          org.apache.spark.sql.types.StructField("reg", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("m_rank", org.apache.spark.sql.types.IntegerType)))))

  /** Merge one batch of raw rows into the state (foreachBatch body). */
  def mergeBatch(batch: DataFrame, value: Column): Unit = {
    val incoming = Sketches.hllRegisters(batch, groups, value)
    val merged = registers().unionByName(incoming)
      .groupBy(groups.map(col) :+ col("reg"): _*)
      .agg(max(col("m_rank")).as("m_rank"))
    merged.write.mode("overwrite").parquet(stagingPath)
    // backup-swap, never delete-then-rename: state -> backup, staging ->
    // state, drop backup. A crash at any point leaves either the new state
    // or the backup readable (currentStatePath falls back), so the sketch
    // can lose at most the current batch — which replay then re-merges.
    val dst = new org.apache.hadoop.fs.Path(statePath)
    val bak = new org.apache.hadoop.fs.Path(backupPath)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"rename $statePath -> $backupPath failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(stagingPath), dst))
      throw new java.io.IOException(s"rename $stagingPath -> $statePath failed")
    fs.delete(bak, true)
    ()
  }

  /** Current estimate per group. */
  def estimate(out: String): DataFrame =
    Sketches.hllEstimate(registers(), groups, out)

  /** Wire onto a stream: `attach(stream, col("x")).start()`. */
  def attach(stream: DataFrame, value: Column)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => mergeBatch(batch, value) }
}
