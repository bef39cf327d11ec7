package graft.storage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Snapshot reader for LIVE parquet tables — directories that receive
  * appends (`_temporary` staging from an in-flight micro-batch) or
  * partition swaps (hot-table drain, level compaction) while serving
  * reads are in flight.
  *
  * `spark.read.parquet(dir)` lists the directory at plan time: under
  * concurrent load the listing can stat a staging file that vanishes
  * mid-listing (local FS surfaces it as "Error while running command to
  * get file permissions", found by RenderLoadSpec's concurrent render/
  * ingest mix), and a drain swap can delete a listed file before the scan
  * reads it. This reader instead:
  *
  *  - pins the scan to an EXPLICIT snapshot of committed data files
  *    (leading `_`/`.` names — `_temporary`, `_SUCCESS`, staging — are
  *    never listed), with the base-path option preserving the pday
  *    partition column, the same pinning the catalog cache uses;
  *  - supplies the schema up front, so no footer read can race a swap;
  *  - lists under the table's swap monitor and records the table's swap
  *    generation in the scan's options, so [[stale]] can tell after a run
  *    whether a swap moved any listed file, and [[collect]] re-plans such
  *    a read. A frame planned before a swap and run after it would
  *    otherwise skip the swapped day's files (`ignoreMissingFiles`, set
  *    for a drain's deletes) and gap-fill the whole day as nulls;
  *  - retries a listing that raced a rename, and treats a vanished
  *    directory as empty (a table mid-creation serves as empty, exactly
  *    like the hasData guard).
  *
  * Writer-side reads (upsert/propagate/compact) do NOT come through here:
  * they run under the single-writer contract, where the plain directory
  * read is already safe and the extra listing would be waste.
  */
object SnapshotRead {

  /** Reader option carrying `<swap generation>\t<table dir>` of a snapshot. */
  private val GenerationOption = "graftsnapshot"

  /** Plans a serving read may take before [[collect]] gives up. */
  private val MaxPlans = 4

  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Read `dir` from a committed-file snapshot; `schema` must include the
    * partition column (pday) when the table is partitioned. Returns an
    * empty frame of `schema` when no committed file exists.
    */
  def parquet(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val fs = FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    def ls(p: Path): Array[FileStatus] = {
      var attempt = 0
      while (true) {
        try return fs.listStatus(p).filter(s => visible(s.getPath.getName))
        catch {
          case _: java.io.FileNotFoundException => return Array.empty
          case _: Exception if attempt < 3 =>
            // back off across the swap rename window (non-FNF transient:
            // local FS permission-probe failure on a vanishing file) —
            // same shape and rationale as MetricStore.hasData.ls
            try Thread.sleep(10L << attempt)
            catch {
              case _: InterruptedException =>
                // interrupted mid-listing: restore the flag and stop
                // backing off — one final attempt, then the underlying FS
                // error (not InterruptedException) propagates
                Thread.currentThread().interrupt()
                attempt = 2
            }
            attempt += 1
        }
      }
      Array.empty // unreachable
    }
    val (files, generation) = MetricStore.swapMonitor(dir).synchronized {
      val top = ls(new Path(dir))
      (top.filterNot(_.isDirectory).map(_.getPath.toString) ++
        top.filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .flatMap(d => ls(d.getPath).filterNot(_.isDirectory).map(_.getPath.toString)),
        MetricStore.swapGeneration(dir))
    }
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read
        .option("basePath", dir)
        .option("ignoreMissingFiles", "true")
        .option(GenerationOption, s"$generation\t$dir")
        .schema(schema)
        .parquet(files.toIndexedSeq: _*)
  }

  /** True when a table `df` snapshots has been swapped since it was listed:
    * a run of `df` that overlapped the swap may have skipped moved files.
    * Driver-side only (a walk of the analyzed plan), no job.
    */
  def stale(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.options.get(GenerationOption).exists { v =>
              val Array(generation, dir) = v.split("\t", 2)
              MetricStore.swapGeneration(dir) != generation.toLong
            }
          case _ => false
        }
      case _ => false
    }

  /** The serving collect: run `first`, and while a swap ran between a
    * listing and the end of the run, run a fresh plan from `replan` — so
    * every swapped day reads wholly as before or wholly as after the swap.
    * A run during which no swap ran costs no extra job. Fails after
    * [[MaxPlans]] plans rather than serve a read with a day missing.
    */
  def collect(first: DataFrame)(replan: => DataFrame): Array[org.apache.spark.sql.Row] = {
    var df = first
    var plans = 1
    while (true) {
      val rows = df.collect()
      if (!stale(df)) return rows
      if (plans >= MaxPlans)
        throw new IllegalStateException(
          s"serving read overlapped a partition swap on each of $plans plans")
      df = replan
      plans += 1
    }
    Array.empty // unreachable
  }
}
