package graft.streaming

import graft.core.StorageSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest of the Graphite line protocol `"metric value timestamp"`
  * (reference: rurouni/protocols.py:31-42) and of JSON-array frames (the
  * pickle receiver, rurouni/protocols.py:45-62) re-based on Structured
  * Streaming: one stream of raw records -> one parse (malformed records
  * marked, never fatal) -> micro-batch -> route, admit, align, dedupe ->
  * hot cache and level upserts, with the flush boundary playing the
  * reference's cacheRetention + DEFAULT_WAIT_TIME flush-delay role
  * (rurouni/cache.py:259-262). The daemon feeds it from its spool journal.
  */
object Ingest {

  /** Frame cap matching the reference pickle receiver's MAX_LENGTH = 2<<20
    * (rurouni/protocols.py:46).
    */
  val MaxFrameBytes: Int = 2 << 20

  private val frameSchema: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL("array<struct<metric:string,ts:double,value:double>>")

  /** Parse raw protocol records (column `line`) into points
    * `(metric, ts epoch-seconds long, value double, arrival long)`. Malformed
    * records drop — the stream never dies on bad input, matching the
    * reference's drop+log.
    *
    * `arrival` (the LWW tiebreaker) is the raw event timestamp at nanosecond
    * scale — stable across retries and repartitions, unlike a generated id
    * whose high bits encode partition layout. Duplicates with identical raw
    * timestamps tie; the store then deterministically keeps the larger
    * value (TimeSeries.alignDedup).
    */
  def parseMixed(src: DataFrame): DataFrame = markMixed(src).where(col("metric").isNotNull)

  /** The one parse behind the stream and [[parseMixed]]: a row of `line`
    * starting with `[` (after trimming) is a JSON-array frame
    * `[{"metric":…,"ts":…,"value":…},…]`, any other row is one
    * `metric value timestamp` line. Output: one row
    * `(metric, ts, value, arrival)` per parsed point, plus one row with a
    * null `metric` per malformed line or dropped frame, so a batch's
    * points and its error count come out of the same scan. A frame that
    * does not parse, or is over [[MaxFrameBytes]], drops whole (reference:
    * "invalid pickle received … ignoring"); an invalid entry inside a valid
    * frame drops alone, without a mark (the reference's per-datapoint
    * try/except).
    *
    * Every conversion is a try_cast, never a plain cast: under ANSI mode
    * (Spark 4 default) a plain cast would kill the stream on the first
    * malformed number, and `get`, not `getItem`, reads the fields, since an
    * out-of-bounds `getItem` throws under ANSI mode even where the size
    * check would have ruled the line out.
    */
  private[graft] def markMixed(src: DataFrame): DataFrame = {
    // one projection per step: each intermediate is a column the next step
    // reads, so the split, the JSON parse and the casts run once per row
    // rather than once per expression that uses them
    val fields = src.select(trim(col("line")).as("text"))
      .select(col("text"), col("text").startsWith("[").as("frame"))
      .select(col("frame"),
        // an oversized frame drops unparsed
        when(col("frame") && length(col("text")) <= MaxFrameBytes,
          from_json(col("text"), frameSchema)).as("json"),
        when(!col("frame"), split(col("text"), "\\s+")).as("parts"))
      .select(col("frame"), col("json"), size(col("parts")).as("fields"),
        get(col("parts"), lit(0)).as("metric"),
        get(col("parts"), lit(1)).try_cast("double").as("value"),
        get(col("parts"), lit(2)).try_cast("double").as("ts"))
    val lineOk = col("fields") === 3 && col("value").isNotNull && col("ts").isNotNull &&
      // overflow class: parses as a double but can't convert to an
      // epoch-seconds long / ns arrival (NaN, Infinity, ms-epochs)
      tsCol(col("ts")).isNotNull && arrivalCol(col("ts")).isNotNull
    val linePoint = array(struct(col("metric"), col("ts"), col("value")))
    fields.select(col("frame"), col("json"), linePoint.as("line"),
        when(col("frame"), col("json").isNull).otherwise(!lineOk).as("bad"))
      // a bad row explodes to one null point: its mark
      .select(col("bad"),
        explode_outer(when(!col("bad"), when(col("frame"), col("json")).otherwise(col("line")))).as("p"))
      .select(col("bad"), col("p.metric").as("metric"), tsCol(col("p.ts")).as("ts"),
        col("p.value").as("value"), arrivalCol(col("p.ts")).as("arrival"))
      .where(col("bad") || (col("metric").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull && col("arrival").isNotNull))
      .select(col("metric"), col("ts"), col("value"), col("arrival"))
  }

  /** ts + arrival conversion, overflow-safe end to end: try_cast (never
    * plain cast) so a NaN/Infinity/out-of-range timestamp — e.g. an
    * ms-epoch where seconds were expected, which exceeds decimal(21,9) —
    * nulls out and drops as malformed instead of throwing under ANSI mode
    * and killing the stream. Decimal, not double, math for arrival:
    * ts*1e9 exceeds the 52-bit double mantissa and would round the
    * tiebreaker.
    */
  private def tsCol(rawTs: Column): Column = rawTs.try_cast("long")
  private def arrivalCol(rawTs: Column): Column =
    (rawTs.try_cast("decimal(21,9)") * lit(1000000000L)).try_cast("long")

  /** The one stream entry: ONE stream carrying both line-protocol records
    * and JSON-array frames, into the hot caches of every storage schema. The
    * reference daemon runs its line and pickle receivers side by side into
    * one cache (rurouni/service.py:31-45); funneling both through one
    * stream keeps the single-writer discipline — two streaming queries
    * would race their micro-batches on the hot tables. Points go to the
    * FIRST schema whose pattern matches their metric name — the
    * reference's per-point getSchema routing
    * (rurouni/storage.py:152-180,200-204); points matching NO schema drop
    * (the caller appends a catch-all default route for reference fidelity
    * — Daemon.main does).
    *
    * Each micro-batch is ONE plan over every route
    * ([[HotCache.processRouted]]): the batch parses once ([[markMixed]]),
    * with its malformed rows marked rather than counted by a second scan,
    * then routes, admits, aligns and resolves last-write-wins for every
    * schema in one cached plan. One aggregate job over that plan yields
    * every per-batch figure, and the writes it shows are needed follow: hot
    * appends, level upserts, hot swaps. A route idle this batch costs
    * nothing until the watermark passes the low bound of its hot slots. The
    * instrumentation counters read the aggregate, so attaching them costs
    * no job. Replayed micro-batches converge to the same state —
    * effectively-once, the reference's write-after-delay + idempotent slot
    * overwrite (rurouni/writer.py:33-45 + kenshin/storage.py:429-445).
    *
    * @param src streaming frame of raw records in a string column `line`
    * @param postBatch maintenance hook invoked after every micro-batch's
    *   routes have processed (same thread as the writes — the level tables
    *   have ONE writer, so cascade/TTL work must interleave here, never
    *   run from a side thread racing the flush). The daemon passes its
    *   cadence-gated cascade+retention tick.
    */
  def startMixedRouted(src: DataFrame, targets: Seq[(StorageSchema, HotCache)],
                       checkpoint: String,
                       nowFn: () => Long = () => System.currentTimeMillis() / 1000,
                       instr: Option[Instrumentation] = None,
                       postBatch: Option[Long => Unit] = None): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val counts = HotCache.processRouted(markMixed(batch), targets, nowFn())
        instr.foreach { ins =>
          ins.incr("metricReceived", counts.received.toDouble)
          ins.incr("errors", counts.malformed.toDouble)
          // post-admission count: throttled/mis-routed/dropped points are
          // NOT committed (the parse-side count would overstate)
          ins.incr("committedPoints", counts.committed.toDouble)
          ins.appendUpdateTime((System.nanoTime() - t0) / 1e9)
        }
        postBatch.foreach(f => f(nowFn()))
      }
      .start()

  /** First-match schema index over `metric`: `rlike("^(?:p)")` is exactly
    * `Pattern.lookingAt` — anchored at the start, unanchored at the end —
    * the semantics of StorageSchema.matches and of the reference's
    * `re.match`. Unmatched metrics get -1.
    */
  def routeIndex(schemas: Seq[StorageSchema]): Column =
    schemas.zipWithIndex.foldRight(lit(-1): Column) { case ((s, i), fallback) =>
      when(col("metric").rlike("^(?:" + s.pattern.pattern.pattern + ")"), lit(i))
        .otherwise(fallback)
    }
}
