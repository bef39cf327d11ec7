package graft.streaming

import graft.core.StorageSchema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest of the Graphite line protocol `"metric value timestamp"`
  * (reference: rurouni/protocols.py:31-42) re-based on Structured Streaming:
  * socket/Kafka/file source -> parse (malformed lines dropped, not fatal) ->
  * watermarked micro-batch -> align/dedupe -> level-0 append, with the
  * watermark playing the reference's cacheRetention + DEFAULT_WAIT_TIME
  * flush-delay role (rurouni/cache.py:259-262).
  */
object Ingest {

  /** Parse raw protocol lines into points. Bad lines (wrong field count,
    * non-numeric value/ts) drop — the stream never dies on malformed input,
    * matching the reference's drop+log.
    * Output: (metric, ts epoch-seconds long, value double, arrival long).
    *
    * `arrival` (the LWW tiebreaker) is the raw event timestamp at nanosecond
    * scale — stable across retries and repartitions, unlike a generated id
    * whose high bits encode partition layout. Duplicates with identical raw
    * timestamps tie; the store then deterministically keeps the larger
    * value (TimeSeries.alignDedup). A Kafka source should pass its offset
    * here instead for true write-order LWW.
    */
  def parseLines(lines: DataFrame): DataFrame = valid(markLines(lines))

  /** Count of malformed lines in a batch (the reference logs+counts them;
    * we surface the same signal for instrumentation).
    */
  def malformedCount(lines: DataFrame): Long = malformed(markLines(lines))

  /** Frame cap matching the reference pickle receiver's MAX_LENGTH = 2<<20
    * (rurouni/protocols.py:46).
    */
  val MaxFrameBytes: Int = 2 << 20

  private val frameSchema: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL("array<struct<metric:string,ts:double,value:double>>")

  /** Framed-batch source (the pickle receiver analog,
    * rurouni/protocols.py:45-62): each row's `frame` column carries one
    * batch of points as a JSON array `[{"metric":…,"ts":…,"value":…},…]`
    * — Python pickle is not JVM-portable, so the Kafka payload format is
    * JSON/Avro with identical framing semantics. Invalid frames are
    * ignored whole (reference: "invalid pickle received … ignoring");
    * within a valid frame, entries with missing/bad fields drop
    * individually (the reference's per-datapoint try/except). Frames over
    * MaxFrameBytes are rejected.
    */
  def parseFrames(frames: DataFrame): DataFrame = valid(markFrames(frames))

  /** Count of dropped frames (unparseable or oversized) in a batch. */
  def malformedFrameCount(frames: DataFrame): Long = malformed(markFrames(frames))

  private def isFrame: Column = trim(col("line")).startsWith("[")

  /** Lines parse as line protocol; `[`-prefixed rows parse as JSON frames. */
  def parseMixed(src: DataFrame): DataFrame = valid(markMixed(src))

  def malformedMixedCount(src: DataFrame): Long = malformed(markMixed(src))

  private def markLines(lines: DataFrame): DataFrame = marked(lines, col("line"), lit(false))
  private def markFrames(frames: DataFrame): DataFrame = marked(frames, col("frame"), lit(true))
  private def markMixed(src: DataFrame): DataFrame = marked(src, trim(col("line")), isFrame)

  private def valid(marked: DataFrame): DataFrame = marked.where(col("metric").isNotNull)
  private def malformed(marked: DataFrame): Long = marked.where(col("metric").isNull).count()

  /** The one parse behind every protocol: each input row is a line or,
    * where `frame` holds, a JSON-array frame. Output: one row
    * `(metric, ts, value, arrival)` per parsed point, plus one row with a
    * null `metric` per malformed line or dropped frame, so a batch's
    * points and its error count come out of the same scan. An invalid
    * entry inside a valid frame drops without a mark, as in the reference.
    *
    * Every conversion is a try_cast, never a plain cast: under ANSI mode
    * (Spark 4 default) a plain cast would kill the stream on the first
    * malformed number, and `get`, not `getItem`, reads the fields, since an
    * out-of-bounds `getItem` throws under ANSI mode even where the size
    * check would have ruled the line out.
    */
  private def marked(src: DataFrame, text: Column, frame: Column): DataFrame = {
    // one projection per step: each intermediate is a column the next step
    // reads, so the split, the JSON parse and the casts run once per row
    // rather than once per expression that uses them
    val fields = src.select(frame.as("frame"), text.as("text"))
      .select(col("frame"),
        // an oversized frame drops unparsed
        when(col("frame") && length(col("text")) <= MaxFrameBytes,
          from_json(col("text"), frameSchema)).as("json"),
        when(!col("frame"), split(trim(col("text")), "\\s+")).as("parts"))
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

  /** Start a streaming ingest from a line DataFrame (socket source in dev,
    * Kafka in prod — both yield a string column we alias to `line`) into the
    * hot cache: parse -> hot-cache merge -> watermark-gated idempotent
    * flush to level 0 (HotCache.processBatch). Replayed micro-batches
    * converge to the same state — effectively-once, the reference's
    * write-after-delay + idempotent slot overwrite
    * (rurouni/writer.py:33-45 + kenshin/storage.py:429-445).
    */
  def start(lines: DataFrame, hot: HotCache, checkpoint: String,
            nowFn: () => Long = () => System.currentTimeMillis() / 1000,
            instr: Option[Instrumentation] = None)(implicit spark: SparkSession): StreamingQuery =
    startWithRouted(lines, Seq((hot.store.schema, hot)), checkpoint, nowFn, instr, markLines)

  /** Framed-batch streaming ingest (the pickle listener analog): same hot
    * path, frames instead of lines.
    */
  def startFrames(frames: DataFrame, hot: HotCache, checkpoint: String,
                  nowFn: () => Long = () => System.currentTimeMillis() / 1000,
                  instr: Option[Instrumentation] = None)(implicit spark: SparkSession): StreamingQuery =
    startWithRouted(frames, Seq((hot.store.schema, hot)), checkpoint, nowFn, instr, markFrames)

  /** Mixed-protocol ingest: ONE stream carrying both newline line-protocol
    * records and JSON-array frames (a row starting with `[` is a frame).
    * The reference daemon runs its line and pickle receivers side by side
    * into one cache (rurouni/service.py:31-45); funneling both through one
    * stream keeps the single-writer discipline — two streaming queries
    * would race their micro-batches on the hot table.
    */
  def startMixed(src: DataFrame, hot: HotCache, checkpoint: String,
                 nowFn: () => Long = () => System.currentTimeMillis() / 1000,
                 instr: Option[Instrumentation] = None)(implicit spark: SparkSession): StreamingQuery =
    startWithRouted(src, Seq((hot.store.schema, hot)), checkpoint, nowFn, instr, markMixed)

  /** Mixed-protocol ingest routed over MULTIPLE storage schemas: one stream,
    * one writer, points assigned to the FIRST schema whose pattern matches
    * their metric name — the reference's per-point getSchema routing
    * (rurouni/storage.py:152-180,200-204) as a single codegen'd CASE over
    * the batch. Points matching NO schema are dropped (the caller appends a
    * catch-all default route for reference fidelity — Daemon.main does).
    *
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
                       postBatch: Option[Long => Unit] = None)(implicit spark: SparkSession): StreamingQuery =
    startWithRouted(src, targets, checkpoint, nowFn, instr, markMixed, postBatch)

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

  /** The stream behind every `start*`: each micro-batch is ONE plan over
    * every route ([[HotCache.processRouted]]): the batch parses once, with
    * its malformed rows marked rather than counted by a second scan, then
    * routes, admits, aligns and resolves last-write-wins for every schema
    * in one cached plan. One aggregate job over that plan yields every
    * per-batch figure, and the writes it shows are needed follow: hot
    * appends, level upserts, hot swaps. A route idle this batch costs
    * nothing until the watermark passes the low bound of its hot slots. The
    * instrumentation counters read the aggregate, so attaching them costs
    * no job.
    */
  private def startWithRouted(src: DataFrame, targets: Seq[(StorageSchema, HotCache)],
                              checkpoint: String,
                              nowFn: () => Long, instr: Option[Instrumentation],
                              parse: DataFrame => DataFrame,
                              postBatch: Option[Long => Unit] = None): StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val counts = HotCache.processRouted(parse(batch), targets, nowFn())
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
}
