package graft.streamops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization with custom keyed state through
  * `flatMapGroupsWithState` (a sibling of the incremental dedup/sketch
  * streams in this package). The batch twin is
  * `Queries.tsSessionWindow` (`session_window`); this operator produces the
  * SAME sessions from an unbounded stream, emitting each one exactly when
  * it can no longer grow.
  *
  * Semantics: events for one key belong to one session while consecutive
  * gaps are <= `gapUs`. A session closes two ways:
  *  - a later event for the same key arrives past the gap (closed in-line),
  *  - the event-time watermark passes session_end + gap with no successor
  *    (closed by EventTimeTimeout — the state for quiet keys is ALWAYS
  *    reclaimed, which is what bounds state size on a 100 TB keyspace).
  *
  * In-batch events are sorted by (us, seq) before folding, so arrival order
  * inside a micro-batch never changes the result; `seq` must make the order
  * total (the same tiebreak discipline as scd2/rate). Late events older
  * than the watermark are dropped by the stream before they reach state —
  * the documented online tradeoff, mirroring DedupStream's
  * no-retroactive-merge stance.
  *
  * Kept beside its spec, outside the shipped jar: no daemon path and no
  * `SparkEntry` query runs it. The spec pins the operator's semantics as a
  * reference for a stream operator built on the same state pattern.
  */
object SessionStream {

  case class Ev(key: String, us: Long, seq: Long)
  case class OpenSession(start: Long, last: Long, n: Long)
  case class Session(key: String, session_start: Long, session_end: Long,
                     n_events: Long, closed_by: String)

  /** Fold sorted events into (closed sessions, final open session). */
  private[graft] def fold(open: Option[OpenSession], evs: Seq[Ev], gapUs: Long)
      : (Seq[Session], Option[OpenSession]) = {
    var cur = open
    val closed = Seq.newBuilder[Session]
    for (e <- evs) {
      cur match {
        case Some(s) if e.us - s.last <= gapUs =>
          cur = Some(s.copy(last = math.max(s.last, e.us), n = s.n + 1))
        case Some(s) =>
          closed += Session(e.key, s.start, s.last, s.n, "gap")
          cur = Some(OpenSession(e.us, e.us, 1))
        case None =>
          cur = Some(OpenSession(e.us, e.us, 1))
      }
    }
    (closed.result(), cur)
  }

  /** Wire the stateful sessionizer over a stream of [[Ev]]. `watermark` is
    * the lateness bound (e.g. "10 seconds"); timeout state is set to
    * last + gap so quiet keys close and release state as the watermark
    * advances.
    */
  def sessionize(events: Dataset[Ev], gapUs: Long, watermark: String)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ets", timestamp_micros(col("us")))
      .withWatermark("ets", watermark)
      .as[(String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[(String, Long, Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session can't grow
            val s = state.get
            state.remove()
            Iterator.single(Session(key, s.start, s.last, s.n, "timeout"))
          } else {
            val evs = rows.map(r => Ev(r._1, r._2, r._3)).toSeq
              .sortBy(e => (e.us, e.seq))
            val (closed, open) = fold(state.getOption, evs, gapUs)
            open.foreach { s =>
              state.update(s)
              // EventTimeTimeout fires when the watermark passes this
              state.setTimeoutTimestamp((s.last + gapUs) / 1000 + 1)
            }
            closed.iterator
          }
      }
  }

  /** Convenience runner used by specs and callers: memory-sink the closed
    * sessions under `queryName`.
    */
  def start(spark: SparkSession, events: Dataset[Ev], gapUs: Long,
            watermark: String, queryName: String) =
    sessionize(events, gapUs, watermark)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
}
