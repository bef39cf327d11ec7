package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine self-metrics re-ingested as `rurouni.*`-style series (reference:
  * rurouni/state/instrumentation.py:66-113 — per-interval counters drained
  * into the cache under `<prefix>.<host>.<instance>.<stat>`).
  *
  * Counters accumulate between drains and reset on each, exactly like the
  * reference's `stats.clear()`; the daemon re-ingests the drained points
  * through its own ingest stream (`Daemon.recordSelfMetrics`). The
  * StreamingQueryListener feeds batch-level numbers (rows/sec, batch
  * durations) from Structured Streaming progress events — the engine
  * monitors itself with itself.
  */
final class Instrumentation(prefix: String = "rurouni",
                            hostname: String = java.net.InetAddress.getLocalHost.getHostName.replace('.', '_'),
                            instance: String = "a") {

  private val stats = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val updateTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

  def incr(stat: String, by: Double = 1.0): Unit = synchronized { stats(stat) += by }
  def appendUpdateTime(seconds: Double): Unit = synchronized { updateTimes += seconds }

  def metricName(stat: String): String = s"$prefix.$hostname.$instance.$stat"

  /** Drain the interval's counters into self-metric points `(metric, ts,
    * value, arrival)` and reset — mirror of record_metrics
    * (rurouni/state/instrumentation.py:66-101; cpu/mem probes omitted:
    * Spark's own executor metrics cover process health).
    */
  def drain(now: Long): Seq[(String, Long, Double, Long)] = synchronized {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val committed = stats("committedPoints")
    if (updateTimes.nonEmpty) {
      out += ("avgUpdateTime" -> updateTimes.sum / updateTimes.size)
      if (committed > 0) out += ("pointsPerUpdate" -> committed / updateTimes.size)
    }
    out += ("updateOperations" -> updateTimes.size.toDouble)
    out += ("committedPoints" -> committed)
    Seq("creates", "droppedCreates", "errors", "cacheQueries", "metricReceived",
      "spoolFilesWritten")
      .foreach(s => out += (s -> stats(s)))
    stats.clear()
    updateTimes.clear()
    out.toSeq.map { case (stat, v) => (metricName(stat), now, v, now * 1000000000L) }
  }

  /** Structured Streaming hook: batch-level stats from progress events
    * (the reference's event observers, rurouni/state/events.py:8-37).
    */
  def listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      // timing only — metricReceived is counted in exactly one place
      // (Ingest.startMixedRouted's foreachBatch, from the batch's
      // aggregate): counting numInputRows here too would double-count
      // when both are wired, and pre-parse input rows disagree with
      // parsed points anyway
      Option(e.progress.durationMs.get("triggerExecution"))
        .foreach(ms => appendUpdateTime(ms.toDouble / 1000))
    }
  }
}
