package kbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer counters gathered from Spark's own listener buses, with no
  * change to the program under test. One JVM-wide state object: the three
  * listener classes below feed it, and the benchmark reads it from the JSON
  * file named by the `kbench.trace.out` system property of the daemon JVM,
  * rewritten every 200 ms.
  */
object Trace {
  private val counters = mutable.LinkedHashMap.empty[String, AtomicLong]
  def add(name: String, v: Long): Unit =
    counters.synchronized(counters.getOrElseUpdate(name, new AtomicLong(0L))).addAndGet(v)
  def snapshot(): Map[String, Double] = {
    val base = counters.synchronized(counters.map { case (k, v) => k -> v.get.toDouble }.toMap)
    base + ("spark.codegen_ms" -> codegenMs)
  }

  /** Whole-stage codegen compile time: Spark records each Janino compile in
    * a histogram, so the total is count x mean (exact until the reservoir
    * starts sampling, an estimate after that).
    */
  private def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  def toJson(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")

  private var writerStarted = false
  /** Inside the daemon JVM: keep the sidecar file current, so the benchmark
    * can difference two reads taken around its timed region.
    */
  def startFileWriter(): Unit = synchronized {
    val out = System.getProperty("kbench.trace.out")
    if (out != null && !writerStarted) {
      writerStarted = true
      val t = new Thread(() => {
        while (true) { write(out); Thread.sleep(200L) }
      }, "kbench-trace-writer")
      t.setDaemon(true)
      t.start()
    }
  }
  def write(out: String): Unit = {
    val tmp = new java.io.File(out + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, toJson(snapshot()))
    tmp.renameTo(new java.io.File(out))
    ()
  }
}

/** Jobs, stages, tasks and task metrics. The driver gap is the part of each
  * job's wall time during which none of its tasks ran.
  */
class SparkTrace(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))
  Trace.startFileWriter()
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Trace.add("spark.jobs", 1)
    jobStart(e.jobId) = e.time
    jobTasks(e.jobId) = mutable.ArrayBuffer.empty
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("spark.executor_run_ms", m.executorRunTime)
      Trace.add("spark.executor_cpu_ms", m.executorCpuTime / 1000000L)
      Trace.add("spark.input_bytes", m.inputMetrics.bytesRead)
      Trace.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    synchronized {
      stageJob.get(e.stageId).flatMap(jobTasks.get).foreach(
        _ += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (t0 <- jobStart.remove(e.jobId); tasks <- jobTasks.remove(e.jobId)) {
      var covered = 0L
      var hi = t0
      tasks.sortBy(_._1).foreach { case (s, f) =>
        val s1 = math.max(s, hi)
        if (f > s1) covered += f - s1
        hi = math.max(hi, f)
      }
      Trace.add("spark.driver_gap_ms", math.max(0L, (e.time - t0) - covered))
    }
    stageJob.filterInPlace((_, j) => j != e.jobId)
    ()
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Option(System.getProperty("kbench.trace.out")).foreach(Trace.write)
}

/** Analysis + optimization + planning time of every executed query, from
  * the query's own planning tracker.
  */
class QeTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
}

/** Micro-batch phase times from Structured Streaming's progress reports. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (e.progress.numInputRows > 0 || ms("addBatch") > 0) {
      Trace.add("stream.batches", 1)
      Trace.add("stream.trigger_ms", ms("triggerExecution"))
      Trace.add("stream.add_batch_ms", ms("addBatch"))
      Trace.add("stream.offsets_ms", ms("latestOffset") + ms("getBatch"))
      Trace.add("stream.commit_ms", ms("walCommit") + ms("commitOffsets"))
      Trace.add("stream.input_rows", e.progress.numInputRows)
    }
  }
}

/** Minimal JSON writing for the sidecar files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** In-memory spans (name, start, end, parent), written as one JSON sidecar
  * when the run ends. Nesting follows the calling thread's open spans.
  */
final class Spans {
  private final case class S(id: Int, name: String, start: Long, var end: Long, parent: Int)
  private val all = scala.collection.mutable.ArrayBuffer.empty[S]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def time[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = S(all.length, name, System.nanoTime(), 0L, open.get.headOption.getOrElse(-1))
      all += s
      s
    }
    open.set(s.id :: open.get)
    try body
    finally {
      s.end = System.nanoTime()
      open.set(open.get.tail)
    }
  }

  /** Sum of durations in ms of the spans whose name starts with `prefix`. */
  def totalMs(prefix: String): Double =
    synchronized(all.filter(_.name.startsWith(prefix)).map(s => (s.end - s.start) / 1e6).sum)

  def write(path: String): Unit = {
    val body = synchronized(all.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}"""))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body.mkString("[\n", ",\n", "\n]\n"))
    ()
  }
}
