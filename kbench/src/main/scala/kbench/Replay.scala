package kbench

import graft.serving.{TargetEval, TargetLang}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Traced runs only: feed a daemon lane's generated input through the
  * program's public functions in this process, one span per call, after
  * the daemon has stopped.
  *
  *  - `ingest <root> <conf> <series.csv> <lines.txt> <now> <out>`: register
  *    the series (not timed), then one micro-batch of every line:
  *    `Ingest.parseMixed`, and per schema `Catalog.admit` and
  *    `HotCache.processBatch`; then `HotCache.flush` as the watermark will
  *    see it once the hot window has passed, `MetricStore.cascadeAuto` and
  *    `MetricStore.enforceRetention`.
  *  - `render <root> <conf> <requests.tsv> <now> <out>`: every request of
  *    one dashboard round the way `CacheQueryServer` serves it:
  *    `TargetLang.parse`, `HotCache.fetchMerged`, `TargetEval.evalWindowed`
  *    and the collect.
  *
  * Writes `<out>/spans.json` and prints one JSON line of per-layer totals.
  */
object Replay {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = Store.session("local[*]", Store.cores)
    val spans = new Spans
    val (root, conf, out) = (args(1), args(2), args.last)
    val st = new Store(root, conf)
    val extra = args(0) match {
      case "ingest" => ingest(st, args(3), args(4), args(5).toLong, spans)
      case "render" => render(st, args(3), args(4).toLong, spans)
    }
    spans.write(s"$out/spans.json")
    val layers = Seq("ingest.parse", "catalog.admit", "hot.process_batch", "hot.flush",
      "store.cascade", "store.retention", "serving.parse", "hot.fetch_merged",
      "serving.eval", "serving.collect")
    println(Trace.toJson(layers.map(l => s"${l}_ms" -> spans.totalMs(l + ":")).toMap ++ extra))
    spark.stop()
  }

  private def ingest(st: Store, series: String, linesPath: String, now: Long,
                     spans: Spans)(implicit spark: SparkSession): Map[String, Double] = {
    st.catalog.admit(st.readPoints(series), now).count()
    import spark.implicits._
    val raw = scala.io.Source.fromFile(linesPath, "UTF-8")
    val lines = try raw.getLines().toVector finally raw.close()
    val batch = lines.toDS().toDF("line").cache()
    batch.count()
    val points = spans.time("ingest.parse:")(Ingest.parseMixed(batch).cache().tap(_.count()))
    val routed = st.routed(points)
    st.hots.zip(routed).zipWithIndex.foreach { case ((h, p), i) =>
      spans.time(s"catalog.admit:$i")(st.catalog.admit(p, now).count())
      spans.time(s"hot.process_batch:$i")(h.processBatch(p, now))
    }
    st.hots.zipWithIndex.foreach { case (h, i) =>
      spans.time(s"hot.flush:$i")(h.flush(now + h.cacheRetention + h.waitTime + 60L))
    }
    st.stores.zipWithIndex.foreach { case (s, i) =>
      spans.time(s"store.cascade:$i")(s.cascadeAuto())
      spans.time(s"store.retention:$i")(s.enforceRetention(now))
    }
    Map.empty
  }

  /** Requests as tab-separated `kind target from until` lines, kind
    * `render` or `fetch`. Returns the in-process time of each request as
    * `inproc:<target>`, which the benchmark subtracts from client latency.
    */
  private def render(st: Store, reqPath: String, now: Long,
                     spans: Spans)(implicit spark: SparkSession): Map[String, Double] = {
    val raw = scala.io.Source.fromFile(reqPath, "UTF-8")
    val reqs = try raw.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector finally raw.close()
    def merged(filter: Option[String], from: Long, until: Long): DataFrame =
      st.hots.flatMap(h => spans.time("hot.fetch_merged:")(h.fetchMerged(filter, from, until, now)).map(_._2))
        .map(_.select(col("metric"), col("ts"), col("value"))).reduce(_ unionByName _)
    val totals = reqs.map { case Array(kind, target, fromS, untilS) =>
      val (from, until) = (fromS.toLong, untilS.toLong)
      val t0 = System.nanoTime()
      spans.time(s"request:$kind") {
        if (kind == "fetch") spans.time("serving.collect:")(merged(Some(target), from, until).collect())
        else {
          val expr = spans.time("serving.parse:")(TargetLang.parse(target))
          val all = scala.collection.mutable.Map.empty[Long, DataFrame]
          val fetch: TargetEval.WindowedFetch = { (glob, extraSec) =>
            if (glob.forall(c => "*?[{".indexOf(c.toInt) < 0)) merged(Some(glob), from - extraSec, until)
            else TargetEval.globFilter(all.getOrElseUpdate(extraSec, merged(None, from - extraSec, until)), glob)
          }
          val df = spans.time("serving.eval:")(
            TargetEval.evalWindowed(expr, fetch, Some(from), window = Some((from, until))))
          spans.time("serving.collect:")(df.orderBy(col("metric"), col("ts")).collect())
        }
      }
      s"inproc:$target" -> (System.nanoTime() - t0) / 1e6
    }
    totals.toMap
  }
}
