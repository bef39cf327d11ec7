package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.serving.TargetEval
import graft.storage.SnapshotRead
import java.net.InetSocketAddress
import org.apache.spark.sql.functions._

/** The cache-query serving endpoint: the reference serves its in-memory hot
  * cache over a TCP length-prefixed-pickle protocol
  * (rurouni/protocols.py:65-84 CacheManagementHandler; client
  * bin/kenshin-cache-query.py); here the same process boundary is a small
  * HTTP/JSON service in the DRIVER over the HotCache views, so any
  * non-Spark reader (the web app in the reference deployment) can hit it.
  *
  * Endpoints:
  *  - `GET /query?metric=m` — pre-flush hot slots for one metric (the
  *    cache-query analog; returns only what the cache holds, like
  *    MetricCache.get);
  *  - `GET /fetch?metric=m&from=a&until=b&now=c` — the full merged
  *    hot ∪ historical read through HotCache.fetchMerged (the web-side
  *    merge the reference does in its graphite handler);
  *  - `GET /list?prefix=p&limit=n` — series discovery (the graphite-web
  *    `/metrics/find` analog): catalog-backed when the store has one
  *    (registered-but-silent series list too), else the distinct metrics
  *    of the hot view. The collect is `limit`-bounded (default 1000) —
  *    a catalog can hold millions of series at scale.
  *  - `GET /render?target=expr&from=a&until=b` — the graphite-web render
  *    analog: a function-language target (serving/TargetLang) evaluated
  *    distributed (serving/TargetEval) over the merged fetch.
  *
  * Response: `{"metric":"m","step":s,"datapoints":[[ts,value|null],...]}`
  * ascending by ts. Collecting to the driver is bounded: a hot window is
  * ≈ cacheRetention/step slots per metric, and a fetch is already
  * clamped + archive-selected before it gets here.
  *
  * Instrumentation: each /query bumps the `cacheQueries` counter, the
  * reference's cache_queries stat (rurouni/state/instrumentation.py).
  */
/** @param caches one HotCache per storage schema, in first-match route
  *   order (a single-schema daemon passes a one-element Seq); a request's
  *   metric is served by the first cache whose schema pattern matches it —
  *   the same routing the ingest side applies (Ingest.routeIndex).
  * @param bindInterface listen address — loopback by default (tests,
  *   co-located deployments); "0.0.0.0" to serve externally, the
  *   reference's CACHE_QUERY_INTERFACE (conf/rurouni.conf.example:10-12).
  */
final class CacheQueryServer(caches: Seq[HotCache], port: Int = 0,
                             instr: Option[Instrumentation] = None,
                             bindInterface: String = "127.0.0.1") {
  require(caches.nonEmpty, "CacheQueryServer needs at least one cache")

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  /** The installed request pool — exposed so tests can pin that requests
    * are NOT serialized on the dispatcher thread (a timing-based
    * concurrency assertion would flake; this one can't).
    */
  private[graft] def requestPool: java.util.concurrent.ExecutorService = pool

  /** First-match schema routing; a metric matching no schema serves from
    * the first cache (it holds no such metric, so the response is the same
    * empty series an unknown metric gets anywhere).
    */
  private def cacheFor(metric: String): HotCache =
    caches.find(_.store.schema.matches(metric)).getOrElse(caches.head)

  /** Start serving; returns the bound port (pass port=0 for ephemeral). */
  def start(): Int = synchronized {
    server = HttpServer.create(new InetSocketAddress(bindInterface, port), 0)
    // without an executor every request runs on the single dispatcher
    // thread — one long render would serialize behind it every cache
    // query and health probe. Spark is thread-safe for concurrent
    // actions, so a small pool serves them in parallel.
    pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.createContext("/query", handler(handleQuery))
    server.createContext("/fetch", handler(handleFetch))
    server.createContext("/list", handler(handleList))
    server.createContext("/find", handler(handleFind))
    server.createContext("/render", handlerSeq(handleRender))
    server.createContext("/metrics/expand", handler(handleExpand))
    server.createContext("/tags/findSeries", handlerSeq(handleTagFindSeries))
    server.createContext("/tags/autoComplete/tags", handlerSeq(handleTagNames))
    server.createContext("/tags/autoComplete/values", handlerSeq(handleTagValues))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) server.stop(0)
    if (pool != null) { pool.shutdown(); () }
  }

  private def handler(f: Map[String, String] => (Int, String)): HttpHandler =
    handlerSeq(pairs => f(pairs.toMap))

  /** Like [[handler]] but preserves repeated query parameters (graphite's
    * render API takes any number of `target=` params per request).
    */
  private def handlerSeq(f: Seq[(String, String)] => (Int, String)): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, body) = try f(params(ex)) catch {
          case e: IllegalArgumentException => (400, jsonErr(e.getMessage))
          case e: Exception => (500, jsonErr(e.toString))
        }
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }

  private def params(ex: HttpExchange): Seq[(String, String)] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.contains("=")).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }
  }

  private def need(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(s"missing parameter '$k'"))

  /** Graphite-style time parameter: epoch seconds, `now`, or a signed
    * relative offset in retention units (`-1h`, `-15min`, `+90`) resolved
    * against `now` — the graphite-web from/until grammar users type into
    * dashboards.
    */
  private def timeParam(p: Map[String, String], k: String, now: Long): Long = {
    // a literal '+' in a query string URL-decodes to a space, so a
    // leading space is the '+2d' form as real clients send it
    val v0 = need(p, k)
    val v = if (v0.startsWith(" ")) "+" + v0.trim else v0
    if (v == "now") now
    else if (v.startsWith("-") || v.startsWith("+")) {
      val sign = if (v.startsWith("-")) -1L else 1L
      val secs =
        try graft.core.RetentionParser.parseTimeStr(v.substring(1))
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"bad time '$v': ${e.getMessage}")
        }
      now + sign * secs
    } else
      try v.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad time '$v'")
      }
  }

  private def handleQuery(p: Map[String, String]): (Int, String) = {
    val metric = need(p, "metric")
    instr.foreach(_.incr("cacheQueries"))
    val hot = cacheFor(metric)
    val step = hot.store.archives.head.secondsPerPoint
    (200, jsonSeries(metric, step, hot.hotSeries(metric).map { case (ts, v) => (ts, Some(v)) }.toArray))
  }

  private def handleFetch(p: Map[String, String]): (Int, String) = {
    val metric = need(p, "metric")
    val now = p.get("now").map(_.toLong).getOrElse(System.currentTimeMillis() / 1000L)
    val from = timeParam(p, "from", now)
    val until = timeParam(p, "until", now)
    val hot = cacheFor(metric)
    def plan() = hot.fetchMerged(Some(metric), from, until, now)
    plan() match {
      case None => (200, jsonSeries(metric, 0, Array.empty))
      case Some((level, df)) =>
        val step = hot.store.archives(level).secondsPerPoint
        def series(d: org.apache.spark.sql.DataFrame) = d.select(col("ts"), col("value"))
        val rows = SnapshotRead.collect(series(df))(series(plan().get._2))
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        (200, jsonSeries(metric, step, rows))
    }
  }

  private def handleList(p: Map[String, String]): (Int, String) = {
    val prefix = p.getOrElse("prefix", "")
    // toInt's NumberFormatException is an IllegalArgumentException -> 400;
    // a negative limit must be the same class of client error, not a 500
    // out of Dataset.limit
    val limit = math.min(p.get("limit").map(_.toInt).getOrElse(1000), 100000)
    require(limit >= 0, s"limit must be >= 0, got $limit")
    // union across schemas: each cache contributes its own (disjoint)
    // series, each collect limit-bounded, then a merged global cut
    val names = caches.flatMap { hot =>
      val source = hot.store.catalog match {
        case Some(c) => c.metrics()
          .where(col("schema_name") === hot.store.schema.name)
          .select(col("metric"))
        case None => hot.hotView().select(col("metric")).distinct()
      }
      source
        .where(col("metric").startsWith(prefix))
        .orderBy(col("metric"))
        .limit(limit)
        .collect().map(_.getString(0))
    }.distinct.sorted.take(limit)
    (200, names.map(n => s""""${esc(n)}"""").mkString("""{"metrics":[""", ",", "]}"))
  }

  /** Glob-tree discovery (the graphite-web `metrics/find` analog; the
    * reference's link tree serves this role, rurouni/storage.py:20-22):
    * `GET /find?query=sys.*.cpu` ->
    * `{"nodes":[{"path":"sys.a.cpu","leaf":true,"branch":false},…]}`.
    */
  /** All known series names across every schema: the catalog where one
    * exists (one row per metric — the discovery index), else the hot view.
    */
  private def seriesSource(): org.apache.spark.sql.DataFrame =
    caches.map { hot =>
      hot.store.catalog match {
        case Some(c) => c.metrics()
          .where(col("schema_name") === hot.store.schema.name)
          .select(col("metric"))
        case None => hot.hotView().select(col("metric")).distinct()
      }
    }.reduce(_ unionByName _)

  private def handleFind(p: Map[String, String]): (Int, String) = {
    val query = need(p, "query")
    val limit = math.min(p.get("limit").map(_.toInt).getOrElse(1000), 100000)
    require(limit >= 0, s"limit must be >= 0, got $limit")
    val rows = graft.storage.SeriesFind.nodes(seriesSource(), query, limit).collect()
    val nodes = rows.map { r =>
      s"""{"path":"${esc(r.getString(0))}","leaf":${r.getBoolean(1)},"branch":${r.getBoolean(2)}}"""
    }
    (200, nodes.mkString("""{"nodes":[""", ",", "]}"))
  }

  /** `GET /metrics/expand?query=sys.*[&leavesOnly=1]` — expand a glob to
    * the matching node paths at the query's depth (graphite-web's third
    * discovery endpoint, alongside find and index): `{"results":[...]}`
    * sorted. Same bounded SeriesFind scan as /find, different shape.
    */
  private def handleExpand(p: Map[String, String]): (Int, String) = {
    val query = need(p, "query")
    val limit = math.min(p.get("limit").map(_.toInt).getOrElse(1000), 100000)
    require(limit >= 0, s"limit must be >= 0, got $limit")
    val leavesOnly = p.get("leavesOnly").exists(v => v == "1" || v == "true")
    val nodes = graft.storage.SeriesFind.nodes(seriesSource(), query, limit).collect()
    val paths = nodes.collect {
      case r if !leavesOnly || r.getBoolean(1) => r.getString(0)
    }
    (200, paths.map(s => s""""${esc(s)}"""").mkString("""{"results":[""", ",", "]}"))
  }

  // ---- graphite tag API (tags ride inside series names; serving/Tags) ----

  private def jsonList(items: Seq[String]): String =
    items.map(s => s""""${esc(s)}"""").mkString("[", ",", "]")

  private def tagLimit(p: Map[String, String]): Int = {
    val limit = math.min(p.get("limit").map(_.toInt).getOrElse(1000), 100000)
    require(limit >= 0, s"limit must be >= 0, got $limit")
    limit
  }

  /** `GET /tags/findSeries?expr=name=cpu&expr=dc=~east` — every series
    * matching ALL tag specs, the graphite tag-discovery endpoint. Returns
    * a bare JSON list of (tagged) series names, as graphite-web does.
    */
  private def handleTagFindSeries(pairs: Seq[(String, String)]): (Int, String) = {
    val p = pairs.toMap
    val exprs = pairs.collect { case ("expr", v) => v }
    require(exprs.nonEmpty, "missing parameter 'expr'")
    val names = seriesSource()
      .where(graft.serving.Tags.compile(col("metric"), exprs))
      .distinct().orderBy(col("metric")).limit(tagLimit(p))
      .collect().map(_.getString(0)).toSeq
    (200, jsonList(names))
  }

  /** `GET /tags/autoComplete/tags?tagPrefix=&expr=...` — tag KEYS in use
    * (optionally only among series matching the exprs), prefix-filtered:
    * the dashboard autocomplete source. `name` is a tag like any other.
    * The explode runs in-plan; only the deduplicated, limit-bounded key
    * list is collected.
    */
  private def handleTagNames(pairs: Seq[(String, String)]): (Int, String) = {
    val p = pairs.toMap
    val exprs = pairs.collect { case ("expr", v) => v }
    val prefix = p.getOrElse("tagPrefix", "")
    val base0 = seriesSource()
    val base = if (exprs.isEmpty) base0
               else base0.where(graft.serving.Tags.compile(col("metric"), exprs))
    // slice from element 2: the NAME segment (before the first ';') must
    // not contribute a key even if it contains '=' (legal in a plain name)
    val keys = base
      .select(explode(slice(split(col("metric"), ";"), 2, Int.MaxValue)).as("seg"))
      .where(col("seg").contains("="))
      .select(substring_index(col("seg"), "=", 1).as("tag"))
      .unionByName(base.limit(1).select(lit("name").as("tag")))
      .where(col("tag").startsWith(prefix))
      .distinct().orderBy(col("tag")).limit(tagLimit(p))
      .collect().map(_.getString(0)).toSeq
    (200, jsonList(keys))
  }

  /** `GET /tags/autoComplete/values?tag=dc&valuePrefix=&expr=...` — the
    * distinct VALUES a tag takes (among series matching the exprs, when
    * given), prefix-filtered — the other half of the autocomplete pair.
    */
  private def handleTagValues(pairs: Seq[(String, String)]): (Int, String) = {
    val p = pairs.toMap
    val tag = need(p, "tag")
    val exprs = pairs.collect { case ("expr", v) => v }
    val prefix = p.getOrElse("valuePrefix", "")
    val base0 = seriesSource()
    val base = if (exprs.isEmpty) base0
               else base0.where(graft.serving.Tags.compile(col("metric"), exprs))
    val values = base
      .select(graft.serving.Tags.tagValue(col("metric"), tag).as("v"))
      .where(col("v") =!= "" && col("v").startsWith(prefix))
      .distinct().orderBy(col("v")).limit(tagLimit(p))
      .collect().map(_.getString(0)).toSeq
    (200, jsonList(values))
  }

  /** Graphite render-API analog: parse each `target` parameter (the API
    * accepts any number per request, like graphite-web) as a function
    * expression (serving/TargetLang) and evaluate it (serving/TargetEval)
    * over the merged hot ∪ historical fetch — the full graphite-web
    * `/render?target=scale(sumSeries(a.*.b),0.5)&target=...&from=..&until=..`
    * path in one process. Response: `[{"target":"name",
    * "datapoints":[[ts,v|null],...]},...]` in request target order, each
    * target's series ordered by name then ts.
    *
    * Each fetched path reads only the schemas that hold a matching series
    * (see [[cachesFor]]), each through one [[HotCache.fetchMerged]] plan;
    * each target runs through [[SnapshotRead.collect]], so a flush that
    * swaps a table mid-render re-plans the target instead of serving the
    * swapped day as nulls.
    *
    * Bounded like /fetch: each schema's frame is clamped + archive-
    * selected before evaluation, and `maxRows` (default 100k slots — a
    * render window is range/step slots per output series) is ONE collect
    * budget shared across all targets in the request.
    */
  private def handleRender(pairs: Seq[(String, String)]): (Int, String) = {
    val p = pairs.toMap
    val targets = pairs.collect { case ("target", v) => v }
    require(targets.nonEmpty, "missing parameter 'target'")
    val now = p.get("now").map(_.toLong).getOrElse(System.currentTimeMillis() / 1000L)
    val from = timeParam(p, "from", now)
    val until = timeParam(p, "until", now)
    val maxRows = math.min(p.get("maxRows").map(_.toInt).getOrElse(100000), 1000000)
    require(maxRows > 0, s"maxRows must be > 0, got $maxRows")
    // parse every target up front: one malformed target fails the whole
    // request as a 400 before any evaluation work starts
    val exprs = targets.map(graft.serving.TargetLang.parse)
    val spark = caches.head.spark
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
    def merged(hots: Seq[HotCache], metricFilter: Option[String],
               extraSec: Long): org.apache.spark.sql.DataFrame = {
      val frames =
        hots.flatMap(_.fetchMerged(metricFilter, from - extraSec, until, now).map(_._2))
      if (frames.isEmpty) empty
      else frames.map(_.select(col("metric"), col("ts"), col("value")))
        .reduce(_ unionByName _)
    }
    // one merged frame per (schema set, history depth) shared by every
    // wildcard glob routed to that set (holtWinters bootstrap fetches
    // from-7d; everything else from); a literal path (no wildcard chars)
    // pushes the exact metric down into fetchMerged instead, so the level
    // read prunes to one series. A frame whose snapshot went stale is
    // dropped before the next plan, so a re-plan lists afresh.
    val mergedAll = scala.collection.mutable.Map.empty[(Seq[HotCache], Long),
      org.apache.spark.sql.DataFrame]
    val fetch: TargetEval.WindowedFetch = { (glob, extraSec) =>
      val hots = cachesFor(glob)
      if (isLiteral(glob)) merged(hots, Some(glob), extraSec)
      else TargetEval.globFilter(
        mergedAll.getOrElseUpdate((hots, extraSec), merged(hots, None, extraSec)), glob)
    }
    // graphite-web maxDataPoints: consolidate each series to the client's
    // point budget (bucket = ceil(span / maxDataPoints), consolidateBy
    // avg/sum/max/min/last, default avg) before anything is collected
    // the method priority is graphite's: a consolidateBy() call in the
    // target pins the method; else the query param; else avg
    def consolidated(evaled: org.apache.spark.sql.DataFrame,
                     expr: graft.serving.TExpr): org.apache.spark.sql.DataFrame =
      p.get("maxDataPoints").map(_.toInt) match {
        case Some(m) =>
          require(m > 0, s"maxDataPoints must be > 0, got $m")
          val bucket = math.max(1L, (math.max(1L, until - from) + m - 1) / m)
          if (bucket <= 1L) evaled
          else graft.serving.TargetEval.consolidate(
            evaled, bucket,
            graft.serving.TargetEval.consolidationMethod(expr)
              .orElse(p.get("consolidateBy")).getOrElse("avg"))
        case None => evaled
      }
    // evaluate targets in request order over the SAME shared merged frame
    // (mergedAll is built once); maxRows is one budget across all targets,
    // so N targets can't multiply the serving collect
    var budget = maxRows
    val entries = Vector.newBuilder[String]
    for (expr <- exprs) {
      // collect one row past the remaining budget: silently truncating a
      // render (or dropping later targets wholesale) would serve data
      // that LIES — exhaustion is a loud client error instead
      def plan(): org.apache.spark.sql.DataFrame = {
        mergedAll.filterInPlace((_, df) => !SnapshotRead.stale(df))
        consolidated(TargetEval.evalWindowed(expr, fetch, Some(from),
          window = Some((from, until))), expr)
          .orderBy(col("metric"), col("ts")).limit(budget + 1)
      }
      val rows = SnapshotRead.collect(plan())(plan())
      if (rows.length > budget)
        throw new IllegalArgumentException(
          s"render result exceeds maxRows=$maxRows across ${exprs.length} " +
            "target(s); raise maxRows, narrow the range, or use maxDataPoints")
      budget -= rows.length
      val byTarget = rows.foldLeft(Vector.empty[(String, StringBuilder)]) { (acc, r) =>
        val m = r.getString(0)
        val dp = s"[${r.getLong(1)},${if (r.isNullAt(2)) "null" else r.getDouble(2).toString}]"
        acc.lastOption match {
          case Some((last, sb)) if last == m => sb.append(',').append(dp); acc
          case _ => acc :+ (m -> new StringBuilder(dp))
        }
      }
      byTarget.foreach { case (m, sb) =>
        entries += s"""{"target":"${esc(m)}","datapoints":[${sb.toString}]}"""
      }
    }
    (200, entries.result().mkString("[", ",", "]"))
  }

  private def isLiteral(glob: String): Boolean = glob.forall(c => "*?[{".indexOf(c.toInt) < 0)

  /** The caches whose schemas hold a series `glob` names, in route order —
    * the reference opens only the file its index names for a series
    * (kenshin/storage.py:617-694, index rurouni/cache.py:69-97). A literal
    * path looks up its one catalog row; a glob runs one filter-and-distinct
    * over `schema_name` (a per-partition distinct, so no shuffle). A cache
    * whose store has no catalog is always read.
    */
  private def cachesFor(glob: String): Seq[HotCache] = {
    val held = caches.flatMap(_.store.catalog).distinct.map { c =>
      val hits =
        if (isLiteral(glob)) c.metrics().where(col("metric") === glob)
        else TargetEval.globFilter(c.metrics(), glob)
      val names = hits.select(col("schema_name")).as(org.apache.spark.sql.Encoders.STRING)
        .mapPartitions(_.toSet.iterator)(org.apache.spark.sql.Encoders.STRING)
        .collect().toSet
      c -> names
    }.toMap
    caches.filter(h => h.store.catalog.forall(c => held(c).contains(h.store.schema.name)))
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonSeries(metric: String, step: Int,
                         pts: Array[(Long, Option[Double])]): String = {
    val dp = pts.map { case (ts, v) => s"[$ts,${v.map(_.toString).getOrElse("null")}]" }
      .mkString("[", ",", "]")
    s"""{"metric":"${esc(metric)}","step":$step,"datapoints":$dp}"""
  }

  private def jsonErr(msg: String): String = s"""{"error":"${esc(msg)}"}"""
}
