package graft

import graft.core.{Archive, StorageSchema, StorageSchemas, AggMethod}
import graft.functions.Fnv1a
import graft.ops.CacheQueryCli
import graft.storage.{Catalog, MetricStore}
import graft.streaming.{CacheQueryServer, HotCache, Instrumentation}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Real round trips against the running cache-query HTTP service (the
  * reference's CacheManagementHandler + kenshin-cache-query client pair,
  * rurouni/protocols.py:65-84, bin/kenshin-cache-query.py).
  */
class CacheQueryServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val nowTs = 1411628779L
  var root: java.nio.file.Path = _
  var server: CacheQueryServer = _
  var port: Int = _
  var instr: Instrumentation = _

  override def beforeAll(): Unit = {
    root = java.nio.file.Files.createTempDirectory("graft-cqs")
    val schema = StorageSchema("cq", ".*".r, 1.0, AggMethod.Average,
      Seq(Archive(1, 600), Archive(3, 1200)), 600, 8)
    val store = new MetricStore(s"$root/cq", schema)
    val hot = new HotCache(store, cacheRetention = 300L, waitTime = 60L)
    val pts = (1 to 5).map(i => ("web.req", nowTs - i, i.toDouble, i.toLong))
      .toDF("metric", "ts", "value", "arrival")
    hot.processBatch(pts, nowTs)
    instr = new Instrumentation(hostname = "testhost")
    server = new CacheQueryServer(Seq(hot), port = 0, instr = Some(instr))
    port = server.start()
    startMulti()
  }

  override def afterAll(): Unit = {
    server.stop()
    multi.stop()
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  // ---- multi-schema fixture: five schemas (one per aggregation method)
  // sharing one catalog, each with a 1 s and a 10 s level; `mnow` is
  // aligned to the 10 s step and far from a day boundary
  val mnow = 1700000000L
  var multi: CacheQueryServer = _
  var multiPort: Int = _

  private def startMulti(): Unit = {
    val mroot = s"$root/multi"
    val schemas = AggMethod.all.map(a => StorageSchema(s"ms_${a.name}",
      s"^ms\\.${a.name}\\.".r, 1.0, a, Seq(Archive(1, 600), Archive(10, 7200)), 1000, 8))
    val catalog = new Catalog(mroot, new StorageSchemas(schemas))
    val hots = schemas.map(s => new HotCache(new MetricStore(mroot, s, Some(catalog)), 1000L, 0L))
    def rows(pts: (String, Long, Double)*) =
      pts.map { case (m, ts, v) => (m, ts, v, 1L) }.toDF("metric", "ts", "value", "arrival")
    def hotOf(a: AggMethod) = hots(AggMethod.all.indexOf(a))
    // level 0 (the stores' writes, not the cache's): two `.a` series in two
    // schemas, one sparse literal, tagged series in two schemas
    hotOf(AggMethod.Average).store.writeBatch(rows(("ms.average.a", mnow - 4, 1.0),
      ("ms.average.a", mnow - 3, 2.0), ("ms.average.cpu;dc=east", mnow - 4, 1.0)), mnow)
    hotOf(AggMethod.Sum).store.writeBatch(rows(("ms.sum.a", mnow - 4, 10.0),
      ("ms.sum.a", mnow - 3, 20.0), ("ms.sum.a", mnow - 2, 30.0), ("ms.sum.a", mnow - 1, 40.0),
      ("ms.sum.b", mnow - 4, 5.0), ("ms.sum.cpu;dc=east", mnow - 4, 2.0),
      ("ms.sum.cpu;dc=west", mnow - 4, 3.0)), mnow)
    // level 1 (older than level 0's 600 s) and hot rows over one of its
    // slots: the hot rows roll up with each schema's method and win
    hots.foreach { h =>
      val m = s"ms.${h.store.schema.aggregationMethod.name}.h"
      h.store.writeBatch(rows((m, mnow - 700, 100.0), (m, mnow - 690, 9.0)), mnow)
      h.processBatch(rows((m, mnow - 700, 1.0), (m, mnow - 699, 4.0), (m, mnow - 698, 2.0)), mnow)
    }
    hotOf(AggMethod.Average).processBatch(rows(("ms.average.a", mnow - 2, 3.0)), mnow)
    // registered, never written
    catalog.admit(rows(("ms.average.silent", mnow, 0.0), ("ms.sum.a", mnow, 0.0),
      ("ms.sum.b", mnow, 0.0), ("ms.sum.cpu;dc=east", mnow, 0.0),
      ("ms.sum.cpu;dc=west", mnow, 0.0), ("ms.average.cpu;dc=east", mnow, 0.0)), mnow).count()
    multi = new CacheQueryServer(hots, port = 0)
    multiPort = multi.start()
  }

  private def render(port: Int, target: String, from: Long, until: Long): String = {
    val t = java.net.URLEncoder.encode(target, "UTF-8")
    val in = java.net.URI.create(
      s"http://127.0.0.1:$port/render?target=$t&from=$from&until=$until&now=$mnow")
      .toURL.openStream()
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def series(name: String, points: (Long, Option[Double])*): String =
    points.map { case (ts, v) => s"[$ts,${v.fold("null")(_.toString)}]" }
      .mkString(s"""{"target":"$name","datapoints":[""", ",", "]}")

  test("client /query round trip returns the hot slots as JSON") {
    val body = CacheQueryCli.query("127.0.0.1", Seq(port), "web.req")
    assert(body.contains("\"metric\":\"web.req\""))
    assert(body.contains("\"step\":1"))
    // all five pre-flush points present, ascending
    val dps = (1 to 5).reverse.map(i => s"[${nowTs - i},${i.toDouble}]").mkString(",")
    assert(body.contains(s"[$dps]"), s"got: $body")
  }

  test("/query bumps the cacheQueries instrumentation counter") {
    instr.drain(nowTs) // reset whatever earlier tests accumulated
    CacheQueryCli.query("127.0.0.1", Seq(port), "web.req")
    CacheQueryCli.query("127.0.0.1", Seq(port), "web.req")
    val after = instr.drain(nowTs)
      .collectFirst { case (m, _, v, _) if m.endsWith("cacheQueries") => v }.get
    assert(after == 2.0)
  }

  test("client /fetch round trip serves the merged read path") {
    val body = CacheQueryCli.fetch("127.0.0.1", Seq(port), "web.req",
      nowTs - 5, nowTs, nowTs)
    assert(body.contains("\"metric\":\"web.req\""))
    // fetchMerged gap-fills to the full window: 5 slots, all with values
    assert((1 to 5).forall(i => body.contains(s"[${nowTs - i},${i.toDouble}]")), s"got: $body")
  }

  test("shard routing picks the owning instance's port (reference client table)") {
    val n = 8
    val shard = Fnv1a.shard("web.req", n)
    // dummies everywhere except the owning slot: connecting anywhere else fails
    val ports = Seq.tabulate(n)(i => if (i == shard) port else 1)
    val body = CacheQueryCli.query("127.0.0.1", ports, "web.req")
    assert(body.contains("\"metric\":\"web.req\""))
  }

  test("missing parameter yields HTTP 400 with a JSON error") {
    val e = intercept[java.io.IOException] {
      CacheQueryCli.fetch("127.0.0.1", Seq(port), "web.req", nowTs - 5, nowTs, nowTs)
      // direct bad request (no metric param)
      val conn = java.net.URI.create(s"http://127.0.0.1:$port/query").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      throw new java.io.IOException(s"HTTP $code")
    }
    assert(e.getMessage.contains("400"))
  }

  test("unknown metric returns an empty datapoint list, not an error") {
    val body = CacheQueryCli.query("127.0.0.1", Seq(port), "no.such.metric")
    assert(body.contains("\"datapoints\":[]"))
  }

  test("/find walks the namespace with globs and leaf/branch flags (metrics/find analog)") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(get("/find?query=*") == """{"nodes":[{"path":"web","leaf":false,"branch":true}]}""")
    assert(get("/find?query=web.*") ==
      """{"nodes":[{"path":"web.req","leaf":true,"branch":false}]}""")
    assert(get("/find?query=db.*") == """{"nodes":[]}""")
    // the CLI fans find across every instance and OR-merges nodes (the
    // same server listed twice stands in for two shard instances)
    assert(CacheQueryCli.find("127.0.0.1", Seq(port, port), "web.*") ==
      """{"nodes":[{"path":"web.req","leaf":true,"branch":false}]}""")
  }

  test("/metrics/expand returns node paths at the glob's depth, leavesOnly filters") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(get("/metrics/expand?query=*") == """{"results":["web"]}""")
    assert(get("/metrics/expand?query=*&leavesOnly=1") == """{"results":[]}""")
    assert(get("/metrics/expand?query=web.*") == """{"results":["web.req"]}""")
    assert(get("/metrics/expand?query=web.*&leavesOnly=1") == """{"results":["web.req"]}""")
  }

  test("/list discovers series by prefix, bounded by limit (metrics/find analog)") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    // no catalog in this fixture: discovery falls back to the hot view
    assert(get("/list") == """{"metrics":["web.req"]}""")
    assert(get("/list?prefix=web.") == """{"metrics":["web.req"]}""")
    assert(get("/list?prefix=db.") == """{"metrics":[]}""")
    assert(get("/list?prefix=web.&limit=0") == """{"metrics":[]}""")
  }

  test("/render evaluates a function target over the merged fetch (render analog)") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val target = java.net.URLEncoder.encode("scale(sumSeries(web.*),2)", "UTF-8")
    val body = get(s"/render?target=$target&from=${nowTs - 5}&until=$nowTs&now=$nowTs")
    assert(body.contains("\"target\":\"scale(sumSeries(web.*),2)\""), body)
    // hot points (nowTs-i -> i) scaled by 2, ascending
    for (i <- 1 to 5) assert(body.contains(s"[${nowTs - i},${(2 * i).toDouble}]"), body)
  }

  test("/render maxDataPoints consolidates to the point budget (literal path pushdown)") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    // literal target (no wildcards) takes the exact-metric fetch path;
    // span 5s / maxDataPoints 2 -> 3s tumbling buckets, consolidateBy avg:
    // (5), (4,3,2), (1) -> 5.0, 3.0, 1.0
    val body = get(s"/render?target=web.req&from=${nowTs - 5}&until=$nowTs&now=$nowTs" +
      "&maxDataPoints=2")
    assert(body.contains("\"target\":\"web.req\""), body)
    assert(body.contains(s"[${nowTs - 7},5.0]"), body)
    assert(body.contains(s"[${nowTs - 4},3.0]"), body)
    assert(body.contains(s"[${nowTs - 1},1.0]"), body)
    assert(!body.contains(s"[${nowTs - 2},"), body) // raw slots are gone
  }

  test("/render holtWinters bootstrap re-fetches pre-window history, then crops to the window") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def render(target: String): Map[Long, String] = {
      val body = get(s"/render?target=${java.net.URLEncoder.encode(target, "UTF-8")}" +
        s"&from=${nowTs - 3}&until=$nowTs&now=$nowTs")
      """\[(\d+),([^\]]+)\]""".r.findAllMatchIn(body)
        .map(m => m.group(1).toLong -> m.group(2)).toMap
    }
    // a "1min" bootstrap keeps the expanded fetch inside the 1s archive
    // (the default 7d would re-fetch through the coarser 3s level — the
    // same archive-selection graphite applies to its bootstrap re-fetch —
    // and the slot grids would legitimately differ)
    val boot = render("holtWintersForecast(web.req,\"1min\")")
    val cold = render("holtWintersForecast(web.req,\"0s\")") // no pre-window history
    // crop: nothing before the render window leaks out, with or without
    // the expanded fetch underneath
    assert(boot.nonEmpty && boot.keys.forall(_ >= nowTs - 3), boot)
    assert(cold.nonEmpty && cold.keys.forall(_ >= nowTs - 3), cold)
    // warm state: the window-head forecast is chained from the pre-window
    // points (5.0, 4.0) under bootstrap, but cold-start without them
    assert(boot(nowTs - 3) != cold(nowTs - 3),
      s"bootstrap must change the window-head forecast: $boot vs $cold")
  }

  test("/render accepts multiple targets, sharing one fetch and row budget") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val t1 = java.net.URLEncoder.encode("sumSeries(web.*)", "UTF-8")
    val t2 = java.net.URLEncoder.encode("scale(web.req,10)", "UTF-8")
    val body = get(s"/render?target=$t1&target=$t2&from=${nowTs - 5}&until=$nowTs&now=$nowTs")
    // both entries present, in request target order
    val i1 = body.indexOf("\"target\":\"sumSeries(web.*)\"")
    val i2 = body.indexOf("\"target\":\"scale(web.req,10)\"")
    assert(i1 >= 0 && i2 > i1, body)
    assert(body.contains(s"[${nowTs - 1},10.0]"), body)
    // maxRows is one budget across targets, and exhausting it is a loud
    // 400 — never a silently truncated render
    val cappedConn = java.net.URI.create(
      s"http://127.0.0.1:$port/render?target=$t1&target=$t2&from=${nowTs - 5}" +
        s"&until=$nowTs&now=$nowTs&maxRows=7")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try assert(cappedConn.getResponseCode == 400) finally cappedConn.disconnect()
    // one malformed target fails the whole request before evaluation
    val bad = java.net.URLEncoder.encode("scale(web.*", "UTF-8")
    val conn = java.net.URI.create(
      s"http://127.0.0.1:$port/render?target=$t1&target=$bad&from=0&until=10")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try assert(conn.getResponseCode == 400) finally conn.disconnect()
  }

  test("/render consolidateBy in the target overrides the avg consolidation default") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    // same budget as the maxDataPoints test (3s buckets (5),(4,3,2),(1)),
    // but the AST pins max: 5.0, 4.0, 1.0 instead of avg's 5.0, 3.0, 1.0
    val t = java.net.URLEncoder.encode("consolidateBy(web.req,\"max\")", "UTF-8")
    val body = get(s"/render?target=$t&from=${nowTs - 5}&until=$nowTs&now=$nowTs" +
      "&maxDataPoints=2")
    assert(body.contains("\"target\":\"consolidateBy(web.req,\\\"max\\\")\""), body)
    assert(body.contains(s"[${nowTs - 4},4.0]"), body)
    assert(!body.contains(s"[${nowTs - 4},3.0]"), body)
  }

  test("/render tag family: seriesByTag discovery + groupByTags over the wire") {
    // dedicated fixture: graphite-TAGGED names (tags ride inside the
    // metric string) would show up in the shared fixture's exact /find
    // and /list expectations
    val troot = java.nio.file.Files.createTempDirectory("graft-cqs-tags")
    val schema = StorageSchema("cqt", ".*".r, 1.0, AggMethod.Average,
      Seq(Archive(1, 600)), 600, 8)
    val store = new MetricStore(s"$troot/cqt", schema)
    val hot = new HotCache(store, cacheRetention = 300L, waitTime = 60L)
    val tagged = (1 to 3).flatMap(i => Seq(
      ("cpu;dc=east;host=a", nowTs - i, i.toDouble, i.toLong),
      ("cpu;dc=east;host=b", nowTs - i, i * 10.0, i.toLong),
      ("cpu;dc=west;host=a", nowTs - i, i * 100.0, i.toLong)))
      .toDF("metric", "ts", "value", "arrival")
    hot.processBatch(tagged, nowTs)
    val srv = new CacheQueryServer(Seq(hot), port = 0)
    val tport = srv.start()
    try {
      def get(path: String): String = {
        val in = java.net.URI.create(s"http://127.0.0.1:$tport$path").toURL.openStream()
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val t = java.net.URLEncoder.encode(
        "groupByTags(seriesByTag('name=cpu','dc=east'),'sum','dc')", "UTF-8")
      val body = get(s"/render?target=$t&from=${nowTs - 3}&until=$nowTs&now=$nowTs")
      // east hosts summed (i + 10i); west filtered out by the tag predicate
      assert(body.contains("\"target\":\"cpu;dc=east\""), body)
      for (i <- 1 to 3) assert(body.contains(s"[${nowTs - i},${i * 11.0}]"), body)
      assert(!body.contains("west"), body)
      // and the alias path: tag values as the display name
      val t2 = java.net.URLEncoder.encode(
        "aliasByTags(seriesByTag('name=cpu','dc=west'),'host','dc')", "UTF-8")
      val body2 = get(s"/render?target=$t2&from=${nowTs - 3}&until=$nowTs&now=$nowTs")
      assert(body2.contains("\"target\":\"a.west\""), body2)
      // tag API: findSeries honors every spec; autocomplete lists keys and
      // values, prefix-filtered, 'name' included as a tag
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      assert(get(s"/tags/findSeries?expr=${enc("name=cpu")}&expr=${enc("dc=east")}") ==
        """["cpu;dc=east;host=a","cpu;dc=east;host=b"]""")
      assert(get("/tags/autoComplete/tags") == """["dc","host","name"]""")
      assert(get("/tags/autoComplete/tags?tagPrefix=h") == """["host"]""")
      assert(get("/tags/autoComplete/values?tag=dc") == """["east","west"]""")
      assert(get(s"/tags/autoComplete/values?tag=host&expr=${enc("dc=west")}") ==
        """["a"]""")
      assert(get("/tags/autoComplete/values?tag=dc&valuePrefix=e") == """["east"]""")
    } finally {
      srv.stop()
      import scala.reflect.io.Directory
      new Directory(new java.io.File(troot.toString)).deleteRecursively()
      ()
    }
  }

  test("/render synthetic sources draw on the request window") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val t = java.net.URLEncoder.encode("constantLine(7.5)", "UTF-8")
    val body = get(s"/render?target=$t&from=${nowTs - 4}&until=$nowTs&now=$nowTs")
    assert(body.contains("\"target\":\"7.5\""), body)
    for (ts <- Seq(nowTs - 4, nowTs - 2, nowTs))
      assert(body.contains(s"[$ts,7.5]"), body)
  }

  test("from/until accept graphite relative time specs (-5, -1min, now)") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val abs = get(s"/fetch?metric=web.req&from=${nowTs - 5}&until=$nowTs&now=$nowTs")
    assert(get(s"/fetch?metric=web.req&from=-5&until=now&now=$nowTs") == abs)
    // a literal '+' URL-decodes to a space; the server still reads '+1'
    val absPlus = get(s"/fetch?metric=web.req&from=${nowTs - 6}&until=$nowTs&now=${nowTs - 1}")
    assert(get(s"/fetch?metric=web.req&from=-5&until=+1&now=${nowTs - 1}") == absPlus)
    val target = java.net.URLEncoder.encode("scale(web.req,2)", "UTF-8")
    val absR = get(s"/render?target=$target&from=${nowTs - 60}&until=$nowTs&now=$nowTs")
    assert(get(s"/render?target=$target&from=-1min&until=now&now=$nowTs") == absR)
    // a malformed relative spec is a client error
    val conn = java.net.URI.create(
      s"http://127.0.0.1:$port/fetch?metric=web.req&from=-1parsec&until=now&now=$nowTs")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try assert(conn.getResponseCode == 400) finally conn.disconnect()
  }

  test("requests serve in parallel: queries are not serialized behind a render") {
    def get(path: String): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val target = java.net.URLEncoder.encode("movingAverage(sumSeries(web.*),3)", "UTF-8")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 6).map { i =>
      val t = new Thread(() => results.add(
        if (i % 2 == 0) get(s"/render?target=$target&from=${nowTs - 5}&until=$nowTs&now=$nowTs")
        else get("/query?metric=web.req")))
      t.start(); t
    }
    threads.foreach(_.join(60000))
    assert(results.size == 6, s"only ${results.size}/6 concurrent requests completed")
    assert(results.asScala.forall(r => r.contains("datapoints") || r.contains("web.req")))
    // pin the pool itself: with no executor installed, HttpServer runs
    // every handler on its single dispatcher thread and this completion
    // test would still pass
    server.requestPool match {
      case tp: java.util.concurrent.ThreadPoolExecutor =>
        assert(tp.getMaximumPoolSize > 1, "request pool must allow parallel handlers")
      case other => fail(s"expected a thread pool executor, got $other")
    }
  }

  test("/render rejects malformed targets and unknown functions with 400") {
    def status(path: String): Int = {
      val conn = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try conn.getResponseCode finally conn.disconnect()
    }
    val bad = java.net.URLEncoder.encode("scale(web.*", "UTF-8")
    assert(status(s"/render?target=$bad&from=0&until=10") == 400)
    val unknown = java.net.URLEncoder.encode("frobnicate(web.*)", "UTF-8")
    assert(status(s"/render?target=$unknown&from=0&until=10") == 400)
  }

  test("/render reads only the schemas holding each path, across schemas") {
    val (a, b, c, d) = (mnow - 4, mnow - 3, mnow - 2, mnow - 1)
    // a glob spanning two schemas: level 0 with a hot slot in one of them
    assert(render(multiPort, "ms.*.a", a, mnow) == Seq(
      series("ms.average.a", a -> Some(1.0), b -> Some(2.0), c -> Some(3.0), d -> None),
      series("ms.sum.a", a -> Some(10.0), b -> Some(20.0), c -> Some(30.0), d -> Some(40.0))
    ).mkString("[", ",", "]"))
    assert(render(multiPort, "sumSeries(ms.*.a)", a, mnow) == Seq(series("sumSeries(ms.*.a)",
      a -> Some(11.0), b -> Some(22.0), c -> Some(33.0), d -> Some(40.0))).mkString("[", ",", "]"))
    // a literal path, and a registered series with no points (all null)
    assert(render(multiPort, "ms.sum.b", a, mnow) ==
      s"[${series("ms.sum.b", a -> Some(5.0), b -> None, c -> None, d -> None)}]")
    assert(render(multiPort, "ms.average.silent", a, mnow) ==
      s"[${series("ms.average.silent", a -> None, b -> None, c -> None, d -> None)}]")
    // a literal nobody registered is an empty render, not an error
    assert(render(multiPort, "ms.sum.nope", a, mnow) == "[]")
    // seriesByTag across schemas
    assert(render(multiPort, "seriesByTag(\"dc=east\")", a, mnow) == Seq(
      series("ms.average.cpu;dc=east", a -> Some(1.0), b -> None, c -> None, d -> None),
      series("ms.sum.cpu;dc=east", a -> Some(2.0), b -> None, c -> None, d -> None)
    ).mkString("[", ",", "]"))
  }

  test("/render of a level-1 window rolls hot rows up with each schema's method") {
    // hot rows 1, 4, 2 at mnow-700..-698 beat the level-1 value 100 in
    // their slot; the next slot is level 1's own 9.0
    val (s0, s1) = (mnow - 700, mnow - 690)
    assert(render(multiPort, "ms.*.h", s0, mnow - 680) == Seq(
      series("ms.average.h", s0 -> Some(7.0 / 3), s1 -> Some(9.0)),
      series("ms.last.h", s0 -> Some(2.0), s1 -> Some(9.0)),
      series("ms.max.h", s0 -> Some(4.0), s1 -> Some(9.0)),
      series("ms.min.h", s0 -> Some(1.0), s1 -> Some(9.0)),
      series("ms.sum.h", s0 -> Some(7.0), s1 -> Some(9.0))
    ).mkString("[", ",", "]"))
  }

  test("/render without a catalog reads every schema and names series from the data") {
    val nroot = s"$root/nocat"
    val hots = Seq("a", "b").map(n => new HotCache(new MetricStore(nroot, StorageSchema(
      s"nc_$n", s"^nc\\.$n\\.".r, 1.0, AggMethod.Average, Seq(Archive(1, 600)), 1000, 8)),
      1000L, 0L))
    hots.head.store.writeBatch(Seq(("nc.a.x", mnow - 2, 1.0, 1L))
      .toDF("metric", "ts", "value", "arrival"), mnow)
    hots(1).processBatch(Seq(("nc.b.y", mnow - 1, 2.0, 1L))
      .toDF("metric", "ts", "value", "arrival"), mnow)
    val srv = new CacheQueryServer(hots, port = 0)
    val p = srv.start()
    try {
      val (x, y) = (series("nc.a.x", (mnow - 2) -> Some(1.0), (mnow - 1) -> None),
        series("nc.b.y", (mnow - 2) -> None, (mnow - 1) -> Some(2.0)))
      assert(render(p, "nc.*.*", mnow - 2, mnow) == s"[$x,$y]")
      assert(render(p, "nc.b.y", mnow - 2, mnow) == s"[$y]")
    } finally srv.stop()
  }

  test("a literal-path render runs at most one job more than /fetch of the series") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    def fetch(): String = {
      val in = java.net.URI.create(s"http://127.0.0.1:$multiPort/fetch?metric=ms.sum.b" +
        s"&from=${mnow - 4}&until=$mnow&now=$mnow").toURL.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    // jobs a request runs, once the listener bus has seen every one end
    def jobsOf(request: => String): Int = {
      val (j0, e0) = (jobs.get, ended.get)
      request
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while ((jobs.get != ended.get || jobs.get != last) && System.currentTimeMillis() < deadline) {
        last = jobs.get
        Thread.sleep(200)
      }
      assert(jobs.get - j0 == ended.get - e0)
      jobs.get - j0
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      fetch(); render(multiPort, "ms.sum.b", mnow - 4, mnow) // warm the catalog cache
      val f = jobsOf(fetch())
      val r = jobsOf(render(multiPort, "ms.sum.b", mnow - 4, mnow))
      info(s"literal-path render: $r jobs, /fetch: $f jobs")
      assert(f > 0 && r <= f + 1, s"render ran $r jobs, fetch $f")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
