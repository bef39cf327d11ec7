package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.{AggMethod, Archive, StorageSchema}
import graft.storage.MetricStore
import graft.streaming.HotCache

/** Retention/cascade soak (round-8 verdict item #5): the reference's FULL
  * default cascade — 10s:12h, 60s:2d, 300s:7d, 15m:25w, 12h:5y
  * (conf/storage-schemas.conf.example:38-44) — driven through the live
  * batch loop (HotCache.processBatch → watermark flush → xff-gated
  * cascadeAuto → enforceRetention, the exact sequence Daemon.maintain runs
  * per micro-batch) over 10 simulated days of deterministic linear series,
  * then fetched at EVERY archive's selection window against the closed
  * form: an average-aggregated linear series value at level-k slot T is
  * exactly T + (step_k − 10)/2 (avg-of-avgs over full windows), so every
  * propagated point is checkable bit-exactly.
  *
  * Also pins the kenshin/storage.py:626-637 clamp parity: enforceRetention
  * (with its whole-day margin) never removes data a fetch can still reach,
  * and a from_time older than maxRetention clamps instead of failing.
  */
class SoakSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-soak") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  // the reference default cascade, verbatim
  private val archives = Seq(
    Archive(10, 4320),     // 10s:12h
    Archive(60, 2880),     // 60s:2d
    Archive(300, 2016),    // 300s:7d
    Archive(900, 16800),   // 15m:25w
    Archive(43200, 3650))  // 12h:5y
  private val schema = StorageSchema("soak", ".*".r, 0.2, AggMethod.Average,
    archives, cacheRetention = 620L, metricsPerFile = 8)

  // T0 aligned to the coarsest step AND the pday grid, so every level's
  // windows land on clean boundaries
  private val T0 = 1700006400L
  // 6h per batch: every point is younger than level 0's 12h retention at
  // write time, so the whole flow rides the fresh path (level-0 write →
  // cascade); the late/age-routed path has its own MetricStoreSpec pins
  private val BatchSpan = 21600L
  private val Batches = 40 // 10 simulated days
  private val SimEnd = T0 + Batches * BatchSpan

  /** Exact expected value of metric `m` at level-k slot T. */
  private def closed(m: String, k: Int, t: Long): Double = {
    val base = if (k == 0) t.toDouble else t + (archives(k).secondsPerPoint - 10) / 2.0
    if (m == "soak.a") base else base * 0.5
  }

  test("10 simulated days through the live loop: every archive fetches the closed form, TTL never eats fetchable data") {
    val store = new MetricStore(s"$root/store", schema)
    val hot = new HotCache(store, cacheRetention = 620L, waitTime = 30L)

    for (i <- 0 until Batches) {
      val lo = T0 + i * BatchSpan
      val simNow = lo + BatchSpan
      val pts = spark.range(lo / 10, (lo + BatchSpan) / 10)
        .select((col("id") * 10).as("ts"))
        .select(explode(array(
          struct(lit("soak.a").as("metric"), col("ts"),
            col("ts").cast("double").as("value")),
          struct(lit("soak.b").as("metric"), col("ts"),
            (col("ts") * 0.5).as("value")))).as("p"))
        .select(col("p.metric"), col("p.ts"), col("p.value"), col("p.ts").as("arrival"))
      hot.processBatch(pts, simNow)
      // Daemon.maintain's exact sequence, on a 12h cadence (the daemon's
      // interval gate skips ticks the same way; halves the soak's job count)
      if (i % 2 == 1) {
        store.cascadeAuto()
        store.enforceRetention(simNow)
      }
    }
    // daemon shutdown: drain the hot tail, one final maintenance tick
    hot.flushAll(SimEnd)
    store.cascadeAuto()
    store.enforceRetention(SimEnd)

    // ---- per-level fetch vs closed form --------------------------------
    // fromAge selects each level (first retention >= age); safety margin
    // keeps the assertion inside the span the un-forced xff gate has
    // certainly propagated (two coarse slots off the live tail)
    val fromAges = Seq(3600L, 13 * 3600L, 3 * 86400L, 8 * 86400L, 200 * 86400L)
    for ((age, k) <- fromAges.zipWithIndex) {
      val step = archives(k).secondsPerPoint
      val Some((level, df)) = store.fetch(None, SimEnd - age, SimEnd, SimEnd)
      assert(level == k, s"age $age selected level $level, wanted $k")
      val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      val safeEnd = SimEnd - 2L * math.max(archives(k).secondsPerPoint.toLong,
        if (k == 0) 0L else store.propagateTimeunit(k - 1))
      // inside the fully-propagated span every slot is present AND
      // bit-exact; the live tail may serve provisional partial aggregates
      // (the reference's coarse archives do the same until the window
      // completes), so it is exempt from the closed form
      var covered = 0
      rows.foreach { case (m, t, v) =>
        val inSpan = t >= math.max(SimEnd - age, T0) && t + step <= safeEnd
        if (inSpan) {
          assert(v.nonEmpty, s"level $k $m@$t: null inside the propagated span")
          v.foreach(x => assert(x == closed(m, k, t),
            s"level $k $m@$t: $x != ${closed(m, k, t)}"))
          covered += 1
        }
      }
      assert(covered > 0, s"level $k: no covered slots asserted")
    }

    // ---- TTL actually ran AND kept everything fetchable ----------------
    // level 0 holds 12h: after 10 days its table must have shrunk to the
    // retention window (+ the whole-day deletion margin) …
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root.toString), spark.sparkContext.hadoopConfiguration)
    val l0days = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/store/soak/level_0"))
      .map(_.getPath.getName).filter(_.startsWith("pday="))
      .map(_.stripPrefix("pday=").toLong)
    assert(l0days.min >= (SimEnd - archives(0).retention) / 86400L - 1,
      s"level 0 kept days older than its TTL margin: ${l0days.sorted.toSeq}")
    assert(l0days.length <= 3, s"level 0 did not TTL: ${l0days.sorted.toSeq}")
    // … while the freshest level-0 window still fetches exactly
    val Some((l0, df0)) = store.fetch(Some("soak.a"), SimEnd - 3600, SimEnd - 620, SimEnd)
    assert(l0 == 0)
    df0.where(col("value").isNotNull).collect().foreach(r =>
      assert(r.getDouble(2) == closed("soak.a", 0, r.getLong(1))))

    // ---- clamp parity (kenshin/storage.py:626-637) ---------------------
    // from_time 6 years back clamps to oldest_time and still answers from
    // the coarsest archive, bit-exactly
    val Some((l4, df4)) = store.fetch(Some("soak.a"),
      SimEnd - 6L * 365 * 86400, SimEnd, SimEnd)
    assert(l4 == 4)
    val nn = df4.where(col("value").isNotNull).collect()
    assert(nn.length >= 16, s"level 4 propagated only ${nn.length} slots")
    nn.filter(_.getLong(1) + 43200 <= SimEnd - 86400) // complete windows only
      .foreach(r => assert(r.getDouble(2) == closed("soak.a", 4, r.getLong(1))))
    // a window entirely outside retention is None, not an error
    assert(store.fetch(None, SimEnd - 7L * 365 * 86400,
      SimEnd - 6L * 365 * 86400, SimEnd).isEmpty)
  }

  test("fast-clock 6-year lane: level-3/4 TTL, the 7d/25w/5y selection boundaries, post-TTL fetches (r9)") {
    // The 10-day soak never reaches 15m:25w or 12h:5y retention. This lane
    // seeds each coarse level's OWN slot grid with the SAME closed form the
    // live cascade would have produced (avg-of-avgs telescopes exactly for
    // full windows: level-k slot T holds T + (step_k - 10)/2), overfills
    // each level past its retention (level 4 gets ~5.5 years), then runs
    // one live batch + the daemon's maintenance sequence at simulated
    // now = T0 + ~6y. The seeded dirty ranges make cascadeAuto re-propagate
    // coarse windows from the seeded finer levels — bit-identical to the
    // seeds by the telescoping, so a propagation bug shows up as a value
    // mismatch, not a silent overwrite.
    val store = new MetricStore(s"$root/fast", schema)
    val SimEnd6 = T0 + 2200L * 86400 // ~6 simulated years, pday+12h aligned
    def seed(level: Int, spanDays: Long): Unit = {
      val step = archives(level).secondsPerPoint.toLong
      val lo = SimEnd6 - spanDays * 86400
      val pts = spark.range(lo / step, SimEnd6 / step)
        .select((col("id") * step).as("ts"))
        .select(explode(array(
          struct(lit("soak.a").as("metric"), col("ts"),
            (col("ts") + lit((step - 10) / 2.0)).as("value")),
          struct(lit("soak.b").as("metric"), col("ts"),
            ((col("ts") + lit((step - 10) / 2.0)) * 0.5).as("value")))).as("p"))
        .select(col("p.metric"), col("p.ts"), col("p.value"), col("p.ts").as("arrival"))
      store.upsertSlots(level, pts, lo / step * step, (SimEnd6 / step - 1) * step)
    }
    seed(2, 9)     // 300s:7d   + 2 days over
    seed(3, 210)   // 15m:25w   + ~35 days over
    seed(4, 2000)  // 12h:5y    + ~175 days over
    // the live tail: one hour of 10s points through the hot loop, then the
    // daemon's exact maintenance sequence at the simulated now
    val hot = new HotCache(store, cacheRetention = 620L, waitTime = 30L)
    val tail = spark.range((SimEnd6 - 3600) / 10, SimEnd6 / 10)
      .select((col("id") * 10).as("ts"))
      .select(lit("soak.a").as("metric"), col("ts"),
        col("ts").cast("double").as("value"), col("ts").as("arrival"))
    hot.processBatch(tail, SimEnd6)
    hot.flushAll(SimEnd6)
    store.cascadeAuto()
    store.enforceRetention(SimEnd6)

    // ---- selection boundaries + closed form at every coarse level ------
    // age picks the first archive whose retention covers it: 6d -> level 2,
    // 170d -> level 3 (just inside 25w), 180d -> level 4 (just past 25w),
    // 1800d -> deep level 4
    val probes = Seq((6L * 86400, 2), (170L * 86400, 3),
      (180L * 86400, 4), (1800L * 86400, 4))
    for ((age, k) <- probes) {
      val step = archives(k).secondsPerPoint
      val Some((level, df)) = store.fetch(Some("soak.a"), SimEnd6 - age, SimEnd6, SimEnd6)
      assert(level == k, s"age ${age / 86400}d selected level $level, wanted $k")
      val safeEnd = SimEnd6 - 2L * math.max(step.toLong,
        if (k == 0) 0L else store.propagateTimeunit(k - 1))
      var covered = 0
      df.collect().foreach { r =>
        val (t, v) = (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
        if (t >= SimEnd6 - age && t + step <= safeEnd) {
          assert(v.nonEmpty, s"level $k soak.a@$t: null inside the seeded span")
          v.foreach(x => assert(x == closed("soak.a", k, t),
            s"level $k soak.a@$t: $x != ${closed("soak.a", k, t)}"))
          covered += 1
        }
      }
      assert(covered > 0, s"level $k: no covered slots asserted")
    }

    // ---- TTL ran at the coarse levels AND kept everything fetchable ----
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root.toString), spark.sparkContext.hadoopConfiguration)
    for ((k, seededDays) <- Seq((2, 9L), (3, 210L), (4, 2000L))) {
      val days = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/fast/soak/level_$k"))
        .map(_.getPath.getName).filter(_.startsWith("pday="))
        .map(_.stripPrefix("pday=").toLong)
      val retentionDays = archives(k).secondsPerPoint.toLong * archives(k).points / 86400
      assert(days.min >= (SimEnd6 - archives(k).secondsPerPoint.toLong *
        archives(k).points) / 86400 - 1,
        s"level $k kept days past its TTL margin: oldest ${days.min}")
      assert(days.min > (SimEnd6 - seededDays * 86400) / 86400,
        s"level $k TTL never deleted (seeded ${seededDays}d > retention ${retentionDays}d)")
    }
    // the oldest RETAINED level-4 window still serves the closed form
    val oldestSafe = SimEnd6 - archives(4).secondsPerPoint.toLong * archives(4).points + 2 * 86400
    val Some((lv, dfOld)) = store.fetch(Some("soak.a"), oldestSafe, oldestSafe + 10 * 86400, SimEnd6)
    assert(lv == 4)
    val oldRows = dfOld.where(col("value").isNotNull).collect()
    assert(oldRows.length >= 16, s"post-TTL oldest window served only ${oldRows.length} slots")
    oldRows.foreach(r => assert(r.getDouble(2) == closed("soak.a", 4, r.getLong(1))))

    // ---- clamp parity at the 6y depth ----------------------------------
    val Some((l4c, _)) = store.fetch(Some("soak.a"), SimEnd6 - 7L * 365 * 86400, SimEnd6, SimEnd6)
    assert(l4c == 4, "a 7-year from_time must clamp and answer from the coarsest archive")
    assert(store.fetch(None, SimEnd6 - 9L * 365 * 86400,
      SimEnd6 - 8L * 365 * 86400, SimEnd6).isEmpty)
  }
}
