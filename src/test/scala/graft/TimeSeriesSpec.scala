package graft

import graft.core.{AggMethod, Archive}
import graft.storage.TimeSeries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral ports of the reference storage tests onto the declarative
  * operators (reference: tests/test_storage.py — fixed now_ts=1411628779,
  * values val(j,i) = 10*j + i, agg=min).
  */
class TimeSeriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val nowTs = 1411628779L
  // two series as two metrics in long format, like the 2-tag reference file
  def genPoints(is: Range): Seq[(String, Long, Double, Long)] =
    is.flatMap { i =>
      Seq(("cpu0", nowTs - i, 0.0 + i, (nowTs - i) * 1000),
          ("cpu1", nowTs - i, 10.0 + i, (nowTs - i) * 1000))
    }

  def df(points: Seq[(String, Long, Double, Long)]) =
    points.toDF("metric", "ts", "value", "arrival")

  // the hot side of the merged read alone: rows rolled up to `step` slots
  def rollup(hot: org.apache.spark.sql.DataFrame, from: Long, until: Long, step: Int,
             agg: AggMethod) =
    TimeSeries.mergeSlots(Some(hot), df(Seq.empty), None, from, until, step, agg)

  test("alignTs floors to step (kenshin/storage.py:429)") {
    val out = df(genPoints(1 to 5))
      .select(TimeSeries.alignTs(col("ts"), 3).as("a"), col("ts"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == (r.getLong(1) / 3) * 3 && r.getLong(0) % 3 == 0))
  }

  test("alignDedup is last-write-wins per aligned slot (kenshin/storage.py:441-445)") {
    val pts = Seq(
      ("m", 100L, 1.0, 1L), ("m", 101L, 2.0, 2L), ("m", 102L, 3.0, 3L), // same 3s slot [99,102) for 100,101
      ("m", 100L, 9.0, 4L)) // late rewrite of ts=100, arrives last -> wins its slot
    val out = TimeSeries.alignDedup(df(pts), 3, col("arrival"))
      .select("metric", "ts", "value")
      .orderBy("ts").as[(String, Long, Double)].collect()
    assert(out.toSeq == Seq(("m", 99L, 9.0), ("m", 102L, 3.0)))
    // the winning row's arrival is carried for cross-batch LWW
    val arr = TimeSeries.alignDedup(df(pts), 3, col("arrival"))
      .orderBy("ts").select("arrival").as[Long].collect()
    assert(arr.toSeq == Seq(4L, 3L))
  }

  test("basic update+fetch identity at finest archive (tests/test_storage.py:73-85)") {
    val pts = genPoints(1 to 5)
    val deduped = TimeSeries.alignDedup(df(pts), 1, col("arrival"))
    val fetched = TimeSeries.mergeSlots(None, deduped, None, nowTs - 5, nowTs, 1, AggMethod.Min)
      .orderBy("metric", "ts").as[(String, Long, Option[Double])].collect()
    val expected = (1 to 5).reverse.map(i => ("cpu0", nowTs - i, Some(0.0 + i))) ++
      (1 to 5).reverse.map(i => ("cpu1", nowTs - i, Some(10.0 + i)))
    assert(fetched.toSeq == expected)
  }

  test("rollup min propagation (tests/test_storage.py:87-97)") {
    // 6 points, 3s archive, agg=min: windows aligned to floor(ts/3)*3
    val pts = genPoints(1 to 6)
    val rolled = rollup(df(pts), nowTs - 7, nowTs + 2, 3, AggMethod.Min)
      .orderBy("metric", "ts").as[(String, Long, Double)].collect()
    // expected: per metric, min over each 3s window of [now-6, now-1]
    val byWindow = (1 to 6).groupBy(i => ((nowTs - i) / 3) * 3)
    val exp = (for {
      (m, off) <- Seq(("cpu0", 0.0), ("cpu1", 10.0))
      (w, is) <- byWindow
    } yield (m, w, off + is.min)).sortBy(t => (t._1, t._2)) // min value = smallest i
    // reference golden: [(5.0, 15.0), (2.0, 12.0), null] (tests/test_storage.py:95)
    assert(rolled.toSeq == exp)
  }

  test("all five aggregation methods on 0..9 (tests/test_agg.py:16-39)") {
    val pts = (0 to 9).map(i => ("m", 100L + i, i.toDouble, i.toLong))
    def run(a: AggMethod): Double =
      rollup(df(pts), 100, 200, 100, a).as[(String, Long, Double)].collect().head._3
    assert(run(AggMethod.Average) == 4.5)
    assert(run(AggMethod.Sum) == 45.0)
    assert(run(AggMethod.Last) == 9.0)
    assert(run(AggMethod.Max) == 9.0)
    assert(run(AggMethod.Min) == 0.0)
  }

  test("last ignores null values (kenshin/storage.py:612-615)") {
    val pts = Seq(("m", 100L, 1.0, 1L), ("m", 101L, Double.NaN, 2L), ("m", 102L, 3.0, 3L))
      .toDF("metric", "ts", "value", "arrival")
      .withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
    val out = rollup(pts, 100, 200, 100, AggMethod.Last).as[(String, Long, Double)].collect()
    assert(out.head._3 == 3.0)
    // all-null window -> null
    val allNull = Seq(("m", 100L, 1.0, 1L)).toDF("metric", "ts", "value", "arrival")
      .withColumn("value", lit(null).cast("double"))
    val out2 = rollup(allNull, 100, 200, 100, AggMethod.Last)
      .select(col("value")).collect()
    assert(out2.head.isNullAt(0))
  }

  test("clamp window (kenshin/storage.py:626-637)") {
    assert(TimeSeries.clampWindow(100, 50, 200, 1000).isEmpty)         // inverted
    assert(TimeSeries.clampWindow(300, 400, 200, 1000).isEmpty)        // starts after now
    assert(TimeSeries.clampWindow(10, 20, 2000, 100).isEmpty)          // entirely too old
    assert(TimeSeries.clampWindow(0, 5000, 200, 100) == Some((100L, 200L))) // clamped both ends
  }

  test("archive selection picks finest covering archive (kenshin/storage.py:639-642)") {
    val archives = Seq(Archive(1, 6), Archive(3, 6))
    assert(TimeSeries.selectArchive(archives, nowTs - 5, nowTs) == 0)
    assert(TimeSeries.selectArchive(archives, nowTs - 7, nowTs) == 1)   // 7 > 6 -> coarser
    assert(TimeSeries.selectArchive(archives, nowTs - 100, nowTs) == 1) // beyond all -> coarsest
  }

  test("roundup (kenshin/utils.py:32-44)") {
    assert(TimeSeries.roundup(10, 3) == 12)
    assert(TimeSeries.roundup(12, 3) == 12)
    assert(TimeSeries.roundup(1, 100) == 100)
  }

  test("fetch empty metric yields all-null series (tests/test_storage.py:127-133)") {
    val empty = Seq(("m", 0L, 0.0)).toDF("metric", "ts", "value").where(col("ts") > 0)
    val spine = Seq("m").toDF("metric")
      .select(col("metric"), explode(sequence(lit(100L), lit(104L), lit(1L))).as("ts"))
    val out = spine.join(empty, Seq("metric", "ts"), "left")
      .select(col("value")).collect()
    assert(out.length == 5 && out.forall(_.isNullAt(0)))
  }

  test("age routing: old points land in coarser archives, too-old dropped (kenshin/storage.py:397-419)") {
    val archives = Seq(Archive(1, 6), Archive(3, 6))
    val pts = Seq(
      ("m", nowTs - 2, 1.0, 1L),   // within 6s -> level 0
      ("m", nowTs - 10, 2.0, 2L),  // within 18s -> level 1
      ("m", nowTs - 100, 3.0, 3L)) // older than all -> -1
    val routed = TimeSeries.ageRoute(df(pts), archives, nowTs)
      .select(col("value"), col("level")).as[(Double, Int)].collect().toMap
    assert(routed == Map(1.0 -> 0, 2.0 -> 1, 3.0 -> -1))
  }

  test("hot-wins cache merge (rurouni/cache.py:161-169)") {
    // level rows carry a superseded duplicate at 100 (arrival 1 loses to 2)
    val hist = df(Seq(("m", 100L, 7.0, 1L), ("m", 100L, 1.0, 2L), ("m", 101L, 2.0, 1L)))
    val hot = df(Seq(("m", 101L, 99.0, 1L), ("m", 102L, 3.0, 1L)))
    val merged = TimeSeries.mergeSlots(Some(hot), hist, None, 100L, 104L, 1, AggMethod.Average)
      .orderBy("ts").as[(String, Long, Option[Double])].collect()
    assert(merged.toSeq == Seq(("m", 100L, Some(1.0)), ("m", 101L, Some(99.0)),
      ("m", 102L, Some(3.0)), ("m", 103L, None)))
  }

  test("mergeSlots rolls hot rows up to the level step, hot wins its whole slot") {
    // level step 3: the slot at 99 has a level value and two hot rows, the
    // slot at 102 only a level value, the slot at 105 nothing
    val hist = df(Seq(("m", 99L, 50.0, 1L), ("m", 102L, 60.0, 1L)))
    val hot = df(Seq(("m", 100L, 4.0, 1L), ("m", 101L, 8.0, 1L)))
    val spine = Seq("m", "silent").toDF("metric")
    val merged = TimeSeries.mergeSlots(Some(hot), hist, Some(spine), 99L, 108L, 3, AggMethod.Sum)
      .orderBy("metric", "ts").as[(String, Long, Option[Double])].collect()
    assert(merged.toSeq == Seq(("m", 99L, Some(12.0)), ("m", 102L, Some(60.0)),
      ("m", 105L, None), ("silent", 99L, None), ("silent", 102L, None), ("silent", 105L, None)))
  }

  test("mergeSlots keeps only spine series and needs one shuffle") {
    val hist = df(Seq(("m", 99L, 50.0, 1L), ("other", 99L, 1.0, 1L)))
    val out = TimeSeries.mergeSlots(Some(df(Seq(("m", 100L, 4.0, 1L)))), hist,
      Some(Seq("m").toDF("metric")), 99L, 102L, 3, AggMethod.Average)
    // the plan before it runs (under AQE a run adds query-stage nodes)
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1, plan)
    assert(out.as[(String, Long, Option[Double])].collect().toSeq == Seq(("m", 99L, Some(4.0))))
  }
}
