package graft

import graft.core.{AggMethod, Archive, StorageSchema}
import graft.storage.{MetricStore, TimeSeries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Property-based invariants over randomized point batches (SURVEY §5 test
  * plan): fetch∘update identity, propagation ≡ the groupBy-window oracle,
  * and write idempotence. Driven by explicit ScalaCheck generators over a
  * handful of sampled cases (Spark jobs are too slow for 100-case
  * minimization runs; the seeds are fixed so failures replay).
  */
class PropertySpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val nowTs = 1700003600L
  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-prop") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  /** Random batch: up to 3 metrics, ts within the last 50s (level-0
    * retention), duplicate (metric, ts) collisions likely, distinct
    * arrivals so LWW is unambiguous.
    */
  val batchGen: Gen[List[(String, Long, Double, Long)]] = for {
    n <- Gen.chooseNum(1, 80)
    pts <- Gen.listOfN(n, for {
      m <- Gen.oneOf("m0", "m1", "m2")
      age <- Gen.chooseNum(1L, 50L)
      v <- Gen.chooseNum(-1000, 1000).map(_ / 10.0)
    } yield (m, nowTs - age, v))
  } yield pts.zipWithIndex.map { case ((m, t, v), i) => (m, t, v, i.toLong) }

  def sample(seed: Long): List[(String, Long, Double, Long)] =
    batchGen.apply(Gen.Parameters.default, Seed(seed)).get

  def schema(name: String, agg: AggMethod) =
    StorageSchema(name, ".*".r, 1.0, agg, Seq(Archive(1, 60), Archive(5, 60)), 600, 8)

  test("fetch∘update identity: every LWW-winning point fetches back exactly (5 seeds)") {
    (1L to 5L).foreach { seed =>
      val pts = sample(seed)
      val store = new MetricStore(s"$root/id-$seed", schema(s"id$seed", AggMethod.Last))
      store.writeBatch(pts.toDF("metric", "ts", "value", "arrival"), nowTs)
      val Some((level, df)) = store.fetch(None, nowTs - 50, nowTs, nowTs)
      assert(level == 0)
      val got = df.where(col("value").isNotNull)
        .as[(String, Long, Option[Double])].collect()
        .map { case (m, t, v) => (m, t) -> v.get }.toMap
      // in-memory LWW oracle: max arrival per (metric, ts) wins
      val expected = pts.groupBy(p => (p._1, p._2))
        .map { case (k, vs) => k -> vs.maxBy(_._4)._3 }
      assert(got == expected, s"seed $seed")
    }
  }

  test("propagation ≡ in-memory groupBy-window oracle for every agg method (5 seeds)") {
    val aggs = Seq(
      AggMethod.Average -> ((vs: Seq[Double]) => vs.sum / vs.size),
      AggMethod.Sum -> ((vs: Seq[Double]) => vs.sum),
      AggMethod.Max -> ((vs: Seq[Double]) => vs.max),
      AggMethod.Min -> ((vs: Seq[Double]) => vs.min))
    (1L to 5L).foreach { seed =>
      val pts = sample(seed)
      val lww = pts.groupBy(p => (p._1, p._2)).map { case (k, vs) => k -> vs.maxBy(_._4)._3 }
      aggs.zipWithIndex.foreach { case ((agg, oracle), ai) =>
        val store = new MetricStore(s"$root/pr-$seed-$ai", schema(s"pr$seed$ai", agg))
        store.writeBatch(pts.toDF("metric", "ts", "value", "arrival"), nowTs)
        store.cascade(nowTs - 50, nowTs, force = true)
        val got = store.readLevel(1, 0, nowTs + 86400)
          .as[(String, Long, Double)].collect()
          .map { case (m, t, v) => (m, t) -> v }.toMap
        val expected = lww.toSeq
          .groupBy { case ((m, t), _) => (m, t - java.lang.Math.floorMod(t, 5L)) }
          .map { case (k, vs) => k -> oracle(vs.map(_._2)) }
        assert(got.keySet == expected.keySet, s"seed $seed agg $agg")
        got.foreach { case (k, v) =>
          assert(math.abs(v - expected(k)) < 1e-9, s"seed $seed agg $agg slot $k")
        }
      }
    }
  }

  test("upsertSlots replay idempotence: upsert twice ≡ upsert once (3 seeds)") {
    (1L to 3L).foreach { seed =>
      // level 0 has a 1 s step, so the raw points are aligned already
      val raw = sample(seed)
      val (lo, hi) = (raw.map(_._2).min, raw.map(_._2).max)
      val pts = raw.toDF("metric", "ts", "value", "arrival")
      val once = new MetricStore(s"$root/up1-$seed", schema(s"u1$seed", AggMethod.Last))
      once.upsertSlots(0, pts, lo, hi)
      val twice = new MetricStore(s"$root/up2-$seed", schema(s"u2$seed", AggMethod.Last))
      twice.upsertSlots(0, pts, lo, hi)
      twice.upsertSlots(0, pts, lo, hi)
      val a = once.readLevel(0, 0, nowTs).as[(String, Long, Double)].collect().toSet
      val b = twice.readLevel(0, 0, nowTs).as[(String, Long, Double)].collect().toSet
      assert(a == b, s"seed $seed")
      // and raw storage is identical too (no duplicate accumulation)
      assert(spark.read.parquet(s"$root/up2-$seed/u2$seed/level_0").count() ==
        spark.read.parquet(s"$root/up1-$seed/u1$seed/level_0").count(), s"seed $seed")
    }
  }
}
