package graft

import graft.streamops.SketchStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming HLL: incremental register merge across micro-batches equals the
  * batch sketch of the union, state stays bounded, and replay is idempotent.
  */
class SketchStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-ss") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  test("incremental merges equal the batch sketch of the union; replay is a no-op") {
    val ss = new SketchStream(s"$root/s1", Seq("g"))
    val b1 = (1 to 400).map(i => ("g", s"u$i")).toDF("g", "x")
    val b2 = (300 to 700).map(i => ("g", s"u$i")).toDF("g", "x")
    ss.mergeBatch(b1, col("x"))
    ss.mergeBatch(b2, col("x"))
    val streamed = ss.estimate("est").head().getDouble(1)
    val batch = graft.operators.Sketches.hllEstimate(
      graft.operators.Sketches.hllRegisters(b1.union(b2), Seq("g"), col("x")),
      Seq("g"), "est").head().getDouble(1)
    assert(streamed == batch, "incremental merge diverged from batch sketch")
    // replay b2 (at-least-once delivery): registers already dominate -> same state
    ss.mergeBatch(b2, col("x"))
    assert(ss.estimate("est").head().getDouble(1) == batch, "replay changed the estimate")
    // bounded state: never more than m registers per group
    assert(ss.registers().count() <= graft.operators.Sketches.M)
  }

  test("end-to-end through a real MemoryStream micro-batch pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ss = new SketchStream(s"$root/s2", Seq("g"))
    val mem = MemoryStream[String]
    val stream = mem.toDF().select(lit("g").as("g"), col("value").as("x"))
    val q = ss.attach(stream, col("x"))
      .option("checkpointLocation", s"$root/s2_ckpt").start()
    mem.addData((1 to 300).map(i => s"v$i"): _*)
    q.processAllAvailable()
    mem.addData((200 to 500).map(i => s"v$i"): _*)
    q.processAllAvailable()
    q.stop()
    val est = ss.estimate("est").head().getDouble(1)
    assert(math.abs(est - 500) / 500.0 < 0.15, s"streamed estimate $est for 500 distinct")
  }
}
