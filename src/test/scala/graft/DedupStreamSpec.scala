package graft

import graft.streamops.DedupStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming incremental near-dup: new docs join the cluster of the earlier
  * docs they collide with, chains resolve within a batch, replay converges,
  * and the online/offline divergence (no retroactive merges) is pinned
  * explicitly.
  */
class DedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark = SparkTestBase.spark
  import spark.implicits._

  var root: java.nio.file.Path = _
  override def beforeAll(): Unit = { root = java.nio.file.Files.createTempDirectory("graft-ds") }
  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root.toString)).deleteRecursively()
    ()
  }

  // long repeated-phrase docs so 3-shingle minhash bands reliably collide
  private val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val baseB = "one two three four five six seven eight nine ten"
  private def near(base: String, tail: String) = s"$base $tail"

  private def decisionsMap(ds: DedupStream): Map[Long, Long] =
    ds.decisions().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a later near-dup is assigned to the earlier doc's cluster across batches") {
    val ds = new DedupStream(s"$root/d1", w = 3, bands = 4, rowsPerBand = 2)
    ds.processBatch(Seq((1L, baseA), (2L, baseB)).toDF("doc_id", "text"))
    val after1 = decisionsMap(ds)
    assert(after1 == Map(1L -> 1L, 2L -> 2L), s"batch1 docs are their own canonicals: $after1")
    // batch 2: doc 3 = exact copy of doc 1; doc 4 unrelated; doc 5 copies doc 2
    ds.processBatch(Seq(
      (3L, baseA), (4L, "unrelated words nothing shared here at all zz yy xx"),
      (5L, baseB)).toDF("doc_id", "text"))
    val after2 = decisionsMap(ds)
    assert(after2(3L) == 1L, s"doc 3 must join doc 1's cluster: $after2")
    assert(after2(5L) == 2L, s"doc 5 must join doc 2's cluster: $after2")
    assert(after2(4L) == 4L, s"doc 4 matches nothing: $after2")
    assert(after2(1L) == 1L && after2(2L) == 2L, "existing assignments are immutable")
  }

  test("within-batch chains resolve to the cross-batch root canonical") {
    val ds = new DedupStream(s"$root/d2", w = 3, bands = 4, rowsPerBand = 2)
    ds.processBatch(Seq((10L, baseA)).toDF("doc_id", "text"))
    // 11 collides with 10 (same text); 12 collides with 11 (same text) —
    // the batch-local CC rounds must hand BOTH the root canonical 10
    ds.processBatch(Seq((11L, baseA), (12L, baseA)).toDF("doc_id", "text"))
    val d = decisionsMap(ds)
    assert(d(11L) == 10L && d(12L) == 10L, s"chain must resolve to the root: $d")
  }

  test("replaying a batch converges to the identical assignments") {
    val ds = new DedupStream(s"$root/d3", w = 3, bands = 4, rowsPerBand = 2)
    ds.processBatch(Seq((1L, baseA), (2L, baseB)).toDF("doc_id", "text"))
    val batch2 = Seq((3L, baseA), (4L, near(baseB, "tail"))).toDF("doc_id", "text")
    ds.processBatch(batch2)
    val once = decisionsMap(ds)
    ds.processBatch(batch2) // at-least-once delivery
    assert(decisionsMap(ds) == once, "replay changed assignments")
    assert(ds.decisions().count() == 4, "one resolved row per doc")
  }

  test("online tradeoff pinned: a later bridge does not retroactively merge clusters") {
    val ds = new DedupStream(s"$root/d4", w = 3, bands = 4, rowsPerBand = 2)
    // two distinct clusters seeded first
    ds.processBatch(Seq((1L, baseA), (2L, baseB)).toDF("doc_id", "text"))
    // doc 3's text collides with BOTH (halves of each): it joins the
    // min-canonical cluster; docs 1 and 2 keep their assignments
    ds.processBatch(Seq((3L, s"$baseA $baseB")).toDF("doc_id", "text"))
    val d = decisionsMap(ds)
    assert(d(1L) == 1L && d(2L) == 2L, s"no retroactive merge: $d")
    assert(d(3L) == 1L || d(3L) == 2L, s"bridge doc joins an existing cluster: $d")
  }

  test("a hot bucket beyond bucketCap still matches new duplicates to the root") {
    val ds = new DedupStream(s"$root/d6", w = 3, bands = 4, rowsPerBand = 2, bucketCap = 2)
    ds.processBatch(Seq((1L, baseA), (2L, baseA), (3L, baseA)).toDF("doc_id", "text"))
    // bucket occupancy (3) now exceeds the cap (2): the probe surface is the
    // earliest 2 members, so a later duplicate still resolves to the root
    // instead of silently becoming its own canonical as the stream ages
    ds.processBatch(Seq((9L, baseA)).toDF("doc_id", "text"))
    val d = decisionsMap(ds)
    assert(d(9L) == 1L, s"hot-bucket duplicate must join the root cluster: $d")
    assert(d(2L) == 1L && d(3L) == 1L, s"within-batch members keep the root: $d")
  }

  test("end-to-end through a real MemoryStream micro-batch pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ds = new DedupStream(s"$root/d5", w = 3, bands = 4, rowsPerBand = 2)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = ds.attach(stream).option("checkpointLocation", s"$root/d5_ckpt").start()
    mem.addData((1L, baseA), (2L, baseB))
    q.processAllAvailable()
    mem.addData((3L, baseA))
    q.processAllAvailable()
    q.stop()
    val d = decisionsMap(ds)
    assert(d(3L) == 1L, s"streamed near-dup must join the earlier cluster: $d")
  }
}
