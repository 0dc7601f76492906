package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException
import org.apache.spark.sql.types.StringType
import graft.sources.{Ingest, SnapshotTable}

/** Ingest-pipeline semantics (reference A2-A5/A15): idempotent replay,
  * in-batch dedup, quota rejection, delete rewrite, and the catalog's
  * commits under concurrent writers and readers. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Long, Long, Long)*) =
    rows.toDF("chunk_id", "dataset_id", "block_start", "block_end", "size_bytes")

  private def tmpCatalog(): String =
    Files.createTempDirectory("graft_cat").resolve("catalog").toString

  /** A catalog on the `mock://` object store ([[MockObjectStoreFs]]). */
  private def mockCatalog(): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[MockObjectStoreFs].getName)
    conf.set("fs.mock.impl.disable.cache", "true")
    "mock://" + tmpCatalog()
  }

  /** Test-name suffix and catalog factory per store. */
  private val stores: Seq[(String, () => String)] =
    Seq("" -> (() => tmpCatalog()), " (mock://)" -> (() => mockCatalog()))

  /** The directory that holds the catalog: a gate on it also holds a
    * write beside the catalog, not only one inside it. */
  private def parentOf(path: String): String =
    new org.apache.hadoop.fs.Path(path).getParent.toString

  private def lost[A](res: Either[Throwable, A]): Boolean =
    res.swap.exists(_.isInstanceOf[ConcurrentModificationException])

  test("fresh ingest persists all; replay ingests nothing (idempotent)") {
    val path = tmpCatalog()
    val b = batch(("c1", "D1", 0, 100, 10), ("c2", "D1", 100, 200, 20))
    val r1 = Ingest.ingest(spark, path, b)
    assert(r1.ingested == 2 && r1.deduped == 0 && r1.rejected.isEmpty)
    val r2 = Ingest.ingest(spark, path, b) // replay — A4 Entry::Vacant gate
    assert(r2.ingested == 0 && r2.deduped == 2)
    assert(Ingest.readCatalog(spark, path).count() == 2)
  }

  test("in-batch duplicate ids collapse to one row") {
    val path = tmpCatalog()
    val b = batch(("c1", "D1", 0, 100, 10), ("c1", "D1", 0, 100, 10))
    val r = Ingest.ingest(spark, path, b)
    assert(r.ingested == 1 && r.deduped == 1)
  }

  test("quota: batch pushing total over cap is rejected with MaxSizeAllocated") {
    val path = tmpCatalog()
    assert(Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 600))).rejected.isEmpty)
    val r = Ingest.ingest(spark, path, batch(("c2", "D1", 100, 200, 500)),
      maxSizeOnDisk = 1000L)
    r.rejected match {
      case Some(Ingest.MaxSizeAllocated(wouldBe, cap)) =>
        assert(wouldBe == 1100L && cap == 1000L)
      case other => fail(s"expected MaxSizeAllocated, got $other")
    }
    // rejected batch must not have been persisted (reference rollback,
    // data_manager.rs:258-275)
    assert(Ingest.readCatalog(spark, path).count() == 1)
  }

  test("compact: many append files collapse, data and lookups unchanged") {
    val path = tmpCatalog()
    // 5 separate ingests → ≥5 files under the D1 partition
    (0 until 5).foreach { i =>
      Ingest.ingest(spark, path,
        batch((s"c$i", "D1", i * 100L, i * 100L + 100L, 10L)))
    }
    def entries(): Int =
      SnapshotTable.entries(path, SnapshotTable.currentVersion(path)).size
    assert(entries() == 5)
    val n = Ingest.compact(spark, path)
    assert(n == 5)
    assert(entries() == 1) // one file per dataset
    assert(Ingest.readCatalog(spark, path).count() == 5)
    assert(Ingest.findChunk(spark, path, "D1", 250).count() == 1)
  }

  test("find/delete round-trip: delete drains the chunk from lookups") {
    val path = tmpCatalog()
    Ingest.ingest(spark, path,
      batch(("c1", "D1", 0, 100, 1), ("c2", "D1", 100, 200, 1)))
    assert(Ingest.findChunk(spark, path, "D1", 150).count() == 1)
    assert(Ingest.deleteChunk(spark, path, "c2") == 1)
    assert(Ingest.findChunk(spark, path, "D1", 150).count() == 0)
    assert(Ingest.findChunk(spark, path, "D1", 50).count() == 1)
  }

  // ------------------------------------------------- catalog index

  import IngestSpec.{assertFindMatchesScan, ids}

  test("find and ingest see a catalog appended outside Ingest") {
    val path = tmpCatalog()
    Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 1), ("c2", "D1", 100, 200, 1)))
    assert(ids(Ingest.findChunk(spark, path, "D1", 250)).isEmpty) // index warm
    // another writer commits an append to the catalog table
    SnapshotTable.commit(spark, path, batch(("c3", "D1", 200, 300, 1)))
    assert(ids(Ingest.findChunk(spark, path, "D1", 250)) == Set("c3"))
    assertFindMatchesScan(spark, path, "D1", 250)
    // the reloaded index feeds dedup: c3 is a replay, c4 is new
    val r = Ingest.ingest(spark, path, batch(("c3", "D1", 200, 300, 1), ("c4", "D2", 0, 10, 1)))
    assert(r.ingested == 1 && r.deduped == 1)
    assertFindMatchesScan(spark, path, "D2", 5)
  }

  test("numeric-looking dataset ids stay STRING and match exactly, in index and scan") {
    val path = tmpCatalog()
    Ingest.ingest(spark, path, batch(("c1", "1", 0, 100, 1), ("c2", "10", 0, 100, 1)))
    assert(Ingest.readCatalog(spark, path).schema("dataset_id").dataType == StringType)
    // ids are opaque bytes: "10" finds its rows, "010" finds nothing
    assert(ids(Ingest.findChunk(spark, path, "10", 50)) == Set("c2"))
    assert(ids(Ingest.findChunk(spark, path, "010", 50)).isEmpty)
    Seq("1", "10", "010").foreach(d => assertFindMatchesScan(spark, path, d, 50))
    assert(jobsDuring(Ingest.findChunk(spark, path, "10", 50).collect()) == 0)
    // new numeric and non-numeric datasets, and a delete, keep the type
    Ingest.ingest(spark, path, batch(("c3", "2", 0, 100, 1)))
    Ingest.ingest(spark, path, batch(("c4", "x", 0, 100, 1)))
    Ingest.deleteChunk(spark, path, "c4")
    assert(Ingest.readCatalog(spark, path).schema("dataset_id").dataType == StringType)
    Seq("1", "2", "10", "x").foreach(d => assertFindMatchesScan(spark, path, d, 50))
    // a batch that types dataset_id otherwise is refused
    intercept[IllegalArgumentException](Ingest.ingest(spark, path,
      Seq(("c5", 7L, 0L, 100L, 1L)).toDF("chunk_id", "dataset_id", "block_start",
        "block_end", "size_bytes")))
  }

  test("overlapping ranges: find returns every chunk whose range holds the block") {
    val path = tmpCatalog()
    Ingest.ingest(spark, path, batch(
      ("c1", "D1", 0, 100, 1), ("c2", "D1", 50, 150, 1), ("c3", "D1", 100, 200, 1)))
    assert(ids(Ingest.findChunk(spark, path, "D1", 75)) == Set("c1", "c2"))
    assert(ids(Ingest.findChunk(spark, path, "D1", 100)) == Set("c2", "c3"))
    Seq(0L, 49L, 50L, 99L, 100L, 149L, 150L, 199L, 200L)
      .foreach(b => assertFindMatchesScan(spark, path, "D1", b))
  }

  test("free columns a batch carries survive in the index") {
    val path = tmpCatalog()
    def tagged(rows: (String, String, Long, Long, Long, String)*) =
      rows.toDF("chunk_id", "dataset_id", "block_start", "block_end", "size_bytes", "source")
    Ingest.ingest(spark, path, tagged(("c1", "D1", 0, 100, 1, "s3")))
    assertFindMatchesScan(spark, path, "D1", 50)
    Ingest.ingest(spark, path, tagged(("c2", "D1", 100, 200, 1, "gcs")))
    assertFindMatchesScan(spark, path, "D1", 150)
    assert(Ingest.findChunk(spark, path, "D1", 150).select("source").as[String]
      .collect().toSeq == Seq("gcs"))
    Ingest.compact(spark, path)
    assertFindMatchesScan(spark, path, "D1", 50)
    // a batch without the free column: the index reloads from the commit
    Ingest.ingest(spark, path, batch(("c3", "D1", 200, 300, 1)))
    assertFindMatchesScan(spark, path, "D1", 250)
  }

  test("an append that lands while ingest or delete commits is in the index") {
    val path = tmpCatalog()
    Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 1)))
    // another writer's commit lands while an ingest is held at its data
    // write: the ingest loses, and the append is in the index
    def outside(id: String, start: Long): Long =
      SnapshotTable.commit(spark, path, batch((id, "D1", start, start + 100, 1)))
    val (ingest, _) = GatedCommitter.holding(path)(
      Ingest.ingest(spark, path, batch(("c2", "D2", 0, 100, 1))))(outside("o1", 500))
    assert(lost(ingest), ingest)
    assert(ids(Ingest.findChunk(spark, path, "D1", 550)) == Set("o1"))
    assertFindMatchesScan(spark, path, "D1", 550)
    val retry = Ingest.ingest(spark, path, batch(("o1", "D1", 500, 600, 1), ("c2", "D2", 0, 100, 1)))
    assert(retry.ingested == 1 && retry.deduped == 1)
    // the same while a delete is held
    val (delete, _) = GatedCommitter.holding(path)(
      Ingest.deleteChunk(spark, path, "c2"))(outside("o2", 700))
    assert(lost(delete), delete)
    assert(ids(Ingest.findChunk(spark, path, "D1", 750)) == Set("o2"))
    assertFindMatchesScan(spark, path, "D1", 750)
    assert(Ingest.deleteChunk(spark, path, "c2") == 3) // c1, o1 and o2 left
    assert(Ingest.ingest(spark, path, batch(("o2", "D1", 700, 800, 1))).deduped == 1)
  }

  for ((on, mk) <- stores) {
    test(s"a delete that races an ingest loses, and the ingested chunk is kept$on") {
      val path = mk()
      Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 1), ("c2", "D1", 100, 200, 1)))
      val (delete, fresh) = GatedCommitter.holding(parentOf(path))(
        Ingest.deleteChunk(spark, path, "c1")) {
        Ingest.ingest(spark, path, batch(("c3", "D1", 200, 300, 1)))
      }
      assert(fresh.ingested == 1)
      assert(lost(delete), delete)
      assert(ids(Ingest.findChunk(spark, path, "D1", 250)) == Set("c3"))
      assert(ids(Ingest.findChunk(spark, path, "D1", 50)) == Set("c1"))
      // the retried delete reads the new version and wins
      assert(Ingest.deleteChunk(spark, path, "c1") == 2)
      assert(ids(Ingest.findChunk(spark, path, "D1", 250)) == Set("c3"))
      assert(ids(Ingest.findChunk(spark, path, "D1", 50)).isEmpty)
      assertFindMatchesScan(spark, path, "D1", 250)
    }

    test(s"a catalog scan planned before a delete still reads its rows after it$on") {
      val path = mk()
      Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 1), ("c2", "D2", 0, 100, 1)))
      val before = Ingest.readCatalog(spark, path)
      assert(Ingest.deleteChunk(spark, path, "c1") == 1)
      Ingest.compact(spark, path)
      assert(ids(before) == Set("c1", "c2"))
      assert(ids(Ingest.readCatalog(spark, path)) == Set("c2"))
    }

    test(s"of two racing ingests one loses; its retry dedups against the winner$on") {
      val path = mk()
      Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 2)))
      // each batch fits the quota alone, not both together
      val mine = batch(("c2", "D1", 100, 200, 5), ("c3", "D2", 0, 100, 5))
      val (held, theirs) = GatedCommitter.holding(parentOf(path))(
        Ingest.ingest(spark, path, mine, maxSizeOnDisk = 12L)) {
        Ingest.ingest(spark, path, batch(("c3", "D2", 0, 100, 5), ("c4", "D2", 100, 200, 5)),
          maxSizeOnDisk = 12L)
      }
      assert(theirs.ingested == 2 && theirs.rejected.isEmpty)
      assert(lost(held), held)
      val retry = Ingest.ingest(spark, path, mine, maxSizeOnDisk = 12L)
      assert(retry.deduped == 1 && retry.rejected.nonEmpty, retry)
      assert(ids(Ingest.readCatalog(spark, path)) == Set("c1", "c3", "c4"))
    }
  }

  test("the index holds one entry per catalog path after 50 ingests") {
    val path = tmpCatalog()
    val before = Ingest.indexedPaths
    (0 until 50).foreach { i =>
      Ingest.ingest(spark, path, batch((s"c$i", s"D${i % 3}", i * 10L, i * 10L + 10L, 1L)))
    }
    assert(Ingest.indexedPaths == before + 1)
    assert(Ingest.readCatalog(spark, path).count() == 50)
    Seq(("D0", 5L), ("D1", 495L), ("D2", 55L))
      .foreach { case (d, b) => assertFindMatchesScan(spark, path, d, b) }
  }

  test("quarantine lane: every malformed line lands with its first-failing reason") {
    import spark.implicits._
    val lines = Seq(
      "c1,1,0,100,512",          // good
      "c2,1,100,200,1024",       // good
      "c3,1,5",                  // wrong_arity
      ",1,0,100,512",            // empty_chunk_id
      "c4,,0,100,512",           // bad_dataset_id
      "c5,1,zero,100,512",       // bad_block_range
      "c6,1,0,100,big",          // bad_size
      "c7,1,200,100,512",        // inverted_range
      "c8,1,0,100,-9",           // negative_size
      "c9,x,y,z",                // wrong_arity wins over later lanes
      "c10,1,0,100,512,extra")   // wrong_arity (too many)
    val batch = Ingest.decodeWithQuarantine(lines.toDF("line"))
    val (good, bad) = (batch.good, batch.quarantined)
    val goodIds = good.select("chunk_id").as[String].collect().sorted.toSeq
    assert(goodIds == Seq("c1", "c2"))
    // typed columns survive the lane intact
    val g = good.collect().map(r => r.getString(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(g("c1") == (("1", 0L, 100L, 512L)))
    val reasons = bad.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons.size == lines.size - 2) // nothing dropped silently
    assert(reasons("c3,1,5") == "wrong_arity")
    assert(reasons(",1,0,100,512") == "empty_chunk_id")
    assert(reasons("c4,,0,100,512") == "bad_dataset_id")
    assert(reasons("c5,1,zero,100,512") == "bad_block_range")
    assert(reasons("c6,1,0,100,big") == "bad_size")
    assert(reasons("c7,1,200,100,512") == "inverted_range")
    assert(reasons("c8,1,0,100,-9") == "negative_size")
    assert(reasons("c9,x,y,z") == "wrong_arity")
    assert(reasons("c10,1,0,100,512,extra") == "wrong_arity")
    batch.release() // cache ownership: caller frees after both lanes read
  }

  test("a decoded batch ingests, and its dataset ids come back exactly as sent") {
    val path = tmpCatalog()
    val decoded = Ingest.decodeWithQuarantine(
      Seq("c1,010,0,100,5", "c2,10,0,100,7", "c3,,0,100,9").toDF("line"))
    assert(decoded.quarantined.collect().map(_.getString(1)).toSeq == Seq("bad_dataset_id"))
    assert(Ingest.ingest(spark, path, decoded.good) == Ingest.IngestResult(2, 0, None))
    decoded.release()
    // "010" is its own id, not "10": the lane must not read it as a number
    val found = Ingest.findChunk(spark, path, "010", 50).collect()
      .map(r => (r.getAs[String]("chunk_id"), r.getAs[String]("dataset_id")))
    assert(found.toSeq == Seq(("c1", "010")))
    assert(ids(Ingest.findChunk(spark, path, "10", 50)) == Set("c2"))
    Seq("010", "10").foreach(d => assertFindMatchesScan(spark, path, d, 50))
  }
}

object IngestSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, lit}
  import org.scalatest.Assertions._

  def ids(df: DataFrame): Set[String] =
    df.select("chunk_id").collect().map(_.getString(0)).toSet

  /** findChunk's answer equals a filtered scan of the catalog: same
    * schema, column order and rows. */
  def assertFindMatchesScan(spark: SparkSession, path: String, ds: String, block: Long): Unit = {
    val found = Ingest.findChunk(spark, path, ds, block)
    val scanned = Ingest.readCatalog(spark, path).filter(col("dataset_id") === ds &&
      col("block_start") <= block && lit(block) < col("block_end"))
    assert(found.schema == scanned.schema)
    assert(found.collect().toSeq.sortBy(_.toString) == scanned.collect().toSeq.sortBy(_.toString),
      s"dataset $ds block $block")
  }
}
