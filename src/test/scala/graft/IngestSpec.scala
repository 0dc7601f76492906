package graft

import java.nio.file.Files
import graft.sources.Ingest

/** Ingest-pipeline semantics (reference A2-A5/A15): idempotent replay,
  * in-batch dedup, quota rejection, delete rewrite. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Long, Long, Long)*) =
    rows.toDF("chunk_id", "dataset_id", "block_start", "block_end", "size_bytes")

  private def tmpCatalog(): String =
    Files.createTempDirectory("graft_cat").resolve("catalog").toString

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
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty).toSeq
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(path)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles()
    assert(before >= 5)
    val n = Ingest.compact(spark, path)
    assert(n == 5)
    assert(parquetFiles() < before)
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
    // another writer appends with a plain partitioned parquet write
    batch(("c3", "D1", 200, 300, 1)).write.mode("append")
      .partitionBy("dataset_id").parquet(path)
    assert(ids(Ingest.findChunk(spark, path, "D1", 250)) == Set("c3"))
    assertFindMatchesScan(spark, path, "D1", 250)
    // the reloaded index feeds dedup: c3 is a replay, c4 is new
    val r = Ingest.ingest(spark, path, batch(("c3", "D1", 200, 300, 1), ("c4", "D2", 0, 10, 1)))
    assert(r.ingested == 1 && r.deduped == 1)
    assertFindMatchesScan(spark, path, "D2", 5)
  }

  test("numeric-looking dataset ids read back as INT, in the index as in a scan") {
    val path = tmpCatalog()
    Ingest.ingest(spark, path, batch(("c1", "1", 0, 100, 1), ("c2", "10", 0, 100, 1)))
    assert(Ingest.readCatalog(spark, path).schema("dataset_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assertFindMatchesScan(spark, path, "1", 50)
    assertFindMatchesScan(spark, path, "10", 50)
    // ids compare under Spark's coercion rules, still without a job
    assertFindMatchesScan(spark, path, "010", 50)
    assert(jobsDuring(Ingest.findChunk(spark, path, "10", 50).collect()) == 0)
    // a new numeric dataset keeps the type; a non-numeric one turns the
    // column to STRING for every row
    Ingest.ingest(spark, path, batch(("c3", "2", 0, 100, 1)))
    assertFindMatchesScan(spark, path, "2", 50)
    Ingest.ingest(spark, path, batch(("c4", "x", 0, 100, 1)))
    assert(Ingest.readCatalog(spark, path).schema("dataset_id").dataType ==
      org.apache.spark.sql.types.StringType)
    Seq("1", "2", "10", "x").foreach(d => assertFindMatchesScan(spark, path, d, 50))
    // and deleting the only non-numeric chunk turns it back to INT
    Ingest.deleteChunk(spark, path, "c4")
    Seq("1", "2", "10").foreach(d => assertFindMatchesScan(spark, path, d, 50))
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
    // a batch without the free column: the index reloads from the files
    Ingest.ingest(spark, path, batch(("c3", "D1", 200, 300, 1)))
    assertFindMatchesScan(spark, path, "D1", 250)
  }

  test("an append that lands while ingest or delete commits is in the index") {
    val dir = Files.createTempDirectory("graft_race")
    val root = dir.resolve("catalog")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.racy.impl", classOf[RacyObjectStoreFs].getName)
    conf.set("fs.racy.impl.disable.cache", "true")
    val path = "racy://" + root
    Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 1)))
    // another writer's file for D1, copied in while the catalog commits
    def outside(id: String, start: Long): () => Unit = {
      val stage = dir.resolve(s"stage_$id")
      batch((id, "D1", start, start + 100, 1)).coalesce(1)
        .write.partitionBy("dataset_id").parquet(stage.toString)
      val file = Files.list(stage.resolve("dataset_id=D1")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).find(_.toString.endsWith(".parquet")).get
      () => { Files.copy(file, root.resolve(s"dataset_id=D1/part-outside-$id.parquet")); () }
    }
    RacyObjectStoreFs.arm(root.toString, outside("o1", 500))
    Ingest.ingest(spark, path, batch(("c2", "D2", 0, 100, 1)))
    assert(RacyObjectStoreFs.armed.get.isEmpty, "the outside append never ran")
    assert(ids(Ingest.findChunk(spark, path, "D1", 550)) == Set("o1"))
    assertFindMatchesScan(spark, path, "D1", 550)
    assert(Ingest.ingest(spark, path, batch(("o1", "D1", 500, 600, 1))).deduped == 1)
    // the same while a delete promotes its rewrite
    RacyObjectStoreFs.arm(root.toString, outside("o2", 700))
    assert(Ingest.deleteChunk(spark, path, "c2") == 2) // c1 and o1 rewritten
    assert(RacyObjectStoreFs.armed.get.isEmpty, "the outside append never ran")
    assert(ids(Ingest.findChunk(spark, path, "D1", 750)) == Set("o2"))
    assertFindMatchesScan(spark, path, "D1", 750)
    assert(Ingest.ingest(spark, path, batch(("o2", "D1", 700, 800, 1))).deduped == 1)
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

  // ------------------------------------------------- promote crash paths

  import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}

  /** Wrapper that vetoes the FIRST rename whose source ends with
    * `failSrcSuffix` — the fault injection for promote's
    * rename(tmp,dst)-fails branch. */
  private class VetoRenameFs(underlying: FileSystem, failSrcSuffix: String)
      extends FilterFileSystem(underlying) {
    var vetoed = 0
    override def rename(src: HPath, dst: HPath): Boolean =
      if (vetoed == 0 && src.toString.endsWith(failSrcSuffix)) {
        vetoed += 1; false
      } else super.rename(src, dst)
  }

  private def rawFs(): FileSystem =
    new HPath("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mkDirWithMarker(fs: FileSystem, dir: HPath, marker: String): Unit = {
    fs.mkdirs(dir)
    fs.create(new HPath(dir, marker), true).close()
  }

  test("promote: failed target rename restores the previous catalog") {
    val root = new HPath("file://" + Files.createTempDirectory("graft_promote"))
    val fs = rawFs()
    val dst = new HPath(root, "catalog")
    val tmp = new HPath(root, "catalog_tmp")
    mkDirWithMarker(fs, dst, "OLD")
    mkDirWithMarker(fs, tmp, "NEW")
    val veto = new VetoRenameFs(fs, "catalog_tmp")
    val e = intercept[IllegalStateException] {
      Ingest.promote(veto, tmp, dst, "test")
    }
    assert(e.getMessage.contains("previous catalog restored"))
    assert(veto.vetoed == 1)
    // the live catalog is back at dst with its ORIGINAL content, the
    // aside slot is drained, and the rewrite is still intact at tmp
    assert(fs.exists(new HPath(dst, "OLD")), "previous catalog not restored")
    assert(!fs.exists(new HPath(root, "catalog_old")), "aside left behind")
    assert(fs.exists(new HPath(tmp, "NEW")), "rewrite lost")
  }

  test("promote: fresh dst (no live catalog) promotes without an aside") {
    val root = new HPath("file://" + Files.createTempDirectory("graft_promote"))
    val fs = rawFs()
    val dst = new HPath(root, "catalog")
    val tmp = new HPath(root, "catalog_tmp")
    mkDirWithMarker(fs, tmp, "NEW")
    Ingest.promote(fs, tmp, dst, "test")
    assert(fs.exists(new HPath(dst, "NEW")))
    assert(!fs.exists(tmp))
    assert(!fs.exists(new HPath(root, "catalog_old")))
  }

  test("promote: success over a live catalog clears the aside") {
    val root = new HPath("file://" + Files.createTempDirectory("graft_promote"))
    val fs = rawFs()
    val dst = new HPath(root, "catalog")
    val tmp = new HPath(root, "catalog_tmp")
    mkDirWithMarker(fs, dst, "OLD")
    mkDirWithMarker(fs, tmp, "NEW")
    Ingest.promote(fs, tmp, dst, "test")
    assert(fs.exists(new HPath(dst, "NEW")) && !fs.exists(new HPath(dst, "OLD")))
    assert(!fs.exists(new HPath(root, "catalog_old")), "aside not cleared")
    assert(!fs.exists(tmp))
  }

  test("promote: stale aside from a prior crash is cleared, not fatal") {
    val root = new HPath("file://" + Files.createTempDirectory("graft_promote"))
    val fs = rawFs()
    val dst = new HPath(root, "catalog")
    val tmp = new HPath(root, "catalog_tmp")
    mkDirWithMarker(fs, dst, "OLD")
    mkDirWithMarker(fs, tmp, "NEW")
    mkDirWithMarker(fs, new HPath(root, "catalog_old"), "STALE")
    Ingest.promote(fs, tmp, dst, "test")
    assert(fs.exists(new HPath(dst, "NEW")))
    assert(!fs.exists(new HPath(root, "catalog_old")))
  }

  test("quarantine lane: every malformed line lands with its first-failing reason") {
    import spark.implicits._
    val lines = Seq(
      "c1,1,0,100,512",          // good
      "c2,1,100,200,1024",       // good
      "c3,1,5",                  // wrong_arity
      ",1,0,100,512",            // empty_chunk_id
      "c4,x,0,100,512",          // bad_dataset_id
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
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(g("c1") == ((1L, 0L, 100L, 512L)))
    val reasons = bad.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons.size == lines.size - 2) // nothing dropped silently
    assert(reasons("c3,1,5") == "wrong_arity")
    assert(reasons(",1,0,100,512") == "empty_chunk_id")
    assert(reasons("c4,x,0,100,512") == "bad_dataset_id")
    assert(reasons("c5,1,zero,100,512") == "bad_block_range")
    assert(reasons("c6,1,0,100,big") == "bad_size")
    assert(reasons("c7,1,200,100,512") == "inverted_range")
    assert(reasons("c8,1,0,100,-9") == "negative_size")
    assert(reasons("c9,x,y,z") == "wrong_arity")
    assert(reasons("c10,1,0,100,512,extra") == "wrong_arity")
    batch.release() // cache ownership: caller frees after both lanes read
  }
}

/** The `mock://` object store under the `racy://` scheme, with a hook
  * that runs once, right after the first rename that lands a file or
  * directory inside (or onto) a catalog: a second writer's append
  * arriving while a catalog write commits. */
class RacyObjectStoreFs extends MockObjectStoreFs {
  override def getScheme: String = "racy"
  override def getUri: java.net.URI = java.net.URI.create("racy:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    val renamed = super.rename(src, dst)
    val to = dst.toUri.getPath
    val cur = RacyObjectStoreFs.armed.get
    cur.foreach { case (root, hook) =>
      if (renamed && !to.contains("_temporary") && (to == root || to.startsWith(root + "/")) &&
          RacyObjectStoreFs.armed.compareAndSet(cur, None)) hook()
    }
    renamed
  }
}

object RacyObjectStoreFs {
  val armed = new java.util.concurrent.atomic.AtomicReference[Option[(String, () => Unit)]](None)
  def arm(root: String, hook: () => Unit): Unit = armed.set(Some((root, hook)))
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
