package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileUtil, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.{Ingest, SnapshotTable}

/** A Hadoop FileSystem with OBJECT-STORE semantics (the part of
  * `s3a://` that changes correctness, minus the wire protocol): rename
  * is not a metadata operation but a full copy-then-delete, exactly how
  * S3A emulates it over COPY+DELETE requests. Registered under the
  * `mock://` scheme and driven through the real ingest/catalog path —
  * this pins that nothing in Ingest (job-commit renames, the manifest
  * commit, listing) silently assumes POSIX atomic rename,
  * which is the concrete risk behind SURVEY §2 B2's "environment-bound"
  * status (the reference's own store is an S3 GET/PUT,
  * /root/reference/src/data_manager.rs:195-209). */
class MockObjectStoreFs extends RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: URI = URI.create("mock:///")
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    MockObjectStoreFs.opens.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger)
      .incrementAndGet()
    super.open(f, bufferSize)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    MockObjectStoreFs.renames.incrementAndGet()
    if (!exists(src)) false
    // S3A-style: copy every byte to the new key(s), then delete the old
    else FileUtil.copy(this, src, this, dst, /* deleteSource */ true, getConf)
  }
  // RawLocal's lazy permission loader does `new java.io.File(uri)`,
  // which rejects non-file schemes; object stores have no POSIX perms
  // anyway, so return statuses with an eager default permission
  private def eager(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      FsPermission.getDefault, null, null, st.getPath)
  override def getFileStatus(f: HPath): FileStatus = eager(super.getFileStatus(f))
  override def listStatus(f: HPath): Array[FileStatus] =
    super.listStatus(f).map(eager)
}

object MockObjectStoreFs {
  val renames = new AtomicInteger(0)
  /** `open` calls per file, by path without the scheme. */
  val opens = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()

  def opened(path: String): Int =
    Option(opens.get(new HPath(path).toUri.getPath)).fold(0)(_.get)
}

class ObjectStoreFsSpec extends SparkSpec {
  import spark.implicits._

  private def mockPath(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockObjectStoreFs].getName)
    // disable FS instance caching so the conf change always takes
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl.disable.cache", "true")
    "mock://" + Files.createTempDirectory("graft_objstore") + "/catalog"
  }

  private def batch(rows: (String, String, Long, Long, Long)*) =
    rows.toDF("chunk_id", "dataset_id", "block_start", "block_end", "size_bytes")

  test("ingest + replay dedup work over copy-delete-rename object store") {
    val path = mockPath()
    val before = MockObjectStoreFs.renames.get()
    val r1 = Ingest.ingest(spark, path,
      batch(("c1", "D1", 0, 100, 10), ("c2", "D2", 100, 200, 20)))
    assert(r1.ingested == 2 && r1.rejected.isEmpty)
    val r2 = Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 10)))
    assert(r2.ingested == 0 && r2.deduped == 1)
    assert(Ingest.readCatalog(spark, path).count() == 2)
    // the job-commit protocol must really have gone through the
    // non-atomic rename path, or this test proves nothing
    assert(MockObjectStoreFs.renames.get() > before,
      "no rename crossed the object-store filesystem")
  }

  /** The manifests of `table` that `op` opened, by version, with how
    * often. */
  private def manifestOpens(table: String)(op: => Any): Map[Long, Int] = {
    def counts = (1L to SnapshotTable.currentVersion(table) + 1).map(v =>
      v -> MockObjectStoreFs.opened(f"$table/manifests/manifest-$v%05d")).toMap
    val before = counts
    op
    counts.map { case (v, n) => v -> (n - before.getOrElse(v, 0)) }.filter(_._2 > 0)
  }

  test("a commit, merge, deleteWhere and readVersion each open one manifest once") {
    val t = mockPath()
    SnapshotTable.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val opened = Seq(
      manifestOpens(t)(SnapshotTable.commit(spark, t, Seq((3L, "c")).toDF("k", "v"))),
      manifestOpens(t)(SnapshotTable.merge(spark, t, Seq((2L, "B")).toDF("k", "v"), "k")),
      manifestOpens(t)(SnapshotTable.deleteWhere(spark, t, "k", 1L, 1L)),
      manifestOpens(t)(SnapshotTable.readVersion(spark, t, 4L)))
    // each write opens only its base (versions 1, 2, 3), the read only its version
    assert(opened == Seq(Map(1L -> 1), Map(2L -> 1), Map(3L -> 1), Map(4L -> 1)))
    assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (3L, "c")))
  }

  test("an ingest on a warm index opens only the new manifest, once") {
    val path = mockPath()
    // the first ingest's reload leaves the index warm at version 1
    Ingest.ingest(spark, path, batch(("c1", "D1", 0, 100, 1)))
    assert(manifestOpens(path)(Ingest.ingest(spark, path, batch(("c2", "D1", 100, 200, 1))))
      == Map(2L -> 1))
    assert(Ingest.findChunk(spark, path, "D1", 150).count() == 1)
  }

  test("find + delete work over the object store") {
    val path = mockPath()
    Ingest.ingest(spark, path,
      batch(("c1", "D1", 0, 100, 1), ("c2", "D1", 100, 200, 1)))
    assert(Ingest.findChunk(spark, path, "D1", 150).count() == 1)
    // deleteChunk rewrites the chunk's file and commits a manifest
    assert(Ingest.deleteChunk(spark, path, "c2") == 1)
    assert(Ingest.findChunk(spark, path, "D1", 150).count() == 0)
    assert(Ingest.findChunk(spark, path, "D1", 50).count() == 1)
    assert(Ingest.readCatalog(spark, path).count() == 1)
  }

  test("the catalog index follows outside appends, numeric ids and overlaps over the object store") {
    import IngestSpec.{assertFindMatchesScan, ids}
    val path = mockPath()
    Ingest.ingest(spark, path, batch(("c1", "7", 0, 100, 1), ("c2", "7", 50, 150, 1)))
    assert(ids(Ingest.findChunk(spark, path, "7", 75)) == Set("c1", "c2"))
    assertFindMatchesScan(spark, path, "7", 75)
    SnapshotTable.commit(spark, path, batch(("c3", "8", 0, 100, 1)))
    assertFindMatchesScan(spark, path, "8", 50)
    val r = Ingest.ingest(spark, path, batch(("c3", "8", 0, 100, 1), ("c4", "8", 100, 200, 1)))
    assert(r.ingested == 1 && r.deduped == 1)
    assert(Ingest.deleteChunk(spark, path, "c1") == 3)
    Seq(("7", 75L), ("8", 50L), ("8", 150L)).foreach { case (d, b) =>
      assertFindMatchesScan(spark, path, d, b)
    }
  }
}
