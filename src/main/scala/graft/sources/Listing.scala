package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Content signature of a parquet table on any Hadoop filesystem: the
  * (path, length, mtime) of every data file under it. The schema memo in
  * [[graft.Tables]] compares it with a fresh walk, so a table rewritten
  * in place — by this session or another process — is never answered
  * from the old entry. (A [[SnapshotTable]], such as [[Ingest]]'s
  * catalog, needs no walk: its newest manifest names its content.) Also
  * resolves a path's Hadoop `FileSystem` ([[fsFor]]).
  *
  * The walk is one `listStatus` per directory. On a local table of 30
  * files in 6 partitions (4-core VM) it took 2.8 ms; a recursive
  * `listFiles(p, true)` over the same files took 155 ms. The signature of
  * a one-file corpus table takes about 0.06 ms. */
private[graft] object Listing {

  type Signature = Vector[(String, Long, Long)]

  /** Every data file under `root` (or `root` itself when it is a file),
    * sorted by path. Hidden names are skipped the way Spark's file index
    * skips them: `_temporary`, `_SUCCESS`, `.crc` files. Empty when
    * `root` does not exist. */
  def parquetFiles(fs: FileSystem, root: Path): Vector[FileStatus] = {
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def walk(p: Path): Vector[FileStatus] =
      (try fs.listStatus(p).toVector
       catch { case _: java.io.FileNotFoundException => Vector.empty })
        .filterNot(s => hidden(s.getPath.getName))
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) Vector(s)
          else Vector.empty
        }
    walk(root).sortBy(_.getPath.toString)
  }

  def signature(files: Seq[FileStatus]): Signature =
    files.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toVector

  /** Hadoop FileSystem for `path`, by URI scheme (`file:`, `mock:` in
    * tests, `s3a:`/`hdfs:` on a cluster), and the path qualified on it. */
  def fsFor(conf: Configuration, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    (fs, fs.makeQualified(p))
  }

  /** [[signature]] of the table at `path`, resolved through `conf`. */
  def signature(path: String, conf: Configuration): Signature = {
    val p = new Path(path)
    signature(parquetFiles(p.getFileSystem(conf), p))
  }
}
