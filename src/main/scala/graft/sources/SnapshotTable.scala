package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest/snapshot table commits — the lake's one transaction
  * protocol; [[Ingest]]'s chunk catalog is such a table too. The
  * reference swaps RocksDB column families under a lock
  * (`rocksdb_storage_engine.rs:105-136`); at 100 TB on an object store
  * neither a lock nor a directory rename exists, so the industry shape
  * (Iceberg/Delta) is:
  *
  *  - data files are IMMUTABLE and written to unique paths, so a commit
  *    never overwrites anything a reader could be holding;
  *  - a snapshot is a MANIFEST (complete file listing + stats), and
  *    creating `manifest-N` if absent IS the commit of version N (Delta
  *    Lake's log, Armbrust et al., VLDB 2020); the current version is
  *    the newest manifest, so there is no second step to crash between.
  *
  * The commit rule — every write (append, overwrite, merge, delete,
  * compaction, z-order) goes through one primitive, [[publish]]:
  *
  *  - an operation that read version `base` publishes exactly
  *    `base + 1`. A rewrite's base is the version it read; a blind
  *    append or overwrite takes the current version after its data write;
  *  - of two writers from the same base exactly one creates manifest
  *    `base + 1` and the other gets a `ConcurrentModificationException`,
  *    leaving only a data dir [[vacuumOrphans]] reclaims;
  *  - the new manifest carries the base's `#` metadata lines (batch
  *    markers, consumer stamps, bookmarks) after its own, except the
  *    base's `#schema=` line, which the commit's own schema replaces, and
  *    the per-commit records ([[PerCommit]]), which describe only the
  *    commit that wrote them.
  *
  * Readers resolve the current version once, then read only immutable
  * paths: a consistent snapshot whatever commits follow, and old
  * versions stay readable (time travel) until a GC pass drops them.
  *
  * An operation opens and parses each manifest it needs once, into a
  * [[Manifest]], and reads its schema, metadata and entries from that
  * value; a write passes it to [[publish]] as its base.
  *
  * Files go through the table path's Hadoop `FileSystem` (any scheme);
  * entries are qualified paths. Layout: `<table>/data/<uuid>/part-*.parquet`,
  * `<table>/manifests/manifest-<version>`.
  */
object SnapshotTable {

  /** One manifest entry: a data file plus its footer-derived row count,
    * per-column min/max for integral/timestamp columns (`stats`) and for
    * short ASCII string columns (`strings`) — the stats that let a snapshot
    * read prune files the way a sorted parquet layout prunes row groups
    * (Iceberg's manifest stats; the order-preserving analog of the
    * reference's big-endian key clustering, `rocksdb_storage_engine.rs:180-192`).
    * String stats ride in a fourth field, so an entry without them
    * renders as before. */
  final case class FileEntry(path: String, rows: Long,
      stats: Map[String, (Long, Long)],
      strings: Map[String, (String, String)] = Map.empty) {
    def render: String = {
      def field(m: Map[String, (Any, Any)]) = m.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c=$lo:$hi" }.mkString(";")
      s"$path|rows=$rows|${field(stats)}" +
        (if (strings.isEmpty) "" else s"|${field(strings)}")
    }

    /** Whether the file can hold a `column` value in `[lo, hi]` by its
      * stats; a file with no stats for the column can. */
    def overlaps(column: String, lo: Long, hi: Long): Boolean =
      stats.get(column).forall { case (mn, mx) => mx >= lo && mn <= hi }

    /** [[overlaps]] for one value of a string column. String stats are
      * ASCII only, where String order is parquet's unsigned-byte order for
      * any probe value. */
    def mayHold(column: String, value: String): Boolean =
      strings.get(column).forall { case (mn, mx) => mn <= value && value <= mx }
  }

  /** One parsed `manifest-N`: the schema it pins, its metadata (`#`)
    * lines — `#schema=`, batch markers, consumer bookmarks like
    * [[MaterializedView]]'s `#basedon` — and its [[FileEntry]]s. */
  final case class Manifest(version: Long, schema: StructType, meta: Seq[String],
      entries: Seq[FileEntry]) {
    def paths: Seq[String] = entries.map(_.path)

    /** Data files listed here but not in `other` — pure manifest math. */
    def pathsNotIn(other: Manifest): Seq[String] = paths.filterNot(other.paths.toSet)

    /** This version's rows, under the schema it pins. */
    def read(spark: SparkSession): DataFrame = readUnder(spark, schema, paths)
  }

  object Manifest {
    /** The base of a table's first commit: no columns, metadata or files. */
    val empty: Manifest = Manifest(0L, new StructType(), Seq.empty, Seq.empty)
  }

  private def parseEntry(line: String): FileEntry = {
    val parts = line.split('|')
    def field(i: Int): Map[String, (String, String)] =
      parts.lift(i).filter(_.nonEmpty).map { s =>
        s.split(';').map { kv =>
          val Array(c, range) = kv.split("=", -1)
          val Array(lo, hi) = range.split(":", -1)
          c -> (lo, hi)
        }.toMap
      }.getOrElse(Map.empty)
    FileEntry(parts(0), parts(1).stripPrefix("rows=").toLong,
      field(2).map { case (c, (lo, hi)) => c -> (lo.toLong, hi.toLong) }, field(3))
  }

  /** A column name or string stat that cannot break a manifest line. */
  private def delimiterSafe(s: String): Boolean = !s.exists("|;=:\n\r".contains(_))

  /** Hadoop configuration when no session exists: the calls that take
    * no session ([[versions]], [[manifest]], [[expireSnapshots]], …)
    * then still resolve `file:` and the default filesystems. */
  private lazy val plainConf = new Configuration()

  /** `<table>/<sub>` qualified on the table's filesystem, resolved through
    * the active or default session's Hadoop configuration, or
    * [[plainConf]] before any session exists. */
  private def under(table: String, sub: String): (FileSystem, Path) =
    Listing.fsFor(SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(plainConf)(_.sparkContext.hadoopConfiguration), s"$table/$sub")

  private def manifestPath(table: String, version: Long): (FileSystem, Path) =
    under(table, f"manifests/manifest-$version%05d")

  private val ManifestName = """manifest-(\d+)""".r

  /** The children of `dir`, or none when it does not exist. */
  private def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Create `p` with `body` unless the name exists — the commit point;
    * false when another writer owns it. On `file:` a hidden temp file is
    * hard-linked as `p`: link(2) fails atomically on an existing name, so
    * no losing or crashed writer leaves a partial or overwritten manifest
    * (a move, or Hadoop's local create, checks and then acts); a crash may
    * leave the temp file, which [[versions]] ignores. Other schemes use
    * `create(overwrite = false)`, which the store must make conditional
    * (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`). */
  private def putIfAbsent(fs: FileSystem, p: Path, body: Array[Byte]): Boolean = {
    fs.mkdirs(p.getParent)
    if (p.toUri.getScheme == "file") {
      val dst = Paths.get(p.toUri)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
      Files.write(tmp, body)
      try { Files.createLink(dst, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.delete(tmp)
    } else
      try { Using.resource(fs.create(p, false))(_.write(body)); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** Open and parse `version`'s manifest: the one read of a manifest
    * file. Every commit pins a `#schema=` line; a manifest without it is
    * not this table's and fails here, loudly. */
  def manifest(table: String, version: Long): Manifest = {
    val (fs, p) = manifestPath(table, version)
    val body = new String(Using.resource(fs.open(p))(_.readAllBytes()), StandardCharsets.UTF_8)
    val (meta, files) = body.split('\n').toSeq.drop(2).partition(_.startsWith("#"))
    val schema = meta.find(_.startsWith("#schema="))
      .map(l => DataType.fromJson(l.stripPrefix("#schema=")).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(f"manifest-$version%05d of $table pins no #schema= line"))
    Manifest(version, schema, meta, files.map(parseEntry))
  }

  /** Committed [[FileEntry]]s of `version`. */
  def entries(table: String, version: Long): Seq[FileEntry] = manifest(table, version).entries

  /** Footer scrape: row count + integral- and string-column min/max per
    * just-written file. Reads METADATA ONLY (the parquet writer already
    * computed the stats; the footer is a few KB at the file tail) — the
    * data itself is never re-read, unlike the `spark.read.parquet(...).count()`
    * this replaced, which re-scanned the whole commit. On a cluster the
    * same numbers arrive for free as task-side write metrics; footer reads
    * are the single-node stand-in with identical results. */
  private def scrapeFooter(conf: org.apache.hadoop.conf.Configuration,
      file: FileStatus): FileEntry = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val reader = org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    try {
      val blocks = reader.getRowGroups.asScala.toSeq
      // stats are an OPTIMIZATION: a column is simply recorded without
      // them, rather than failing the commit, when it is neither integral
      // nor a string, when its name or string values collide with the
      // manifest delimiters (| ; = : newline) or are not short printable
      // ASCII, or when a row group holding values has no footer min/max
      // (a row group of nulls only holds no value)
      val ranges = blocks.flatMap(_.getColumns.asScala)
        .filter(c => c.getStatistics == null || c.getStatistics.getNumNulls != c.getValueCount)
        .groupBy(_.getPath.toDotString).filter(col => delimiterSafe(col._1))
        .map { case (name, cs) => (name, cs.head.getPrimitiveType, cs.map(c =>
          Option(c.getStatistics).filter(_.hasNonNullValue).map(s => (s.genericGetMin, s.genericGetMax))))
        }
      def bounds[T: Ordering](rs: Seq[Option[(Any, Any)]])(f: Any => T): Option[(T, T)] =
        if (rs.contains(None)) None
        else Some((rs.flatten.map(r => f(r._1)).min, rs.flatten.map(r => f(r._2)).max))
      def short(v: String) = v.length <= 64 && v.forall(c => c >= ' ' && c <= '~') && delimiterSafe(v)
      FileEntry(file.getPath.toString, blocks.map(_.getRowCount).sum,
        ranges.collect { case (n, t, rs) if Set(INT64, INT32)(t.getPrimitiveTypeName) =>
          bounds(rs)(_.asInstanceOf[Number].longValue).map(n -> _)
        }.flatten.toMap,
        ranges.collect { case (n, t, rs) if t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() =>
          bounds(rs)(_.asInstanceOf[Binary].toStringUsingUTF8)
            .filter { case (lo, hi) => short(lo) && short(hi) }.map(n -> _)
        }.flatten.toMap)
    } finally reader.close()
  }

  /** Current committed version — the newest manifest — or 0 if none. */
  def currentVersion(table: String): Long = versions(table).lastOption.getOrElse(0L)

  /** The current version's [[Manifest]], or [[Manifest.empty]] with none;
    * `known` itself when it is still current, so it is not read again. */
  private[graft] def current(table: String, known: Manifest = Manifest.empty): Manifest = {
    val v = currentVersion(table)
    if (v == known.version) known else manifest(table, v)
  }

  /** [[current]], refusing a table with no commit. */
  private def committed(table: String): Manifest = {
    val m = current(table)
    require(m.version > 0, s"no committed snapshot in $table")
    m
  }

  /** All committed versions, oldest first (every one is time-travelable);
    * temp and `.crc` files in `manifests/` are not versions. */
  def versions(table: String): Seq[Long] = manifests(table).map(_._1)

  /** The committed manifests, oldest first, from one listing. */
  private def manifests(table: String): Seq[(Long, FileStatus)] = {
    val (fs, dir) = under(table, "manifests")
    list(fs, dir).map(s => s.getPath.getName -> s)
      .collect { case (ManifestName(v), s) => v.toLong -> s }.sortBy(_._1)
  }

  /** The current version and its manifest's modification time, or
    * `(0, 0)` with none: what a driver-side cache of the current
    * version keys on, so a table deleted and recreated at the same path
    * is not mistaken for the old one. One listing. */
  private[graft] def head(table: String): (Long, Long) =
    manifests(table).lastOption.fold((0L, 0L)) { case (v, s) => (v, s.getModificationTime) }

  /** A fresh, unique data directory for one commit's files. */
  private def newDataDir(table: String): Path =
    under(table, s"data/${UUID.randomUUID()}")._2

  /** Metadata lines that describe one commit (what a merge touched, a
    * compaction or z-order rewrite): a later commit does not carry them,
    * so they do not pile up in every later manifest. */
  private val PerCommit = Seq("#schema=", "#merge=", "#compacted=", "#optimized=")

  /** The one commit path (the rule in the header): list `kept` by
    * reference plus every non-empty parquet file written under
    * `dataDir` (row counts and stats from the footers, zero data
    * re-scan — SnapshotSpec pins the action count per commit), and
    * commit manifest `base.version + 1` ([[putIfAbsent]]) under `schema`
    * with `meta` followed by the `#` lines carried from `base`, the
    * manifest the caller already holds (a line repeated per commit, such
    * as a format stamp, is kept once). Zero-row files are left out: a
    * delete that empties a file shrinks the manifest instead of padding
    * it. */
  private def publish(spark: SparkSession, table: String, base: Manifest,
      schema: StructType, kept: Seq[FileEntry], dataDir: Path,
      meta: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = manifestPath(table, base.version + 1)
    val written = list(fs, dataDir).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString).map(scrapeFooter(conf, _)).filter(_.rows > 0)
    val listed = kept ++ written
    val carried = base.meta.filterNot(l => PerCommit.exists(l.startsWith))
    val body = (s"version=${base.version + 1}" +: s"rows=${listed.map(_.rows).sum}" +:
      s"#schema=${schema.json}" +: ((meta ++ carried).distinct ++ listed.map(_.render)))
      .mkString("\n")
    if (!putIfAbsent(fs, p, body.getBytes(StandardCharsets.UTF_8)))
      throw new java.util.ConcurrentModificationException(
        s"${p.getName} already committed by a concurrent writer — " +
          "re-read the current version and retry the commit")
    base.version + 1
  }

  /** Write `df` to a new data dir and publish `base`'s entries without
    * the `removed` paths, plus the written files, as the version after
    * `base` under its schema widened by `df`'s ([[widen]]) — a rewrite
    * from the manifest it read ([[Manifest.empty]] for a first commit).
    * Returns the new version. */
  private[graft] def replace(spark: SparkSession, table: String, base: Manifest,
      removed: Set[String], df: DataFrame, meta: Seq[String] = Seq.empty): Long = {
    val dataDir = newDataDir(table)
    df.write.parquet(dataDir.toString)
    publish(spark, table, base, widen(base.schema, df.schema),
      base.entries.filterNot(e => removed(e.path)), dataDir, meta)
  }

  /** `pinned` union-widened by `incoming`: new columns
    * append (files committed before them read them as null — a
    * metadata-only change, no rewrite, no mergeSchema footer sweep) and
    * shared columns must keep their type. Silent narrowing/retyping is
    * how a lake table rots: the pinned schema could no longer read the
    * new files back (parquet physical-type mismatch). */
  private def widen(pinned: StructType, incoming: StructType): StructType = {
    incoming.foreach { f =>
      pinned.find(_.name == f.name).foreach { old =>
        require(old.dataType == f.dataType,
          s"schema conflict on '${f.name}': table has ${old.dataType}, " +
            s"commit has ${f.dataType}")
      }
    }
    StructType(pinned.fields ++
      incoming.fields.filterNot(f => pinned.fieldNames.contains(f.name)))
  }

  /** Commit `df` as the next snapshot. `append = true` carries the
    * previous snapshot's files forward; `false` replaces the listing
    * (the data files it replaced remain on disk for time travel).
    * Returns the new version. */
  def commit(spark: SparkSession, table: String, df: DataFrame,
      append: Boolean = true): Long =
    commitWithMeta(spark, table, df, append, meta = Seq.empty)

  /** Idempotent commit for streaming `foreachBatch`: micro-batch
    * `batchId` is recorded in the manifest; a replayed batch (restart
    * after a crash between sink write and checkpoint advance — the gap
    * exactly-once sinks must close) is detected and skipped, so the
    * sink commits each batch ONCE no matter how often it is retried.
    * The markers ride every later commit, rewrites included. */
  def commitBatch(spark: SparkSession, table: String, df: DataFrame,
      batchId: Long): Long = {
    val prev = current(table)
    if (prev.meta.contains(s"#batch=$batchId")) prev.version
    else commitWithMeta(spark, table, df, append = true, meta = Seq(s"#batch=$batchId"), prev)
  }

  /** Blind append or overwrite: `df` is written first and the base is
    * the current version after the write ([[current]]; `known` when the
    * caller already read that version). An append pins the table's
    * schema widened by `df`'s ([[widen]]); an overwrite pins `df`'s own. */
  private[graft] def commitWithMeta(spark: SparkSession, table: String,
      df: DataFrame, append: Boolean, meta: Seq[String], known: Manifest = Manifest.empty): Long = {
    val dataDir = newDataDir(table)
    df.write.parquet(dataDir.toString)
    val base = current(table, known)
    if (append) publish(spark, table, base, widen(base.schema, df.schema),
      base.entries, dataDir, meta)
    else publish(spark, table, base, df.schema, Seq.empty, dataDir, meta)
  }

  /** Drop all manifests older than the `keepLast` most recent and delete
    * data files no surviving manifest references — the GC pass that
    * bounds time-travel history (Iceberg's expire_snapshots). A file
    * is deleted only when NO kept manifest lists it, so readers pinned
    * to kept versions only hold kept files. A reader pinned to an
    * EXPIRED version is not protected: the files only it lists are
    * deleted under it, and its next scan fails on a missing file
    * (nothing here tracks open readers). `keepLast >= 1`: the newest
    * manifest is the current version. */
  def expireSnapshots(table: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast = $keepLast would expire the current version")
    val all = versions(table)
    if (all.size <= keepLast) return Seq.empty
    val (drop, keep) = all.splitAt(all.size - keepLast)
    val kept = keep.flatMap(v => entries(table, v)).map(_.path).toSet
    val dropped = drop.flatMap(v => entries(table, v).map(_.path)).distinct.filterNot(kept)
    val (fs, _) = under(table, "data")
    drop.foreach(v => fs.delete(manifestPath(table, v)._2, false))
    dropped.foreach(f => fs.delete(new Path(f), false))
    dropped
  }

  /** Delete data directories no manifest references — the debris of
    * commits that crashed (or lost the optimistic-concurrency race)
    * between the data write and the manifest write. Such dirs are
    * invisible to every reader (manifests are the source of truth), so
    * reclaiming them is pure storage hygiene; a real deployment adds a
    * modification-time grace period so an IN-FLIGHT commit's dir isn't
    * swept before its manifest lands. Returns the removed dirs. */
  def vacuumOrphans(table: String): Seq[String] = {
    val (fs, dataRoot) = under(table, "data")
    val referenced = versions(table).flatMap(v => entries(table, v))
      .map(e => new Path(e.path).getParent.getName).toSet
    val orphans = list(fs, dataRoot)
      .filter(d => d.isDirectory && !referenced.contains(d.getPath.getName))
      .map(_.getPath)
    orphans.foreach(fs.delete(_, true))
    orphans.map(_.toString)
  }

  /** MERGE (upsert) by key — Delta/Iceberg's copy-on-write shape: rows
    * in `updates` replace current rows with the same key, new keys
    * append, everything else carries forward; the result commits as one
    * new snapshot (old versions keep time-traveling).
    *
    * Cost scales with the AFFECTED files, not the table — the property
    * that makes weekly upserts affordable at 100 TB. Two-stage prune:
    * (1) the manifest's per-file [min,max] on `key` drops every file
    * whose range cannot intersect the updates' key range (pure metadata,
    * no file opened); (2) the surviving candidates are scanned ONCE with
    * a key semi-join against the updates to find the files that actually
    * hold a matched key (Delta's touched-file discovery). Only those are
    * rewritten (anti-join out the matched rows, union the updates in);
    * every other file enters the new manifest by reference. A merge of
    * purely-new keys rewrites nothing — it appends. The anti-join ships
    * only keys, the same discipline as [[Ingest.ingest]]'s dedup;
    * merge-on-read (delete vectors) is the alternative when updates are
    * frequent and tiny. */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      key: String): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val base = committed(table)
    val all = base.entries
    // same no-silent-retyping contract as append commits
    val schema = widen(base.schema, updates.schema)
    // updates feed the range agg, the semi probe, and the final union —
    // pin them once rather than recompute the (arbitrary) source plan
    val upd = updates.localCheckpoint()
    try {
      if (upd.isEmpty) return base.version // empty update set: metadata no-op
      // MERGE maintains key uniqueness per snapshot (rowChanges and every
      // consumer depend on it) — an update set carrying the same key
      // twice, or a NULL key (which no equi-join can ever match), would
      // silently break that invariant INSIDE the committed table, so it
      // fails the commit instead. One aggregate over the already-pinned
      // update set; cost is update-scale, not table-scale.
      val bad = upd.groupBy(col(key)).agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("__n"))
        .filter(col("__n") > 1 || col(key).isNull)
        .limit(1).collect()
      require(bad.isEmpty,
        if (bad.nonEmpty && bad(0).isNullAt(0))
          s"merge updates carry a NULL '$key' — a null key matches no row"
        else
          s"merge updates carry duplicate '$key' — upsert semantics " +
            "need one update row per key")
      // stage 1: manifest stats. Footer stats exist only for integral
      // columns — a non-integral key keeps every file a candidate (the
      // semi-join stage still prunes exactly).
      val integralKey = {
        import org.apache.spark.sql.types._
        upd.schema(key).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
      val candidates = if (!integralKey) all else {
        val kr = upd.agg(min(col(key).cast("long")).as("lo"),
          max(col(key).cast("long")).as("hi")).head()
        val (kLo, kHi) = (kr.getLong(0), kr.getLong(1))
        all.filter(_.overlaps(key, kLo, kHi))
      }
      def readFiles(es: Seq[FileEntry]): DataFrame = readUnder(spark, schema, es.map(_.path))
      val fs = under(table, "data")._1
      def qualified(p: Path): Path = fs.makeQualified(p)
      // stage 2: one candidate scan → file paths holding a matched key.
      // The collect is FILE-count bounded (manifest scale, not data).
      val touchedPaths: Set[Path] =
        if (candidates.isEmpty) Set.empty
        else readFiles(candidates)
          .select(input_file_name().as("__file"), col(key))
          .join(upd.select(key), Seq(key), "left_semi")
          .select("__file").distinct()
          .collect().map(r => qualified(new Path(new java.net.URI(r.getString(0))))).toSet
      // representation guard: input_file_name() URIs and manifest paths
      // compare as qualified Hadoop Paths. Should their forms ever diverge,
      // every touched file would classify as "carried" and the merge would
      // APPEND updates instead of replacing matched rows, breaking key
      // uniqueness. Matched keys were found in stage 2, so every touched
      // path MUST resolve to a manifest entry — assert it.
      val entryPaths = all.map(e => qualified(new Path(e.path))).toSet
      val unmatched = touchedPaths.filterNot(entryPaths.contains)
      require(unmatched.isEmpty,
        s"touched file(s) not resolvable to manifest entries — path " +
          s"representation drift between scan and manifest: " +
          unmatched.take(3).mkString(", "))
      val (touched, carried) =
        all.partition(e => touchedPaths.contains(qualified(new Path(e.path))))
      val out =
        if (touched.isEmpty) upd
        else readFiles(touched).join(upd.select(key), Seq(key), "left_anti")
          .unionByName(upd)
      replace(spark, table, base, touched.map(_.path).toSet, out,
        meta = Seq(s"#merge=$key;touched=${touched.size};carried=${carried.size}"))
    } finally upd.unpersist(blocking = false)
  }

  /** Copy-on-write DELETE with manifest-stat pruning: only files whose
    * footer [min, max] on `column` can contain rows in `[lo, hi]` are
    * read and rewritten; every other file carries into the new snapshot
    * by reference. At 100 TB a delete that touches one day of data
    * rewrites that day's files, not the table — the same stats that
    * prune [[readRange]]'s reads prune this write. A delete whose range
    * overlaps nothing is a pure metadata no-op (no new version). Old
    * versions keep the deleted rows (time travel); [[expireSnapshots]]
    * is the actual destruction step, which is exactly the GDPR-style
    * two-phase contract lakes document. */
  def deleteWhere(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): Long = {
    import org.apache.spark.sql.functions.col
    val base = committed(table)
    val touched = base.entries.filter(_.overlaps(column, lo, hi))
    if (touched.isEmpty) return base.version
    replace(spark, table, base, touched.map(_.path).toSet,
      readUnder(spark, base.schema, touched.map(_.path))
        .filter(!(col(column) >= lo && col(column) <= hi)))
  }

  /** Execute a greedy compaction PLAN — the EXECUTION half of
    * [[graft.operators.ChunkCatalog.chunkCompact]]'s planner (which
    * stays a pure-metadata query): order the current snapshot's files
    * by their manifest min on `column` (the planner's `ORDER BY
    * block_start` — keeps merged files covering contiguous ranges so
    * [[filesForRange]] pruning survives compaction), greedily pack
    * adjacent files by the planner's exact integer arithmetic
    * (`group = (cum − rows) div target`, `target = max(total div
    * groups, 1)`), and rewrite each multi-file group into EXACTLY ONE
    * file. Singleton groups carry into the new manifest by reference —
    * zero bytes moved, the [[merge]]/[[deleteWhere]] rewrite
    * discipline. Each group stages a `coalesce(1)` write into the SAME
    * commit data dir (append mode) and the manifest commits once at the
    * end — the driver loop is group-count bounded (metadata scale) and
    * each group's read-coalesce-write is an independent executor-side
    * job, the embarrassingly-parallel shape the planner's Scaladoc
    * promises. Old versions keep the fragmented layout (time travel
    * intact); SnapshotSpec proves file count = group count with
    * set-equal rows. Like every commit it carries the base's `#` lines,
    * so consumer stamps and batch markers survive maintenance. */
  def compactPlanned(spark: SparkSession, table: String, column: String,
      groups: Int = 8): Long =
    compactPlannedFrom(spark, table, committed(table), column, groups)

  /** [[compactPlanned]] from `base`, a manifest the caller already read. */
  private[graft] def compactPlannedFrom(spark: SparkSession, table: String,
      base: Manifest, column: String, groups: Int): Long = {
    val all = base.entries
    if (all.size < 2) return base.version
    val ordered = all.sortBy(e =>
      (e.stats.get(column).map(_._1).getOrElse(Long.MaxValue), e.path))
    val total = math.max(ordered.map(_.rows).sum, 1L)
    val target = math.max(total / groups, 1L)
    var cum = 0L
    val tagged = ordered.map { e =>
      val start = cum
      cum += e.rows
      (start / target) -> e
    }
    val plan = tagged.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val (multi, single) = plan.partition(_.size > 1)
    if (multi.isEmpty) return base.version // every group already one file: no-op
    val dataDir = newDataDir(table)
    // one staged single-file write per group — NOT a union of
    // coalesce(1) frames, which the planner is free to collapse back
    // into one partition (observed: one output file for the whole plan)
    multi.foreach { g =>
      readUnder(spark, base.schema, g.map(_.path)).coalesce(1)
        .write.mode("append").parquet(dataDir.toString)
    }
    publish(spark, table, base, base.schema, single.flatten, dataDir,
      meta = Seq(s"#compacted=planned($column,groups=${plan.size})"))
  }

  /** OPTIMIZE ZORDER: rewrite the current snapshot's data files
    * clustered by the Morton interleave of two columns, so the per-file
    * min/max stats the manifest already records ([[filesForRange]],
    * [[deleteWhere]]) prune on BOTH dimensions — the lakehouse answer
    * to "sort order can only serve one column". Rows are unchanged
    * (SnapshotSpec proves set equality); only layout and therefore
    * pruning improves, and the rewrite is one range-partitioned sort —
    * the same shuffle a global sort pays, amortized over every future
    * read. Bucket scaling is integer arithmetic off a single min/max
    * row (metadata-scale driver state); history keeps the old layout
    * (time travel is unaffected). */
  def optimizeZorder(spark: SparkSession, table: String,
      colA: String, colB: String, bits: Int = 8,
      targetRows: Long = 1000000L): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit, max, min}
    val base = committed(table)
    val df0 = base.read(spark)
    val mm = df0.agg(
      min(col(colA).cast("long")).as("a_lo"), max(col(colA).cast("long")).as("a_hi"),
      min(col(colB).cast("long")).as("b_lo"), max(col(colB).cast("long")).as("b_hi"))
      .head()
    // empty snapshot or all-NULL cluster column ⇒ min/max are NULL:
    // nothing to cluster, keep the current layout (no-op, not an NPE)
    if ((0 to 3).exists(mm.isNullAt)) return base.version
    val (aLo, aHi, bLo, bHi) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    val nb = (1 << bits) - 1
    def bucket(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0)
      else expr(s"cast(((cast($c as bigint) - ${lo}L) * $nb) div ${hi - lo}L as int)")
    val z = Formats.zInterleaveCol(
      bucket(colA, aLo, aHi), bucket(colB, bLo, bHi), bits)
    val rows = base.entries.map(_.rows).sum
    val nOut = math.max(1L, math.ceil(rows.toDouble / targetRows).toLong).toInt
    replace(spark, table, base, base.paths.toSet,
      df0.withColumn("__z", z)
        .repartitionByRange(nOut, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"),
      meta = Seq(s"#optimized=zorder($colA,$colB,bits=$bits)"))
  }

  /** Read the current snapshot (resolves the current version once). */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, currentVersion(table))

  /** Time travel: read snapshot `version` as of its commit, under the
    * schema that version pinned — files older than a column read it as
    * null, and a version committed BEFORE a column was added never
    * shows it (schema time travel rides along with data time travel).
    * One manifest read ([[Manifest.read]]). */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    require(version > 0, s"no committed snapshot in $table")
    manifest(table, version).read(spark)
  }

  /** Read data files under a pinned schema. No paths reads as an empty
    * frame of exactly that schema. */
  private def readUnder(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  // ------------------------------------------------------- change feed

  /** Data files in `to`'s manifest but not `from`'s — pure manifest
    * math, no data read. */
  def addedFiles(table: String, from: Long, to: Long): Seq[String] =
    manifest(table, to).pathsNotIn(manifest(table, from))

  /** Data files in `from`'s manifest but not `to`'s. */
  def removedFiles(table: String, from: Long, to: Long): Seq[String] =
    manifest(table, from).pathsNotIn(manifest(table, to))

  /** Change-data feed for an APPEND-ONLY version range: every row
    * committed after `from` up to `to`, tagged `_change_type='insert'`.
    * Reads ONLY the delta files the manifest diff names — at 100 TB an
    * incremental consumer scans the day's commits, never the table
    * (the reason manifests, not directory listings, are the source of
    * truth). Refuses ranges containing overwrite/merge commits, where
    * file-level addition ≠ row-level insertion — use [[rowChanges]]. */
  def changesBetween(spark: SparkSession, table: String,
      from: Long, to: Long): DataFrame = {
    require(from >= 1 && to >= from, s"bad version range $from..$to")
    val (a, b) = (manifest(table, from), manifest(table, to))
    val removed = a.pathsNotIn(b)
    require(removed.isEmpty,
      s"versions $from..$to removed ${removed.size} file(s) " +
        "(overwrite/merge in range) — file adds are not row inserts; " +
        "use rowChanges for copy-on-write ranges")
    import org.apache.spark.sql.functions.lit
    // read under `to`'s pinned schema so a feed spanning a schema
    // change is uniformly shaped
    readUnder(spark, b.schema, b.pathsNotIn(a))
      .withColumn("_change_type", lit("insert"))
  }

  /** Row-level change feed across arbitrary commits (including
    * copy-on-write MERGE/overwrite): classifies each changed row as
    * `insert` / `delete` / `update_postimage` by `key`. Touches only
    * the files the manifest diff names on EITHER side; the bag-diff
    * (`exceptAll`) then cancels rows that were merely rewritten
    * unchanged — the standard way to recover a change feed from a COW
    * table that doesn't journal per-row changes (what Delta computes
    * when CDF isn't materialized). Assumes `key` is unique per
    * snapshot, which [[merge]] maintains.
    *
    * `includePreimages = true` additionally emits each updated row's OLD
    * value tagged `update_preimage` — the full Delta-CDF row contract,
    * and the piece an incremental aggregate consumer needs to SUBTRACT
    * before adding the postimage ([[MaterializedView.refresh]]). */
  def rowChanges(spark: SparkSession, table: String,
      from: Long, to: Long, key: String,
      includePreimages: Boolean = false): DataFrame = {
    require(from >= 1 && to >= from, s"bad version range $from..$to")
    import org.apache.spark.sql.functions.lit
    // both sides read under `to`'s pinned schema: pre-evolution files
    // surface added columns as null, keeping the bag-diff well-typed
    val (a, b) = (manifest(table, from), manifest(table, to))
    val before = readUnder(spark, b.schema, a.pathsNotIn(b))
    val after = readUnder(spark, b.schema, b.pathsNotIn(a))
    val changedAfter = after.exceptAll(before)   // new or modified rows
    val changedBefore = before.exceptAll(after)  // deleted rows + pre-images
    val beforeKeys = before.select(key)
    val afterKeys = after.select(key)
    val core = changedAfter.join(beforeKeys, Seq(key), "left_semi")
      .withColumn("_change_type", lit("update_postimage"))
      .unionByName(changedAfter.join(beforeKeys, Seq(key), "left_anti")
        .withColumn("_change_type", lit("insert")))
      .unionByName(changedBefore.join(afterKeys, Seq(key), "left_anti")
        .withColumn("_change_type", lit("delete")))
    if (!includePreimages) core
    else core.unionByName(
      changedBefore.join(afterKeys, Seq(key), "left_semi")
        .withColumn("_change_type", lit("update_preimage")))
  }

  /** Data files of `version` whose manifest stats overlap `[lo, hi]` on
    * `column` — files with no stats for the column are conservatively
    * kept. Exposed so tests can assert the skip actually happens. */
  def filesForRange(table: String, version: Long, column: String,
      lo: Long, hi: Long): Seq[String] =
    entries(table, version).filter(_.overlaps(column, lo, hi)).map(_.path)

  /** Data files of `version` whose manifest string stats on `column`
    * can hold `value` — the [[filesForRange]] of a string column, such as
    * the chunk catalog's `dataset_id`. Files with no stats for the
    * column are conservatively kept. */
  def filesForValue(table: String, version: Long, column: String,
      value: String): Seq[String] =
    entries(table, version).filter(_.mayHold(column, value)).map(_.path)

  /** Range read with MANIFEST-LEVEL pruning: files whose [min, max] on
    * `column` cannot contain the range are never handed to the reader —
    * at 100 TB this is the difference between opening every snapshot
    * file's footer and opening only the overlapping ones (same move as
    * partition pruning, one level earlier than parquet row-group skip).
    * The residual predicate still applies row-exactly on what remains.
    * Read under the version's pinned schema, like [[readVersion]]: the
    * kept files may all predate a later-added column. */
  def readRange(spark: SparkSession, table: String, version: Long,
      column: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = manifest(table, version)
    readUnder(spark, m.schema, m.entries.filter(_.overlaps(column, lo, hi)).map(_.path))
      .filter(col(column) >= lo && col(column) <= hi)
  }
}
