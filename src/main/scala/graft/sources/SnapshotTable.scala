package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest/snapshot table commits — the lake-scale transaction the
  * directory-swap in [[Ingest.compact]]/[[Ingest.deleteChunk]] stands in
  * for locally. The reference swaps RocksDB column families under a lock
  * (/root/reference/src/rocksdb_storage_engine.rs:105-136); at 100 TB on
  * an object store neither a lock nor a directory rename exists, so the
  * industry shape (Iceberg/Delta) is:
  *
  *  - data files are IMMUTABLE and written to unique paths, so a commit
  *    never overwrites anything a reader could be holding;
  *  - a snapshot is a MANIFEST (complete file listing + stats), written
  *    whole-or-absent;
  *  - publishing is one atomic pointer swap (HEAD → manifest-N). Locally
  *    that is `Files.move(ATOMIC_MOVE)`; on S3/GCS it becomes a
  *    conditional PUT (If-Match) or a metastore CAS — the single line
  *    that changes per deployment.
  *
  * Readers resolve HEAD once and then read only immutable paths: they
  * see a consistent snapshot regardless of concurrent commits, and old
  * versions stay readable (time travel) until a GC pass drops manifests.
  *
  * Layout: `<table>/data/<uuid>/part-*.parquet`,
  * `<table>/manifests/manifest-<version>`, `<table>/HEAD`.
  */
object SnapshotTable {

  /** One manifest entry: a data file plus its footer-derived row count
    * and per-column min/max for integral/timestamp columns — the stats
    * that let a snapshot read prune files the way the main catalog's
    * sorted parquet layout prunes row groups (Iceberg's manifest stats;
    * the order-preserving analog of the reference's big-endian key
    * clustering, /root/reference/src/rocksdb_storage_engine.rs:180-192). */
  final case class FileEntry(path: String, rows: Long,
      stats: Map[String, (Long, Long)]) {
    def render: String = {
      val st = stats.toSeq.sorted
        .map { case (c, (lo, hi)) => s"$c=$lo:$hi" }.mkString(";")
      s"$path|rows=$rows|$st"
    }
  }

  private def parseEntry(line: String): FileEntry = {
    val parts = line.split('|')
    // pre-stats manifests carried bare paths — keep them readable
    if (parts.length == 1) FileEntry(parts(0), -1L, Map.empty)
    else {
      val rows = parts(1).stripPrefix("rows=").toLong
      val stats = parts.lift(2).filter(_.nonEmpty).map { s =>
        s.split(';').map { kv =>
          val Array(c, range) = kv.split('=')
          val Array(lo, hi) = range.split(':')
          c -> (lo.toLong, hi.toLong)
        }.toMap
      }.getOrElse(Map.empty)
      FileEntry(parts(0), rows, stats)
    }
  }

  private def manifestDir(table: String): Path = Paths.get(table, "manifests")
  private def headPath(table: String): Path = Paths.get(table, "HEAD")

  private def writeManifest(table: String, version: Long, lines: Seq[String],
      rows: Long): Path = {
    val p = manifestDir(table).resolve(f"manifest-$version%05d")
    val body = (s"version=$version" +: s"rows=$rows" +: lines).mkString("\n")
    Files.createDirectories(p.getParent)
    // CREATE_NEW is the optimistic-concurrency gate: two writers racing
    // from the same base both compute version N+1, and exactly one may
    // own that manifest name — the loser fails here BEFORE the HEAD
    // swap, leaving only an orphan data dir (vacuumOrphans reclaims
    // it). On S3 this line becomes a conditional PUT (If-None-Match),
    // the same single line that changes for HEAD (SURVEY §3.1).
    try
      Files.write(p, body.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          f"manifest-$version%05d already committed by a concurrent " +
            "writer — re-read HEAD and retry the commit")
    }
    p
  }

  private def readManifest(p: Path): (Long, Long, Seq[String]) = {
    val lines = Files.readAllLines(p).asScala.toSeq
    val version = lines.head.stripPrefix("version=").toLong
    val rows = lines(1).stripPrefix("rows=").toLong
    (version, rows, lines.drop(2))
  }

  /** Committed [[FileEntry]]s of `version` (metadata lines excluded). */
  def entries(table: String, version: Long): Seq[FileEntry] =
    readManifest(manifestDir(table).resolve(f"manifest-$version%05d"))._3
      .filterNot(_.startsWith("#")).map(parseEntry)

  /** Footer scrape: row count + integral-column min/max per just-written
    * file. Reads METADATA ONLY (the parquet writer already computed the
    * stats; the footer is a few KB at the file tail) — the data itself is
    * never re-read, unlike the `spark.read.parquet(...).count()` this
    * replaced, which re-scanned the whole commit. On a cluster the same
    * numbers arrive for free as task-side write metrics; footer reads are
    * the single-node stand-in with identical results. */
  private def scrapeFooter(conf: org.apache.hadoop.conf.Configuration,
      file: String): FileEntry = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val reader = org.apache.parquet.hadoop.ParquetFileReader
      .open(conf, new org.apache.hadoop.fs.Path(file))
    try {
      val blocks = reader.getRowGroups.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = scala.collection.mutable.Map.empty[String, (Long, Long)]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val tpe = c.getPrimitiveType.getPrimitiveTypeName
        val st = c.getStatistics
        val name = c.getPath.toDotString
        // stats are an OPTIMIZATION — a column whose footer min/max is
        // not Number-typed, or whose name collides with the manifest
        // delimiters (| ; = : newline), is simply recorded without stats
        // rather than failing the commit
        val safeName = !name.exists("|;=:\n\r".contains(_))
        if ((tpe == INT64 || tpe == INT32) && st != null &&
            st.hasNonNullValue && safeName) {
          (st.genericGetMin, st.genericGetMax) match {
            case (a: Number, b: Number) =>
              val (lo, hi) = (a.longValue(), b.longValue())
              val cur = stats.get(name)
              stats(name) = (cur.fold(lo)(p => math.min(p._1, lo)),
                cur.fold(hi)(p => math.max(p._2, hi)))
            case _ => ()
          }
        }
      }
      FileEntry(file, rows, stats.toMap)
    } finally reader.close()
  }

  /** Current committed version, or 0 if the table is empty. */
  def currentVersion(table: String): Long = {
    val h = headPath(table)
    if (Files.exists(h))
      new String(Files.readAllBytes(h), StandardCharsets.UTF_8)
        .trim.stripPrefix("manifest-").toLong
    else 0L
  }

  /** All committed versions, oldest first (every one is time-travelable). */
  def versions(table: String): Seq[Long] = {
    val d = manifestDir(table)
    if (!Files.exists(d)) Seq.empty
    else Files.list(d).iterator().asScala
      .map(_.getFileName.toString.stripPrefix("manifest-").toLong)
      .toSeq.sorted
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
    * sink commits each batch ONCE no matter how often it is retried. */
  def commitBatch(spark: SparkSession, table: String, df: DataFrame,
      batchId: Long): Long = {
    val prev = currentVersion(table)
    if (prev > 0) {
      val (_, _, lines) = readManifest(
        manifestDir(table).resolve(f"manifest-$prev%05d"))
      // committed batch ids ride in the manifest as comment lines
      if (lines.exists(_ == s"#batch=$batchId")) return prev
    }
    commitWithMeta(spark, table, df, append = true, meta = Seq(s"#batch=$batchId"))
  }

  private[graft] def commitWithMeta(spark: SparkSession, table: String,
      df: DataFrame, append: Boolean, meta: Seq[String]): Long = {
    val dataDir = Paths.get(table, "data", UUID.randomUUID().toString)
    df.write.parquet(dataDir.toString)
    val conf = spark.sessionState.newHadoopConf()
    // row counts + pruning stats come from the parquet FOOTERS the write
    // just produced — one metadata read per file, zero data re-scan
    // (SnapshotSpec pins the action count per commit)
    val newEntries = Files.list(dataDir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      .map(f => scrapeFooter(conf, f))
    val newFiles = newEntries.map(_.render)
    val newRows = newEntries.map(_.rows).sum
    val prev = currentVersion(table)
    val (prevRows, prevLines) =
      if (append && prev > 0) {
        val (_, r, f) = readManifest(manifestDir(table).resolve(f"manifest-$prev%05d"))
        (r, f)
      } else (0L, Seq.empty[String])
    val version = prev + 1
    // the manifest records the COMMIT's schema — readers apply it
    // explicitly instead of inferring from data files, so adding a
    // column is a metadata change: files committed before it simply
    // read the new column as null, no rewrite, no mergeSchema
    // footer-sweep over every file (the Iceberg/Delta shape). Only the
    // newest schema line survives; each version's manifest pins the
    // schema its readers should see. Appends UNION-widen (prior columns
    // survive even if this batch omits them) and shared columns must
    // keep their type — silent narrowing/retyping is how a lake table
    // rots.
    val pinned = (if (append && prev > 0) schemaOf(table, prev) else None) match {
      case Some(ps) =>
        df.schema.foreach { f =>
          ps.find(_.name == f.name).foreach { old =>
            require(old.dataType == f.dataType,
              s"schema conflict on '${f.name}': table has ${old.dataType}, " +
                s"commit has ${f.dataType}") }
        }
        org.apache.spark.sql.types.StructType(
          ps.fields ++ df.schema.fields.filterNot(f => ps.fieldNames.contains(f.name)))
      case None => df.schema
    }
    val schemaLine = s"#schema=${pinned.json}"
    val carried = prevLines.filterNot(_.startsWith("#schema="))
    // carry prior batch markers forward so replay detection sees history
    writeManifest(table, version,
      (schemaLine +: meta) ++ carried ++ newFiles, prevRows + newRows)
    val tmp = headPath(table).resolveSibling(s"HEAD.tmp-${UUID.randomUUID()}")
    Files.write(tmp, f"manifest-$version%05d".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, headPath(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    version
  }

  /** Drop all manifests older than the `keepLast` most recent and delete
    * data files no surviving manifest references — the GC pass that
    * bounds time-travel history (Iceberg's expire_snapshots). Safe by
    * construction: a file is deleted only when NO kept manifest lists
    * it, and readers pinned to kept versions only hold kept files. */
  def expireSnapshots(table: String, keepLast: Int): Seq[String] = {
    val all = versions(table)
    if (all.size <= keepLast) return Seq.empty
    val (drop, keep) = all.splitAt(all.size - keepLast)
    val kept = keep.flatMap { v =>
      readManifest(manifestDir(table).resolve(f"manifest-$v%05d"))._3
    }.filterNot(_.startsWith("#")).map(parseEntry(_).path).toSet
    val dropped = drop.flatMap { v =>
      val p = manifestDir(table).resolve(f"manifest-$v%05d")
      val files = readManifest(p)._3.filterNot(_.startsWith("#"))
        .map(parseEntry(_).path)
      Files.delete(p)
      files
    }.distinct.filterNot(kept)
    dropped.foreach(f => Files.deleteIfExists(Paths.get(f)))
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
    val dataRoot = Paths.get(table, "data")
    if (!Files.exists(dataRoot)) return Seq.empty
    val referenced = versions(table).flatMap(v => entries(table, v))
      .map(e => Paths.get(e.path).getParent.getFileName.toString).toSet
    val orphans = Files.list(dataRoot).iterator().asScala
      .filter(d => Files.isDirectory(d) &&
        !referenced.contains(d.getFileName.toString))
      .toSeq
    orphans.foreach { d =>
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
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
    val v = currentVersion(table)
    require(v > 0, s"no committed snapshot in $table")
    val all = entries(table, v)
    val schema = schemaOf(table, v)
    // updates feed the range agg, the semi probe, and the final union —
    // pin them once rather than recompute the (arbitrary) source plan
    // same no-silent-retyping contract as append commits: a widened or
    // narrowed update column would write files the pinned schema can no
    // longer read back (parquet physical-type mismatch)
    schema.foreach { st =>
      updates.schema.foreach { f =>
        st.find(_.name == f.name).foreach { old =>
          require(old.dataType == f.dataType,
            s"schema conflict on '${f.name}': table has ${old.dataType}, " +
              s"updates have ${f.dataType}")
        }
      }
    }
    val upd = updates.localCheckpoint()
    try {
      if (upd.isEmpty) return v // empty update set: metadata no-op
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
        all.filter(_.stats.get(key).forall {
          case (mn, mx) => mx >= kLo && mn <= kHi
        })
      }
      def readFiles(fs: Seq[FileEntry]): DataFrame = readUnder(spark, schema, fs.map(_.path))
      // stage 2: one candidate scan → file paths holding a matched key.
      // The collect is FILE-count bounded (manifest scale, not data).
      val touchedPaths: Set[String] =
        if (candidates.isEmpty) Set.empty
        else readFiles(candidates)
          .select(input_file_name().as("__file"), col(key))
          .join(upd.select(key), Seq(key), "left_semi")
          .select("__file").distinct()
          .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
      // representation guard: input_file_name() URIs and manifest paths
      // are produced by DIFFERENT code (Hadoop FS vs java.nio) — if
      // their normal forms ever diverge (scheme prefix, double slash,
      // symlinked root), the partition below would silently classify
      // every touched file as "carried" and the merge would APPEND
      // updates instead of replacing matched rows, breaking key
      // uniqueness inside the committed snapshot. Matched keys were
      // found in stage 2, so every touched path MUST resolve to a
      // manifest entry — assert it rather than corrupt the table.
      val entryPaths = all.map(e => Paths.get(e.path).toAbsolutePath.toString).toSet
      val unmatched = touchedPaths.filterNot(entryPaths.contains)
      require(unmatched.isEmpty,
        s"touched file(s) not resolvable to manifest entries — path " +
          s"representation drift between scan and manifest: " +
          unmatched.take(3).mkString(", "))
      val (touched, carried) = all.partition(e => touchedPaths.contains(
        Paths.get(e.path).toAbsolutePath.toString))
      val out =
        if (touched.isEmpty) upd
        else readFiles(touched).join(upd.select(key), Seq(key), "left_anti")
          .unionByName(upd)
      commitRewrite(spark, table, out, carried,
        schema.getOrElse(upd.schema),
        meta = Seq(s"#merge=$key;touched=${touched.size};carried=${carried.size}"))
    } finally upd.unpersist(blocking = false)
  }

  /** Commit a REWRITE: `carried` files enter the new manifest by
    * reference (same path, same stats — zero bytes moved) while `df`
    * is written out as the replacement for whatever the caller chose to
    * rewrite. This is the primitive under [[deleteWhere]] and
    * [[compact]]: both are "touch few files, re-list the rest", which
    * is the only shape that survives 100 TB — an operation whose cost
    * scales with the AFFECTED data, not the table. Zero-row output
    * files are dropped from the listing (a delete that empties a file
    * should shrink the manifest, not pad it). */
  private def commitRewrite(spark: SparkSession, table: String,
      df: DataFrame, carried: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      meta: Seq[String]): Long = {
    val dataDir = Paths.get(table, "data", UUID.randomUUID().toString)
    df.write.parquet(dataDir.toString)
    finishRewrite(spark, table, dataDir, carried, schema, meta)
  }

  /** Manifest half of a rewrite commit: scrape footers of whatever the
    * caller wrote under `dataDir`, list `carried` by reference, swap
    * HEAD. Split out so [[compactPlanned]] can stage SEVERAL writes
    * (one per plan group) into one dataDir and still commit once. */
  private def finishRewrite(spark: SparkSession, table: String,
      dataDir: Path, carried: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      meta: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val newEntries = Files.list(dataDir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      .map(f => scrapeFooter(conf, f)).filter(_.rows > 0)
    val lines = (carried ++ newEntries).map(_.render)
    val rows = (carried ++ newEntries).map(_.rows).sum
    val version = currentVersion(table) + 1
    writeManifest(table, version,
      (s"#schema=${schema.json}" +: meta) ++ lines, rows)
    val tmp = headPath(table).resolveSibling(s"HEAD.tmp-${UUID.randomUUID()}")
    Files.write(tmp, f"manifest-$version%05d".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, headPath(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    version
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
    val v = currentVersion(table)
    require(v > 0, s"no committed snapshot in $table")
    val all = entries(table, v)
    val (touched, untouched) = all.partition { e =>
      e.stats.get(column).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    if (touched.isEmpty) return v
    val schema = schemaOf(table, v)
    val base = readUnder(spark, schema, touched.map(_.path))
    val kept = base.filter(!(col(column) >= lo && col(column) <= hi))
    commitRewrite(spark, table, kept, untouched,
      schema.getOrElse(base.schema), meta = Seq.empty)
  }

  /** OPTIMIZE / bin-pack: coalesce files smaller than `targetRows` into
    * ~`targetRows`-sized ones, carrying already-right-sized files by
    * reference. Small files are the classic lake failure mode — every
    * streaming micro-batch commit adds a few, and a year later a scan
    * opens a million footers. Compaction is a normal snapshot commit:
    * readers pinned to old versions still see the small files until
    * [[expireSnapshots]] reclaims them, and the data is bit-for-bit the
    * same (the spec asserts set-equality). `coalesce`, not
    * `repartition`: bin-packing needs no shuffle, just fewer, fuller
    * writers. */
  def compact(spark: SparkSession, table: String,
      targetRows: Long): Long = {
    val v = currentVersion(table)
    require(v > 0, s"no committed snapshot in $table")
    val all = entries(table, v)
    val (small, large) = all.partition(e => e.rows >= 0 && e.rows < targetRows)
    if (small.size < 2) return v
    val schema = schemaOf(table, v)
    val df = readUnder(spark, schema, small.map(_.path))
    val nOut = math.max(1L,
      math.ceil(small.map(_.rows).sum.toDouble / targetRows).toLong).toInt
    commitRewrite(spark, table, df.coalesce(nOut), large,
      schema.getOrElse(df.schema), meta = Seq.empty)
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
    * set-equal rows.
    *
    * `extraMeta` lines ride the compaction commit: a consumer-owned
    * stamp (e.g. [[graft.operators.IncrementalDedup]]'s
    * `#band_index_format`) lives in the NEWEST manifest, and a
    * maintenance rewrite that dropped it would fail the consumer's own
    * format guard on the next batch — maintenance must never strand
    * the table it maintains (r19, found by the inc-dedup growth probe). */
  def compactPlanned(spark: SparkSession, table: String, column: String,
      groups: Int = 8, extraMeta: Seq[String] = Seq.empty): Long = {
    val v = currentVersion(table)
    require(v > 0, s"no committed snapshot in $table")
    val all = entries(table, v)
    if (all.size < 2) return v
    val ordered = all.sortBy(e =>
      (e.stats.get(column).map(_._1).getOrElse(Long.MaxValue), e.path))
    val total = math.max(ordered.map(e => math.max(e.rows, 0L)).sum, 1L)
    val target = math.max(total / groups, 1L)
    var cum = 0L
    val tagged = ordered.map { e =>
      val start = cum
      cum += math.max(e.rows, 0L)
      (start / target) -> e
    }
    val plan = tagged.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val (multi, single) = plan.partition(_.size > 1)
    if (multi.isEmpty) return v // every group already one file: no-op
    val schema = schemaOf(table, v)
    def readFiles(fs: Seq[FileEntry]): DataFrame = readUnder(spark, schema, fs.map(_.path))
    val dataDir = Paths.get(table, "data", UUID.randomUUID().toString)
    // one staged single-file write per group — NOT a union of
    // coalesce(1) frames, which the planner is free to collapse back
    // into one partition (observed: one output file for the whole plan)
    multi.foreach { g =>
      readFiles(g).coalesce(1).write.mode("append").parquet(dataDir.toString)
    }
    finishRewrite(spark, table, dataDir, single.flatten,
      schema.getOrElse(readFiles(all).schema),
      meta = s"#compacted=planned($column,groups=${plan.size})" +: extraMeta)
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
    import org.apache.spark.sql.functions._
    val v = currentVersion(table)
    require(v > 0, s"no committed snapshot in $table")
    val all = entries(table, v)
    val schema = schemaOf(table, v)
    val df0 = readUnder(spark, schema, all.map(_.path))
    val mm = df0.agg(
      min(col(colA).cast("long")).as("a_lo"), max(col(colA).cast("long")).as("a_hi"),
      min(col(colB).cast("long")).as("b_lo"), max(col(colB).cast("long")).as("b_hi"))
      .head()
    // empty snapshot or all-NULL cluster column ⇒ min/max are NULL:
    // nothing to cluster, keep the current layout (no-op, not an NPE)
    if ((0 to 3).exists(mm.isNullAt)) return v
    val (aLo, aHi, bLo, bHi) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    val nb = (1 << bits) - 1
    def bucket(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0)
      else expr(s"cast(((cast($c as bigint) - ${lo}L) * $nb) div ${hi - lo}L as int)")
    val z = Formats.zInterleaveCol(
      bucket(colA, aLo, aHi), bucket(colB, bLo, bHi), bits)
    val rows = all.map(_.rows).sum
    val nOut = math.max(1L, math.ceil(rows.toDouble / targetRows).toLong).toInt
    val clustered = df0.withColumn("__z", z)
      .repartitionByRange(nOut, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commitRewrite(spark, table, clustered, Seq.empty,
      schema.getOrElse(df0.schema),
      meta = Seq(s"#optimized=zorder($colA,$colB,bits=$bits)"))
  }

  /** Metadata (`#`-prefixed) lines of `version`'s manifest — batch
    * markers, pinned schema, consumer bookmarks like
    * [[MaterializedView]]'s `#basedon`. */
  def manifestMeta(table: String, version: Long): Seq[String] =
    readManifest(manifestDir(table).resolve(f"manifest-$version%05d"))._3
      .filter(_.startsWith("#"))

  /** Read the current snapshot (resolves HEAD exactly once). */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, currentVersion(table))

  /** The schema `version`'s manifest pins, if it was committed with one
    * (pre-schema manifests fall back to file inference). */
  def schemaOf(table: String, version: Long): Option[org.apache.spark.sql.types.StructType] =
    readManifest(manifestDir(table).resolve(f"manifest-$version%05d"))._3
      .find(_.startsWith("#schema="))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("#schema="))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Time travel: read snapshot `version` as of its commit, under the
    * schema that version pinned — files older than a column read it as
    * null, and a version committed BEFORE a column was added never
    * shows it (schema time travel rides along with data time travel). */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    require(version > 0, s"no committed snapshot in $table")
    readUnder(spark, schemaOf(table, version), entries(table, version).map(_.path))
  }

  /** Read data files under a version's pinned schema when it has one
    * (versions committed before schemas were pinned infer it from the
    * files). */
  private def readUnder(spark: SparkSession,
      pinned: Option[org.apache.spark.sql.types.StructType], paths: Seq[String]): DataFrame =
    pinned match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  // ------------------------------------------------------- change feed

  /** Data files in `to`'s manifest but not `from`'s — pure manifest
    * math, no data read. */
  def addedFiles(table: String, from: Long, to: Long): Seq[String] = {
    val before = entries(table, from).map(_.path).toSet
    entries(table, to).map(_.path).filterNot(before)
  }

  /** Data files in `from`'s manifest but not `to`'s. */
  def removedFiles(table: String, from: Long, to: Long): Seq[String] = {
    val after = entries(table, to).map(_.path).toSet
    entries(table, from).map(_.path).filterNot(after)
  }

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
    val removed = removedFiles(table, from, to)
    require(removed.isEmpty,
      s"versions $from..$to removed ${removed.size} file(s) " +
        "(overwrite/merge in range) — file adds are not row inserts; " +
        "use rowChanges for copy-on-write ranges")
    import org.apache.spark.sql.functions.lit
    val added = addedFiles(table, from, to)
    val base =
      if (added.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          readVersion(spark, table, to).schema)
      // read under `to`'s pinned schema so a feed spanning a schema
      // change is uniformly shaped
      else readUnder(spark, schemaOf(table, to), added)
    base.withColumn("_change_type", lit("insert"))
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
    def readFiles(fs: Seq[String]): DataFrame =
      if (fs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          readVersion(spark, table, to).schema)
      else readUnder(spark, schemaOf(table, to), fs)
    val before = readFiles(removedFiles(table, from, to))
    val after = readFiles(addedFiles(table, from, to))
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
    entries(table, version).filter { e =>
      e.stats.get(column).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }.map(_.path)

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
    val files = filesForRange(table, version, column, lo, hi)
    if (files.isEmpty) {
      val schema = readVersion(spark, table, version).schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
      readUnder(spark, schemaOf(table, version), files)
        .filter(col(column) >= lo && col(column) <= hi)
  }
}
