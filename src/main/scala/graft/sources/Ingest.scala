package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The reference's ingest pipeline and chunk catalog (SURVEY.md §2 Part A
  * rows A2-A5, A7, A8, A15, A18) over a parquet catalog partitioned by
  * `dataset_id`.
  *
  * Reference flow (`data_manager.rs:188-276`): download chunk → decode →
  * dedup-on-id (`Entry::Vacant` gate, :223-256) → quota admission
  * (`MAX_SIZE_ON_DISK`, :19, :229-239) → transactional persist
  * (`rocksdb_storage_engine.rs:105-136`) with rollback on error
  * (:258-275). The live catalog sits in memory (`data_manager.rs:21-22`)
  * and find-and-lock probes a range index over it
  * (`rocksdb_storage_engine.rs:34-50`).
  *
  * Spark restatement: the catalog's rows live on disk as parquet, and on
  * the driver as one [[CatalogIndex]] per catalog path — the reference's
  * in-memory map. Every call first checks the index against a fresh
  * `listStatus` walk of the catalog ([[Listing]]): when any parquet file
  * was added, removed or rewritten, by this session or another process,
  * the index is reloaded from exactly the listed files before use. Then:
  *
  *  - [[ingest]] dedups against the index's id set and admits against its
  *    size total, and appends the fresh rows in one write job (Spark's job
  *    commit plays the optimistic transaction, SURVEY.md §3.1);
  *  - [[findChunk]] filters the index's rows for one dataset without a
  *    Spark job;
  *  - [[deleteChunk]] and [[compact]] rewrite the catalog from the index
  *    and promote the rewrite atomically.
  *
  * Each write reloads the index from the listing it left, reading
  * exactly the listed files: the next call pays no reload, and an append
  * another writer made while this one ran is in the index too, since
  * rows and signature come from the same listing. Immutable files make
  * the reference's semaphore pinning/rollback machinery unnecessary
  * (SURVEY.md §1.4).
  * Writers are expected one at a time per catalog, as before: the listing
  * check keeps readers current, it does not serialise writers.
  *
  * Scale: the index holds catalog rows (chunk metadata, tens of bytes
  * each), never chunk data; admission is evaluated against the catalog
  * total at call time, like the reference's "fast (a bit inaccurate)"
  * pre-check (:229-231), not re-checked per row.
  */
object Ingest {

  /** Engine error ADT — models `Error` (`lib.rs:47-59`). */
  sealed trait IngestError
  /** `Error::MaxSizeAllocated` (`lib.rs:51-52`). */
  final case class MaxSizeAllocated(wouldBe: Long, cap: Long) extends IngestError

  final case class IngestResult(
      ingested: Long, deduped: Long, rejected: Option[IngestError])

  /** Schema of a catalog with no parquet files yet. */
  private val EmptySchema = StructType.fromDDL(
    "chunk_id STRING, dataset_id STRING, block_start BIGINT, " +
      "block_end BIGINT, size_bytes BIGINT")

  /** Atomically promote a rewritten catalog at `tmp` over `dst` by
    * renaming the live catalog ASIDE first (never delete-then-rename: a
    * crash between those two steps would leave no live catalog at all).
    * Every crash window leaves a complete catalog at `dst` or at the
    * aside path, so recovery is a single rename — and on `s3a://`,
    * where rename is itself a non-atomic copy, the live data is still
    * never the thing mid-copy. A fresh (not-yet-created) `dst` promotes
    * without an aside step; `FileSystem.delete` returning false for a
    * missing path must not read as failure. Package-visible so
    * IngestSpec can drive the failure branches through a FileSystem
    * wrapper that vetoes the target rename. */
  private[graft] def promote(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dst: Path, what: String): Unit = {
    val aside = new Path(dst.toString + "_old")
    if (fs.exists(aside) && !fs.delete(aside, true))
      throw new IllegalStateException(
        s"$what: could not clear stale aside $aside; rewrite left at $tmp")
    if (fs.exists(dst) && !fs.rename(dst, aside))
      throw new IllegalStateException(
        s"$what: could not move live catalog $dst aside; rewrite left at $tmp")
    if (!fs.rename(tmp, dst)) {
      // restore the previous catalog so the failure is non-destructive
      if (fs.exists(aside)) fs.rename(aside, dst)
      throw new IllegalStateException(
        s"$what: rename $tmp -> $dst failed; previous catalog restored")
    }
    // best-effort: a leftover aside is cleared by the next promote
    if (fs.exists(aside)) fs.delete(aside, true)
  }

  // ------------------------------------------------------ catalog index

  /** Driver-side copy of one catalog: its rows exactly as [[readCatalog]]
    * returns them (schema, column order, partition-column type), and the
    * [[Listing]] signature of the files they were read from. */
  private final case class CatalogIndex(listing: Listing.Signature,
      schema: StructType, rows: Vector[Row]) {
    private def values(name: String): Iterator[Any] = {
      val i = schema.fieldIndex(name)
      rows.iterator.map(_.get(i))
    }
    lazy val byDataset: Map[Any, Vector[Row]] =
      rows.groupBy(_.get(schema.fieldIndex("dataset_id")))
    lazy val ids: Set[Any] = values("chunk_id").filter(_ != null).toSet
    lazy val totalBytes: Long =
      values("size_bytes").collect { case n: Number => n.longValue }.sum
    def frame(spark: SparkSession, rs: Seq[Row] = rows): DataFrame =
      spark.createDataFrame(rs.asJava, schema)
  }

  /** One entry per qualified catalog path; a change replaces the entry. */
  private val indexes = new java.util.concurrent.ConcurrentHashMap[String, CatalogIndex]()

  /** Number of catalog paths indexed in this JVM (tests pin one entry
    * per path). */
  private[graft] def indexedPaths: Int = indexes.size

  /** The index of `catalogPath`, reloaded when the files on disk no
    * longer match the listing it was loaded from. Writes call it once
    * more after they land, so the next call finds the index current. */
  private def index(spark: SparkSession, catalogPath: String): CatalogIndex = {
    val (fs, root) = Listing.fsFor(spark, catalogPath)
    val files = Listing.parquetFiles(fs, root)
    val sig = Listing.signature(files)
    indexes.compute(root.toString, (_, cur) =>
      if (cur != null && cur.listing == sig) cur else load(spark, root, files, sig))
  }

  /** Read the listed files themselves (not a fresh listing of the
    * directory), so the signature and the contents cannot disagree. */
  private def load(spark: SparkSession, root: Path, files: Vector[FileStatus],
      sig: Listing.Signature): CatalogIndex =
    if (files.isEmpty) CatalogIndex(sig, EmptySchema, Vector.empty)
    else {
      val df = spark.read.option("basePath", root.toString)
        .parquet(files.map(_.getPath.toString): _*)
      CatalogIndex(sig, df.schema, df.collect().toVector)
    }

  /** Write catalog rows in one task, sorted by (dataset_id, block_start):
    * one file per dataset partition, with tight parquet min/max row-group
    * stats — the columnar replacement for the reference's
    * order-preserving big-endian key clustering
    * (`rocksdb_storage_engine.rs:180-192`). */
  private def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
      mode: SaveMode, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .sortWithinPartitions("dataset_id", "block_start")
      .write.mode(mode).partitionBy("dataset_id").parquet(path)

  // ------------------------------------------------------ public surface

  /** The catalog as a parquet scan: chunk_id, block_start, block_end,
    * size_bytes (+ free columns), then the partition column dataset_id,
    * typed by Spark's partition inference (numeric-looking ids read back
    * as INT). A catalog with no parquet files reads as an empty frame. */
  def readCatalog(spark: SparkSession, catalogPath: String): DataFrame = {
    val (fs, p) = Listing.fsFor(spark, catalogPath)
    if (Listing.parquetFiles(fs, p).nonEmpty) spark.read.parquet(catalogPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], EmptySchema)
  }

  /** Ingest a batch of chunk rows into the catalog at `catalogPath`.
    *
    * 1. dedup within the batch (first occurrence per chunk_id wins) and
    *    against the index's ids (idempotent replay, A4);
    * 2. quota: if the index's total + incoming exceeds `maxSizeOnDisk`,
    *    reject the whole batch with [[MaxSizeAllocated]] (the reference
    *    rejects per-chunk; batch-level is the job-granularity analog);
    * 3. atomic append, partitioned by dataset_id.
    *
    * Spark jobs: one to dedup the batch within itself, one to write, and
    * the index reload from the files the write left. */
  def ingest(spark: SparkSession, catalogPath: String, batch: DataFrame,
      maxSizeOnDisk: Long = 1000000000000L): IngestResult = {
    val idx = index(spark, catalogPath)
    val byId = Window.partitionBy("chunk_id")
    val n = batch.schema.size
    // the kept row per id carries the id's row count, so the same job
    // yields the batch size
    val kept = batch
      .withColumn("_ingest_n", count(lit(1)).over(byId))
      .withColumn("_ingest_rn", row_number().over(byId
        // order by every column so the kept row is deterministic even
        // when a batch re-sends a chunk_id with corrected fields
        .orderBy("dataset_id", "block_start", "block_end", "size_bytes")))
      .filter(col("_ingest_rn") === 1)
      .collect()
    val id = batch.schema.fieldIndex("chunk_id")
    val size = batch.schema.fieldIndex("size_bytes")
    val fresh = kept.toVector.map(r => Row.fromSeq(r.toSeq.take(n)))
      .filter(r => r.isNullAt(id) || !idx.ids(r.get(id)))
    val deduped = kept.map(_.getLong(n)).sum - fresh.size
    val wouldBe = idx.totalBytes +
      fresh.map(_.get(size)).collect { case v: Number => v.longValue }.sum
    if (wouldBe > maxSizeOnDisk)
      IngestResult(0, deduped, Some(MaxSizeAllocated(wouldBe, maxSizeOnDisk)))
    else {
      if (fresh.nonEmpty) {
        writeRows(spark, fresh, batch.schema, SaveMode.Append, catalogPath)
        index(spark, catalogPath)
      }
      IngestResult(fresh.size, deduped, None)
    }
  }

  /** A7 find: the chunks of `datasetId` whose block range contains
    * `blockNumber` (`block_start <= blockNumber < block_end`; every one
    * of them when ranges overlap), answered from the catalog index — the
    * reference's range-index probe (`rocksdb_storage_engine.rs:34-50`)
    * without a Spark job per call.
    *
    * The result is a local DataFrame with [[readCatalog]]'s schema and
    * column order, holding a snapshot taken at call time: a later write
    * to the catalog does not change a frame already returned. Collecting it
    * launches no job. */
  def findChunk(spark: SparkSession, catalogPath: String,
      datasetId: String, blockNumber: Long): DataFrame = {
    val idx = index(spark, catalogPath)
    val part = idx.schema("dataset_id")
    val candidates =
      if (part.dataType == StringType) idx.byDataset.getOrElse(datasetId, Vector.empty)
      else {
        // a non-string dataset_id (numeric-looking ids) compares under
        // Spark's coercion rules: run the predicate over the distinct ids,
        // one row per dataset, then take the matching datasets' rows
        val keys = idx.byDataset.keys.toSeq.map(Row(_))
        spark.createDataFrame(keys.asJava, StructType(Seq(part)))
          .filter(col("dataset_id") === datasetId).collect().toVector
          .flatMap(k => idx.byDataset(k.get(0)))
      }
    idx.frame(spark, candidates)
      .filter(col("dataset_id") === datasetId &&
        col("block_start") <= blockNumber && lit(blockNumber) < col("block_end"))
  }

  /** Dead-letter decode lane: split a raw text batch into typed good
    * rows and quarantined rows WITH a reason, in ONE cached scan — the
    * production answer to the reference ingest's per-chunk decode
    * `Result` (`data_manager.rs`): at 100 TB a single
    * malformed row must neither kill the job (ANSI throw) nor vanish
    * silently (permissive-null), it must land in a quarantine table a
    * human can replay. All parse lanes are `try_cast` (NULL, never
    * throw); reason precedence is fixed (arity → field casts → range)
    * so the verdict is deterministic per line.
    *
    * The two lanes share ONE cached parse; the cache is owned by the
    * returned [[DecodedBatch]] — call `release()` once both lanes are
    * written, or repeated ingest batches accrete cached partitions for
    * the session lifetime. */
  def decodeWithQuarantine(raw: DataFrame): DecodedBatch = {
    // get() (not [i]) — ANSI mode makes [i] THROW on a short split, the
    // exact failure class this lane exists to absorb
    val f = split(col("line"), ",")
    val parsed = raw
      .select(col("line"), coalesce(get(f, lit(0)), lit("")).as("chunk_id"),
        expr("try_cast(get(split(line, ','), 1) AS BIGINT)").as("dataset_id"),
        expr("try_cast(get(split(line, ','), 2) AS BIGINT)").as("block_start"),
        expr("try_cast(get(split(line, ','), 3) AS BIGINT)").as("block_end"),
        expr("try_cast(get(split(line, ','), 4) AS BIGINT)").as("size_bytes"),
        size(f).as("arity"))
      .withColumn("reason",
        when(col("arity") =!= 5, "wrong_arity")
          .when(length(col("chunk_id")) === 0, "empty_chunk_id")
          .when(col("dataset_id").isNull, "bad_dataset_id")
          .when(col("block_start").isNull || col("block_end").isNull, "bad_block_range")
          .when(col("size_bytes").isNull, "bad_size")
          .when(col("block_end") < col("block_start"), "inverted_range")
          .when(col("size_bytes") < 0, "negative_size")
          .otherwise(lit(null)))
      .cache() // one scan feeds both lanes; never parse the batch twice
    val good = parsed.filter(col("reason").isNull)
      .select("chunk_id", "dataset_id", "block_start", "block_end", "size_bytes")
    val quarantined = parsed.filter(col("reason").isNotNull)
      .select("line", "reason")
    DecodedBatch(good, quarantined, parsed)
  }

  /** Result of [[decodeWithQuarantine]]: both lanes derive from the one
    * cached `parsed` scan; the caller must [[release]] after writing
    * both lanes (the lanes stay usable, recomputed from source). */
  final case class DecodedBatch(good: DataFrame, quarantined: DataFrame,
      private val parsed: DataFrame) {
    def release(): Unit = { parsed.unpersist(blocking = false); () }
  }

  /** Catalog compaction: rewrite each dataset partition's accumulated
    * small append files into one sorted file (the small-files problem —
    * every append job adds files; scans degrade as file count grows).
    * The rewrite is written from the index and promoted atomically like
    * [[deleteChunk]], with the same reader and writer caveats. Returns
    * the row count. */
  def compact(spark: SparkSession, catalogPath: String): Long = {
    val idx = index(spark, catalogPath)
    rewrite(spark, catalogPath, idx, idx.rows, "_compact", "compact")
  }

  /** A8/A14 delete path: rewrite the catalog without the chunk id beside
    * it and [[promote]] it over the live directory. Readers are not
    * drained: a [[findChunk]] frame is local, but a [[readCatalog]] scan
    * planned before the promote fails if it runs after; an append landing
    * between the index read and the promote is lost. Returns the rows left. */
  def deleteChunk(spark: SparkSession, catalogPath: String, chunkId: String): Long = {
    val idx = index(spark, catalogPath)
    // a filter over the local frame: no job, and `=!=`'s null semantics
    val remaining = idx.frame(spark).filter(col("chunk_id") =!= chunkId).collect().toVector
    rewrite(spark, catalogPath, idx, remaining, "_rewrite", "deleteChunk")
  }

  /** Write `rows` beside the catalog, promote them over it, and reload
    * the index from the result. Returns the row count. */
  private def rewrite(spark: SparkSession, catalogPath: String, idx: CatalogIndex,
      rows: Vector[Row], suffix: String, what: String): Long = {
    val tmp = catalogPath + suffix
    writeRows(spark, rows, idx.schema, SaveMode.Overwrite, tmp)
    val (fs, dst) = Listing.fsFor(spark, catalogPath)
    promote(fs, new Path(tmp), dst, what)
    index(spark, catalogPath)
    rows.size
  }
}
