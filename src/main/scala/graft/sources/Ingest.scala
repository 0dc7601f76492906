package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The reference's ingest pipeline and chunk catalog (SURVEY.md §2 Part A
  * rows A2-A5, A7, A8, A15, A18) over a [[SnapshotTable]] at the catalog
  * path.
  *
  * Reference flow (`data_manager.rs:188-276`): download chunk → decode →
  * dedup-on-id (`Entry::Vacant` gate, :223-256) → quota admission
  * (`MAX_SIZE_ON_DISK`, :19, :229-239) → transactional persist
  * (`rocksdb_storage_engine.rs:105-136`) with rollback on error
  * (:258-275). The live catalog sits in memory (`data_manager.rs:21-22`)
  * and find-and-lock probes a range index over it
  * (`rocksdb_storage_engine.rs:34-50`).
  *
  * Spark restatement: the catalog's rows live on disk as the parquet
  * files of a [[SnapshotTable]], and on the driver as one [[CatalogIndex]]
  * per catalog path — the reference's in-memory map. Every call first
  * lists the catalog's manifests once: when the current version moved,
  * by this session or another process, the index is reloaded from that
  * version's files before use. Then:
  *
  *  - [[ingest]] dedups against the index's id set and admits against its
  *    size total, and commits the fresh rows;
  *  - [[findChunk]] filters the index's rows for one dataset without a
  *    Spark job;
  *  - [[deleteChunk]] rewrites only the file that holds the chunk, and
  *    [[compact]] rewrites the catalog into one file per dataset.
  *
  * Every write commits through the table's one commit path
  * ([[SnapshotTable.replace]]) as version `base + 1`, where `base` is the
  * version the index was read at: the reference's transactional persist.
  * A write that raced another loses with a
  * `ConcurrentModificationException` and leaves no visible state, so two
  * ingests can neither admit one chunk id twice nor overshoot the quota
  * together, and no commit is lost; the caller retries from the new
  * version. A delete removes nothing a reader holds: the old files stay
  * listed by the older manifests, so a scan planned before it still reads
  * its version, until [[SnapshotTable.expireSnapshots]] drops them.
  *
  * `dataset_id` is a STRING compared exactly, as the reference's
  * `DatasetId` is opaque bytes (`lib.rs:11`): `"010"` is not `"10"`.
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

  /** Schema of a catalog with no commit yet. */
  private val EmptySchema = StructType.fromDDL(
    "chunk_id STRING, dataset_id STRING, block_start BIGINT, " +
      "block_end BIGINT, size_bytes BIGINT")

  // ------------------------------------------------------ catalog index

  /** Driver-side copy of one catalog version (`head`, as
    * [[SnapshotTable.head]] gives it): `base`, the version's manifest as
    * it was parsed at load, which a write commits from without reading it
    * again; its rows exactly as [[readCatalog]] returns them, and for each
    * row the manifest entry it was read from. */
  private final case class CatalogIndex(head: (Long, Long), base: SnapshotTable.Manifest,
      schema: StructType, rows: Vector[Row], files: Vector[String]) {
    private def column(name: String): Vector[Any] = rows.map(_.get(schema.fieldIndex(name)))
    lazy val byDataset: Map[String, Vector[Row]] =
      rows.groupBy(_.getString(schema.fieldIndex("dataset_id")))
    lazy val ids: Set[Any] = column("chunk_id").filter(_ != null).toSet
    lazy val totalBytes: Long = column("size_bytes").collect { case n: Number => n.longValue }.sum
  }

  /** One entry per qualified catalog path; a change replaces the entry. */
  private val indexes = new java.util.concurrent.ConcurrentHashMap[String, CatalogIndex]()

  /** Number of catalog paths indexed in this JVM (tests pin one entry
    * per path). */
  private[graft] def indexedPaths: Int = indexes.size

  /** The index of `catalogPath`, reloaded when the current version is no
    * longer the one it was loaded at. Writes call it once more after they
    * commit, so the next call finds the index current. */
  private def index(spark: SparkSession, catalogPath: String): CatalogIndex = {
    val root = Listing.fsFor(spark.sparkContext.hadoopConfiguration, catalogPath)._2.toString
    val head = SnapshotTable.head(root)
    indexes.compute(root, (_, cur) =>
      if (cur != null && cur.head == head) cur else load(spark, root, head))
  }

  /** One read of the version's manifest and one scan of its files,
    * tagging each row with its file; a file compares with the manifest
    * entries as a qualified Hadoop path, as [[SnapshotTable.merge]] does. */
  private def load(spark: SparkSession, table: String, head: (Long, Long)): CatalogIndex =
    if (head._1 == 0)
      CatalogIndex(head, SnapshotTable.Manifest.empty, EmptySchema, Vector.empty, Vector.empty)
    else {
      val fs = Listing.fsFor(spark.sparkContext.hadoopConfiguration, table)._1
      val base = SnapshotTable.manifest(table, head._1)
      val entry = base.entries.map(e => fs.makeQualified(new Path(e.path)) -> e.path).toMap
      val df = base.read(spark)
      val n = df.schema.size
      val got = df.withColumn("_file", input_file_name()).collect().toVector
      CatalogIndex(head, base, df.schema, got.map(r => Row.fromSeq(r.toSeq.take(n))),
        got.map(r => entry(fs.makeQualified(new Path(new java.net.URI(r.getString(n)))))))
    }

  /** Commit `rows` in place of the `removed` files as the version after
    * the one `idx` was read at, from its manifest, then reload the index. The rows are
    * grouped into one partition per dataset, each sorted by block_start,
    * so the one write job leaves one file per dataset with tight parquet
    * min/max stats — the columnar replacement for the reference's
    * order-preserving big-endian key clustering
    * (`rocksdb_storage_engine.rs:180-192`). */
  private def commit(spark: SparkSession, catalogPath: String, idx: CatalogIndex,
      removed: Set[String], rows: Seq[Row], schema: StructType): Unit = {
    val (d, s) = (schema.fieldIndex("dataset_id"), schema.fieldIndex("block_start"))
    val groups = rows.groupBy(_.getString(d)).values.toSeq
      .map(_.sortBy(r => Option(r.getAs[Number](s)).map(_.longValue)))
    val df = spark.createDataFrame(spark.sparkContext
      .parallelize(groups, math.max(groups.size, 1)).flatMap(identity), schema)
    SnapshotTable.replace(spark, catalogPath, idx.base, removed, df)
    index(spark, catalogPath)
  }

  // ------------------------------------------------------ public surface

  /** The catalog as a scan of its current version: chunk_id, dataset_id,
    * block_start, block_end, size_bytes (+ free columns), in the order and
    * types the first batch sent them. A catalog with no commit reads as
    * an empty frame. */
  def readCatalog(spark: SparkSession, catalogPath: String): DataFrame = {
    val v = SnapshotTable.currentVersion(catalogPath)
    if (v > 0) SnapshotTable.readVersion(spark, catalogPath, v)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], EmptySchema)
  }

  /** Ingest a batch of chunk rows into the catalog at `catalogPath`.
    *
    * 1. dedup within the batch (first occurrence per chunk_id wins) and
    *    against the index's ids (idempotent replay, A4);
    * 2. quota: if the index's total + incoming exceeds `maxSizeOnDisk`,
    *    reject the whole batch with [[MaxSizeAllocated]] (the reference
    *    rejects per-chunk; batch-level is the job-granularity analog);
    * 3. commit the fresh rows from the version the index was read at; a
    *    commit that landed meanwhile makes this one throw
    *    `ConcurrentModificationException`.
    *
    * Spark jobs: one to dedup the batch within itself, one to write, and
    * the index reload from the committed version. */
  def ingest(spark: SparkSession, catalogPath: String, batch: DataFrame,
      maxSizeOnDisk: Long = 1000000000000L): IngestResult = {
    require(batch.schema("dataset_id").dataType == StringType,
      s"dataset_id must be STRING, got ${batch.schema("dataset_id").dataType}")
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
      if (fresh.nonEmpty) commit(spark, catalogPath, idx, Set.empty, fresh, batch.schema)
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
    def at(r: Row, name: String): Option[Long] =
      Option(r.getAs[Number](idx.schema.fieldIndex(name))).map(_.longValue)
    spark.createDataFrame(idx.byDataset.getOrElse(datasetId, Vector.empty).filter(r =>
      at(r, "block_start").exists(_ <= blockNumber) && at(r, "block_end").exists(blockNumber < _)
    ).asJava, idx.schema)
  }

  /** Dead-letter decode lane: split a raw text batch into typed good
    * rows and quarantined rows WITH a reason, in ONE cached scan — the
    * production answer to the reference ingest's per-chunk decode
    * `Result` (`data_manager.rs`): at 100 TB a single
    * malformed row must neither kill the job (ANSI throw) nor vanish
    * silently (permissive-null), it must land in a quarantine table a
    * human can replay. All parse lanes are `try_cast` (NULL, never
    * throw); reason precedence is fixed (arity → field casts → range)
    * so the verdict is deterministic per line. `dataset_id` stays the
    * STRING it was sent as, the type [[ingest]] takes (`DatasetId` is
    * opaque bytes, `lib.rs:11`), so `bad_dataset_id` is an empty id, as
    * `empty_chunk_id` is an empty chunk id.
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
        coalesce(get(f, lit(1)), lit("")).as("dataset_id"),
        expr("try_cast(get(split(line, ','), 2) AS BIGINT)").as("block_start"),
        expr("try_cast(get(split(line, ','), 3) AS BIGINT)").as("block_end"),
        expr("try_cast(get(split(line, ','), 4) AS BIGINT)").as("size_bytes"),
        size(f).as("arity"))
      .withColumn("reason",
        when(col("arity") =!= 5, "wrong_arity")
          .when(length(col("chunk_id")) === 0, "empty_chunk_id")
          .when(length(col("dataset_id")) === 0, "bad_dataset_id")
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

  /** Catalog compaction: rewrite the current version's files — every
    * ingest and delete adds some — into one file per dataset, sorted by
    * block_start (the small-files problem: scans degrade as file count
    * grows). Written from the index, no scan; a commit that landed
    * meanwhile makes it throw `ConcurrentModificationException`. Returns
    * the row count. */
  def compact(spark: SparkSession, catalogPath: String): Long = {
    val idx = index(spark, catalogPath)
    commit(spark, catalogPath, idx, idx.files.toSet, idx.rows, idx.schema)
    idx.rows.size
  }

  /** A8/A14 delete path: rewrite only the file or files that hold the
    * chunk id, from the index's rows (no scan), and commit them in place
    * of the old ones; every other file carries by reference. Readers are
    * drained, not broken: the old files stay listed by the older
    * versions, so a [[readCatalog]] scan planned before the delete still
    * reads them. A commit that landed meanwhile makes the delete throw
    * `ConcurrentModificationException`, and an absent id commits
    * nothing. Returns the rows left. */
  def deleteChunk(spark: SparkSession, catalogPath: String, chunkId: String): Long = {
    val idx = index(spark, catalogPath)
    val id = idx.schema.fieldIndex("chunk_id")
    val located = idx.rows.zip(idx.files)
    val touched = located.collect { case (r, f) if r.get(id) == chunkId => f }.toSet
    if (touched.nonEmpty)
      commit(spark, catalogPath, idx, touched,
        located.collect { case (r, f) if touched(f) && r.get(id) != chunkId => r }, idx.schema)
    idx.rows.count(_.get(id) != chunkId)
  }
}
