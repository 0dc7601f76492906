package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{Ingest, SnapshotTable}

/** The `lake` workload: synthetic traffic over the reference data-lake
  * worker's operations (ingest with dedup and quota, find, delete), plus
  * compaction and the snapshot table, sent by one client in a closed loop
  * against `graft.sources.Ingest` (the chunk catalog) and
  * `graft.sources.SnapshotTable` (the versioned chunk table). The
  * reference records no traffic to replay, so the mix below is chosen,
  * not measured; perfbench/README.md gives the reason for each number.
  *
  * The seed generates the whole operation sequence up front, together
  * with the expected result of every operation, from an in-memory model
  * of both tables (see [[Plan]]). Each result the program returns is
  * compared with the model; a mismatch is recorded as a failure.
  *
  * Not covered: pinned readers racing `expireSnapshots` from other
  * threads. Their failures do not repeat from run to run, so they belong
  * to a stress test, not to this benchmark. */
object Lake {
  final case class Chunk(no: Long, id: String, ds: String, start: Long, end: Long, size: Long) {
    def key: String = s"$no|$id|$ds|$start|$end|$size"
  }

  val Schema: StructType = StructType.fromDDL(
    "chunk_no BIGINT, chunk_id STRING, dataset_id STRING, block_start BIGINT, " +
      "block_end BIGINT, size_bytes BIGINT")

  /** Order-independent digest of a row set: (count, Σ 32-bit hashes). */
  def digest(keys: Iterable[String]): (Long, Long) =
    (keys.size.toLong, keys.iterator.map(k => MurmurHash3.stringHash(k) & 0xffffffffL).sum)

  sealed trait Op { def kind: String; def label: String }
  final case class IngestOp(batch: Int, rows: Seq[Chunk], fresh: Seq[Chunk],
      deduped: Long, admitted: Boolean, version: Long) extends Op {
    def kind = "ingest"; def label = s"ingest b$batch"
  }
  final case class FindOp(ds: String, block: Long, ids: Set[String]) extends Op {
    def kind = "find"; def label = s"find $ds@$block"
  }
  final case class DeleteOp(id: String, remaining: Long) extends Op {
    def kind = "delete"; def label = s"delete $id"
  }
  final case class CompactOp(rows: Long) extends Op {
    def kind = "compact"; def label = "compact"
  }
  final case class MergeOp(updates: Seq[Chunk], version: Long) extends Op {
    def kind = "merge"; def label = s"merge v$version"
  }
  final case class ReadVersionOp(version: Long, digest: (Long, Long)) extends Op {
    def kind = "read"; def label = s"readVersion v$version"
  }
  final case class ReadRangeOp(version: Long, lo: Long, hi: Long, digest: (Long, Long)) extends Op {
    def kind = "read"; def label = s"readRange v$version [$lo,$hi]"
  }
  final case class ExpireOp(keepLast: Int, versions: Seq[Long]) extends Op {
    def kind = "expire"; def label = s"expire keep $keepLast"
  }
  case object VacuumOp extends Op { def kind = "vacuum"; def label = "vacuum" }

  /** Shape of the generated traffic (reasons in perfbench/README.md). */
  val Datasets = 6
  val InitialChunks = 150
  val Batches = 4
  val RejectedTail = 1
  val FindsPerBatch = 7
  /** Reads pin one of the newest `ReadWindow` versions; every fourth
    * batch then expires all but the newest `KeepLast`. */
  val ReadWindow = 3
  val KeepLast = 1

  /** The seeded operation sequence and the model that predicts every
    * result: the live catalog (chunk id → chunk) and the rows of every
    * snapshot version.
    *
    * Datasets get Zipf-skewed traffic. Each batch carries new chunks,
    * replays of earlier chunk ids (dedup) and one in-batch duplicate. The
    * quota admits the initial lake and all but the last [[RejectedTail]]
    * batches' worth of bytes, so the tail is refused with
    * `MaxSizeAllocated` (deletes in between may free room; the model
    * decides). Lookups lean toward recent blocks and include misses
    * (past the newest block, or an unknown dataset). Every second batch
    * deletes a chunk and reads two versions pinned among the newest
    * [[ReadWindow]]; every fourth compacts the catalog, merges updates
    * into the snapshot, expires all but the newest [[KeepLast]] snapshots
    * and vacuums. No read targets a version an expire has removed. */
  final class Plan(seed: Long) {
    private val rng = new scala.util.Random(seed)
    val datasets: IndexedSeq[String] =
      (0 until Datasets).map(i => f"ds$i%d${rng.nextInt(1 << 24)}%06x")
    private val weights = (1 to Datasets).map(i => 1.0 / math.pow(i, 1.1))
    private def pickDs(): String = {
      var u = rng.nextDouble() * weights.sum
      datasets.indices.find { i => u -= weights(i); u <= 0 }.map(datasets).getOrElse(datasets.last)
    }
    private val cursor = mutable.Map(datasets.map(_ -> 0L): _*)
    private var nextNo = 0L
    private def newChunk(ds: String): Chunk = {
      val start = cursor(ds) + (if (rng.nextInt(10) == 0) rng.nextInt(40) else 0)
      val end = start + 50 + rng.nextInt(450)
      cursor(ds) = end
      nextNo += 1
      Chunk(nextNo, f"$ds-$start%010d", ds, start, end, 1000000L + rng.nextInt(49000000))
    }

    val initial: Seq[Chunk] = Seq.fill(InitialChunks)(newChunk(pickDs()))
    /** Newest block end sent so far per dataset: lookups aim below it. */
    private val sentTop = mutable.Map(datasets.map(_ -> 0L): _*)
    private def sent(cs: Seq[Chunk]): Unit =
      cs.foreach(c => sentTop(c.ds) = math.max(sentTop(c.ds), c.end))
    sent(initial)
    private val batchNew: IndexedSeq[Seq[Chunk]] =
      (0 until Batches).map(_ => Seq.fill(20 + rng.nextInt(20))(newChunk(pickDs())))
    val quota: Long = initial.map(_.size).sum +
      batchNew.take(Batches - RejectedTail).flatten.map(_.size).sum

    // model state
    private val catalog = mutable.LinkedHashMap(initial.map(c => c.id -> c): _*)
    private val versions = mutable.ArrayBuffer(initial.map(c => c.no -> c).toMap)
    private var oldestKept = 1L
    private def current = versions.size.toLong
    def rowsOf(v: Long): Map[Long, Chunk] = versions((v - 1).toInt)
    private def pinned(): Long =
      math.max(oldestKept, current - rng.nextInt(math.min(ReadWindow, versions.size)))
    private val everSent = mutable.ArrayBuffer(initial: _*)

    val ops: Seq[Op] = {
      val out = mutable.ArrayBuffer.empty[Op]
      for (b <- 0 until Batches) {
        val replays = Seq.fill(3 + rng.nextInt(4))(everSent(rng.nextInt(everSent.size)))
        val news = batchNew(b)
        val rows = rng.shuffle(news ++ replays :+ news(rng.nextInt(news.size)))
        everSent ++= news
        sent(news)
        val fresh = rows.distinctBy(_.id).filterNot(c => catalog.contains(c.id))
        val admitted = catalog.values.map(_.size).sum + fresh.map(_.size).sum <= quota
        if (admitted) {
          fresh.foreach(c => catalog(c.id) = c)
          versions += rowsOf(current) ++ fresh.map(c => c.no -> c)
        }
        out += IngestOp(b, rows, fresh, rows.size - fresh.size, admitted,
          if (admitted) current else -1L)
        for (_ <- 0 until FindsPerBatch) {
          val r = rng.nextDouble()
          val ds = if (r < 0.05) "ds-unknown" else pickDs()
          val top = sentTop.getOrElse(ds, 0L)
          val block =
            if (r < 0.15) top + rng.nextInt(1000)
            else math.max(0L, top - 1 - (-math.log(1 - rng.nextDouble()) * top / 6).toLong)
          val ids = catalog.values.filter(c => c.ds == ds && c.start <= block && block < c.end)
            .map(_.id).toSet
          out += FindOp(ds, block, ids)
        }
        if (b % 2 == 1) {
          val live = catalog.keys.toIndexedSeq
          val victim = live(rng.nextInt(live.size))
          catalog.remove(victim)
          out += DeleteOp(victim, catalog.size.toLong)
          val v = pinned()
          out += ReadVersionOp(v, digest(rowsOf(v).values.map(_.key)))
          val w = pinned()
          val ds = pickDs()
          val lo = rng.nextInt(math.max(1, sentTop(ds).toInt)).toLong
          val hi = lo + 2000
          out += ReadRangeOp(w, lo, hi, digest(rowsOf(w).values
            .filter(c => c.start >= lo && c.start <= hi).map(_.key)))
        }
        if (b % 4 == 3) {
          out += CompactOp(catalog.size.toLong)
          val cur = rowsOf(current).values.toIndexedSeq.sortBy(_.no)
          val changed = Seq.fill(4)(cur(rng.nextInt(cur.size))).distinctBy(_.no)
            .map(c => c.copy(size = c.size + 1 + rng.nextInt(1000)))
          val added = Seq.fill(2)(newChunk(pickDs()))
          val updates = changed ++ added
          versions += rowsOf(current) ++ updates.map(c => c.no -> c)
          out += MergeOp(updates, current)
          oldestKept = math.max(oldestKept, current - KeepLast + 1)
          out += ExpireOp(KeepLast, (oldestKept to current).toSeq)
          out += VacuumOp
        }
      }
      out.toSeq
    }
    val expectedRejections: Int = ops.count {
      case i: IngestOp => !i.admitted
      case _ => false
    }
  }

  def frame(spark: SparkSession, rows: Seq[Chunk]): DataFrame =
    spark.createDataFrame(rows.map(c =>
      Row(c.no, c.id, c.ds, c.start, c.end, c.size)).asJava, Schema)

  /** The catalog's view of a chunk: Ingest's five-column schema. */
  def catalogFrame(spark: SparkSession, rows: Seq[Chunk]): DataFrame =
    frame(spark, rows).drop("chunk_no")

  def keys(rows: Array[Row]): Seq[String] = rows.toSeq.map(r =>
    Chunk(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
      r.getLong(5)).key)

  def columns(df: DataFrame): DataFrame =
    df.select("chunk_no", "chunk_id", "dataset_id", "block_start", "block_end", "size_bytes")

  /** Generate the start state: the initial chunks ingested into an empty
    * catalog and committed as snapshot version 1. */
  def generate(spark: SparkSession, plan: Plan, dir: String): Unit = {
    deleteTree(Paths.get(dir))
    val r = Ingest.ingest(spark, s"$dir/catalog", catalogFrame(spark, plan.initial))
    require(r.ingested == plan.initial.size && r.rejected.isEmpty, s"initial ingest: $r")
    SnapshotTable.commit(spark, s"$dir/snap", frame(spark, plan.initial))
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def bytesUnder(dir: String): Long = Main.dirBytes(new java.io.File(dir))

  def run(ctx: Ctx): WorkloadResult = {
    val o = ctx.opts
    val plan = new Plan(o.seed)
    val setupS = Setup.cold(ctx) {
      Setup.step(ctx, "session")(ctx.startSession(s"${o.work}/lake-0"))
      Setup.step(ctx, "lake")(generate(ctx.spark, plan, s"${o.work}/lake-0"))
    }
    var made = 0
    var lastLake = ""
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def pass(label: String): Double = {
      // the first pass takes the lake set-up made; each later one a new one
      val dir = s"${o.work}/lake-$made"
      if (made > 0) generate(ctx.spark, plan, dir)
      made += 1
      lastLake = dir
      layer.clear()
      val p = ctx.trace.open(ctx.trace.run.id, "pass", label)
      val t0 = System.nanoTime()
      plan.ops.foreach(op => execute(ctx, p, dir, op, plan.quota, layer))
      p.end = ctx.trace.now()
      (System.nanoTime() - t0) / 1e9
    }
    var traced = Map.empty[String, Double]
    val (walls, layers) = Passes.measure(ctx, pass, {
      endOfPass(ctx.spark, lastLake, layer)
      traced = layer.toMap
      traced
    })
    val rejected = layer("ingest.rejected_batches").toInt
    if (rejected != plan.expectedRejections)
      ctx.fail("quota", "WrongResult",
        s"$rejected batches refused, model expects ${plan.expectedRejections}")

    def lat(kind: String) = ctx.samples.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
    val all = ctx.samples.values.flatten.toSeq
    val (tp, tv) = Stats.tail(all)
    val tails = Seq("op_tail_ms" -> (tp, all.size)) ++
      Seq("find", "ingest", "read").map(k => s"${k}_tail_ms" -> (Stats.tail(lat(k))._1, lat(k).size))
    val lakeLatencies = Seq("find", "ingest", "read").flatMap { k =>
      Seq(s"${k}_p50_ms" -> Stats.median(lat(k)), s"${k}_tail_ms" -> Stats.tail(lat(k))._2)
    }
    WorkloadResult(
      endToEnd = Seq("setup_s" -> setupS, "wall_s" -> Stats.median(walls)),
      perLayer = layers ++ Seq("op_p50_ms" -> Stats.median(all), "op_tail_ms" -> tv) ++
        lakeLatencies ++ traced.get("space_amp").map("space_amp" -> _),
      tails = tails,
      corpus = lastLake,
      context = Seq("ops" -> plan.ops.size.toString, "passes" -> walls.size.toString,
        "quota_bytes" -> plan.quota.toString,
        "wall_s_passes" -> walls.map(Json.num).mkString("[", ",", "]")),
      oracleDir = None)
  }

  /** Run one operation as a timed span and compare its result with the
    * model. `layer` collects the per-call times and counts of the pass. */
  def execute(ctx: Ctx, pass: Span, dir: String, op: Op, quota: Long,
      layer: mutable.Map[String, Double]): Unit = {
    val spark = ctx.spark
    val cat = s"$dir/catalog"
    val snap = s"$dir/snap"
    def wrong(msg: String): Unit = ctx.fail(op.label, "WrongResult", msg)
    def clock[T](metric: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally layer(metric) += (System.nanoTime() - t0) / 1e6
    }
    op match {
      case i: IngestOp =>
        ctx.timed(pass, "ingest", op.label)(catalogFrame(spark, i.rows)) { batch =>
          val r = clock("ingest.ingest_ms")(Ingest.ingest(spark, cat, batch, quota))
          val v = if (r.rejected.isEmpty)
            clock("snapshot.commit_ms")(SnapshotTable.commit(spark, snap, frame(spark, i.fresh)))
            else -1L
          (r, v)
        }.foreach { case (r, v) =>
          layer("ingest.deduped_rows") += r.deduped
          if (r.rejected.nonEmpty) layer("ingest.rejected_batches") += 1
          if (r.ingested != (if (i.admitted) i.fresh.size else 0) || r.deduped != i.deduped ||
              r.rejected.isEmpty != i.admitted || v != i.version)
            wrong(s"got $r version $v; model: ingested ${i.fresh.size} deduped ${i.deduped} " +
              s"admitted ${i.admitted} version ${i.version}")
        }
      case f: FindOp =>
        ctx.timed(pass, "find", op.label)(
          clock("ingest.find_ms")(Ingest.findChunk(spark, cat, f.ds, f.block))) { df =>
          clock("ingest.find_ms")(df.select("chunk_id").collect().map(_.getString(0)).toSet)
        }.foreach(ids => if (ids != f.ids) wrong(s"found $ids, model ${f.ids}"))
      case d: DeleteOp =>
        ctx.timed(pass, "delete", op.label)(()) { _ =>
          clock("ingest.delete_ms")(Ingest.deleteChunk(spark, cat, d.id))
        }.foreach(n => if (n != d.remaining) wrong(s"$n rows remain, model ${d.remaining}"))
      case c: CompactOp =>
        ctx.timed(pass, "compact", op.label)(()) { _ =>
          clock("ingest.compact_ms")(Ingest.compact(spark, cat))
        }.foreach(n => if (n != c.rows) wrong(s"compacted $n rows, model ${c.rows}"))
      case m: MergeOp =>
        ctx.timed(pass, "merge", op.label)(frame(spark, m.updates)) { upd =>
          clock("snapshot.merge_ms")(SnapshotTable.merge(spark, snap, upd, "chunk_no"))
        }.foreach(v => if (v != m.version) wrong(s"merged as v$v, model v${m.version}"))
      case r: ReadVersionOp =>
        ctx.timed(pass, "read", op.label)(
          clock("snapshot.read_version_ms")(SnapshotTable.readVersion(spark, snap, r.version))) { df =>
          clock("snapshot.read_version_ms")(digest(keys(columns(df).collect())))
        }.foreach(d => if (d != r.digest) wrong(s"digest $d, model ${r.digest}"))
      case r: ReadRangeOp =>
        val files = SnapshotTable.filesForRange(snap, r.version, "block_start", r.lo, r.hi).size
        layer("snapshot.range_files_kept") += files
        layer("snapshot.range_files_total") += SnapshotTable.entries(snap, r.version).size
        ctx.timed(pass, "read", op.label)(clock("snapshot.read_range_ms")(
          SnapshotTable.readRange(spark, snap, r.version, "block_start", r.lo, r.hi))) { df =>
          clock("snapshot.read_range_ms")(digest(keys(columns(df).collect())))
        }.foreach(d => if (d != r.digest) wrong(s"digest $d, model ${r.digest}"))
      case e: ExpireOp =>
        val before = bytesUnder(s"$snap/data")
        ctx.timed(pass, "expire", op.label)(()) { _ =>
          clock("snapshot.expire_ms")(SnapshotTable.expireSnapshots(snap, e.keepLast))
        }.foreach { _ =>
          val vs = SnapshotTable.versions(snap)
          if (vs != e.versions) wrong(s"versions $vs kept, model ${e.versions}")
        }
        layer("snapshot.bytes_reclaimed") += before - bytesUnder(s"$snap/data")
      case VacuumOp =>
        val before = bytesUnder(s"$snap/data")
        ctx.timed(pass, "vacuum", op.label)(()) { _ =>
          clock("snapshot.vacuum_ms")(SnapshotTable.vacuumOrphans(snap))
        }.foreach { _ =>
          val referenced = SnapshotTable.versions(snap)
            .flatMap(v => SnapshotTable.entries(snap, v))
            .map(e => Paths.get(e.path).getParent.getFileName.toString).toSet
          val dirs = Files.list(Paths.get(snap, "data")).iterator().asScala
            .map(_.getFileName.toString).toSet
          if (dirs != referenced)
            wrong(s"${(dirs -- referenced).size} unreferenced and " +
              s"${(referenced -- dirs).size} missing data dirs after vacuum")
        }
        layer("snapshot.bytes_reclaimed") += before - bytesUnder(s"$snap/data")
    }
  }

  /** State counters of the lake after a pass, and its space
    * amplification: bytes on disk under the lake over the bytes of one
    * compacted copy of the live rows (catalog and current snapshot). */
  def endOfPass(spark: SparkSession, dir: String, layer: mutable.Map[String, Double]): Unit = {
    val cat = s"$dir/catalog"
    val snap = s"$dir/snap"
    def parquetFiles(d: String): Seq[java.io.File] =
      Files.walk(Paths.get(d)).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    layer("ingest.catalog_files") = parquetFiles(cat).size
    layer("ingest.catalog_bytes") = parquetFiles(cat).map(_.length).sum
    val v = SnapshotTable.currentVersion(snap)
    layer("snapshot.data_files") = SnapshotTable.entries(snap, v).size
    layer("snapshot.manifest_bytes") = bytesUnder(s"$snap/manifests")
    layer("snapshot.prune_ratio") = layer("snapshot.range_files_kept") /
      math.max(1.0, layer("snapshot.range_files_total"))
    val onDisk = bytesUnder(cat) + bytesUnder(snap)
    val copy = s"$dir-compacted"
    Ingest.readCatalog(spark, cat).coalesce(1).write.parquet(s"$copy/catalog")
    SnapshotTable.read(spark, snap).coalesce(1).write.parquet(s"$copy/snap")
    val compacted = parquetFiles(copy).map(_.length).sum
    deleteTree(Paths.get(copy))
    layer("space_amp") = onDisk.toDouble / math.max(1L, compacted)
  }
}
