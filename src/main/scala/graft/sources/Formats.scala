package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Non-parquet source/sink round-trips plus multi-dimensional layout
  * (SURVEY.md §2 B1-B3 widening). The reference's single storage format
  * is opaque binary chunks (/root/reference/src/lib.rs:24-27,
  * /root/reference/src/rocksdb_storage_engine.rs:126-132); a lake engine
  * must also ingest/export the interchange formats around it. Each query
  * WRITES the format from the canonical parquet table, reads it back
  * with an EXPLICIT schema (schema inference is a whole extra pass over
  * the data at 100 TB — never pay it on a known table), and aggregates;
  * the DuckDB oracle computes the same aggregate from the original
  * parquet, so any loss of fidelity in the round-trip (encoding,
  * precision, timestamp format) is a hash mismatch.
  *
  * Column discipline for text formats: DECIMAL and DATE round-trip
  * exactly through their string forms; doubles round-trip through JSON
  * (shortest-round-trippable print) but are cast to DECIMAL(18,2) before
  * text serialization in CSV where the format has no type system at all.
  */
object Formats {
  private def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  private def cacheDir(fmt: String, d: String): String = {
    val root = sys.props.getOrElse("graft.build.root", System.getProperty("user.dir"))
    new java.io.File(new java.io.File(root, "target"),
      s"graft-fmt-$fmt-${new java.io.File(d).getName}").toString
  }

  /** CSV: orders → headered CSV → read with explicit DDL schema →
    * priority rollup. Text-format discipline: money as DECIMAL(18,2),
    * day-granularity timestamps as DATE. */
  def sourceCsv(s: SparkSession, d: String): DataFrame = {
    val dir = cacheDir("csv", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DECIMAL(18,2), o_orderdate DATE, o_orderpriority STRING")
      .option("header", "true").csv(dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).cast("double").as("total"),
        max(col("o_orderdate")).as("last_date"))
      .orderBy("o_orderpriority")
  }

  /** JSON lines: customer → JSON → read with explicit schema → segment
    * rollup. Doubles survive JSON exactly (shortest round-trippable
    * print), so the decimal cast happens after the round-trip — the
    * same place the oracle applies it. */
  def sourceJson(s: SparkSession, d: String): DataFrame = {
    val dir = cacheDir("json", d)
    Tables.customer(s, d).write.mode("overwrite").json(dir)
    s.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING")
      .json(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"),
        min(col("c_name")).as("first_name"))
      .orderBy("c_mktsegment")
  }

  /** ORC: the other columnar format — binary, so every type round-trips
    * bit-exactly; filtered lineitem → ORC → read → returnflag rollup. */
  def sourceOrc(s: SparkSession, d: String): DataFrame = {
    val dir = cacheDir("orc", d)
    Tables.lineitem(s, d).filter(col("l_quantity") < 10)
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Plain text lines — the rawest lake input format (crawl dumps,
    * logs). documents → one tab-framed line per row → read back as
    * lines → parse → per-lang rollup; the oracle reads the original
    * parquet, so the char-count sum catches any byte-level framing
    * loss. (The corpus is printable-ASCII with no tabs/newlines, which
    * is what makes tab framing lossless here.)
    *
    * Avro is deliberately NOT covered: /opt/spark/jars carries the
    * avro core libraries (avro-1.12.1, avro-mapred) but not the
    * spark-avro DataSource module (`spark-avro_2.13`), so
    * `.format("avro")` cannot resolve in this environment and no
    * managed dependency may be added. */
  def sourceTextline(s: SparkSession, d: String): DataFrame = {
    val dir = cacheDir("text", d)
    Tables.documents(s, d)
      .select(concat_ws("\t",
        col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").text(dir)
    val parts = split(col("value"), "\t", 3)
    s.read.text(dir)
      .select(parts.getItem(0).cast("bigint").as("doc_id"),
        parts.getItem(1).as("lang"),
        parts.getItem(2).as("text"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------ z-order

  /** Bits per dimension of the events z layout: 4 + 4 → a 16×16 grid,
    * 256 z cells. The math below is generic over `bits` (up to 31 per
    * dimension in a Long) — the layout just instantiates it shallow
    * enough that a local test corpus still populates most cells. */
  val ZBits = 4

  /** Morton-interleave two `bits`-wide coordinates: x occupies the even
    * bit positions, y the odd. Driver-side twin of [[zInterleaveCol]];
    * ZOrderSpec pins the two to agree on every cell of the grid. */
  def zEncode(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Inverse of [[zEncode]]. */
  def zDecode(z: Long, bits: Int): (Long, Long) = {
    var x = 0L; var y = 0L
    var i = 0
    while (i < bits) {
      x |= ((z >> (2 * i)) & 1L) << i
      y |= ((z >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    (x, y)
  }

  /** Minimal sorted disjoint contiguous z runs covering EXACTLY the
    * cells of the box [xLo,xHi] × [yLo,yHi] — the z-range splitter that
    * turns a 2-D box predicate into 1-D partition/key ranges (the
    * multi-dimensional generalization of the reference's
    * order-preserving composite key scan,
    * /root/reference/src/rocksdb_storage_engine.rs:180-192).
    *
    * Quadtree prefix decomposition: a quad wholly inside the box is one
    * contiguous z run (emit), a disjoint quad is skipped, a straddling
    * quad recurses into its 4 children in z order — so the output
    * arrives sorted and only O(box perimeter) quads are ever visited,
    * never the 4^bits cell space. That property is what makes the same
    * code usable at 16-bit epoch × 16-bit key depths on a real lake;
    * adjacent runs merge on the way out. ZOrderSpec proves equality
    * with brute-force cell enumeration over every box in the grid. */
  def zRanges(xLo: Long, xHi: Long, yLo: Long, yHi: Long, bits: Int)
      : Seq[(Long, Long)] = {
    require(xLo <= xHi && yLo <= yHi, s"empty box ($xLo..$xHi)×($yLo..$yHi)")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def rec(qx: Long, qy: Long, level: Int): Unit = {
      val side = 1L << (bits - level)
      val x1 = qx + side - 1; val y1 = qy + side - 1
      if (qx > xHi || x1 < xLo || qy > yHi || y1 < yLo) return // disjoint
      if (qx >= xLo && x1 <= xHi && qy >= yLo && y1 <= yHi) {  // contained
        val z0 = zEncode(qx, qy, bits)                         // quad is one z run
        if (out.nonEmpty && out.last._2 + 1 == z0)
          out(out.size - 1) = (out.last._1, z0 + side * side - 1)
        else out += ((z0, z0 + side * side - 1))
        return
      }
      val h = side / 2 // children in ascending-z order: (x,y) bit pairs 00,10,01,11
      rec(qx, qy, level + 1); rec(qx + h, qy, level + 1)
      rec(qx, qy + h, level + 1); rec(qx + h, qy + h, level + 1)
    }
    rec(0L, 0L, 0)
    out.toSeq
  }

  /** BIGMIN (Tropf–Herzog '81): the smallest z value strictly greater
    * than `zcur` whose decoded point lies in the box spanned by corners
    * `zmin`/`zmax` (z-encodings of the box's low/high corners), or -1
    * if none — the skip primitive a z-ordered scan uses to jump a
    * sequential reader over the dead space between the runs that
    * [[zRanges]] enumerates up front. Bit-walk from the MSB, narrowing
    * the box with the classic "10…0"/"01…1" same-dimension loads;
    * ZOrderSpec checks it against brute force for every (box, zcur). */
  def bigMin(zcur: Long, zmin0: Long, zmax0: Long, bits: Int): Long = {
    // modify only bits of pos's dimension at positions <= pos:
    // one=true → set pos, clear lower same-dim bits ("10…0");
    // one=false → clear pos, set lower same-dim bits ("01…1")
    def loaded(v: Long, pos: Int, one: Boolean): Long = {
      var below = 0L; var p = pos - 2
      while (p >= 0) { below |= 1L << p; p -= 2 }
      if (one) (v | (1L << pos)) & ~below else (v & ~(1L << pos)) | below
    }
    var zmin = zmin0; var zmax = zmax0
    var big = -1L
    var pos = 2 * bits - 1
    while (pos >= 0) {
      (((zcur >> pos) & 1L).toInt, ((zmin >> pos) & 1L).toInt,
          ((zmax >> pos) & 1L).toInt) match {
        case (0, 0, 0) => ()
        case (0, 0, 1) => big = loaded(zmin, pos, one = true)
                          zmax = loaded(zmax, pos, one = false)
        case (0, 1, 1) => return zmin // whole remaining box is above zcur
        case (1, 0, 0) => return big  // whole remaining box is below zcur
        case (1, 0, 1) => zmin = loaded(zmin, pos, one = true)
        case (1, 1, 1) => ()
        case other => throw new IllegalStateException(
          s"zmin > zmax at bit $pos: $other")
      }
      pos -= 1
    }
    big // zcur itself is inside the box: next-in-box is the pending BIGMIN
  }

  /** Column-level Morton interleave (codegen'd bit ops, no UDF). */
  private[graft] def zInterleaveCol(ub: org.apache.spark.sql.Column,
      tb: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftright(ub, i).bitwiseAND(1) * lit(1 << (2 * i)) +
        shiftright(tb, i).bitwiseAND(1) * lit(1 << (2 * i + 1))
    }.reduce(_ + _).cast("int")

  /** Driver-side pure math: the z runs intersecting the query box
    * [ubLo, ubHi] × [tbLo, tbHi] at the layout's bit depth — computed
    * from the box alone, before any data is read. */
  def zRangesFor(ubLo: Int, ubHi: Int, tbLo: Int, tbHi: Int): Seq[(Int, Int)] =
    zRanges(ubLo, ubHi, tbLo, tbHi, ZBits).map { case (lo, hi) =>
      (lo.toInt, hi.toInt) }

  /** Where the z-clustered events layout lives for `d`. */
  def zLayoutDir(d: String): String = cacheDir("zorder", d)

  /** Build the z layout only if absent (parquet's `_SUCCESS` marker =
    * complete build) — a clustered layout is written once and queried
    * many times, so the per-query cost is the pruned read, not the
    * 256-directory write; same amortization contract as the trained
    * IVF layout (VectorOps.ensureTrainedLayout, Bench warm-up). */
  def ensureZLayout(s: SparkSession, d: String): String = {
    val dir = zLayoutDir(d)
    if (!new java.io.File(dir, "_SUCCESS").exists()) writeZLayout(s, d)
    dir
  }

  /** Write events clustered by z(user bucket, day bucket) on the 16×16
    * grid — up to 256 partition dirs, each file additionally sorted by
    * (user_id, ts) for row-group min/max locality inside the cell.
    * Bucketing: ub = (user_id/4) mod 16 (wraps — the row predicate cuts
    * aliased users), tb = (day-1)/2 (days 1-31 → 0-15, monotone). */
  def writeZLayout(s: SparkSession, d: String): String = {
    val dir = zLayoutDir(d)
    Tables.events(s, d)
      .withColumn("zb", zInterleaveCol(
        // LONG before the mask: replica-shifted user ids pass 2^31 at
        // sf10 and the ANSI double->int cast aborts the layout build;
        // the &15 wrap is what the bucket wants anyway (sf10 smoke)
        (col("user_id") / 4).cast("long").bitwiseAND(15).cast("int"),
        ((dayofmonth(col("ts")) - 1) / 2).cast("int"), ZBits))
      .repartition(col("zb"))
      .sortWithinPartitions("zb", "user_id", "ts")
      .write.mode("overwrite").partitionBy("zb").parquet(dir)
    dir
  }

  /** 2-D box query over the z layout: users 4-7 × days 9-16 = box
    * ub∈[1,1] × tb∈[4,7] — a thin box that z-order shatters into 4
    * separate runs ({33},{35},{41},{43}), exactly the
    * many-runs-per-box case the splitter exists for. The zb predicate
    * is built from [[zRangesFor]]'s runs and partition-prunes the other
    * ~250 cell dirs at file-listing time (ScaleSpec "z-order layout"
    * asserts the selected-partition count); the remaining row
    * predicates cut within the cells. Results are layout-independent,
    * so the oracle reads the original events table. */
  def layoutZorder(s: SparkSession, d: String): DataFrame = {
    val dir = ensureZLayout(s, d)
    val zPred = zRangesFor(1, 1, 4, 7)
      .map { case (lo, hi) =>
        if (lo == hi) col("zb") === lo else col("zb").between(lo, hi) }
      .reduce(_ || _)
    s.read.parquet(dir)
      .filter(zPred &&
        col("user_id").between(4, 7) &&
        col("ts") >= lit("2024-01-09").cast("timestamp") &&
        col("ts") < lit("2024-01-17").cast("timestamp"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .orderBy("user_id")
  }

  /** Range-file count for the scratch snapshot commits below: one file
    * per ~64 MB of source parquet, floored at 4 (the layout the gate
    * and the stats-pruning demos were declared with — sf0.01..sf10
    * keep exactly their historical 4 files), capped at 256. The FIXED
    * 4 was a scale defect the r17 sf100 growth probe surfaced: it
    * pushed ~525 MB of parquet through each of 4 write tasks at sf100
    * and made every downstream touched-file rewrite ~37M rows wide —
    * file count, like shuffle partitions, must scale with the data so
    * a merge's cost tracks the keys it touches, not the table. */
  // memoized per data dir (r17 advisor): both snapshot queries call
  // this INSIDE their timed invocation, and the recursive walk of
  // orders.parquet is O(files) filesystem work inside the measurement
  // window. Keyed on a SHALLOW content fingerprint of orders.parquet
  // (direct children's names/lengths/mtimes — one readdir), not the
  // path alone (r18 advisor): a path-only key went stale if the corpus
  // at that path was regenerated within one JVM (e.g. ScaleGen then a
  // snapshot query in the same session), and the range layout silently
  // stopped scaling with the data. Regeneration changes the
  // fingerprint, so the stale entry is simply never hit again.
  private val rangeFileCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def rangeFileCount(d: String): Int = {
    val dir = new java.io.File(d, "orders.parquet")
    val kids = Option(dir.listFiles()).getOrElse(Array.empty)
    val fp = d + "|" + kids.length + "|" +
      kids.map(f => f.getName.hashCode.toLong + f.length() + f.lastModified()).sum
    rangeFileCountCache.computeIfAbsent(fp, _ => {
      def sz(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(sz).sum
        else f.length()
      Int.box(math.min(256L, math.max(4L, sz(dir) / (64L << 20))).toInt)
    }).intValue
  }

  /** MERGE (upsert) through the snapshot table, end-to-end and oracled:
    * commit orders as a range-partitioned snapshot (disjoint per-file
    * key stats), merge a deterministic update set (repriced low keys +
    * brand-new high keys), read the result back and aggregate. The
    * DuckDB oracle states the same MERGE as anti-join + union over the
    * ORIGINAL table — a hash match proves the copy-on-write commit
    * (stats-pruned touched-file rewrite, [[SnapshotTable.merge]])
    * reconstructs exactly the declarative semantics. Prices ride as
    * decimal(18,2) so the +100 reprice is exact in both engines. */
  def snapshotMerge(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_merge")
    val t = root.resolve("t").toString
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("o_totalprice"))
    SnapshotTable.commit(s, t,
      orders.repartitionByRange(rangeFileCount(d), col("o_orderkey")),
      append = false)
    val updates = orders.filter(col("o_orderkey") <= 600)
      // dec2 again: + widens decimal(18,2) to (19,2), and merge requires
      // update columns to keep the table's exact type
      .withColumn("o_totalprice", dec2(col("o_totalprice") + lit(100)))
      .unionByName(orders.filter(col("o_orderkey") % 997 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    SnapshotTable.merge(s, t, updates, "o_orderkey")
    val out = SnapshotTable.read(s, t)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).cast("double").as("total"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
      // materialize BEFORE deleting the scratch table: the returned
      // frame is otherwise a lazy plan over files we're about to remove
      .localCheckpoint()
    rmTree(root)
    out
  }

  /** TIME TRAVEL on the declared surface: commit orders as version 1,
    * MERGE a deterministic update set (reprice keys ≤ 300, clone the
    * %1009 keys to new ids) as version 2, then emit the row-level diff
    * between the versions — the bag difference each way, which for
    * per-snapshot-unique keys is the anti-join each way: an updated
    * row surfaces as one 'added' (new price) plus one 'removed' (old
    * price), an inserted key as 'added' only.
    *
    * The diff is MANIFEST-PRUNED (r17): with C the carried files and
    * B'/A' the files the merge removed/added, v1 = C ⊎ B' and
    * v2 = C ⊎ A', so v2 ∖ v1 = A' ∖ B' as bags — the carried rows
    * cancel EXACTLY, and reading them (the r16 shape: full-version
    * `exceptAll` both ways) is pure cost that grows with the TABLE
    * instead of the merge: at sf100 the two table-wide diff aggregates
    * OOM'd the default 8 GiB heap, while this form diffs only the
    * one touched file against its rewrite (the same
    * removedFiles/addedFiles pruning [[SnapshotTable.rowChanges]] — the
    * classifying CDF API — is built on, cost ∝ affected data at any
    * scale). BOTH sides read under v2's pinned schema — the
    * [[SnapshotTable.rowChanges]] membrane, NOT readVersion's
    * per-version one: a bag diff needs one common shape, so the removed
    * (v1) files are deliberately read under the LATER version's schema
    * (r17 advisor). Equivalent to per-version schemas here because
    * merge never evolves schema between the two versions — if an
    * evolving commit ever lands in the range, rowChanges' contract
    * (pre-evolution files surface added columns as null) is the one
    * this query inherits. The
    * 'removed' side reads exactly the pre-merge files the
    * copy-on-write rewrite dropped from the current version, so the
    * DuckDB oracle — which restates BOTH versions declaratively over the
    * original orders table — hash-proves that superseded files remain
    * byte-faithfully readable after COW dropped them. */
  def snapshotTimetravel(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tt")
    val t = root.resolve("t").toString
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("o_totalprice"))
    SnapshotTable.commit(s, t,
      orders.repartitionByRange(rangeFileCount(d), col("o_orderkey")),
      append = false)
    val updates = orders.filter(col("o_orderkey") <= 300)
      .withColumn("o_totalprice", dec2(col("o_totalprice") + lit(50)))
      .unionByName(orders.filter(col("o_orderkey") % 1009 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(20000000L)))
    val v2 = SnapshotTable.merge(s, t, updates, "o_orderkey")
    // manifest-diff read under v2's pinned schema (rowChanges' shape)
    val (was, now) = (SnapshotTable.manifest(t, v2 - 1), SnapshotTable.manifest(t, v2))
    def readDiff(fs: Seq[String]): DataFrame = s.read.schema(now.schema).parquet(fs: _*)
    val before = readDiff(was.pathsNotIn(now))
    val after = readDiff(now.pathsNotIn(was))
    val out = after.exceptAll(before).withColumn("change", lit("added"))
      .unionByName(before.exceptAll(after).withColumn("change", lit("removed")))
      .select(col("change"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .orderBy("change", "o_orderkey")
      .localCheckpoint() // materialize before the scratch table goes
    rmTree(root)
    out
  }

  /** Recursive delete of a scratch snapshot-table dir — the queries
    * above build real manifest/data trees under a fresh temp dir per
    * run; leaving them behind leaks a table per bench sweep. */
  private def rmTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_csv"      -> (sourceCsv(_, _)),
    "source_json"     -> (sourceJson(_, _)),
    "source_orc"      -> (sourceOrc(_, _)),
    "source_textline" -> (sourceTextline(_, _)),
    "layout_zorder"   -> (layoutZorder(_, _)),
    "snapshot_merge"  -> (snapshotMerge(_, _)),
    "snapshot_timetravel" -> (snapshotTimetravel(_, _)))

  /** Oracles read the ORIGINAL parquet tables — the round-trip must be
    * lossless for the hashes to match. */
  val oracles: Map[String, String] = Map(
    "source_csv" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(MAX(o_orderdate) AS DATE) AS last_date
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "source_json" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |  MIN(c_name) AS first_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "source_textline" ->
      """SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  MIN(doc_id) AS first_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "source_orc" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_quantity < 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "snapshot_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 100 AS o_totalprice
        |  FROM base WHERE o_orderkey <= 600
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 997 = 0),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(o_totalprice) AS DOUBLE) AS total,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "snapshot_timetravel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice + 50 AS DECIMAL(18,2)) AS o_totalprice
        |  FROM base WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 1009 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd),
        |diff AS (
        |  SELECT 'added' AS change, * FROM (
        |    SELECT * FROM v2 EXCEPT ALL SELECT * FROM base)
        |  UNION ALL
        |  SELECT 'removed' AS change, * FROM (
        |    SELECT * FROM base EXCEPT ALL SELECT * FROM v2))
        |SELECT change, o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM diff ORDER BY change, o_orderkey""".stripMargin,
    "layout_zorder" ->
      """SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE user_id BETWEEN 4 AND 7
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-09'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-17'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
