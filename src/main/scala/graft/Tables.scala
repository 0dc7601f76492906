package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take `(spark, sfDir)` and resolve tables through here so the
  * whole engine reads through one place. At 100 TB the same API would point
  * at `s3a://` lake paths (the reference downloads chunks from S3,
  * /root/reference/src/data_manager.rs:195-209); locally it is the testdata
  * dir. Parquet scans are columnar + predicate-pushdown-friendly, replacing
  * the reference's row-oriented RocksDB point reads
  * (/root/reference/src/rocksdb_storage_engine.rs:48).
  */
object Tables {
  /** Inferred-schema memo per table path (r20). Every `load` call paid
    * parquet schema INFERENCE at plan time — a directory listing plus a
    * footer read — and the engine loads each table hundreds of times per
    * bench sweep (`registerViews` alone is 7 loads × 24 SQL queries × 2
    * sweeps). One inference per table content is the truth; `.schema(st)`
    * then skips inference entirely. Result-identical by construction:
    * the supplied schema IS the inferred one, so analysis, pruning and
    * pushdown see byte-identical types.
    *
    * Keyed on content, not on the path alone: each entry keeps the
    * [[graft.sources.Listing]] signature (path, length, mtime of every
    * data file) it was inferred under, and a `load` whose fresh listing
    * differs infers again and replaces the entry. A table rewritten in
    * place within one JVM is therefore read under its new schema. The
    * check is one `listStatus` of the table directory.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.sources.Listing.Signature, org.apache.spark.sql.types.StructType)]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val sig = graft.sources.Listing.signature(p, spark.sparkContext.hadoopConfiguration)
    val st = schemaCache.compute(p, (_, hit) =>
      if (hit != null && hit._1 == sig) hit
      else (sig, spark.read.parquet(p).schema))._2
    spark.read.schema(st).parquet(p)
  }

  /** OPT-IN scan-parallelism floor for layout-bound inputs (r19
    * optimization; guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read").
    *
    * Parquet's split unit is the ROW GROUP, and the driver-generated
    * tables are ONE row group per file (verified via parquet_metadata:
    * every sf0.1 table = 1 file × 1 row group). Spark's byte-range file
    * splits can then never parallelize the scan: the task owning the
    * row-group midpoint reads everything, its siblings read nothing —
    * measured at sf0.1 as map stages running on ONE core of 32
    * ((2+1)/3 task bars with two empty tasks; TPC-H Q1's decimal
    * aggregate 1.93 → 1.04 s, llm_gopher 0.70 → 0.46 s when spread).
    * The fix is the guide's own remedy for unsplittable inputs: a
    * round-robin repartition immediately after the read.
    *
    * OPT-IN, not blanket: a full-board A/B (bench_r19_sf0.1_baseline
    * vs the discarded blanket take) showed the floor pays ONLY where
    * the map side is CPU-heavy relative to the exchange it adds —
    * per-row digest/decimal/array-fold pipelines won 25–45% while
    * cheap-map queries lost the exchange latency and sketch/distinct
    * aggregates additionally paid a 32-way partial-merge
    * (approx_percentile 0.56 → 2.02 s). So the heavy operators name
    * the floor explicitly ([[spread]] call sites) and everything else
    * keeps the bare scan.
    *
    * GATED so it is a no-op exactly where the layout already feeds the
    * cores: fires only when the table's TRUE split count (Σ per-file
    * parquet row-group counts, read from the footers — r20; the former
    * ceil(bytes/128 MB) heuristic could misfire on multi-row-group
    * files) is below the session's default
    * parallelism AND the table is big enough for spread compute to
    * beat the extra exchange (≥ 256 KiB compressed). At production
    * scale a corpus holds files ≫ cores, the estimate saturates, and
    * spread() returns the bare scan — the exchange exists ONLY where
    * the input cannot otherwise use the machine, so this is
    * scale-adaptive, not a local[32] tune (the driver's lower-core
    * bench run lowers `defaultParallelism` and the gate follows it).
    *
    * The layout probe is java.io-based and therefore LOCAL-FILESYSTEM-
    * ONLY by design (r19 advisor): for an `hdfs://`/`s3a://` sfDir the
    * exists() check is false and spread() falls back to the bare scan —
    * a safe no-op, which is also the correct production behavior (a
    * remote lake table's layout is the writer's job; this floor exists
    * for the driver-generated local corpus's one-row-group files).
    *
    * Results are unchanged by construction: filters and column pruning
    * push BELOW a Repartition (the exchange carries pruned, filtered
    * rows — PushedFilters still reach the scan), every declared
    * aggregate is partition-order-exact (the float discipline that
    * makes the DuckDB oracle hash-match at all), every output is
    * canonically ordered, and round-robin repartition sorts locally
    * before exchanging (SPARK-23207) so task retries are
    * deterministic. Re-proven after the change: full oracle replay at
    * sf0.01 and sf0.1.
    */
  def spread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val file = new java.io.File(s"$sfDir/$name.parquet")
    val cores = spark.sparkContext.defaultParallelism
    if (file.exists() && splitEstimate(file) < cores &&
        totalBytes(file) >= (256L << 10))
      df.repartition(cores)
    else df
  }

  /** TRUE split count: the sum of per-file parquet ROW-GROUP counts read
    * from the footers (r20, r19 verdict task 8 / advisor). The former
    * ceil(bytes/128 MB) heuristic was only a lower bound that happened
    * to match this corpus (≥128 MB row groups assumed): a corpus with
    * many small row groups per file would under-count splits and fire
    * the repartition where the scan already parallelizes, and a single-
    * row-group file larger than cores×128 MB would saturate the estimate
    * and silently SKIP the one layout the gate exists to fix. Footer
    * reads are metadata-only (~ms) and memoized per (path, size, mtime);
    * an unreadable footer falls back to the old byte heuristic rather
    * than failing the query. */
  private[graft] def splitEstimate(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(c => c.isFile && c.getName.endsWith(".parquet"))
        .map(rowGroupCount)
        .sum
    else rowGroupCount(f)

  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def rowGroupCount(f: java.io.File): Long = {
    val key = s"${f.getAbsolutePath}|${f.length()}|${f.lastModified()}"
    rowGroupCache.computeIfAbsent(key, _ => Long.box(
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size.toLong finally r.close()
      } catch { case scala.util.control.NonFatal(_) =>
        math.max(1L, (f.length() + (128L << 20) - 1) / (128L << 20))
      })).longValue
  }

  private def totalBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.length()).sum
    else f.length()

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to map
    * to its µs TimestampType. Read it as raw nanos (legacy conf) and
    * truncate to µs explicitly — the same truncation DuckDB applies when
    * casting TIMESTAMP_NS to TIMESTAMP, keeping oracle parity (FIXTURES.md).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
