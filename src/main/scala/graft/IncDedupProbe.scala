package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IncrementalDedup
import graft.sources.SnapshotTable

/** Dev probe: price the [[graft.operators.IncrementalDedup]] band index
  * END-TO-END under sequential batches — the one persisted derived
  * artifact that had no committed build/growth number (r18 verdict
  * task 4; the snapshot depth probe covered orders-MERGE accretion,
  * not this table's append-only growth). Drives the exact production
  * shape: the corpus arrives as `nBatches` contiguous doc_id slices,
  * each `processBatch` pays banding + the index join + the append
  * commit, and the index accretes one commit's files per batch. Then
  * prices the maintenance story: one [[IncrementalDedup.compactIndex]]
  * pass, plus ONE MORE batch against the compacted index — the reading
  * that says what compaction buys the next arrival.
  *
  * Per batch the artifact records wall seconds, index file count at the
  * current version (the O(batches) accretion term every join's file listing
  * pays), cumulative index rows (the O(corpus) join-side term — 8
  * fixed-width rows per banded doc), and manifest bytes. A one-shot
  * [[IncrementalDedup.dedupFull]] over the same corpus rides along as
  * the baseline incremental processing replaces.
  *
  * Usage: runMain graft.IncDedupProbe [sfDir] [nBatches] [tableDir]
  * Artifact: SPARK_GRAFT_PROBE_OUT=<path> (same contract as [[Probe]]).
  */
object IncDedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata-scaled/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(16)
    // the post-compaction reading needs its own reserved slice, and a
    // 1-batch "incremental" run prices nothing incremental
    require(nBatches >= 2, s"nBatches must be >= 2, got $nBatches")
    val table = args.lift(2).getOrElse("target/probe/inc_dedup_idx")
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/tmp/graft-spill")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions",
        Bench.scaledShufflePartitions(sfDir, 32))
      .config("spark.io.compression.codec", Bench.scaledCodec(sfDir))
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fresh index per run — this probe prices cold growth
    val root = java.nio.file.Paths.get(table)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
        st.iterator().asScala.toSeq
      }.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }

    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    // full-plan execution with zero write cost, same sink as Bench
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def quiesce(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .localCheckpoint()
    val mm = docs.agg(min("doc_id"), max("doc_id")).head()
    val (idLo, idHi) = (mm.getLong(0), mm.getLong(1))
    // nBatches timed slices + one reserved for the post-compaction read;
    // contiguous ascending ranges — arrival order IS id order
    val nSlices = nBatches + 1
    def slice(i: Int) = {
      val lo = idLo + (idHi - idLo + 1) * i / nSlices
      val hi = idLo + (idHi - idLo + 1) * (i + 1) / nSlices
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }

    import Meta.jstr
    val metaJ = Meta.metaJson()
    val loadBefore = loadavg()

    val batchSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val idxFiles = scala.collection.mutable.ArrayBuffer.empty[Int]
    val idxRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val manifestKb = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tail = Map.empty[String, String] // post-loop readings, as JSON values
    def arr(xs: Seq[Double]): String = xs.map(x =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x)))
      .mkString("[", ",", "]")
    // artifact after every batch, partial until the run completes (the
    // Probe r14 lesson: a crash must only lose the in-flight reading)
    def writeArtifact(partial: Boolean): Unit = {
      val line = s"""{"metric":"incdedup_growth","unit":"sec","_meta":$metaJ,""" +
        (if (partial) s""""partial":true,""" else "") +
        s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
        s""""codec":${jstr(spark.conf.get("spark.io.compression.codec"))},""" +
        s""""heap_gib":${math.round(Runtime.getRuntime.maxMemory * 10.0 / (1L << 30)) / 10.0},""" +
        s""""load":{"before":$loadBefore,"after":${loadavg()}},""" +
        s""""n_batches":$nBatches,""" +
        s""""batch_sec":${arr(batchSec.toSeq)},""" +
        s""""index_files":${idxFiles.mkString("[", ",", "]")},""" +
        s""""index_rows":${idxRows.mkString("[", ",", "]")},""" +
        s""""manifest_kb":${arr(manifestKb.toSeq)},""" +
        tail.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:$v," }.mkString +
        s""""sf":${jstr(sfDir)}}"""
      sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      if (!partial) println(line)
    }

    (0 until nBatches).foreach { i =>
      val (sec, _) = time { drain(IncrementalDedup.processBatch(spark, table, slice(i))) }
      val v = SnapshotTable.currentVersion(table)
      val es = SnapshotTable.entries(table, v)
      batchSec += sec
      idxFiles += es.size
      idxRows += es.map(e => math.max(e.rows, 0L)).sum
      manifestKb += math.round(java.nio.file.Files.size(
        java.nio.file.Paths.get(table, "manifests", f"manifest-$v%05d")) / 102.4) / 10.0
      println(f"[incdedup-probe] batch ${i + 1}%2d: $sec%.2f s, " +
        f"index files=${es.size}, rows=${idxRows.last}")
      quiesce()
      writeArtifact(partial = true)
    }

    // maintenance: one planned compaction through the format-preserving
    // wrapper, then the reserved batch against the compacted index
    val (compactSec, vComp) = time { IncrementalDedup.compactIndex(spark, table) }
    val filesAfter = SnapshotTable.entries(table, vComp).size
    tail += ("compact_sec" ->
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(compactSec)))
    tail += ("files_after_compact" -> filesAfter.toString)
    quiesce()
    val (postSec, _) = time {
      drain(IncrementalDedup.processBatch(spark, table, slice(nBatches))) }
    tail += ("post_compact_batch_sec" ->
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(postSec)))
    println(f"[incdedup-probe] compact $compactSec%.2f s " +
      f"(${idxFiles.last} -> $filesAfter files), next batch $postSec%.2f s")
    quiesce()
    // the one-shot baseline incremental processing replaces
    val (fullSec, _) = time { drain(IncrementalDedup.dedupFull(docs)) }
    tail += ("dedup_full_sec" ->
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(fullSec)))
    println(f"[incdedup-probe] one-shot dedupFull $fullSec%.2f s")

    writeArtifact(partial = false)
    sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach(p =>
      System.err.println(s"[incdedup-probe] artifact -> $p"))
    spark.stop()
  }
}
