package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

import graft.operators.{GraphOps, IncrementalDedup, VectorOps}
import graft.sources.SnapshotTable
import Meta.jstr

/** Dev probe (a measurement tool, not a query surface): one session, one
  * measurement window and one artifact writer shared by three modes.
  *
  * Usage: `runMain graft.Probe <sfDir> <mode>`, where mode is one of
  *
  *  - `<query>…` (metric `probe_isolated`): isolated per-query timing,
  *    one warm run and `SPARK_GRAFT_PROBE_SAMPLES` timed runs (default
  *    2) per query. `sentinels` expands to the code-pinned basket below;
  *    `logical:<q>` prints the optimized logical plan (what
  *    ProjectionLintSpec sweeps) and `finalplan:<q>` runs the query once
  *    and prints the final adaptive physical plan — the join strategies
  *    AQE actually chose at this SF. With
  *    `SPARK_GRAFT_PROBE_BASELINE=<earlier probe artifact>` the artifact
  *    also ratios each query against that artifact's `queries` map.
  *  - `build` (metric `layout_build_cold`): the COLD build of every
  *    derived corpus layout — trained IVF at k=8 and at the corpus-scaled
  *    semDedup k, PQ codebooks, the dedup-cluster table, the z-order
  *    events layout. Each published dir is deleted, then its `ensure*`
  *    call is timed once. Rebuilds are deterministic (content-fingerprinted
  *    keys, decimal-exact centroid math), so every later query stays
  *    byte-identical; the dirs live under `graft.build.root`, so run this
  *    mode in a scratch checkout when the published layouts matter.
  *  - `incdedup[:nBatches]` (metric `incdedup_growth`, default 16
  *    batches): the [[IncrementalDedup]] band index under sequential
  *    arrivals. The corpus arrives as `nBatches` contiguous doc_id
  *    slices into a fresh index at `target/probe/inc_dedup_idx`; then
  *    one [[IncrementalDedup.compactIndex]] pass, one more batch against
  *    the compacted index, and the one-shot [[IncrementalDedup.dedupFull]]
  *    baseline incremental processing replaces.
  *
  * The session is [[Session.build]]'s with `local[SPARK_GRAFT_CPUS]`
  * (default 32) and spill under `SPARK_GRAFT_LOCAL_DIR` (default
  * /tmp/graft-spill): the r14 sf100 probe filled the root disk
  * mid-shuffle because Spark spilled to /tmp on the system volume, and a
  * dedicated dir makes spill attributable, deletable and measurable.
  *
  * With `SPARK_GRAFT_PROBE_OUT=<path>` every mode writes a JSON artifact
  * after EACH reading, `partial:true` until the last: the r14 sf100
  * probe died on ENOSPC at query 7 of 10 and took all six completed
  * readings with it, and the first sf100 build probe was killed by a
  * harness timeout with zero output. The final line also goes to stdout.
  *
  * Isolated timing is the instrument for CROSS-ROUND per-query claims
  * (r13 rule): an in-sweep number carries its predecessors' warm state
  * (the r13 skew_salted_join incident read +20.5 s in both sweeps from a
  * board edit that never touched it). `snapshot_*` queries are
  * probe-valid: each invocation builds its own fresh temp table and
  * deletes it, so the warm run cannot grow a version chain the timed
  * samples see (probe_r17_sf10.json: isolated ≈ in-sweep).
  */
object Probe {
  /** The fixed cross-round SENTINEL basket (r17 verdict task 1b): five
    * stable queries spanning the engine's cost families — scan+agg
    * (sql_q1), skewed shuffle (skew_salted_join), iterative
    * driver-coordinated (llm_kmeans), replicate-heavy CPU
    * (agg_bootstrap), snapshot write path (snapshot_merge). Probed
    * ISOLATED in a clean window each round at sf0.1
    * (`runMain graft.Probe <sfDir> sentinels` expands to exactly this
    * list), they adjudicate suite-total drift by instrument: if the
    * sweep total inflates but the sentinels sit on their prior values,
    * the drift is ambient; if the sentinels move with it, it is code or
    * config. Code-pinned so the basket cannot quietly change
    * composition between rounds. */
  val sentinels: Seq[String] = Seq(
    "sql_q1", "skew_salted_join", "llm_kmeans", "agg_bootstrap",
    "snapshot_merge")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.build(sfDir, Session.cpus, spill = Some("/tmp/graft-spill"))
    args.drop(1).toSeq match {
      case Seq("build") => layoutBuild(spark, sfDir)
      case Seq(m) if m == "incdedup" || m.startsWith("incdedup:") =>
        incDedup(spark, sfDir,
          Some(m.stripPrefix("incdedup").stripPrefix(":")).filter(_.nonEmpty)
            .map(_.toInt).getOrElse(16))
      case names => isolated(spark, sfDir, names)
    }
    spark.stop()
  }

  /** Between readings: drop pinned blocks (a multi-query probe otherwise
    * accretes earlier queries' cached state into later ones' memory —
    * llm_bigrams read 36 s in an 8-query chain vs ~22 s in the Bench
    * sweep, r13), then nudge the ContextCleaner: shuffle files of
    * dereferenced plans are only deleted once the JVM GCs the shuffle
    * handles, and at sf100 a 10-query chain otherwise accreted tens of
    * GB of dead spill between queries (r14 ENOSPC crash). */
  private def quiesce(spark: SparkSession): Unit = {
    Meta.unpersistAll(spark)
    System.gc()
  }

  /** Full-plan execution with zero write cost, the same sink as Bench. */
  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def num3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  private def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  private def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
    else Seq(f)

  /** The window a mode measures in, opened at construction, and its
    * artifact writer. `_meta` resolves once, before any timed region.
    * Every artifact carries load and steal; `disk` adds the spill dir's
    * headroom and `cpu` the effective-CPU-speed bracket (r19): a
    * fixed-work spin at open and at the final write, since in a VM host
    * frequency/SMT degradation under co-tenant load shows in no kernel
    * counter, only in how fast fixed work runs. */
  private final class Window(spark: SparkSession, sfDir: String, metric: String,
      disk: Boolean, cpu: Boolean) {
    private val meta = Meta.metaJson()
    private val localDir = spark.conf.get("spark.local.dir")
    private val loadBefore = Meta.loadavg()
    private val diskBefore = Meta.diskFreeGb(localDir)
    private val jiffies0 = Meta.cpuJiffies()
    private val cpuBefore = if (cpu) Meta.cpuSpeedJson() else ""
    if (cpu) System.err.println(s"[probe] cpu speed before: $cpuBefore")

    /** One artifact line: the shared header and bracket, then `fields`
      * (name → JSON value) in order, then `sf`. */
    def write(fields: Seq[(String, String)], partial: Boolean): Unit = {
      val heapGb = math.round(Runtime.getRuntime.maxMemory * 10.0 / (1L << 30)) / 10.0
      val stealPct = Meta.stealPct(jiffies0, Meta.cpuJiffies())
      val line = obj(
        Seq("metric" -> jstr(metric), "unit" -> jstr("sec"), "_meta" -> meta) ++
        (if (partial) Seq("partial" -> "true") else Nil) ++
        Seq(
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "codec" -> jstr(spark.conf.get("spark.io.compression.codec")),
          "heap_gib" -> heapGb.toString,
          "load" -> s"""{"before":$loadBefore,"after":${Meta.loadavg()},"steal_pct":$stealPct}""") ++
        (if (disk) Seq("disk_free_gib" -> (s"""{"before":$diskBefore,""" +
          s""""after":${Meta.diskFreeGb(localDir)},"dir":${jstr(localDir)}}""")) else Nil) ++
        // the "after" spin only on the final write: it costs ~2 s, and a
        // partial snapshot only needs the window's entry state
        (if (cpu) Seq("cpu" -> s"""{"before":$cpuBefore${
          if (partial) "" else s""","after":${Meta.cpuSpeedJson()}"""}}""") else Nil) ++
        fields :+ ("sf" -> jstr(sfDir)))
      val out = sys.env.get("SPARK_GRAFT_PROBE_OUT")
      out.foreach(p => java.nio.file.Files.write(java.nio.file.Paths.get(p),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      if (!partial) {
        out.foreach(p => System.err.println(s"[probe] artifact -> $p"))
        println(line)
      }
    }
  }

  /** Query mode: per-query min of samples, every sample, and per sample
    * the busiest device's (busy_pct, MB read, MB written) — bracketing
    * EACH timed run, because a window-average gauge hides the burst that
    * inflated one sample (the steal lesson, r18/r19). */
  private def isolated(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val nSamples = sys.env.get("SPARK_GRAFT_PROBE_SAMPLES").map(_.toInt).getOrElse(2)
    // fail fast: 0/negative would only surface as ss.min throwing AFTER
    // every warm run had executed (r14 advisor)
    require(nSamples >= 1, s"SPARK_GRAFT_PROBE_SAMPLES must be >= 1, got $nSamples")
    // parsed ONCE at startup so a bad path fails before any measurement
    val baseline: Option[(String, Map[String, Double])] =
      sys.env.get("SPARK_GRAFT_PROBE_BASELINE").map { p =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(p))
        val q = node.get("queries")
        require(q != null, s"SPARK_GRAFT_PROBE_BASELINE=$p has no 'queries' field")
        import scala.jdk.CollectionConverters._
        (p, q.fieldNames().asScala.map(n => n -> q.get(n).asDouble()).toMap)
      }
    def run(name: String): Seq[(Double, Double, Double, Double)] = {
      val fn = SparkEntry.queries(name)
      drain(fn(spark, sfDir))
      quiesce(spark)
      (1 to nSamples).map { _ =>
        val io0 = Meta.diskStats()
        val (t, _) = time(drain(fn(spark, sfDir)))
        val (dev, busy, rdMb, wrMb) = Meta.ioDelta(io0, Meta.diskStats(), t * 1000.0)
        quiesce(spark)
        println(f"[probe] $name $t%.2f s (warm; io $dev busy $busy%.1f%% " +
          f"rd $rdMb%.0f MB wr $wrMb%.0f MB)")
        (t, busy, rdMb, wrMb)
      }
    }
    val window = new Window(spark, sfDir, "probe_isolated", disk = true, cpu = true)
    val done = ArrayBuffer.empty[(String, Seq[(Double, Double, Double, Double)])]
    def write(partial: Boolean): Unit = {
      val sorted = done.sortBy(_._1)
      def perQuery(f: Seq[(Double, Double, Double, Double)] => String): String =
        obj(sorted.map { case (n, ss) => n -> f(ss) })
      // cross-round comparison BY INSTRUMENT (r18 verdict task 1): "did
      // the sentinels move" is a field a reader checks, not prose
      val baselineJ = baseline.map { case (path, base) =>
        val ratios = obj(sorted.flatMap { case (n, ss) =>
          base.get(n).filter(_ > 0).map(b => n -> num3(ss.map(_._1).min / b)) })
        "baseline" -> (s"""{"path":${jstr(path)},"rule":"ratio = cur_min / baseline_min",""" +
          s""""ratios":$ratios}""")
      }
      window.write(Seq("samples_per_query" -> nSamples.toString) ++ baselineJ ++ Seq(
        "queries" -> perQuery(_.map(_._1).min.toString),
        "samples" -> perQuery(_.map(s => num3(s._1)).mkString("[", ",", "]")),
        "io" -> perQuery(_.map { case (_, b, r, w) => s"[$b,$r,$w]" }
          .mkString("[", ",", "]"))), partial)
    }
    // a repeated name would emit a duplicate key into the artifact's
    // objects, which JSON parsers resolve inconsistently (r15 advisor):
    // de-duplicate order-preservingly and say so
    val expanded = args.flatMap(a => if (a == "sentinels") sentinels else Seq(a))
    val names = expanded.distinct
    if (names.size < expanded.size)
      System.err.println("[probe] duplicate query names in args de-duplicated: " +
        expanded.diff(names).mkString(", "))
    names.foreach {
      case n if n.startsWith("logical:") =>
        println(SparkEntry.queries(n.stripPrefix("logical:"))(spark, sfDir)
          .queryExecution.optimizedPlan.treeString)
      // executed through its own QueryExecution (foreachPartition, not a
      // noop write, which would attach the adaptive plan to a separate
      // execution), so the printed plan is the FINAL adaptive one
      case n if n.startsWith("finalplan:") =>
        val df = SparkEntry.queries(n.stripPrefix("finalplan:"))(spark, sfDir)
        df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
        println(df.queryExecution.executedPlan.treeString)
        quiesce(spark)
      case name =>
        done += (name -> run(name))
        // the plan dump is console material: an artifact run's stdout
        // stays readable without it
        if (sys.env.get("SPARK_GRAFT_PROBE_OUT").isEmpty)
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        write(partial = true)
    }
    write(partial = false)
  }

  /** Build mode: seconds, published GiB and file count per layout. The
    * file count (r18 verdict task 2) guards the small-files defect this
    * probe caught in r18 — a partitionBy without prior co-location wrote
    * task×cell files, 19,626 for 65 MB at sf10 — which no correctness
    * board sees, since values are layout-independent: expect ≈ cell or
    * shard count plus bookkeeping. */
  private def layoutBuild(spark: SparkSession, sfDir: String): Unit = {
    // computed BEFORE the window (one metadata-cheap count) and recorded:
    // the artifact must say which k it priced
    val kSem = VectorOps.semDedupK(spark, sfDir)
    val builds: Seq[(String, String, () => String)] = Seq(
      ("ivf_trained_k8", VectorOps.trainedLayoutDirFor(sfDir, 8),
        () => VectorOps.ensureTrainedLayout(spark, sfDir)),
      ("ivf_trained_semdedup_k" + kSem, VectorOps.trainedLayoutDirFor(sfDir, kSem),
        () => VectorOps.ensureSemDedupLayout(spark, sfDir)),
      ("pq", VectorOps.pqLayoutDir(sfDir),
        () => VectorOps.ensurePqLayout(spark, sfDir)),
      ("dedup_clusters", GraphOps.clusterLayoutDir(sfDir),
        () => GraphOps.ensureClusterLayout(spark, sfDir)),
      ("zorder", graft.sources.Formats.zLayoutDir(sfDir),
        () => graft.sources.Formats.ensureZLayout(spark, sfDir)))
      // at small SF the corpus-scaled k degenerates to 8 and the two IVF
      // entries would race on ONE dir: the k8 row already is that build
      .filterNot { case (n, _, _) => n.startsWith("ivf_trained_semdedup") && kSem == 8 }
    val window = new Window(spark, sfDir, "layout_build_cold", disk = true, cpu = false)
    val done = ArrayBuffer.empty[(String, Double, Double, Int)]
    def write(partial: Boolean): Unit = window.write(Seq(
      "semdedup_k" -> kSem.toString,
      "builds" -> obj(done.map { case (n, s, _, _) => n -> num3(s) }),
      "published_gib" -> obj(done.map { case (n, _, g, _) => n -> g.toString }),
      "files" -> obj(done.map { case (n, _, _, fc) => n -> fc.toString })), partial)
    builds.foreach { case (name, dir, build) =>
      rmTree(new java.io.File(dir))
      quiesce(spark)
      val (sec, out) = time(build())
      val published = files(new java.io.File(out))
      val gb = math.round(published.map(_.length).sum * 1000.0 / (1L << 30)) / 1000.0
      println(f"[probe] build $name $sec%.2f s, $gb%.3f GiB published, ${published.size} files")
      quiesce(spark)
      done += ((name, sec, gb, published.size))
      write(partial = true)
    }
    write(partial = false)
  }

  /** Incdedup mode. Per batch: wall seconds, index file count at the
    * current version (the O(batches) accretion term every join's file
    * listing pays), cumulative index rows (the O(corpus) join-side term —
    * 8 fixed-width rows per banded doc) and manifest KiB. */
  private def incDedup(spark: SparkSession, sfDir: String, nBatches: Int): Unit = {
    // the post-compaction reading needs its own reserved slice, and a
    // 1-batch "incremental" run prices nothing incremental
    require(nBatches >= 2, s"nBatches must be >= 2, got $nBatches")
    val table = "target/probe/inc_dedup_idx"
    rmTree(new java.io.File(table)) // cold growth: a fresh index per run
    // a plain scan, not a localCheckpoint: quiesce drops every pinned
    // block, and a checkpointed corpus was gone by the second batch
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val mm = docs.agg(min("doc_id"), max("doc_id")).head()
    val (idLo, idHi) = (mm.getLong(0), mm.getLong(1))
    // nBatches timed slices + one reserved for the post-compaction read;
    // contiguous ascending ranges — arrival order IS id order
    val nSlices = nBatches + 1
    def slice(i: Int): DataFrame = {
      val lo = idLo + (idHi - idLo + 1) * i / nSlices
      val hi = idLo + (idHi - idLo + 1) * (i + 1) / nSlices
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
    val window = new Window(spark, sfDir, "incdedup_growth", disk = false, cpu = false)
    val batchSec = ArrayBuffer.empty[Double]
    val idxFiles = ArrayBuffer.empty[Int]
    val idxRows = ArrayBuffer.empty[Long]
    val manifestKb = ArrayBuffer.empty[Double]
    val tail = ArrayBuffer.empty[(String, String)] // post-loop readings
    def write(partial: Boolean): Unit = window.write(Seq(
      "n_batches" -> nBatches.toString,
      "batch_sec" -> batchSec.map(num3).mkString("[", ",", "]"),
      "index_files" -> idxFiles.mkString("[", ",", "]"),
      "index_rows" -> idxRows.mkString("[", ",", "]"),
      "manifest_kb" -> manifestKb.map(num3).mkString("[", ",", "]")) ++
      tail.sortBy(_._1), partial)
    (0 until nBatches).foreach { i =>
      val (sec, _) = time(drain(IncrementalDedup.processBatch(spark, table, slice(i))))
      val v = SnapshotTable.currentVersion(table)
      val es = SnapshotTable.entries(table, v)
      batchSec += sec
      idxFiles += es.size
      idxRows += es.map(e => math.max(e.rows, 0L)).sum
      manifestKb += math.round(java.nio.file.Files.size(
        java.nio.file.Paths.get(table, "manifests", f"manifest-$v%05d")) / 102.4) / 10.0
      println(f"[probe] incdedup batch ${i + 1}%2d: $sec%.2f s, " +
        f"index files=${es.size}, rows=${idxRows.last}")
      quiesce(spark)
      write(partial = true)
    }
    // maintenance: one planned compaction through the format-preserving
    // wrapper, then the reserved batch against the compacted index
    val (compactSec, vComp) = time(IncrementalDedup.compactIndex(spark, table))
    val filesAfter = SnapshotTable.entries(table, vComp).size
    quiesce(spark)
    val (postSec, _) = time(drain(IncrementalDedup.processBatch(spark, table, slice(nBatches))))
    println(f"[probe] incdedup compact $compactSec%.2f s " +
      f"(${idxFiles.last} -> $filesAfter files), next batch $postSec%.2f s")
    quiesce(spark)
    val (fullSec, _) = time(drain(IncrementalDedup.dedupFull(docs)))
    println(f"[probe] incdedup one-shot dedupFull $fullSec%.2f s")
    tail ++= Seq("compact_sec" -> num3(compactSec), "files_after_compact" -> filesAfter.toString,
      "post_compact_batch_sec" -> num3(postSec), "dedup_full_sec" -> num3(fullSec))
    write(partial = false)
  }
}
