package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import Meta.{cpuJiffies, loadavg}
object Bench {
  /** Shuffle-partition count scaled to the corpus, not pinned to the
    * core count: a FIXED 32 put several sf10 joins into spill onset
    * (join_theta 13.9×, sql_q5 11.3× growth on 10× data — heap effects,
    * not plan defects). One partition per ~4 MB of compressed parquet
    * (≈ 10× that in-memory for the join-heavy rows), floored at `cpus`
    * so small SFs keep their historical parallelism, capped at 2048;
    * AQE partition coalescing (on by default) shrinks the small
    * shuffles back, so the higher count only costs where it pays. */
  def scaledShufflePartitions(sfDir: String, cpus: Int): Int =
    math.min(2048L, math.max(cpus.toLong, dirBytes(sfDir) / (4L << 20))).toInt

  // memoized per sfDir (r16 advisor): scaledShufflePartitions and
  // scaledCodec both need the corpus size, and Probe calls both at
  // startup — without the cache that is four recursive walks of the
  // same tree per session, O(files) each at large SF. A corpus dir is
  // an immutable input within a session, so one walk is the truth.
  private val dirBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def dirBytes(sfDir: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
      else f.length()
    dirBytesCache.computeIfAbsent(sfDir,
      d => Long.box(sizeOf(new java.io.File(d)))).longValue
  }

  /** Shuffle/spill compression codec scaled to the corpus, like the
    * partition count: lz4 (Spark's default — cheapest CPU when the
    * shuffle fits) below 1 GiB of input parquet, zstd at or above
    * (sf10 here). Adjudicated with same-box measurements on three
    * instruments (r16):
    *
    *  - isolated spill-heavy rows at sf10, clean windows: zstd faster
    *    on all three (skew_salted_join 24.2→21.3 s, llm_fuzzy_join
    *    23.9→21.8 s, sql_q21 7.6→6.9 s; probe_r16_sf10.json vs
    *    probe_r16_sf10_zstd.json) with a ~4× smaller scratch dip.
    *  - full 199-query board at sf10: zstd 720.9 s at steal 0.16% vs
    *    lz4 751.3 s at steal 2.51% (bench_r16_sf10.json vs
    *    bench_r16_sf10_lz4.json) — a wash once the lz4 sweep's dirtier
    *    window is priced in; light-shuffle rows pay zstd a little,
    *    heavy rows get it back.
    *  - sf100: llm_fuzzy_join +8% under zstd (295.0 vs 272.8 s) but
    *    HALF the scratch dip (7.6 vs 14.5 GiB,
    *    probe_r16_sf100_fuzzy_*.json), and the board's biggest shuffle
    *    (skew_salted_join, >50 GiB live under lz4) only COMPLETES
    *    under zstd on this disk (r15 ENOSPC adjudication).
    *
    * Time is a wash at sf10 and ≤8% either way at sf100; disk
    * footprint favors zstd 2–4× wherever spill exists, and at the top
    * scale zstd is the difference between finishing and ENOSPC — on a
    * cluster, per-node scratch is exactly the resource a 100 TB
    * shuffle exhausts first. Bench and Probe record the choice in
    * their artifacts.
    *
    * PRICED EXCEPTION (r16, same box): `sql_recursive` pays +49%
    * under zstd at sf10 (7.1 s lz4 vs 10.6 s, bench_r16_sf10_lz4.json
    * vs bench_r16_sf10.json) — its cost is many SMALL
    * recursion-round shuffles, where zstd's per-block CPU exceeds the
    * spill savings that repay it on the big single-shuffle rows. The
    * policy stays global anyway: the row is ~1.5% of the sf10 board,
    * and a per-query codec would make every artifact's codec field a
    * map, forking round-over-round comparability for a 3.5 s save. */
  def scaledCodec(sfDir: String): String =
    if (dirBytes(sfDir) >= (1L << 30)) "zstd" else "lz4"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(sfDir, Session.cpus)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val codec = spark.conf.get("spark.io.compression.codec")
    // bounded scratch from SPARK_GRAFT_LOCAL_DIR, recorded when set:
    // without it Spark spills to /tmp on the system volume, where a
    // big-SF sweep's dead shuffle files are neither attributable nor
    // safely deletable (the r14 sf100 ENOSPC lesson)
    val localDir = spark.conf.getOption("spark.local.dir")
    // noop sink: the full physical plan executes (sorts, projections,
    // final exchange) with zero write cost — `.count()` would let
    // Catalyst eliminate sorts and prune every projected column, timing
    // a scan-and-count instead of the declared query
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // uncounted warm-up: session init, parquet footers, codegen JIT —
    // steady-state throughput is what scales, not first-query setup
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("agg_basic").foreach(fn => run(fn(spark, sfDir)))
      // corpus builds (the trained IVF layout, the dedup-cluster table)
      // amortize across every query in production — build them here so
      // the timed numbers are the per-query probe cost, not the
      // one-time index fit
      graft.operators.VectorOps.ensureTrainedLayout(spark, sfDir)
      graft.operators.VectorOps.ensureSemDedupLayout(spark, sfDir)
      graft.operators.VectorOps.ensurePqLayout(spark, sfDir)
      graft.operators.GraphOps.ensureClusterLayout(spark, sfDir)
      graft.sources.Formats.ensureZLayout(spark, sfDir)
      Meta.unpersistAll(spark)
    } catch {
      // a failed warm-up (e.g. the trained-layout pre-build) must be
      // VISIBLE: llm_ann_trained would then pay full training inside its
      // timed run, and the number is uninterpretable without this signal
      case NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed: ${e.getClass.getName}: ${e.getMessage}")
    }
    // one timed execution; returns (seconds, CC-observation misses).
    // A failed query reports -1, never a plausible-looking duration.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val miss0 = graft.operators.GraphOps.ccObservationMisses.get()
      val t0 = System.nanoTime()
      val ok = try { run(fn(spark, sfDir)); true } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // iterative queries (connected components, k-means) leave
      // localCheckpoint blocks behind; dropping them between queries
      // keeps one query's state from stealing memory from the next
      Meta.unpersistAll(spark)
      (elapsed, graft.operators.GraphOps.ccObservationMisses.get() - miss0)
    }
    // TWO FULL SWEEPS, per-query min. The r5–r7 protocol (best-of-2
    // CONSECUTIVE runs) collapses under sustained ambient load: both
    // runs of a query land in the same load spike and the "min" is
    // still garbage (r8 recorded graph_bfs 27.1 s; isolated re-time
    // 2.14 s). Sweeping the whole suite twice separates a query's two
    // measurements by the full sweep duration (~minutes), so a
    // transient spike contaminates at most one of them.
    // SORTED name order (r13 adjudication): `queries` is a plain Map
    // union, so its iteration order is HashMap-internal — adding ONE
    // query reshuffled every query's warm-state neighbors and inflated
    // skew_salted_join's in-sweep number 29 → 49.5 s in BOTH sweeps
    // (consistent samples — structurally invisible to the >3× outlier
    // flag) while the isolated probe read 29.15 s, exactly r12. Sorted
    // order makes each query's predecessors stable round-over-round: a
    // new query perturbs only its alphabetical neighbors, not the board.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // ---- cool-down gate (r16 verdict task 3): BASELINE.md's idle-window
    // rule says a sweep is comparable only at ambient load < ~2, but a
    // CHAINED sweep (sf0.1 → sf1 → sf10 in one session protocol) starts
    // with the previous sweep's 32-thread load still in the 1-minute
    // loadavg — r16's sf10 sweep recorded load.before 15.48 and every
    // cross-round reading carried that asterisk. The gate makes the rule
    // and the practice agree: wait (idle) until loadavg decays below the
    // target before opening the measurement window, bounded so a truly
    // busy host degrades to the old behavior VISIBLY — the artifact's
    // cooldown field records target/waited/met, so "was the window
    // clean" is a checkable field, not sweep-scheduling archaeology.
    // Target 2.0 per BASELINE.md; SPARK_GRAFT_COOLDOWN_LOAD overrides
    // (0 disables); cap 360 s (1-min loadavg decays e^(-t/60): 15 → 2
    // in ~2 min idle, so 6 min only binds when load is truly ambient).
    // malformed override values fall back to the default LOUDLY instead
    // of NumberFormatException-aborting the sweep before any measurement
    // (r17 advisor): a gate-config typo must not cost a 30-minute sweep
    def envNum[A](name: String, parse: String => A, default: A): A =
      sys.env.get(name).map { v =>
        scala.util.Try(parse(v)).getOrElse {
          System.err.println(
            s"[bench] $name='$v' is not a number — using default $default")
          default
        }
      }.getOrElse(default)
    val cooldownTarget = envNum("SPARK_GRAFT_COOLDOWN_LOAD", _.toDouble, 2.0)
    val cooldownCapSec = envNum("SPARK_GRAFT_COOLDOWN_MAX_SEC", _.toInt, 360)
    val cooldownT0 = System.nanoTime()
    var cooldownMet = cooldownTarget <= 0 || loadavg() < cooldownTarget
    while (!cooldownMet &&
        (System.nanoTime() - cooldownT0) / 1e9 < cooldownCapSec) {
      Thread.sleep(5000)
      cooldownMet = loadavg() < cooldownTarget
    }
    val cooldownWaited =
      math.round((System.nanoTime() - cooldownT0) / 1e9 * 10.0) / 10.0
    if (!cooldownMet)
      System.err.println(f"[bench] cool-down gate NOT met after $cooldownWaited%.0f s " +
        f"(load ${loadavg()}%.2f >= $cooldownTarget%.1f) — sweeping anyway, artifact records it")
    val loadBefore = loadavg()
    val jiffies0 = cpuJiffies()
    val sweep1 = names.map { case (n, fn) => n -> once(n, fn) }
    val loadMid = loadavg()
    val sweep2 = names.map { case (n, fn) => n -> once(n, fn) }
    val s2 = sweep2.toMap
    // intra-sweep outlier auto-flag (r12 verdict task 7): the
    // llm_fingerprint incident (47.8 vs 7.2 s on IDENTICAL code — an
    // I/O-contention spike invisible to loadavg and steal_pct) was
    // caught by eyeball. Any query whose two sweep samples differ by
    // >3× (above a 0.5 s floor — tiny queries jitter multiplicatively
    // for free) gets ONE immediate re-measure; the artifact records all
    // samples and the re-measure flag, so a contaminated sample can
    // never silently become a round baseline.
    val results = sweep1.map { case (n, (t1, m1)) =>
      val (t2, m2) = s2(n)
      val outlier = t1 > 0 && t2 > 0 && math.min(t1, t2) > 0.5 &&
        math.max(t1, t2) / math.min(t1, t2) > 3.0
      val (t3opt, m3) =
        if (outlier) {
          System.err.println(
            f"[bench] $n sweep spread ${math.max(t1, t2) / math.min(t1, t2)}%.1f× ($t1%.2f vs $t2%.2f s) — re-measuring")
          val (t3, m) = once(n, SparkEntry.queries(n)); (Some(t3), m)
        } else (None, 0L)
      val samples = (Seq(t1, t2) ++ t3opt).filter(_ >= 0)
      val best = if (samples.isEmpty) -1.0 else samples.min
      (n, best, m1 + m2 + m3, Seq(t1, t2) ++ t3opt, outlier)
    }
    // load/steal window closes AFTER the outlier re-measures (results is
    // strict), so every timed run sits inside the recorded context
    val loadAfter = loadavg()
    val stealPct = Meta.stealPct(jiffies0, cpuJiffies())
    def toJson(rs: Seq[(String, Double)]): String =
      rs.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val times = results.map { case (n, t, _, _, _) => (n, t) }
    val total = times.map(_._2).sum
    // misses are emitted sparsely (nonzero only): normally the object is
    // empty, and any entry is itself the signal that the listener bus
    // was wedged during that query's runs
    val missJson = results.collect { case (n, _, m, _, _) if m > 0 => s"\"$n\":$m" }
      .mkString("{", ",", "}")
    // per-query sample spread: every sample of every query (sweep1,
    // sweep2, and the outlier re-measure when taken) goes into the file
    // artifact, with the re-measured set flagged — the audit surface for
    // "which number did `queries` actually take, and was it contested"
    val samplesJson = results.sortBy(_._1).map { case (n, _, _, ss, _) =>
      // Locale.ROOT, not the f"" interpolator: f"" formats via the JVM
      // default locale, and a comma-decimal locale would make this the
      // one invalid-JSON number in an otherwise Double.toString artifact
      s"\"$n\":[" + ss.map(t =>
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(t)))
        .mkString(",") + "]"
    }.mkString("{", ",", "}")
    val remeasuredJson = results.collect { case (n, _, _, _, true) => s"\"$n\"" }
      .mkString("[", ",", "]")
    val loadJson = s"""{"before":$loadBefore,"mid":$loadMid,"after":$loadAfter,"steal_pct":$stealPct,""" +
      s""""cooldown":{"target":$cooldownTarget,"waited_sec":$cooldownWaited,"met":$cooldownMet}}"""
    val sfName = new java.io.File(sfDir).getName
    // FULL per-query map goes to a file artifact: at 120+ queries the
    // one-line JSON passed ~5 KB and the driver's stdout tail-capture cut
    // off its head, leaving the round bench unparseable (BENCH_r04
    // "parsed": null). The file is the audit surface.
    // heap is part of the protocol: the r10 sf10 sweep needed 48g where
    // r11's passed at the default 8g — a number without its -Xmx is not
    // comparable round-over-round. GiB scaling (1<<30), not decimal 1e9:
    // -Xmx8g must read back 8.0, not 8.6 (the r12 artifact's unit slip)
    val heapGb = math.round(Runtime.getRuntime.maxMemory * 10.0 / (1L << 30)) / 10.0
    import Meta.jstr
    // ---- _meta provenance (r15 verdict task 4): the artifact names the
    // exact tree it measured, so a byte-identical refresh still changes
    // the file and self-certifies — "which code produced this number" is
    // a field, not a git-archaeology exercise. Shared helper (r18
    // advisor: the block was copy-pasted into four mains and drifted) —
    // [[Meta.metaJson]] carries the stderr-drain / untracked-files /
    // porcelain-parse rules.
    val metaJson = Meta.metaJson(includeRound = true)
    // ---- round-over-round regression floor (r15 verdict task 3): the
    // "zero regressions" claim is computed by the instrument against the
    // previous round's committed artifact — explicit rule, checkable
    // field, never prose. Base = SPARK_GRAFT_PREV_BENCH if set, else the
    // highest-round bench_rN_<sf>.json in cwd that is not THIS round's.
    val curRound = sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(r => "\\d+".r.findFirstIn(r)).map(_.toInt)
    val prevPath = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse {
      val re = ("bench_r(\\d+)_" + java.util.regex.Pattern.quote(sfName) +
        "\\.json").r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(_.getName match {
          case re(n) => Some((n.toInt, s"bench_r${n}_$sfName.json"))
          case _ => None
        })
        .filter(c => !curRound.contains(c._1))
        .sortBy(-_._1).headOption.map(_._2)
    }
    val (prevTimes, prevTotal): (Map[String, Double], Option[Double]) =
      prevPath.map { p =>
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(new java.io.File(p))
          val q = node.get("queries")
          val qs =
            if (q == null) Map.empty[String, Double]
            else {
              import scala.jdk.CollectionConverters._
              q.fieldNames().asScala.map(n => n -> q.get(n).asDouble()).toMap
            }
          (qs, Option(node.get("value")).map(_.asDouble()).filter(_ > 0))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] cannot read regression base $p: $e")
            (Map.empty[String, Double], None)
        }
      }.getOrElse((Map.empty, None))
    // ---- fixed-anchor drift comparison (r19, r18 verdict task 1): the
    // prev-round 1.15× ratchet below is structurally blind to steady
    // creep — sf0.1 sweep totals drifted 138.0 → 161.0 → 217.4 s across
    // r16→r18 with each step at or barely over the threshold, each
    // adjudicated as box noise, and a genuine +13%/round regression
    // would present identically. The anchor is the OLDEST committed
    // sweep of the same board taken in a CLEAN window (same n_queries,
    // steal < 1%, not itself drift-flagged), so creep accumulates
    // against a fixed point instead of being re-based every round.
    // SPARK_GRAFT_ANCHOR_BENCH pins the anchor path explicitly.
    def readBenchMeta(p: String): Option[(Int, Double, Boolean, Double)] =
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(p))
        Some((
          Option(node.get("n_queries")).map(_.asInt()).getOrElse(-1),
          Option(node.get("load")).flatMap(l => Option(l.get("steal_pct")))
            .map(_.asDouble()).getOrElse(-1.0),
          Option(node.get("regressions")).flatMap(r => Option(r.get("total")))
            .flatMap(t => Option(t.get("flagged"))).exists(_.asBoolean()),
          Option(node.get("value")).map(_.asDouble()).getOrElse(-1.0)))
      } catch { case scala.util.control.NonFatal(_) => None }
    val anchorPath = sys.env.get("SPARK_GRAFT_ANCHOR_BENCH").orElse {
      val re = ("bench_r(\\d+)_" + java.util.regex.Pattern.quote(sfName) +
        "\\.json").r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(_.getName match {
          case re(n) => Some((n.toInt, s"bench_r${n}_$sfName.json"))
          case _ => None
        })
        .filter(c => !curRound.contains(c._1))
        .sortBy(_._1)
        .find { case (_, p) =>
          readBenchMeta(p).exists { case (nq, steal, flagged, v) =>
            nq == times.size && steal >= 0 && steal < 1.0 && !flagged && v > 0
          }
        }.map(_._2)
    }
    val anchorTotal = anchorPath.flatMap(p =>
      readBenchMeta(p).map(_._4).filter(_ > 0))
    val anchorFlagged = anchorTotal.exists(at => total > 1.3 * at)
    if (anchorFlagged)
      System.err.println(f"[bench] ANCHOR DRIFT: $total%.1f s > 1.3× fixed anchor " +
        f"${anchorTotal.get}%.1f s (${anchorPath.get}) — cumulative creep, adjudicate or treat as regression")
    val anchorJson = (anchorPath, anchorTotal) match {
      case (Some(p), Some(at)) =>
        s"""{"base":${jstr(p)},"total":$at,"cur":$total,""" +
          s""""rule":"same n_queries, steal<1%, oldest; cur > 1.3*anchor","flagged":$anchorFlagged}"""
      case _ => "null"
    }
    // >1.3× AND >1 s: multiplicative floor keeps sub-second jitter out,
    // additive floor keeps a 0.2→0.3 s row from reading as a regression
    val regressionRows = times
      .flatMap { case (n, cur) =>
        prevTimes.get(n).collect {
          case prev if prev > 0 && cur > 0 && cur > 1.3 * prev && cur - prev > 1.0 =>
            s"""{"q":${jstr(n)},"prev":$prev,"cur":$cur}"""
        }
      }.sorted
    // suite-TOTAL drift guard (r18, verdict task 1a): the per-query rule
    // is structurally blind to UNIFORM inflation — sf0.1 sweep totals
    // drifted 138.0 → 161.0 s (+17%) across r16→r17 with zero per-query
    // flags, and a global config regression (codec, heap, partition
    // policy) would present exactly the same way. Total > 1.15× base is
    // a NAMED flag the round must adjudicate (sentinel-basket probe or
    // code diff) or treat as a regression — never silently absorb.
    val totalFlagged = prevTotal.exists(pt => total > 1.15 * pt)
    if (totalFlagged)
      System.err.println(f"[bench] SUITE-TOTAL DRIFT: $total%.1f s > 1.15× base " +
        f"${prevTotal.get}%.1f s — adjudicate (sentinel probes / code diff) or treat as regression")
    val totalDriftJson =
      s"""{"prev":${prevTotal.map(_.toString).getOrElse("null")},"cur":$total,""" +
        s""""rule":"cur > 1.15*prev","flagged":$totalFlagged}"""
    val regressionsJson =
      s"""{"base":${prevPath.map(jstr).getOrElse("null")},""" +
        s""""rule":"cur > 1.3*prev AND cur-prev > 1.0s",""" +
        s""""total":$totalDriftJson,""" +
        s""""anchor":$anchorJson,""" +
        s""""rows":${regressionRows.mkString("[", ",", "]")}}"""
    val localDirJson = localDir.map(d => s""""local_dir":${jstr(d)},""").getOrElse("")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${times.size},"sweeps":2,"shuffle_partitions":$shufflePartitions,"codec":${jstr(codec)},${localDirJson}"heap_gib":$heapGb,"_meta":$metaJson,"regressions":$regressionsJson,"load":$loadJson,"cc_obs_misses":$missJson,"remeasured":$remeasuredJson,"samples":$samplesJson,"queries":${toJson(times)},"sf":${jstr(sfDir)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"bench_$sfName.json"),
      fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // round-tagged self-contained copy: three rounds of driver-side
    // artifacts arrived with "parsed": null, leaving the round's number
    // dependent on a 2000-char stderr tail. With SPARK_GRAFT_ROUND set,
    // the full artifact (headline + per-query + load context) is ALSO
    // committed under a name no later sweep overwrites.
    sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench_${r}_$sfName.json"),
        fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // stdout gets a line SHORT enough to survive tail-truncation intact:
    // total over ALL queries, plus only the TPC-H shapes and the 10
    // slowest of the rest — the headline numbers a reader compares first
    val headline = times.filter(_._1.startsWith("sql_")) ++
      times.filterNot(_._1.startsWith("sql_")).sortBy(-_._2).take(10)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${times.size},"sweeps":2,"n_regressions":${regressionRows.size},"total_drift_flagged":$totalFlagged,"anchor_flagged":$anchorFlagged,"load":$loadJson,"detail":"bench_$sfName.json","queries":${toJson(headline)},"sf":${jstr(sfDir)}}"""
    spark.stop()
    // last stdout line of the run — nothing may print after it. The
    // line is ALSO echoed via stderr first (sbt re-logs a forked JVM's
    // stderr through its own logger), so a harness that tail-truncates
    // the output has two chances to capture one complete copy —
    // BENCH_r07/r08 recorded "parsed": null with the per-query data
    // surviving only in the separately-written canonical file.
    System.err.println(line)
    println(line)
  }
}
