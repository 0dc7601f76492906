package graft

import org.apache.spark.sql.SparkSession

/** Shared artifact helpers for the measurement mains (Bench and Probe's
  * modes): the `_meta` provenance block — git sha, tracked-tree
  * dirtiness with the dirty paths, UTC stamp — and the ambient gauges
  * that bracket a measurement window (load, steal, scratch-disk
  * headroom, disk I/O, effective CPU speed). Each had been copied per
  * main and had drifted (r18 advisor: misindented block in Probe; the
  * "ASELINE.md" offset parse bug had to be fixed in four places). One
  * implementation, one fix site.
  *
  * Provenance rules carried over from the originals:
  *  - stderr drained SEPARATELY, never into the captured value:
  *    container git prints ownership warnings on zero-exit commands,
  *    and merging streams corrupted git_sha/tree fields (r17 advisor);
  *  - `--untracked-files=no`: "dirty" means TRACKED sources modified —
  *    an artifact's own pending output sitting untracked in cwd must
  *    not read as "this number measured uncommitted code" (r17);
  *  - porcelain paths parsed by splitting off the status column, not a
  *    fixed drop(3): git()'s .trim eats the FIRST line's leading
  *    status space and an offset parse truncated the first path (r18);
  *  - rename lines ('old -> new') record the NEW path, C-quoted paths
  *    (specials/spaces) are unquoted, and truncation past 20 entries
  *    appends an explicit "...(+N more)" sentinel instead of silently
  *    capping (r18 advisor).
  */
object Meta {
  /** JSON string literal: every environment-sourced string is escaped
    * on the way into an artifact (r15 advisor: a quote or backslash in
    * a conf value or path produced an unparseable JSON file). */
  def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Run a git command, stdout on zero exit, None otherwise. */
  def git(cmd: String*): Option[String] =
    try {
      val pr = new ProcessBuilder(("git" +: cmd): _*).start()
      val drain = new Thread(() => { pr.getErrorStream.readAllBytes(); () })
      drain.setDaemon(true); drain.start()
      val out = new String(pr.getInputStream.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (pr.waitFor() == 0) Some(out) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One `git status --porcelain` line → the path it names. */
  private[graft] def porcelainPath(line: String): String = {
    val rest = line.trim.split("\\s+", 2) match {
      case Array(_, p) => p
      case a => a.head
    }
    // rename lines are 'old -> new': the NEW path is the tree content
    val p = rest.split(" -> ", 2).last
    if (p.length >= 2 && p.startsWith("\"") && p.endsWith("\""))
      p.substring(1, p.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
    else p
  }

  private val MaxDirtyPaths = 20

  /** Cumulative per-device `(msDoingIo, sectorsRead, sectorsWritten)`
    * from /proc/diskstats, physical-looking devices only (sd/vd/xvd
    * whole disks, nvme namespaces — partitions and loop/ram devices
    * excluded; a whole-disk counter already aggregates its partitions).
    * Empty map if the file is unreadable (containered /proc variants).
    *
    * Why this gauge exists (r19): steal_pct measures CPU starvation
    * only. Two I/O-heavy sf10 rows (sql_q21's big shuffle, source_orc's
    * ORC write) sat at a stable ~1.4× floor across eight retry attempts
    * while CPU-bound rows in the same windows read clean — co-tenant
    * DISK contention is invisible to the steal gauge. Busy-time plus
    * sectors moved lets a probe sample discriminate "device saturated
    * at low throughput" (starved) from "same throughput, more work"
    * (regression). */
  def diskStats(): Map[String, (Long, Long, Long)] =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/diskstats")).asScala
        .map(_.trim.split("\\s+"))
        .filter(c => c.length >= 13 &&
          c(2).matches("sd[a-z]+|vd[a-z]+|xvd[a-z]+|nvme\\d+n\\d+"))
        .map(c => c(2) -> ((c(12).toLong, c(5).toLong, c(9).toLong)))
        .toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Delta between two [[diskStats]] snapshots over `wallMs`, for the
    * device that was busiest in the window: (device, busy_pct, MB read,
    * MB written). ("", -1, -1, -1) when no device is visible. */
  def ioDelta(before: Map[String, (Long, Long, Long)],
      after: Map[String, (Long, Long, Long)],
      wallMs: Double): (String, Double, Double, Double) = {
    val deltas = before.keySet.intersect(after.keySet).toSeq.map { k =>
      val (m0, r0, w0) = before(k); val (m1, r1, w1) = after(k)
      (k, m1 - m0, r1 - r0, w1 - w0)
    }
    if (deltas.isEmpty || wallMs <= 0) ("", -1.0, -1.0, -1.0)
    else {
      val (k, m, r, w) = deltas.maxBy(_._2)
      (k, math.round(10000.0 * m / wallMs) / 100.0,
        math.round(r * 512 / 1e4) / 100.0, math.round(w * 512 / 1e4) / 100.0)
    }
  }

  /** 1-minute loadavg, -1 when unreadable: r7 (+45 s) and r8 (+110 s)
    * both shipped phantom regressions on byte-identical code because
    * ambient machine load was invisible in the artifact. */
  def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** (steal, total) jiffies from /proc/stat: on a shared VM the
    * hypervisor can throttle this guest with loadavg reading IDLE —
    * observed as 145 s → 194 s on identical code at ambient load 0.8.
    * Total sums user..steal only (the first 8 fields): the kernel
    * already folds guest/guest_nice into user/nice, so summing all 10
    * double-counts guest time and understates the steal share. */
  def cpuJiffies(): (Long, Long) =
    try {
      val n = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        .split("\\s+").drop(1).map(_.toLong)
      (if (n.length > 7) n(7) else 0L, n.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Steal share in percent between two [[cpuJiffies]] readings, -1
    * when no time passed or /proc/stat was unreadable. */
  def stealPct(before: (Long, Long), after: (Long, Long)): Double =
    if (after._2 > before._2)
      math.round(10000.0 * (after._1 - before._1) / (after._2 - before._2)) / 100.0
    else -1.0

  /** Usable space under `dir` in GiB, one decimal: the headroom a
    * big-SF spill has left (the r14 sf100 probe died on ENOSPC). */
  def diskFreeGb(dir: String): Double =
    math.round(new java.io.File(dir).getUsableSpace * 10.0 / (1L << 30)) / 10.0

  /** Drop every pinned block, BLOCKING. Iterative and caching queries
    * pin blocks (localCheckpoint, persist); an async drop lets one
    * query's pinned blocks (an iterative build's checkpoints can run to
    * GBs at sf10) overlap the next query's peak — the r12 sf10 sweep
    * OOM'd the skew demo on exactly that overlap (fine in isolation,
    * 27.7 s). */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  @volatile private var spinSink = 0L // defeats dead-code elimination

  /** Effective CPU speed in aggregate Mops/s: `threads` threads each
    * running `itersPerThread` xorshift64 iterations (fixed work, no
    * allocation, no memory traffic — pure ALU). This is the third
    * ambient gauge next to steal_pct and the disk stats (r19): a VM
    * shows a constant nominal MHz in /proc/cpuinfo and no cpufreq
    * sysfs, yet CPU-bound queries ran a uniform ~1.3× slower in
    * windows whose average steal was only ~1.5% — consistent with
    * host-level frequency/SMT degradation under co-tenant load, which
    * no kernel counter exposes to the guest. A fixed-work spin is its
    * own clock: Mops/s here IS the effective speed the measured query
    * saw. Run it single-threaded (per-core speed) and at the executor
    * thread count (whole-box, SMT contention included) bracketing a
    * probe window, and cross-round ratios become adjudicable. */
  def cpuSpinMops(threads: Int, itersPerThread: Long): Double = {
    def spin(n: Long, seed: Long): Long = {
      var x = seed | 1L; var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    spinSink = spin(itersPerThread / 10, 42L) // JIT warmup
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val th = new Thread(() => { spinSink = spin(itersPerThread, i.toLong) })
      th.start(); th
    }
    ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    math.round(threads * itersPerThread / sec / 1e4) / 100.0
  }

  /** Standard bracket reading for artifacts: single-thread and
    * 32-thread Mops/s as a JSON object. ~2 s of work total. */
  def cpuSpeedJson(): String = {
    val st = cpuSpinMops(1, 400000000L)
    val mt = cpuSpinMops(32, 100000000L)
    s"""{"st_mops":$st,"mt_mops":$mt}"""
  }

  /** The `_meta` provenance object: which exact tree produced this
    * number is a field, not a git-archaeology exercise (r15 verdict).
    * With `includeRound` the SPARK_GRAFT_ROUND tag rides along (Bench's
    * round-stamped artifacts). Resolve ONCE per artifact when the
    * timing window matters — the git calls are cheap but there is no
    * reason to pay them inside a measured region. */
  def metaJson(includeRound: Boolean = false): String = {
    val porcelain = git("status", "--porcelain", "--untracked-files=no")
    val tree = porcelain
      .map(st => if (st.isEmpty) "clean" else "dirty").getOrElse("unknown")
    val dirtyJ = porcelain.filter(_.nonEmpty).map { st =>
      val paths = st.linesIterator.map(porcelainPath).toSeq
      val shown = paths.take(MaxDirtyPaths) ++
        (if (paths.sizeIs > MaxDirtyPaths)
           Seq(s"...(+${paths.size - MaxDirtyPaths} more)")
         else Nil)
      shown.map(jstr).mkString(""","dirty_paths":[""", ",", "]")
    }.getOrElse("")
    val roundJ =
      if (includeRound)
        s""","round":${sys.env.get("SPARK_GRAFT_ROUND").map(jstr).getOrElse("null")}"""
      else ""
    s"""{"git_sha":${jstr(git("rev-parse", "--short", "HEAD").getOrElse("unknown"))},""" +
      s""""tree":${jstr(tree)}$dirtyJ,""" +
      s""""utc":${jstr(java.time.Instant.now().toString)}$roundJ}"""
  }
}
