package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_snap").resolve("t").toString

  /** A table on the `mock://` object store ([[MockObjectStoreFs]]), where
    * the manifest commit takes the `create(overwrite = false)` branch. */
  private def mockTmp(): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[MockObjectStoreFs].getName)
    conf.set("fs.mock.impl.disable.cache", "true")
    "mock://" + tmp()
  }

  /** Test-name suffix and table factory per store. */
  private val stores: Seq[(String, () => String)] =
    Seq("" -> (() => tmp()), " (mock://)" -> (() => mockTmp()))

  /** The local file behind a manifest entry (a qualified `file:` path). */
  private def local(entry: String): java.nio.file.Path = Paths.get(new HPath(entry).toUri)

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("optimizeZorder: rows unchanged, both dimensions prune after rewrite") {
    val t = tmp()
    // 4 commits of (x, y) pairs SHUFFLED so every pre-optimize file
    // spans nearly the full range of both columns — worst layout
    val rnd = new scala.util.Random(7)
    val pts = rnd.shuffle((0L until 64L).flatMap(x => (0L until 64L).map(y => (x, y))).toVector)
    pts.grouped(1024).foreach { g =>
      SnapshotTable.commit(spark, t, g.toDF("x", "y").repartition(1))
    }
    val vBefore = SnapshotTable.currentVersion(t)
    val before = SnapshotTable.read(spark, t).as[(Long, Long)].collect().sorted.toSeq
    def prunedFrac(v: Long, c: String): Double = {
      val all = SnapshotTable.entries(t, v).size
      SnapshotTable.filesForRange(t, v, c, 0L, 7L).size.toDouble / all
    }
    // worst layout: an x- or y-range query reads every file
    assert(prunedFrac(vBefore, "x") == 1.0 && prunedFrac(vBefore, "y") == 1.0)
    val vAfter = SnapshotTable.optimizeZorder(spark, t, "x", "y",
      bits = 6, targetRows = 256L)
    assert(vAfter == vBefore + 1)
    val after = SnapshotTable.read(spark, t).as[(Long, Long)].collect().sorted.toSeq
    assert(after == before) // OPTIMIZE moves bytes, never changes rows
    // z-clustering makes the same 1/8-range query prune on BOTH columns
    assert(prunedFrac(vAfter, "x") <= 0.5, s"x frac=${prunedFrac(vAfter, "x")}")
    assert(prunedFrac(vAfter, "y") <= 0.5, s"y frac=${prunedFrac(vAfter, "y")}")
    // the optimize is recorded in the manifest, and history still serves
    // the pre-optimize layout (time travel unaffected)
    assert(SnapshotTable.manifest(t, vAfter).meta
      .exists(_.contains("optimized=zorder(x,y")))
    assert(SnapshotTable.readVersion(spark, t, vBefore).count() == before.size)
  }

  test("append commits accumulate; every version stays time-travelable") {
    val t = tmp()
    val v1 = SnapshotTable.commit(spark, t, (1 to 100).toDF("n"))
    val v2 = SnapshotTable.commit(spark, t, (101 to 150).toDF("n"))
    assert((v1, v2) == (1L, 2L))
    assert(SnapshotTable.read(spark, t).count() == 150)
    assert(SnapshotTable.readVersion(spark, t, 1).count() == 100)
    assert(SnapshotTable.versions(t) == Seq(1L, 2L))
  }

  test("versions and manifest resolve the filesystem without any session") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).toDF("n"))
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      assert(SnapshotTable.versions(t) == Seq(1L))
      assert(SnapshotTable.manifest(t, 1L).entries.map(_.rows).sum == 10L)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("overwrite commit replaces the listing; replaced data stays readable at old versions") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).toDF("n"))
    SnapshotTable.commit(spark, t, (11 to 20).toDF("n"))
    val v3 = SnapshotTable.commit(spark, t, Seq(999).toDF("n"), append = false)
    assert(v3 == 3L)
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq == Seq(999))
    assert(SnapshotTable.readVersion(spark, t, 2).count() == 20)
  }

  test("a reader pinned to an old snapshot is untouched by a concurrent commit") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 50).toDF("n"))
    val pinned = SnapshotTable.readVersion(spark, t, 1) // resolves files now
    SnapshotTable.commit(spark, t, (51 to 60).toDF("n"))
    SnapshotTable.commit(spark, t, Seq(-1).toDF("n"), append = false)
    // the pinned plan still reads exactly snapshot 1: immutable files
    assert(pinned.agg(sum($"n")).head.getLong(0) == (1 to 50).sum)
    assert(SnapshotTable.read(spark, t).count() == 1)
  }

  test("expireSnapshots drops old manifests + unreferenced files, keeps pinned versions intact") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).toDF("n"))
    SnapshotTable.commit(spark, t, (11 to 20).toDF("n"))
    SnapshotTable.commit(spark, t, Seq(42).toDF("n"), append = false)
    val old = SnapshotTable.entries(t, 2).map(_.path)
    assert(old.nonEmpty && old.forall(f => Files.exists(local(f))))
    val dropped = SnapshotTable.expireSnapshots(t, keepLast = 1)
    assert(dropped.toSet == old.toSet) // v1/v2 data is unreferenced by v3
    dropped.foreach(f => assert(!Files.exists(local(f))))
    assert(SnapshotTable.versions(t) == Seq(3L))
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq == Seq(42))
  }

  test("expireSnapshots refuses keepLast = 0 and leaves the table intact") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).toDF("n"))
    SnapshotTable.commit(spark, t, (11 to 20).toDF("n"))
    intercept[IllegalArgumentException](SnapshotTable.expireSnapshots(t, keepLast = 0))
    assert(SnapshotTable.versions(t) == Seq(1L, 2L))
    assert(SnapshotTable.read(spark, t).count() == 20)
  }

  test("foreachBatch sink: batch-id idempotence makes replayed micro-batches no-ops") {
    implicit val sq = spark.sqlContext
    val t = tmp()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = mem.toDF().writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => {
        SnapshotTable.commitBatch(spark, t, df, id); ()
      })
      .start()
    try {
      mem.addData(1, 2, 3)
      q.processAllAvailable()
      mem.addData(4, 5)
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, t).count() == 5)
      val v = SnapshotTable.currentVersion(t)
      // simulate the crash-replay window: the same micro-batch delivered
      // again must not double-commit
      val replay = Seq(4, 5).toDF("value")
      assert(SnapshotTable.commitBatch(spark, t, replay, batchId = 1L) == v)
      assert(SnapshotTable.read(spark, t).count() == 5)
      // a genuinely new batch still commits
      assert(SnapshotTable.commitBatch(spark, t, Seq(6).toDF("value"), 2L) == v + 1)
      assert(SnapshotTable.read(spark, t).count() == 6)
    } finally q.stop()
  }

  test("exactly-once across restart: checkpointed query + idempotent commits lose and duplicate nothing") {
    implicit val sq = spark.sqlContext
    val t = tmp()
    val cp = Files.createTempDirectory("graft_cp").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    def start() = mem.toDF().writeStream
      .option("checkpointLocation", cp)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => {
        SnapshotTable.commitBatch(spark, t, df, id); ()
      })
      .start()
    val q1 = start()
    try {
      mem.addData(1, 2, 3)
      q1.processAllAvailable()
    } finally q1.stop()
    mem.addData(4, 5) // arrives while the query is down
    val q2 = start()  // recovers from the checkpoint, not from scratch
    try {
      q2.processAllAvailable()
      val rows = SnapshotTable.read(spark, t).as[Int].collect().sorted.toSeq
      assert(rows == Seq(1, 2, 3, 4, 5)) // nothing lost, nothing doubled
    } finally q2.stop()
  }

  test("merge upserts by key and the pre-merge snapshot still time-travels") {
    val t = tmp()
    SnapshotTable.commit(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val v2 = SnapshotTable.merge(spark, t,
      Seq((2L, "B"), (4L, "d")).toDF("id", "v"), key = "id")
    assert(v2 == 2L)
    val now = SnapshotTable.read(spark, t)
      .as[(Long, String)].collect().toMap
    assert(now == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    val before = SnapshotTable.readVersion(spark, t, 1)
      .as[(Long, String)].collect().toMap
    assert(before == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("commit never re-reads its own output: exactly one action (the write)") {
    val t = tmp()
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.commit(spark, t, (1 to 100).toDF("n"))
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        val cur = execs.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100); waited += 1
      }
      // the parquet write is the only query execution; row counts and
      // stats come from footers (metadata), not a second scan
      assert(execs.get() == 1, s"commit ran ${execs.get()} actions, expected 1")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the footer-derived row count is exact
    val m = java.nio.file.Paths.get(t, "manifests", "manifest-00001")
    val rows = java.nio.file.Files.readAllLines(m).get(1)
    assert(rows == "rows=100", rows)
  }

  test("manifest min/max stats skip non-overlapping files on range reads") {
    val t = tmp()
    // range-partitioned write → each file owns a disjoint n-range, so the
    // manifest stats are tight and most files cannot overlap the probe
    SnapshotTable.commit(spark, t,
      (1 to 1000).toDF("n").repartitionByRange(4, $"n"))
    val all = SnapshotTable.entries(t, 1L)
    assert(all.size >= 4)
    assert(all.forall(_.stats.contains("n")), "INT32 column must carry stats")
    val hit = SnapshotTable.filesForRange(t, 1L, "n", 10, 20)
    assert(hit.size < all.size,
      s"range probe kept ${hit.size}/${all.size} files — nothing pruned")
    val got = SnapshotTable.readRange(spark, t, 1L, "n", 10, 20)
      .as[Int].collect().sorted.toSeq
    assert(got == (10 to 20).toSeq) // pruning is still row-exact
    // an out-of-range probe reads nothing at all
    assert(SnapshotTable.filesForRange(t, 1L, "n", 5000, 6000).isEmpty)
    assert(SnapshotTable.readRange(spark, t, 1L, "n", 5000, 6000).count() == 0)
  }

  test("no partial state: commits leave complete manifests and nothing else") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 5).toDF("n"))
    SnapshotTable.commit(spark, t, (6 to 7).toDF("n"))
    assert(names(Paths.get(t)) == Set("data", "manifests"))
    assert(names(Paths.get(t, "manifests")) == Set("manifest-00001", "manifest-00002"))
    for (v <- Seq(1L, 2L)) {
      val lines = Files.readAllLines(Paths.get(t, "manifests", f"manifest-$v%05d")).asScala
      assert(lines.head == s"version=$v")
      assert(lines.count(_.contains("|rows=")) == SnapshotTable.entries(t, v).size)
      assert(SnapshotTable.entries(t, v).forall(e => Files.exists(local(e.path))))
    }
  }

  for ((on, mk) <- stores)
    test(s"a complete manifest with no other step is committed$on") {
      val t = mk()
      SnapshotTable.commit(spark, t, (1 to 5).toDF("n"))
      // a writer that stopped right after creating manifest-2, holding
      // v1's listing: nothing else is needed for it to be a commit (on
      // file:, Hadoop's create also leaves a .crc file beside it)
      val fs = new HPath(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new HPath(t, "manifests/manifest-00001"))
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val out = fs.create(new HPath(t, "manifests/manifest-00002"), false)
      try out.write(body.replaceFirst("version=1", "version=2").getBytes(UTF_8))
      finally out.close()
      assert(SnapshotTable.currentVersion(t) == 2L)
      assert(SnapshotTable.commit(spark, t, (6 to 9).toDF("n")) == 3L)
      SnapshotTable.expireSnapshots(t, keepLast = 1)
      assert(SnapshotTable.versions(t) == Seq(3L))
      assert(SnapshotTable.read(spark, t).as[Int].collect().sorted.toSeq == (1 to 9))
    }

  test("a stray manifest temp file is ignored by versions, commit, expire and vacuum") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 5).toDF("n"))
    // what a writer that died before linking its manifest leaves behind
    val stray = Paths.get(t, "manifests", s".manifest-00002.${java.util.UUID.randomUUID()}.tmp")
    Files.write(stray, "version=2\nrows=".getBytes(UTF_8))
    assert(SnapshotTable.versions(t) == Seq(1L))
    assert(SnapshotTable.commit(spark, t, (6 to 8).toDF("n")) == 2L)
    assert(SnapshotTable.commit(spark, t, Seq(9).toDF("n")) == 3L)
    SnapshotTable.expireSnapshots(t, keepLast = 1)
    assert(SnapshotTable.vacuumOrphans(t).isEmpty)
    assert(SnapshotTable.versions(t) == Seq(3L))
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted.toSeq == (1 to 9))
    assert(Files.exists(stray))
  }

  test("changesBetween: append range reads ONLY the delta files") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 100).toDF("n"))
    SnapshotTable.commit(spark, t, (101 to 150).toDF("n"))
    SnapshotTable.commit(spark, t, (151 to 160).toDF("n"))
    val feed = SnapshotTable.changesBetween(spark, t, 1, 3)
    assert(feed.select("n").as[Int].collect().sorted.toSeq == (101 to 160))
    assert(feed.select("_change_type").distinct().as[String].collect()
      .toSeq == Seq("insert"))
    // the incremental consumer must not touch version-1 files
    val v1Files = SnapshotTable.entries(t, 1).map(_.path).toSet
    val scanned = feed.inputFiles.toSet
    assert(scanned.nonEmpty && scanned.forall(f => !v1Files.exists(f.endsWith)),
      s"change feed scanned base files: ${scanned.intersect(v1Files)}")
  }

  test("changesBetween refuses ranges with overwrite commits") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).toDF("n"))
    SnapshotTable.commit(spark, t, Seq(99).toDF("n"), append = false)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.changesBetween(spark, t, 1, 2)
    }
    assert(e.getMessage.contains("rowChanges"))
  }

  test("manifest-pruned version diff equals the full-version bag diff") {
    // The r17 snapshot_timetravel fix rests on v2∖v1 = A'∖B' when
    // v1 = C⊎B' and v2 = C⊎A' (carried files cancel exactly in the bag
    // difference) — the full-version form OOM'd the sf100 growth probe.
    // Pin the algebra on a table where the merge genuinely carries files.
    val t = tmp()
    SnapshotTable.commit(spark, t,
      (1 to 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), append = false)
    val v2 = SnapshotTable.merge(spark, t,
      ((1 to 30).map(i => (i.toLong, s"V$i")) ++
        Seq((1001L, "n1"), (1002L, "n2"))).toDF("id", "v"), "id")
    val removed = SnapshotTable.removedFiles(t, v2 - 1, v2)
    val added = SnapshotTable.addedFiles(t, v2 - 1, v2)
    val carried = SnapshotTable.entries(t, v2).map(_.path)
      .intersect(SnapshotTable.entries(t, v2 - 1).map(_.path))
    // non-vacuous: the merge must rewrite SOME files and carry OTHERS,
    // else the pruned and full reads are the same read
    assert(removed.nonEmpty && added.nonEmpty && carried.nonEmpty)
    def bag(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Int] =
      df.as[(Long, String)].collect().toSeq
        .groupBy(identity).view.mapValues(_.length).toMap
    val full = SnapshotTable.readVersion(spark, t, v2)
      .exceptAll(SnapshotTable.readVersion(spark, t, v2 - 1))
    val fullRev = SnapshotTable.readVersion(spark, t, v2 - 1)
      .exceptAll(SnapshotTable.readVersion(spark, t, v2))
    val before = spark.read.parquet(removed: _*)
    val after = spark.read.parquet(added: _*)
    assert(bag(after.exceptAll(before)) == bag(full))
    assert(bag(before.exceptAll(after)) == bag(fullRev))
    // and the diff is non-trivial: 30 updates (each an added+removed
    // pair) plus 2 inserts
    assert(bag(full).values.sum == 32 && bag(fullRev).values.sum == 30)
  }

  test("rowChanges classifies merge effects; unchanged rewrites cancel") {
    val t = tmp()
    SnapshotTable.commit(spark, t,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    // COW merge: update id=2, insert id=4 — ids 1 and 3 rewritten as-is
    SnapshotTable.merge(spark, t,
      Seq((2, "B"), (4, "d")).toDF("id", "v"), "id")
    val got = SnapshotTable.rowChanges(spark, t, 1, 2, "id")
      .select("id", "v", "_change_type").as[(Int, String, String)]
      .collect().toSet
    // ids 1/3 were rewritten byte-identical — the bag-diff cancels them;
    // the (2,"b") pre-image is superseded by its postimage, not a delete
    assert(got == Set((2, "B", "update_postimage"), (4, "d", "insert")))
  }

  test("schema evolution: added column is metadata-only; schema time-travels") {
    val t = tmp()
    SnapshotTable.commit(spark, t, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    SnapshotTable.commit(spark, t, Seq((3, "c", 7.5)).toDF("id", "v", "score"))
    // current read: v1 files were never rewritten, score arrives as null
    val cur = SnapshotTable.read(spark, t)
      .select("id", "v", "score").as[(Int, String, Option[Double])]
      .collect().toSet
    assert(cur == Set((1, "a", None), (2, "b", None), (3, "c", Some(7.5))))
    // time travel to v1 must NOT show the later column
    assert(SnapshotTable.readVersion(spark, t, 1).columns.toSeq == Seq("id", "v"))
  }

  test("schema evolution: readRange reads under the version's pinned schema") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).map(n => (n, s"a$n")).toDF("n", "a"))
    SnapshotTable.commit(spark, t,
      (100 to 110).map(n => (n, s"a$n", n * 2)).toDF("n", "a", "c"))
    val pinned = SnapshotTable.readVersion(spark, t, 2).schema
    assert(pinned.fieldNames.toSeq == Seq("n", "a", "c"))
    // every kept file predates `c`: the read must still show it, as null
    val range = SnapshotTable.readRange(spark, t, 2, "n", 1, 5)
    assert(range.schema == pinned)
    assert(range.select("n", "c").as[(Int, Option[Int])].collect().sorted.toSeq ==
      (1 to 5).map(n => (n, None)))
    assert(SnapshotTable.readRange(spark, t, 2, "n", 1000, 2000).schema == pinned)
  }

  test("schema evolution: append omitting a column union-widens, not narrows") {
    val t = tmp()
    SnapshotTable.commit(spark, t, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    SnapshotTable.commit(spark, t, Seq(Tuple1(9)).toDF("id"))
    val cur = SnapshotTable.read(spark, t)
    assert(cur.columns.toSeq == Seq("id", "v"))
    assert(cur.filter($"id" === 9).select("v").first().isNullAt(0))
  }

  test("schema evolution: retyping a column is refused") {
    val t = tmp()
    SnapshotTable.commit(spark, t, Seq((1, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, t, Seq((2, 3.0)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("schema conflict"))
  }

  test("changesBetween spans a schema change with uniform shape") {
    val t = tmp()
    SnapshotTable.commit(spark, t, Seq((1, "a")).toDF("id", "v"))
    SnapshotTable.commit(spark, t, Seq((2, "b")).toDF("id", "v"))
    SnapshotTable.commit(spark, t, Seq((3, "c", 1.5)).toDF("id", "v", "score"))
    val feed = SnapshotTable.changesBetween(spark, t, 1, 3)
      .select("id", "v", "score", "_change_type")
      .as[(Int, String, Option[Double], String)].collect().toSet
    assert(feed == Set((2, "b", None, "insert"), (3, "c", Some(1.5), "insert")))
  }

  test("incremental consumer: bootstrap + delta-only cycles equal full recompute") {
    // the pipeline shape CDC exists for: a downstream aggregate that
    // processes each commit's delta files once, never re-reading the
    // base — at 100 TB the difference between a nightly table scan and
    // reading the day's commits
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 10).toDF("n"))
    var seen = 1L
    var running = SnapshotTable.readVersion(spark, t, seen)
      .agg(sum($"n")).as[Long].first()
    for (batch <- Seq(11 to 25, 26 to 30)) {
      val v = SnapshotTable.commit(spark, t, batch.toDF("n"))
      running += SnapshotTable.changesBetween(spark, t, seen, v)
        .agg(sum($"n")).as[Long].first()
      seen = v
    }
    val full = SnapshotTable.read(spark, t).agg(sum($"n")).as[Long].first()
    assert(running == full && full == (1 to 30).sum)
  }

  test("a writer whose manifest name is taken loses and leaves no visible state") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 5).toDF("n"))
    val m2 = Paths.get(t, "manifests", "manifest-00002")
    // merge reads v1 and is held at its data write while another
    // writer's complete manifest-2 (v1's listing) lands
    val (res, body) = GatedCommitter.holding(t)(
        SnapshotTable.merge(spark, t, Seq(3).toDF("n"), "n")) {
      val b = Files.readString(Paths.get(t, "manifests", "manifest-00001"))
        .replaceFirst("version=1", "version=2")
      Files.writeString(m2, b)
      b
    }
    assert(res.swap.exists(_.isInstanceOf[ConcurrentModificationException]), res)
    // the winner's manifest is current and untouched, no temp file is left
    assert(Files.readString(m2) == body)
    assert(SnapshotTable.currentVersion(t) == 2L)
    assert(names(Paths.get(t, "manifests")) == Set("manifest-00001", "manifest-00002"))
    assert(SnapshotTable.read(spark, t).count() == 5)
    // ... only an orphan data dir, which vacuum reclaims
    val removed = SnapshotTable.vacuumOrphans(t)
    assert(removed.size == 1, s"expected the loser's data dir: $removed")
    assert(SnapshotTable.read(spark, t).count() == 5)
  }

  test("per-commit records do not ride later commits; bookmarks do") {
    val t = tmp()
    SnapshotTable.commitBatch(spark, t, (1 to 5).toDF("n").coalesce(1), 0L)
    // three merges whose records differ: a new key, a matched key, a new key
    Seq(6, 1, 7).foreach(k => SnapshotTable.merge(spark, t, Seq(k).toDF("n"), "n"))
    val meta = SnapshotTable.manifest(t, SnapshotTable.currentVersion(t)).meta
    assert(meta.count(_.startsWith("#merge=")) == 1, meta)
    assert(meta.contains("#batch=0"), meta)
  }

  test("vacuumOrphans keeps every referenced file across all versions") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 5).toDF("n"))
    SnapshotTable.commit(spark, t, (6 to 8).toDF("n"))
    assert(SnapshotTable.vacuumOrphans(t).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == 8)
    assert(SnapshotTable.readVersion(spark, t, 1).count() == 5)
  }

  test("rowChanges reports deletes when merge keys vanish") {
    val t = tmp()
    SnapshotTable.commit(spark, t,
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // overwrite without id=2: a delete plus an unchanged rewrite of id=1
    SnapshotTable.commit(spark, t, Seq((1, "a")).toDF("id", "v"),
      append = false)
    val got = SnapshotTable.rowChanges(spark, t, 1, 2, "id")
      .select("id", "v", "_change_type").as[(Int, String, String)]
      .collect().toSet
    assert(got == Set((2, "b", "delete")))
  }

  test("rowChanges preimages complete the update pair") {
    val t = tmp()
    SnapshotTable.commit(spark, t,
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    SnapshotTable.merge(spark, t, Seq((2, "B"), (3, "c")).toDF("id", "v"), "id")
    val got = SnapshotTable.rowChanges(spark, t, 1, 2, "id",
        includePreimages = true)
      .select("id", "v", "_change_type").as[(Int, String, String)]
      .collect().toSet
    assert(got == Set(
      (2, "b", "update_preimage"), (2, "B", "update_postimage"),
      (3, "c", "insert")))
  }

  test("deleteWhere rewrites only stat-overlapping files; the rest carry by reference") {
    val t = tmp()
    // two commits with disjoint n-ranges → file-level stats separate them
    SnapshotTable.commit(spark, t, (1 to 100).toDF("n").coalesce(1))
    SnapshotTable.commit(spark, t, (1000 to 1100).toDF("n").coalesce(1))
    val before = SnapshotTable.entries(t, 2L)
    val lowFiles = before.filter(_.stats("n")._2 < 1000).map(_.path).toSet
    assert(lowFiles.nonEmpty)
    val v3 = SnapshotTable.deleteWhere(spark, t, "n", 1050, 1075)
    assert(v3 == 3L)
    val after = SnapshotTable.entries(t, 3L)
    // the low-range file survives with its exact original path: zero
    // bytes of it moved; only the overlapping file was rewritten
    assert(lowFiles.subsetOf(after.map(_.path).toSet))
    assert(after.map(_.path).toSet.intersect(
      before.map(_.path).toSet -- lowFiles).isEmpty)
    val got = SnapshotTable.read(spark, t).as[Int].collect().sorted.toSeq
    assert(got == ((1 to 100) ++ (1000 to 1049) ++ (1076 to 1100)))
    // pre-delete snapshot still time-travels with the deleted rows
    assert(SnapshotTable.readVersion(spark, t, 2).count() == 201)
    // a miss is a metadata no-op: same version back, no new manifest
    assert(SnapshotTable.deleteWhere(spark, t, "n", 5000, 6000) == 3L)
    assert(SnapshotTable.versions(t) == Seq(1L, 2L, 3L))
  }

  test("merge rewrites only files holding matched keys; the rest carry by reference") {
    val t = tmp()
    // two commits with disjoint id-ranges → separable file stats
    SnapshotTable.commit(spark, t,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    SnapshotTable.commit(spark, t,
      (1000 to 1100).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    val before = SnapshotTable.entries(t, 2L)
    val lowFiles = before.filter(_.stats("id")._2 < 1000).map(_.path).toSet
    assert(lowFiles.nonEmpty)
    // update two high-range keys + insert one brand-new key
    val v3 = SnapshotTable.merge(spark, t,
      Seq((1050L, "UP"), (1060L, "UP"), (5000L, "NEW")).toDF("id", "v"), "id")
    assert(v3 == 3L)
    val after = SnapshotTable.entries(t, 3L)
    // the low-range file carried with its exact original path
    assert(lowFiles.subsetOf(after.map(_.path).toSet))
    // the high-range file was rewritten (old path gone)
    assert(after.map(_.path).toSet.intersect(
      before.map(_.path).toSet -- lowFiles).isEmpty)
    val now = SnapshotTable.read(spark, t).as[(Long, String)].collect().toMap
    assert(now(1050L) == "UP" && now(1060L) == "UP" && now(5000L) == "NEW")
    assert(now(1L) == "v1" && now(1049L) == "v1049")
    assert(now.size == 202)
    // pre-merge snapshot still time-travels
    assert(SnapshotTable.readVersion(spark, t, 2).count() == 201)
    // purely-new keys: nothing matched, nothing rewritten — both files carry
    val v4 = SnapshotTable.merge(spark, t,
      Seq((9000L, "x")).toDF("id", "v"), "id")
    val afterInsert = SnapshotTable.entries(t, 4L)
    assert(after.map(_.path).toSet.subsetOf(afterInsert.map(_.path).toSet))
    assert(SnapshotTable.read(spark, t).count() == 203)
    // empty update set is a metadata no-op: same version, no commit
    assert(SnapshotTable.merge(spark, t,
      Seq.empty[(Long, String)].toDF("id", "v"), "id") == v4)
    assert(SnapshotTable.versions(t) == Seq(1L, 2L, 3L, 4L))
  }

  test("compactPlanned executes the greedy plan: one file per group, data + history intact") {
    val t = tmp()
    // 12 single-file commits with CONTIGUOUS key ranges (the planner's
    // block_start ordering analog) and deliberately uneven sizes
    val sizes = Seq(40, 10, 10, 40, 10, 10, 10, 40, 10, 10, 10, 10)
    var lo = 0L
    sizes.foreach { n =>
      SnapshotTable.commit(spark, t,
        (lo until lo + n).toDF("k").withColumn("v", col("k") * 2)
          .repartition(1))
      lo += n
    }
    val v0 = SnapshotTable.currentVersion(t)
    val before = SnapshotTable.read(spark, t).as[(Long, Long)].collect().toSet
    val filesBefore = SnapshotTable.entries(t, v0)
    assert(filesBefore.size == sizes.size)
    // replay the planner's integer arithmetic locally to get the
    // expected group count — the spec must agree with the plan, not
    // with whatever the execution happened to produce
    val ordered = filesBefore.sortBy(e =>
      (e.stats.get("k").map(_._1).getOrElse(Long.MaxValue), e.path))
    val target = math.max(ordered.map(_.rows).sum / 4L, 1L)
    var cum = 0L
    val expectedGroups = ordered.map { e =>
      val g = cum / target; cum += e.rows; g
    }.distinct.size
    val v1 = SnapshotTable.compactPlanned(spark, t, "k", groups = 4)
    assert(v1 == v0 + 1)
    val filesAfter = SnapshotTable.entries(t, v1)
    assert(filesAfter.size == expectedGroups,
      s"expected $expectedGroups files (one per plan group), got ${filesAfter.size}")
    // byte-identical contents, and the greedy packing preserved key
    // contiguity: every compacted file still covers a prunable range
    assert(SnapshotTable.read(spark, t).as[(Long, Long)].collect().toSet == before)
    val spans = filesAfter.flatMap(_.stats.get("k")).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"compacted ranges overlap: $spans")
      case _ => ()
    }
    // time travel: the fragmented layout still serves at v0
    assert(SnapshotTable.entries(t, v0).size == sizes.size)
    assert(SnapshotTable.readVersion(spark, t, v0)
      .as[(Long, Long)].collect().toSet == before)
    // idempotence: a second pass finds every group already one file
    assert(SnapshotTable.compactPlanned(spark, t, "k", groups = 4) == v1)
  }

  test("merge refuses duplicate and NULL update keys before touching the table") {
    val t = tmp()
    SnapshotTable.commit(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), append = false)
    val v = SnapshotTable.currentVersion(t)
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val eDup = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, t, dup, "k")
    }
    assert(eDup.getMessage.contains("duplicate"))
    val withNull = Seq((Some(1L), "x"), (None, "y"))
      .toDF("k", "v")
    val eNull = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, t, withNull, "k")
    }
    assert(eNull.getMessage.contains("NULL"))
    // a refused merge is a NO-OP: no new version, data untouched
    assert(SnapshotTable.currentVersion(t) == v)
    assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("compactPlanned carries singleton groups by reference") {
    val t = tmp()
    SnapshotTable.commit(spark, t, (1 to 500).toDF("n").coalesce(1))
    SnapshotTable.commit(spark, t, (501 to 505).toDF("n").coalesce(1))
    SnapshotTable.commit(spark, t, (506 to 510).toDF("n").coalesce(1))
    val bigPath = SnapshotTable.entries(t, 3L).filter(_.rows == 500)
      .map(_.path).toSet
    // target 255 rows: the 500-row file is a group on its own, the two
    // small files share the second group
    assert(SnapshotTable.compactPlanned(spark, t, "n", groups = 2) == 4L)
    val after = SnapshotTable.entries(t, 4L)
    assert(bigPath.subsetOf(after.map(_.path).toSet))
    assert(after.size == 2) // the big file + one packed file
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted.toSeq
      == (1 to 510))
  }

  test("a manifest without a #schema= line fails loudly") {
    val t = tmp()
    val data = java.nio.file.Paths.get(t, "data", "d0").toString
    (1 to 5).toDF("n").coalesce(1).write.parquet(data)
    val file = Files.list(java.nio.file.Paths.get(data)).iterator()
      .asScala.map(_.toString).filter(_.endsWith(".parquet")).next()
    Files.createDirectories(java.nio.file.Paths.get(t, "manifests"))
    Files.write(java.nio.file.Paths.get(t, "manifests", "manifest-00001"),
      s"version=1\nrows=5\n$file|rows=5|n=1:5".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](SnapshotTable.read(spark, t))
    assert(e.getMessage.contains("#schema="), e.getMessage)
    intercept[IllegalStateException](SnapshotTable.commit(spark, t, Seq(6).toDF("n")))
    assert(SnapshotTable.currentVersion(t) == 1L)
  }

  /** The three rewrites, each over a table committed as two batches of
    * `(k, v)` rows: `(1,a),(2,b)` then `(3,c)`. */
  private val rewrites: Seq[(String, String => Long)] = Seq(
    "merge" -> (t => SnapshotTable.merge(spark, t, Seq((2L, "B")).toDF("k", "v"), "k")),
    "deleteWhere" -> (t => SnapshotTable.deleteWhere(spark, t, "k", 2L, 2L)),
    "compactPlanned" -> (t => SnapshotTable.compactPlanned(spark, t, "k", groups = 1)))

  private def batches(t: String): Unit = {
    SnapshotTable.commitBatch(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), 0L)
    SnapshotTable.commitBatch(spark, t, Seq((3L, "c")).toDF("k", "v").coalesce(1), 1L)
  }

  for ((name, rewrite) <- rewrites) {
    for ((on, mk) <- stores)
      test(s"a commit that lands while $name runs makes $name lose; the commit stays current$on") {
        val t = mk()
        batches(t)
        val before = SnapshotTable.read(spark, t).as[(Long, String)].collect().toSet
        // the rewrite reads v2 on its own thread and is held at its data
        // write while this thread's append publishes v3
        val vAppend = GatedCommitter.holding(t)(rewrite(t)) {
          SnapshotTable.commit(spark, t, Seq((4L, "d")).toDF("k", "v"))
        } match {
          case (Left(_: java.util.ConcurrentModificationException), v) => v
          case (other, _) => fail(s"$name from a stale base returned $other")
        }
        assert(vAppend == 3L && SnapshotTable.currentVersion(t) == 3L)
        assert(SnapshotTable.versions(t) == Seq(1L, 2L, 3L))
        assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().toSet ==
          before + ((4L, "d")))
        // the loser's data dir is the only orphan
        assert(SnapshotTable.vacuumOrphans(t).size == 1)
        assert(SnapshotTable.read(spark, t).count() == 4)
      }

    test(s"a replayed commitBatch after $name is a no-op") {
      val t = tmp()
      batches(t)
      val v = rewrite(t)
      assert(v == 3L)
      val rows = SnapshotTable.read(spark, t).as[(Long, String)].collect().toSet
      assert(SnapshotTable.commitBatch(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L) == v)
      assert(SnapshotTable.commitBatch(spark, t, Seq((3L, "c")).toDF("k", "v"), 1L) == v)
      assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().toSet == rows)
      assert(SnapshotTable.commitBatch(spark, t, Seq((5L, "e")).toDF("k", "v"), 2L) == v + 1)
    }
  }

  test("materialized view: incremental refresh equals full recompute across append/merge/delete") {
    import graft.sources.MaterializedView
    val t = tmp()
    val view = tmp()
    def expected(): Set[(String, Long, Long)] =
      SnapshotTable.read(spark, t).groupBy("g")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"),
          sum($"x").as("total"))
        .as[(String, Long, Long)].collect().toSet
    def viewRows(): Set[(String, Long, Long)] =
      SnapshotTable.read(spark, view)
        .as[(String, Long, Long)].collect().toSet

    // v1: initial build (full aggregate)
    SnapshotTable.commit(spark, t,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)).toDF("id", "g", "x"))
    MaterializedView.refresh(spark, t, view, "id", "g", "x")
    assert(viewRows() == expected())

    // v2: append — incremental path over insert feed
    SnapshotTable.commit(spark, t,
      Seq((4L, "b", 7L), (5L, "c", 100L)).toDF("id", "g", "x"))
    MaterializedView.refresh(spark, t, view, "id", "g", "x")
    assert(viewRows() == expected())

    // v3: merge updates a value and moves a row across groups
    SnapshotTable.merge(spark, t,
      Seq((2L, "b", 25L), (6L, "a", 1L)).toDF("id", "g", "x"), "id")
    MaterializedView.refresh(spark, t, view, "id", "g", "x")
    assert(viewRows() == expected())

    // v4: copy-on-write delete drains group c entirely
    SnapshotTable.deleteWhere(spark, t, "x", 100L, 100L)
    MaterializedView.refresh(spark, t, view, "id", "g", "x")
    assert(viewRows() == expected())
    assert(!viewRows().exists(_._1 == "c"), "drained group must retire")

    // base unmoved → refresh is a no-op (no new view version)
    val vv = SnapshotTable.currentVersion(view)
    assert(MaterializedView.refresh(spark, t, view, "id", "g", "x") == vv)
    assert(MaterializedView.basedOn(view) == SnapshotTable.currentVersion(t))

    // refreshes that skip versions still converge (v5+v6 in one hop)
    SnapshotTable.commit(spark, t, Seq((7L, "d", 3L)).toDF("id", "g", "x"))
    SnapshotTable.merge(spark, t, Seq((7L, "d", 4L)).toDF("id", "g", "x"), "id")
    MaterializedView.refresh(spark, t, view, "id", "g", "x")
    assert(viewRows() == expected())
  }
}

/** Parquet output committer that holds the first write into one table
  * at job set-up, before any task runs: after the writer read its base version
  * and before it publishes. Every other write passes straight through,
  * so a test can land a commit in exactly that window. */
class GatedCommitter(out: org.apache.hadoop.fs.Path,
    ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    GatedCommitter.pass(out.toUri.getPath)
    super.setupJob(job)
  }
}

object GatedCommitter {
  import java.util.concurrent.{CountDownLatch, TimeUnit}

  /** `table` is the URI path of the table, so the gate matches the
    * committer's output on any scheme. */
  private final class Gate(val table: String) {
    val taken = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reached = new CountDownLatch(1)
    val release = new CountDownLatch(1)
  }
  @volatile private var gate: Option[Gate] = None

  private def pass(out: String): Unit =
    gate.filter(g => out.startsWith(g.table + "/") && g.taken.compareAndSet(false, true))
      .foreach { g =>
        g.reached.countDown()
        g.release.await(120, TimeUnit.SECONDS)
      }

  /** Run `held` on its own thread and hold its first parquet write
    * into `table` (a write may run on an adaptive-execution thread, so
    * the gate keys on the table, not the thread); run `meanwhile` on
    * this thread, then let `held` finish. Returns how `held` ended and
    * what `meanwhile` returned. */
  def holding[A, B](table: String)(held: => A)(meanwhile: => B): (Either[Throwable, A], B) = {
    val spark = SparkSpec.session
    val key = "spark.sql.parquet.output.committer.class"
    @volatile var result: Either[Throwable, A] = Left(new IllegalStateException("never ran"))
    val th = new Thread(() => result = scala.util.Try(held).toEither)
    val g = new Gate(new org.apache.hadoop.fs.Path(table).toUri.getPath)
    spark.conf.set(key, classOf[GatedCommitter].getName)
    gate = Some(g)
    try {
      th.start()
      while (!g.reached.await(50, TimeUnit.MILLISECONDS) && th.isAlive) ()
      th.join(50)
      assert(g.reached.getCount == 0, s"the held write never started: $result")
      val b = meanwhile
      g.release.countDown()
      th.join(120000)
      (result, b)
    } finally {
      g.release.countDown()
      gate = None
      spark.conf.unset(key)
    }
  }
}
