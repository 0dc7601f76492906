package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.plans.Scale

/** Scale-technique equivalence: salted aggregation/join must produce
  * exactly the plain results; bucketed tables must co-locate the join
  * (no shuffle exchange); the ingest catalog's partition layout must
  * prune on dataset_id. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain groupBy on a skewed column") {
    val li = Tables.lineitem(spark, sf)
    val plain = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum"))
      .as[(String, Long, Double)].collect().map { case (k, n, s) => k -> (n, s) }.toMap
    val salted = Scale.saltedCountSum(li, "l_returnflag", "l_quantity")
      .as[(String, Long, Double)].collect().map { case (k, n, s) => k -> (n, s) }.toMap
    assert(salted == plain)
  }

  test("salted join equals plain join (row multiset)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val oKeyed = Tables.orders(spark, sf)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val plain = li.join(oKeyed, Seq("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val salted = Scale.saltedJoin(li, oKeyed, "l_orderkey")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    // default warehouse dir (spark-warehouse/, gitignored) — the conf is
    // static and cannot be set on a live session. The in-memory catalog
    // forgets tables between JVMs but the directories persist: clear both.
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      if (dir.exists()) rm(dir)
    }
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"expected bucket-co-located join, got shuffles:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      // 90% of the left side lands on one key → one fat shuffle partition
      val left = spark.range(0, 100000)
        .select(when($"id" % 10 === 0, $"id" % 50).otherwise(0L).as("k"),
          ($"id" * 7).as("payload"))
      val right = spark.range(0, 50).select($"id".as("k"), ($"id" + 100).as("r"))
      // no aggregation on the join key downstream: a consumer requiring
      // hash distribution on k would make skew-splitting ineligible
      val joined = left.join(right, "k").select(sum("payload").as("s"))
      // execute THIS dataframe's own queryExecution so its adaptive plan
      // finalizes (count()/write would plan a separate query)
      joined.collect()
      val plan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("IVF cell layout: probing 2 cells partition-prunes the other directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = Files.createTempDirectory("graft_ivf").resolve("ivf").toString
    graft.operators.VectorOps.writeIvfLayout(spark, sf, path)
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }
        .headOption.getOrElse(fail("no FileSourceScanExec"))
    val all = scanOf(spark.read.parquet(path)).selectedPartitions.partitionCount
    val probed = graft.operators.VectorOps.readIvfCells(spark, path, Seq(1, 3))
    val pruned = scanOf(probed).selectedPartitions.partitionCount
    assert(all >= 4, s"expected several cell directories, got $all")
    assert(pruned == 2, s"expected exactly the 2 probed cells, scanned $pruned of $all")
    assert(probed.select("cell").distinct().count() == 2)
  }

  test("z-order layout: box query scans only the splitter's z-run directories") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = graft.sources.Formats.writeZLayout(spark, sf)
    // the aggregate query plans adaptively — descend into the stages
    def deepScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
      case q: QueryStageExec => deepScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(deepScans)
    }
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
      df.collect() // execute so AQE finalizes
      deepScans(df.queryExecution.executedPlan)
        .headOption.getOrElse(fail("no FileSourceScanExec"))
    }
    val all = scanOf(spark.read.parquet(dir)).selectedPartitions.partitionCount
    // the query's box (users 4-7 × days 9-16) shatters into 4 z runs;
    // the scan must select exactly the on-disk dirs inside those runs
    val zSet = graft.sources.Formats.zRangesFor(1, 1, 4, 7)
      .flatMap { case (lo, hi) => lo to hi }.toSet
    val onDisk = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("zb="))
      .map(_.getName.stripPrefix("zb=").toInt)
    val expected = onDisk.count(zSet)
    val pruned = scanOf(graft.sources.Formats.layoutZorder(spark, sf))
      .selectedPartitions.partitionCount
    assert(expected >= 1, "box cells unexpectedly empty in test data")
    assert(pruned == expected,
      s"expected the $expected populated z-run dirs, scanned $pruned of $all")
    assert(all > 8 * expected,
      s"pruning unconvincing: $pruned of only $all dirs")
  }

  test("trained-IVF query is a pure probe: only the probed cell dirs are scanned") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = graft.operators.VectorOps.annIvfTrained(spark, sf)
    df.collect() // execute so AQE finalizes
    val layout = graft.operators.VectorOps.trainedLayoutDir(sf)
    // descend through the finalized adaptive plan and its query stages
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val corpusScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("corpus")))
    assert(corpusScans.nonEmpty, "no corpus scan found in the probe plan")
    val total = spark.read.parquet(s"$layout/corpus")
      .select("cell").distinct().count()
    corpusScans.foreach { scan =>
      val probed = scan.selectedPartitions.partitionCount
      assert(probed < total,
        s"probe scanned $probed of $total cell dirs — nothing pruned")
      assert(probed <= 6, s"3 queries × nprobe 2 can touch at most 6, saw $probed")
    }
  }

  test("runtime bloom filter injects might_contain on the fact side of a shuffle join") {
    // a selective dim predicate should seed a bloom filter that prunes
    // fact rows BEFORE the shuffle — at 100 TB this is the difference
    // between shuffling the whole fact table and shuffling matches only
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force a shuffle join
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n${optimized.take(2000)}")
      assert(joined.collect().nonEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shard export layout: 16 shard dirs, single-shard read prunes the other 15") {
    val path = Files.createTempDirectory("graft_shard").resolve("corpus").toString
    graft.operators.TextOps.writeShards(spark, sf, path)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(dirs.size == 16, s"expected 16 shard dirs, got $dirs")
    val one = spark.read.parquet(path).filter(col("shard") === "a")
    val scan = one.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("FileScan")).getOrElse(fail("no scan"))
    assert(scan.contains("PartitionFilters") && scan.contains("shard"),
      scan.takeRight(800))
    // manifest totals reconcile with the materialized layout
    val manifest = graft.operators.TextOps.shardManifest(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one.count() == manifest("a"))
    assert(manifest.values.sum == Tables.documents(spark, sf).count())
  }

  test("ingest catalog partition layout prunes on dataset_id") {
    val path = Files.createTempDirectory("graft_cat").resolve("cat").toString
    val batch = Seq(
      ("c1", "D1", 0L, 100L, 1L), ("c2", "D2", 0L, 100L, 1L),
      ("c3", "D3", 0L, 100L, 1L))
      .toDF("chunk_id", "dataset_id", "block_start", "block_end", "size_bytes")
    graft.sources.Ingest.ingest(spark, path, batch)
    // one file per dataset; the manifest's string stats on dataset_id
    // keep exactly D2's file of the three, and a read of it opens only it
    import graft.sources.SnapshotTable
    val v = SnapshotTable.currentVersion(path)
    assert(SnapshotTable.entries(path, v).size == 3)
    val files = SnapshotTable.filesForValue(path, v, "dataset_id", "D2")
    assert(files.size == 1, files)
    val kept = spark.read.schema(SnapshotTable.manifest(path, v).schema).parquet(files: _*)
    assert(kept.inputFiles.length == 1)
    assert(kept.select("dataset_id").distinct().as[String].collect().toSeq == Seq("D2"))
    val q = kept.filter(col("dataset_id") === "D2")
    assert(q.count() == 1)
    // findChunk answers the same row from the driver-side catalog index,
    // and once that index is warm, without a Spark job
    assert(graft.sources.Ingest.findChunk(spark, path, "D2", 50L).collect().toSeq ==
      q.collect().toSeq)
    assert(jobsDuring(graft.sources.Ingest.findChunk(spark, path, "D2", 50L).collect()) == 0)
  }
}
