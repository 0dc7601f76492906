package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one way to build a graft SparkSession: every main (ScaleGen,
  * Bench, Verify, PlanDump, Probe) and the test suites' shared session
  * start here, so their settings cannot drift apart.
  *
  *  - `local[cpus]`;
  *  - shuffle partitions and codec scaled to the corpus at `sfDir`
  *    ([[Bench.scaledShufflePartitions]], [[Bench.scaledCodec]]); on a
  *    corpus under ~4 MB per core the partition count is `cpus`;
  *  - UTC session time zone, UI off, WARN log level;
  *  - [[GraftExtensions]], always: the native SQL functions and the
  *    CosineTopK strategy need no per-session registration;
  *  - `spark.local.dir` = `SPARK_GRAFT_LOCAL_DIR` when set, else
  *    `spill` when the caller names one, else Spark's default. The
  *    directory is created first.
  *
  * A session is built once per JVM: `getOrCreate` returns an existing
  * one unchanged.
  */
object Session {
  /** Local executor threads: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def build(sfDir: String, cpus: Int, spill: Option[String] = None): SparkSession = {
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse(spill)
    localDir.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        Bench.scaledShufflePartitions(sfDir, cpus).toLong)
      .config("spark.io.compression.codec", Bench.scaledCodec(sfDir))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    val spark = localDir.fold(builder)(builder.config("spark.local.dir", _))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
