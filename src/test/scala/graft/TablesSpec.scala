package graft

/** Pins for [[Tables.spread]]'s layout gate (r20, r19 verdict task 8 /
  * advisor): the split count must come from the parquet FOOTERS' real
  * row-group counts, not the former ceil(bytes/128 MB) byte heuristic —
  * a multi-row-group small file parallelizes fine and must NOT trip the
  * repartition, and a single-row-group file must always count as one
  * split however large it is. */
class TablesSpec extends SparkSpec {

  private def writeParquet(rows: Long, blockBytes: Int): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rg").toFile
    val out = new java.io.File(dir, "t.parquet")
    spark.range(0, rows)
      .selectExpr("id", "repeat('x', 64) AS pad")
      .coalesce(1)
      // tiny row groups: parquet checks the size every ~100 records and
      // rolls a new group past the block size
      .write.option("parquet.block.size", blockBytes.toString)
      .mode("overwrite").parquet(out.getAbsolutePath)
    out
  }

  test("splitEstimate counts real row groups, not bytes (multi-row-group small file)") {
    // ~15 MB of raw data in 64 KiB row groups: the byte heuristic said
    // 1 split (file ≪ 128 MB) — the footer says MANY, so spread() now
    // correctly declines to add an exchange for a layout that already
    // feeds every core
    val f = writeParquet(rows = 200000, blockBytes = 64 * 1024)
    val splits = Tables.splitEstimate(f)
    assert(splits > 4, s"expected many row groups, got $splits " +
      s"(bytes=${Option(f.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(_.length()).sum})")
  }

  test("splitEstimate reads 1 for a single-row-group file") {
    val f = writeParquet(rows = 5000, blockBytes = 128 << 20)
    assert(Tables.splitEstimate(f) == 1L)
  }

  test("the corpus tables report one row group per file (the layout spread() exists for)") {
    // the documented premise of the r19 opt-in floor — if the generator
    // ever changes its layout, this canary says the spread decision
    // must be revisited
    val f = new java.io.File(s"$sf/lineitem.parquet")
    val files =
      if (f.isFile) 1
      else Option(f.listFiles()).getOrElse(Array.empty)
        .count(c => c.isFile && c.getName.endsWith(".parquet"))
    assert(Tables.splitEstimate(f) == files.toLong,
      s"expected $files row groups (1/file), got ${Tables.splitEstimate(f)}")
  }

  test("load re-infers the schema of a table rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    val out = s"$dir/t.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(out)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS b")
      .write.mode("overwrite").parquet(out)
    val t = Tables.load(spark, dir, "t")
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.collect().length == 3)
  }
}
