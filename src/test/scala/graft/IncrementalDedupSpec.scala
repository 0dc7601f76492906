package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.IncrementalDedup
import graft.sources.SnapshotTable

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_dedup_idx").resolve("idx").toString

  test("batched incremental dedup equals the one-shot greedy, and the index only appends") {
    // real corpus plus PLANTED duplicates so both collision paths fire
    // at every scale factor: 1001/1002 duplicate in-batch, 2001/2002
    // duplicate across batches (copies of batch-1 texts)
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val t0 = base.orderBy("doc_id").limit(2)
      .as[(Long, String)].collect()
    val novel = "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk"
    val planted = Seq(
      (1001L, novel), (1002L, novel),       // novel text, same batch
      (2001L, t0(1)._2), (2002L, novel)     // copies of earlier batches
    ).toDF("doc_id", "text")
    val corpus = base.unionByName(planted).localCheckpoint()

    // batches split on doc_id: arrival order is id order
    val cuts = Seq(0L -> 300L, 300L -> 1500L, 1500L -> 3000L)
    val idx = tmp()
    val keptIncr = cuts.flatMap { case (lo, hi) =>
      val batch = corpus.filter($"doc_id" >= lo && $"doc_id" < hi)
      IncrementalDedup.processBatch(spark, idx, batch)
        .select("doc_id").as[Long].collect()
    }.toSet

    val keptFull = IncrementalDedup.dedupFull(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIncr == keptFull,
      s"incr-only: ${keptIncr -- keptFull}; full-only: ${keptFull -- keptIncr}")

    // the planted dups were actually caught (non-vacuity): first wins
    assert(keptIncr.contains(1001L) && !keptIncr.contains(1002L))
    assert(!keptIncr.contains(2002L), "cross-batch duplicate must drop")
    // 2001 duplicates a batch-1 doc's text → index hit drops it too
    assert(!keptIncr.contains(2001L))

    // index: one commit per batch, strictly append-only (no rewrites)
    assert(SnapshotTable.versions(idx) == Seq(1L, 2L, 3L))
    for (v <- 1L to 2L)
      assert(SnapshotTable.removedFiles(idx, v, v + 1).isEmpty,
        s"index rewrite between $v and ${v + 1}")
    // the index holds bands for EVERY seen doc (kept and dropped) — the
    // contract that makes incremental == one-shot
    val indexed = SnapshotTable.read(spark, idx)
      .select("doc_id").distinct().as[Long].collect().toSet
    val withShingles = corpus
      .filter(size(split($"text", " ")) >= 3).select("doc_id")
      .as[Long].collect().toSet
    assert(indexed == withShingles)

    // every index commit is stamped with the band format version — the
    // cross-format guard reads the NEWEST manifest, so the stamp must
    // ride every commit, not just the first
    for (v <- SnapshotTable.versions(idx))
      assert(SnapshotTable.manifest(idx, v).meta
        .contains(s"#band_index_format=${IncrementalDedup.IndexFormat}"), s"v$v unstamped")
  }

  test("an index committed under a different band format fails fast, not silently") {
    // r13 folded the band key from a 16-char md5-hex STRING to a 60-bit
    // LONG; an index persisted before that change would join string bh
    // against long bh — implicit cast, zero matches, every dup waved
    // through with no error. The guard turns that silent miss into a
    // hard failure at the next batch.
    val batch1 = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 300L)
    // legacy index: same rows, but committed WITHOUT the format stamp
    // (what any pre-guard build wrote)
    val legacy = tmp()
    SnapshotTable.commit(spark, legacy,
      graft.operators.TextOps.bandSignatures(batch1), append = true)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(spark, legacy, batch1)
    }
    assert(e.getMessage.contains("band_index_format")
      || e.getMessage.contains("rebuild the index"), e.getMessage)
    // and a stamped index from THIS build passes the guard on batch 2
    val fresh = tmp()
    IncrementalDedup.processBatch(spark, fresh, batch1)
    IncrementalDedup.processBatch(spark, fresh,
      Tables.documents(spark, sf).select("doc_id", "text")
        .filter($"doc_id" >= 300L && $"doc_id" < 600L))
    assert(SnapshotTable.versions(fresh) == Seq(1L, 2L))
  }

  test("compaction mid-stream keeps catching dups and carries the format stamp") {
    // the maintenance path the r19 growth probe prices: compact the
    // accreted per-batch files BETWEEN batches, then keep ingesting.
    // The compaction commit must keep the #band_index_format stamp (every
    // snapshot commit carries its base's metadata lines), or the next
    // batch's format guard would strand the index.
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val t0 = base.orderBy("doc_id").limit(1).as[(Long, String)].collect()
    // planted post-compaction duplicate of a PRE-compaction text: the
    // join against the compacted files must still catch it
    val corpus = base.unionByName(
      Seq((2501L, t0(0)._2)).toDF("doc_id", "text")).localCheckpoint()
    val idx = tmp()
    val cuts = Seq(0L -> 300L, 300L -> 1500L, 1500L -> 3000L)
    val kept12 = cuts.take(2).flatMap { case (lo, hi) =>
      IncrementalDedup.processBatch(spark, idx,
        corpus.filter($"doc_id" >= lo && $"doc_id" < hi))
        .select("doc_id").as[Long].collect()
    }
    val vComp = IncrementalDedup.compactIndex(spark, idx, groups = 1)
    // groups=1 packs every accreted file into exactly one
    assert(SnapshotTable.entries(idx, vComp).size == 1)
    // the stamp survived the maintenance commit
    assert(SnapshotTable.manifest(idx, vComp).meta
      .contains(s"#band_index_format=${IncrementalDedup.IndexFormat}"),
      "compaction dropped the format stamp")
    val kept3 = IncrementalDedup.processBatch(spark, idx,
      corpus.filter($"doc_id" >= 1500L && $"doc_id" < 3000L))
      .select("doc_id").as[Long].collect()
    val keptIncr = (kept12 ++ kept3).toSet
    val keptFull = IncrementalDedup.dedupFull(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIncr == keptFull,
      s"incr-only: ${keptIncr -- keptFull}; full-only: ${keptFull -- keptIncr}")
    assert(!keptIncr.contains(2501L),
      "cross-compaction duplicate must still drop")
    // compacting an unstamped (alien-format) index fails as loudly as
    // joining it would
    val legacy2 = tmp()
    SnapshotTable.commit(spark, legacy2,
      graft.operators.TextOps.bandSignatures(base.filter($"doc_id" < 300L)),
      append = true)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.compactIndex(spark, legacy2)
    }
    assert(e2.getMessage.contains("band_index_format")
      || e2.getMessage.contains("rebuild the index"), e2.getMessage)
  }
}
