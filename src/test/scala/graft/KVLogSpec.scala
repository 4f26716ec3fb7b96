package graft

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.kv.KVLog

/** Durable KV ingest: crash-safe run commits (the reference's WAL
  * guarantee, storage_engine/src/wal/wal_record_writer.rs) and bloom
  * filters on UN-compacted runs (cache/bloom_filter_cache.rs). */
class KVLogSpec extends SparkSuite {

  private def freshLog(): KVLog = {
    val dir = java.nio.file.Files.createTempDirectory("graft_kvlog").toString
    KVLog(dir + "/log", "key", "seq", "tombstone")
  }

  private def batch(rows: Seq[(Long, Long, Boolean, Double)]) = {
    import spark.implicits._
    rows.toDF("key", "seq", "tombstone", "v")
  }

  test("appended batches merge latest-wins across runs") {
    val log = freshLog()
    log.append(batch(Seq((1L, 1L, false, 10.0), (2L, 2L, false, 20.0))))
    log.append(batch(Seq((1L, 3L, false, 11.0), (2L, 4L, true, 0.0))))
    val got = log.merged(spark).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 11.0)))
    assert(log.committedRuns.length == 2)
  }

  test("a torn mid-write run is invisible to readers") {
    val log = freshLog()
    log.append(batch(Seq((1L, 1L, false, 10.0), (3L, 2L, false, 30.0))))
    val before = log.merged(spark).orderBy("key").collect().toSeq

    // crash shape 1: killed DURING the parquet job — temp dir with a
    // partial (garbage) data file and no _SUCCESS, rename never ran
    val tmp = new java.io.File(log.path, ".tmp_run_torn")
    assert(tmp.mkdirs())
    java.nio.file.Files.write(tmp.toPath.resolve("part-00000.parquet"),
      Array[Byte](80, 65, 82, 49, 0, 1, 2, 3)) // "PAR1" + torn tail
    // crash shape 2: a run_ dir that somehow lacks the commit marker
    // (e.g. manual copy) — still not a committed run
    val noMarker = new java.io.File(log.path, "run_nomarker")
    assert(noMarker.mkdirs())
    java.nio.file.Files.write(noMarker.toPath.resolve("part-00000.parquet"),
      Array[Byte](80, 65, 82, 49))

    assert(log.committedRuns.length == 1)
    val after = log.merged(spark).orderBy("key").collect().toSeq
    assert(after == before, "torn run changed the merged view")
    // and the log keeps working: the next append commits normally
    log.append(batch(Seq((1L, 5L, false, 12.0))))
    assert(log.merged(spark).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((1L, 12.0), (3L, 30.0)))
  }

  private def parquetFiles(run: String): Int =
    new java.io.File(run).listFiles().count(_.getName.endsWith(".parquet"))

  test("a small append commits one parquet file; a wide one keeps its writer tasks") {
    val rows = (0L until 4000L).map(k => (k, k, false, k.toDouble))
    val small = batch(rows)
    assert(small.rdd.getNumPartitions > 1, "fixture must span several writer tasks")
    val log = freshLog()
    log.append(small)
    assert(log.committedRuns.map(parquetFiles) == Seq(1))

    // a session whose scan split is far below the batch estimate:
    // the append keeps every writer task, and never widens a caller's
    // own narrower coalesce
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    import narrow.implicits._
    val wide = rows.toDF("key", "seq", "tombstone", "v")
    val wideLog = freshLog()
    wideLog.append(wide)
    assert(parquetFiles(wideLog.committedRuns.head) == wide.rdd.getNumPartitions)
    val callerLog = freshLog()
    callerLog.append(wide.coalesce(2))
    assert(parquetFiles(callerLog.committedRuns.head) == 2)
    assert(wideLog.merged(narrow).count() == 4000 && callerLog.merged(narrow).count() == 4000)
  }

  test("the append file count is a pure function of the estimate") {
    val split = 128L << 20
    assert(KVLog.appendFiles(BigInt(0), split) == 1)
    assert(KVLog.appendFiles(BigInt(640L << 10), split) == 1)
    assert(KVLog.appendFiles(BigInt(split), split) == 1)
    assert(KVLog.appendFiles(BigInt(split) + 1, split) == 2)
    assert(KVLog.appendFiles(BigInt(10L << 30), split) == 80)
  }

  test("uncompacted runs carry a key bloom filter that rejects absent-key row groups") {
    val log = freshLog()
    // even keys only: any odd probe key lies INSIDE the run's
    // [min,max] so row-group stats can never reject it — exactly the
    // case where an uncompacted run without a bloom filter degrades a
    // point get to a full decode. One partition → one file, so the
    // probed file deterministically spans the full key range.
    log.append(batch((0L until 4000L).map(k => (k * 2, k, false, k.toDouble)))
      .coalesce(1))
    val file = new java.io.File(log.committedRuns.head).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val input = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration)

    // footer: the filter exists on the key column of this fresh run
    val plain = ParquetFileReader.open(input)
    try {
      val keyChunk = plain.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "key").get
      assert(keyChunk.getBloomFilterOffset > 0, "no bloom filter on key")
    } finally plain.close()

    // behavior: probe an absent key inside [min,max]. Stats-only
    // filtering keeps the row group; bloom filtering rejects it
    // without decoding a page. (Dictionary filtering disabled on both
    // sides to isolate the bloom effect.)
    def rowGroups(useBloom: Boolean): Int = {
      val pred = FilterApi.eq(FilterApi.longColumn("key"),
        java.lang.Long.valueOf(4001L))
      val r = ParquetFileReader.open(input, ParquetReadOptions.builder()
        .withRecordFilter(FilterCompat.get(pred))
        .useStatsFilter(true)
        .useDictionaryFilter(false)
        .useBloomFilter(useBloom)
        .build())
      try r.getRowGroups.size finally r.close()
    }
    assert(rowGroups(useBloom = false) >= 1,
      "stats alone should NOT reject a probe inside [min,max] — fixture broken")
    assert(rowGroups(useBloom = true) == 0,
      "bloom filter failed to reject the absent key's row groups")
  }

  test("checkpoint is physically independent of the source and skips in-flight temps") {
    val log = freshLog()
    log.append(batch(Seq((1L, 1L, false, 10.0), (2L, 2L, false, 20.0))))
    log.append(batch(Seq((1L, 3L, false, 11.0), (2L, 4L, true, 0.0))))
    // an in-flight write at checkpoint time is NOT durable state and
    // must not be copied
    val tmp = new java.io.File(log.path, ".tmp_run_inflight")
    assert(tmp.mkdirs())
    java.nio.file.Files.write(tmp.toPath.resolve("part-00000.parquet"),
      Array[Byte](80, 65, 82, 49))
    val before = log.merged(spark).orderBy("key").collect().toSeq

    val ckptPath = log.path + "_ckpt"
    log.checkpointTo(ckptPath)
    val ckpt = KVLog.openCheckpoint(ckptPath, "key", "seq", "tombstone")
    assert(ckpt.committedRuns.size == 2, "exactly the committed runs copied")

    // delete the source log outright — the checkpoint must still read
    log.reset()
    assert(log.committedRuns.isEmpty)
    val restored = ckpt.merged(spark).orderBy("key").collect().toSeq
    assert(restored == before, "restore diverged from the pre-checkpoint merge")
  }

  test("incremental backup: only new runs copied, chain restores after source deletion, broken base refuses") {
    val log = freshLog()
    log.append(batch(Seq((1L, 1L, false, 10.0), (2L, 2L, false, 20.0))))
    log.append(batch(Seq((3L, 3L, false, 30.0))))
    val full = log.path + "_full"
    val inc = log.path + "_inc"
    log.checkpointTo(full) // T0: full backup of two runs
    log.append(batch(Seq((1L, 4L, false, 11.0), (2L, 5L, true, 0.0)))) // T1
    val before = log.merged(spark).orderBy("key").collect().toSeq
    log.incrementalCheckpointTo(inc, full)
    // the increment physically holds ONLY the new run
    assert(KVLog(inc, "key", "seq", "tombstone").committedRuns.size == 1,
      "incremental backup copied more than the new run")
    assert(KVLog.chainRuns(inc).size == 3)
    // restore is independent of the live log
    log.reset()
    val restored = KVLog.openChain(spark, inc, "key", "seq", "tombstone")
      .merged().orderBy("key").collect().toSeq
    assert(restored == before, "chain restore diverged from the pre-backup merge")
    // a chain with a missing base link must refuse, never serve a prefix
    graft.sources.LocalDir.deleteRecursively(new java.io.File(full))
    intercept[IllegalArgumentException] { KVLog.chainRuns(inc) }
  }

  test("checkpoint-chain property: random appends and increment points always restore the full merge") {
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val log = freshLog()
      val nRuns = 3 + rnd.nextInt(3) // 3..5 appends
      var seq = 0L
      (1 to nRuns).foreach { _ =>
        val rows = (1 to 1 + rnd.nextInt(4)).map { _ =>
          seq += 1
          (rnd.nextInt(5).toLong, seq, rnd.nextInt(6) == 0, rnd.nextInt(100) / 4.0)
        }
        log.append(batch(rows))
      }
      // full checkpoint after a random prefix of the appends? The
      // full checkpoint always covers the CURRENT runs; chain an
      // increment after 1..2 more appends
      val full = log.path + s"_p${trial}_full"
      log.checkpointTo(full)
      (1 to 1 + rnd.nextInt(2)).foreach { _ =>
        val rows = (1 to 2).map { _ =>
          seq += 1
          (rnd.nextInt(5).toLong, seq, rnd.nextInt(6) == 0, rnd.nextInt(100) / 4.0)
        }
        log.append(batch(rows))
      }
      val inc = log.path + s"_p${trial}_inc"
      log.incrementalCheckpointTo(inc, full)
      val want = log.merged(spark).orderBy("key", "seq").collect().toSeq
      log.reset()
      val got = KVLog.openChain(spark, inc, "key", "seq", "tombstone")
        .merged().orderBy("key", "seq").collect().toSeq
      assert(got == want, s"trial $trial: chain restore diverged")
    }
  }

  test("a torn checkpoint (no manifest) and a mutilated one refuse to open") {
    val log = freshLog()
    log.append(batch(Seq((7L, 1L, false, 1.5))))
    log.append(batch(Seq((8L, 2L, false, 2.5))))
    val ckptPath = log.path + "_ckpt"
    log.checkpointTo(ckptPath)

    // torn: the manifest is what the atomic rename publishes — without
    // it the directory is not a checkpoint at all
    val manifest = new java.io.File(ckptPath, "_CHECKPOINT")
    val manifestBytes = java.nio.file.Files.readAllBytes(manifest.toPath)
    assert(manifest.delete())
    intercept[IllegalArgumentException] {
      KVLog.openCheckpoint(ckptPath, "key", "seq", "tombstone")
    }

    // mutilated: manifest present but a run directory went missing —
    // serving the remaining prefix would silently rewind history
    java.nio.file.Files.write(manifest.toPath, manifestBytes)
    val firstRun = new java.io.File(
      KVLog(ckptPath, "key", "seq", "tombstone").committedRuns.head)
    graft.sources.LocalDir.deleteRecursively(firstRun)
    intercept[IllegalArgumentException] {
      KVLog.openCheckpoint(ckptPath, "key", "seq", "tombstone")
    }
  }
}
