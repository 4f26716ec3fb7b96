package graft.kv

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation

import graft.operators.Bounded

/** Directory-backed KV run log: the durable ingest side of [[KVTable]].
  *
  * The reference guards every write with a WAL
  * (`/root/reference/src/storage_engine/src/wal/wal_record_writer.rs`):
  * a crash mid-write must never expose a torn record to readers. The
  * Spark-native equivalent is commit-by-rename — each batch is written
  * to a hidden temp dir and atomically renamed into place only after
  * the job (and its `_SUCCESS` marker) completes. Readers list only
  * committed runs, so a killed mid-parquet-write append is simply
  * invisible: no partial file, no torn row, no repair step.
  *
  * Every run — including fresh, UN-compacted ones — is written with a
  * parquet bloom filter on the key column (the analog of the
  * reference's `cache/bloom_filter_cache.rs` over SSTables). Min/max
  * row-group stats only prune point gets after compaction key-clusters
  * the files; an uncompacted run's key range spans everything, so
  * without the bloom filter every point get decodes every run. With
  * it, a probe for a key absent from a run skips the run's row groups
  * without touching a data page.
  *
  * File-per-append rule: a run is written as
  * [[KVLog.appendFiles]] files, sized from the batch's plan-stats
  * estimate (`Bounded.decodedBytes`) and the session's
  * `spark.sql.files.maxPartitionBytes`, and never as more files than
  * the batch has partitions. A small append is one file, so every
  * later get, scan and compaction opens one file per run instead of
  * one per writer task; a large append keeps its parallelism.
  *
  * Layout: `<path>/run_<id>/` committed parquet runs; `<path>/.tmp_*`
  * in-flight writes (never read). Run ids are monotone per append so
  * newest-run-wins debugging stays easy; correctness needs only the
  * row-level `seqCol` (latest-wins merge), not file order.
  */
final case class KVLog(path: String, keyCol: String, seqCol: String,
                       tombstoneCol: String) {

  /** Durably append one batch as a new committed run. Crash-safe:
    * temp-dir write + atomic rename; a reader never sees the run
    * until the rename, and the rename happens only after Spark's
    * `_SUCCESS` commit marker exists.
    *
    * The batch is coalesced to [[KVLog.appendFiles]] files. A
    * coalesce never raises an RDD's partition count, so a batch with
    * fewer partitions writes as it would have. The one way it could
    * raise the count, Catalyst collapsing it into a caller's own
    * narrower `coalesce`/`repartition` at the batch's root, is
    * skipped. */
  def append(batch: DataFrame): Unit = {
    Files.createDirectories(Paths.get(path))
    sweepOrphanedTemps()
    val id = s"${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = Paths.get(path, s".tmp_run_$id")
    val files = KVLog.appendFiles(Bounded.decodedBytes(batch),
      batch.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val sized = batch.queryExecution.logical match {
      case r: RepartitionOperation if r.numPartitions <= files => batch
      case _ => batch.coalesce(files)
    }
    sized.write
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .parquet(tmp.toString)
    require(Files.exists(tmp.resolve("_SUCCESS")),
      s"parquet job left no _SUCCESS marker under $tmp")
    Files.move(tmp, Paths.get(path, s"run_$id"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Crashed appends leave `.tmp_run_*` dirs behind — invisible to
    * readers but never reclaimed otherwise (the reference WAL recycles
    * its segments). Swept at the next append; the age floor keeps a
    * concurrent in-flight write (same log, another session) safe. */
  private def sweepOrphanedTemps(maxAgeMs: Long = 10 * 60 * 1000): Unit = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".tmp_run_") &&
        f.lastModified() < cutoff)
      .foreach(graft.sources.LocalDir.deleteRecursively)
  }

  /** Wipe the whole log — the retry path for a MULTI-append build
    * that died between appends: unlike a single commit-by-rename,
    * partial progress across appends is durable, so the builder must
    * detect incompleteness (run count) and start over. */
  def reset(): Unit =
    graft.sources.LocalDir.deleteRecursively(new java.io.File(path))

  /** Committed run directories (have both the `run_` name, i.e. the
    * rename happened, and the `_SUCCESS` marker). Torn or in-flight
    * writes fail one of the two and are never read. */
  def committedRuns: Seq[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("run_") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getAbsolutePath).sorted.toSeq

  /** The log as a [[KVTable]] (union of committed runs only). */
  def table(spark: SparkSession): KVTable = {
    val runs = committedRuns
    require(runs.nonEmpty, s"no committed runs under $path")
    KVTable(spark.read.parquet(runs: _*), keyCol, seqCol, tombstoneCol)
  }

  /** Latest-wins merged view (see [[KVTable.merged]]). */
  def merged(spark: SparkSession): DataFrame = table(spark).merged()

  /** Point get pushed to the scan — with bloom-filtered runs this
    * prunes whole row groups of runs that don't contain the key. */
  def get(spark: SparkSession, key: Long): DataFrame =
    table(spark).get(org.apache.spark.sql.functions.lit(key))

  /** Physical CHECKPOINT of the log (the reference's backup/snapshot
    * of the live SSTable set, `storage_engine`'s version_set made
    * portable): every committed run is copied byte-for-byte into
    * `destPath`, the copy is finalized by writing a `_CHECKPOINT`
    * manifest recording the run count, and the whole directory is
    * published by ONE atomic rename — the same commit-by-rename
    * discipline as [[append]], so a crash mid-checkpoint leaves only
    * an invisible `.tmp` dir, never a half-checkpoint a reader could
    * open. In-flight `.tmp_run_*` source dirs are NOT copied (they
    * are not part of the durable state). The checkpoint is fully
    * self-contained: [[KVLog.openCheckpoint]] reads survive deletion
    * of the source log. Runs are immutable parquet, so "copy" is the
    * whole story — no WAL replay, no sequence rewriting.
    *
    * Scale: cost is O(run bytes) of file copying with zero data-path
    * work (no decode, no shuffle, no driver traffic beyond the file
    * listing) — on an object store this is a server-side copy per
    * run file. */
  def checkpointTo(destPath: String): KVLog = {
    val runs = committedRuns
    require(runs.nonEmpty, s"checkpoint of empty log $path")
    val dest = Paths.get(destPath)
    Option(dest.getParent).foreach(Files.createDirectories(_))
    // build the tmp copy FIRST, delete any previous checkpoint only
    // just before the rename: a crash during the (long) copy leaves
    // the old checkpoint intact; the delete..rename window leaves no
    // checkpoint but never a torn one (openCheckpoint's manifest gate)
    val tmp = Paths.get(destPath + ".tmp_ckpt")
    graft.sources.LocalDir.deleteRecursively(tmp.toFile)
    Files.createDirectories(tmp)
    runs.foreach { runDir =>
      val src = Paths.get(runDir)
      val dst = tmp.resolve(src.getFileName)
      val walk = Files.walk(src)
      try walk.forEach { p =>
        val target = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
      } finally walk.close()
    }
    Files.writeString(tmp.resolve("_CHECKPOINT"), runs.size.toString)
    graft.sources.LocalDir.deleteRecursively(new java.io.File(destPath))
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    KVLog(destPath, keyCol, seqCol, tombstoneCol)
  }

  /** INCREMENTAL checkpoint (RocksDB's incremental backup: immutable
    * files make "backup" = "copy the files the previous backup does
    * not have"): copy only the committed runs whose names the base
    * checkpoint lacks, record the base reference + the new-run count
    * in a `_CHECKPOINT_INC` manifest, publish by one atomic rename.
    * Restore ([[KVLog.chainRuns]]) resolves the chain back to the
    * full checkpoint and reads the union — each link validates its
    * own manifest, so a missing link or a mutilated increment fails
    * loudly instead of serving a history prefix. Cost is
    * O(new-run bytes): the whole point — daily backups of a 100 TB
    * store copy the day's runs, not the store. */
  def incrementalCheckpointTo(destPath: String, basePath: String): Unit = {
    val baseRuns = KVLog.chainRuns(basePath).map(p =>
      java.nio.file.Paths.get(p).getFileName.toString).toSet
    val newRuns = committedRuns.filterNot(r =>
      baseRuns.contains(Paths.get(r).getFileName.toString))
    val dest = Paths.get(destPath)
    Option(dest.getParent).foreach(Files.createDirectories(_))
    val tmp = Paths.get(destPath + ".tmp_ckpt")
    graft.sources.LocalDir.deleteRecursively(tmp.toFile)
    Files.createDirectories(tmp)
    newRuns.foreach { runDir =>
      val src = Paths.get(runDir)
      val dst = tmp.resolve(src.getFileName)
      val walk = Files.walk(src)
      try walk.forEach { p =>
        val target = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
      } finally walk.close()
    }
    Files.writeString(tmp.resolve("_CHECKPOINT_INC"),
      s"base=$basePath\n${newRuns.size}")
    graft.sources.LocalDir.deleteRecursively(new java.io.File(destPath))
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
  }
}

object KVLog {
  /** Files for one append: `ceil(decodedBytes / maxPartitionBytes)`,
    * at least one. A pure function of the estimate, so a 4,000-row
    * batch is one file and only a batch whose decoded estimate exceeds
    * a scan split is spread over several. */
  def appendFiles(decodedBytes: BigInt, maxPartitionBytes: Long): Int =
    ((decodedBytes + maxPartitionBytes - 1) / maxPartitionBytes)
      .max(1).min(Int.MaxValue).toInt

  /** Resolve a (possibly incremental) checkpoint to its FULL
    * committed run list, validating every link of the chain: a full
    * checkpoint's `_CHECKPOINT` records its run count, an
    * increment's `_CHECKPOINT_INC` records its base reference and
    * its own new-run count. Any missing manifest, missing run or
    * broken base link refuses loudly. */
  def chainRuns(path: String): Seq[String] = {
    val inc = Paths.get(path, "_CHECKPOINT_INC")
    if (Files.exists(inc)) {
      val Array(baseLine, countLine) =
        Files.readString(inc).trim.split("\n", 2)
      require(baseLine.startsWith("base="),
        s"malformed incremental manifest at $path")
      val own = KVLog(path, "", "", "").committedRuns
      require(own.size == countLine.trim.toInt,
        s"incremental checkpoint $path has ${own.size} runs, manifest says ${countLine.trim}")
      chainRuns(baseLine.stripPrefix("base=")) ++ own
    } else {
      openCheckpoint(path, "", "", "").committedRuns
    }
  }

  /** Open a full-or-incremental checkpoint chain as a [[KVTable]]. */
  def openChain(spark: SparkSession, path: String, keyCol: String,
                seqCol: String, tombstoneCol: String): KVTable = {
    val runs = chainRuns(path)
    require(runs.nonEmpty, s"empty checkpoint chain at $path")
    KVTable(spark.read.parquet(runs: _*), keyCol, seqCol, tombstoneCol)
  }

  /** Open a checkpoint for reading, validating completeness: the
    * `_CHECKPOINT` manifest must exist (a torn copy never gets one —
    * the atomic rename publishes manifest and runs together) and the
    * committed run count must match what the manifest recorded (a
    * manually mutilated checkpoint fails loudly instead of serving a
    * seq-prefix of history). */
  def openCheckpoint(path: String, keyCol: String, seqCol: String,
                     tombstoneCol: String): KVLog = {
    val manifest = Paths.get(path, "_CHECKPOINT")
    require(Files.exists(manifest),
      s"$path is not a completed checkpoint (no _CHECKPOINT manifest)")
    val log = KVLog(path, keyCol, seqCol, tombstoneCol)
    val expected = Files.readString(manifest).trim.toInt
    require(log.committedRuns.size == expected,
      s"checkpoint $path has ${log.committedRuns.size} runs, manifest says $expected")
    log
  }
}
