package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.kv.{KVLog, KVTable, Wal}
import graft.sources.{LocalDir, State, Tables}

/** §2.2 KV storage semantics as oracle-checked operators.
  *
  * The KV log is derived deterministically from the `events` table so
  * DuckDB can compute the identical semantics: key = `user_id`,
  * seq = `event_id` (monotone), payload = `value`, and
  * `event_type = 'error'` plays the tombstone (delete) marker.
  */
object KV {

  private def kv(s: SparkSession, dir: String): KVTable =
    KVTable(
      Tables.load(s, dir, "events").select(
        col("user_id").as("key"),
        col("event_id").as("seq"),
        (col("event_type") === "error").as("tombstone"),
        col("value").as("v")),
      keyCol = "key", seqCol = "seq", tombstoneCol = "tombstone")

  /** Shared oracle prelude: the same derivation in DuckDB SQL. */
  private val kvCte =
    """kv AS (SELECT user_id AS key, event_id AS seq,
      |             event_type = 'error' AS tombstone, "value" AS v
      |      FROM events)""".stripMargin

  /** Latest-wins merge in DuckDB via window (max_by equivalent). */
  private def mergeSql(src: String, pred: String = "true") =
    s"""(SELECT key, seq, v FROM (
       |   SELECT key, seq, v, tombstone,
       |          row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |   FROM $src WHERE $pred) WHERE rn = 1 AND NOT tombstone)""".stripMargin

  /** The leveled-compaction cut: fold everything at or below 60% of
    * the max seq. ONE definition shared by kv_snapshot_read,
    * kv_leveled_compact and kv_levels_report — the levels report's
    * disjointness invariant depends on matching the fold's cut
    * exactly, so the fraction must not fork. (The SQL oracles embed
    * the same `floor(max(seq) * 0.6)` literal.) */
  private def cutSeq(t: KVTable): Long =
    t.runs.agg(floor(max("seq") * 0.6).cast("bigint")).head().getLong(0)

  // probe keys chosen to exist at EVERY test SF (user_id spans only
  // 0..14 at sf0.001) — an empty result would make the oracle check
  // vacuous at the smallest scale
  val kvPointGet: Op = Op.sql("kv_point_get",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv", "key = 7")} ORDER BY key""".stripMargin) { (s, dir) =>
    Bounded.ordered(kv(s, dir).get(lit(7L)), col("key"))
  }

  val kvRangeScan: Op = Op.sql("kv_range_scan",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv", "key BETWEEN 3 AND 12")}
       |ORDER BY key""".stripMargin) { (s, dir) =>
    // bounded-reduce pin (r12): THIS op's range is a literal 10-key
    // window, so its latest-wins merge is a ≤10-group reduce — one
    // scheduler job (Tuned). The KVTable.range API itself stays on
    // the caller's session with the runtime size gate: its bounds
    // are caller-controlled, the r9 contract.
    kv(Tuned.sizedOneJob(s), dir).range(lit(3L), lit(12L))
  }

  val kvCompact: Op = Op.sql("kv_compact",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv")} ORDER BY key""".stripMargin) { (s, dir) =>
    // sized one-job pin: MEASURED NEGATIVE (r12, two interleaved A/B
    // batches, +6%/+10%): the latest-wins merge exchange is small
    // enough that AQE's coalescing beats the static floor. Keep AQE.
    kv(s, dir).compacted()
  }

  val kvSnapshotRead: Op = Op.sql("kv_snapshot_read",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS cut FROM kv)
       |SELECT key, seq, v FROM (
       |  SELECT key, seq, v, tombstone,
       |         row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv, mx WHERE seq <= cut) WHERE rn = 1 AND NOT tombstone
       |ORDER BY key""".stripMargin) { (s, dir) =>
    val t = kv(s, dir)
    val cut = cutSeq(t)
    t.snapshot(cut).orderBy("key")
  }

  val kvWriteBatch: Op = Op.sql("kv_write_batch",
    s"""WITH $kvCte,
       |mx AS (SELECT max(seq) AS m FROM kv),
       |batch AS (
       |  SELECT CAST(42 AS BIGINT) AS key, m + 1 AS seq, false AS tombstone,
       |         CAST(999.5 AS DOUBLE) AS v FROM mx
       |  UNION ALL SELECT CAST(7 AS BIGINT), m + 2, true, CAST(0 AS DOUBLE) FROM mx
       |  UNION ALL SELECT CAST(99999 AS BIGINT), m + 3, false, CAST(123.25 AS DOUBLE) FROM mx),
       |allruns AS (SELECT * FROM kv UNION ALL
       |            SELECT key, seq, tombstone, v FROM batch)
       |SELECT * FROM ${mergeSql("allruns", "key IN (7, 42, 99999)")}
       |ORDER BY key""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = kv(s, dir)
    val m = t.runs.agg(max("seq")).head().getLong(0)
    // upsert existing key, delete existing key, insert brand-new key
    val batch = Seq(
      (42L, m + 1, false, 999.5),
      (7L, m + 2, true, 0.0),
      (99999L, m + 3, false, 123.25)
    ).toDF("key", "seq", "tombstone", "v")
    val withB = t.withBatch(batch)
    withB.copy(runs = withB.runs.filter(col("key").isin(7L, 42L, 99999L)))
      .merged().orderBy("key")
  }

  /** Leveled compaction preserves read semantics: fold the old 60% of
    * the log into one run, keep young runs, read back — the oracle is
    * the plain full merge over the ORIGINAL log, so the hash check
    * proves the partial fold changed nothing. */
  val kvLeveledCompact: Op = Op.sql("kv_leveled_compact",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv")} ORDER BY key""".stripMargin) { (s, dir) =>
    val t = kv(s, dir)
    val cut = cutSeq(t)
    t.compactedUpTo(cut).compacted()
  }

  /** LSM level observability (round 8): the report an operator reads
    * when tuning compaction — per level, row/key counts and the seq
    * range, over the SAME fold as `kv_leveled_compact` (old 60% of
    * the log merged latest-wins into L1, young raw runs at L0). L1's
    * row-vs-key delta is the fold's selectivity (how much dead data
    * the compaction reclaimed) and the seq ranges prove level
    * disjointness — the invariant leveling exists to maintain. One
    * hash-aggregate over the compacted run set; the oracle replays
    * the cut + latest-wins fold in SQL, so a fold that leaked an
    * overwritten version or a tombstone would change L1's counts and
    * hash-mismatch. */
  val kvLevelsReport: Op = Op.sql("kv_levels_report",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS cut FROM kv),
       |l1 AS (SELECT key, seq FROM (
       |  SELECT key, seq, tombstone,
       |         row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv, mx WHERE seq <= cut) WHERE rn = 1 AND NOT tombstone),
       |l0 AS (SELECT key, seq FROM kv, mx WHERE seq > cut)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS level, count(*) AS n_rows,
       |         count(DISTINCT key) AS n_keys,
       |         min(seq) AS min_seq, max(seq) AS max_seq FROM l0
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), count(*), count(DISTINCT key),
       |         min(seq), max(seq) FROM l1)
       |ORDER BY level""".stripMargin) { (s, dir) =>
    val t = kv(s, dir)
    val cut = cutSeq(t)
    val runs = t.compactedUpTo(cut).runs
    // one aggregate row PER LEVEL even when a level is empty — the
    // oracle's UNION ALL of ungrouped aggregates always emits both
    // rows, and a groupBy would drop an empty level and hash-mismatch
    def level(df: org.apache.spark.sql.DataFrame, l: Long) =
      df.agg(count(lit(1)).as("n_rows"), countDistinct(col("key")).as("n_keys"),
          min("seq").as("min_seq"), max("seq").as("max_seq"))
        .select(lit(l).as("level"), col("n_rows"), col("n_keys"),
          col("min_seq"), col("max_seq"))
    level(runs.filter(col("seq") > cut), 0L)
      .unionAll(level(runs.filter(col("seq") <= cut), 1L))
      .orderBy("level")
  }

  /** Batched point lookups — the MultiGet API face (reference:
    * `db_impl`'s read path; RocksDB's MultiGet). The whole key batch
    * travels as ONE `IN`-list predicate applied before the merge, so
    * it reaches the parquet scan as a single pushed filter (min/max
    * + bloom pruning) and the latest-wins merge runs once over the
    * pruned survivors — k point reads for the price of one scan
    * setup. Key 7 is point-deleted territory at some SFs and 99999
    * never exists: both "absent" shapes (tombstoned vs never
    * written) must yield no row, which the oracle's shared merge
    * form checks. PlanAuditSpec pins the pushed In filter. */
  val kvMultiGet: Op = Op.sql("kv_multi_get",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv", "key IN (2, 7, 11, 99999)")}
       |ORDER BY key""".stripMargin) { (s, dir) =>
    kv(s, dir).multiGet(Seq(2L, 7L, 11L, 99999L))
  }

  /** Range tombstones — RocksDB `DeleteRange` semantics layered on
    * the reference's point-tombstone LSM (deleting an interval by
    * enumerating its members costs a write-time scan; the range
    * tombstone is O(1) to write and resolves at read). Three
    * tombstones at fixed fractions of the max seq: `[2,6) @ 0.7·m`,
    * `[10,13) @ 0.4·m`, and `[5,7) @ 0.9·m` overlapping the first —
    * a key in [5,6) must fall to the NEWEST covering tombstone, and
    * keys whose latest put outruns every covering tombstone come
    * back (the reappear-after-delete case leveled compaction must
    * preserve). The tombstone list is index metadata (RocksDB holds
    * it in memory per SSTable), so the coverage check is a broadcast
    * anti join — never a data-sized shuffle; the oracle replays the
    * overlay as NOT EXISTS over the same VALUES list. */
  val kvRangeDelete: Op = Op.sql("kv_range_delete",
    s"""WITH $kvCte,
       |mx AS (SELECT max(seq) AS m FROM kv),
       |rt AS (SELECT lo, hi, CAST(floor(m * f) AS BIGINT) AS seq
       |       FROM (VALUES (2, 6, 0.7), (10, 13, 0.4), (5, 7, 0.9)) t(lo, hi, f), mx),
       |latest AS (SELECT key, seq, v, tombstone FROM (
       |  SELECT key, seq, v, tombstone,
       |         row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv) WHERE rn = 1)
       |SELECT key, seq, v FROM latest l
       |WHERE NOT tombstone AND NOT EXISTS (
       |  SELECT 1 FROM rt WHERE l.key >= rt.lo AND l.key < rt.hi
       |                      AND rt.seq > l.seq)
       |ORDER BY key""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = kv(s, dir)
    val m = t.runs.agg(max("seq")).head().getLong(0)
    val rts = Seq((2L, 6L, math.floor(m * 0.7).toLong),
      (10L, 13L, math.floor(m * 0.4).toLong),
      (5L, 7L, math.floor(m * 0.9).toLong)).toDF("lo", "hi", "seq")
    t.mergedWithRangeDeletes(rts).orderBy("key")
  }

  /** Column families sharing ONE sequence space (RocksDB CFs; the
    * reference's version_set has a single seq domain —
    * storage_engine/src/manager/version_set.rs — which is exactly
    * what makes cross-family snapshots consistent): the log's rows
    * split into two families by a deterministic rule (seq parity —
    * the stand-in for "which CF the write addressed"), each family
    * is its OWN latest-wins LSM, and both are read at a SINGLE seq
    * cut — one consistent point across families, the property RocksDB
    * gets from the shared WAL/sequence and a per-CF memtable. Plan:
    * one scan, the family tag is a per-row expression, and the merge
    * window partitions by (cf, key) — same single-shuffle shape as
    * the plain merge, the family just widens the partition key.
    * KVSpec proves the consistency semantics on a hand fixture where
    * an inconsistent (per-family) cut would read a different world. */
  val kvCf: Op = Op.sql("kv_cf",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS cut FROM kv),
       |fam AS (
       |  SELECT CASE WHEN seq % 2 = 0 THEN 'default' ELSE 'meta' END AS cf,
       |         key, seq, v, tombstone
       |  FROM kv, mx WHERE seq <= cut)
       |SELECT cf, key, seq, v FROM (
       |  SELECT cf, key, seq, v, tombstone,
       |         row_number() OVER (PARTITION BY cf, key ORDER BY seq DESC) AS rn
       |  FROM fam) WHERE rn = 1 AND NOT tombstone
       |ORDER BY cf, key""".stripMargin) { (s, dir) =>
    val t = kv(s, dir)
    val cut = cutSeq(t)
    // each family is its own KVTable sharing the seq space — the
    // merge stays the established max_by HASH aggregation (never the
    // window-sort form; SURVEY §4.1), and both families snapshot at
    // the SAME cut
    def fam(name: String, parity: Int) =
      t.copy(runs = t.runs.filter(col("seq") % 2 === parity))
        .snapshot(cut)
        .select(lit(name).as("cf"), col("key"), col("seq"), col("v"))
    fam("default", 0).unionAll(fam("meta", 1)).orderBy("cf", "key")
  }

  /** The three seq-range ingest batches of the derived log — one
    * derivation shared by the ingest build and the backup op's
    * staged timeline. */
  private def seqBatches(t: KVTable): Seq[org.apache.spark.sql.DataFrame] = {
    val m = t.runs.agg(max("seq")).head().getLong(0)
    val (c1, c2) = (m / 3, 2 * m / 3)
    Seq(t.runs.filter(col("seq") <= c1),
      t.runs.filter(col("seq") > c1 && col("seq") <= c2),
      t.runs.filter(col("seq") > c2))
  }

  /** Format of the KV artefacts' generations ([[State.artifact]]):
    * bump it whenever a build changes what their files mean. */
  private val ArtifactFormat = "1"

  private def runLog(path: String): KVLog = KVLog(path, "key", "seq", "tombstone")

  /** The ingest log of a dataset's current `events` snapshot, at
    * `<generation>/log`, and with `checkpointed` its checkpoint at
    * `<generation>/ckpt` — shared by kv_log_ingest (which reads the log
    * back) and kv_checkpoint_restore (which checkpoints it). Returns the
    * generation. */
  private def ingestLog(s: SparkSession, dir: String, checkpointed: Boolean): String =
    State.artifact("kvlog", dir, "events", ArtifactFormat) { gen =>
      val log = runLog(s"$gen/log")
      // completeness = the run COUNT, not non-emptiness: each append
      // commits durably on its own, so a build killed between appends
      // leaves 1-2 committed runs — treating that as "built" would
      // serve a seq-prefix of the log forever. Anything short of all
      // three is wiped and rebuilt (crashed-build-retried, the same
      // policy as the _SUCCESS-gated ANN indexes).
      if (log.committedRuns.size != 3) {
        log.reset()
        seqBatches(kv(s, dir)).foreach(log.append)
      }
      if (checkpointed) {
        // rebuild the checkpoint only when missing or short: the
        // manifest gate makes a half-built one invisible
        val ok = try {
          KVLog.openCheckpoint(s"$gen/ckpt", "key", "seq", "tombstone")
            .committedRuns.size == log.committedRuns.size
        } catch { case _: IllegalArgumentException => false }
        if (!ok) log.checkpointTo(s"$gen/ckpt")
      }
    }

  /** Durable batched ingest through [[graft.kv.KVLog]] (the
    * reference's WAL write path, wal_record_writer.rs): the log is
    * split into three seq-range batches, each appended as a
    * crash-safe bloom-filtered run (temp dir + atomic rename), and
    * the read-back merge must equal the full-log merge — which is
    * exactly the DuckDB oracle. Built once per snapshot like the
    * ANN indexes; re-runs read the committed runs. */
  val kvLogIngest: Op = Op.sql("kv_log_ingest",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv")} ORDER BY key""".stripMargin) { (s, dir) =>
    runLog(s"${ingestLog(s, dir, checkpointed = false)}/log").merged(s).orderBy("key")
  }

  /** Checkpoint/restore of the live log (the reference's
    * backup-the-SSTable-set story — an LSM's durable state IS its
    * immutable run files, so a physical copy of the committed runs
    * plus an atomically-published manifest is a complete, portable
    * backup; see [[graft.kv.KVLog.checkpointTo]]). The op checkpoints
    * the ingest log and reads the RESTORED side — the oracle is the
    * full-log merge, so a checkpoint that dropped a run, copied a
    * torn temp dir, or reordered seqs hash-mismatches. KVLogSpec
    * proves the stronger physical properties: the checkpoint serves
    * reads after the source log is deleted outright, and a torn
    * checkpoint (no manifest) refuses to open. */
  val kvCheckpointRestore: Op = Op.sql("kv_checkpoint_restore",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv")} ORDER BY key""".stripMargin) { (s, dir) =>
    val gen = ingestLog(s, dir, checkpointed = true)
    KVLog.openCheckpoint(s"$gen/ckpt", "key", "seq", "tombstone")
      .merged(s).orderBy("key")
  }

  /** Incremental backup over the checkpoint chain (round 9;
    * RocksDB's incremental backup — immutable runs make "backup" =
    * "copy only the files the previous backup lacks"): the staged
    * timeline takes a FULL checkpoint after two ingest batches, a
    * third batch arrives, and the incremental backup copies ONLY its
    * run while its manifest references the base; restore resolves
    * the chain and must equal the full-log merge (the oracle).
    * KVLogSpec proves the increment holds exactly one run, survives
    * source deletion, and refuses loudly when the base link is gone
    * (a chain with a missing link must never serve a seq-prefix).
    * Cost is O(new-run bytes) — the property that makes daily
    * backups of a 100 TB store copy the day, not the store. */
  val kvBackupIncremental: Op = Op.sql("kv_backup_incremental",
    s"""WITH $kvCte
       |SELECT * FROM ${mergeSql("kv")} ORDER BY key""".stripMargin) { (s, dir) =>
    val (_, incPath) = backupChain(s, dir)
    KVLog.openChain(s, incPath, "key", "seq", "tombstone")
      .merged().orderBy("key")
  }

  /** The staged full+incremental backup pair of a dataset's current
    * `events` snapshot, one generation holding `src/`, `full/` and
    * `inc/`: a fresh 2-run log → full checkpoint → third batch
    * appended → incremental checkpoint. Public so KVLogSpec can
    * inspect the physical chain. */
  def backupChain(s: SparkSession, dir: String): (String, String) = {
    val gen = State.artifact("kvbk", dir, "events", ArtifactFormat) { gen =>
      val ok = try KVLog.chainRuns(s"$gen/inc").size == 3
               catch { case _: Exception => false }
      if (!ok) {
        val staged = runLog(s"$gen/src")
        staged.reset()
        LocalDir.deleteRecursively(new java.io.File(s"$gen/full"))
        LocalDir.deleteRecursively(new java.io.File(s"$gen/inc"))
        val batches = seqBatches(kv(s, dir))
        staged.append(batches(0))
        staged.append(batches(1))
        staged.checkpointTo(s"$gen/full") // T0: full backup
        staged.append(batches(2)) // T1: new data arrives
        staged.incrementalCheckpointTo(s"$gen/inc", s"$gen/full")
      }
    }
    (s"$gen/full", s"$gen/inc")
  }

  /** Secondary index on the VALUE column (RocksDB-style derived
    * index; the reference's primary iterators are key-ordered only —
    * a value-predicate read is a full scan without this): the merged
    * state is materialized range-partitioned AND sorted by `v`, so a
    * value-range query becomes parquet min/max row-group pruning over
    * a few files instead of a full-corpus decode — the LSM
    * merge-on-write secondary index expressed as a sorted
    * materialization. The op queries the INDEX side; the oracle
    * applies the same predicate to the primary merge, so a stale or
    * incomplete index (dead versions surfaced, rows dropped)
    * hash-mismatches. KVSpec plan-audits that the value predicate is
    * pushed to the index scan.
    *
    * Scale (100 TB): the build is one range shuffle (the same shape
    * as any sorted write, AQE-sized); the query reads
    * O(selectivity) of the index bytes — and the index rows carry
    * (key, seq, v) scalars only, so index bytes ≪ table bytes when
    * the primary rows are wide. Maintenance composes with the run
    * model: re-index per compaction, exactly like bloom filters. */
  val kvSecondaryIndex: Op = Op.sql("kv_secondary_index",
    s"""WITH $kvCte
       |SELECT key, seq, v FROM ${mergeSql("kv")}
       |WHERE v BETWEEN 20.0 AND 100.0 ORDER BY key""".stripMargin) { (s, dir) =>
    s.read.parquet(valueIndexPath(s, dir))
      .filter(col("v").between(20.0, 100.0))
      .select("key", "seq", "v")
      .orderBy("key")
  }

  /** The value-sorted index materialization of a dataset's current
    * `events` snapshot, built behind a `_SUCCESS` gate. Public: KVSpec
    * audits the pushed predicate on this exact path. */
  def valueIndexPath(s: SparkSession, dir: String): String =
    State.artifact("kvidx", dir, "events", ArtifactFormat) { path =>
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        kv(s, dir).merged()
          .repartitionByRange(8, col("v"))
          .sortWithinPartitions("v")
          .write.mode("overwrite").parquet(path)
    }

  /** SCD type-2 dimension build — the warehouse face of the KV
    * version history (reference: version_set keeps every seq'd value;
    * SCD2 is that history made queryable). Each non-tombstone version
    * becomes a row with [valid_from, valid_to] seq bounds from
    * lead(seq) over the per-key version chain; a delete closes the
    * last version and contributes no row itself. ONE shuffle on the
    * key (the window partition), nothing driver-side — at 100 TB this
    * is the same plan as any per-key window. */
  val kvScd2: Op = Op.sql("kv_scd2",
    s"""WITH $kvCte,
       |v AS (SELECT key, seq, tombstone, v,
       |        lead(seq) OVER (PARTITION BY key ORDER BY seq) AS next_seq
       |      FROM kv)
       |SELECT key, seq AS valid_from, next_seq - 1 AS valid_to,
       |  next_seq IS NULL AS is_current, v
       |FROM v WHERE NOT tombstone
       |ORDER BY key, valid_from""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("seq")
    kv(s, dir).runs
      .withColumn("next_seq", lead(col("seq"), 1).over(w))
      .filter(!col("tombstone"))
      .select(col("key"), col("seq").as("valid_from"),
        (col("next_seq") - 1).as("valid_to"),
        col("next_seq").isNull.as("is_current"), col("v"))
      .orderBy("key", "valid_from")
  }

  /** TTL-expiry read (RocksDB-style TTL semantics on the LSM log): a
    * key whose LATEST version is older than the expiry horizon is
    * absent — no fallback to older versions, exactly like a tombstone
    * the clock wrote.
    * The horizon derives from the log (99% of max seq — tight enough
    * that roughly half the keys' LATEST versions predate it at every
    * test SF, so expiry genuinely bites). Plan = the normal merge
    * plus one post-merge filter; at scale the horizon predicate
    * additionally prunes whole runs via min/max stats before the
    * merge shuffle. */
  val kvTtl: Op = Op.sql("kv_ttl",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.99) AS BIGINT) AS horizon FROM kv)
       |SELECT key, seq, v FROM (
       |  SELECT key, seq, v, tombstone,
       |         row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv) l, mx
       |WHERE rn = 1 AND NOT tombstone AND seq > horizon
       |ORDER BY key""".stripMargin) { (s, dir) =>
    val t = kv(s, dir)
    val horizon = t.runs.agg(floor(max("seq") * 0.99).cast("bigint")).head().getLong(0)
    t.merged().filter(col("seq") > horizon).orderBy("key")
  }

  /** RocksDB-style MERGE OPERATOR read (the LSM write-optimization
    * the plain latest-wins model lacks): counter increments are
    * appended as `add` operands instead of read-modify-write, and the
    * READ folds them — full-merge = latest base (`put`, or zero after
    * a `del`/empty history) combined with every later operand.
    * Derived deterministically from events: 'purchase' = put(base),
    * 'error' = del, everything else = add(delta); values are
    * integerized to cents via `floor(v*100 + 0.5)` — pure IEEE double
    * arithmetic, bit-identical on BOTH engines for every double (a
    * DECIMAL(12,2) cast here would round Spark's shortest-decimal
    * rendering HALF_UP but DuckDB's full binary value to nearest, so
    * a tie value like 2.675 would diverge; ADVICE r7) — and the
    * operand fold is an exact order-free BIGINT sum, surfaced as
    * cents/100 at the boundary. Two key-keyed hash-aggs
    * joined on the key — base discovery and operand fold — shuffle
    * O(log), never a per-key sort; at 100 TB this is the same
    * two-pass shape compaction itself uses, and partial aggregation
    * folds operands map-side exactly like RocksDB's partial merge. */
  val kvMergeOperator: Op = Op.sql("kv_merge_operator",
    """WITH ops AS (
      |  SELECT user_id AS key, event_id AS seq,
      |    CASE WHEN event_type = 'error' THEN 'del'
      |         WHEN event_type = 'purchase' THEN 'put'
      |         ELSE 'add' END AS op,
      |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |base AS (
      |  SELECT key,
      |    max(CASE WHEN op <> 'add' THEN seq END) AS bseq,
      |    max_by(op, CASE WHEN op <> 'add' THEN seq END) AS bop,
      |    max_by(v, CASE WHEN op <> 'add' THEN seq END) AS bv
      |  FROM ops GROUP BY key),
      |folded AS (
      |  SELECT o.key,
      |    coalesce(CAST(sum(CASE WHEN o.op = 'add'
      |      AND o.seq > coalesce(b.bseq, -1) THEN o.v END) AS BIGINT), 0) AS delta,
      |    count(CASE WHEN o.op = 'add'
      |      AND o.seq > coalesce(b.bseq, -1) THEN 1 END) AS n_operands
      |  FROM ops o JOIN base b USING (key) GROUP BY o.key)
      |SELECT f.key,
      |  CAST(CASE WHEN b.bop = 'put' THEN b.bv + f.delta
      |       ELSE f.delta END AS DOUBLE) / 100 AS merged_value,
      |  CAST(f.n_operands AS BIGINT) AS n_operands,
      |  coalesce(b.bop, 'none') AS base_kind
      |FROM folded f JOIN base b USING (key)
      |WHERE b.bop = 'put' OR f.n_operands > 0
      |ORDER BY key""".stripMargin) { (s, dir) =>
    val ops = Tables.load(s, dir, "events").select(
      col("user_id").as("key"), col("event_id").as("seq"),
      when(col("event_type") === "error", "del")
        .when(col("event_type") === "purchase", "put")
        .otherwise("add").as("op"),
      floor(col("value") * 100 + 0.5).cast("long").as("v"))
    val base = ops.groupBy("key").agg(
      max(when(col("op") =!= "add", col("seq"))).as("bseq"),
      max_by(col("op"), when(col("op") =!= "add", col("seq"))).as("bop"),
      max_by(col("v"), when(col("op") =!= "add", col("seq"))).as("bv"))
    val folded = ops.join(base, Seq("key"))
      .groupBy("key").agg(
        coalesce(sum(when(col("op") === "add" &&
          col("seq") > coalesce(col("bseq"), lit(-1L)), col("v"))),
          lit(0L)).as("delta"),
        count(when(col("op") === "add" &&
          col("seq") > coalesce(col("bseq"), lit(-1L)), 1)).as("n_operands"))
    folded.join(base, Seq("key"))
      .filter(col("bop") === "put" || col("n_operands") > 0)
      .select(col("key"),
        (when(col("bop") === "put", col("bv") + col("delta"))
          .otherwise(col("delta")).cast("double") / 100).as("merged_value"),
        col("n_operands").cast("bigint").as("n_operands"),
        coalesce(col("bop"), lit("none")).as("base_kind"))
      .orderBy("key")
  }

  /** KEYSET PAGINATION over the merged state (round 10; the
    * reference's iterator `seek(key)` + bounded `next()` loop —
    * `storage_engine/src/iterator/db_iter.rs` — as the API every
    * paged reader runs: page N+1 = "keys AFTER the last key I saw,
    * limit P"): three successive pages of 10, each a fresh query
    * whose `key > cursor` predicate PUSHES to the scan (min/max +
    * bloom pruning — the reason keyset pagination scales where
    * OFFSET pagination pays a growing TakeOrdered: the cursor
    * predicate skips everything already served) followed by the
    * latest-wins merge and an ordered LIMIT. The cursor round trips
    * are inherent to the API (each page result IS the next cursor);
    * the 30 returned rows are client-visible output, not driver
    * state. A short table ends early (page 2 may be partial, page 3
    * empty — the sf0.001 regime). The oracle replays the pages as
    * row_number buckets over the merged state, so a page that
    * skipped, duplicated or re-served a key hash-mismatches. */
  val kvSeekScan: Op = Op.sql("kv_seek_scan",
    s"""WITH $kvCte,
       |m AS (SELECT key, seq, v FROM (
       |   SELECT key, seq, v, tombstone,
       |          row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |   FROM kv) WHERE rn = 1 AND NOT tombstone),
       |r AS (SELECT key, seq, v, row_number() OVER (ORDER BY key) AS rnk FROM m)
       |SELECT CAST((rnk - 1) // 10 + 1 AS BIGINT) AS page, key, seq, v
       |FROM r WHERE rnk <= 30 ORDER BY key""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t0 = kv(s, dir)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    var cursor = Long.MinValue
    var page = 1
    var done = false
    while (page <= 3 && !done) {
      val rows = t0.copy(runs = t0.runs.filter(col("key") > cursor)).merged()
        .orderBy("key").limit(10)
        .select(col("key"), col("seq"), col("v"))
        .collect()
      if (rows.isEmpty) done = true
      else {
        out ++= rows.map(r => (page.toLong, r.getLong(0), r.getLong(1), r.getDouble(2)))
        cursor = rows.map(_.getLong(0)).max
        page += 1
      }
    }
    out.toSeq.toDF("page", "key", "seq", "v").orderBy("key")
  }

  /** PER-BATCH CDC FEED from the KV log (round 10; the LSM face of
    * q68's warehouse snapshot-diff, and what RocksDB users build from
    * sequence-ranged iterators — the reference's version_set pins the
    * same seq cuts: "what did ingest batch N change, NET of
    * intra-batch churn?"): for each of the ingest timeline's batch
    * boundaries (the seqBatches thirds), the full-outer diff of the
    * MVCC snapshots on either side — insert (key absent before),
    * delete (winner became a tombstone), update (value changed);
    * unchanged keys drop, so output size is CHANGE volume. Every
    * snapshot is the standard keyed hash-agg merge and each diff is
    * one key-keyed full-outer join over two |keys|-proportional
    * aggregates — pinned shuffle-hash, the retention/backfill
    * aggregate-join class. The oracle replays both diffs from the
    * same seq cuts, so a feed that leaked intra-batch churn, missed a
    * tombstone transition, or re-emitted an unchanged key
    * hash-mismatches. */
  val kvCdcBatches: Op = Op.sql("kv_cdc_batches",
    s"""WITH $kvCte,
       |mx AS (SELECT max(seq) AS m FROM kv),
       |s1 AS (SELECT key, v FROM (
       |  SELECT key, v, tombstone, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv, mx WHERE seq <= m // 3) WHERE rn = 1 AND NOT tombstone),
       |s2 AS (SELECT key, v FROM (
       |  SELECT key, v, tombstone, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv, mx WHERE seq <= 2 * m // 3) WHERE rn = 1 AND NOT tombstone),
       |s3 AS (SELECT key, v FROM (
       |  SELECT key, v, tombstone, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv) WHERE rn = 1 AND NOT tombstone),
       |d2 AS (SELECT 2 AS batch, coalesce(b.key, a.key) AS key,
       |         CASE WHEN b.key IS NULL THEN 'insert'
       |              WHEN a.key IS NULL THEN 'delete' ELSE 'update' END AS op,
       |         b.v AS before_v, a.v AS after_v
       |       FROM s1 b FULL JOIN s2 a ON b.key = a.key
       |       WHERE b.key IS NULL OR a.key IS NULL OR b.v <> a.v),
       |d3 AS (SELECT 3 AS batch, coalesce(b.key, a.key) AS key,
       |         CASE WHEN b.key IS NULL THEN 'insert'
       |              WHEN a.key IS NULL THEN 'delete' ELSE 'update' END AS op,
       |         b.v AS before_v, a.v AS after_v
       |       FROM s2 b FULL JOIN s3 a ON b.key = a.key
       |       WHERE b.key IS NULL OR a.key IS NULL OR b.v <> a.v)
       |SELECT CAST(batch AS BIGINT) AS batch, key, op, before_v, after_v
       |FROM (SELECT * FROM d2 UNION ALL SELECT * FROM d3)
       |ORDER BY batch, key""".stripMargin) { (s, dir) =>
    val t0 = kv(s, dir)
    val m = t0.runs.agg(max("seq")).head().getLong(0)
    def snap(cut: Long) = t0.snapshot(cut).select("key", "v")
    def diff(batch: Int, before: org.apache.spark.sql.DataFrame,
             after: org.apache.spark.sql.DataFrame) =
      before.select(col("key").as("bk"), col("v").as("bv"))
        .join(after.select(col("key").as("ak"), col("v").as("av"))
          .hint("shuffle_hash"), col("bk") === col("ak"), "full_outer")
        .filter(col("bk").isNull || col("ak").isNull || col("bv") =!= col("av"))
        .select(lit(batch.toLong).as("batch"),
          coalesce(col("bk"), col("ak")).as("key"),
          when(col("bk").isNull, "insert")
            .when(col("ak").isNull, "delete").otherwise("update").as("op"),
          col("bv").as("before_v"), col("av").as("after_v"))
    diff(2, snap(m / 3), snap(2 * m / 3))
      .unionAll(diff(3, snap(2 * m / 3), snap(m)))
      .orderBy("batch", "key")
  }

  /** Records per WAL segment — a segment is one seq range's framed
    * blob, so recovery parallelizes per segment. */
  val WalSegmentRecords = 500L

  /** WAL REPLAY through the real record-framed byte format (round 10;
    * the reference's `wal/wal_record_format.rs` + `wal_record_reader.rs`
    * — the one storage-engine face the commit-by-rename [[graft.kv.KVLog]]
    * deliberately does NOT need, driven here because external WAL
    * shipping / CDC tails / cross-engine recovery expose the format
    * itself): the KV write stream is serialized into per-seq-range
    * segment blobs of `crc32|len|type|payload` records
    * ([[graft.kv.Wal]] — CRC over type+payload, the LevelDB rule), the
    * LIVE segment gets a torn tail (its final record truncated
    * mid-payload, the crash a WAL exists to survive), and replay
    * parses every segment front-to-back, discarding from the first
    * damaged record — then the recovered stream merges latest-wins.
    * The torn record is by construction the globally max-seq write, so
    * the oracle is the closed-form merge over `seq < max(seq)`; a
    * replayer that dropped a whole segment, resurrected the torn
    * record, or mis-framed a boundary hash-mismatches. KVPropertySpec
    * pins the byte-level contract: truncation at EVERY offset yields
    * exactly the preceding whole records, and a flipped byte anywhere
    * in record i ends replay before i.
    *
    * Scale: segment build is ONE seq-keyed shuffle (bounded groups of
    * [[WalSegmentRecords]]); encode/replay are in-partition byte work
    * (the mm-codec shape); recovery of a 100 TB log is embarrassingly
    * parallel per segment, then the standard key-keyed merge. */
  val kvWalReplay: Op = Op.sql("kv_wal_replay",
    s"""WITH $kvCte,
       |mx AS (SELECT max(seq) AS m FROM kv),
       |survivors AS (SELECT kv.* FROM kv, mx WHERE seq < m)
       |SELECT * FROM ${mergeSql("survivors")} ORDER BY key""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = kv(s, dir)
    // MEASURED NEGATIVE (r12, VERDICT task 6): resolving the live
    // segment in-plan — crossJoin(broadcast(agg(max seq / segment)))
    // with a codegen'd substring tear — read 0.60-0.68 s vs this
    // shape's 0.33-0.39 s at equal load: the broadcast build gates
    // the post-shuffle segment stage behind a full second runs-scan
    // (BroadcastNestedLoopJoin cannot start until the build lands),
    // while the sequential head() below finishes the same scan+agg
    // before the main job and lets the segment shuffle pipeline
    // freely. The driver action stays.
    val maxSeq = t.runs.agg(max("seq")).head().getLong(0)
    val liveSegment = maxSeq / WalSegmentRecords
    val segments = t.runs.as[(Long, Long, Boolean, Double)]
      .groupByKey(_._2 / WalSegmentRecords)
      .mapGroups { (seg, it) =>
        val recs = it.map { case (k, q, tb, v) => Wal.Record(k, q, tb, v) }
          .toArray.sortBy(_.seq)
        val blob = Wal.encode(recs.toIndexedSeq)
        // the live segment's last record is torn mid-payload: the
        // crash happened DURING that write
        (seg, if (seg == liveSegment) blob.dropRight(5) else blob)
      }
    val replayed = segments
      .flatMap { case (_, blob) => Wal.decode(blob).records }
      .toDF()
    // same size-gated tail as KVTable.compacted (r11): the
    // latest-wins hash exchange keeps the merge parallel; small
    // planned estimate skips the range exchange + sampling job
    Bounded.orderedIfSmall(
      KVTable(replayed, "key", "seq", "tombstone").merged(),
      KVTable.BoundedReadBytes, col("key"))
  }

  /** Compaction-pick core over a seq column — factored so the spec
    * can plant a file-fragmented L0 that must win the pick. Replays
    * the reference's LevelDB-style scorer exactly
    * (storage_engine/src/manager/version.rs:283 `finalize`): L0
    * scores by FILE COUNT over threshold 4 (reads merge every L0
    * file, so fragmentation — not volume — is L0's cost), deeper
    * levels by BYTES over a 10×-per-level budget (4096·10^(n−1),
    * 32 bytes/record), pick = lowest level attaining the max score
    * (the reference's strict `>` keeps the first best). Levels derive
    * from seq bands (0.9/0.6/0.3 cuts — newest on top like the LSM),
    * L0 files = distinct 1000-seq flush buckets. Every score is one
    * IEEE division from exact integers. */
  private[graft] def compactionPick(seqs: DataFrame): DataFrame = {
    val m = seqs.agg(max("seq")).head().getLong(0)
    def cut(f: Double) = math.floor(m * f).toLong
    val bands = seqs.select(
      when(col("seq") > cut(0.9), 0L)
        .when(col("seq") > cut(0.6), 1L)
        .when(col("seq") > cut(0.3), 2L)
        .otherwise(3L).as("level"), col("seq"))
    val lv = bands.groupBy("level")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(expr("seq DIV 1000")).as("n_files"))
    val sc = lv.select(col("level"), col("n_rows"),
      when(col("level") === 0, col("n_files"))
        .otherwise(col("n_rows") * 32).cast("long").as("size"),
      when(col("level") === 0, 4L)
        .when(col("level") === 1, 4096L)
        .when(col("level") === 2, 40960L)
        .otherwise(409600L).as("budget"))
      .withColumn("score", col("size").cast("double") / col("budget"))
    val pick = sc.agg(max("score").as("ms"))
      .join(sc, col("score") === col("ms"))
      .agg(min("level").as("pl"))
    sc.crossJoin(broadcast(pick))
      .select(col("level"), col("n_rows"), col("size"), col("budget"),
        col("score"), (col("level") === col("pl")).as("picked"))
      .orderBy("level")
  }

  /** COMPACTION PICKING — the LSM scheduling decision (round 12; the
    * read-side face of kv_leveled_compact: WHICH level compacts
    * next). See [[compactionPick]] for the replayed scorer; the
    * whole computation after the scan is a 4-row frame. */
  val kvCompactionPick: Op = Op.sql("kv_compaction_pick",
    s"""WITH $kvCte,
       |mx AS (SELECT max(seq) AS m FROM kv),
       |bands AS (
       |  SELECT CASE WHEN seq > CAST(floor(m * 0.9) AS BIGINT) THEN 0
       |              WHEN seq > CAST(floor(m * 0.6) AS BIGINT) THEN 1
       |              WHEN seq > CAST(floor(m * 0.3) AS BIGINT) THEN 2
       |              ELSE 3 END AS level, seq
       |  FROM kv, mx),
       |lv AS (
       |  SELECT level, count(*) AS n_rows,
       |         count(DISTINCT seq // 1000) AS n_files
       |  FROM bands GROUP BY level),
       |sc AS (
       |  SELECT level, n_rows,
       |    CAST(CASE WHEN level = 0 THEN n_files ELSE n_rows * 32 END
       |         AS BIGINT) AS size,
       |    CAST(CASE WHEN level = 0 THEN 4
       |              WHEN level = 1 THEN 4096
       |              WHEN level = 2 THEN 40960
       |              ELSE 409600 END AS BIGINT) AS budget
       |  FROM lv),
       |s2 AS (SELECT *, CAST(size AS DOUBLE) / budget AS score FROM sc),
       |pick AS (SELECT min(level) AS pl FROM s2
       |         WHERE score = (SELECT max(score) FROM s2))
       |SELECT CAST(level AS BIGINT) AS level, n_rows, size, budget, score,
       |  level = (SELECT pl FROM pick) AS picked
       |FROM s2 ORDER BY level""".stripMargin) { (s, dir) =>
    compactionPick(kv(s, dir).runs.select(col("seq")))
  }

  /** READ AMPLIFICATION per point lookup (round 12 — the LSM metric
    * kv_compaction_pick optimizes AGAINST: every un-compacted L0
    * flush is one more file a get must consult, newest first, until
    * the key's newest version answers; the reference walks exactly
    * this search (storage_engine/src/manager/version.rs `get` —
    * level by level, L0 newest-first). Levels derive as in
    * kv_levels_report (cut at 0.6·max seq; L0 = 1000-seq flush
    * buckets above it, L1 = the folded run below): per probe key,
    * the L0 files whose [min,max] key range admits the key
    * (zonemap-style containment — bloom pruning is kv's bloom ops'
    * own face), how many are actually READ (newest down to the
    * bucket holding the key's newest L0 version; all of them +1 for
    * the L1 run on an L0 miss), and where the search ends — 'L0' /
    * 'L1' / 'deleted' (a tombstone answers and STOPS the search,
    * RocksDB's NotFound-with-no-further-reads) / 'miss'. Every
    * aggregate is file-metadata-sized; the only corpus scan is the
    * banding pass. */
  val kvReadAmp: Op = Op.sql("kv_read_amp",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS cut FROM kv),
       |l0 AS (SELECT key, seq, tombstone, seq // 1000 AS b
       |       FROM kv, mx WHERE seq > cut),
       |bk AS (SELECT b, min(key) AS mn, max(key) AS mk FROM l0 GROUP BY b),
       |probes AS (SELECT unnest([3, 5, 7, 9, 11]) AS k),
       |hit AS (SELECT probes.k, max(b) AS bstar,
       |          max_by(tombstone, seq) AS tomb
       |        FROM l0 JOIN probes ON l0.key = probes.k GROUP BY probes.k),
       |l1 AS (SELECT kv.key, max_by(tombstone, seq) AS tomb
       |       FROM kv, mx WHERE seq <= cut GROUP BY kv.key),
       |cand AS (
       |  SELECT probes.k, count(bk.b) AS nf,
       |    count(CASE WHEN hit.bstar IS NOT NULL AND bk.b >= hit.bstar
       |          THEN 1 END) AS nread
       |  FROM probes
       |  LEFT JOIN hit ON hit.k = probes.k
       |  LEFT JOIN bk ON bk.mn <= probes.k AND probes.k <= bk.mk
       |  GROUP BY probes.k, hit.bstar)
       |SELECT CAST(c.k AS BIGINT) AS probe_key, c.nf AS l0_candidates,
       |  CAST(CASE WHEN h.k IS NOT NULL THEN c.nread ELSE c.nf + 1 END
       |       AS BIGINT) AS files_read,
       |  CASE WHEN h.k IS NOT NULL THEN
       |         CASE WHEN h.tomb THEN 'deleted' ELSE 'L0' END
       |       WHEN l1.key IS NOT NULL THEN
       |         CASE WHEN l1.tomb THEN 'deleted' ELSE 'L1' END
       |       ELSE 'miss' END AS found_in
       |FROM cand c
       |LEFT JOIN hit h ON h.k = c.k
       |LEFT JOIN l1 ON l1.key = c.k
       |ORDER BY probe_key""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t0 = kv(s, dir)
    val cut = cutSeq(t0)
    val l0 = t0.runs.filter(col("seq") > cut)
      .withColumn("b", expr("seq DIV 1000"))
    val bk = l0.groupBy("b").agg(min("key").as("mn"), max("key").as("mk"))
    val probes = Seq(3L, 5L, 7L, 9L, 11L).toDF("k")
    val hit = l0.join(probes, col("key") === col("k"))
      .groupBy("k").agg(max("b").as("bstar"),
        max_by(col("tombstone"), col("seq")).as("tomb0"))
    // probe-restricted BEFORE the aggregate: the per-key L1 state is
    // corpus-proportional, and the 5-key In filter pushes to the scan
    // — broadcasting the full per-key frame cannot exist at 100 TB
    val l1 = t0.runs
      .filter(col("seq") <= cut && col("key").isin(3L, 5L, 7L, 9L, 11L))
      .groupBy("key").agg(max_by(col("tombstone"), col("seq")).as("tomb1"))
    val cand = probes
      .join(broadcast(hit), Seq("k"), "left")
      .join(broadcast(bk), col("mn") <= col("k") && col("k") <= col("mk"), "left")
      .groupBy("k", "bstar", "tomb0")
      .agg(count(col("b")).as("nf"),
        count(when(col("bstar").isNotNull && col("b") >= col("bstar"), 1))
          .as("nread"))
    cand.join(broadcast(l1), col("key") === col("k"), "left")
      .select(col("k").as("probe_key"), col("nf").as("l0_candidates"),
        when(col("bstar").isNotNull, col("nread")).otherwise(col("nf") + 1)
          .cast("long").as("files_read"),
        when(col("bstar").isNotNull,
          when(col("tomb0"), "deleted").otherwise("L0"))
          .when(col("key").isNotNull,
            when(col("tomb1"), "deleted").otherwise("L1"))
          .otherwise("miss").as("found_in"))
      .orderBy("probe_key")
  }

  /** MVCC GARBAGE COLLECTION under a held snapshot (round 12 — the
    * version-retention rule the reference's snapshot manager imposes
    * on compaction (storage_engine/src/manager/snapshot.rs: a live
    * snapshot pins history): with snapshot S held (the
    * kv_snapshot_read cut, 0.6·max), a version is RECLAIMABLE iff a
    * newer version of its key also sits at or below S — it can never
    * be read again by S or anything newer; everything above S and
    * each key's newest ≤-S version (including tombstones — S must
    * still see the delete) stay pinned. Report: per level, total vs
    * reclaimable vs kept rows. KVSpec pins the safety property: the
    * reads at S and at head are IDENTICAL before and after dropping
    * exactly the reclaimable set. One window over the keyed prefix,
    * metadata-sized output. */
  val kvMvccGc: Op = Op.sql("kv_mvcc_gc",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS s FROM kv),
       |pre AS (
       |  SELECT key, seq,
       |    row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |  FROM kv, mx WHERE seq <= s),
       |r AS (
       |  SELECT CAST(0 AS BIGINT) AS level, count(*) AS n_rows,
       |    CAST(0 AS BIGINT) AS n_reclaimable, count(*) AS n_kept
       |  FROM kv, mx WHERE seq > s
       |  UNION ALL
       |  SELECT 1, count(*), count(CASE WHEN rn > 1 THEN 1 END),
       |    count(CASE WHEN rn = 1 THEN 1 END)
       |  FROM pre)
       |SELECT * FROM r ORDER BY level""".stripMargin) { (s, dir) =>
    val t0 = kv(s, dir)
    val snap = cutSeq(t0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("seq").desc)
    val pre = t0.runs.filter(col("seq") <= snap)
      .withColumn("rn", row_number().over(w))
    val l0 = t0.runs.filter(col("seq") > snap)
      .agg(count(lit(1)).as("n_rows"))
      .select(lit(0L).as("level"), col("n_rows"),
        lit(0L).as("n_reclaimable"), col("n_rows").as("n_kept"))
    val l1 = pre.agg(count(lit(1)).as("n_rows"),
        count(when(col("rn") > 1, 1)).as("n_reclaimable"),
        count(when(col("rn") === 1, 1)).as("n_kept"))
      .select(lit(1L).as("level"), col("n_rows"), col("n_reclaimable"),
        col("n_kept"))
    l0.unionAll(l1).orderBy("level")
  }

  /** The surviving run set after [[kvMvccGc]]'s reclamation — public
    * so KVSpec can prove the safety property (reads at the snapshot
    * and at head unchanged). */
  private[graft] def mvccGcSurvivors(t: KVTable, snap: Long): KVTable = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("seq").desc)
    val keptPre = t.runs.filter(col("seq") <= snap)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    t.copy(runs = t.runs.filter(col("seq") > snap).unionByName(keptPre))
  }

  /** THE AMPLIFICATION TRIAD (round 12 — the three numbers every LSM
    * tuning decision trades between, RUM-conjecture style: you can't
    * minimize all three): over the kv_levels_report layout (cut at
    * 0.6·max seq, L0 = 1000-seq flush buckets, L1 = the folded run) —
    * READ (worst case): L0 file count + 1, the files a point get may
    * consult (kv_read_amp measures per-key actuals); WRITE: rows
    * physically written / rows ingested = (N + |L1 fold output|)/N —
    * every row is flushed once and the prefix's survivors are written
    * again by the fold; SPACE: rows stored after leveling / live keys
    * in the full merge — dead versions and tombstones still on disk.
    * Exact integer numerators/denominators, one IEEE division each;
    * everything after the banding scan is metadata-sized. */
  val kvAmplification: Op = Op.sql("kv_amplification",
    s"""WITH $kvCte,
       |mx AS (SELECT CAST(floor(max(seq) * 0.6) AS BIGINT) AS cut,
       |              count(*) AS n FROM kv),
       |l0 AS (SELECT count(*) AS rows0,
       |              count(DISTINCT seq // 1000) AS files0
       |       FROM kv, mx WHERE seq > cut),
       |l1 AS (SELECT count(*) AS rows1 FROM (
       |  SELECT key FROM (
       |    SELECT key, tombstone,
       |           row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
       |    FROM kv, mx WHERE seq <= cut) WHERE rn = 1 AND NOT tombstone)),
       |live AS (SELECT count(*) AS nl FROM ${mergeSql("kv")})
       |SELECT * FROM (
       |  SELECT 'read_worst' AS metric, CAST(files0 + 1 AS BIGINT) AS num,
       |    CAST(1 AS BIGINT) AS den,
       |    CAST(files0 + 1 AS DOUBLE) AS amplification
       |  FROM l0
       |  UNION ALL
       |  SELECT 'space', CAST(rows0 + rows1 AS BIGINT), CAST(nl AS BIGINT),
       |    CAST(rows0 + rows1 AS DOUBLE) / nl
       |  FROM l0, l1, live
       |  UNION ALL
       |  SELECT 'write', CAST(n + rows1 AS BIGINT), CAST(n AS BIGINT),
       |    CAST(n + rows1 AS DOUBLE) / n
       |  FROM mx, l1)
       |ORDER BY metric""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t0 = kv(s, dir)
    val cut = cutSeq(t0)
    val n = t0.runs.count()
    val l0 = t0.runs.filter(col("seq") > cut)
    val rows0 = l0.count()
    val files0 = l0.select(expr("seq DIV 1000")).distinct().count()
    val rows1 = t0.snapshot(cut).count()
    val nl = t0.merged().count()
    Seq(
      ("read_worst", files0 + 1, 1L, (files0 + 1).toDouble),
      ("space", rows0 + rows1, nl, (rows0 + rows1).toDouble / nl),
      ("write", n + rows1, n, (n + rows1).toDouble / n)
    ).toDF("metric", "num", "den", "amplification").orderBy("metric")
  }

  /** OCC snapshot-validation verdicts for a batch of transactions.
    * `writes` carries one row per write intent: (txn BIGINT — the
    * COMMIT ORDER, u BIGINT, cf STRING — the column-family-qualified
    * key, kv_cf's convention). First-committer-wins over a shared
    * begin snapshot: txn i commits iff none of its distinct write
    * keys was written by a COMMITTED earlier txn; an ABORTED writer
    * leaves no trace (its keys never enter the committed set), so a
    * later txn over those keys still commits — the cascade-prevention
    * property KVSpec pins on a planted fixture.
    *
    * Scale: the validation chain is inherently sequential in commit
    * order (that IS the semantics), but each step is one keyed
    * left-semi count — write sets shuffle on the key, the committed
    * set grows only by committed keys, and the driver holds four
    * booleans, never a key set. */
  private[graft] def occValidate(s: SparkSession, writes: DataFrame,
      txnIds: Seq[Long]): DataFrame = {
    import s.implicits._
    val stats = writes.groupBy("txn")
      .agg(count(lit(1)).as("ne"), countDistinct(col("u"), col("cf")).as("nk"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    var committed: Option[DataFrame] = None
    val rows = txnIds.map { i =>
      val ki = writes.filter(col("txn") === i).select("u", "cf").distinct()
      val nc = committed match {
        case None => 0L
        case Some(c) =>
          ki.hint("shuffle_hash").join(c, Seq("u", "cf"), "left_semi").count()
      }
      if (nc == 0L)
        committed = Some(committed.map(_.unionByName(ki)).getOrElse(ki))
      val (ne, nk) = stats.getOrElse(i, (0L, 0L))
      (i, ne, nk, nc, nc == 0L)
    }
    rows.toDF("txn_id", "n_events", "n_keys", "n_conflicts", "committed")
  }

  /** OPTIMISTIC TRANSACTIONS over the MVCC seq space — the
    * write-conflict face of the reference's snapshot manager
    * (storage_engine/src/manager/snapshot.rs — sequence-number
    * snapshots) and its per-key command-interference rule
    * (runtime/src/consensus/epaxos/replica.rs:123 — two commands
    * interfere iff they touch the same key): four transactions begin
    * at a common snapshot (everything at or below seq m−200 is
    * committed base state), each owns a contiguous 50-seq band of the
    * concurrent tail as its write batch, keys are cf-qualified
    * (user, event_type) per kv_cf, and validation is
    * first-committer-wins via [[occValidate]]. The oracle unrolls the
    * 4-step chain as MATERIALIZED CTEs (the graph_kcore/BPE unroll
    * discipline). The base never conflicts — it is BELOW the shared
    * snapshot, exactly RocksDB's OptimisticTransactionDB rule of
    * validating only writes sequenced after the snapshot. */
  val kvTxnOcc: Op = Op.sql("kv_txn_occ",
    """WITH ko AS (SELECT user_id AS u, event_type AS cf, event_id AS seq
      |            FROM events),
      |mx AS (SELECT max(seq) AS m, max(seq) - 200 AS s0 FROM ko),
      |w AS MATERIALIZED (
      |  SELECT CAST(1 + (seq - s0 - 1) * 4 // (m - s0) AS BIGINT) AS txn, u, cf
      |  FROM ko, mx WHERE seq > s0),
      |st AS (SELECT txn, count(*) AS ne, count(DISTINCT (u, cf)) AS nk
      |       FROM w GROUP BY txn),
      |k1 AS MATERIALIZED (SELECT DISTINCT u, cf FROM w WHERE txn = 1),
      |k2 AS MATERIALIZED (SELECT DISTINCT u, cf FROM w WHERE txn = 2),
      |k3 AS MATERIALIZED (SELECT DISTINCT u, cf FROM w WHERE txn = 3),
      |k4 AS MATERIALIZED (SELECT DISTINCT u, cf FROM w WHERE txn = 4),
      |c1 AS MATERIALIZED (SELECT * FROM k1),
      |x2 AS MATERIALIZED (SELECT count(*) AS nc FROM k2 JOIN c1 USING (u, cf)),
      |c2 AS MATERIALIZED (SELECT * FROM c1 UNION ALL
      |  SELECT k2.* FROM k2 WHERE (SELECT nc FROM x2) = 0),
      |x3 AS MATERIALIZED (SELECT count(*) AS nc FROM k3 JOIN c2 USING (u, cf)),
      |c3 AS MATERIALIZED (SELECT * FROM c2 UNION ALL
      |  SELECT k3.* FROM k3 WHERE (SELECT nc FROM x3) = 0),
      |x4 AS MATERIALIZED (SELECT count(*) AS nc FROM k4 JOIN c3 USING (u, cf)),
      |r AS (
      |  SELECT 1 AS t, CAST(0 AS BIGINT) AS nc, true AS ok
      |  UNION ALL SELECT 2, (SELECT nc FROM x2), (SELECT nc FROM x2) = 0
      |  UNION ALL SELECT 3, (SELECT nc FROM x3), (SELECT nc FROM x3) = 0
      |  UNION ALL SELECT 4, (SELECT nc FROM x4), (SELECT nc FROM x4) = 0)
      |SELECT CAST(r.t AS BIGINT) AS txn_id,
      |  coalesce(st.ne, 0) AS n_events, coalesce(st.nk, 0) AS n_keys,
      |  r.nc AS n_conflicts, r.ok AS committed
      |FROM r LEFT JOIN st ON st.txn = r.t
      |ORDER BY txn_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").select(
      col("user_id").as("u"), col("event_type").as("cf"),
      col("event_id").as("seq"))
    val m = ev.agg(max("seq")).head().getLong(0)
    val s0 = m - 200
    val w = ev.filter(col("seq") > s0)
      .withColumn("txn",
        expr(s"CAST(1 + (seq - $s0 - 1) * 4 DIV ${m - s0} AS BIGINT)"))
    occValidate(s, w.select("txn", "u", "cf"), Seq(1L, 2L, 3L, 4L))
      .orderBy("txn_id")
  }

  val all: Seq[Op] = Seq(kvPointGet, kvRangeScan, kvCompact,
    kvSnapshotRead, kvWriteBatch, kvLeveledCompact, kvLogIngest,
    kvScd2, kvTtl, kvMergeOperator, kvLevelsReport,
    kvCheckpointRestore, kvSecondaryIndex, kvCf, kvBackupIncremental,
    kvWalReplay, kvSeekScan, kvCdcBatches, kvMultiGet, kvRangeDelete,
    kvTxnOcc, kvCompactionPick, kvReadAmp, kvAmplification, kvMvccGc)
}
