package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.kv.KVTable
import graft.operators.KV

/** Hand-computed oracle for the KV semantics of SURVEY §2.2:
  * latest-seq-wins, tombstones, snapshots, batches, compaction. */
class KVSpec extends SparkSuite {

  private def fixture: KVTable = {
    import spark.implicits._
    // key, seq, tombstone, v — interleaved versions of 3 keys
    val runs = Seq(
      (1L, 1L, false, 10.0), // k1 v10
      (2L, 2L, false, 20.0), // k2 v20
      (1L, 3L, false, 11.0), // k1 → v11
      (3L, 4L, false, 30.0), // k3 v30
      (2L, 5L, true, 0.0),   // k2 deleted
      (3L, 6L, false, 31.0)  // k3 → v31
    ).toDF("key", "seq", "tombstone", "v")
    KVTable(runs, "key", "seq", "tombstone")
  }

  test("merged: latest wins, tombstones dropped") {
    val got = fixture.merged().orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 3L, 11.0), (3L, 6L, 31.0)))
  }

  test("point get sees only the latest version") {
    val got = fixture.get(lit(1L)).collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 11.0)))
    // deleted key reads as absent
    assert(fixture.get(lit(2L)).count() == 0)
  }

  test("snapshot read resurrects pre-delete state") {
    // as-of seq 4: k2 not yet deleted, k1 already updated, k3 at v30
    val got = fixture.snapshot(4L).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)))
  }

  test("range scan bounds keys inclusively and stays sorted") {
    val got = fixture.range(lit(1L), lit(2L)).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L)) // k2 is deleted, k3 out of range
  }

  test("range read: bounded keeps zero-range-exchange, wide falls back to a range sort (VERDICT r9 task 3)") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    // client-sized range (planned size under the gate): the order is
    // a within-partition sort of one coalesced partition — no global
    // Sort, no range exchange, no sampling job
    val bounded = fixture.range(lit(0L), lit(100L))
    assert(bounded.queryExecution.optimizedPlan
        .collect { case s: Sort if s.global => s }.isEmpty,
      "client-sized range must sort within one partition, not range-exchange")
    // caller-wide range (threshold 0 simulates a table whose planned
    // size exceeds the gate): global order must come from a sampled
    // RANGE exchange — ordered results WITHOUT a single-task reduce
    // of the whole keyspace
    val wide = fixture.range(lit(0L), lit(100L), boundedBytes = 0L)
    assert(wide.queryExecution.optimizedPlan
        .collect { case s: Sort if s.global => s }.nonEmpty,
      "wide range must keep orderBy's global sort")
    assert(wide.queryExecution.executedPlan.toString
        .toLowerCase.contains("rangepartitioning"),
      "wide range must order through a range exchange")
    val got = wide.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L) &&
      got == bounded.collect().map(_.getLong(0)).toSeq,
      "both paths must return the identical ordered result")
    // multiGet shares the gate
    val wideGet = fixture.multiGet(Seq(1L, 3L), boundedBytes = 0L)
    assert(wideGet.queryExecution.optimizedPlan
      .collect { case s: Sort if s.global => s }.nonEmpty)
    assert(wideGet.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("bounded get and range merge with no exchange; a wide estimate keeps the hash exchange") {
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // admitted runs under the gate: coalesced to one partition before
    // the latest-wins merge, so the aggregate needs no exchange
    Seq(plan(fixture.get(lit(1L))), plan(fixture.range(lit(0L), lit(100L))),
        plan(fixture.multiGet(Seq(1L, 3L)))).foreach { p =>
      assert(!p.contains("Exchange"), s"bounded read planned an exchange:\n$p")
      assert(p.contains("Coalesce 1") && p.contains("HashAggregate"), p)
    }
    // threshold 0 simulates admitted runs whose estimate exceeds the
    // gate: the merge keeps its hash exchange on key
    val wide = plan(fixture.range(lit(0L), lit(100L), boundedBytes = 0L))
    assert(wide.contains("Exchange hashpartitioning(key"), wide)
    assert(!wide.contains("Coalesce"), wide)
  }

  test("write batch: upsert, delete, and fresh insert all apply in order") {
    import spark.implicits._
    val batch = Seq(
      (1L, 7L, true, 0.0),   // delete k1
      (2L, 8L, false, 22.0), // re-insert k2 over its tombstone
      (9L, 9L, false, 90.0)  // brand-new key
    ).toDF("key", "seq", "tombstone", "v")
    val got = fixture.withBatch(batch).merged().orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, 22.0), (3L, 31.0), (9L, 90.0)))
  }

  test("compactTo writes key-range-clustered runs that read back equivalent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_compact").toString + "/runs"
    val events = graft.sources.Tables.load(spark, sfDir, "events")
    val big = graft.kv.KVTable(
      events.selectExpr("user_id AS key", "event_id AS seq",
        "event_type = 'error' AS tombstone", "value AS v"),
      "key", "seq", "tombstone")
    val compacted = big.compactTo(dir, numRanges = 4)
    // same merged content before and after the rewrite
    assert(compacted.merged().orderBy("key").collect().toSeq ==
      big.merged().orderBy("key").collect().toSeq)
    // clustered output: 4 disjoint key-range files
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // point get on the compacted table matches the original
    assert(compacted.get(org.apache.spark.sql.functions.lit(42L)).collect().toSeq ==
      big.get(org.apache.spark.sql.functions.lit(42L)).collect().toSeq)
    // bloom filter written on the key column: a point probe inside a
    // row group's [min,max] but absent skips the group without
    // decoding pages (parquet footer records the filter offset)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val keyChunk = footer.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "key").get
      assert(keyChunk.getBloomFilterOffset > 0, "no bloom filter on key column")
    } finally footer.close()
  }

  test("compaction output equals merged view and is one self-contained run") {
    val compacted = fixture.compacted()
    // re-reading the compacted run as a fresh KV table is a fixpoint
    val recompacted = KVTable(
      compacted.withColumn("tombstone", lit(false)), "key", "seq", "tombstone")
      .compacted()
    assert(compacted.collect().toSeq == recompacted.collect().toSeq)
  }

  test("leveled compaction preserves the merged view at every cut point") {
    import spark.implicits._
    // the adversarial interleavings: delete-then-reinsert across the
    // cut, delete entirely inside the prefix, value old / delete young
    val runs = Seq(
      (1L, 1L, false, 10.0), // k1 old value
      (2L, 2L, false, 20.0), // k2 old value
      (2L, 3L, true, 0.0),   // k2 deleted in prefix
      (3L, 4L, false, 30.0), // k3 old value
      (1L, 5L, true, 0.0),   // k1 deleted young (cut<5) or in prefix (cut>=5)
      (2L, 6L, false, 22.0), // k2 re-inserted over its tombstone
      (4L, 7L, false, 40.0)  // k4 young insert
    ).toDF("key", "seq", "tombstone", "v")
    val table = KVTable(runs, "key", "seq", "tombstone")
    val want = table.merged().orderBy("key").collect().toSeq
    (0L to 8L).foreach { cut =>
      val got = table.compactedUpTo(cut).merged().orderBy("key").collect().toSeq
      assert(got == want, s"cut=$cut changed the merged view")
    }
    // and the prefix really folded: at cut=4, runs = 2 surviving
    // prefix keys (k1, k3 — k2's tombstone erased it) + 3 young rows
    assert(table.compactedUpTo(4L).runs.count() == 5)
  }

  test("SCD2 build: version chains tile the seq line, current slice == merged view") {
    val rows = SparkEntry.queries("kv_scd2")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (key, vs) =>
      val sorted = vs.sortBy(_._2)
      // at most one open (current) version per key, and only the last
      assert(sorted.init.forall(_._3.isDefined), s"key $key: non-final open version")
      sorted.foreach { case (_, from, to, current, _) =>
        assert(current == to.isEmpty)
        to.foreach(t => assert(t >= from, s"key $key: empty validity [$from,$t]"))
      }
      // closed versions may not overlap: next valid_from > prev valid_to
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, Some(prevTo), _, _), (_, nextFrom, _, _, _)) =>
          assert(nextFrom > prevTo, s"key $key: overlapping versions")
        case _ =>
      }
    }
    // the current slice IS the merged KV view (same keys, same values)
    val current = rows.filter(_._4).map(r => (r._1, r._2, r._5)).sortBy(_._1).toSeq
    val merged = SparkEntry.queries("kv_compact")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(current == merged,
      "SCD2 is_current slice must equal the latest-wins merge")
  }

  test("TTL read: live set is exactly the unexpired slice of the merge") {
    val merged = SparkEntry.queries("kv_compact")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val horizon = {
      val logMax = graft.sources.Tables.load(spark, sfDir, "events")
        .agg(max("event_id")).head().getLong(0)
      math.floor(logMax * 0.99).toLong
    }
    val ttl = SparkEntry.queries("kv_ttl")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ttl.forall(_._2 > horizon), "an expired version survived the TTL read")
    assert(ttl.sortBy(_._1).toSeq ==
      merged.filter(_._2 > horizon).sortBy(_._1).toSeq,
      "TTL view must be the merge minus expired keys — nothing else")
    // the horizon actually bites at this SF: some keys expired, some live
    assert(ttl.nonEmpty && ttl.length < merged.length)
  }

  test("merge operator: a sequential per-key fold reproduces every merged value") {
    val rows = graft.operators.KV.kvMergeOperator.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    val log = graft.sources.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id", "event_id", "event_type",
        "CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byKey = log.groupBy(_._1)
    rows.foreach { case (key, got, nOps, baseKind) =>
      val evs = byKey(key).sortBy(_._2)
      // base = the newest put/del; operands = adds after it
      val resets = evs.filter(e => e._3 == "error" || e._3 == "purchase")
      val base = resets.lastOption
      val bseq = base.map(_._2).getOrElse(-1L)
      val adds = evs.filter(e => e._3 != "error" && e._3 != "purchase" && e._2 > bseq)
      val wantBase = base.map(b => if (b._3 == "purchase") "put" else "del").getOrElse("none")
      val wantVal = (adds.map(a => BigDecimal(a._4)).sum +
        (if (wantBase == "put") BigDecimal(base.get._4) else BigDecimal(0)))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(baseKind == wantBase, s"key $key base kind")
      assert(nOps == adds.length.toLong, s"key $key operand count")
      assert(got == wantVal, s"key $key: got $got want $wantVal")
    }
    // semantics actually exercised: some key has a del base with live adds,
    // and some key folded multiple operands onto a put
    assert(rows.exists(r => r._4 == "del" && r._3 > 0), "no del-then-add key")
    assert(rows.exists(r => r._4 == "put" && r._3 > 1), "no multi-operand put key")
  }

  test("levels report: disjoint seq ranges, L1 fully folded, fold reclaimed dead versions") {
    val rows = graft.operators.KV.kvLevelsReport.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set(0L, 1L))
    val (l0, l1) = (rows(0L), rows(1L))
    // leveling's invariant: the folded level sits strictly below the young one
    assert(l1._4 < l0._3, s"levels overlap: L1 max_seq ${l1._4} >= L0 min_seq ${l0._3}")
    // latest-wins fold leaves exactly one row per surviving key
    assert(l1._1 == l1._2, s"L1 holds ${l1._1} rows for ${l1._2} keys — fold leaked versions")
    // and it must actually have reclaimed something on this log
    assert(l0._1 > l0._2, "fixture degenerate: young level has no overwrites to reclaim later")
  }

  test("column families: a single seq cut reads one consistent point across families") {
    import spark.implicits._
    // shared sequence space (the RocksDB property); family = parity.
    // k1 lives in BOTH families: default updates it at seq 6, meta
    // deletes it at seq 5 — the adversarial interleaving where
    // per-family cuts could show an impossible world.
    val runs = Seq(
      (1L, 2L, false, 10.0), // default: k1 v10
      (1L, 3L, false, 99.0), // meta:    k1 v99
      (2L, 4L, false, 20.0), // default: k2 v20
      (1L, 5L, true, 0.0),   // meta:    k1 deleted
      (1L, 6L, false, 11.0), // default: k1 → v11
      (2L, 7L, false, 88.0)  // meta:    k2 v88
    ).toDF("key", "seq", "tombstone", "v")
    val t = graft.kv.KVTable(runs, "key", "seq", "tombstone")
    def famAt(parity: Int, cut: Long) =
      t.copy(runs = runs.filter(col("seq") % 2 === parity)).snapshot(cut)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(famAt(0, 5) == Set((1L, 2L, 10.0), (2L, 4L, 20.0)))
    assert(famAt(1, 5) == Set.empty[(Long, Long, Double)])
    assert(famAt(0, 6) == Set((1L, 6L, 11.0), (2L, 4L, 20.0)))
    assert(famAt(1, 7) == Set((2L, 7L, 88.0)))
    // the impossible world a shared cut rules out: default showing the
    // seq-6 update of k1 while meta still shows k1 alive (pre-delete).
    // No single cut exposes it — that is what "consistent across
    // families" means and why CFs share the seq domain.
    (0L to 8L).foreach { cut =>
      val inconsistent = famAt(0, cut).exists(r => r._1 == 1L && r._2 == 6L) &&
        famAt(1, cut).exists(_._1 == 1L)
      assert(!inconsistent, s"cut=$cut exposed an inconsistent cross-family read")
    }
    // and the op itself runs green on the derived log
    val rows = SparkEntry.queries("kv_cf")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val cfs = rows.map(_.getString(0)).toSet
    assert(cfs == Set("default", "meta"))
  }

  test("secondary index: value predicate is pushed to the index scan and answers match the primary") {
    val op = graft.operators.KV.kvSecondaryIndex.run(spark, sfDir)
    // the whole point of the sorted materialization: the range
    // predicate must reach the parquet reader as a pushed filter so
    // min/max stats prune row groups
    val scanText = op.queryExecution.executedPlan.toString()
    assert(scanText.contains("PushedFilters:") &&
      scanText.contains("GreaterThanOrEqual(v,20.0)") &&
      scanText.contains("LessThanOrEqual(v,100.0)"),
      s"value predicate not pushed:\n$scanText")
    // equality with the primary-path read (merge + filter)
    val viaIndex = op.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaPrimary = graft.operators.KV.kvCompact.run(spark, sfDir)
      .filter(col("v").between(20.0, 100.0)).orderBy("key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaIndex == viaPrimary)
    assert(viaIndex.nonEmpty, "fixture degenerate: empty value range")
    // the index is value-CLUSTERED: each file's [min,max] v-range is
    // disjoint from the others (range partitioning), which is what
    // makes the pruning selective at scale
    val idx = spark.read.parquet(
      graft.operators.KV.valueIndexPath(spark, sfDir))
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val ranges = idx.groupBy(input_file_name().as("f"))
      .agg(fmin("v").as("lo"), fmax("v").as("hi"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"index files overlap in v: $ranges")
      case _ =>
    }
  }

  test("seek scan: pages compose to exactly the ordered merge prefix, cursor predicate reaches the scan") {
    val pages = graft.operators.KV.kvSeekScan.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val full = graft.operators.KV.kvCompact.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // pages = the first min(30, |keys|) rows of the ordered merge,
    // no key skipped, duplicated or re-served across page boundaries
    val served = pages.map(p => (p._2, p._3, p._4)).toSeq
    assert(served == full.take(30).toSeq)
    // page numbering is the rank bucket
    pages.zipWithIndex.foreach { case ((page, _, _, _), i) =>
      assert(page == i / 10 + 1, s"row $i on page $page")
    }
    // a mid-scan page's cursor predicate is pushed to the parquet scan
    val cursor = full(9)._1
    val t = graft.sources.Tables.load(spark, sfDir, "events")
    val plan = graft.kv.KVTable(
        t.select(col("user_id").as("key"), col("event_id").as("seq"),
          (col("event_type") === "error").as("tombstone"), col("value").as("v")),
        "key", "seq", "tombstone")
      .copy().runs.filter(col("key") > cursor)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains(s"GreaterThan(user_id,$cursor)"),
      s"cursor predicate not pushed:\n$plan")
  }

  test("CDC feed: applying the batches to the first snapshot replays the last; ops match a sequential diff") {
    val feed = graft.operators.KV.kvCdcBatches.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(feed.nonEmpty)
    // sequential snapshots from the raw log
    val raw = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        (col("event_type") === "error").as("tomb"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    val m = raw.map(_._2).max
    def snap(cut: Long): Map[Long, Double] =
      raw.filter(_._2 <= cut).groupBy(_._1).flatMap { case (k, vs) =>
        val w = vs.maxBy(_._2)
        if (w._3) None else Some(k -> w._4)
      }
    val (s1, s2, s3) = (snap(m / 3), snap(2 * m / 3), snap(m))
    // per-batch ops equal the sequential diff
    def wantDiff(b: Long, before: Map[Long, Double], after: Map[Long, Double]) =
      (before.keySet ++ after.keySet).toSeq.flatMap { k =>
        (before.get(k), after.get(k)) match {
          case (None, Some(a)) => Some((b, k, "insert", None, Some(a)))
          case (Some(x), None) => Some((b, k, "delete", Some(x), None))
          case (Some(x), Some(a)) if x != a => Some((b, k, "update", Some(x), Some(a)))
          case _ => None
        }
      }
    val want = (wantDiff(2, s1, s2) ++ wantDiff(3, s2, s3)).sortBy(r => (r._1, r._2))
    assert(feed.toSeq.sortBy(r => (r._1, r._2)) == want)
    // THE change-feed property: s1 + feed == s3
    var state = s1
    feed.sortBy(_._1).foreach {
      case (_, k, "insert", _, Some(a)) => state += k -> a
      case (_, k, "update", _, Some(a)) => state += k -> a
      case (_, k, "delete", _, _) => state -= k
      case other => fail(s"malformed feed row $other")
    }
    assert(state == s3, "replaying the feed does not reproduce the final snapshot")
    // all three op kinds genuinely occur
    assert(feed.map(_._3).toSet == Set("insert", "delete", "update"))
  }

  test("multi get: one IN-pruned merge answers the batch; absent and deleted keys yield no row") {
    val got = fixture.multiGet(Seq(1L, 2L, 3L, 99L)).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    // k2 is point-deleted, k99 never written — both absent
    assert(got.toSeq == Seq((1L, 11.0), (3L, 31.0)))
  }

  test("range delete: tombstone covers older puts, newer puts survive, newest covering tombstone wins") {
    import spark.implicits._
    val runs = Seq(
      (1L, 1L, false, 10.0), // k1 put, later point-deleted
      (2L, 2L, false, 20.0), // k2 old put (covered by RT1)
      (3L, 3L, false, 30.0), // k3 put (covered by RT1@5 and RT2@2)
      (4L, 4L, false, 40.0), // k4: RT1's hi=4 is EXCLUSIVE; RT2@2 is older
      (1L, 6L, true, 0.0),   // point tombstone still applies
      (2L, 7L, false, 21.0)  // k2 re-put AFTER RT1 — reappears
    ).toDF("key", "seq", "tombstone", "v")
    val t = KVTable(runs, "key", "seq", "tombstone")
    val rts = Seq((2L, 4L, 5L), (3L, 5L, 2L)).toDF("lo", "hi", "seq")
    val got = t.mergedWithRangeDeletes(rts).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // k1: point-deleted; k2: re-put seq7 > RT1 seq5 → visible;
    // k3: latest seq3 < newest covering RT seq5 → deleted (RT2@2
    // alone would NOT delete it — the newest covering tombstone is
    // the one that decides); k4: only RT2@2 covers, put seq4 > 2.
    assert(got.toSeq == Seq((2L, 7L, 21.0), (4L, 4L, 40.0)))
  }

  test("range delete: empty tombstone list degrades to the plain merge") {
    import spark.implicits._
    val rts = Seq.empty[(Long, Long, Long)].toDF("lo", "hi", "seq")
    val got = fixture.mergedWithRangeDeletes(rts).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val want = fixture.merged().orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("OCC: first committer wins, aborted writers leave no trace (cascade prevention)") {
    import spark.implicits._
    // txn1 {1a,2a} commits; txn2 {2a,3a} aborts on 2a; txn3 {3a}
    // COMMITS — 3a was only written by the ABORTED txn2; txn4 {1a}
    // aborts against txn1's committed write.
    val writes = Seq(
      (1L, 1L, "a"), (1L, 2L, "a"),
      (2L, 2L, "a"), (2L, 3L, "a"),
      (3L, 3L, "a"),
      (4L, 1L, "a")
    ).toDF("txn", "u", "cf")
    val got = KV.occValidate(spark, writes, Seq(1L, 2L, 3L, 4L))
      .orderBy("txn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 0L, true),
      (2L, 2L, 2L, 1L, false),
      (3L, 1L, 1L, 0L, true),
      (4L, 1L, 1L, 1L, false)))
  }

  test("compaction pick: sequential score replay matches; a fragmented L0 wins the pick") {
    import spark.implicits._
    val got = KV.kvCompactionPick.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    val seqs = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id")).collect().map(_.getLong(0))
    val m = seqs.max
    def lvl(s: Long) =
      if (s > math.floor(m * 0.9).toLong) 0L
      else if (s > math.floor(m * 0.6).toLong) 1L
      else if (s > math.floor(m * 0.3).toLong) 2L else 3L
    val byL = seqs.groupBy(lvl)
    val want = byL.map { case (l, xs) =>
      val size = if (l == 0) xs.map(_ / 1000).distinct.length.toLong else xs.length * 32L
      val budget = Seq(4L, 4096L, 40960L, 409600L)(l.toInt)
      (l, xs.length.toLong, size, budget, size.toDouble / budget)
    }.toSeq.sortBy(_._1)
    val best = want.map(_._5).max
    val pl = want.filter(_._5 == best).map(_._1).min
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq == want)
    got.foreach { case (l, _, _, _, _, p) => assert(p == (l == pl), s"level $l pick") }
    assert(got.count(_._6) == 1, "exactly one level picked")
    // planted fragmentation: seqs at 1000-strides put 5 files in L0
    // (score 1.25) while deeper levels stay tiny -> L0 must win
    val planted = KV.compactionPick((1L to 50L).map(_ * 1000L).toDF("seq"))
      .collect().map(r => (r.getLong(0), r.getDouble(4), r.getBoolean(5)))
    assert(planted.find(_._1 == 0L).get._3, s"L0 not picked: ${planted.toSeq}")
    assert(planted.find(_._1 == 0L).get._2 == 1.25)
  }

  test("OCC op: txn1 always commits; verdict == (conflicts == 0); keys bound events") {
    val got = KV.kvTxnOcc.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.length == 4 && got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.head._4 == 0L && got.head._5, "txn1 validates against an empty set")
    got.foreach { case (t, ne, nk, nc, ok) =>
      assert(ok == (nc == 0L), s"txn $t verdict")
      assert(nk <= ne && nc <= nk, s"txn $t bounds")
    }
  }

  test("read amp: sequential newest-first search replay matches; reads bounded by candidates") {
    val got = KV.kvReadAmp.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), (col("event_type") === "error"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val cut = math.floor(rows.map(_._2).max * 0.6).toLong
    val l0 = rows.filter(_._2 > cut)
    val buckets = l0.groupBy(_._2 / 1000)
      .map { case (b, xs) => (b, xs.map(_._1).min, xs.map(_._1).max) }
    Seq(3L, 5L, 7L, 9L, 11L).zip(got).foreach { case (k, (pk, nf, fr, where)) =>
      assert(pk == k)
      val cand = buckets.filter(b => b._2 <= k && k <= b._3)
      assert(nf == cand.size.toLong, s"key $k candidates")
      val mine = l0.filter(_._1 == k)
      if (mine.nonEmpty) {
        val bstar = mine.map(_._2 / 1000).max
        assert(fr == cand.count(_._1 >= bstar).toLong, s"key $k files read")
        val newest = mine.maxBy(_._2)
        assert(where == (if (newest._3) "deleted" else "L0"), s"key $k verdict")
      } else {
        assert(fr == nf + 1, s"key $k full L0 sweep + L1")
        val older = rows.filter(r => r._1 == k && r._2 <= cut)
        val want = if (older.isEmpty) "miss"
          else if (older.maxBy(_._2)._3) "deleted" else "L1"
        assert(where == want, s"key $k L1 verdict")
      }
      assert(fr <= nf + 1 && fr >= 1, s"key $k bounds")
    }
  }

  test("amplification triad: consistent with the levels report and the merge; all three >= 1") {
    val amp = KV.kvAmplification.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val levels = KV.kvLevelsReport.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = KV.kvCompact.run(spark, sfDir).count()
    val total = graft.sources.Tables.load(spark, sfDir, "events").count()
    val (sn, sd, sv) = amp("space")
    assert(sn == levels(0L)._1 + levels(1L)._1, "space numerator != stored rows")
    assert(sd == merged, "space denominator != live keys")
    assert(sv == sn.toDouble / sd)
    val (wn, wd, wv) = amp("write")
    assert(wd == total && wn == total + levels(1L)._1)
    assert(wv == wn.toDouble / wd)
    val (rn, _, rv) = amp("read_worst")
    assert(rv == rn.toDouble && rn >= 2L, "at least one L0 file plus L1")
    assert(amp.values.forall(_._3 >= 1.0), "amplification below 1 is impossible")
  }

  test("MVCC GC: reads at the snapshot and at head are identical after dropping the reclaimable set") {
    val t = graft.kv.KVTable(
      graft.sources.Tables.load(spark, sfDir, "events").selectExpr(
        "user_id AS key", "event_id AS seq",
        "event_type = 'error' AS tombstone", "value AS v"),
      "key", "seq", "tombstone")
    val snap = math.floor(graft.sources.Tables.load(spark, sfDir, "events")
      .agg(max("event_id")).head().getLong(0) * 0.6).toLong
    val gc = KV.mvccGcSurvivors(t, snap)
    assert(gc.snapshot(snap).orderBy("key").collect().toSeq ==
      t.snapshot(snap).orderBy("key").collect().toSeq,
      "snapshot read changed after GC")
    assert(gc.merged().orderBy("key").collect().toSeq ==
      t.merged().orderBy("key").collect().toSeq,
      "head read changed after GC")
    // the report's arithmetic: kept(L1) + reclaimable(L1) = total(L1),
    // and survivors row count = total - reclaimable
    val rep = KV.kvMvccGc.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (t1, rec1, k1) = rep(1L)
    assert(t1 == rec1 + k1)
    assert(gc.runs.count() == rep(0L)._1 + k1)
    assert(rec1 > 0, "no dead versions found — the GC op is vacuous at this SF")
  }
}
