package graft

import org.apache.spark.sql.types._

import graft.sources.ManagedTables

/** Persistent CREATE/INSERT/SELECT-back semantics (reference:
  * tests/slt/create_table.slt + insert_table.slt). */
class ManagedTablesSpec extends SparkSuite {

  private val wh = "target/test_warehouse"
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  test("create + two inserts + select-back sees all rows, from disk") {
    import spark.implicits._
    ManagedTables.create(spark, "t_round", schema, wh)
    // freshly created table is readable and empty
    assert(ManagedTables.read(spark, "t_round", wh).count() == 0)
    ManagedTables.insert(spark, "t_round",
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), wh)
    ManagedTables.insert(spark, "t_round", Seq((3L, "c")).toDF("k", "s"), wh)
    val back = ManagedTables.read(spark, "t_round", wh)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // persistence is real files, not session state
    assert(new java.io.File(s"$wh/t_round").listFiles().exists(_.getName.endsWith(".parquet")))
    assert(ManagedTables.tables(wh).contains("t_round"))
  }

  test("create or replace truncates previous contents") {
    import spark.implicits._
    ManagedTables.create(spark, "t_replace", schema, wh)
    ManagedTables.insert(spark, "t_replace", Seq((9L, "x")).toDF("k", "s"), wh)
    ManagedTables.create(spark, "t_replace", schema, wh)
    assert(ManagedTables.read(spark, "t_replace", wh).count() == 0)
  }

  test("insert matches columns by name: reorder works, subset NULL-fills") {
    import spark.implicits._
    ManagedTables.create(spark, "t_cols", schema, wh)
    // reordered columns land by NAME (insert into t(s, k) ...)
    ManagedTables.insert(spark, "t_cols", Seq(("x", 7L)).toDF("s", "k"), wh)
    // column-subset insert NULL-fills the missing column
    ManagedTables.insert(spark, "t_cols", Seq(Tuple1(8L)).toDF("k"), wh)
    val back = ManagedTables.read(spark, "t_cols", wh).orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(back.toSeq == Seq((7L, Some("x")), (8L, None)))
  }

  test("insert with unknown column or wrong type is rejected before any write") {
    import spark.implicits._
    ManagedTables.create(spark, "t_strict", schema, wh)
    intercept[IllegalArgumentException] { // type mismatch: k is string
      ManagedTables.insert(spark, "t_strict",
        Seq(("1", "a")).toDF("k", "s"), wh)
    }
    intercept[IllegalArgumentException] { // unknown column
      ManagedTables.insert(spark, "t_strict",
        Seq((1L, "a", true)).toDF("k", "s", "extra"), wh)
    }
    assert(ManagedTables.read(spark, "t_strict", wh).count() == 0)
  }

  test("drop removes the table from the warehouse") {
    ManagedTables.create(spark, "t_gone", schema, wh)
    ManagedTables.drop("t_gone", wh)
    assert(!ManagedTables.tables(wh).contains("t_gone"))
  }

  test("merge upserts matched keys, inserts fresh ones; delete keeps NULL-predicate rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    ManagedTables.create(spark, "t_dml", schema, wh)
    ManagedTables.insert(spark, "t_dml",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), wh)
    ManagedTables.merge(spark, "t_dml",
      Seq((2L, "B"), (4L, "d")).toDF("k", "s"), "k", wh)
    val afterMerge = ManagedTables.read(spark, "t_dml", wh)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(afterMerge.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // NULL predicate (s = NULL row) must be KEPT by delete
    ManagedTables.merge(spark, "t_dml", Seq((5L, null: String)).toDF("k", "s"), "k", wh)
    ManagedTables.delete(spark, "t_dml", col("s") === "B", wh)
    val afterDelete = ManagedTables.read(spark, "t_dml", wh)
      .orderBy("k").collect().map(_.getLong(0))
    assert(afterDelete.toSeq == Seq(1L, 3L, 4L, 5L))
    // no staging/aside residue, and the table survives as plain files
    assert(!ManagedTables.tables(wh).exists(n => n.contains("__staging") || n.contains("__old")))
    assert(!new java.io.File(s"$wh/t_dml.__staging").exists())
    assert(!new java.io.File(s"$wh/t_dml.__old").exists())
  }

  test("crash residue (__staging/__old dirs) is invisible and cleared by the next rewrite") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    ManagedTables.create(spark, "t_crash", schema, wh)
    ManagedTables.insert(spark, "t_crash", Seq((1L, "a"), (2L, "b")).toDF("k", "s"), wh)
    // simulate a crash that left both residue dirs behind
    new java.io.File(s"$wh/t_crash.__staging").mkdirs()
    new java.io.File(s"$wh/t_crash.__old").mkdirs()
    assert(!ManagedTables.tables(wh).exists(_.startsWith("t_crash.")),
      "residue dirs leaked into the catalog listing")
    // reads ignore residue; the next DML clears it and succeeds
    assert(ManagedTables.read(spark, "t_crash", wh).count() == 2)
    ManagedTables.delete(spark, "t_crash", col("k") === 1L, wh)
    val back = ManagedTables.read(spark, "t_crash", wh).collect()
    assert(back.length == 1 && back.head.getLong(0) == 2L)
    assert(!new java.io.File(s"$wh/t_crash.__old").exists())
  }

  test("time travel: published versions are immutable, unpublished ones invisible") {
    import spark.implicits._
    import graft.sources.VersionedTables
    VersionedTables.vacuum("t_tt", wh)
    assert(VersionedTables.latest("t_tt", wh) == -1)
    val v0 = VersionedTables.write(spark, "t_tt", Seq((1L, "a"), (2L, "b")).toDF("k", "s"), wh)
    val v1 = VersionedTables.write(spark, "t_tt", Seq((1L, "A"), (3L, "c")).toDF("k", "s"), wh)
    assert((v0, v1) == (0, 1) && VersionedTables.latest("t_tt", wh) == 1)
    // AS OF v0 still reads the original rows after v1 published
    val asOf0 = VersionedTables.read(spark, "t_tt", Some(0), wh).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(asOf0 == Seq((1L, "a"), (2L, "b")), "v0 changed after a later write")
    // default read = latest
    val head = VersionedTables.read(spark, "t_tt", None, wh).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(head == Seq((1L, "A"), (3L, "c")))
    // a version directory without a pointer flip is invisible: readers
    // see the published head, exactly as after a mid-write crash
    Seq((9L, "zz")).toDF("k", "s").write.parquet(s"$wh/t_tt/v2")
    assert(VersionedTables.latest("t_tt", wh) == 1, "unflipped pointer moved")
    val afterCrash = VersionedTables.read(spark, "t_tt", None, wh).collect()
    assert(afterCrash.length == 2, "half-published version leaked into reads")
    // an explicit AS OF of the unpublished version must fail loudly —
    // its dir exists but its data may be partial
    intercept[IllegalArgumentException] {
      VersionedTables.read(spark, "t_tt", Some(2), wh)
    }
    VersionedTables.vacuum("t_tt", wh)
  }

  test("retain anchors on the LATEST pointer, not on-disk dirs: an orphan never costs a published version") {
    import spark.implicits._
    import graft.sources.VersionedTables
    VersionedTables.vacuum("t_ret", wh)
    VersionedTables.write(spark, "t_ret", Seq((1L, "a")).toDF("k", "s"), wh) // v0
    VersionedTables.write(spark, "t_ret", Seq((1L, "A")).toDF("k", "s"), wh) // v1 = LATEST
    // orphan v2: data dir written, crash before the pointer flip
    Seq((9L, "zz")).toDF("k", "s").write.parquet(s"$wh/t_ret/v2")
    // counting the orphan toward keepLast would expire v1 — the
    // published LATEST — and leave the pointer dangling
    assert(VersionedTables.retain("t_ret", keepLast = 1, wh) == Seq(0))
    assert(VersionedTables.latest("t_ret", wh) == 1)
    val head = VersionedTables.read(spark, "t_ret", None, wh).collect()
    assert(head.length == 1 && head.head.getString(1) == "A",
      "published LATEST must survive retain")
    // idempotent: nothing further to expire (the orphan is not
    // retain's to delete — it is unpublished, not expired)
    assert(VersionedTables.retain("t_ret", keepLast = 1, wh).isEmpty)
    VersionedTables.vacuum("t_ret", wh)
  }

  test("merge rejects a duplicate-key update batch before any write") {
    import spark.implicits._
    ManagedTables.create(spark, "t_dup", schema, wh)
    ManagedTables.insert(spark, "t_dup", Seq((1L, "a")).toDF("k", "s"), wh)
    intercept[IllegalArgumentException] {
      ManagedTables.merge(spark, "t_dup",
        Seq((1L, "x"), (1L, "y")).toDF("k", "s"), "k", wh)
    }
    val back = ManagedTables.read(spark, "t_dup", wh).collect()
    assert(back.length == 1 && back.head.getString(1) == "a")
  }

  test("update: SET reads the pre-update row (swap works), NULL predicate skips, unknown column rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("a", LongType), StructField("b", LongType)))
    ManagedTables.drop("t_upd", wh)
    ManagedTables.create(spark, "t_upd", sch, wh)
    ManagedTables.insert(spark, "t_upd",
      Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "a", "b"), wh)
    // SET a = b, b = a must SWAP (both expressions see the old row)
    ManagedTables.update(spark, "t_upd", col("k") === 1,
      Seq("a" -> col("b"), "b" -> col("a")), wh)
    val rows = ManagedTables.read(spark, "t_upd", wh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 20L, 10L), (2L, 30L, 40L)))
    // a NULL predicate row is untouched (SQL UPDATE hits TRUE only)
    ManagedTables.update(spark, "t_upd",
      org.apache.spark.sql.functions.when(col("k") === 1, lit(true)),
      Seq("a" -> lit(99L)), wh)
    val rows2 = ManagedTables.read(spark, "t_upd", wh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows2.toSeq == Seq((1L, 99L), (2L, 30L)),
      "NULL-predicate row was modified")
    // unknown SET column fails before any write
    intercept[IllegalArgumentException] {
      ManagedTables.update(spark, "t_upd", lit(true), Seq("nope" -> lit(1L)), wh)
    }
    // duplicate SET column fails loudly (the first assignment would
    // otherwise be silently lost)
    intercept[IllegalArgumentException] {
      ManagedTables.update(spark, "t_upd", lit(true),
        Seq("a" -> lit(1L), "a" -> lit(2L)), wh)
    }
    ManagedTables.drop("t_upd", wh)
  }

  test("alter add column: old rows NULL, new rows valued, omitting inserts NULL-fill, duplicate add rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    ManagedTables.drop("t_evo", wh)
    ManagedTables.create(spark, "t_evo", schema, wh)
    ManagedTables.insert(spark, "t_evo", Seq((1L, "a"), (2L, "b")).toDF("k", "s"), wh)
    ManagedTables.alterAddColumn(spark, "t_evo", StructField("tag", StringType), wh)
    // post-ALTER insert WITH the column
    ManagedTables.insert(spark, "t_evo", Seq((3L, "c", "new")).toDF("k", "s", "tag"), wh)
    // post-ALTER insert WITHOUT it still works (NULL-filled like any
    // omitted column)
    ManagedTables.insert(spark, "t_evo", Seq((4L, "d")).toDF("k", "s"), wh)
    val back = ManagedTables.read(spark, "t_evo", wh)
      .select("k", "s", "tag").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(back.toSeq == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some("new")), (4L, "d", None)))
    // the evolved column is mutable like any other
    ManagedTables.update(spark, "t_evo", col("k") === 1L,
      Seq("tag" -> lit("backfilled")), wh)
    val one = ManagedTables.read(spark, "t_evo", wh)
      .filter(col("k") === 1L).select("tag").collect().map(_.getString(0))
    assert(one.toSeq == Seq("backfilled"))
    // duplicate ADD fails loudly before any write
    intercept[IllegalArgumentException] {
      ManagedTables.alterAddColumn(spark, "t_evo", StructField("tag", StringType), wh)
    }
    ManagedTables.drop("t_evo", wh)
  }
}
