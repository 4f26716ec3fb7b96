package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal persistent managed-table catalog: CREATE TABLE / INSERT /
  * SELECT-back / DROP over a parquet warehouse directory.
  *
  * The Spark-first answer to the reference's DDL+DML executors
  * (`/root/reference/src/query_engine/src/execution/volcano_executor/create_table.rs`,
  * `insert.rs`, exercised by `tests/slt/create_table.slt` /
  * `insert_table.slt`): where the reference routes CREATE/INSERT
  * through its catalog set and LSM storage, graft's tables are
  * directories of immutable parquet files under a warehouse root —
  * the schema lives in the parquet footers (a zero-row file is
  * written at CREATE so an empty table still has one), inserts are
  * append-only file additions (no read-modify-write, safe for
  * concurrent readers), and everything survives the session because
  * the only state IS the files.
  *
  * Scale notes: INSERT appends files — O(batch), never O(table); a
  * 100 TB table takes new batches at the same cost as an empty one.
  * Readers prune by parquet footer stats as usual. Compaction of
  * many small insert files is [[graft.kv.KVTable.compactTo]]'s job
  * when a key column exists.
  */
object ManagedTables {

  val defaultWarehouse = s"${State.Root}/graft_warehouse"

  private def dir(wh: String, name: String) = s"$wh/$name"

  /** CREATE [OR REPLACE] TABLE name(schema): writes a zero-row
    * parquet file carrying the schema, so the table exists (and is
    * readable/insertable) before any data arrives. */
  def create(spark: SparkSession, name: String, schema: StructType,
             wh: String = defaultWarehouse): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.mode("overwrite").parquet(dir(wh, name))

  /** INSERT INTO name[(cols…)]: append-only parquet add with the
    * reference binder's insert semantics (insert_table.slt): columns
    * match the stored schema BY NAME in any order, columns absent
    * from the batch are NULL-filled, unknown columns and type
    * mismatches are rejected before any write. */
  def insert(spark: SparkSession, name: String, batch: DataFrame,
             wh: String = defaultWarehouse): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val stored = read(spark, name, wh).schema
    val unknown = batch.columns.filterNot(stored.fieldNames.contains)
    require(unknown.isEmpty,
      s"INSERT into '$name': unknown columns ${unknown.mkString(", ")}")
    val aligned = stored.fields.map { f =>
      if (batch.columns.contains(f.name)) {
        val dt = batch.schema(f.name).dataType
        require(dt == f.dataType,
          s"INSERT into '$name': column ${f.name} is $dt, stored ${f.dataType}")
        col(f.name)
      } else lit(null).cast(f.dataType).as(f.name)
    }
    batch.select(aligned.toSeq: _*).write.mode("append").parquet(dir(wh, name))
  }

  /** SELECT * FROM name (all inserted batches). `mergeSchema` because
    * the table's schema IS the union of its file footers (the stated
    * design above) and [[alterAddColumn]] evolves it by appending a
    * new-schema anchor file: files written before an ALTER lack the
    * added column and read as NULL for it — exactly Delta/Iceberg
    * ADD COLUMN semantics without a metadata log. On a uniform table
    * the merge is the identity. At 100 TB a production catalog holds
    * the current schema instead of re-merging footers per read (the
    * LATEST-pointer pattern [[VersionedTables]] uses); the semantics
    * here are the same. */
  def read(spark: SparkSession, name: String,
           wh: String = defaultWarehouse): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir(wh, name))

  /** ALTER TABLE name ADD COLUMN: appends a zero-row anchor file
    * carrying the EXTENDED schema (stored fields + the new one), the
    * same trick CREATE uses to give an empty table a schema. Existing
    * data files are untouched — old rows surface the column as NULL —
    * and subsequent [[insert]]s may supply or omit it like any other
    * column. Duplicate names are rejected before any write. */
  def alterAddColumn(spark: SparkSession, name: String,
                     column: org.apache.spark.sql.types.StructField,
                     wh: String = defaultWarehouse): Unit = {
    val stored = read(spark, name, wh).schema
    require(!stored.fieldNames.contains(column.name),
      s"ALTER '$name': column ${column.name} already exists")
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(stored.fields :+ column))
      .write.mode("append").parquet(dir(wh, name))
  }

  /** MERGE (upsert) INTO name: rows in `updates` replace stored rows
    * with the same key; unmatched update rows are inserted. Copy-on-
    * write over immutable files — the survivors (stored rows whose
    * key has no update) are computed with one LEFT ANTI join, unioned
    * with the updates, and rewritten. `updates` must carry one row
    * per key (enforced — "multiple matches" is an error in every
    * MERGE dialect rather than a nondeterministic pick).
    *
    * Scale: the anti join shuffles on the key like any equi-join
    * (broadcast when the update batch is small — the common case);
    * the rewrite cost is O(table), which is what copy-on-write means.
    * Workloads with frequent small upserts should use the KV run
    * layout ([[graft.kv.KVTable]]) — merge-on-read there, rewrite
    * here — exactly the LSM-vs-warehouse split the reference draws. */
  def merge(spark: SparkSession, name: String, updates: DataFrame,
            keyCol: String, wh: String = defaultWarehouse): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dupKeys = updates.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"MERGE into '$name': update batch has duplicate key ${dupKeys.headOption.map(_.get(0))}")
    val stored = read(spark, name, wh)
    require(stored.columns.sameElements(updates.columns),
      s"MERGE into '$name': update schema ${updates.columns.mkString(",")} != stored ${stored.columns.mkString(",")}")
    val next = stored.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
      .select(stored.columns.map(col).toSeq: _*)
      .unionByName(updates)
    rewrite(spark, name, next, wh)
  }

  /** DELETE FROM name WHERE predicate: copy-on-write retain of the
    * complement (NULL predicate rows are kept — SQL DELETE only
    * removes rows where the predicate is TRUE). */
  def delete(spark: SparkSession, name: String,
             predicate: org.apache.spark.sql.Column,
             wh: String = defaultWarehouse): Unit = {
    import org.apache.spark.sql.functions.coalesce
    import org.apache.spark.sql.functions.lit
    val stored = read(spark, name, wh)
    rewrite(spark, name, stored.filter(!coalesce(predicate, lit(false))), wh)
  }

  /** UPDATE name SET col = expr, ... WHERE predicate: copy-on-write
    * conditional rewrite. NULL predicate rows are left unchanged (SQL
    * UPDATE touches only rows where the predicate is TRUE), and every
    * SET expression evaluates against the PRE-update row (standard
    * UPDATE semantics — `SET a = b, b = a` swaps). Set columns must
    * exist; assignment casts to the stored column's type so the table
    * schema can never drift under updates. */
  def update(spark: SparkSession, name: String,
             predicate: org.apache.spark.sql.Column,
             sets: Seq[(String, org.apache.spark.sql.Column)],
             wh: String = defaultWarehouse): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val stored = read(spark, name, wh)
    val bad = sets.map(_._1).filterNot(stored.columns.contains)
    require(bad.isEmpty, s"UPDATE '$name': unknown column(s) ${bad.mkString(",")}")
    require(sets.map(_._1).distinct.size == sets.size,
      s"UPDATE '$name': duplicate SET column (the first assignment would be silently lost)")
    val setMap = sets.toMap
    val hit = coalesce(predicate, lit(false))
    val next = stored.select(stored.schema.fields.map { f =>
      setMap.get(f.name) match {
        case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }.toSeq: _*)
    rewrite(spark, name, next, wh)
  }

  /** Copy-on-write rewrite: materialize to a staging dir first, then
    * swap (the object-store analog is write-new-prefix + pointer
    * flip). The old directory is renamed ASIDE before staging renames
    * in — at no point is the data deleted while it is the only copy,
    * so a crash anywhere leaves either the old table or the new one
    * (plus at worst a recoverable `.__old`/`.__staging` residue),
    * never nothing. */
  private def rewrite(spark: SparkSession, name: String, next: DataFrame,
                      wh: String): Unit = {
    val staging = dir(wh, s"$name.__staging")
    val oldAside = dir(wh, s"$name.__old")
    next.write.mode("overwrite").parquet(staging)
    drop(s"$name.__old", wh) // clear residue from an earlier crash
    val live = new java.io.File(dir(wh, name))
    if (live.exists())
      require(live.renameTo(new java.io.File(oldAside)),
        s"table rewrite: could not move '$name' aside")
    require(new java.io.File(staging).renameTo(live),
      s"table rewrite swap failed for '$name' (old data preserved at $oldAside)")
    drop(s"$name.__old", wh)
  }

  /** DROP TABLE IF EXISTS name. */
  def drop(name: String, wh: String = defaultWarehouse): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val d = new java.io.File(dir(wh, name))
    if (d.exists()) rm(d)
  }

  /** Table names present in the warehouse. */
  def tables(wh: String = defaultWarehouse): Seq[String] = {
    val root = new java.io.File(wh)
    if (!root.exists()) Seq.empty
    else root.listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(n => n.endsWith(".__staging") || n.endsWith(".__old"))
      .toSeq.sorted
  }
}

/** TIME TRAVEL over managed tables — the warehouse face of the KV
  * version history ([[graft.kv.KVTable]] keeps per-key seq versions;
  * this keeps whole-TABLE versions): every write lands in a fresh
  * immutable `v<N>/` directory and a one-line `LATEST` pointer file
  * flips atomically (tmp + rename) — the Delta/Iceberg snapshot
  * pattern without the log format. Readers pin a version by reading
  * the pointer once; concurrent writers never touch a published
  * directory, so an AS OF read is reproducible forever (or until
  * [[vacuum]]). Version data is parquet like everything else —
  * pruning/pushdown unchanged; the pointer file is the only
  * driver-side metadata. */
object VersionedTables {

  private def root(wh: String, name: String) = s"$wh/$name"
  private def vdir(wh: String, name: String, v: Int) = s"${root(wh, name)}/v$v"

  /** Latest published version, -1 if none. */
  def latest(name: String, wh: String = ManagedTables.defaultWarehouse): Int = {
    val p = java.nio.file.Paths.get(root(wh, name), "LATEST")
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toInt
    else -1
  }

  /** Publish `df` as the next version; returns the version number.
    * The data dir is complete before the pointer flips, so readers
    * can never observe a half-written version. */
  def write(spark: SparkSession, name: String, df: DataFrame,
            wh: String = ManagedTables.defaultWarehouse): Int = {
    val v = latest(name, wh) + 1
    df.write.mode("overwrite").parquet(vdir(wh, name, v))
    val dirP = java.nio.file.Paths.get(root(wh, name))
    val tmp = dirP.resolve("LATEST.__tmp")
    java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dirP.resolve("LATEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** Read AS OF `version` (default: latest). Only PUBLISHED versions
    * (v ≤ the LATEST pointer) are readable: an on-disk dir beyond the
    * pointer is a crashed write's orphan whose data may be partial,
    * so asking for it fails loudly instead of silently returning
    * whatever bytes landed before the crash. */
  def read(spark: SparkSession, name: String, version: Option[Int] = None,
           wh: String = ManagedTables.defaultWarehouse): DataFrame = {
    val lat = latest(name, wh)
    val v = version.getOrElse(lat)
    require(v >= 0, s"versioned table '$name' has no published version")
    require(v <= lat,
      s"versioned table '$name' has no published version $v (latest: $lat)")
    spark.read.parquet(vdir(wh, name, v))
  }

  /** ALL on-disk version dir numbers, ascending — INCLUDING
    * unpublished orphans (v > the LATEST pointer) left by crashed
    * writes, which `read` refuses and `retain` neither counts nor
    * deletes. Filter by `latest(name)` to get published versions. */
  def versions(name: String, wh: String = ManagedTables.defaultWarehouse): Seq[Int] = {
    val d = new java.io.File(root(wh, name))
    if (!d.exists()) Seq.empty
    else d.listFiles().filter(_.isDirectory).map(_.getName)
      .collect { case s if s.startsWith("v") => s.drop(1).toInt }.toSeq.sorted
  }

  /** RETENTION vacuum (Delta `VACUUM` / Iceberg `expireSnapshots`):
    * delete every PUBLISHED version older than the newest `keepLast`,
    * returning the versions removed. "Published" is anchored on the
    * `LATEST` pointer, not on-disk directories — an orphan dir from a
    * write that crashed before its pointer flip (v > latest) neither
    * counts toward `keepLast` nor shields a published version from
    * expiry, so retain can never delete the version LATEST points to
    * and never leaves the pointer dangling. The pointer itself is
    * never touched — current readers are unaffected; only AS OF reads
    * of expired versions lose their data (they fail loudly on the
    * missing directory, never silently read partial data, because
    * deletion is per-version-directory and a version is only ever
    * whole). Driver-side work is file metadata only. */
  def retain(name: String, keepLast: Int,
             wh: String = ManagedTables.defaultWarehouse): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val lat = latest(name, wh)
    val expired = versions(name, wh).filter(_ <= lat - keepLast)
    expired.foreach { v =>
      LocalDir.deleteRecursively(new java.io.File(vdir(wh, name, v)))
    }
    expired
  }

  /** Drop all versions (test hygiene / retention). */
  def vacuum(name: String, wh: String = ManagedTables.defaultWarehouse): Unit =
    ManagedTables.drop(name, wh)
}
