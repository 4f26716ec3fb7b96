package graft

import java.io.File
import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

import graft.sources.{LocalDir, SnapshotParquetFormat, Tables}

/** `Tables.load` reads through [[SnapshotParquetFormat]], which reuses
  * one Parquet reader, and its broadcast Hadoop conf, per scan shape. */
class SnapshotParquetSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private val q2 = SparkEntry.queries("q2_filter_project")

  /** Readers built while `body` runs. */
  private def built(body: => Unit): Long = {
    val before = SnapshotParquetFormat.readersBuilt
    body
    SnapshotParquetFormat.readersBuilt - before
  }

  test("a second call of q2 reuses its reader; another filter gets its own") {
    val s = spark.newSession()
    val first = rows(q2(s, sfDir))
    assert(built(assert(rows(q2(s, sfDir)) == first)) == 0,
      "the second call of q2 built a reader again")
    val li = Tables.load(s, sfDir, "lineitem")
    val keys = li.select("l_orderkey").distinct().collect().map(_.get(0)).take(2)
    def one(k: Any) = li.filter(col("l_orderkey") === k).select("l_orderkey", "l_linenumber")
    assert(built(one(keys(0)).collect()) == 1)
    assert(built(one(keys(0)).collect()) == 0)
    assert(built(assert(rows(one(keys(1))) ==
      rows(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_orderkey") === keys(1)).select("l_orderkey", "l_linenumber")))) == 1,
      "a scan with another pushed filter did not get a reader of its own")
  }

  test("turning the vectorized reader off, or resizing its batches, gets its own reader and the same rows") {
    // the conf is read from the session the relation was loaded with,
    // so the scan is loaded on the session whose conf changes
    val s = spark.newSession()
    def scan = Tables.load(s, sfDir, "lineitem")
      .filter(col("l_quantity") < 24).select("l_orderkey", "l_linenumber", "l_shipdate")
    val vectorized = rows(scan)
    // the vectorized switch also reaches the reader as an option; the
    // batch size reaches it only through the confs
    for ((k, v) <- Seq("spark.sql.parquet.enableVectorizedReader" -> "false",
                       "spark.sql.parquet.columnarReaderBatchSize" -> "1024")) {
      s.conf.set(k, v)
      try {
        var other = Seq.empty[String]
        assert(built { other = rows(scan) } == 1, s"$k=$v reused another scan's reader")
        assert(other == vectorized)
        assert(built(rows(scan)) == 0)
      } finally s.conf.unset(k)
    }
  }

  test("a table rewritten with new rows is read through the memoized reader") {
    val dir = Paths.get("target/snapshot_parquet_spec").toAbsolutePath.normalize
    SparkSuite.copyTables(Paths.get(sfDir).toAbsolutePath.normalize, dir)
    val s = spark.newSession()
    def scan = Tables.load(s, dir.toString, "nation").select("n_nationkey", "n_name")
    val before = rows(scan)
    SparkSuite.rewrite(spark, dir.toString, "nation")(df =>
      df.withColumn("n_nationkey", col("n_nationkey") + 500))
    var after = Seq.empty[String]
    assert(built { after = rows(scan) } == 0, "the rewritten table built a new reader")
    assert(after.size == before.size)
    assert(after == rows(spark.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_name")))
    assert(after != before)
    LocalDir.deleteRecursively(new File(dir.toString))
  }

  test(s"${SnapshotParquetFormat.MaxReaders + 1} scan shapes leave ${SnapshotParquetFormat.MaxReaders} readers") {
    val s = spark.newSession()
    val li = Tables.load(s, sfDir, "lineitem")
    val n = SnapshotParquetFormat.MaxReaders + 1
    val newReaders = built((0 until n).foreach(i =>
      li.filter(col("l_orderkey") === -1000 - i).select("l_orderkey").collect()))
    assert(newReaders == n)
    assert(SnapshotParquetFormat.entries == SnapshotParquetFormat.MaxReaders)
  }

  test("relations use the snapshot format and explain still prints Format: Parquet") {
    val df = q2(spark, sfDir)
    val formats = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.fileFormat }
    assert(formats.nonEmpty && formats.forall(_.isInstanceOf[SnapshotParquetFormat]))
    val text = df.queryExecution.executedPlan.toString
    assert(text.contains("Format: Parquet"), text)
    assert(text.contains("FileScan parquet"), text)
  }
}
