package graft

import java.io.File
import java.nio.file.Paths

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.scheduler.graft.Jobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import graft.sources.{LocalDir, Tables}

/** Prepare once per table snapshot, execute per call: `Op.run`'s
  * prepared-plan memo and `Tables.load`'s relation cache. */
class PreparedPlanSpec extends SparkSuite {

  /** A private copy of the test tables, so a spec can rewrite them. */
  private def privateDir(name: String): String = {
    val dir = Paths.get(s"target/prepared_spec/$name").toAbsolutePath.normalize
    SparkSuite.copyTables(Paths.get(sfDir).toAbsolutePath.normalize, dir)
    dir.toString
  }

  private def op(name: String): Op = SparkEntry.ops.find(_.name == name).get

  /** Jobs and stages `body` runs, counted by a listener: the spec waits
    * until the listener has seen every job the context submitted. */
  private def jobsAndStages(s: SparkSession)(body: => Unit): (Int, Int) = {
    val sc = s.sparkContext
    @volatile var jobs = 0
    @volatile var stages = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs += 1; stages += e.stageInfos.size
      }
    }
    sc.addSparkListener(l)
    try {
      val before = Jobs.submitted(sc)
      body
      val want = Jobs.submitted(sc) - before
      val deadline = System.nanoTime() + 30e9.toLong
      while (l.synchronized(jobs) < want && System.nanoTime() < deadline) Thread.sleep(10)
      l.synchronized((jobs, stages))
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("Tables.load keeps one entry per (session, path) and reads every rewrite") {
    val dir = privateDir("tables_cache")
    val s = spark.newSession()
    val path = s"$dir/nation.parquet"
    var last = Tables.load(s, dir, "nation").count()
    for (round <- 1 to 3) {
      SparkSuite.rewrite(spark, dir, "nation")(df =>
        df.unionByName(df.limit(1).withColumn("n_nationkey", col("n_nationkey") + 1000 * round)))
      val got = Tables.load(s, dir, "nation")
      assert(got.count() == last + 1, s"rewrite $round was not read")
      assert(got.filter(col("n_nationkey") >= 1000 * round).count() == 1)
      assert(Tables.cachedLoads(path) == 1,
        s"${Tables.cachedLoads(path)} cached loads of one path after rewrite $round")
      last += 1
    }
    LocalDir.deleteRecursively(new File(dir))
  }

  test("a table rewritten between two calls is read fresh: new rows, then a new schema") {
    val dir = privateDir("rewrite")
    val s = spark.newSession()
    val q2 = op("q2_filter_project")
    q2.run(s, dir).collect()
    val before = rows(q2.run(s, dir))
    assert(q2.isPrepared(s, dir))
    assert(before.nonEmpty)

    SparkSuite.rewrite(spark, dir, "lineitem")(df =>
      df.unionByName(df.withColumn("l_linenumber", col("l_linenumber") + 100)))
    val doubled = q2.run(s, dir)
    assert(rows(doubled).size == 2 * before.size, "the rewritten rows were not read")
    assert(doubled.filter(col("l_linenumber") > 100).count() == before.size)

    assert(q2.run(s, dir).schema("l_linenumber").dataType != StringType)
    SparkSuite.rewrite(spark, dir, "lineitem")(df =>
      df.withColumn("l_linenumber", col("l_linenumber").cast(StringType)))
    val retyped = q2.run(s, dir)
    assert(retyped.schema("l_linenumber").dataType == StringType,
      s"the new schema was not read: ${retyped.schema("l_linenumber").dataType}")
    assert(retyped.count() == 2 * before.size)
    LocalDir.deleteRecursively(new File(dir))
  }

  test("two calls share no QueryExecution or executed plan and run the same jobs and stages") {
    val s = spark.newSession()
    for (name <- Seq("q1_agg", "q10_multi_join", "stream_sessionize")) {
      val o = op(name)
      o.run(s, sfDir).collect()
      val (a, b) = (o.run(s, sfDir), o.run(s, sfDir))
      assert(o.isPrepared(s, sfDir), s"$name is not memoized")
      assert(a.queryExecution.analyzed eq b.queryExecution.analyzed,
        s"$name: the two calls analyzed again")
      val ca = jobsAndStages(s)(a.collect())
      val cb = jobsAndStages(s)(b.collect())
      assert(!(a.queryExecution eq b.queryExecution), s"$name shares a QueryExecution")
      assert(!(a.queryExecution.executedPlan eq b.queryExecution.executedPlan),
        s"$name shares an executed plan")
      assert(ca == cb, s"$name: (jobs, stages) $ca then $cb")
      assert(ca._1 > 0)
      assert(rows(a) == rows(b))
    }
  }

  test("changing a conf on the caller rebuilds the plan") {
    val s = spark.newSession()
    val q1 = op("q1_agg")
    q1.run(s, sfDir)
    val a = q1.run(s, sfDir).queryExecution.analyzed
    assert(q1.run(s, sfDir).queryExecution.analyzed eq a)
    val ansi = s.conf.get("spark.sql.ansi.enabled").toBoolean
    s.conf.set("spark.sql.ansi.enabled", (!ansi).toString)
    val b = q1.run(s, sfDir).queryExecution.analyzed
    assert(!(b eq a), "the plan survived a conf change")
    assert(q1.run(s, sfDir).queryExecution.analyzed eq b, "the rebuilt plan was not kept")
    s.conf.set("spark.sql.ansi.enabled", ansi.toString)
    assert(!(q1.run(s, sfDir).queryExecution.analyzed eq b))
  }

  test("an op whose construction runs a job runs it on every call") {
    val s = spark.newSession()
    val kw = op("kv_write_batch")
    val first = rows(kw.run(s, sfDir))
    val sc = s.sparkContext
    for (_ <- 1 to 2) {
      val before = Jobs.submitted(sc)
      val df = kw.run(s, sfDir)
      assert(Jobs.submitted(sc) > before, "the construction's job did not run")
      assert(!kw.isPrepared(s, sfDir))
      assert(rows(df) == first)
    }
  }

  test("all 12 dashboard ops are memoized") {
    val dashboard = Seq("q1_agg", "q2_filter_project", "q10_multi_join",
      "q28_topn_agg", "q22_window_funcs", "q30_range_join", "q31_asof_join",
      "kv_range_scan", "kv_compact", "dedup_exact", "stream_window_agg",
      "stream_sessionize")
    val s = spark.newSession()
    val notPrepared = dashboard.filterNot { name =>
      val o = op(name)
      val want = rows(o.run(s, sfDir))
      val got = rows(o.run(s, sfDir))
      assert(got == want, s"$name changed between calls")
      o.isPrepared(s, sfDir)
    }
    assert(notPrepared.isEmpty, s"not memoized: ${notPrepared.mkString(", ")}")
  }
}
