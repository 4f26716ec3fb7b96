package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{avg, col}

import graft.operators.Tuned
import graft.plans.SqlOver
import graft.sources.{LocalDir, Tables}

/** Operators are safe to call from several callers on one session:
  * two threads build the SQL-text ops concurrently on ONE session,
  * each over its own data directory (the second a copy of the test
  * tables under `target/`). Every built plan must read only its own
  * directory's files, and no temp view may be left on the caller's
  * session or on the derived sessions the ops run on. A temp view
  * would break both: it is a session-global name, so one caller
  * re-pointing it can redirect another's plan between registration
  * and analysis. */
class OpIsolationSpec extends SparkSuite {

  private val ops = Seq("q1_agg", "q10_multi_join", "q30_range_join",
    "q31_asof_join", "stream_sessionize", "q14_scalar_subquery",
    "q15_derived_table", "q32_correlated_subquery", "q76_lateral_topn")
  private val rounds = 20

  private def copyTables(from: Path, to: Path): Unit = {
    LocalDir.deleteRecursively(to.toFile)
    Files.createDirectories(to)
    Tables.all.foreach { t =>
      val src = from.resolve(s"$t.parquet")
      val walk = Files.walk(src)
      try walk.iterator().asScala.foreach(p =>
        Files.copy(p, to.resolve(s"$t.parquet").resolve(src.relativize(p).toString)))
      finally walk.close()
    }
  }

  private def tempViews(s: SparkSession): Seq[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq

  test("ops built concurrently on one session read only their own dir and register no view") {
    val dirA = Paths.get(sfDir).toAbsolutePath.normalize
    val dirB = Paths.get("target/op_isolation_sf").toAbsolutePath.normalize
    copyTables(dirA, dirB)
    val caller = spark.newSession()
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val misreads = try {
      val futures = Seq(dirA, dirB).map { dir =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = {
            barrier.await()
            for (_ <- 1 to rounds; op <- ops;
                 f <- SparkEntry.queries(op)(caller, dir.toString).inputFiles
                 if !Paths.get(new java.net.URI(f)).startsWith(dir))
            yield s"$op over $dir read $f"
          }
        })
      }
      futures.flatMap(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    assert(misreads.size == 0,
      s"plans read another caller's files, e.g. ${misreads.take(3).mkString("; ")}")

    val derived = Seq(dirA, dirB).flatMap { dir =>
      val events = Tables.load(caller, dir.toString, "events")
      Seq(Tuned.sizedOneJob(caller, Tables.load(caller, dir.toString, "lineitem")),
        Tuned.sizedOneJob(caller, events),
        Tuned.sizedOneJob(caller, caller.sparkContext.defaultParallelism, events))
    }
    for (s <- caller +: Tuned.sizedOneJob(caller) +: derived.distinct)
      assert(tempViews(s).isEmpty, s"temp views left on a session: ${tempViews(s)}")
    LocalDir.deleteRecursively(new File(dirB.toString))
  }

  test("q65 reuses one derived session per caller and leaves the caller's confs alone") {
    val caller = spark.newSession()
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled")
    val before = keys.map(caller.conf.get)
    val q65 = SparkEntry.queries("q65_runtime_bloom_join")
    val (a, b) = (q65(caller, sfDir), q65(caller, sfDir))
    assert(a.sparkSession eq b.sparkSession,
      "each construction of q65 built a session of its own")
    assert(!(a.sparkSession eq caller), "q65 ran on the caller's own session")
    assert(keys.map(caller.conf.get) == before, "q65 changed the caller's confs")
  }

  /** Whether every file scan of `df`'s executed plan is vectorized. */
  private def scansColumnar(df: DataFrame): Boolean = {
    val scans = df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no file scan")
    scans.forall(_.supportsColumnar)
  }

  test("derived sessions inherit the caller's runtime confs and leave them alone") {
    val caller = spark.newSession()
    val q2 = SparkEntry.queries("q2_filter_project")
    def columnar: Boolean = scansColumnar(q2(caller, sfDir))
    assert(columnar, "q2's scan is not vectorized by default")
    val key = "spark.sql.parquet.enableVectorizedReader"
    caller.conf.set(key, "false")
    val confs = caller.conf.getAll
    try {
      assert(!columnar, s"q2's derived session ignored the caller's $key=false")
      assert(caller.conf.getAll == confs, "q2 changed the caller's confs")
    } finally caller.conf.unset(key)
    assert(columnar, s"unsetting $key on the caller left q2's scan row-based")
  }

  test("a plan prepared on a derived session that another op re-synced is rebuilt") {
    // q1 and q22 pin the same confs (sizedOneJob with no inputs), so
    // they share one derived session per caller
    val caller = spark.newSession()
    val q1 = SparkEntry.queries("q1_agg")
    val q22 = SparkEntry.queries("q22_window_funcs")
    val key = "spark.sql.parquet.enableVectorizedReader"
    q1(caller, sfDir)
    val before = q1(caller, sfDir)
    assert(scansColumnar(before))
    caller.conf.set(key, "false")
    try {
      val other = q22(caller, sfDir)
      assert(other.sparkSession eq before.sparkSession, "q1 and q22 do not share a session")
      assert(!scansColumnar(other))
    } finally caller.conf.unset(key)
    val after = q1(caller, sfDir)
    assert(after.sparkSession.conf.getOption(key) == caller.conf.getOption(key),
      s"q1 ran on a session that still holds the $key the caller removed")
    assert(scansColumnar(after))
  }

  test("SqlOver binds only the relations it is given, never the session catalog") {
    val s = spark.newSession()
    val orders = Tables.load(s, sfDir, "orders")
    orders.limit(1).createOrReplaceTempView("customer")
    val e = intercept[IllegalArgumentException](SqlOver(s,
      "SELECT * FROM orders JOIN customer ON o_custkey = c_custkey",
      "orders" -> orders))
    assert(e.getMessage.contains("`customer` is not bound"), e.getMessage)
    // bound names resolve inside CTE definitions and scalar subqueries,
    // case-insensitively; a CTE name stays the CTE
    val got = SqlOver(s,
      """WITH big AS (SELECT * FROM ORDERS
        |             WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders))
        |SELECT count(1) FROM big""".stripMargin,
      "orders" -> orders).head().getLong(0)
    val mean = orders.agg(avg("o_totalprice")).head().getDouble(0)
    assert(got == orders.filter(col("o_totalprice") > mean).count())
  }
}
