package graft

import java.io.File
import java.nio.file.Paths
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.{col, transform, when}

import graft.functions.VectorFunctions.toDouble
import graft.operators.Similarity
import graft.sources.{LocalDir, State, Tables}

/** Per-snapshot state, `graft.sources.State`: a memo keeps one entry
  * per key, replaced on a new stamp, builds once outside any map lock
  * and keeps no failed build; an on-disk artefact keeps one generation
  * per (family, dataset) and rebuilds a generation whose completeness
  * marker is gone. Works on a private copy of the test tables. */
class StateSpec extends SparkSuite {

  private lazy val dir: String = {
    val d = Paths.get("target/state_spec_sf").toAbsolutePath.normalize
    SparkSuite.copyTables(Paths.get(sfDir).toAbsolutePath.normalize, d)
    d.toString
  }

  /** Each artefact-backed op with the artefact family it builds. */
  private val artefactOps = Seq(
    "kv_secondary_index" -> "kvidx", "kv_log_ingest" -> "kvlog",
    "kv_checkpoint_restore" -> "kvlog", "kv_backup_incremental" -> "kvbk",
    "ann_ivf_persist" -> "ivf_index", "ann_ivf_append" -> "ivf_append",
    "ann_ivfpq" -> "ivfpq")

  /** The entries `family` holds for the spec's dataset. */
  private def generations(family: String): Seq[File] = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_"
    Option(new File(s"${State.Root}/graft_$family").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(tag)).sortBy(_.getName).toSeq
  }

  private def rows(op: String): Seq[String] =
    SparkEntry.queries(op)(spark, dir).collect().map(_.toString).toSeq.sorted

  private def pool[T](threads: Int)(body: java.util.concurrent.ExecutorService => T): T = {
    val p = Executors.newFixedThreadPool(threads)
    try body(p) finally p.shutdownNow()
  }

  private def task[T](body: => T): Callable[T] = new Callable[T] { def call(): T = body }

  override def afterAll(): Unit = {
    artefactOps.map(_._2).distinct.flatMap(generations).foreach(LocalDir.deleteRecursively)
    LocalDir.deleteRecursively(new File(dir))
    super.afterAll()
  }

  test("three rewrites leave one entry per key, and each read after a rewrite sees the new data") {
    val memos = Seq(Similarity.centroids, Similarity.codebooks, Similarity.sq8Scales)
    var before = Similarity.centroidsFor(spark, dir)
    for (round <- 0 until 3) {
      // flip the sign of every third vector: new centroids, codebook and scale
      SparkSuite.rewrite(spark, dir, "embeddings")(_.withColumn("embedding",
        when(col("vec_id") % 3 === round, transform(col("embedding"), x => -x))
          .otherwise(col("embedding"))))
      val fresh = Tables.load(spark.newSession(), dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val now = Similarity.centroidsFor(spark, dir)
      assert(now == Similarity.ivfCentroids(fresh), s"rewrite $round: stale centroids")
      assert(now != before, s"rewrite $round changed no centroid")
      assert(Similarity.codebookFor(spark, dir) == Similarity.pqTrain(Similarity.unitNorm(fresh)))
      assert(Similarity.sq8InvFor(spark, dir) == Similarity.sq8Inv(Similarity.unitNorm(fresh)))
      for (m <- memos)
        assert(m.keys.count(_ == dir) == 1,
          s"rewrite $round: ${m.keys.count(_ == dir)} entries for one dataset")
      before = now
    }
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val m = new State.Memo[String, Long, Int]
    val e = intercept[IllegalStateException](m("k", 1L)(throw new IllegalStateException("no build")))
    assert(e.getMessage == "no build")
    assert(m.keys.isEmpty)
    assert(m("k", 1L)(7) == 7)
    assert(m("k", 1L)(8) == 7)
    assert(m("k", 2L)(9) == 9)
    assert(m.keys == Seq("k"))
  }

  test("two threads on one key run the build once") {
    val m = new State.Memo[String, Long, Int]
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val got = pool(2) { p =>
      val fs = (1 to 2).map(_ => p.submit(task {
        start.await()
        m("k", 1L) { builds.incrementAndGet(); Thread.sleep(200); 42 }
      }))
      start.countDown()
      fs.map(_.get(30, TimeUnit.SECONDS))
    }
    assert(got == Seq(42, 42))
    assert(builds.get == 1, s"${builds.get} builds of one (key, stamp)")
  }

  test("a build on one key, parked on a latch, does not block a lookup on another") {
    // "Aa" and "BB" have one hash code, so they share a map bin: a
    // build under the bin's lock would block the other key
    assert("Aa".hashCode == "BB".hashCode)
    val m = new State.Memo[String, Long, Int]
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    pool(2) { p =>
      val a = p.submit(task(m("Aa", 1L) { entered.countDown(); release.await(); 1 }))
      assert(entered.await(30, TimeUnit.SECONDS))
      val b = p.submit(task(m("BB", 1L)(2)))
      try assert(b.get(10, TimeUnit.SECONDS) == 2, "the lookup on another key waited")
      finally release.countDown()
      assert(a.get(30, TimeUnit.SECONDS) == 1)
    }
  }

  test("after events and embeddings are rewritten, each artefact keeps one generation per dataset") {
    artefactOps.foreach { case (op, _) => rows(op) }
    SparkSuite.rewrite(spark, dir, "events")(identity)
    SparkSuite.rewrite(spark, dir, "embeddings")(identity)
    for ((op, family) <- artefactOps) {
      rows(op)
      val gens = generations(family)
      assert(gens.size == 1,
        s"$op left ${gens.size} generations of $family: ${gens.map(_.getName).mkString(", ")}")
      val table = if (family.startsWith("kv")) "events" else "embeddings"
      assert(gens.head.getName.endsWith(s"_${Tables.stamp(dir, table)}"),
        s"$op's generation ${gens.head.getName} is not at the current stamp")
    }
  }

  test("only a new generation sweeps, and only its own dataset's") {
    // `a-1` and `a.1` sanitize to one name; neither exists, so both
    // stamp -1
    val (a, b) = (new File(dir, "a-1").getPath, new File(dir, "a.1").getPath)
    def gen(d: String, format: String): File =
      new File(State.artifact("state_spec", d, "t", format)(g => new File(g).mkdirs()))
    try {
      val (a1, b1) = (gen(a, "1"), gen(b, "1"))
      val stray = new File(State.path("state_spec", a, "t", "0"))
      assert(stray.mkdirs())
      assert(gen(a, "1") == a1)
      assert(Seq(a1, b1, stray).forall(_.exists()),
        "a call at the current generation, or on another dataset, removed a generation")
      val a2 = gen(a, "2")
      assert(a2.exists() && !a1.exists() && !stray.exists(),
        "a new generation left an older one of its dataset")
      assert(b1.exists(), "a new generation removed another dataset's")
    } finally LocalDir.deleteRecursively(new File(s"${State.Root}/graft_state_spec"))
  }

  test("a generation whose completeness marker is removed is rebuilt") {
    def gen(family: String): String = {
      val gens = generations(family)
      assert(gens.size == 1, s"${gens.size} generations of $family")
      gens.head.getPath
    }
    val markers: Seq[(String, () => File)] = Seq(
      "ann_ivf_persist" -> (() => new File(s"${gen("ivf_index")}/_SUCCESS")),
      "ann_ivfpq" -> (() => new File(s"${gen("ivfpq")}/_SUCCESS")),
      "kv_secondary_index" -> (() => new File(s"${gen("kvidx")}/_SUCCESS")),
      "kv_log_ingest" -> (() => new File(
        new File(s"${gen("kvlog")}/log").listFiles().filter(_.getName.startsWith("run_"))
          .minBy(_.getName), "_SUCCESS")),
      "kv_checkpoint_restore" -> (() => new File(s"${gen("kvlog")}/ckpt/_CHECKPOINT")),
      "kv_backup_incremental" -> (() => new File(s"${gen("kvbk")}/inc/_CHECKPOINT_INC")))
    for ((op, marker) <- markers) {
      val want = rows(op)
      val m = marker()
      assert(m.delete(), s"$op: no marker at $m")
      assert(rows(op) == want, s"$op: the rebuilt generation reads other rows")
      assert(marker().exists(), s"$op: the generation was not rebuilt")
    }
  }
}
