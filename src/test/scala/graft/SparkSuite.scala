package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small parallelism for test speed;
  * the production builder is graft.api.GraftSession). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir: String = SparkSuite.sfDirDefault
}

/** Orders a streaming-fixture directory's chunks without wall-clock
  * waits (r13): the file stream source replays unread files oldest-
  * mtime-first, so these fixtures used to `Thread.sleep(1100)` after
  * every chunk write to let the clock itself produce distinct mtimes
  * — 2–4.4 s of pure wait per fixture, ~40 s across the suite.
  * Stamping each chunk's files with an explicit strictly increasing
  * mtime preserves the exact replay order with zero waiting. */
final class ChunkStamper(dir: String) {
  private val stamped = scala.collection.mutable.Set[String]()
  // far in the past so any file a test writes AFTER the stamped
  // chunks (none today) still sorts last; stamp() checks that it stays
  // in the past
  private var t = System.currentTimeMillis() - 3600000L

  /** Stamp every not-yet-stamped file in `dir` with this chunk's
    * mtime. Call once after each chunk write, in arrival order. */
  def stamp(): Unit = {
    t += 10000L
    require(t < System.currentTimeMillis(),
      s"chunk stamp $t is not below the current time: too many chunks in $dir")
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        if (stamped.add(p.toString))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t))
      }
    } finally s.close()
  }
}

object SparkSuite {
  /** Copies every table of `from` into a fresh `to`, for specs that
    * rewrite tables. */
  def copyTables(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    graft.sources.LocalDir.deleteRecursively(to.toFile)
    java.nio.file.Files.createDirectories(to)
    graft.sources.Tables.all.foreach { t =>
      val src = from.resolve(s"$t.parquet")
      val walk = java.nio.file.Files.walk(src)
      try walk.iterator().asScala.foreach(p => java.nio.file.Files.copy(p,
        to.resolve(s"$t.parquet").resolve(src.relativize(p).toString)))
      finally walk.close()
    }
  }

  /** Overwrites table `name` in `dir` with `f` of its current rows,
    * collected first so the write does not read the files it
    * replaces. */
  def rewrite(spark: SparkSession, dir: String, name: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val path = s"$dir/$name.parquet"
    val cur = spark.read.parquet(path)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(cur.collect(): _*), cur.schema)
    f(local).write.mode("overwrite").parquet(path)
  }

  /** The test data directory, shared by every spec (incl. the
    * session-free OracleTypeLintSpec — one knob, no drift). */
  val sfDirDefault: String =
    sys.env.getOrElse("GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.api.GraftSession.CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
