package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's codegen cache holds a working set larger than its default
  * 100 entries (graft.api.GraftSession.CodegenCacheEntries): plans run
  * once and then again compile nothing the second time. */
class CodegenCacheSpec extends SparkSuite {

  /** distinct plans: each inlines its own literal, so each generates
    * its own source */
  private val K = 150
  private val SparkDefault = 100

  private def compiles(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def runAll(): Unit = (1 to K).foreach { i =>
    val rows = spark.range(0, 4, 1, 1)
      .select((col("id") * lit(1000003L + i)).as("x")).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 4L).map(_ * (1000003L + i)))
  }

  test(s"$K distinct plans compile more classes than Spark's default cache holds, then none") {
    val first = compiles(runAll())
    assert(first > SparkDefault,
      s"the first pass compiled $first classes, no more than Spark's default cache holds")
    assert(compiles(runAll()) == 0, "the second pass recompiled evicted classes")
  }
}
