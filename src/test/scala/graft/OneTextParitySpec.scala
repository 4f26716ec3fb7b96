package graft

import org.apache.spark.sql.DataFrame

import graft.sources.Tables
import graft.streaming.Streams

/** Batch-text ↔ streaming-face parity: stream_sessionize builds its
  * batch plan from one SQL text (a lag/cumsum window bound through
  * `graft.plans.SqlOver`), while its API face `Streams.sessionize`
  * keeps the `session_window` aggregate, the only session form
  * Structured Streaming accepts. The two constructions cannot share
  * a builder, so this test runs both on the same input and asserts
  * row-identical output. (q30 and q31 call their API faces directly
  * and have no second plan to compare.) */
class OneTextParitySpec extends SparkSuite {

  private def assertSameRows(sql: DataFrame, api: DataFrame): Unit = {
    val extra = sql.exceptAll(api).count()
    val missing = api.exceptAll(sql).count()
    assert(extra == 0 && missing == 0,
      s"one-text vs API-face diverged: $extra rows only in the sql() " +
        s"plan, $missing only in the API plan")
  }

  test("stream_sessionize one-text SQL == Streams.sessionize API face") {
    val op = SparkEntry.queries("stream_sessionize")(spark, sfDir)
    val api = Streams.sessionize(Tables.load(spark, sfDir, "events"))
    assertSameRows(op, api)
  }
}
