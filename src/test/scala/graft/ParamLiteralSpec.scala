package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.kv.{KVLog, KVTable}
import graft.plans.{ParamLiteral, ParamLiterals}

/** The literal-parameter rule (graft.plans.ParamLiterals): KV reads
  * with different keys generate identical code, compile once, keep
  * their pushed filters and explain text, and return what an
  * in-memory model of the same writes says. */
class ParamLiteralSpec extends SparkSuite {

  private val rnd = new scala.util.Random(23)
  /** (key, seq, tombstone, v) over 60 keys, seqs 1..600 in 3 runs */
  private val history: Seq[(Long, Long, Boolean, Double)] =
    (1 to 600).map(s => (rnd.nextInt(60).toLong, s.toLong, rnd.nextInt(6) == 0,
      rnd.nextInt(10000) / 4.0))

  private lazy val log: KVLog = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_param").toString
    val l = KVLog(dir + "/log", "key", "seq", "tombstone")
    history.grouped(200).foreach(b => l.append(b.toDF("key", "seq", "tombstone", "v")))
    l
  }

  private lazy val noAqe: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val sessions: Seq[(String, () => SparkSession)] =
    Seq("AQE on" -> (() => spark), "AQE off" -> (() => noAqe))

  private val model: Map[Long, (Long, Double)] =
    history.groupBy(_._1).values.map(_.maxBy(_._2)).collect {
      case (k, s, false, v) => k -> (s, v)
    }.toMap

  private val reads: Seq[(String, (KVTable, Long) => DataFrame)] = Seq(
    "get" -> ((t, k) => t.get(lit(k))),
    "range" -> ((t, k) => t.range(lit(k), lit(k + 5))),
    "multiGet" -> ((t, k) => t.multiGet(Seq(k, k + 7))))

  private def keysOf(read: String, k: Long): Seq[Long] = read match {
    case "get" => Seq(k)
    case "range" => k to k + 5
    case _ => Seq(k, k + 7)
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** every whole-stage codegen node of an executed plan */
  private def codegenStages(p: SparkPlan): Seq[WholeStageCodegenExec] = p match {
    case a: AdaptiveSparkPlanExec => codegenStages(a.executedPlan)
    case q: QueryStageExec => codegenStages(q.plan)
    case w: WholeStageCodegenExec => w +: codegenStages(w.child)
    case other => other.children.flatMap(codegenStages)
  }

  private def bodies(df: DataFrame): Seq[String] = {
    df.collect()
    codegenStages(df.queryExecution.executedPlan).map(_.doCodeGen()._2.body)
  }

  private def compiles(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  for ((mode, session) <- sessions; (read, build) <- reads) {
    test(s"$read, $mode: generated code is identical across keys and compiles once") {
      val t = log.table(session())
      val a = bodies(build(t, 3L))
      assert(a.nonEmpty, "no whole-stage codegen in the read's plan")
      assert(bodies(build(t, 11L)) == a,
        s"$read generated different code for a different key")
      assert(compiles(build(t, 29L).collect()) == 0,
        s"$read compiled again for a new key")
    }
  }

  test("pushed filters keep the literal values at the scan") {
    val t = log.table(spark)
    def explain(df: DataFrame) =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(explain(t.get(lit(17L))).contains("EqualTo(key,17)"))
    val r = explain(t.range(lit(20L), lit(25L)))
    assert(r.contains("GreaterThanOrEqual(key,20)") && r.contains("LessThanOrEqual(key,25)"), r)
    assert(explain(t.multiGet(Seq(4L, 9L))).contains("In(key, [4,9])"))
  }

  test("filter explain text is unchanged by the rewrite") {
    val df = log.table(noAqe).range(lit(20L), lit(25L))
    def filters(p: SparkPlan) = p.collect { case f: FilterExec => f.condition }
    val before = filters(df.queryExecution.sparkPlan)
    val after = filters(df.queryExecution.executedPlan)
    assert(after.exists(_.exists(_.isInstanceOf[ParamLiteral])),
      "the rule did not rewrite the range bounds")
    assert(after.map(_.toString) == before.map(_.toString))
    assert(after.map(_.sql) == before.map(_.sql))
  }

  test("null and string literals stay inlined; NaN and strings filter correctly") {
    val child = spark.range(1).queryExecution.sparkPlan
    val id = AttributeReference("id", LongType)()
    val s = AttributeReference("s", StringType)()
    Seq(EqualTo(id, Literal(null, LongType)) -> false, EqualTo(s, Literal("x")) -> false,
        GreaterThan(id, Literal(3L)) -> true).foreach { case (c, parameterized) =>
      val rewritten = ParamLiterals(FilterExec(c, child))
        .collect { case f: FilterExec => f.condition }.head
      assert(rewritten.exists(_.isInstanceOf[ParamLiteral]) == parameterized,
        s"$c became $rewritten")
    }

    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_param_nan").toString + "/t"
    Seq(("a", Double.NaN), ("b", 1.0), ("a", 2.5), ("c", Double.NaN), ("x", -1.0))
      .toDF("s", "d").write.parquet(path)
    val data = spark.read.parquet(path)
    def count(df: DataFrame): Long = df.collect().length
    val nanEq = data.filter(col("d") === Double.NaN)
    assert(nanEq.queryExecution.executedPlan.exists {
      case f: FilterExec => f.condition.exists(_.isInstanceOf[ParamLiteral])
      case _ => false
    }, "the NaN operand was not parameterized")
    // Spark's NaN semantics: NaN = NaN, and NaN sorts above every value
    assert(count(nanEq) == 2)
    assert(count(data.filter(col("d") > 2.0)) == 3)
    assert(count(data.filter(col("d") < Double.NaN)) == 3)
    assert(count(data.filter(col("s") === "a")) == 2)
    assert(count(data.filter(col("s").isin("a", "x"))) == 3)
  }

  test("randomized keys: get, range and multiGet match the in-memory model") {
    val keys = Seq.fill(10)(rnd.nextInt(70).toLong)
    for ((mode, session) <- sessions; (read, build) <- reads; k <- keys) {
      val t = log.table(session())
      val want = keysOf(read, k).distinct.sorted.flatMap(x => model.get(x).map(v => (x, v._1, v._2)))
      assert(rows(build(t, k)) == want, s"$read($k), $mode")
    }
  }
}
