package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.SparkEntry
import graft.api.GraftSession
import graft.sources.Tables

/** One benchmark run in one JVM: set-up, then a closed loop with one
  * client thread for `--seconds`, then a JSON result file for run.py.
  *
  * Set-up (session build, table loads, one untimed warm pass) runs
  * once, on this fresh JVM, so it includes the class loading and JIT
  * a new process pays; it is never mixed into the timed loop. A traced
  * run (`--trace 1`) alternates untraced rounds with rounds that carry
  * a SparkListener and per-phase span tags, so tracing overhead is read
  * in the same JVM under the same host and JIT state; it then times
  * graft's kernels alone.
  *
  * Usage (normally through run.py):
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --data-key K --work DIR --out FILE [--trace-file FILE]
  *        [--verified TSV]
  */
object Main {
  val workloads: Map[String, Seq[String]] = Map(
    "dashboard" -> Seq("q1_agg", "q2_filter_project", "q10_multi_join",
      "q28_topn_agg", "q22_window_funcs", "q30_range_join", "q31_asof_join",
      "kv_range_scan", "kv_compact", "dedup_exact", "stream_window_agg",
      "stream_sessionize"),
    // ann_ivf is left out: it persists its index under a fixed path
    // outside the benchmark's directory, so set-up would not repeat
    "llm_pipeline" -> Seq("dedup_minhash_lsh", "dedup_simhash",
      "dedup_embedding", "ann_lsh", "stats_sketch"),
    "kv_ingest" -> Seq("append", "get", "scan", "compact"))

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val workload = a("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val run = new Run(workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("data-key"), a("work"),
      a.get("trace-file"), a.get("verified"))
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(run.execute()))
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Order-insensitive fingerprint of a query's output rows: the row
    * count and the wrapping sum of a type-directed 64-bit hash of each
    * row, read while draining the executed plan per partition. */
  def drain(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val hasher = XxHash64(qe.executedPlan.output.zipWithIndex.map {
      case (at, i) => BoundReference(i, at.dataType, at.nullable)
    }, 42L)
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator
    val sum = sc.longAccumulator
    qe.toRdd.foreachPartition { (it: Iterator[InternalRow]) =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += hasher.eval(it.next()).asInstanceOf[Long]; n += 1 }
      rows.add(n)
      sum.add(h)
    }
    (rows.value.longValue, sum.value.longValue)
  }

  /** Rows read by the executed plan's leaves (its scans), from their
    * public `numOutputRows` SQL metrics, after execution. */
  def rowsExamined(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => rowsExamined(a.executedPlan)
    case q: QueryStageExec => rowsExamined(q.plan)
    case r: ReusedExchangeExec => rowsExamined(r.child)
    case p if p.children.isEmpty => p.metrics.get("numOutputRows").fold(0L)(_.value)
    case p => p.children.map(rowsExamined).sum
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
                dataDir: String, dataKey: String, work: String,
                traceFile: Option[String], verifiedFile: Option[String]) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val KvAmpPeriods = 2
  private var kvAmp = Map.empty[String, Long]
  /** kv_ingest's store, warmed by set-up and then timed */
  private var kv: KvIngest = _

  private val ops = workloads(workload)
  private val queries = SparkEntry.queries
  private val rng = new java.util.Random(seed)
  private var spark: SparkSession = _
  private val samples = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var calls = 0L
  private lazy val tracer = new Tracer
  /** whether the listener is attached: in traced runs, half the rounds */
  private var tracing = false
  /** each op's output schema, as the warm pass saw it */
  private val schemas = mutable.HashMap[String, String]()

  private def newSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder("graft-perfbench", s"local[$cpus]", Some(cpus))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.showConsoleProgress", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Time one op call through its phases: construct, then (for a
    * query plan) analyze, optimize and physical planning forced one by
    * one, then execute. In a traced run each phase is tagged so the
    * listener attributes its jobs. */
  private def call(op: String, round: Int, build: () => DataFrame,
                   exec: DataFrame => Any): (mutable.Map[String, Any], Any) = {
    calls += 1
    val id = calls
    val sc = spark.sparkContext
    def tag(phase: String): Unit =
      if (tracing) sc.setLocalProperty(Tracer.Key, s"c$id:$phase")
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "op" -> op,
      "round" -> round, "traced" -> tracing)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var mark = t0
    def lap(k: String): Unit = {
      val now = System.nanoTime(); rec(k) = (now - mark) / 1e9; mark = now
    }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var result: Any = null
    try {
      tag("construct")
      val df = build()
      lap("construct_s")
      if (df != null) {
        tag("analyze"); df.queryExecution.analyzed; lap("analyze_s")
        tag("optimize"); df.queryExecution.optimizedPlan; lap("optimize_s")
        tag("physical"); df.queryExecution.executedPlan; lap("physical_s")
      }
      rec("exec_start_ms") = System.currentTimeMillis()
      tag("exec")
      result = exec(df)
      lap("exec_s")
      rec("latency_s") = (System.nanoTime() - t0) / 1e9
      if (tracing && df != null) {
        val out = result match { case (n: Long, _) => n; case a: Array[_] => a.length.toLong; case _ => -1L }
        if (out > 0) rec("rows_examined_per_row_out") =
          rowsExamined(df.queryExecution.executedPlan).toDouble / out
      }
    } catch {
      case e: Throwable =>
        rec("latency_s") = (System.nanoTime() - t0) / 1e9
        rec("error") = e.toString.take(300)
        System.err.println(s"[perfbench] $op failed: $e")
    } finally {
      if (tracing) sc.setLocalProperty(Tracer.Key, null)
    }
    rec("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    rec("start_ms") = startMs
    (rec, result)
  }

  private def runQuery(op: String, round: Int): (mutable.Map[String, Any], Any) =
    call(op, round, () => queries(op)(spark, dataDir), drain)

  private def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    spark = newSession()
    val t1 = System.nanoTime()
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).schema)
    val t2 = System.nanoTime()
    if (workload == "kv_ingest") {
      // one whole compaction period, the unit the timed loop repeats.
      // It ends with a compaction, so the timed loop starts from a base
      // and no runs, the state every later period starts from.
      kv = new KvIngest(spark, s"$work/kv", seed)
      (1 to KvIngest.CompactEvery).foreach(_ => kv.cycle().foreach { case (_, st) =>
        val df = st.build(); st.check(st.run(df))
      })
    } else ops.foreach { op =>
      val df = queries(op)(spark, dataDir)
      schemas(op) = df.schema.catalogString
      drain(df)
    }
    val t3 = System.nanoTime()
    Map("session_s" -> (t1 - t0) / 1e9, "load_s" -> (t2 - t1) / 1e9,
      "warm_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9)
  }

  /** The one-row-plan probe graft.Bench defines: min of 12 drains. */
  private def floor(): Double = (1 to 12).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1).toDF().queryExecution.toRdd
      .foreachPartition((it: Iterator[InternalRow]) => while (it.hasNext) it.next())
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Reference fingerprint per op: a verified one from an earlier run
    * on the same data and output schema, or else this run's output
    * written as parquet for run.py to check against the DuckDB oracle
    * or the pinned result, fingerprinted by reading it back. */
  private def references(): Map[String, Map[String, Any]] = {
    val verified: Map[String, (Long, Long)] = verifiedFile.filter(f => new File(f).exists)
      .map(f => scala.io.Source.fromFile(f).getLines().map(_.split("\t")).collect {
        case Array(k, n, h) => k -> (n.toLong, h.toLong)
      }.toMap).getOrElse(Map.empty)
    val oracles = SparkEntry.oracleSql
    ops.map { op =>
      val key = sha1(s"$dataKey|$op|${schemas(op)}")
      val ref = verified.get(key) match {
        case Some((n, h)) => Map[String, Any]("status" -> "cached", "rows" -> n, "hash" -> h)
        case None =>
          val path = s"$work/verify/$op"
          queries(op)(spark, dataDir).write.mode("overwrite").parquet(path)
          val (n, h) = drain(spark.read.parquet(path))
          Map[String, Any]("status" -> "pending", "rows" -> n, "hash" -> h, "path" -> path)
      }
      op -> (ref + ("op" -> op) + ("key" -> key) + ("oracle" -> oracles.get(op)))
    }.toMap
  }

  /** Closed loop, one client: rounds of every op in a seeded order, at
    * least one, started while time remains and always finished, so each
    * op is sampled equally often. A traced run makes an even number of
    * rounds and traces them in the order untraced, traced, traced,
    * untraced, ..., so a trend over the run (JIT warm-up, host speed)
    * weighs on both kinds alike. */
  private def queryLoop(deadline: Long, refs: Map[String, Map[String, Any]]): Unit = {
    var round = 0
    while (round == 0 || (traced && round % 2 == 1) || System.nanoTime() < deadline) {
      setTracing(tracedRound(round))
      scala.util.Random.javaRandomToRandom(rng).shuffle(ops).foreach { op =>
        val (rec, res) = runQuery(op, round)
        val ref = refs(op)
        rec("ok") = !rec.contains("error") &&
          res == (ref("rows").asInstanceOf[Long], ref("hash").asInstanceOf[Long])
        samples += rec
      }
      round += 1
    }
    setTracing(false)
  }

  /** Closed loop of KV cycles, each started while time remains, and
    * at least `KvAmpPeriods` whole compaction periods in a run. An
    * untraced run stops at the first cycle boundary past the deadline,
    * so a period cut short does not add or drop a whole period's worth
    * of samples. A traced run makes an even number of whole periods and
    * traces them in the order [[queryLoop]] traces rounds. Write and
    * space amplification are read once, right after the compaction
    * that ends timed period `KvAmpPeriods`, so every run reports them
    * for the same amount of work: the warm period and that many more. */
  private def kvLoop(deadline: Long): Unit = {
    val every = KvIngest.CompactEvery
    var round = 0
    while (round < KvAmpPeriods * every ||
           (traced && (round % every != 0 || (round / every) % 2 == 1)) ||
           System.nanoTime() < deadline) {
      if (round % every == 0) setTracing(tracedRound(round / every))
      kv.cycle().foreach { case (op, st) =>
        val liveRuns = kv.liveRuns
        var df: DataFrame = null
        val (rec, res) = call(op, round, () => { df = st.build(); df }, st.run)
        rec("ok") = !rec.contains("error") && st.check(res)
        rec("live_runs") = liveRuns
        if (tracing && op == "get" && df != null)
          rec("files_scanned") = df.inputFiles.length
        samples += rec
      }
      round += 1
      if (round == KvAmpPeriods * every) kvAmp = Map(
        "user_bytes" -> kv.rowsAppended * graft.kv.Wal.PayloadBytes,
        "bytes_written" -> kv.bytesWritten, "compact_bytes" -> kv.compactBytes,
        "disk_bytes" -> kv.diskBytes, "live_bytes" -> kv.liveBytes)
    }
    setTracing(false)
  }

  private def tracedRound(i: Int): Boolean = traced && (i % 4 == 1 || i % 4 == 2)

  /** Attach or detach the listener between rounds. Before detaching,
    * wait until the listener has seen every event of the traced round. */
  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    val sc = spark.sparkContext
    if (on) sc.addSparkListener(tracer)
    else { tracer.await(sc); sc.removeSparkListener(tracer) }
    tracing = on
  }

  /** Fold the listener's records into each traced sample and emit
    * the op, phase, job and stage spans. */
  private def collectTrace(): Unit = if (traced) {
    val t = tracer
    samples.filter(_("traced") == true).foreach { rec =>
      val id = rec("id").asInstanceOf[Long]
      val execWall = rec.get("exec_s").fold(0.0)(_.asInstanceOf[Double])
      val execStart = rec.get("exec_start_ms").fold(0L)(_.asInstanceOf[Long])
      val (summary, jobSpans) = t.summarize(id, execStart, execWall)
      rec ++= summary
      spans += (rec.toMap + ("span" -> "op"))
      var at = rec("start_ms").asInstanceOf[Long].toDouble
      Seq("construct", "analyze", "optimize", "physical", "exec").foreach { p =>
        rec.get(s"${p}_s").foreach { d =>
          val dur = d.asInstanceOf[Double]
          spans += Map("span" -> p, "parent" -> id, "start_ms" -> at, "dur_s" -> dur)
          at += dur * 1e3
        }
      }
      spans ++= jobSpans
    }
  }

  def execute(): Map[String, Any] = {
    val setupRec = setup()
    val floorS = floor()
    val refs = if (workload == "kv_ingest") Map.empty[String, Map[String, Any]] else references()
    val extra = mutable.LinkedHashMap[String, Any]()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    if (workload == "kv_ingest") {
      val warmRows = kv.rowsAppended
      kvLoop(end)
      val reopenOk = kv.reopenCheck()
      extra("kv") = kvAmp ++ Map("rows_appended" -> (kv.rowsAppended - warmRows),
        "live_keys" -> kv.model.values.count(!_._2), "reopen_ok" -> reopenOk)
      if (traced) {
        val (enc, dec) = Kernels.wal(kv.appendedRecords.take(KvIngest.BatchRows * 4).toSeq, 0.1)
        extra("wal") = Map("encode_mb_per_s" -> enc, "decode_mb_per_s" -> dec)
      }
      graft.sources.LocalDir.deleteRecursively(new File(s"$work/kv"))
    } else queryLoop(end, refs)
    val loopS = (System.nanoTime() - t0) / 1e9
    collectTrace()
    if (traced) {
      val (rates, inputs) = Kernels.functions(spark, dataDir, 0.08)
      extra("kernels") = rates
      extra("kernel_inputs") = inputs
    }
    traceFile.foreach { f =>
      Files.writeString(Paths.get(f), spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    }
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "host" -> Map("floor_s" -> floorS,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION),
      "setup" -> setupRec, "loop_s" -> loopS,
      "samples" -> samples.map(_.toMap),
      "verify" -> refs.values.toSeq,
      // mean whole-stage codegen compile time, from Spark's codegen
      // histogram; codegen_compiles per sample times this estimates
      // compile time per op
      "codegen_mean_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
      "rss_peak_mb" -> vmHwmMb) ++ extra
    spark.stop()
    out
  }
}
